package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated tables for the `batch` workload, with the schemas and value
  * domains of the engine's TPC-H-ish test tables that the batch queries
  * read (lineitem, orders, documents, embeddings). Every value is a hash of the
  * row id and a column salt, so the tables are identical on every run
  * and for every partitioning; the stored result fingerprints depend on
  * that. Each table is written as ONE parquet file named
  * `<table>.parquet`, the layout the engine's queries and the DuckDB
  * oracles both read.
  */
object BatchData {

  /** Scale relative to TPC-H sf 1 (lineitem = 6M rows × sf). */
  val Scale = 0.01

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def mod(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (mod(salt, xs.size.toLong) + 1).cast("int"))
  private def day(salt: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), mod(salt, days.toLong).cast("int"))
      .cast("timestamp_ntz")

  val DocWords: Seq[String] = Seq("a", "agg", "batch", "big", "column", "data",
    "fast", "filter", "group", "hash", "index", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window")

  def tables(s: SparkSession, sf: Double = Scale): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, (base * sf).toLong)
    val nOrders = n(1500000)
    val nPart = n(200000)
    val lineitem = s.range(n(6000000)).select(
      mod(1, nOrders).as("l_orderkey"),
      mod(2, nPart).as("l_partkey"),
      mod(3, n(10000)).as("l_suppkey"),
      (mod(4, 7) + 1).cast("int").as("l_linenumber"),
      (mod(5, 50) + 1).cast("double").as("l_quantity"),
      ((mod(6, 10409924L) + 90068) / 100.0).as("l_extendedprice"),
      (mod(7, 11) / 100.0).as("l_discount"),
      (mod(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate"))
    val orders = s.range(nOrders).select(
      col("id").as("o_orderkey"),
      mod(21, n(150000)).as("o_custkey"),
      pick(22, Seq("F", "O", "P")).as("o_orderstatus"),
      ((mod(23, 49899128L) + 100191) / 100.0).as("o_totalprice"),
      day(24, "1995-01-01", 2404).as("o_orderdate"),
      pick(25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    // one document in eight re-draws an earlier one's words (its `src`)
    // with about one word in twenty replaced: the near-duplicates the
    // dedup queries exist to find
    val vocab = array(DocWords.map(lit): _*)
    def word(seed: Column, i: Column, salt: Int): Column =
      element_at(vocab, (pmod(xxhash64(seed, i, lit(salt)),
        lit(DocWords.size.toLong)) + 1).cast("int"))
    val documents = s.range(n(50000))
      .withColumn("src", when(mod(54, 8) === 0,
        greatest(lit(0L), col("id") - 1 - mod(55, 40))).otherwise(col("id")))
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), (pmod(xxhash64(col("src"), lit(51)), lit(88L)) + 8).cast("int")),
        i => when(col("src") =!= col("id") &&
            pmod(xxhash64(col("id"), i, lit(56)), lit(20L)) === 0,
            word(col("id"), i, 57))
          .otherwise(word(col("src"), i, 52)))))
      .select(
        col("id").as("doc_id"),
        col("text"),
        pick(53, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val embeddings = s.range(n(20000))
      .withColumn("label", mod(61, 10).cast("int"))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("label"), j, lit(62)), lit(2001L)) - 1000) / 5000.0 +
            (pmod(xxhash64(col("id"), j, lit(63)), lit(2001L)) - 1000) / 10000.0)
            .cast("float")).as("embedding"),
        col("label"))
    Seq("lineitem" -> lineitem, "orders" -> orders, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes every table to `dir/<table>.parquet` (a single file each). */
  def write(s: SparkSession, dir: File, sf: Double = Scale): Unit =
    tables(s, sf).foreach { case (name, df) =>
      val tmp = new File(dir, s"_$name")
      // generated in parallel, gathered into one file
      df.repartition(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
}
