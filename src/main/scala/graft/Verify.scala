package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. Exits 1 after the dump if
  * any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [<query>…]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev subset: extra args name the only queries to dump
    // (and the only oracles written) — the driver passes exactly two
    // args, so its full-gate behavior is unchanged
    val only = args.drop(2).toSet
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val selectedOracles =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(only).toMap
    val spark = GraftSession.local(GraftSession.coresFromEnv())
    val failed = dump(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selectedOracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>` as Parquet and
    * returns the queries that threw, with their exceptions. A failure is
    * logged on stderr and the dump carries on with the next query.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[(String, Throwable)] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          Some(name -> e)
        }
      // cache hygiene: drop query-scoped persisted tables (shingle sets,
      // signatures) once the result is materialized
      Caches.clearPersisted()
      failure
    }
  }
}
