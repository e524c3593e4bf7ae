package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{Caches, SparkEntry}

/** Records the `batch` workload's expected results, for the DuckDB oracle
  * check. `BatchDump <dir>` writes:
  *  - `<dir>/data/<table>.parquet`: the generated [[BatchData]] tables;
  *  - `<dir>/out/<query>/`: each query's result as Parquet;
  *  - `<dir>/out/oracle_sql.json`: each query's oracle SQL, its table
  *    paths pointed at `<dir>/data`;
  *  - `<dir>/batch_fingerprints.tsv`: the fingerprints the workload checks.
  * Then `python3 tools/selfcheck.py <dir>/data <dir>/out` compares every
  * result with its oracle; when all match, the fingerprint file is the one
  * to store as `perfbench/batch_fingerprints.tsv`.
  */
object BatchDump {
  private val TablePath = """read_parquet\('[^']*/(\w+)\.parquet'\)""".r

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: BatchDump <dir>")
    val dir = new File(args(0))
    val data = new File(dir, "data")
    val out = new File(dir, "out")
    data.mkdirs(); out.mkdirs()
    val spark = graft.GraftSession.local(graft.GraftSession.coresFromEnv())
    BatchData.write(spark, data)
    val fps = Batch.Queries.map { q =>
      val df = SparkEntry.queries(q)(spark, data.getPath)
      val fp = Batch.fingerprint(df.collect())
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, q).getPath)
      Caches.clearPersisted()
      System.err.println(s"[perfbench] $q $fp")
      s"$q\t$fp"
    }
    val oracles = Batch.Queries.map { q =>
      q -> TablePath.replaceAllIn(SparkEntry.oracleSql(q),
        m => java.util.regex.Matcher.quoteReplacement(
          s"read_parquet('${data.getAbsolutePath}/${m.group(1)}.parquet')"))
    }.toMap.asJava
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracles))
    Files.write(new File(dir, "batch_fingerprints.tsv").toPath,
      (s"# query\trows:sha256 (perfbench.BatchDump, BatchData scale ${BatchData.Scale})" +: fps).asJava)
    spark.stop()
  }
}
