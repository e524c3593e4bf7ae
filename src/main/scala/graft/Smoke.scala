package graft

import org.apache.spark.sql.SparkSession

/** Tiny driver for manual end-to-end runs: executes the flagship
  * `SparkEntry.entry` (stemmed BM25 search with snippets at sf0.001) and
  * prints the result — the quickest way to see the engine answer a query.
  * Optional arg: a free-text query to search instead of the default.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.coresFromEnv())
    val df =
      if (args.nonEmpty)
        search.Search.topKWithSnippet(
          spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
          args.mkString(" "))
      else SparkEntry.entry(spark)
    df.show(20, truncate = 80)
    spark.stop()
  }
}
