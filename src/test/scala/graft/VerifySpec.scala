package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Verify.dump]]: a query that throws is reported as failed and the
  * dump carries on with the rest.
  */
class VerifySpec extends SparkSpec {

  test("a throwing query is returned as failed and the others are still written") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "a_ok" -> ((s, _) => s.range(3).toDF("id")),
      "b_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      "c_ok" -> ((s, _) => s.range(2).toDF("id")))
    val failed = Verify.dump(spark, "/unused", out, queries)
    assert(failed.map { case (n, e) => n -> e.getClass } ==
      Seq("b_throws" -> classOf[IllegalStateException]))
    assert(spark.read.parquet(s"$out/a_ok").count() == 3)
    assert(spark.read.parquet(s"$out/c_ok").count() == 2)
    assert(!new java.io.File(s"$out/b_throws").exists())
  }
}
