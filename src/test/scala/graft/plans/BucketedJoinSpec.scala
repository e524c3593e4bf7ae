package graft.plans

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** The `sink_bucketed_join` contract: with both fact tables written
  * bucketed 8-ways on the join key, the sort-merge join itself plans NO
  * shuffle exchange — the storage layout carries the co-location (the
  * "pay the shuffle once at write time" pattern). Only the final
  * per-priority aggregation may exchange.
  *
  * AQE caveat: the final adaptive plan wraps exchanges in
  * `ShuffleQueryStageExec`, a LEAF node — `plan.collect { case e:
  * ShuffleExchangeExec => }` sees NOTHING and would pass vacuously.
  * Count occurrences in the final plan RENDERING instead, after
  * materializing.
  */
class BucketedJoinSpec extends SparkSpec {

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.count() // materialize so AQE finalizes
    "Exchange (hashpartitioning|SinglePartition|rangepartitioning)".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
  }

  test("bucketed fact-fact join plans without a join-side exchange") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("sink_bucketed_join")(spark, dir)
    // the per-priority aggregation (1 hash exchange) and the final
    // orderBy (1 range exchange) are the ONLY allowed shuffles; a
    // join-side exchange would add two more
    assert(shuffles(df) <= 2,
      s"expected only agg+sort exchanges:\n${df.queryExecution.executedPlan}")
    // negative control: the same join from raw (unbucketed) parquet DOES
    // shuffle both join sides — proving the counter sees exchanges
    val raw = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .hint("merge")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"))
    assert(shuffles(raw) >= 3, "control: unbucketed join must shuffle")
    // and the result equals the plain (shuffled) join from raw parquet
    val expect = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
    assert(df.collect().toSeq == expect.collect().toSeq)
  }

  test("admission-gate exact stage shuffles the batch side only") {
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.exactDupStage(spark, dir)
    // the corpus fingerprint side reads its standing bucketed layout —
    // the semi-join's ONLY exchange is the batch side's
    assert(shuffles(df) <= 1,
      s"expected only the batch-side exchange:\n${df.queryExecution.executedPlan}")
    // negative control: the same semi-join against an UNBUCKETED corpus
    // fingerprint set exchanges both sides
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val bucket = pmod(graft.ext.Dedup.md5Hash60(col("doc_id").cast("string")),
      lit(10L))
    val rawFp = d.filter(bucket =!= 0)
      .select(md5(col("text")).as("fingerprint")).distinct()
    val raw = d.filter(bucket === 0)
      .select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .hint("merge")
      .join(rawFp.hint("merge"), Seq("fingerprint"), "left_semi")
      .select(col("doc_id"))
    assert(shuffles(raw) >= 2, "control: unbucketed semi-join must shuffle both sides")
    // and the bucketed stage returns exactly the unbucketed stage's rows
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      raw.collect().map(_.getLong(0)).sorted.toSeq)
  }
}
