package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-comparison statistics over integer-valued columns —
  * the drift/QA faces a curation pipeline runs when a new source or
  * release "looks different": text_source_divergence covers token
  * Jensen-Shannon; this covers the ORDERED-domain question (are these
  * two length/score distributions the same?) with the two-sample
  * Kolmogorov-Smirnov test.
  *
  * Scale & determinism: the statistic needs the two empirical CDFs at
  * every distinct value — ONE hash aggregate to the value-DOMAIN-
  * bounded (value, count_a, count_b) table, then a [[PrefixSum]]
  * two-phase scan for the cumulative counts. Every CDF operand is an
  * exact integer ratio and the final comparison/threshold arithmetic
  * is single-operation IEEE (sqrt is correctly rounded by the
  * standard), so D, its argmax location, and the reject decision are
  * bit-deterministic across engines with NO pin-dependence — the pins
  * on the output are cosmetic rounding only.
  */
object Stats {

  /** EXACT quantiles of an integer-valued column with NO global sort —
    * the scale-right complement of `approx_percentile`
    * (a5_percentiles): reduce N rows to the distinct-value count table
    * (bounded by the VALUE DOMAIN, not by N), [[PrefixSum]]-scan it,
    * and each requested quantile is the smallest v whose cumulative
    * count reaches its rank (the inverse-CDF / type-1 definition,
    * `quantile_disc`). Ranks are EXACT integer ceilings of p·N from
    * rational p (num/den literals) — no float ever touches the
    * answer, so the result is bit-deterministic at any N.
    *
    * `quantiles`: (label, num, den) with 0 < num ≤ den. Output:
    * (p = label, rank, value), ordered by p.
    */
  def exactQuantiles(values: DataFrame,
      quantiles: Seq[(String, Long, Long)],
      bucketSize: Long = 131072L): DataFrame =
    exactQuantilesFromCounts(
      values.groupBy(col("v")).agg(count(lit(1)).as("c")),
      quantiles, bucketSize)

  /** [[exactQuantiles]] starting from a PRE-AGGREGATED (v, c) count
    * table — the entry point for callers that already maintain the
    * distinct-value counts (a streaming Complete-mode aggregate keeps
    * exactly this state, domain-bounded, and its post-completion
    * quantile read IS this method — the stream ≡ batch equality is
    * then count-table equality, which micro-batching cannot break).
    */
  def exactQuantilesFromCounts(per0: DataFrame,
      quantiles: Seq[(String, Long, Long)],
      bucketSize: Long = 131072L): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(quantiles.forall { case (_, n, d) => n > 0 && n <= d },
      "quantiles must satisfy 0 < num <= den")
    val spark = per0.sparkSession
    import spark.implicits._
    // EAGER cut: the count table is read by four downstream branches
    // (scan's window + its bucket ledger, the total, the rank join) —
    // a lazy persist lets every branch recompute the possibly-
    // expensive upstream pipeline before the cache fills (measured 4×
    // on the bootstrap feed). One tiny count() job materializes the
    // DOMAIN-bounded table once; everything below reads the cache.
    val perP = graft.Caches.persist(per0)
    // the eager count doubles as a MEASURED parallelism decision (r18,
    // guide §2.2): the count table is DOMAIN-bounded and usually tiny,
    // and fanning its scan/window/ledger stages over the full shuffle
    // parallelism paid ~150 ms of fixed per-task cost × 32 tasks × ~10
    // stages for KB-scale work (the agg_mad_exact StageProfile). At or
    // under 256k domain rows the whole quantile pipeline runs
    // single-task on the cached blocks; larger domains keep full
    // fan-out. Exact integer arithmetic — values unchanged either way.
    val n = perP.count()
    val per = if (graft.Caches.singleTask(n)) perP.coalesce(1) else perP
    val cum = PrefixSum.scan(per, "v", Seq("c"), bucketSize)
    val tot = per.agg(sum("c").as("n"))
    val qs = quantiles.toDF("p", "num", "den")
    // rank = ceil(num·N / den) in pure integer arithmetic (`div`, not
    // `/` — Column./ on longs is DOUBLE division, which loses exactness
    // past 2^53 and would make the rank engine-dependent at scale)
    val ranks = qs.crossJoin(broadcast(tot))
      .select(col("p"),
        expr("(num * n + den - 1) div den").cast("long").as("rank"))
    cum.crossJoin(broadcast(ranks))
      .filter(col("cum_c") >= col("rank"))
      .groupBy("p", "rank")
      .agg(min("v").as("value"))
      .orderBy("p")
  }

  /** [[exactQuantiles]] per group — the grouped face a partitioned
    * window CANNOT provide at scale (a window partitioned by a
    * low-cardinality group still funnels each group's N rows through
    * one task; the [[PrefixSum.scanBy]] construction keeps per-task
    * state bounded by buckets). `values`: (g, v LONG). Output:
    * (g, p, rank, value), ordered.
    */
  def exactQuantilesBy(values: DataFrame,
      quantiles: Seq[(String, Long, Long)],
      bucketSize: Long = 131072L): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(quantiles.forall { case (_, n, d) => n > 0 && n <= d },
      "quantiles must satisfy 0 < num <= den")
    val spark = values.sparkSession
    import spark.implicits._
    // same eager cut as exactQuantilesFromCounts: four branches read
    // the bounded count table
    val perP = graft.Caches.persist(
      values.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    // measured single-task decision — see exactQuantilesFromCounts
    val n = perP.count()
    val per = if (graft.Caches.singleTask(n)) perP.coalesce(1) else perP
    val cum = PrefixSum.scanBy(per, Seq("g"), "v", Seq("c"), bucketSize)
    val tot = per.groupBy("g").agg(sum("c").as("n"))
    val qs = quantiles.toDF("p", "num", "den")
    val ranks = tot.crossJoin(broadcast(qs))
      .select(col("g"), col("p"),
        expr("(num * n + den - 1) div den").cast("long").as("rank"))
    cum.join(broadcast(ranks), Seq("g"))
      .filter(col("cum_c") >= col("rank"))
      .groupBy("g", "p", "rank")
      .agg(min("v").as("value"))
      .orderBy("g", "p")
  }

  /** Two-sample KS test. `values`: (v LONG — the observation,
    * grp BOOLEAN — true = sample A). Output one row:
    * (n_a, n_b, d_stat 6dp, at_value = first v attaining D,
    * crit_05 6dp = 1.358·√((n_a+n_b)/(n_a·n_b)), reject_05).
    */
  def ksTest(values: DataFrame, bucketSize: Long = 4096): DataFrame = {
    // eager cut (see exactQuantilesFromCounts): the N-sized aggregate
    // feeds the scan, its ledger, and the totals
    val perP = graft.Caches.persist(values
      .groupBy(col("v"))
      .agg(sum(when(col("grp"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp"), 0L).otherwise(1L)).as("cb")))
    // measured single-task decision — see exactQuantilesFromCounts
    val nk = perP.count()
    val per = if (graft.Caches.singleTask(nk)) perP.coalesce(1) else perP
    val cum = PrefixSum.scan(per, "v", Seq("ca", "cb"), bucketSize)
    val tot = per.agg(sum("ca").as("na"), sum("cb").as("nb"))
    // |F_a(v) − F_b(v)| from exact integer ratios — deterministic
    val dv = graft.Caches.persist(cum.crossJoin(broadcast(tot))
      .select(col("v"),
        abs(col("cum_ca").cast("double") / col("na").cast("double") -
          col("cum_cb").cast("double") / col("nb").cast("double")).as("dv")))
    val mx = dv.agg(max("dv").as("d_raw"))
    val at = dv.crossJoin(broadcast(mx))
      .filter(col("dv") === col("d_raw"))
      .agg(min("v").as("at_value"))
    val crit = sqrt((col("na") + col("nb")).cast("double") /
      (col("na") * col("nb")).cast("double")) * lit(1.358)
    mx.crossJoin(broadcast(at)).crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        round(col("d_raw"), 6).as("d_stat"),
        col("at_value"),
        round(crit, 6).as("crit_05"),
        (col("d_raw") > crit).as("reject_05"))
  }

  /** Two-sample Mann-Whitney U (Wilcoxon rank-sum) with the mid-rank
    * tie convention — the nonparametric twin of the z-test: rank-based,
    * so one extreme outlier moves U by at most one rank, not
    * arbitrarily. `values`: (v LONG — the observation, arm INT —
    * 0 = control, 1 = treatment).
    *
    * Sort-free at scale: U₁ needs, for every distinct value, how many
    * CONTROL observations are strictly below it — a prefix sum over
    * the bounded distinct-value domain, the exact shape
    * [[exactQuantiles]]/[[ksTest]] already run through [[PrefixSum]],
    * never a global rank() over N rows. All accumulations are exact
    * integers (2·U₁ is summed, so mid-ranks never introduce a .5
    * float); the normal approximation with the standard tie
    * correction  Var U = n₀n₁/12·[(n+1) − Σ(t³−t)/(n(n−1))]
    * (Lehmann, "Nonparametrics", §1.4) is then fixed-shape double
    * arithmetic on those integers — deterministic across engines.
    * Output one row: (n_control, n_treatment, u_stat, z_score 4dp,
    * significant at α=0.05 two-sided).
    */
  def mannWhitneyU(values: DataFrame, bucketSize: Long = 4096): DataFrame = {
    val perP = graft.Caches.persist(values
      .groupBy(col("v"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1")))
    // measured single-task decision — see exactQuantilesFromCounts
    val nk = perP.count()
    val per = if (graft.Caches.singleTask(nk)) perP.coalesce(1) else perP
    val cum = PrefixSum.scan(per, "v", Seq("c0"), bucketSize)
    // cum_c0 is inclusive; strictly-below control count = cum_c0 − c0;
    // 2·U₁ = Σ_v c1·(2·below + c0) keeps the tie half-credit integral
    val t = col("c0") + col("c1")
    val a = cum.agg(
      sum(col("c1") * (lit(2L) * (col("cum_c0") - col("c0")) + col("c0")))
        .as("u2"),
      sum("c0").as("n0"), sum("c1").as("n1"),
      sum(t * t * t - t).as("tsum"))
    val n0d = col("n0").cast("double")
    val n1d = col("n1").cast("double")
    val nd = (col("n0") + col("n1")).cast("double")
    val u1 = col("u2").cast("double") / lit(2.0)
    val varU = n0d * n1d / lit(12.0) * ((nd + lit(1.0)) -
      col("tsum").cast("double") / (nd * (nd - lit(1.0))))
    val z = (u1 - n0d * n1d / lit(2.0)) / sqrt(varU)
    // degenerate inputs (an empty arm, or every observation one tied
    // value) zero the variance term → 0/0 = NaN; emit null instead of
    // silently propagating NaN (r11 ADVICE) — valid inputs unchanged
    val zSafe = when(col("n0") > 0 && col("n1") > 0 && varU > 0,
      round(z, 4))
    a.select(col("n0").as("n_control"), col("n1").as("n_treatment"),
      u1.as("u_stat"), zSafe.as("z_score"))
      .withColumn("significant", abs(col("z_score")) > lit(1.96))
  }
}
