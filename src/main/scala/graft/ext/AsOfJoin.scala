package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark has no built-in for
  * (builder brief: "when the reference has an operator Spark lacks …
  * compose existing ops if semantics allow"). For every left row, attach
  * the single nearest right row with the same key: the latest one with
  * `rightTime <= leftTime` ([[backward]] — the kdb/pandas/DuckDB default)
  * or the earliest one with `rightTime >= leftTime` ([[forward]]), with
  * an optional `tolerance` bound on the time distance — the two
  * parameters every production as-of API exposes (pandas `merge_asof`
  * direction/tolerance; DuckDB ASOF accepts either inequality).
  *
  * Implementation — the scalable composition, NOT a range cross-join:
  * tag both inputs, UNION them, and run one window pass per key ordered
  * by (time, side): `last(..., ignoreNulls)` carries the nearest
  * right-side row forward onto each left row. Cost is ONE shuffle
  * on the key plus a codegen'd window sort — the same shape as a sessionize,
  * and the standard big-data as-of plan (a banded/range join would shuffle
  * twice and still need per-band sorts). At equal timestamps the right row
  * is visible to the left row (ties sort right-before-left), matching the
  * `>=`/`<=` as-of conventions.
  *
  * Row integrity (r3 ADVICE): ALL carried columns plus `asof_time` travel
  * as ONE struct through a single `last(ignoreNulls)` — carrying each
  * column independently would let a right row with a NULL in one carried
  * column produce an output row stitched from DIFFERENT right rows,
  * diverging from pandas/DuckDB semantics (which attach the whole matched
  * row, nulls included).
  *
  * Determinism: callers must ensure at most one right row per
  * (key, rightTime) — pre-aggregate otherwise (see the asof_latest_order
  * query in [[graft.SparkEntry]]) — because every as-of implementation
  * (DuckDB included) picks arbitrarily among equal-time matches.
  *
  * Scale notes (100 TB): the shuffle moves (key, time, carried-cols) only;
  * heavily hot keys (one user with millions of events) skew the window
  * sort — [[backwardSalted]] removes that with a (key, time-bucket)
  * pre-pass + seed merge and is the shape to reach for when key
  * cardinality is low or skewed.
  */
object AsOfJoin {

  /** Latest right row at-or-before each left time. See [[asof]]. */
  def backward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      tolerance: Option[Long] = None): DataFrame =
    asof(left, right, key, leftTime, rightTime, carry, forward = false, tolerance)

  /** Earliest right row at-or-after each left time. See [[asof]]. */
  def forward(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      tolerance: Option[Long] = None): DataFrame =
    asof(left, right, key, leftTime, rightTime, carry, forward = true, tolerance)

  /** Nearest right row in EITHER direction (pandas
    * `merge_asof(direction='nearest')`, kdb `aj` nearest variants): the
    * backward and forward passes run independently (each the one-shuffle
    * union+window composition) and a final `leftId`-partitioned rank
    * keeps the closer match — tie at equal distance → the BACKWARD
    * (at-or-before) row, pandas' documented rule. `leftId` must uniquely
    * identify left rows (it partitions the arbitration window; per-id
    * state is ≤ 2 rows, so no hot-key concern regardless of key skew).
    * Inner semantics like [[backward]]/[[forward]]: left rows with no
    * match within tolerance in either direction are dropped.
    */
  def nearest(left: DataFrame, right: DataFrame, key: String, leftId: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      tolerance: Option[Long] = None): DataFrame = {
    // same fail-visibly rule as asof()'s __t/__side guards: the
    // arbitration working columns must not silently clobber caller data
    val reserved = Seq("asof_dir", "asof_dist", "asof_rn")
    val colliding = (left.columns ++ carry).filter(reserved.contains)
    require(colliding.isEmpty,
      s"nearest() reserves ${reserved.mkString("/")} internally; " +
        s"rename colliding column(s): ${colliding.mkString(", ")}")
    val b = backward(left, right, key, leftTime, rightTime, carry, tolerance)
      .withColumn("asof_dir", lit(0))
    val f = forward(left, right, key, leftTime, rightTime, carry, tolerance)
      .withColumn("asof_dir", lit(1))
    val w = Window.partitionBy(leftId)
      .orderBy(col("asof_dist").asc, col("asof_dir").asc)
    b.unionByName(f)
      .withColumn("asof_dist", abs(col(leftTime) - col("asof_time")))
      .withColumn("asof_rn", row_number().over(w))
      .filter(col("asof_rn") === 1)
      .drop("asof_rn", "asof_dist", "asof_dir")
  }

  /** @param left       left rows; all its columns are preserved
    * @param right      right rows; only `key`, `rightTime`, `carry` move
    * @param key        equi-join key column name (same name both sides)
    * @param leftTime   epoch-comparable (numeric) time column on `left`
    * @param rightTime  epoch-comparable (numeric) time column on `right`
    * @param carry      right columns to attach to each left row
    * @param forward    false → latest right at-or-before (backward);
    *                   true → earliest right at-or-after
    * @param tolerance  max |leftTime - asof_time| (same units as the time
    *                   columns); matches farther away are dropped (inner)
    * @return left rows (inner: only those with a match) plus, per carried
    *         column `c`, `c` from the matched right row, and `asof_time`
    *         = that row's `rightTime`
    */
  private def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      forward: Boolean, tolerance: Option[Long]): DataFrame = {
    val leftCols = left.columns.toSeq
    // fail fast: a carried column shadowing a left column would silently
    // null the left values during union padding
    val clash = carry.filter(leftCols.contains)
    require(clash.isEmpty,
      s"carry columns ${clash.mkString(", ")} collide with left columns — rename first")
    require(!carry.contains("asof_time") && !leftCols.contains("asof_time"),
      "asof_time is a reserved output column")
    // … and the internal working names are reserved too (r3 ADVICE): a
    // pre-existing __t/__side/__payload would be silently overwritten and
    // corrupt the union/window pass rather than failing visibly
    val reserved = Seq("__t", "__side", "__payload")
    val reservedHit = (leftCols ++ right.columns ++ carry).filter(reserved.contains)
    require(reservedHit.isEmpty,
      s"columns ${reservedHit.distinct.mkString(", ")} collide with as-of internals — rename first")

    // the matched right row travels as ONE struct: (rightTime, carry…)
    val l = left
      .withColumn("__t", col(leftTime).cast("long"))
      .withColumn("__side", lit(1))
      .withColumn("__payload",
        lit(null).cast(org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("asof_time",
            org.apache.spark.sql.types.LongType) +:
            carry.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))))
    val r0 = right
      .withColumn("__t", col(rightTime).cast("long"))
      .withColumn("__side", lit(0))
      .withColumn("__payload",
        struct((col("__t").as("asof_time") +: carry.map(col)): _*))
      .select(col(key), col("__t"), col("__side"), col("__payload"))
    val rPadded = leftCols.filterNot(_ == key)
      .foldLeft(r0)((df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val cols = leftCols :+ "__t" :+ "__side" :+ "__payload"
    val unioned = l.select(cols.map(col): _*)
      .unionByName(rPadded.select(cols.map(col): _*))

    // backward scans time ascending; forward scans descending — either
    // way the nearest right row is the last non-null payload seen, and at
    // equal times the right row sorts before the left row (>=/<= conventions)
    val tOrder = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy(key).orderBy(tOrder, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__payload", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__payload").isNotNull)
    val bounded = tolerance match {
      case Some(tol) =>
        val dist = if (forward) col("__payload")("asof_time") - col("__t")
        else col("__t") - col("__payload")("asof_time")
        matched.filter(dist <= tol)
      case None => matched
    }
    bounded.select(
      (leftCols.map(col) ++ carry.map(c => col("__payload")(c).as(c))
        :+ col("__payload")("asof_time").as("asof_time")): _*)
  }

  /** Hot-key-safe backward as-of: identical output to [[backward]], but
    * no window ever partitions by `key` alone over ROW-scale data — the
    * salt-by-(key, time-bucket) pre-pass + merge this file's scaladoc
    * used to defer to the Sessions precondition (r4 VERDICT #5).
    *
    * Decomposition (`bucket = floor(time / bucketWidth)`):
    *
    *  1. SEED pass — per (key, right-bucket) the latest right payload
    *     (`max_by`, a hash aggregate); then ONE window per key over the
    *     union of right-bucket summaries and distinct left buckets —
    *     O(time-range / bucketWidth) rows per key, independent of row
    *     count — carries the latest summary STRICTLY before each left
    *     bucket (the left marker sorts before same-bucket summaries, so
    *     in-bucket right rows are never double-seeded).
    *  2. WITHIN-BUCKET pass — the [[backward]] union+window shape, but
    *     partitioned by (key, bucket): each left bucket unions its own
    *     right rows plus its seed row (injected at the seed's REAL
    *     time, which precedes the bucket start), so `last(payload)`
    *     over (time, side) sees exactly the candidates `backward` sees.
    *
    * The match for any left row is the latest of {right rows in its own
    * bucket at-or-before t} ∪ {latest right row of any earlier bucket} —
    * by construction the same row [[backward]] attaches.
    *
    * @param bucketWidth bucket width in the time columns' units (e.g.
    *        epoch-micros → 86400e6 for daily); correctness never depends
    *        on it, only the summary-row count does
    */
  def backwardSalted(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, carry: Seq[String],
      bucketWidth: Long, tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val clash = carry.filter(leftCols.contains)
    require(clash.isEmpty,
      s"carry columns ${clash.mkString(", ")} collide with left columns — rename first")
    require(!carry.contains("asof_time") && !leftCols.contains("asof_time"),
      "asof_time is a reserved output column")
    val reserved = Seq("__t", "__b", "__side", "__payload", "__seed")
    val reservedHit = (leftCols ++ right.columns ++ carry).filter(reserved.contains)
    require(reservedHit.isEmpty,
      s"columns ${reservedHit.distinct.mkString(", ")} collide with as-of internals — rename first")
    require(bucketWidth > 0, "bucketWidth must be positive")

    def bucketOf(t: Column): Column =
      ((t - pmod(t, lit(bucketWidth))) / bucketWidth).cast("long")

    val payloadType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("asof_time",
        org.apache.spark.sql.types.LongType) +:
        carry.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))

    val r0 = right
      .withColumn("__t", col(rightTime).cast("long"))
      .withColumn("__b", bucketOf(col("__t")))
      .withColumn("__payload",
        struct((col("__t").as("asof_time") +: carry.map(col)): _*))
      .select(col(key), col("__t"), col("__b"), col("__payload"))
    val l0 = left
      .withColumn("__t", col(leftTime).cast("long"))
      .withColumn("__b", bucketOf(col("__t")))

    // ---- seed pass: latest right payload strictly before each left bucket
    val rsum = r0.groupBy(col(key), col("__b"))
      .agg(max_by(col("__payload"), col("__t")).as("__payload"))
      .withColumn("__side", lit(1))
    val lmark = l0.select(col(key), col("__b")).distinct()
      .withColumn("__payload", lit(null).cast(payloadType))
      .withColumn("__side", lit(0))
    val ws = Window.partitionBy(key)
      .orderBy(col("__b").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seeds = lmark.unionByName(rsum.select(lmark.columns.map(col): _*))
      .withColumn("__seed", last(col("__payload"), ignoreNulls = true).over(ws))
      .filter(col("__side") === 0 && col("__seed").isNotNull)
      .select(col(key), col("__b"), col("__seed"))

    // ---- within-bucket pass: backward()'s union+window, salted by bucket
    val lu = l0
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    val ruPadded = leftCols.filterNot(_ == key)
      .foldLeft(r0.withColumn("__side", lit(0)))(
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val seedRows = leftCols.filterNot(_ == key)
      .foldLeft(seeds
        .withColumn("__t", col("__seed")("asof_time").cast("long"))
        .withColumn("__side", lit(0))
        .withColumn("__payload", col("__seed").cast(payloadType)))(
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val cols = leftCols :+ "__t" :+ "__b" :+ "__side" :+ "__payload"
    val unioned = lu.select(cols.map(col): _*)
      .unionByName(ruPadded.select(cols.map(col): _*))
      .unionByName(seedRows.select(cols.map(col): _*))

    val w = Window.partitionBy(key, "__b")
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__payload", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__payload").isNotNull)
    val bounded = tolerance match {
      case Some(tol) => matched.filter(col("__t") - col("__payload")("asof_time") <= tol)
      case None => matched
    }
    bounded.select(
      (leftCols.map(col) ++ carry.map(c => col("__payload")(c).as(c))
        :+ col("__payload")("asof_time").as("asof_time")): _*)
  }
}
