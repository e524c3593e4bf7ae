package perfbench

/** The per-layer metrics of a traced run. Every traced run prints all of
  * them; a layer a workload does not reach reports 0.
  */
object Layers {
  /** Layers whose benchmark-side span self time is reported per unit of
    * work. Not `index`: its spans are all in `serve`'s set-up, reported
    * as `index.*_ms`.
    */
  val SpanLayers: Seq[String] = Seq("op", "text", "search", "ext", "session",
    "caches")

  val Names: Seq[(String, String)] = Seq(
    "text.tokenize_us" -> "us",
    "search.build_ms" -> "ms", "search.plan_ms" -> "ms", "search.exec_ms" -> "ms",
    "search.unaccounted_ms" -> "ms",
    "search.postings" -> "count", "search.records_read" -> "count",
    "search.useful_ratio" -> "ratio",
    "serve.light_p50_ms" -> "ms",
    "session.analysis_ms" -> "ms", "session.optimization_ms" -> "ms",
    "session.planning_ms" -> "ms", "session.jobs" -> "count",
    "session.stages" -> "count", "session.tasks" -> "count",
    "session.task_ms" -> "ms", "session.residual_ms" -> "ms",
    "session.shuffle_bytes" -> "B", "session.spill_bytes" -> "B",
    "session.codegen_compiles" -> "count", "session.gc_ms" -> "ms",
    "index.read_ms" -> "ms", "index.flat_ms" -> "ms", "index.write_ms" -> "ms",
    "index.load_ms" -> "ms", "index.bytes_written" -> "B",
    "index.disk_ratio" -> "ratio", "index.tokens" -> "count",
    "index.terms" -> "count", "index.postings" -> "count",
    "ext.graph_s" -> "s", "ext.ml_s" -> "s", "ext.stats_s" -> "s",
    "ext.mining_s" -> "s", "ext.dedup_s" -> "s", "ext.search_s" -> "s",
    "caches.live_rdds" -> "count", "caches.storage_mb" -> "MB",
    "caches.clear_ms" -> "ms",
    "trace.overhead_pct" -> "%") ++
    SpanLayers.map(l => s"$l.self_ms" -> "ms")

  /** Self time of each span layer per traced unit of work (an op on
    * `serve`, a pass on `batch`).
    */
  def selfTimes(self: Map[String, Double], tracedUnits: Int): Seq[Metric] =
    SpanLayers.map(l => Metric(s"$l.self_ms", self.getOrElse(l, 0.0) / tracedUnits, "ms"))

  /** `ms` in the canonical order, with 0 for every metric not measured. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val byName = ms.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    Names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Storage held at the end of the measured phase, then the persistent
    * RDDs `Caches.clearPersisted()` leaves behind, and its duration. The
    * clear is timed without a span: it runs once, outside any op.
    */
  def caches(ctx: Ctx): Seq[Metric] = {
    val sc = ctx.spark.sparkContext
    val storage = Meter.storageMb(sc)
    val t0 = System.nanoTime()
    graft.Caches.clearPersisted()
    val clearMs = (System.nanoTime() - t0) / 1e6
    Seq(
      Metric("caches.storage_mb", storage, "MB"),
      Metric("caches.live_rdds", Meter.liveRdds(sc).toDouble, "count"),
      Metric("caches.clear_ms", clearMs, "ms"))
  }
}
