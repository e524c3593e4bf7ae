package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.{Caches, SparkEntry}

/** `batch`: passes over a fixed list of read-only gate queries on the
  * generated [[BatchData]] tables, with `Caches.clearPersisted()` after
  * each query as the engine's own sweep does. Each pass runs the list in
  * a seeded order; results must not depend on it.
  *
  * The list follows one rule: the queries the engine's open work on
  * iteration state, measured-size gates and memos targets — the
  * iterative graph loops, the k-means family, the measured-size
  * Stats/agg gates, the two basket-mining queries, and read-only memo
  * consumers from dedup and search. No query that writes files is in it.
  */
object Batch {
  val Queries: Seq[String] = Seq(
    "graph_pagerank", "ml_kmeans", "agg_exact_quantiles", "stats_kendall_tau",
    "orders_itemsets3", "dedup_minhash", "search_pruned_topk")

  /** The engine family a query belongs to, for the `ext.*_s` sums. */
  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "graph" => "graph"
    case "ml" => "ml"
    case "agg" | "stats" => "stats"
    case "orders" => "mining"
    case "dedup" => "dedup"
    case "search" => "search"
  }

  /** Order-sensitive digest of a result: row count and SHA-256 over the
    * rows' string forms in the order the query returns them (every gate
    * query ends in an ORDER BY over a unique key).
    */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  def readFingerprints(f: File): Map[String, String] =
    Files.readAllLines(f.toPath).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\t"); q -> fp }.toMap

  final case class Exec(query: String, pass: Int, id: Long, ms: Double,
      fp: Option[String], error: Option[String])

  /** Runs query `q` once, then `Caches.clearPersisted()` unless `clear`
    * is off; never throws.
    */
  def execute(ctx: Ctx, dir: File, q: String, pass: Int, id: Long,
      traced: Boolean, clear: Boolean = true): Exec = {
    val s = ctx.spark
    val tr = ctx.tracer
    tr.setOp(id, traced)
    s.sparkContext.setLocalProperty(Meter.OpKey, id.toString)
    val t0 = System.nanoTime()
    val res = try tr.span("op") {
      val df: DataFrame = tr.span(s"ext.${family(q)}")(SparkEntry.queries(q)(s, dir.getPath))
      tr.span("session.plan")(df.queryExecution.executedPlan)
      Right(tr.span("session.exec")(df.collect()))
    } catch { case e: Throwable => Left(s"$q: ${e.getClass.getName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    if (clear) tr.span("caches.clear")(Caches.clearPersisted())
    s.sparkContext.setLocalProperty(Meter.OpKey, null)
    Exec(q, pass, id, ms, res.toOption.map(fingerprint), res.left.toOption)
  }

  def run(ctx: Ctx, stored: Map[String, String]): Outcome = {
    ctx.tracer.setOp(-1)
    val data = new File(ctx.scratch, "tables")
    data.mkdirs()
    BatchData.write(ctx.spark, data)
    System.err.println(f"[perfbench] batch: tables written at ${Main.sinceJvmStart()}%.1f s")
    // warm-up: every query once, so codegen, JIT and the session memos
    // the queries share (co-purchase edges, built indexes, shingles) are
    // done before the first timed query. The first runs are mostly
    // single-threaded driver work (analysis, Janino), so they run
    // `cores` at a time; persisted frames are cleared once at the end,
    // since clearing drops pinned checkpoints another query still reads.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val warm = try {
      Queries.zipWithIndex.map { case (q, i) =>
        pool.submit(new java.util.concurrent.Callable[Exec] {
          override def call(): Exec =
            execute(ctx, data, q, -1, -1 - i, traced = false, clear = false)
        })
      }.map(_.get())
    } finally pool.shutdown()
    Caches.clearPersisted()
    warm.foreach { e =>
      System.err.println(f"[perfbench]   warm-up ${e.query}%-28s ${e.ms}%8.0f ms${e.error.fold("")(" " + _)}")
    }
    val warmErrors = warm.flatMap(_.error)
    val setupS = Main.sinceJvmStart()
    val ph0 = ctx.meter.map { m => m.drain(); m.phaseTotals() }
    val gc0 = Meter.gcMs()
    val cg0 = Meter.codegenCompiles()
    val stop = System.nanoTime() + ctx.seconds * 1000000000L
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    var pass = 0
    // at least three passes: each query's median then spans three
    // orders, since a query's time depends on which queries ran before it
    while (pass < 3 || System.nanoTime() < stop) {
      val rng = new scala.util.Random(ctx.seed * 1000 + pass)
      rng.shuffle(Queries).foreach { q =>
        val id = execs.size.toLong
        execs += execute(ctx, data, q, pass, id, traced = ctx.traced && pass % 2 == 0)
      }
      pass += 1
    }
    val gcMs = Meter.gcMs() - gc0
    val compiles = Meter.codegenCompiles() - cg0
    val mismatches = execs.toSeq.flatMap { e =>
      (e.fp, stored.get(e.query)) match {
        case (Some(got), Some(want)) if got != want =>
          Some(s"batch ${e.query} pass ${e.pass}: fingerprint $got, stored $want")
        case (Some(_), None) => Some(s"batch ${e.query}: no stored fingerprint")
        case _ => None
      }
    }
    val ok = execs.filter(_.error.isEmpty).toSeq
    val perQuery = ok.groupBy(_.query).map { case (q, es) => q -> Stat.median(es.map(_.ms)) }
    val qs = perQuery.values.toSeq
    val totalS = qs.sum / 1000
    // the batch job's unit of work is a pass: its median is over pass wall
    // times; the geometric mean is over per-query medians so one heavy
    // query cannot hide the rest
    val passMs = ok.groupBy(_.pass).values.map(_.map(_.ms).sum).toSeq
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("p50_ms", Stat.median(passMs), "ms"),
      Metric("geomean_ms", Stat.geomean(qs), "ms"),
      Metric("ops_per_s", qs.size / math.max(totalS, 1e-9), "1/s"))
    System.err.println(f"[perfbench] batch: $pass passes of ${Queries.size} queries, " +
      f"total $totalS%.2f s per pass (sum of per-query medians)")
    perQuery.toSeq.sortBy(-_._2).foreach { case (q, ms) =>
      System.err.println(f"[perfbench]   $q%-30s $ms%9.1f ms")
    }
    val metrics =
      if (!ctx.traced) e2e
      else Layers.complete(layers(ctx, ok, perQuery, ph0.get, gcMs, compiles))
    Outcome(execs.size, execs.count(_.error.nonEmpty),
      mismatches ++ warmErrors ++ execs.flatMap(_.error), metrics)
  }

  private def layers(ctx: Ctx, ok: Seq[Exec], perQuery: Map[String, Double],
      ph0: Phases, gcMs: Long, compiles: Long): Seq[Metric] = {
    val m = ctx.meter.get
    m.drain()
    val ph = m.phaseTotals()
    val passes = ok.map(_.pass).distinct.size.max(1).toDouble
    val traced = ok.filter(e => e.pass % 2 == 0)
    val untraced = ok.filter(e => e.pass % 2 == 1)
    def perPass(f: Counts => Long): Double =
      ok.map(e => f(m.countsOf(e.id.toString))).sum / passes
    val families = Seq("graph", "ml", "stats", "mining", "dedup", "search")
    val planMs = (ph.analysisMs + ph.optimizationMs + ph.planningMs -
      ph0.analysisMs - ph0.optimizationMs - ph0.planningMs) / passes
    val taskMs = perPass(_.taskMs)
    val totalMs = perQuery.values.sum
    def overhead: Double = {
      if (untraced.isEmpty) 0.0
      else {
        val t = Stat.median(traced.map(_.ms)); val u = Stat.median(untraced.map(_.ms))
        100.0 * (t - u) / math.max(u, 1e-9)
      }
    }
    families.map { f =>
      Metric(s"ext.${f}_s", perQuery.filter(kv => family(kv._1) == f).values.sum / 1000, "s")
    } ++ Seq(
      Metric("session.analysis_ms", (ph.analysisMs - ph0.analysisMs) / passes, "ms"),
      Metric("session.optimization_ms", (ph.optimizationMs - ph0.optimizationMs) / passes, "ms"),
      Metric("session.planning_ms", (ph.planningMs - ph0.planningMs) / passes, "ms"),
      Metric("session.jobs", perPass(_.jobs), "count"),
      Metric("session.stages", perPass(_.stages), "count"),
      Metric("session.tasks", perPass(_.tasks), "count"),
      Metric("session.task_ms", taskMs, "ms"),
      Metric("session.residual_ms", totalMs - planMs - taskMs / ctx.cores, "ms"),
      Metric("session.shuffle_bytes", perPass(_.shuffleBytes), "B"),
      Metric("session.spill_bytes", perPass(_.spillBytes), "B"),
      Metric("session.codegen_compiles", compiles.toDouble, "count"),
      Metric("session.gc_ms", gcMs.toDouble, "ms"),
      Metric("trace.overhead_pct", overhead, "%")
    ) ++ Layers.caches(ctx) ++
      Layers.selfTimes(ctx.tracer.selfMsByLayer, traced.map(_.pass).distinct.size.max(1))
  }
}
