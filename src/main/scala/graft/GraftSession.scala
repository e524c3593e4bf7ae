package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the graft engine.
  *
  * Every harness main (Bench / Verify / TimeQueries / ScaleBench /
  * Explain / Smoke) and any embedding application needs the same session
  * settings, and the same core count ([[coresFromEnv]]); before this
  * factory each main hand-rolled its own copy and they drifted (one had
  * the UTC timezone, another didn't; the codegen-cache fix had to be
  * applied in four places). The settings and why they are not defaults:
  *
  *  - `spark.sql.shuffle.partitions` = cores: the local-mode guidance —
  *    Spark's 200 default assumes a multi-executor cluster; on a single
  *    JVM it just multiplies task-scheduling overhead. On a real cluster
  *    an embedder would size this to cluster parallelism instead (AQE
  *    coalescing then trims per-stage).
  *  - `spark.sql.codegen.cache.maxEntries` = 20000: the default
  *    100-entry codegen class cache thrashes once an application's live
  *    query surface exceeds it — each re-run then recompiles evicted
  *    sources into FRESH Janino classes and the JVM's C2 JIT starts
  *    over on the new class identities, which measured as roving
  *    10–60x interpreted-execution stalls across this repo's 195-query
  *    sweep (docs/PLANS.md round-8 forensics; 257 s → 64 s from the
  *    first raise to 5000). Raised 5000 → 20000 in r17: the Bench
  *    compilation counters showed 5193 Janino compiles DURING the
  *    timed sweep spread over 358 of 430 queries — the 430-query
  *    surface cycles more generated sources than 5000 holds, so the
  *    cache was evicting at steady state (the r16 driver-bench spike
  *    pattern's suspected mechanism). Sized ~4× the observed churn;
  *    cached classes are KBs each. Static conf — must be set before
  *    the first session.
  *  - `spark.sql.session.timeZone` = UTC: oracle parity — DuckDB
  *    computes date arithmetic in UTC.
  *  - `spark.sql.legacy.parquet.nanosAsLong` = true: the events fixture
  *    has shipped with TIMESTAMP(NANOS) `ts`, which Spark otherwise
  *    refuses to read; harmless when the fixture carries µs timestamps
  *    (EventStream.microsTs normalizes either shape).
  *  - UI off: headless harness.
  */
object GraftSession {

  /** The conf map, exposed for tests and for embedders who compose their
    * own builder (e.g. to add cluster-specific settings on top).
    */
  def confs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // NOT set: spark.sql.join.preferSortMergeJoin=false (guide §3.1/§9)
    // was TRIED in r17 and reverted — a 12-query A/B at sf0.1 plus a
    // stage breakdown of the heaviest join chain (graph_triangles' wedge
    // join, ~150 MiB of neighbor arrays through one exchange) showed
    // identical shuffle bytes and no wall-clock change: the planner's
    // SHJ size conditions never fire on these plans, so the flag only
    // added OOM risk for zero measured benefit (measure-first, §1).
    "spark.ui.enabled" -> "false")

  /** A `local[cores]` session with the engine's canonical settings —
    * what every harness main uses. `getOrCreate` semantics: if a session
    * already exists in the JVM, its static confs win (Spark logs a
    * warning); the harness mains each run in a fresh forked JVM.
    */
  def local(cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    confs(cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from the harness convention (`SPARK_GRAFT_CPUS`), else all
    * visible processors.
    */
  def coresFromEnv(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
