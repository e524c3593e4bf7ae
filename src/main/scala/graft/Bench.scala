package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headline benchmark (driver contract): runs every gate query on
  * SPARK_GRAFT_SF_DIR and prints machine-parseable JSON.
  *
  * Evidence shape (r3 VERDICT "Next round" #1): the per-query dict is a
  * LONG line, and the driver's tail capture truncates long lines as the
  * query count grows — r3's headline total was unrecoverable from the
  * artifact. So the total is now printed LAST, on its own short line,
  * after the per-query line; and each query's number is the MEDIAN of
  * three timed repetitions (the machine is documented noisy: unchanged
  * plans swung >3x between rounds — single samples are not evidence).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // GraftSession carries the codegen-cache sizing that fixed this
    // sweep's 10–60x roving JIT stalls (see GraftSession scaladoc).
    val spark = GraftSession.local(GraftSession.coresFromEnv())
    // Warm the JVM (codegen, parquet reader) and page cache once so each
    // query's number measures the query, not first-touch session costs.
    Seq("lineitem", "orders", "customer", "part", "nation", "region",
      "documents", "embeddings", "events").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    warmup(spark, SparkEntry.queries)
    val cal = calibrate(spark, sfDir)
    val calMedian = cal.median
    val calJson = cal.json
    System.err.println(s"BENCH calibration $calJson")
    // Codegen-compilation forensics (r16 VERDICT #2): the r8
    // cache-thrash signature is scattered 10×+ spikes on untouched
    // plans in FULL sweeps only. Janino compilations during the timed
    // sweep are the direct discriminator: after warmup a query's
    // sources are cached (modulo first-touch sf-shape differences —
    // AQE can pick different physical plans at sf0.1 than the sf0.001
    // warmup), so a spike WITH a compile delta is eviction/recompile
    // (thrash) and a spike with zero delta is external load.
    // CodegenMetrics is Spark's own Codahale source; reading a
    // counter costs nothing.
    def codegenCompilations(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    // Progress trail on stderr (stdout stays the driver's parse target):
    // one line per query AS IT COMPLETES, with wall clock and in-sweep
    // position. This is what localizes a mid-sweep degradation — a
    // sum-of-medians total can't distinguish "every query 2x slower"
    // (machine) from "queries after #120 10x slower" (session-state).
    var pos = 0
    val sweepComps0 = codegenCompilations()
    val compDeltas = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val outcomes = SparkEntry.queries.map { case (name, fn) =>
      val c0 = codegenCompilations()
      // cache hygiene: each rep pays for (and then releases) its own
      // scoped persists AND its session memo builds, so a median is the
      // cost of the query with its memos, never a memo read
      val outcome = timeReps(reps, () => { fn(spark, sfDir).count(); () }, afterRep)
      val dComp = codegenCompilations() - c0
      if (dComp > 0) compDeltas(name) = dComp
      pos += 1
      outcome match {
        case Right(samples) =>
          val med = median(samples)
          System.err.println(f"BENCHQ $pos%3d ${java.time.LocalTime.now()} $name%-28s $med%8.3f s (min ${samples.head}%.3f max ${samples.last}%.3f) comps=$dComp")
          name -> Right(med) // median
        case Left(e) =>
          System.err.println(f"BENCHQ $pos%3d ${java.time.LocalTime.now()} $name%-28s FAILED ${e.getClass.getName}: ${e.getMessage}")
          name -> Left(e.getClass.getName)
      }
    }
    // a query that threw has no time: it is left out of the per-query
    // dict and the total, listed under "_failed", and fails the run
    val results = outcomes.collect { case (k, Right(v)) => k -> v }
    val failed = outcomes.collect { case (k, Left(c)) => k -> c }
    val sweepComps = codegenCompilations() - sweepComps0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query audit trail on disk (r7 VERDICT #3): the driver's
    // tail capture keeps only the last 2000 chars of stdout, which at
    // 185+ queries truncates the per-query dict to a ~third — making
    // cross-round regressions unauditable. The file always holds every
    // entry; sorted by name so round-over-round diffs are line-stable.
    val compJson = compDeltas.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.sortBy(_._1)
      .map { case (k, c) => s""""$k":"$c"""" }.mkString("{", ",", "}")
    val perQueryJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": $v""" }
      .mkString(s"""{\n  "_sf": "$sfDir",\n  "_reps": $reps,\n  "_total_sec": $total,\n  "_failed": $failedJson,\n  "_calibration": $calJson,\n  "_codegen_sweep_compilations": $sweepComps,\n  "_codegen_compilations_by_query": $compJson,\n""", ",\n", "\n}\n")
    try {
      // absolute WorkDir path (r9 ADVICE: a cwd-relative path lands the
      // audit trail wherever the launcher happened to cd)
      val out = java.nio.file.Paths.get(
        s"${SparkEntry.ReceiptsDir}/bench_per_query.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, perQueryJson.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench_per_query.json write failed: $e")
    }
    // Cross-round history ledger (r14 VERDICT #8): one APPENDED JSONL
    // row per run with the raw per-query medians AND the calibration
    // probe, so probe-normalized round-over-round comparison is
    // mechanical (raw_r(N)/raw_r(N-1) ÷ probe_r(N)/probe_r(N-1))
    // instead of hand-divided. Normalization limit (the r14 lesson):
    // the load multiplier is NOT uniform across queries — IO-bound
    // scans and CPU-bound aggs see different contention — so the probe
    // separates load drift from plan regressions only to ~2-3×;
    // residuals inside that band need an idle re-measure, not a vers
    // bisect. Rule documented in docs/PLANS.md "Bench calibration".
    // r15 VERDICT #8: consume the IO probe — every history row now
    // carries its own round-over-round ratios against the PREVIOUS row
    // at the same sf, normalized BOTH ways (raw ÷ cpu-probe drift and
    // raw ÷ io-probe drift), so a loaded-box round is diagnosable from
    // the ledger alone: cpu_norm ≈ io_norm ≈ 1 → plans unchanged under
    // load; io_norm ≪ raw → IO contention, not regression.
    val vsPrev: String = try {
      val histPath = java.nio.file.Paths.get(
        s"${SparkEntry.ReceiptsDir}/bench_history.jsonl")
      if (!java.nio.file.Files.exists(histPath)) "null"
      else {
        import scala.jdk.CollectionConverters._
        // parse the prior row as JSON (r16 ADVICE: first-match regexes
        // over the whole line break the moment any query or
        // calibration key shadows "probe"/"total" as a substring);
        // json4s-jackson ships with Spark — no new dependency
        import org.json4s._
        def num(v: JValue): Option[Double] = v match {
          case JDouble(d) => Some(d)
          case JInt(i) => Some(i.toDouble)
          case JDecimal(d) => Some(d.toDouble)
          case JLong(l) => Some(l.toDouble)
          case _ => None
        }
        java.nio.file.Files.readAllLines(histPath).asScala
          .filter(_.contains(s""""sf":"$sfDir""""))
          .lastOption.flatMap { prevLine =>
            val prev = org.json4s.jackson.JsonMethods.parse(prevLine)
            for {
              pProbe <- num(prev \ "probe")
              pIo <- num(prev \ "calibration" \ "io_documents_scan")
              pTotal <- num(prev \ "total")
              if pProbe > 0 && pIo > 0 && pTotal > 0
            } yield {
              val raw = total / pTotal
              s"""{"raw_ratio":$raw,"cpu_norm_ratio":${raw / (calMedian / pProbe)},"io_norm_ratio":${raw / (cal.io / pIo)}}"""
            }
          }.getOrElse("null")
      }
    } catch { case _: Throwable => "null" }
    try {
      val histRow = s"""{"ts":"${java.time.Instant.now()}","sf":"$sfDir","reps":$reps,"probe":$calMedian,"calibration":$calJson,"codegen_sweep_compilations":$sweepComps,"vs_prev":$vsPrev,"queries":$qs,"total":$total}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${SparkEntry.ReceiptsDir}/bench_history.jsonl"),
        histRow + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"bench_history.jsonl append failed: $e")
    }
    // Long line first (full contract incl. per-query medians), short
    // total line LAST so a tail capture always retains a parseable total.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","reps":$reps,"_calibration":$calJson,"queries":$qs,"value":$total}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","calibration":$calMedian}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"BENCH failed queries: $failedJson")
      sys.exit(1)
    }
  }

  /** The smallest scale factor: the warm-up pass and the calibration
    * probes run on it.
    */
  private val WarmDir = "/root/testdata/sf0.001"

  /** JIT/codegen warmup: one pass over `queries` at the smallest scale
    * factor (JMH-style warmup iteration). First executions are dominated
    * by one-time Janino compilation of each operator's generated code +
    * JIT of the interpreter paths — fixed session costs a long-lived
    * engine pays once, not per query. A query that throws here is left
    * to its timed runs. All warmup caches are dropped so the timed runs
    * do their own (sf-correct) work.
    */
  def warmup(spark: SparkSession,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit = {
    queries.foreach { case (_, fn) =>
      try fn(spark, WarmDir).count()
      catch { case _: Throwable => () }
      afterRep()
    }
    spark.catalog.clearCache()
  }

  /** Machine-state calibration: `probes` (median seconds of three FIXED
    * trivial workloads) and `io` (a scan of `sfDir`'s documents text).
    */
  final case class Calibration(probes: Map[String, Double], io: Double) {
    /** The median of the three probes; `io` is left out of it. */
    def median: Double = Bench.median(probes.values.toSeq.sorted)

    def json: String = probes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""\"$k\":$v""" }
      .mkString("{", ",", s""","io_documents_scan":$io,"median":$median}""")
  }

  /** Machine-state calibration probe (r10 VERDICT #1): two rounds in a
    * row the BENCH total was dominated by box load, not code — the
    * judge's spot re-times showed a near-uniform multiplier on queries
    * whose plans were untouched. The probe times three FIXED trivial
    * workloads at a FIXED scale factor (a 3-row literal DF, the tiny
    * corpus concat, a 5-row parquet read), each the median of 5 reps;
    * their median is a pure machine/session constant, so cross-round
    * totals divide by it to separate load drift from plan regressions
    * (rule in docs/PLANS.md "Bench calibration").
    *
    * The three trivial probes are CPU/session-shaped and under-measure
    * IO contention (the r14 lesson: zorder_cluster and tok_bpe_pairs —
    * the two widest scans — kept 2-4× residuals after dividing by the
    * probe while every CPU-bound query normalized into the noise band).
    * `io` scans the BENCH-SF documents text column end to end, so
    * IO-bound queries have a like-shaped divisor; it is EXCLUDED from
    * the legacy median, so cross-round division by it stays comparable
    * with r11-r14. A probe that throws aborts the run.
    */
  def calibrate(spark: SparkSession, sfDir: String): Calibration = {
    def probe(body: () => Unit): Double =
      timeReps(5, body, afterRep).fold(e => throw e, median)
    def query(name: String): () => Unit =
      () => { SparkEntry.queries(name)(spark, WarmDir).count(); () }
    val probes = Map(
      "s5_local_df" -> probe(query("s5_local_df")),
      "u4_concat_opinions" -> probe(query("u4_concat_opinions")),
      "parquet_region_read" ->
        probe(() => { spark.read.parquet(s"$WarmDir/region.parquet").count(); () }))
    val io = probe(() => {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("sum(length(text))").head(); ()
    })
    Calibration(probes, io)
  }

  /** The clean-up after every timed rep and warm-up run: drops the
    * query-scoped persists and pins, then every session memo (resolved
    * `tbl` scans, the built index, the shared checkpointed artifacts).
    * The next rep pays for its own memo builds, so every timing main
    * (`Bench`, `TimeQueries`, `ScaleBench`) measures a query with its
    * memos built, not a memo read.
    */
  private[graft] def afterRep(): Unit = {
    Caches.clearPersisted()
    SessionMemo.resetAll()
  }

  /** The median of sorted `samples` (the upper one of an even count). */
  private[graft] def median(samples: Seq[Double]): Double = samples(samples.size / 2)

  /** `reps` timed runs of `run` (seconds, sorted), each followed by
    * `after`. A run that throws ends the query: the result is its
    * exception, never a time.
    */
  private[graft] def timeReps(reps: Int, run: () => Unit,
      after: () => Unit): Either[Throwable, Seq[Double]] = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (samples.size < reps) {
      val t0 = System.nanoTime()
      val failure = try { run(); None } catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      after()
      failure match {
        case Some(e) => return Left(e)
        case None => samples += dt
      }
    }
    Right(samples.sorted.toSeq)
  }
}
