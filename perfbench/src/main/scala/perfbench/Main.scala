package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its inputs' seed, the time
  * budget of the measured phase, a private scratch directory, and the
  * observers (meter and tracer, live only in a traced run).
  */
final case class Ctx(
    spark: SparkSession,
    cores: Int,
    seed: Long,
    seconds: Int,
    scratch: File,
    tracer: Tracer,
    meter: Option[Meter]) {
  def traced: Boolean = tracer.enabled
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** A workload's outcome: ops attempted and failed, whether every output
  * check passed (with the reasons when not), and its metrics.
  */
final case class Outcome(attempted: Long, failed: Long, mismatches: Seq[String],
    metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0 && mismatches.isEmpty
}

/** Entry point: `--workload serve|batch --seed N --seconds S
  * --trace 0|1 --scratch DIR --fingerprints FILE [--trace-out FILE]`:
  * the stored batch result fingerprints, and where a traced run writes
  * its spans. Prints progress to stderr and, as the last
  * line of stdout, the JSON result; exits 1 when an op failed or an
  * output check did not pass.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val scratch = new File(need("scratch"))
    require(Set("serve", "batch")(workload), s"unknown workload $workload")
    require(seconds >= 1, "--seconds must be at least 1")
    scratch.mkdirs()

    val cores = graft.GraftSession.coresFromEnv()
    val spark = graft.GraftSession.local(cores)
    System.err.println(f"[perfbench] session ready at ${sinceJvmStart()}%.1f s")
    val tracer = new Tracer(traced)
    val meter = if (traced) Some(new Meter(spark)) else None
    val ctx = Ctx(spark, cores, seed, seconds, scratch, tracer, meter)
    val out = try workload match {
      case "serve" => Serve.run(ctx)
      case "batch" =>
        Batch.run(ctx, Batch.readFingerprints(new File(need("fingerprints"))))
    } finally {
      meter.foreach(_.close())
    }
    if (traced) {
      val path = new File(need("trace-out")).toPath
      tracer.write(path)
      System.err.println(s"[perfbench] ${tracer.all.size} spans written to $path")
    }
    spark.stop()
    out.mismatches.take(20).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    val metrics = out.metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": $metrics}""")
    System.out.flush()
    if (!out.correct) sys.exit(1)
  }

  /** Seconds since the JVM started: set-up time counts from here. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

/** Small statistics over samples. */
object Stat {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
