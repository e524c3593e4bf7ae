package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ColumnShim

/** Dev harness: time a SUBSET of gate queries without paying for the full
  * [[Bench]] sweep — `runMain graft.TimeQueries <sfDir> <name> [<name>…]`.
  * Bench's procedure: the calibration probe, one warmup pass, then
  * SPARK_GRAFT_BENCH_REPS reps (default 3) per query with
  * [[Bench.afterRep]] after each, so every rep pays for its own session
  * memo builds and the median is the query's cost with its memos built,
  * as in the [[Bench]] sweep. Prints the median, every sample
  * and the per-job / per-stage breakdown of the last rep — wall span,
  * task count, task time, shuffle bytes — from a SparkListener. Jobs ≈
  * driver actions, stages ≈ shuffle boundaries, so the breakdown shows
  * whether a query's cost is many small jobs (driver round-trips), one
  * shuffle-heavy stage, or task-count overhead (tiny data fanned over
  * `shuffle.partitions`). A query that throws prints FAILED, the others
  * still run, and the run exits 1.
  */
object TimeQueries {
  final case class Job(id: Int, spanMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spanMs: Long)
  /** One rep's jobs and completed stages; `tasks` and `taskMs` are
    * counted from the task-end events, independently of the stages.
    */
  final case class Breakdown(jobs: Seq[Job], stages: Seq[Stage], tasks: Int, taskMs: Long)
  final case class Timed(samples: Seq[Double], breakdown: Breakdown)

  /** Jobs, stages and tasks seen since the last [[reset]]. */
  private final class Recorder extends SparkListener {
    private val jobStarts = mutable.HashMap.empty[Int, (Long, Seq[Int])]
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var tasks = 0
    private var taskMs = 0L

    def reset(): Unit = synchronized {
      jobStarts.clear(); jobs.clear(); stages.clear(); tasks = 0; taskMs = 0L
    }

    def breakdown: Breakdown = synchronized {
      Breakdown(jobs.sortBy(_.id).toSeq, stages.toSeq, tasks, taskMs)
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      jobStarts(js.jobId) = (js.time, js.stageIds)
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(je.jobId).foreach { case (t0, sids) =>
        jobs += Job(je.jobId, je.time - t0, sids)
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      taskMs += Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    }
  }

  /** `reps` timed runs of `fn` on `sfDir` ([[Bench.timeReps]], with
    * [[Bench.afterRep]] after each); on success the sorted samples
    * and the breakdown of the last rep, else the exception.
    */
  def time(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame, reps: Int): Either[Throwable, Timed] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      // each rep starts from an empty record; every event of the
      // previous rep has been delivered by the drain in `after`
      ColumnShim.drainListenerBus(sc)
      Bench.timeReps(reps, () => { rec.reset(); fn(spark, sfDir).count(); () },
        () => { Bench.afterRep(); ColumnShim.drainListenerBus(sc) })
        .map(Timed(_, rec.breakdown))
    } finally sc.removeSparkListener(rec)
  }

  private def report(name: String, t: Timed): String = {
    val b = t.breakdown
    val lines = Seq(
      f"TIMED $name%-28s median=${Bench.median(t.samples)}%7.3f s  samples=${t.samples.map(s => f"$s%.3f").mkString(", ")}",
      f"  last rep: jobs=${b.jobs.size} stages=${b.stages.size} tasks=${b.tasks} taskTime=${b.taskMs / 1000.0}%.2f s") ++
      b.jobs.map(j => f"  job ${j.id}%4d span=${j.spanMs / 1000.0}%7.3f s stages=${j.stageIds.mkString(",")}") ++
      b.stages.sortBy(-_.taskMs).take(25).map(s => f"  stage ${s.id}%4d span=${s.spanMs / 1000.0}%7.3f s tasks=${s.tasks}%4d taskTime=${s.taskMs / 1000.0}%7.2f s shufR=${s.shuffleReadB / 1024}%8d KiB shufW=${s.shuffleWriteB / 1024}%8d KiB  ${s.name.take(80)}")
    lines.mkString("", "\n", "\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQueries <sfDir> <query> [<query>…]")
    val sfDir = args.head
    val all = SparkEntry.queries
    val unknown = args.tail.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val queries = args.tail.toSeq.map(n => n -> all(n))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.coresFromEnv())
    println(s"CALIBRATION ${Bench.calibrate(spark, sfDir).json}")
    Bench.warmup(spark, queries)
    val failed = queries.filter { case (name, fn) =>
      time(spark, sfDir, fn, reps) match {
        case Right(t) => print(report(name, t)); false
        case Left(e) =>
          println(f"TIMED $name%-28s FAILED ${e.getClass.getName}")
          System.err.println(s"$name: $e")
          true
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
