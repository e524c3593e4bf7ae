package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler counts for one op (or, under [[Meter.All]], for untagged work). */
final class Counts {
  var jobs, stages, tasks, taskMs, shuffleBytes, spillBytes, recordsRead = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead
  }
}

/** Planning-phase totals read from `QueryExecution.tracker`. */
final class Phases {
  var analysisMs, optimizationMs, planningMs = 0L
  def add(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
}

/** The benchmark's observers of the engine, all registered from outside:
  * a `SparkListener` that attributes jobs, stages and task metrics to the
  * op whose thread set the [[Meter.OpKey]] job property, and a
  * `QueryExecutionListener` that sums planner phases over every action
  * the engine runs (including the ones inside `SparkEntry` queries).
  */
final class Meter(spark: SparkSession) {
  import Meter._
  private val sc: SparkContext = spark.sparkContext
  private val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val phases = new Phases

  private def counts(op: String): Counts =
    byOp.computeIfAbsent(if (op == null) All else op, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
      e.stageIds.foreach(id => if (op != null) stageOp.put(id, op))
      counts(op).synchronized(counts(op).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
      if (op != null) stageOp.put(e.stageInfo.stageId, op)
      counts(op).synchronized(counts(op).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = counts(stageOp.get(e.stageId))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases.synchronized(phases.add(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases.synchronized(phases.add(qe))
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(sc)

  /** Counts of `op`, or of every op not tagged with an id. */
  def countsOf(op: String): Counts = {
    val c = byOp.get(op)
    if (c == null) new Counts else c.synchronized { val r = new Counts; r += c; r }
  }

  def phaseTotals(): Phases = phases.synchronized {
    val r = new Phases
    r.analysisMs = phases.analysisMs
    r.optimizationMs = phases.optimizationMs; r.planningMs = phases.planningMs
    r
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Meter {
  /** Job property carrying the op id; set per client thread. */
  val OpKey = "perfbench.op"
  val All = "_untagged"

  /** Janino compilations so far (Spark's own codegen metric). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** JVM garbage-collection time so far, all collectors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Storage memory held by cached blocks and broadcasts, in MB. */
  def storageMb(sc: SparkContext): Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum /
      (1024.0 * 1024.0)

  /** Persistent RDDs still registered with the context. */
  def liveRdds(sc: SparkContext): Int = sc.getPersistentRDDs.size
}

/** One timed region of benchmark code around a call into an engine layer. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, [[span]] is a plain call and
  * nothing is kept; enabled, every span records name, start, end, parent
  * span and op id, and [[write]] dumps them as JSON lines at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val op = new ThreadLocal[Long] { override def initialValue = -1L }
  private val on = new ThreadLocal[Boolean] { override def initialValue = true }
  private var next = 0

  /** Tags this thread's next spans with op `id`; `traced = false` turns
    * them off for that op, so a traced run can time untraced ops too.
    */
  def setOp(id: Long, traced: Boolean = true): Unit = { op.set(id); on.set(traced) }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !on.get) body
    else {
      val id = synchronized { next += 1; next }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized(spans += Span(id, name, parent, op.get, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer (span time minus its child spans), in ms, over
    * the spans of measured ops (op id >= 0).
    */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all.filter(_.op >= 0)
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
