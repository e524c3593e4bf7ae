package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.storage.StorageLevel

import graft.index.IndexTables

/** Query-scoped storage, and the measured single-task gate. QUERY scope
  * is [[persist]] and [[pinned]], freed by [[clearPersisted]], which the
  * harness mains ([[Verify]], [[Bench]]) call after each query ([[unpin]]
  * frees a pin earlier). SESSION scope is a [[SessionMemo]], left alone
  * here. A freed persist is lazily recomputed; a freed pin is not (no
  * lineage: "Checkpoint block ... not found"), so nothing that outlives
  * the query may read a pin.
  */
object Caches {
  private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val pinnedRdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** At or under this many measured rows a stage runs as one task (r18):
    * fanning KB-scale frames over every core paid per-task cost for nothing.
    */
  val SingleTaskRows = 262144L

  def singleTask(rows: Long): Boolean = rows <= SingleTaskRows

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[clearPersisted]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p
  }

  /** Unpersist (non-blocking) and forget every tracked frame and pin. */
  def clearPersisted(): Unit = synchronized {
    persisted.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    pinnedRdds.foreach(free)
    persisted.clear()
    pinnedRdds.clear()
  }

  /** PIN iteration state (an eager `localCheckpoint`), so a loop taking
    * driver actions per round never re-analyzes a growing plan.
    */
  def pinned(df: DataFrame): DataFrame = track(df.localCheckpoint(true))

  /** Free a pin (or a [[persist]]) now and forget it; no plan may read it after. */
  def unpin(df: DataFrame): Unit = synchronized {
    checkpointRdd(df) match {
      case Some(r) => pinnedRdds -= r; free(r)
      case None =>
        persisted -= df
        try df.unpersist(false) catch { case _: Throwable => () }
    }
  }

  /** Register the checkpoint behind `cp`; serve its persisted rdd as a
    * fresh leaf (new attribute ids, no origin statistics, which pins fed
    * by pins would compound — see [[graft.ext.Graph.louvainFull]]). A
    * plan with no checkpoint rdd is held through [[persist]] instead.
    */
  private[graft] def track(cp: DataFrame): DataFrame =
    ColumnShim.logicalPlan(cp) match {
      case l: LogicalRDD =>
        synchronized { pinnedRdds += l.rdd }
        ColumnShim.freshLeaf(cp.sparkSession, l)
      case _ => persist(cp)
    }

  /** The persisted rdd of a checkpointed frame (`unpersist` cannot reach it). */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    ColumnShim.logicalPlan(df) match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  private[graft] def free(r: RDD[_]): Unit =
    try r.unpersist(false) catch { case _: Throwable => () }
}

/** Session-scoped memo: one value per (session, key), built on first use
  * and served again to that exact `SparkSession` object (reference
  * equality, so no identity-hash collisions) — the engine's "build or
  * load once per session, then reuse" (the reference's
  * `@st.cache_resource`, `pyapp.py:30-37`). Concurrent live sessions each
  * hold their own entry and never evict each other's; entries of STOPPED
  * sessions are dropped without release (their blocks died with the
  * context). The query-scoped [[Caches.clearPersisted]] leaves these
  * entries alone; [[SessionMemo.resetAll]] releases them. A frame-valued
  * build ends in its own `localCheckpoint`, never in a query-scoped pin.
  */
final class SessionMemo[K, V](build: (SparkSession, K) => V) {
  private val cache = scala.collection.mutable.HashMap.empty[(SparkSession, K), V]
  SessionMemo.register(this)

  def apply(s: SparkSession, key: K): V = seed(s, key)(build(s, key))

  /** Fill the slot with an externally-built value if (and only if) it is
    * empty — lets a composite build donate a sub-artifact it computed
    * anyway, instead of this memo re-running its own build on the next
    * read (the DSIR weights build donates its ratio model).
    */
  def seed(s: SparkSession, key: K)(v: => V): V = synchronized {
    cache.filterInPlace { case ((owner, _), _) => !owner.sparkContext.isStopped }
    cache.getOrElseUpdate((s, key), v)
  }

  private def reset(): Unit = synchronized {
    cache.values.foreach(SessionMemo.release)
    cache.clear()
  }
}

object SessionMemo {
  private val all = scala.collection.mutable.ArrayBuffer.empty[SessionMemo[_, _]]

  private def register(m: SessionMemo[_, _]): Unit = synchronized { all += m }

  /** Drop every memo's entries and free what they pin — for harnesses
    * ([[ScaleBench]]) that must time the REAL per-run cost and for a
    * caller that rewrote a dir's files mid-session. No frame handed out
    * before the reset may be used after it.
    */
  def resetAll(): Unit = synchronized { all.foreach(_.reset()) }

  /** What an entry pins follows from its type: a checkpointed frame its
    * checkpoint blocks, a pair of frames both, a built index its
    * persisted flat words. A resolved scan (a file listing) or a
    * driver-side value pins nothing.
    */
  private def release(v: Any): Unit = v match {
    case df: DataFrame @unchecked => Caches.checkpointRdd(df).foreach(Caches.free)
    case (a, b) => release(a); release(b)
    case t: IndexTables =>
      try t.flatWords.unpersist(false) catch { case _: Throwable => () }
    case _ => ()
  }
}
