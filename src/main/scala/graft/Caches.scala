package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.index.IndexTables

/** Registry for short-lived persisted DataFrames (VERDICT.md r2 "cache
  * hygiene"): operators that persist intermediate tables referenced by
  * multiple plan branches (shingle sets, minhash signatures) register them
  * here, and the harness mains ([[Verify]], [[Bench]]) call
  * [[clearPersisted]] after materializing each query — so a long-lived
  * session (or a 57-query bench run) does not accumulate persisted RDDs.
  *
  * Unpersisting is always SAFE, never wrong: a cleared table is lazily
  * recomputed if a later plan still references it. Session-lived
  * artifacts are [[SessionMemo]]s, which this clearing leaves alone.
  */
object Caches {
  private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[clearPersisted]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    p
  }

  /** Unpersist (non-blocking) and forget every tracked DataFrame. */
  def clearPersisted(): Unit = synchronized {
    persisted.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    pinnedRdds.foreach(r => try r.unpersist(false) catch { case _: Throwable => () })
    persisted.clear()
    pinnedRdds.clear()
  }

  private val pinnedRdds =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** PIN iteration state: eager `localCheckpoint` + a lineage-free
    * `createDataFrame(rdd, schema)` wrapper (the louvainFullRun /
    * spectral-fiedler pattern, centralized in r18) — so a loop that
    * takes driver actions per round never re-analyzes a growing plan.
    * Unlike the in-loop `unpersistCheckpoint` hygiene, the checkpoint
    * RDD is REGISTERED here, so pins that the returned (lazy) plan
    * still references are freed by the harness's per-query
    * [[clearPersisted]] instead of leaking one RDD per rep.
    */
  def pinned(df: DataFrame): DataFrame = track(df.localCheckpoint(true))

  /** Register the checkpoint behind `cp` for [[clearPersisted]] and
    * return the frame to serve. The PERSISTED rdd is inside cp's
    * LogicalRDD plan — `cp.rdd` would be a fresh deserializing wrapper
    * whose unpersist is a no-op. A plan with no LogicalRDD has no rdd to
    * reach, so the frame itself is held through [[persist]] instead:
    * every pin is released by [[clearPersisted]].
    */
  private[graft] def track(cp: DataFrame): DataFrame =
    org.apache.spark.sql.graftshim.ColumnShim.logicalPlan(cp) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        synchronized { pinnedRdds += l.rdd }
        cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
      case _ => persist(cp)
    }
}

/** Session-scoped memo: one value per (session, key), built on first use
  * and served again to that exact `SparkSession` object (reference
  * equality, so no identity-hash collisions) — the engine's "build or
  * load once per session, then reuse" (the reference's
  * `@st.cache_resource`, `pyapp.py:30-37`). Concurrent live sessions each
  * hold their own entry and never evict each other's; entries of STOPPED
  * sessions are dropped without release (their blocks died with the
  * context). The query-scoped [[Caches.clearPersisted]] leaves these
  * entries alone; [[SessionMemo.resetAll]] releases them.
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
    * checkpoint blocks, a built index its persisted flat words. A
    * resolved scan (a file listing) or a driver-side value pins nothing.
    */
  private def release(v: Any): Unit = v match {
    case df: DataFrame @unchecked =>
      org.apache.spark.sql.graftshim.ColumnShim.unpersistCheckpoint(df)
    case t: IndexTables =>
      try t.flatWords.unpersist(false) catch { case _: Throwable => () }
    case _ => ()
  }
}
