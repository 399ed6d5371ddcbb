package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.storage.StorageLevel

/** The one owner of session-lived storage: every frame that outlives
  * the call that built it — the operators' band, shingle and verify
  * tables, the iterative operators' rounds and results, `DcaFrame`'s
  * dense-index sort cache and `Staged`'s memoized artifacts — is pinned,
  * truncated, freed and released here. Scoped temporaries, persisted
  * and unpersisted in a `finally` inside one function, stay local.
  *
  * '''Pin.''' [[persist]] caches a frame (MEMORY_AND_DISK); [[truncate]]
  * materializes it eagerly AND cuts its lineage to a leaf, so consumers
  * stop re-analyzing the upstream plan; [[track]] adopts a frame that
  * arrives already pinned from a callee. All three register the frame
  * with its session and return it for inline use.
  *
  * '''Truncation policy''', decided here and only here, read from the
  * session: reliable `checkpoint(eager = true)` when the SparkContext
  * has a checkpoint dir — the files survive executor loss — and
  * `localCheckpoint(eager = true)` otherwise, whose blocks live in
  * executor storage only (lose the executor and the frame is gone; no
  * lineage replay). Local is the measured-fastest trade for a local
  * session (PROBES.md); a long-lived production job sets the session
  * checkpoint dir.
  *
  * '''Free.''' [[free]] destroys one pinned frame and deregisters it:
  * it uncaches the frame and, when the frame IS a checkpoint leaf (root
  * plan a `LogicalRDD`; root-only, so a frame that merely reads other
  * leaves never frees blocks it does not own), unpersists the leaf RDD
  * and deletes its reliable checkpoint files (ContextCleaner only does
  * that with `spark.cleaner.referenceTracking.cleanCheckpoints=true`).
  * A leaf has no lineage to replay, so a freed frame — and every frame
  * derived from it — must not be used again.
  *
  * '''Release.''' [[release]] is the session sweep: it evicts the
  * session's memo ([[memo]], what `Staged` builds through) and frees
  * every still-registered frame in one step, so a memoized frame is
  * never served after its blocks are gone; the next memo access
  * rebuilds. `Staged.release` reaches the same sweep.
  *
  * '''Observe.''' [[pinnedBytes]] reads how many bytes the session's
  * registered frames hold in block storage now.
  *
  * Registrations are STRONG references keyed by session identity, and
  * the sweep is the only cleanup — there is no GC fallback (r15: a
  * WeakReference variant let GC clear entries before the sweep, and the
  * next bench pass silently reused the previous pass's caches). A
  * session that never releases keeps its pinned frames for its
  * lifetime; every long-running surface (Bench, Verify,
  * DeterminismCheck) releases per pass.
  *
  * Leaf module: imports nothing else from `graft`, so `graft.core` can
  * pin through it.
  */
object CacheTracker {
  private final class Pinned {
    val frames = new java.util.ArrayList[DataFrame]()
    val memo = TrieMap.empty[String, Any]
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, Pinned]()

  private def pinned(s: SparkSession): Pinned = sessions.synchronized {
    var p = sessions.get(s)
    if (p == null) { p = new Pinned; sessions.put(s, p) }
    p
  }

  /** Cache `df` (MEMORY_AND_DISK) under the session lifecycle. */
  def persist(df: DataFrame): DataFrame =
    track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Materialize `df` and truncate its lineage to a leaf, by the
    * session's policy (reliable when a checkpoint dir is set, local
    * otherwise), under the session lifecycle.
    */
  def truncate(df: DataFrame): DataFrame = track(
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true))

  /** Register an already pinned frame for release with its session. */
  def track(df: DataFrame): DataFrame = {
    val l = pinned(df.sparkSession).frames
    l.synchronized { l.add(df) }
    df
  }

  /** Destroy one pinned frame now (see the class doc) and deregister
    * it by identity, so the session sweep does not free it again.
    */
  def free(df: DataFrame): Unit = {
    val l = pinned(df.sparkSession).frames
    l.synchronized { l.removeIf(_ eq df) }
    destroy(df)
  }

  private def destroy(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: java.io.IOException => () } // best-effort cleanup
        }
      case _ => ()
    }
  }

  /** Memoize `build` per (session, key) until the next [[release]]. A
    * failed build memoizes nothing. Frames the value holds must be
    * pinned through this object, so the sweep frees them.
    */
  def memo[A](s: SparkSession, key: String)(build: => A): A =
    pinned(s).memo.getOrElseUpdate(key, build).asInstanceOf[A]

  /** Bytes the session's registered frames hold in block storage,
    * memory plus disk: the storage info of each frame's cache RDD (a
    * persisted frame) or leaf RDD (a truncated one). Reliable
    * checkpoint files live outside block storage and are not counted;
    * a frame pinned but not yet materialized counts 0. Drains the
    * listener bus first, so blocks written by finished jobs are counted;
    * runs no job.
    */
  def pinnedBytes(s: SparkSession): Long = {
    org.apache.spark.graft.BusFlush.drain(s.sparkContext)
    val p = sessions.synchronized(sessions.get(s))
    val ids =
      if (p == null) Set.empty[Int]
      else p.frames.synchronized(p.frames.toArray(Array.empty[DataFrame])).flatMap(storedRdd).toSet
    s.sparkContext.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  /** The RDD whose blocks hold `df`: a fresh plan over its logical
    * plan sees the cache as it is now (the frame's own plan may predate
    * its persist).
    */
  private def storedRdd(df: DataFrame): Option[Int] =
    GraftSqlBridge.ofRows(df.sparkSession, df.queryExecution.logical).queryExecution.withCachedData match {
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        Some(m.cacheBuilder.cachedColumnBuffers.id)
      case lr: LogicalRDD => Some(lr.rdd.id)
      case _              => None
    }

  /** The session sweep: evict the memo and free every pinned frame. */
  def release(s: SparkSession): Unit = {
    val p = sessions.synchronized(sessions.remove(s))
    if (p != null) p.frames.synchronized { p.frames.forEach(destroy) }
  }
}
