package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Cache lifecycle for the pipeline operators.
  *
  * [[Dedup.minhashPairs]], [[Dedup.ngramJaccardPairs]],
  * [[Dedup.simhashPairs]], [[Similarity.lshTopK]], [[Similarity.ivfTopK]]
  * and [[Similarity.cosinePairs]] persist intermediate signature/vector
  * tables because several consumers in the same job read them (re-deriving
  * the tokenize→shingle→hash lineage per consumer costs more than the
  * cache). Spark offers no "unpersist when the consuming query finishes"
  * hook for a lazily-executed result, so the blocks stay cached until
  * [[clear]] — exactly like the graph rounds' persisted RDDs. One-shot jobs
  * (Verify, Bench) call [[clear]] after consuming each result; a
  * long-running session (QueryServer does this after rendering each
  * response) must do the same.
  *
  * Entries are held STRONGLY until [[clear]]. An earlier revision held
  * them weakly on the theory that a collected frame needs no cleanup —
  * true for raw RDD persists (ContextCleaner GC-unpersists those) but
  * FALSE for Dataset/SQL persists: Spark's CacheManager keeps the
  * `InMemoryRelation` alive by logical plan, so a tracked `DataFrame`
  * handle collected before [[clear]] left its cached blocks pinned for
  * the JVM's lifetime, and a 100-query single-JVM run accumulated caches
  * until eviction thrashed (`WARN CacheManager: Asked to cache already
  * cached data`). The registry is emptied on every [[clear]], so strong
  * references cannot leak in the other direction.
  *
  * Only pipeline-created frames are tracked: clearing does NOT touch
  * other caches in the session, such as GraftSession's memoized
  * adjacency indexes (session-lifetime by design).
  */
object PipelineCaches {

  private val registry = scala.collection.mutable.LinkedHashSet.empty[DataFrame]
  private val cleanups =
    scala.collection.mutable.ArrayBuffer.empty[(AnyRef, AnyRef => Unit)]

  /** Register an (already persisted) pipeline intermediate for [[clear]];
    * used via `.transform(PipelineCaches.track)` after each persist. */
  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    registry += df
    df
  }

  /** Register a cleanup against a target object (e.g. a persisted RDD of
    * a graph round loop — repeated graph jobs in
    * one JVM otherwise accumulate dead blocks until the block manager
    * starts evicting caches that are still live). The target is held
    * STRONGLY until [[clear]] — see the class doc for why weak references
    * are wrong for anything backed by a SQL cache. */
  private[graft] def onClear[A <: AnyRef](target: A)(f: A => Unit): Unit =
    synchronized {
      cleanups += ((target, f.asInstanceOf[AnyRef => Unit]))
    }

  /** Number of live registrations (frames + cleanup hooks) — test/probe
    * surface for asserting clear() really emptied the registry. */
  def trackedCount: Int = synchronized { registry.size + cleanups.size }

  /** Unpersist every pipeline-tracked intermediate.
    *
    * `blocking = true` waits for the block removal to finish before
    * returning — back-to-back timed iterations (Bench) need it, because
    * an async unpersist races the next iteration's persists for block-
    * manager space and skews its measurement. Default stays async: a
    * server response should not stall on cache teardown. */
  def clear(blocking: Boolean = false): Unit = {
    // snapshot under the lock, run the (potentially slow) unpersists outside
    val (frames, hooks) = synchronized {
      val snap = (registry.toVector, cleanups.toVector)
      registry.clear()
      cleanups.clear()
      snap
    }
    frames.foreach(df => try df.unpersist(blocking) catch { case _: Exception => })
    hooks.foreach { case (t, f) => try f(t) catch { case _: Exception => } }
  }
}
