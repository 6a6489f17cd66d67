package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Cache lifetime for everything a query persists: one stack of scopes
  * per thread.
  *
  * [[Dedup.minhashPairs]], [[Similarity.ivfTopK]], the graph round loops,
  * a large-edge shortestPath past 6 hops and CALL+UNION persist
  * intermediates because several consumers in the same job read them
  * (re-deriving the lineage per consumer costs more than the cache); a
  * Cypher statement ([[graft.exec.Statement]]) holds its `$param` marks
  * and a lease on every hop adjacency and broadcast join side it reads,
  * whether built for it or held by the session. Spark offers no
  * "unpersist when the consuming query finishes" hook for a lazily-
  * executed result, so each persist and each statement is registered
  * here and released when its scope ends.
  *
  *   - What registers: [[track]] (a frame it persists), [[onClear]]
  *     (a cleanup hook, e.g. a persisted round RDD or a statement's end)
  *     and [[memo]] (a computed value shared within the scope).
  *     Every registration goes to the top scope of the CALLING thread.
  *   - Who releases: [[scoped]] pushes a fresh scope, runs its body and
  *     releases the scope in a `finally`; [[clear]] releases the calling
  *     thread's top scope and leaves it in place. A thread's bottom scope
  *     exists from first use, so a single-threaded loop (Bench, Verify, a
  *     test) that calls [[clear]] after each result behaves as one global
  *     registry would. A server request, a terminal operator
  *     ([[Sampling.writeShards]]) or a stream micro-batch runs `scoped`
  *     and so releases only what it persisted itself, never a concurrent
  *     request's state or its caller's.
  *   - Release order: tracked frames unpersist, hooks run, memo entries
  *     drop.
  *   - Plan reference count: Spark's CacheManager holds ONE entry per
  *     plan (matched by `sameResult`), so two in-flight requests that
  *     persist plan-identical frames share it. Releasing a tracked frame
  *     unpersists only when no other live scope still tracks the same
  *     canonicalized plan.
  *   - The stack is a plain, non-inheritable `ThreadLocal`: pool threads
  *     are created once and reused, so an inherited stack would hand one
  *     request's scope to an unrelated later request.
  *
  * Entries are held STRONGLY until released: Spark's CacheManager keeps a
  * cached `InMemoryRelation` alive by logical plan, so a tracked
  * `DataFrame` handle collected before its release would leave its blocks
  * pinned for the JVM's lifetime (the round-7 leak).
  *
  * Only registered state is released. The session-lifetime caches live
  * in `GraftSession`'s one held store ([[graft.exec.HeldStore]]) and
  * follow its generation instead, which moves on at every write,
  * registered table, catalog swap and close: the in-memory adjacency
  * indexes are unpersisted then, and the held hop adjacencies and
  * broadcast join sides lose their session lease while each statement's
  * lease still goes with its scope. Reads of persisted adjacency index
  * tables are not caches: the edge-table fingerprint fences those.
  */
object PipelineCaches {

  private final class Scope {
    val frames = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, LogicalPlan)]
    val hooks = scala.collection.mutable.ArrayBuffer.empty[(AnyRef, AnyRef => Unit)]
    val memos = scala.collection.mutable.HashMap.empty[Any, Any]
    def size: Int = frames.size + hooks.size + memos.size
  }

  private val scopes = ThreadLocal.withInitial[List[Scope]](() => List(new Scope))

  /** Live tracked frames per canonicalized plan, across every thread. */
  private val planRefs = scala.collection.mutable.HashMap.empty[LogicalPlan, Int]

  private def top: Scope = scopes.get.head

  /** Persist a pipeline intermediate and register it with the top scope;
    * used via `.transform(PipelineCaches.track)`. This is where the
    * storage level is set: the first live tracker of a plan persists it
    * at MEMORY_AND_DISK under the plan-ref lock, so a release on another
    * thread never drops the entry between the persist and the
    * registration; later trackers share that entry. */
  private[graft] def track(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.normalized.canonicalized
    planRefs.synchronized {
      val n = planRefs.getOrElse(plan, 0)
      planRefs(plan) = n + 1
      if (n == 0 && df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    top.frames += ((df, plan))
    df
  }

  /** Register a cleanup against a target object with the top scope (e.g.
    * a persisted RDD of a graph round loop — repeated graph jobs in one
    * JVM otherwise accumulate dead blocks until the block manager starts
    * evicting caches that are still live). */
  private[graft] def onClear[A <: AnyRef](target: A)(f: A => Unit): Unit =
    top.hooks += ((target, f.asInstanceOf[AnyRef => Unit]))

  /** The value registered under `key` in any of the calling thread's
    * scopes, or `build` computed now and registered with the top scope.
    * Keys are compared by equality across every caller, so each caller
    * needs keys of its own shape. `build` runs outside any lock: a scope
    * belongs to one thread. */
  private[graft] def memo[A](key: Any)(build: => A): A =
    scopes.get.find(_.memos.contains(key)) match {
      case Some(s) => s.memos(key).asInstanceOf[A]
      case None =>
        val v = build
        top.memos(key) = v
        v
    }

  /** Number of live registrations (frames + hooks + memo entries) in the
    * calling thread's scopes — test/probe surface. */
  def trackedCount: Int = scopes.get.map(_.size).sum

  /** Run `body` in a fresh scope, released when the body ends. */
  def scoped[A](body: => A): A = {
    val s = new Scope
    scopes.set(s :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      release(s, blocking = false)
    }
  }

  /** Release the calling thread's top scope.
    *
    * `blocking = true` waits for the block removal to finish before
    * returning — back-to-back timed iterations (Bench) need it, because
    * an async unpersist races the next iteration's persists for block-
    * manager space and skews its measurement. Default stays async: a
    * server response should not stall on cache teardown. */
  def clear(blocking: Boolean = false): Unit = release(top, blocking)

  private def release(s: Scope, blocking: Boolean): Unit = {
    val frames = s.frames.toVector
    val hooks = s.hooks.toVector
    s.frames.clear()
    s.hooks.clear()
    // the unpersist stays under the lock: a concurrent track of the same
    // plan must see either the live entry or none
    frames.foreach { case (df, plan) =>
      planRefs.synchronized {
        val n = planRefs.getOrElse(plan, 1) - 1
        if (n > 0) planRefs(plan) = n
        else {
          planRefs.remove(plan)
          try df.unpersist(blocking) catch { case _: Exception => }
        }
      }
    }
    hooks.foreach { case (t, f) => try f(t) catch { case _: Exception => } }
    s.memos.clear()
  }
}
