package graft.exec

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One Cypher statement: what `GraftSession.cypher` binds before it
  * parses, and what every part of its planning reads.
  *
  *   - Marks: the statement's raw `$param` values and the keys of the
  *     literals [[ParamRefs]] reads through references (added to while
  *     the statement builds, [[ParamRefs.folded]]).
  *   - Store: a read's session [[HeldStore]] and the generation `since`,
  *     read once, before any table. A write carries marks but no store.
  *   - Leases: every held value the statement reads, a broadcast join
  *     side ([[HeldBroadcasts]]) or a hop adjacency
  *     (`GraftSession.hopAdjacency`), kept until the statement ends.
  *
  * Scope. A statement lives from [[bind]] to the release of the calling
  * thread's cache scope ([[graft.pipeline.PipelineCaches]] — one request
  * on the server); then its leases go. Its id travels in one Spark local
  * property, which Spark copies onto the threads it plans subqueries and
  * broadcasts on, so concurrent requests never see each other's
  * statements. A frame plans under the statement its thread bound last:
  * a frame built by one `cypher()` and run after a later one on the same
  * thread plans with the later statement's marks, store and generation.
  * A thread with no live statement — every batch call, or a thread whose
  * statement's scope has ended — plans exactly as before. */
final class Statement private (private[exec] val raw: Set[Any],
    store: Option[HeldStore], since: Long) {

  /** The mark keys: literals with these keys become [[ParamRef]]s. */
  private[exec] val keys: java.util.Set[Any] = ConcurrentHashMap.newKeySet[Any]()

  /** Whether the statement reads the session's held store (a read). */
  private[exec] def holds: Boolean = store.isDefined

  private val leases = ArrayBuffer.empty[Leased[_]]
  private var open = true

  /** Keeps `l` until the statement ends; false once it has. */
  private[graft] def hold(l: Leased[_]): Boolean = synchronized { if (open) leases += l; open }

  private def release(): Unit = synchronized {
    open = false
    val ls = leases.toList
    leases.clear()
    ls
  }.foreach(_.release())

  /** A lease on the value the store holds under `key` for the statement's
    * generation, kept until the statement ends. */
  private[graft] def lease[A](key: Any): Option[Leased[A]] =
    store.flatMap(_.lease[A](key, since)).filter { l =>
      val kept = hold(l)
      if (!kept) l.release()
      kept
    }

  /** Keeps `l` until the statement ends and publishes it under `key` for
    * the rest of the statement's generation, while that is current. A
    * statement that has already ended leaves `l` to Spark, as it does an
    * ordinary broadcast. */
  private[graft] def publish(key: Any, l: Leased[_], bytes: Long = 0L): Unit =
    if (hold(l)) store.foreach(_.publish(key, l, since, bytes))
}

object Statement {

  /** Local property naming the thread's statement. */
  private val Property = "graft.statement"

  private val live = new ConcurrentHashMap[String, Statement]()

  /** Starts the calling thread's statement with the values of `params`
    * and, for a read, `store` at its current generation. The statement
    * ends with the thread's cache scope. */
  def bind(spark: SparkSession, params: Map[String, Any], store: Option[HeldStore]): Unit = {
    val raw = params.values.flatMap {
      case xs: Seq[_] => xs
      case v => Seq(v)
    }.filter(_ != null).toSet
    val st = new Statement(raw, store, store.fold(0L)(_.generation))
    raw.flatMap(ParamRefs.keyOfValue).foreach(st.keys.add)
    val id = java.util.UUID.randomUUID().toString
    live.put(id, st)
    spark.sparkContext.setLocalProperty(Property, id)
    graft.pipeline.PipelineCaches.onClear(id)(id => Option(live.remove(id)).foreach(_.release()))
  }

  /** The live statement planning on the calling thread. */
  def current(sc: SparkContext): Option[Statement] =
    Option(sc.getLocalProperty(Property)).flatMap(id => Option(live.get(id)))

  /** How many statements are live, across every thread. */
  private[graft] def liveCount: Int = live.size
}
