package graft.exec

import scala.collection.mutable.ArrayBuffer

/** A releasable value and its leases: one for its holder, once published,
  * and one per reader that takes it. `free` runs when the last lease
  * goes, so a reader finishes on the value it leased. */
final class Leased[A](val value: A, free: A => Unit) {
  private var leases = 1
  /** Takes a lease unless the value is already freed. */
  def acquire(): Boolean = synchronized { if (leases > 0) leases += 1; leases > 0 }
  def release(): Unit = if (synchronized { leases -= 1; leases == 0 }) free(value)
}

/** What a session holds for its reads, one generation at a time: the
  * adjacencies of var-length hop bases, the in-memory adjacency indexes
  * and broadcast join sides ([[HeldBroadcasts]]), each under a key of its
  * own class.
  *
  *   - Generation. [[sweep]] starts a new one and drops the store's lease
  *     on every entry it does not keep; the session sweeps after every
  *     write, registered table, catalog swap and close. A reader reads
  *     [[generation]] before any table, and the store serves it
  *     ([[lease]]) and takes its value ([[publish]]) only while that
  *     generation is current, so an entry never outlives the data it was
  *     built from.
  *   - Leases. A published entry holds one lease for the store; each
  *     reader adds one, released when its cache scope ends. A read in
  *     flight across a sweep therefore finishes on the old value.
  *   - Bound. An entry published with a size counts against `capBytes`:
  *     past it, the least recently leased sized entries lose the store's
  *     lease. The session sets the cap; only a test changes it. */
final class HeldStore(@volatile private[graft] var capBytes: Long) {

  private final class Entry(val leased: Leased[_], val bytes: Long)

  /** In access order: the head is the entry leased least recently. */
  private val entries = new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true)
  private var gen = 0L
  private var heldBytes = 0L
  private val published = scala.collection.mutable.HashMap.empty[Class[_], Long]

  def generation: Long = synchronized(gen)

  /** A lease on the value under `key`, while `since` is the current
    * generation; the caller releases it. */
  def lease[A](key: Any, since: Long): Option[Leased[A]] = synchronized {
    Option(if (gen == since) entries.get(key) else null)
      .filter(_.leased.acquire()).map(_.leased.asInstanceOf[Leased[A]])
  }

  /** Publishes `l` under `key`, with a lease for the store, when `since`
    * is the current generation and no entry is there yet. The caller
    * keeps its own lease either way. */
  def publish(key: Any, l: Leased[_], since: Long, bytes: Long = 0L): Boolean = {
    val (done, evicted) = synchronized {
      if (gen != since || entries.containsKey(key) || !l.acquire()) (false, Nil)
      else {
        entries.put(key, new Entry(l, bytes))
        heldBytes += bytes
        published(key.getClass) = published.getOrElse(key.getClass, 0L) + 1
        (true, evict())
      }
    }
    evicted.foreach(_.release())
    done
  }

  /** Takes the store's lease off the least recently leased sized entries
    * until the held bytes fit the cap. */
  private def evict(): List[Leased[_]] = {
    var out = List.empty[Leased[_]]
    val it = entries.values.iterator
    while (heldBytes > capBytes && it.hasNext) {
      val e = it.next()
      if (e.bytes > 0) {
        it.remove()
        heldBytes -= e.bytes
        out ::= e.leased
      }
    }
    out
  }

  /** The value under `key`, or `build`'s, held with the store's lease
    * alone (no reader leases it) until the next sweep. */
  def memo[A](key: Any)(build: => Leased[A]): A = synchronized {
    Option(entries.get(key)).getOrElse {
      val e = new Entry(build, 0L)
      entries.put(key, e)
      e
    }.leased.value.asInstanceOf[A]
  }

  /** Starts a new generation and drops the store's lease on every entry
    * whose key `keep` rejects. */
  def sweep(keep: Any => Boolean = _ => false): Unit = {
    val dropped = synchronized {
      gen += 1
      val out = ArrayBuffer.empty[Leased[_]]
      val it = entries.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (!keep(e.getKey)) {
          it.remove()
          heldBytes -= e.getValue.bytes
          out += e.getValue.leased
        }
      }
      out
    }
    dropped.foreach(_.release())
  }

  /** For the keys of class `kind`: the values held, their bytes, and how
    * many entries have been published since the store started. */
  def held(kind: Class[_]): (Seq[Any], Long, Long) = synchronized {
    val es = ArrayBuffer.empty[Entry]
    entries.forEach((k, e) => if (k.getClass == kind) es += e)
    (es.map(_.leased.value).toSeq, es.map(_.bytes).sum, published.getOrElse(kind, 0L))
  }
}
