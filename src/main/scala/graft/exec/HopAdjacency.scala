package graft.exec

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, get, inline, typedLit, udf}
import org.apache.spark.sql.types._

/** Hash adjacency of a broadcast-small edge set: what a var-length or
  * distance-only shortestPath hop walks inside ONE stage, instead of one
  * join superstep per level, and what [[graft.graph.GraphAlgorithms]] runs
  * a small graph's rounds over on the driver.
  *
  * Node ids are interned to dense ordinals through a hash map on
  * unboxed Long keys, so each source row costs one hashed probe;
  * neighbours sit in a CSR array by ordinal, distinct per node, so a
  * level costs one array scan per frontier node. (A Spark map column
  * would not do: `element_at` on a map scans its keys linearly.) Built
  * with edge weights, each CSR slot also carries the summed weight of the
  * duplicate edges it folds: a multiplicity for unit weights.
  */
final class HopAdjacency private (
    ordinals: scala.collection.mutable.LongMap[Int],
    private[graft] val ids: Array[Long], // ordinal -> node id
    // neighbours of ordinal o: nbrs(offsets(o) until offsets(o + 1))
    private[graft] val offsets: Array[Int],
    private[graft] val nbrs: Array[Int],
    private[graft] val weights: Array[Double]) // per slot; null if unweighted
    extends Serializable {

  import HopAdjacency.OrdinalSet

  /** Node count: ordinals run over `0 until size`. */
  private[graft] def size: Int = ids.length

  /** The ids of the nodes with at least one neighbour, in ordinal order. */
  private[exec] def sources: Iterator[Long] =
    ids.indices.iterator.filter(o => offsets(o + 1) > offsets(o)).map(ids)

  private[graft] def ordinal(id: Long): Int = ordinals.getOrElse(id, -1)

  /** The same nodes and ordinals with every edge reversed. */
  private[graft] def transpose: HopAdjacency = {
    val n = size
    val src = new Array[Int](nbrs.length)
    for (o <- 0 until n; j <- offsets(o) until offsets(o + 1)) src(j) = o
    HopAdjacency.csr(ordinals, ids, nbrs, src, weights)
  }

  private def expand(level: OrdinalSet, into: OrdinalSet): Unit = {
    var i = 0
    while (i < level.size) {
      val x = level(i)
      var j = offsets(x)
      while (j < offsets(x + 1)) { into.add(nbrs(j)); j += 1 }
      i += 1
    }
  }

  /** Distinct union of the walk-level sets L_lo..L_hi from `src`, where
    * L_k holds every node a walk of exactly k hops ends on — the join
    * form's per-level distinct pair sets, one source at a time. */
  private[exec] def reach(src: Long, lo: Int, hi: Int): Array[Long] = {
    val o = ordinal(src)
    if (o < 0) return Array.emptyLongArray
    val out = new OrdinalSet
    var level = new OrdinalSet
    level.add(o)
    var k = 1
    while (k <= hi && level.size > 0) {
      val next = new OrdinalSet
      expand(level, next)
      if (k >= lo) { var i = 0; while (i < next.size) { out.add(next(i)); i += 1 } }
      level = next
      k += 1
    }
    Array.tabulate(out.size)(i => ids(out(i)))
  }

  /** BFS distance from `src` to every node within `hi` hops, kept when it
    * is at least `lo`: each node is reported at the first level that
    * reaches it. The source itself is not visited up front, so it appears
    * at the length of its shortest cycle. */
  private[exec] def shortest(src: Long, lo: Int, hi: Int): Array[HopAdjacency.Reached] = {
    val o = ordinal(src)
    if (o < 0) return Array.empty
    val out = Array.newBuilder[HopAdjacency.Reached]
    val visited = new OrdinalSet
    var frontier = new OrdinalSet
    frontier.add(o)
    var k = 1
    while (k <= hi && frontier.size > 0) {
      val next = new OrdinalSet
      var i = 0
      while (i < frontier.size) {
        val x = frontier(i)
        var j = offsets(x)
        while (j < offsets(x + 1)) {
          if (visited.add(nbrs(j))) next.add(nbrs(j))
          j += 1
        }
        i += 1
      }
      if (k >= lo) {
        i = 0
        while (i < next.size) { out += HopAdjacency.Reached(ids(next(i)), k.toLong); i += 1 }
      }
      frontier = next
      k += 1
    }
    out.result()
  }
}

object HopAdjacency {

  /** One shortestPath target: its id and BFS distance. */
  final case class Reached(__dst: Long, __len: Long)

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /** Whether both endpoint columns of hop base `h` are integral ids. */
  def integralIds(h: DataFrame, src: String = "__src", dst: String = "__dst"): Boolean =
    integral(h.schema(src).dataType) && integral(h.schema(dst).dataType)

  /** Whether `plan` is broadcast-small: its optimizer size estimate is
    * within `autoBroadcastJoinThreshold` (so a threshold of -1 holds no
    * plan small). The one size test of the hop planner and the graph
    * algorithms' driver path. */
  def broadcastSmall(plan: DataFrame): Boolean = scala.util.Try {
    plan.queryExecution.optimizedPlan.stats.sizeInBytes <=
      plan.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
  }.getOrElse(false)

  /** Builds the adjacency from (src, dst) pairs; duplicates fold, summing
    * `weight` when given. Ordinals follow first appearance in `src`, then
    * `dst`, then `vertices` (extra nodes, e.g. isolated ones). */
  private[graft] def apply(src: Array[Long], dst: Array[Long],
      weight: Array[Double] = null,
      vertices: Array[Long] = Array.emptyLongArray): HopAdjacency = {
    val index = new scala.collection.mutable.LongMap[Int]()
    val ids = Array.newBuilder[Long]
    def intern(id: Long): Int = index.getOrElse(id, {
      val o = index.size
      index(id) = o
      ids += id
      o
    })
    val s = src.map(intern)
    val d = dst.map(intern)
    vertices.foreach(intern)
    csr(index, ids.result(), s, d, weight)
  }

  /** CSR by source ordinal over `ids`; each neighbour run sorted, with
    * duplicate (s, d) edges folded into one slot whose weight sums theirs
    * in edge order. */
  private def csr(index: scala.collection.mutable.LongMap[Int], ids: Array[Long],
      s: Array[Int], d: Array[Int], weight: Array[Double]): HopAdjacency = {
    val n = ids.length
    val start = new Array[Int](n + 1)
    s.foreach(o => start(o + 1) += 1)
    for (o <- 1 to n) start(o) += start(o - 1)
    // (neighbour << 32 | edge index), bucketed by source: sorting a run
    // groups its duplicates and keeps each group in edge order
    val fill = start.clone()
    val raw = new Array[Long](s.length)
    for (i <- s.indices) { raw(fill(s(i))) = (d(i).toLong << 32) | i; fill(s(i)) += 1 }
    val offsets = new Array[Int](n + 1)
    val nbrs = new Array[Int](s.length)
    val w = if (weight == null) null else new Array[Double](s.length)
    var k = 0
    for (o <- 0 until n) {
      offsets(o) = k
      java.util.Arrays.sort(raw, start(o), start(o + 1))
      for (j <- start(o) until start(o + 1)) {
        val nb = (raw(j) >>> 32).toInt
        if (k == offsets(o) || nbrs(k - 1) != nb) { nbrs(k) = nb; k += 1 }
        if (w != null) w(k - 1) += weight((raw(j) & 0xffffffffL).toInt)
      }
    }
    offsets(n) = k
    new HopAdjacency(index, ids, offsets, java.util.Arrays.copyOf(nbrs, k),
      if (w == null) null else java.util.Arrays.copyOf(w, k))
  }

  /** The frame a hop base is collected from: `pairs`' endpoints as Long,
    * rows with a null endpoint dropped (no node join can match them). Its
    * canonicalized plan keys a session-held adjacency
    * ([[graft.GraftSession.hopAdjacency]]). */
  private[graft] def base(pairs: DataFrame): DataFrame =
    pairs
      .select(col("__src").cast(LongType), col("__dst").cast(LongType))
      .where(col("__src").isNotNull && col("__dst").isNotNull)

  /** Collects a [[base]] frame NOW (its jobs run here) into an adjacency. */
  private[graft] def collect(base: DataFrame): HopAdjacency = {
    val rows = base.collect()
    HopAdjacency(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** The hashed expansion of hop base `pairs` (`__src`, `__dst`, integral)
    * over its broadcast adjacency `adj`: `(__src, __dst)` rows, or
    * `(__src, __dst, __len)` with `shortest`.
    *
    * The caller owns `adj` and keeps it alive while the frame can run:
    * [[graft.GraftSession.hopAdjacency]] holds an unfiltered base's
    * adjacency for the session until a write, and leases it to the calling
    * thread's [[Statement]]. The sources are the adjacency's keys, read by
    * index from one array literal over a one-partition range, under a
    * generator: an anchor filter Catalyst infers on `__src` (from
    * `a.id = $k` through the join) pushes through the generator onto the
    * range, so only the anchored sources walk. (Over a local relation the
    * optimizer would evaluate that filter itself, through a predicate it
    * compiles once per anchor value; on the range it is a physical filter
    * that reads a bound value by reference, [[ParamRefs]].)
    */
  def expand(pairs: DataFrame, adj: Broadcast[HopAdjacency], lo: Int, hi: Int,
      shortest: Boolean): DataFrame = {
    val srcType = pairs.schema("__src").dataType
    val dstType = pairs.schema("__dst").dataType
    val keys = adj.value.sources.toArray
    val sources = pairs.sparkSession.range(0, keys.length, 1, 1)
      .select(get(typedLit(keys), col("id").cast(IntegerType))
        .cast(srcType).as("__src"))
    val src = col("__src").cast(LongType)
    if (shortest) {
      val walk = udf((s: Long) => adj.value.shortest(s, lo, hi))
      sources.select(col("__src"), inline(walk(src)))
        .select(col("__src"), col("__dst").cast(dstType).as("__dst"), col("__len"))
    } else {
      val walk = udf((s: Long) => adj.value.reach(s, lo, hi))
      sources.select(col("__src"), explode(walk(src)).as("__dst"))
        .select(col("__src"), col("__dst").cast(dstType).as("__dst"))
    }
  }

  /** Open-addressing set of node ordinals, iterable in insertion order;
    * per-source walk state sized by the work done, not by the graph. */
  private final class OrdinalSet {
    private var slots = new Array[Int](16) // member + 1, 0 = empty
    private var members = new Array[Int](8)
    private var n = 0

    def size: Int = n

    def apply(i: Int): Int = members(i)

    def add(x: Int): Boolean = {
      if (2 * (n + 1) > slots.length) grow()
      if (!insert(x)) return false
      if (n == members.length) members = java.util.Arrays.copyOf(members, 2 * n)
      members(n) = x
      n += 1
      true
    }

    private def insert(x: Int): Boolean = {
      val mask = slots.length - 1
      val mixed = x * 0x9E3779B9
      var h = (mixed ^ (mixed >>> 16)) & mask
      while (slots(h) != 0) {
        if (slots(h) == x + 1) return false
        h = (h + 1) & mask
      }
      slots(h) = x + 1
      true
    }

    private def grow(): Unit = {
      slots = new Array[Int](2 * slots.length)
      var i = 0
      while (i < n) { insert(members(i)); i += 1 }
    }
  }
}
