package graft.graph

import scala.collection.mutable.LongMap

import graft.exec.HopAdjacency

/** The driver twins of [[GraphAlgorithms]]' round loops, for a graph whose
  * edges fit the driver: the same synchronous rounds, with the same
  * per-vertex update and merge functions, run over one [[HopAdjacency]]
  * CSR by node ordinal. A round is an array sweep, not a Spark job, so a
  * 25-node graph's call costs its edge collect and little else.
  *
  * Each loop mirrors its RDD round shape step for step (the same frontier,
  * the same fixpoint test, the same budget checks), so round probes and
  * budget throws agree between the two paths; GraphSpec runs both on the
  * same graphs. State is one array per vertex field, indexed by ordinal.
  */
private[graph] object LocalRounds {

  /** [[GraphAlgorithms]]' min-label rounds: each round the keys flagged in
    * `chg` send their label to the out-neighbours `along` admits, and every
    * key takes the minimum of its label and its messages (a key not yet in
    * the state, `has` false, joins it). Stops at the first round that
    * changes nothing; `round` runs before each round. */
  def minLabelRounds(adj: HopAdjacency, lab: Array[Long], has: Array[Boolean],
      chg: Array[Boolean], round: () => Unit = () => ())(
      along: (Int, Int) => Boolean = (_, _) => true): Unit = {
    val n = adj.size
    val msg = new Array[Long](n)
    val got = new Array[Boolean](n)
    var changed = 1
    while (changed > 0) {
      round()
      java.util.Arrays.fill(got, false)
      var u = 0
      while (u < n) {
        if (chg(u)) {
          var j = adj.offsets(u)
          while (j < adj.offsets(u + 1)) {
            val v = adj.nbrs(j)
            if (along(u, v)) {
              msg(v) = if (got(v)) math.min(msg(v), lab(u)) else lab(u)
              got(v) = true
            }
            j += 1
          }
        }
        u += 1
      }
      changed = 0
      var v = 0
      while (v < n) {
        chg(v) = got(v) && (!has(v) || msg(v) < lab(v))
        if (chg(v)) { lab(v) = msg(v); has(v) = true; changed += 1 }
        v += 1
      }
    }
  }

  /** Connected components of a symmetric adjacency: the min id per
    * component, by ordinal. Round one's labels are read off each closed
    * neighbourhood, as on the RDD path. */
  def components(adj: HopAdjacency): Array[Long] = {
    val n = adj.size
    val lab = Array.tabulate(n) { o =>
      var l = adj.ids(o)
      for (j <- adj.offsets(o) until adj.offsets(o + 1))
        l = math.min(l, adj.ids(adj.nbrs(j)))
      l
    }
    val chg = Array.tabulate(n)(o => lab(o) < adj.ids(o))
    minLabelRounds(adj, lab, Array.fill(n)(true), chg)()
    lab
  }

  /** Each slot's message weight: the edge weight (1 when unweighted),
    * divided by its source's weight sum when `stochastic`. */
  def shares(adj: HopAdjacency, stochastic: Boolean): Array[Double] = {
    val w = if (adj.weights == null) Array.fill(adj.nbrs.length)(1.0)
      else adj.weights.clone()
    if (stochastic) for (o <- 0 until adj.size) {
      var tot = 0.0
      for (j <- adj.offsets(o) until adj.offsets(o + 1)) tot += w(j)
      for (j <- adj.offsets(o) until adj.offsets(o + 1)) w(j) /= tot
    }
    w
  }

  /** [[GraphAlgorithms]]' linear round over every node of `adj`:
    * x'(v) = f(v, Σ_{(u,v)} x(u)·share(u,v)), a zero-valued source sending
    * nothing. Returns (x', Σx'). */
  def linearRound(adj: HopAdjacency, share: Array[Double], x: Array[Double])(
      f: (Long, Double) => Double): (Array[Double], Double) = {
    val n = adj.size
    val m = new Array[Double](n)
    var u = 0
    while (u < n) {
      val r = x(u)
      if (r != 0.0) {
        var j = adj.offsets(u)
        while (j < adj.offsets(u + 1)) { m(adj.nbrs(j)) += r * share(j); j += 1 }
      }
      u += 1
    }
    val next = Array.tabulate(n)(v => f(adj.ids(v), m(v)))
    (next, next.sum)
  }

  /** `iters` [[linearRound]]s from `x0`. Returns the last (x, Σx). */
  def linearRounds(adj: HopAdjacency, share: Array[Double], x0: Array[Double],
      iters: Int)(f: (Long, Double) => Double): (Array[Double], Double) = {
    var x = x0; var sum = 0.0
    for (_ <- 1 to iters) { val (nx, s) = linearRound(adj, share, x)(f); x = nx; sum = s }
    (x, sum)
  }

  /** Synchronous label propagation over a symmetric simple adjacency, with
    * [[GraphAlgorithms.lpMsg]] messages merged by
    * [[GraphAlgorithms.lpMergeMsgs]] and each new label the
    * [[GraphAlgorithms.lpMode]] of its neighbours'. Returns (labels,
    * rounds run). */
  def labelPropagation(adj: HopAdjacency, iters: Int,
      untilStable: Boolean): (Array[Long], Int) = {
    import GraphAlgorithms.{lpMergeMsgs, lpMode, lpMsg}
    var labels = adj.ids.clone()
    var i = 0
    var stable = false
    while (i < iters && !stable) {
      val prev = labels
      labels = Array.tabulate(adj.size) { v =>
        var m: Array[Long] = null
        for (j <- adj.offsets(v) until adj.offsets(v + 1)) {
          val one = lpMsg(prev(adj.nbrs(j)))
          m = if (m == null) one else lpMergeMsgs(m, one)
        }
        if (m == null) prev(v) else lpMode(m)
      }
      val changed = labels.indices.count(v => labels(v) != prev(v))
      stable = untilStable && changed == 0
      i += 1
    }
    (labels, i)
  }

  /** k-core peel rounds over a symmetric simple adjacency: each round every
    * live node of degree < k drops out and its live neighbours lose it; a
    * node left without neighbours drops too. Stops when a round removes no
    * edge or after `maxRounds`. Returns (live degree by ordinal, 0 = gone;
    * rounds run). */
  def kCore(adj: HopAdjacency, k: Int, maxRounds: Int): (Array[Int], Int) = {
    val n = adj.size
    val deg = Array.tabulate(n)(o => adj.offsets(o + 1) - adj.offsets(o))
    var total = deg.map(_.toLong).sum
    var rounds = 0
    var stable = total == 0
    while (rounds < maxRounds && !stable) {
      val removed = Array.tabulate(n)(o => deg(o) > 0 && deg(o) < k)
      for (v <- 0 until n if removed(v); j <- adj.offsets(v) until adj.offsets(v + 1)) {
        val u = adj.nbrs(j)
        if (deg(u) > 0 && !removed(u)) deg(u) -= 1
      }
      for (v <- 0 until n if removed(v)) deg(v) = 0
      val nextTotal = deg.map(_.toLong).sum
      stable = nextTotal == total
      total = nextTotal
      rounds += 1
    }
    (deg, rounds)
  }

  /** Core numbers by h-index refinement over a symmetric simple adjacency,
    * in the RDD path's bursts: `checkEvery` rounds between convergence
    * tests, so the round count (and the budget throw) match it. Round 1 is
    * the initial sweep. Returns (coreness by ordinal, rounds run,
    * converged). */
  def coreNumbers(adj: HopAdjacency, maxK: Int, maxRounds: Int,
      checkEvery: Int): (Array[Long], Int, Boolean) = {
    val n = adj.size
    val K = maxK
    def cap(c: Long): Int = if (c >= K) K else c.toInt
    val c0 = Array.tabulate(n)(o =>
      math.min((adj.offsets(o + 1) - adj.offsets(o)).toLong, K.toLong))
    val hist = Array.fill(n)(new Array[Long](K + 1))
    for (a <- 0 until n; j <- adj.offsets(a) until adj.offsets(a + 1))
      hist(adj.nbrs(j))(cap(c0(a))) += 1
    val c = Array.tabulate(n)(o => math.min(c0(o), GraphAlgorithms.hIndexOf(hist(o), K)))
    val prev = c0
    def frontier: Int = (0 until n).count(o => prev(o) > c(o))
    var frontierCount = frontier
    var round = 1
    val touched = new Array[Boolean](n)
    while (frontierCount > 0 && round < maxRounds) {
      var b = math.min(checkEvery, maxRounds - round)
      while (b > 0) {
        // deltas of this round's frontier, all read before any update
        java.util.Arrays.fill(touched, false)
        for (a <- 0 until n if prev(a) > c(a); j <- adj.offsets(a) until adj.offsets(a + 1)) {
          val h = hist(adj.nbrs(j))
          h(cap(prev(a))) -= 1; h(cap(c(a))) += 1
          touched(adj.nbrs(j)) = true
        }
        for (o <- 0 until n) {
          prev(o) = c(o)
          if (touched(o)) c(o) = math.min(c(o), GraphAlgorithms.hIndexOf(hist(o), K))
        }
        round += 1; b -= 1
      }
      frontierCount = frontier
    }
    (c, round, frontierCount == 0)
  }

  /** One Louvain level's `rounds` synchronous local-move rounds over
    * weighted canonical edges (a ≤ b; a = b is a self-loop), with
    * [[GraphAlgorithms]]' integer score, tie rule and bit staggering.
    * Returns each vertex's community. */
  def louvainLevel(ea: Array[Long], eb: Array[Long], ew: Array[Long],
      rounds: Int): LongMap[Long] = {
    import GraphAlgorithms.{louvainBest, louvainMoves, louvainScore}
    val self = LongMap.empty[Long]
    val cross = ea.indices.filter(i => ea(i) != eb(i))
    ea.indices.filter(i => ea(i) == eb(i))
      .foreach(i => self(ea(i)) = self.getOrElse(ea(i), 0L) + ew(i))
    // weights sum exactly as doubles: the score's own overflow bound
    // keeps every weight far below 2^53
    val adj = HopAdjacency(cross.map(ea).toArray ++ cross.map(eb),
      cross.map(eb).toArray ++ cross.map(ea),
      (cross.map(ew(_).toDouble) ++ cross.map(ew(_).toDouble)).toArray,
      self.keys.toArray)
    val n = adj.size
    val strength = Array.tabulate(n) { o =>
      var s = 2L * self.getOrElse(adj.ids(o), 0L)
      for (j <- adj.offsets(o) until adj.offsets(o + 1)) s += adj.weights(j).toLong
      s
    }
    val totW2 = strength.sum
    var labels = adj.ids.clone()
    for (t <- 1 to rounds) {
      val prev = labels
      val vol = LongMap.empty[Long]
      for (o <- 0 until n) vol(prev(o)) = vol.getOrElse(prev(o), 0L) + strength(o)
      labels = Array.tabulate(n) { o =>
        val cur = prev(o); val s = strength(o)
        val k = LongMap.empty[Long]
        for (j <- adj.offsets(o) until adj.offsets(o + 1)) {
          val cb = prev(adj.nbrs(j))
          k(cb) = k.getOrElse(cb, 0L) + adj.weights(j).toLong
        }
        // the stay candidate (k = 0) keeps the own community in play
        val best = k.foldLeft((louvainScore(totW2, 0L, s, vol(cur), own = true), cur)) {
          case (b, (cc, kk)) =>
            louvainBest(b, (louvainScore(totW2, kk, s, vol(cc), cc == cur), cc))
        }
        if (louvainMoves(adj.ids(o), t)) best._2 else cur
      }
    }
    val out = LongMap.empty[Long]
    for (o <- 0 until n) out(adj.ids(o)) = labels(o)
    out
  }

  /** Strongly connected components of the distinct directed edges of
    * `adj`, by [[GraphAlgorithms.stronglyConnectedComponents]]' trim,
    * colour and mark loop over the live subgraph: every removal there
    * drops the edges at a set of nodes, so the live edges are the ones
    * between live nodes. `budget` runs before every trim, colour and mark
    * round; `tooDeep` is called when the outer peel outlasts `numIter`.
    * Returns each ordinal's component (its own id unless marked). */
  def scc(adj: HopAdjacency, numIter: Int, budget: () => Unit,
      tooDeep: () => Nothing): Array[Long] = {
    val n = adj.size
    val rev = adj.transpose
    val alive = Array.fill(n)(true)
    val comp = adj.ids.clone()
    def live(u: Int, v: Int): Boolean = alive(u) && alive(v)
    def hasLive(a: HopAdjacency, o: Int): Boolean =
      (a.offsets(o) until a.offsets(o + 1)).exists(j => alive(a.nbrs(j)))
    def liveEdges: Long = (0 until n).iterator.filter(alive).map(o =>
      (adj.offsets(o) until adj.offsets(o + 1)).count(j => alive(adj.nbrs(j))).toLong).sum
    var edges = liveEdges
    def trimToFixpoint(): Unit = {
      var stable = edges == 0
      while (!stable) {
        budget()
        // keep = live sources ∩ live targets of a live edge
        val keep = Array.tabulate(n)(o => alive(o) && hasLive(adj, o) && hasLive(rev, o))
        System.arraycopy(keep, 0, alive, 0, n)
        val m = liveEdges
        stable = m == edges
        edges = m
      }
    }
    trimToFixpoint()
    var outer = 0
    while (edges > 0) {
      if (outer >= numIter) tooDeep()
      // forward-min colouring of every live edge's endpoints
      val color = adj.ids.clone()
      val colored = Array.tabulate(n)(o => alive(o) && (hasLive(adj, o) || hasLive(rev, o)))
      minLabelRounds(adj, color, colored, colored.clone(), budget)(live)
      // backward reach from the roots within each colour
      val mark = adj.ids.clone()
      val marked = Array.tabulate(n)(o => colored(o) && color(o) == adj.ids(o))
      minLabelRounds(rev, mark, marked, marked.clone(), budget)((u, w) =>
        live(u, w) && color(u) == color(w))
      for (o <- 0 until n if marked(o)) { comp(o) = mark(o); alive(o) = false }
      edges = liveEdges
      trimToFixpoint()
      outer += 1
    }
    comp
  }
}
