package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * All math is done with higher-order array expressions in double precision
  * (deterministic left-to-right folds — reproducible across engines and
  * cluster sizes). No UDFs.
  *
  * Scale design:
  *  - [[bruteForceTopK]] broadcasts the (small) query set and scans the
  *    corpus once: cost O(|Q|·N·d) FLOPs, one shuffle for the per-query
  *    top-k (partial `row_number` prune happens map-side via
  *    TakeOrdered-style window + filter under AQE).
  *  - [[lshTopK]] buckets vectors by a deterministic random-hyperplane
  *    sign code and only compares within matching buckets — the 100 TB
  *    path: candidate generation is an equi-join on the code, so the
  *    all-pairs scan disappears; recall is tunable via `planes` (code
  *    width) and `probes` is emulated by comparing codes within Hamming
  *    distance 1 (bit-flip expansion of the query code).
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Generic HOF dot product — interpreted per element; fine for one-off
    * per-row use, too slow for the per-candidate hot path (use [[dotFixed]]
    * with a known dimension there: unrolled, whole-stage-codegen'd, and the
    * same left-to-right summation order, so results are bit-identical). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Fused-loop native expression (see graft.functions.DotProduct): the
    * codegen'd loop runs over the arrays' common length. */
  def dotFixed(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def normFixed(a: Column): Column = sqrt(dotFixed(a, a))

  /** Embedding dimension of the fixture corpus (embeddings.parquet). */
  val DefaultDim = 64

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded). Similarity is rounded to 6 dp before ranking
    * (with id tie-break) so results are stable across summation orders. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)

    // repartition: spread the O(|Q|·N·d) dot-product work across cores even
    // when the corpus arrives as a single input split
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .repartition(col("nid"))
      .withColumn("cnorm", normFixed(col("cv")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))

    val sims = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))

    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Recall@k of an approximate ANN result against the exact one: per
    * query, the fraction of true top-k neighbors the approximate index
    * found. The in-engine quality gauge a pipeline runs after (re)building
    * an index or tuning nprobe/tables — at 100 TB nobody eyeballs ANN
    * output, they gate deploys on this number.
    *
    * Takes the two (qid, nid, …) top-k frames any of [[bruteForceTopK]] /
    * [[lshTopK]] / [[ivfTopK]] produce (extra columns ignored), so it
    * composes with every index family and with persisted variants. Both
    * inputs are |queries|·k rows — vanishingly small next to the ANN
    * computations they summarize — so the equi-join broadcasts and the
    * per-query aggregation never becomes a scale concern. `n_true` is
    * reported separately because a small corpus (or filtered probe) can
    * yield fewer than k true neighbors; recall divides by what exists,
    * not by nominal k. */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("qid"), col("nid")).alias("a")
    exact.select(col("qid"), col("nid")).alias("e")
      .join(a, col("e.qid") === col("a.qid") && col("e.nid") === col("a.nid"),
        "left_outer")
      .groupBy(col("e.qid"))
      .agg(
        count(col("a.nid")).as("hits"),
        count(lit(1)).as("n_true"),
        round(count(col("a.nid")).cast("double") / count(lit(1)), 4).as("recall"))
  }

  // ---- product quantization (compressed-domain ANN) -----------------------

  /** Deterministic PQ codebook `[subspace][centroid][dim]` from a seeded
    * RNG, values in the embedding fixture's [−0.5, 0.5] range — shared
    * between the Spark plan and the DuckDB oracle-SQL generator so both
    * engines evaluate the identical codebook (the [[planeSigns]]
    * pattern). A production pipeline trains these per-subspace with
    * k-means ([[kmeansAssign]] family) offline and passes them in; the
    * operators below take ANY codebook. */
  def pqCodebook(m: Int = 8, kCent: Int = 16, dSub: Int = 8,
      seed: Long = 11L): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(m)(IndexedSeq.fill(kCent)(IndexedSeq.fill(dSub)(
      rnd.nextDouble() - 0.5)))
  }

  private def cbLit(cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    array(cb.map(mm => array(mm.map(kk => array(kk.map(lit): _*)): _*)): _*)

  /** Squared L2 distance between subvector `m` of `v` and centroid `cent`,
    * folded d = 0..dSub−1 in order — the oracle folds identically, so the
    * IEEE sum (and hence every argmin/ranking decision) is engine-exact. */
  private def subDist2(v: Column, cent: Column, mIdx: Column, dSub: Int): Column =
    aggregate(sequence(lit(0), lit(dSub - 1)), lit(0.0), (acc, d) => {
      val diff = element_at(v, (mIdx * dSub + d + 1).cast("int")) -
        element_at(cent, (d + 1).cast("int"))
      acc + diff * diff
    })

  /** PQ encoding: each vector compresses to `m` centroid indices (its
    * nearest centroid per subspace; ties → lowest index via
    * `array_position(dists, array_min(dists))`, the first occurrence).
    * Returns (vec_id, codes array<int>).
    *
    * THE 100 TB point of PQ: the scan side of ADC search reads m bytes
    * per vector instead of 4·dim — a 32× smaller corpus footprint here —
    * and encoding is a single narrow projection, zero shuffle.
    *
    * Perf shape: the encode is the fused native expression
    * [[graft.functions.PqEncodeExpr]] — both the HOF-lambda and the
    * unrolled-literal formulations of the same arithmetic evaluate
    * INTERPRETED (HOF bodies get no codegen; ~3k-node literal trees
    * compile past the JIT method limit and the stage silently falls
    * back — both profiled ~1 ms/row), where the fused loop is
    * microseconds. The left-to-right distance sum and first-minimum
    * scan reproduce the oracle's fold bit-exactly. */
  def pqEncode(vectors: DataFrame,
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val m = cb.size; val kCent = cb.head.size; val dSub = cb.head.head.size
    vectors.select(col(idCol).as("vec_id"),
      GraftFunctions.pqEncode(col(vecCol),
        cb.flatten.flatten.toArray, m, kCent, dSub).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    * `[m][kCent]` lookup table of subspace distances to every centroid is
    * computed ONCE, broadcast with the query, and each corpus vector
    * scores as `Σ_m lut[m][code_m]` — table lookups and `m−1` additions
    * per vector instead of a `dim`-wide float scan. Smallest distance
    * wins; ties → lowest nid. Returns (qid, nid, adist 6-dp, rank ≤ k).
    *
    * Scale shape: identical to [[bruteForceTopK]]'s broadcast-queries ×
    * corpus scan, but over the 32×-compressed codes — the form that
    * makes exhaustive re-ranking viable at 100 TB (and the re-rank
    * stage after an IVF probe). The per-query top-k window never
    * materializes a global sort. */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame,
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = cb.size; val dSub = cb.head.head.size
    val cbc = cbLit(cb)
    val q = queries
      .select(col(idCol).as("qid"), toDouble(col(vecCol)).as("__qv"))
      .select(col("qid"),
        transform(sequence(lit(0), lit(m - 1)), mIdx =>
          transform(
            element_at(cbc, (mIdx + 1).cast("int")),
            cent => subDist2(col("__qv"), cent, mIdx, dSub))).as("__lut"))
    val c = codes.select(col("vec_id").as("nid"), col("codes"))
      .repartition(col("nid"))
    // unrolled table-lookup sum (left-assoc, oracle fold order) — plain
    // element_at chains stay codegen'd, unlike a HOF fold
    val adcSum = (0 until m).map(mi =>
        element_at(element_at(col("__lut"), mi + 1),
          element_at(col("codes"), mi + 1) + 1))
      .reduceLeft(_ + _)
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), round(adcSum, 6).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "adist", "rank")
  }

  /** Two-stage retrieval: [[pqAdcTopK]] shortlists `kCand` candidates per
    * query over the 32×-compressed codes, then ONLY those candidates'
    * raw vectors are fetched and re-ranked by exact cosine — the
    * production ANN serving shape (compressed scan for coverage, exact
    * math for the final order). Returns (qid, nid, sim 6-dp, rank ≤ k).
    *
    * Scale arithmetic: the exact-math stage touches `|q|·kCand` vectors
    * instead of N — at 100 TB the full-precision corpus is only ever
    * read through the candidate semi-join (a partition-prunable id
    * join), while the exhaustive pass streams codes. Recall is bounded
    * by the shortlist; [[annRecall]] against [[bruteForceTopK]] is the
    * deploy gate for choosing `kCand`. */
  def pqRerankTopK(corpus: DataFrame, codes: DataFrame, queries: DataFrame,
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], kCand: Int = 25,
      k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val cand = pqAdcTopK(codes, queries, cb, kCand, idCol, vecCol)
      .select(col("qid"), col("nid"))
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cnorm", normFixed(col("cv")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))
    val exact = cand.join(c, "nid").join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** IVF-PQ composed ANN — the FAISS "IVFADC" serving shape (Jégou et
    * al. 2011, "Product Quantization for Nearest Neighbor Search" §IV):
    * the deterministic coarse quantizer ([[ivfTopK]]'s — seeded by
    * lowest ids, 9-dp Lloyd means) prunes the search to each query's
    * `nprobe` nearest inverted lists, and WITHIN those lists vectors
    * score by PQ asymmetric distance over the m-byte codes instead of
    * full-precision vectors. Smallest ADC distance wins; ties → lowest
    * nid. Returns (qid, nid, adist 6-dp, rank ≤ k).
    *
    * This composes the two pruning axes that individually power
    * [[ivfTopK]] (scan fraction falls as nprobe·√N/N) and [[pqAdcTopK]]
    * (scan PAYLOAD falls 32×): at 100 TB the per-query read is
    * `nprobe·(N/nlist)·m` bytes — partition-pruned AND compressed, which
    * is why it is the standard billion-scale serving layout. Encoding
    * runs once per corpus vector through the fused
    * [[graft.functions.PqEncodeExpr]] codegen pass; the inverted lists
    * carry (list_id, nid, codes) only. Each corpus vector lives in
    * exactly ONE list, so probe joins never duplicate a (qid, nid) pair
    * and no distinct is needed. Chain [[pqRerankTopK]]-style exact
    * re-ranking on top when the final order must be full-precision. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], k: Int = 5,
      nlist: Int = 0, nprobe: Int = 4, refineIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val m = cb.size; val kCent = cb.head.size; val dSub = cb.head.head.size
    val c = prepIvfCorpus(corpus, idCol, vecCol)
    val corpusSize = c.count()
    if (corpusSize == 0L) {
      import corpus.sparkSession.implicits._
      return Seq.empty[(Long, Long, Double, Int)].toDF("qid", "nid", "adist", "rank")
    }
    val cents = trainCentroids(c, autoNlist(nlist, corpusSize), refineIters)

    // compressed inverted lists: (list_id, nid, codes) — m bytes of
    // payload per vector; the full-precision cv never leaves this select
    val lists = assignLists(c, cents)
      .select(col("list_id"), col("nid"),
        GraftFunctions.pqEncode(col("cv"),
          cb.flatten.flatten.toArray, m, kCent, dSub).as("codes"))

    // per query: the nprobe best lists (as in ivfTopK) and the
    // [m][kCent] ADC lookup table (as in pqAdcTopK), computed once and
    // broadcast — queries are small by contract
    val probes = math.max(1, math.min(nprobe, cents.size))
    val cbc = cbLit(cb)
    val qAssigned = queries
      .select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))
      .withColumn("__lut", transform(sequence(lit(0), lit(m - 1)), mIdx =>
        transform(element_at(cbc, (mIdx + 1).cast("int")),
          cent => subDist2(col("qv"), cent, mIdx, dSub))))
      .withColumn("probe",
        explode(slice(array_sort(centSims(col("qv"), col("qnorm"), cents)),
          -probes, probes)))
      .select(col("qid"), col("__lut"), (-col("probe.negid")).as("list_id"))

    // unrolled table-lookup sum, left-assoc — the pqAdcTopK fold order,
    // so the oracle's list_reduce reproduces the IEEE sum bit-exactly
    val adcSum = (0 until m).map(mi =>
        element_at(element_at(col("__lut"), mi + 1),
          element_at(col("codes"), mi + 1) + 1))
      .reduceLeft(_ + _)
    val scored = lists.join(broadcast(qAssigned), Seq("list_id"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), round(adcSum, 6).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "adist", "rank")
  }

  /** IVF-PQ shortlist + exact refine — FAISS's IVFADC+refine serving
    * shape, and THE shortlist source for [[hardNegativesFrom]] at scale:
    * [[ivfPqTopK]] prunes to each query's nprobe lists and shortlists
    * kCand candidates by compressed ADC distance, then ONLY those
    * candidates' full-precision vectors are fetched (an id-keyed,
    * partition-prunable semi-join — kCand·|q| rows, never N) and
    * re-ranked by exact cosine. Returns (qid, nid, sim 6-dp, rank ≤ k).
    *
    * Cost at 100 TB: the exhaustive pass reads `nprobe·(N/nlist)·m`
    * BYTES of codes, and exact math touches kCand·|q| vectors — the
    * brute-force O(|q|·N·dim) float scan never runs. Recall is bounded
    * by the shortlist; gauge with [[annRecall]] to size kCand/nprobe. */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame,
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]], kCand: Int = 25,
      k: Int = 5, nlist: Int = 0, nprobe: Int = 4, refineIters: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val cand = ivfPqTopK(corpus, queries, cb, kCand, nlist, nprobe,
        refineIters, idCol, vecCol)
      .select(col("qid"), col("nid"))
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cnorm", normFixed(col("cv")))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))
    val exact = cand.join(c, "nid").join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Deterministic ±1 hyperplane signs from a seeded RNG — shared between
    * the Spark plan and the DuckDB oracle-SQL generator
    * (`graft.gate.SimilarityGates`), so both engines evaluate identical
    * planes. */
  def planeSigns(planes: Int, dim: Int, seed: Long): Seq[Seq[Boolean]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextBoolean()))
  }

  /** Plane sign vectors as literal arrays — evaluated once per row, codegen'd. */
  private def planeLits(planes: Int, dim: Int, seed: Long): Seq[Column] =
    planeSigns(planes, dim, seed).map(signs =>
      array(signs.map(s => lit(if (s) 1.0 else -1.0)): _*))

  /** Sign-random-projection code: bit p set iff v · plane_p > 0. */
  def srpCode(v: Column, planes: Int, dim: Int, seed: Long = 7L): Column =
    planeLits(planes, dim, seed).zipWithIndex.map { case (p, i) =>
      when(dotFixed(v, p) > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Multi-table LSH ANN (classic (L, b) sign-random-projection scheme):
    * L independent b-bit code tables; a corpus vector is a candidate if it
    * shares a code with the query in ANY table (plus Hamming-1 probes per
    * table). Exact cosine + top-k within candidates.
    *
    * Recall for bit-agreement prob p is 1−(1−p^b)^L — tuned via (L, b);
    * b should grow ~log2(N) so bucket occupancy stays constant. Candidate
    * generation is an equi-join on (table, code): at 100 TB this replaces
    * the all-pairs scan with L bounded bucket joins. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int = 5, planes: Int = 6,
      tables: Int = 8, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)

    // fused native expression: the composed array(srpCode × L) form
    // generates L·b·dim statements and falls out of JIT compilation at
    // realistic (L, b) — see SrpCodesExpr scaladoc. Bit-identical codes.
    def codes(v: Column): Column =
      GraftFunctions.srpCodes(v, tables, planes, dim)

    // Vectors and codes are SEPARATE tables: the bucket join + candidate
    // dedup flow only (id, table, code) — two longs and a short — never the
    // 64-double embedding payload. Round 1 carried the vectors through the
    // candidate join, which multiplied the shuffled bytes by the bucket
    // occupancy (quadratic in corpus-per-bucket: the sf1 bench spent 68 s
    // here). Vectors re-join AFTER the (qid, nid) distinct, so each dot
    // product is computed exactly once per unique candidate pair.
    val cVecs = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .repartition(col("nid"))
      .withColumn("cnorm", normFixed(col("cv")))
      .transform(PipelineCaches.track)
    val cCodes = cVecs.select(col("nid"),
      posexplode(codes(col("cv"))).as(Seq("tbl", "code")))

    val qVecs = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))
    // per-table probe expansion: own code + all Hamming-1 codes
    val probes = array((col("qcode") +: (0 until planes).map(i =>
      col("qcode").bitwiseXOR(lit(1L << i)))): _*)
    val qProbes = qVecs
      .select(col("qid"), posexplode(codes(col("qv"))).as(Seq("tbl", "qcode")))
      .withColumn("probe", explode(probes))
      .select(col("qid"), col("tbl").as("qtbl"), col("probe"))

    val candIds = cCodes.join(broadcast(qProbes),
        col("tbl") === col("qtbl") && col("code") === col("probe") &&
        col("qid") =!= col("nid"))
      .select("qid", "nid")
      .distinct() // a candidate may match several tables/probes

    val sims = candIds
      .join(broadcast(qVecs), "qid")
      .join(cVecs, "nid")
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))

    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Embedding-cosine near-duplicate PAIRS: all (a < b) with
    * cosine(v_a, v_b) >= threshold — the embedding-space member of the
    * dedup family (exact, MinHash, SimHash, n-gram, embedding-cosine).
    *
    * Candidate generation is multi-table SRP-LSH with an exact-code
    * equi-join, never all-pairs. Three properties keep it sub-quadratic
    * with a QUANTIFIED recall floor at ANY corpus size:
    *
    *  - **Adaptive code width**: `planes = 0` (default) sizes the code as
    *    b = max(8, ⌈log2(N/32)⌉), so expected bucket occupancy stays
    *    ~constant as the corpus grows — candidate count is
    *    O(N·L·occupancy), not O(N²/2^b) with a fixed b. (A fixed 8-bit
    *    code was measured quadratic at 40k vectors: 400 s.)
    *  - **Adaptive table count**: growing b hurts recall for pairs AT the
    *    threshold (per-table bit agreement p = 1 − θ/π, per-table miss
    *    1 − p^b rises with b), so `tables = 0` (default) solves
    *    (1 − p^b)^L <= 1e-6 for L at the threshold angle — every pair
    *    with cosine >= threshold is caught with probability >= 1 − 1e-6
    *    regardless of corpus size, and pairs closer than the threshold
    *    (the actual duplicates, cosine -> 1, p -> 1) are caught with
    *    correspondingly higher probability. Candidates are still
    *    exact-verified, so precision is always 1.
    *  - The bucket join flows only (id, table, code); vectors re-join once
    *    per unique candidate pair, and `maxBucketSize` caps degenerate
    *    buckets (a corpus of near-identical vectors).
    *
    * Intended for true near-dup thresholds (>= ~0.95): the closer the
    * threshold is to 1, the smaller the solved L. */
  def cosinePairs(
      vectors: DataFrame, threshold: Double = 0.95, planes: Int = 0,
      tables: Int = 0, dim: Int = 64, maxBucketSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)

    val vecs = vectors.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .repartition(col("id"))
      .withColumn("nrm", normFixed(col("v")))
      .transform(PipelineCaches.track)

    // adaptive code width: constant expected bucket occupancy (~32).
    // The count() is one cheap job over the already-persisted vectors.
    val b =
      if (planes > 0) planes
      else math.max(8, math.ceil(
        math.log(math.max(vecs.count(), 64L).toDouble / 32.0) / math.log(2.0)).toInt)
    // adaptive table count: per-table agreement at the THRESHOLD angle,
    // solved for an all-tables miss rate <= 1e-6 (see scaladoc). Capped at
    // 64: thresholds much below ~0.95 would otherwise solve to hundreds of
    // tables (p^b collapses) — beyond the cap the recall floor degrades
    // gracefully instead of the job exploding, and such thresholds are
    // outside this operator's documented near-dup regime anyway.
    val L =
      if (tables > 0) tables
      else {
        val p = 1.0 - math.acos(math.min(threshold, 1.0)) / math.Pi
        val tableMiss = 1.0 - math.pow(p, b)
        math.min(64, math.max(4,
          math.ceil(math.log(1e-6) / math.log(tableMiss)).toInt))
      }

    // fused native expression (see SrpCodesExpr scaladoc; bit-identical)
    def codesArr(v: Column): Column =
      GraftFunctions.srpCodes(v, L, b, dim)
    // The code explode feeds the bucket aggregate and both self-join
    // probe sides; each re-derives the SRP codes over the PERSISTED
    // vecs. An r18 probe repartitioned this by (tbl, code) to fuse all
    // three onto one exchange (the dupSpanStarts shape): measured
    // 1.69× SLOWER on p_dedup_embed (min-of-7 back-to-back, sentinels
    // flat) — shuffling L·N code rows costs more than re-running the
    // fused SRP expression over cached vectors, and the planner kept a
    // broadcast build on top of the shuffle. Same lesson as the ngram
    // PPJoin prefix probe (Dedup.scala): duplication over a cached
    // input is the cheap regime; leave it.
    val codes = vecs.select(col("id"),
      posexplode(codesArr(col("v"))).as(Seq("tbl", "code")))

    val okBuckets = codes.groupBy("tbl", "code").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1)
      .select("tbl", "code")
    val inBuckets = codes.join(okBuckets, Seq("tbl", "code"))

    val cand = inBuckets.alias("x").join(inBuckets.alias("y"),
        col("x.tbl") === col("y.tbl") && col("x.code") === col("y.code") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    cand
      .join(vecs.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(vecs.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(dotFixed(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Seeded ±1 random-projection dimensionality reduction (Achlioptas
    * sign matrix): out_i = (1/√outDim) · v·s_i with s_i from the shared
    * seeded RNG ([[planeSigns]] — the same generator the LSH oracle
    * mirrors), components rounded to 6 dp. Distance-preserving in
    * expectation (JL lemma); the cheap approximate-embedding path when
    * full vectors are too wide to shuffle. Pure projection — codegen'd
    * fused dots against literal sign vectors, no shuffle. `outDim` is a
    * perfect square by default so 1/√outDim is exact in binary and the
    * SQL mirror is bit-identical. */
  def reduceDim(
      vectors: DataFrame, outDim: Int = 16, dim: Int = DefaultDim,
      seed: Long = 11L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val comps = planeSigns(outDim, dim, seed).map { s =>
      val plane = array(s.map(b => lit(if (b) 1.0 else -1.0)): _*)
      round(dotFixed(col("__v"), plane) * scale, 6)
    }
    vectors.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .select(col(idCol), array(comps: _*).as("reduced"))
  }

  /** Symmetric int8 quantization per vector: scale = max|x|/127, stored
    * value = round(x/scale) ∈ [-127, 127]. The storage-path op for
    * embedding stores — 4× smaller than float32, 8× than float64; cosine
    * on int8 is exact enough for candidate generation with the fp
    * re-check done on the (rare) retrieved vectors. Pure projection: no
    * shuffle, scales with input splits. The scale factor is staged as a
    * materialized column (HOF lambdas get no CSE — computing it inline
    * would re-run the max fold per element). Zero vectors quantize to
    * zeros with scale 0. */
  def quantizeInt8(
      vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .withColumn("__maxabs", array_max(transform(col("__v"), x => abs(x))))
      .select(
        col(idCol),
        round(col("__maxabs") / 127.0, 9).as("scale"),
        when(col("__maxabs") === 0.0,
          transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"),
            x => round(x * 127.0 / col("__maxabs"), 0).cast("long")))
          .as("q"))

  /** A coarse centroid held on the driver: `nlist × dim` doubles — a few
    * KB even at nlist = √(10⁹). Shipping centroids as expression literals
    * (task-binary broadcast) makes every assignment a flat per-row argmax:
    * no centroid join, no window, no shuffle. */
  private case class Centroid(id: Long, cent: Array[Double], norm: Double)

  /** Per-row array of `(csim, -cent_id)` structs against the centroid
    * set, fused into one compiled pass ([[graft.functions
    * .CentroidSimsExpr]] — the literal `array(struct(...) × nlist)` form
    * blew past JIT method limits and dropped the stage into the bytecode
    * interpreter, and bounded nlist at ≈4k on codegen size). Struct
    * ordering is lexicographic, so `array_max` = best csim with ties to
    * the LOWER cent_id, and an ascending `array_sort` ends with the best
    * entries. Centroids must arrive sorted by ascending id. */
  private def centSims(v: Column, vnorm: Column, cents: Seq[Centroid]): Column =
    GraftFunctions.centroidSims(v, vnorm,
      cents.map(_.id).toArray, cents.flatMap(_.cent.toSeq).toArray,
      cents.map(_.norm).toArray, DefaultDim)

  /** Within-run sharing of the IVF prep and Lloyd train (r18):
    * compositions run SEVERAL quantizer-backed operators over the same
    * corpus — hard-negative mining pairs an ANN shortlist with a kmeans
    * exclusion assignment — and each built its own identical persisted
    * prep and re-ran the identical deterministic centroid train (the
    * train is a pure function of (corpus, lists, refineIters): seeded by
    * lowest ids, means 9-dp rounded). Both are [[PipelineCaches.memo]]
    * entries keyed on the CANONICALIZED analyzed plan (+ train params),
    * so only plan-identical corpora share, and only within one cache
    * scope: an entry is released with the scope that built it, exactly
    * like the persisted frames themselves, so nothing survives a bench
    * iteration, server request or stream micro-batch.
    *
    * Staleness contract: the key is the plan, not the data. A table
    * overwritten WITHIN one scope still hands a plan-identical corpus
    * the prep and centroids built before the overwrite — the same
    * contract as a persisted frame over that table, but easier to miss.
    * A caller that rewrites its corpus mid-scope reads the rewritten
    * table inside a new [[PipelineCaches.scoped]] block. */
  private def prepIvfCorpus(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val shaped = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .filter(col("cv").isNotNull)
    PipelineCaches.memo(shaped.queryExecution.analyzed.canonicalized) {
      shaped
        .repartition(col("nid"))
        .withColumn("cnorm", normFixed(col("cv")))
        .transform(PipelineCaches.track)
    }
  }

  /** `nlist = 0` auto-scales to ~√N capped at 4096 (see [[ivfTopK]]). */
  private def autoNlist(nlist: Int, corpusSize: Long): Int =
    if (nlist > 0) nlist
    else math.min(4096L, math.max(1L, math.round(math.sqrt(corpusSize.toDouble)))).toInt

  private def collectCents(df: DataFrame): Seq[Centroid] =
    df.collect().toSeq
      .map(r => Centroid(r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_.id)

  /** Nearest centroid per corpus row: flat argmax over the literal
    * centroid set — narrow, no join, no window. */
  private def assignLists(c: DataFrame, cents: Seq[Centroid]): DataFrame =
    c.withColumn("best", array_max(centSims(col("cv"), col("cnorm"), cents)))
      .select(col("nid"), col("cv"), col("cnorm"),
        (-col("best.negid")).as("list_id"))

  /** Deterministic coarse quantizer shared by [[ivfTopK]], [[kmeansAssign]]
    * and [[buildIvfIndex]]: seeds = the `lists` lowest-id vectors, then
    * `refineIters` Lloyd steps. Each step is ONE corpus pass (fused argmax
    * + a map-side-combinable mean aggregate; the shuffle carries
    * lists·dim doubles per partition); the driver only ever holds `lists`
    * centroid rows.
    *
    * Means are ROUNDED to 9 dp: Spark's partial-aggregate combine order is
    * nondeterministic, so unrounded means differ by ulps across runs and
    * engines; 9 dp (vs the 1e-16 noise floor) pins the centroid
    * coordinates themselves, making everything downstream exactly
    * reproducible rather than merely round-absorbed at the csim stage. */
  private def trainCentroids(c: DataFrame, lists: Int, refineIters: Int): Seq[Centroid] = {
    // memoized per (corpus plan, lists, refineIters) in the cache scope —
    // see prepIvfCorpus's scaladoc; the train is deterministic, so
    // sharing it is result-invisible
    val key = (c.queryExecution.analyzed.canonicalized, lists, refineIters)
    PipelineCaches.memo(key) {
      // deterministic seeds: the `lists` lowest-id vectors
      var cents = collectCents(
        c.orderBy("nid").limit(lists)
          .select(col("nid"), col("cv"), col("cnorm")))
      // Lloyd refinement: element-wise mean per list (empty lists drop out)
      for (_ <- 0 until refineIters) {
        val avgCols = array((0 until DefaultDim).map(i =>
          round(avg(element_at(col("cv"), i + 1)), 9)): _*)
        cents = collectCents(
          assignLists(c, cents)
            .groupBy(col("list_id"))
            .agg(avgCols.as("cent"))
            .select(col("list_id"), col("cent"),
              normFixed(col("cent")).as("centnorm")))
      }
      cents
    }
  }

  /** L2-normalize an embedding column (cosine-ready storage: after this,
    * dot = cosine and downstream ops skip the norm divide). Components
    * round to 6 dp for engine-portable determinism; all-zero vectors map
    * to NULL rather than dividing by zero. Pure narrow projection. */
  def normalizeL2(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    // staged projection: the norm must be a materialized attribute before
    // the lambda divides by it (no CSE inside lambda bodies — the inlined
    // form recomputes the norm PER ELEMENT; see shinglesFromTokens)
    vectors.select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .withColumn("__n", normFixed(col("__v")))
      .select(col(idCol),
        when(col("__n") === 0.0, lit(null))
          .otherwise(transform(col("__v"), x => round(x / col("__n"), 6)))
          .as("unit"))
  }

  /** Distribution-shift gauge between corpus slices: the pairwise cosine
    * between per-group embedding CENTROIDS ([[meanPool]] of each group's
    * vectors). Two sources whose centroids sit far apart in embedding
    * space are different distributions — the number a mixture-weight or
    * rebalancing decision is sanity-checked against, and the drift alarm
    * between two crawl snapshots. Composes with any embedding source
    * (hashedTfidf gives it without an external model). Output is the
    * upper triangle (a < b), |groups|² rows at most — a broadcast-sized
    * frame however large the corpus; the corpus itself pays only
    * meanPool's group aggregation. NULL vectors (e.g. empty docs) are
    * excluded before pooling. */
  def centroidShift(vectors: DataFrame, groupCol: String = "source",
      orderCol: String = "doc_id", vecCol: String = "vec"): DataFrame = {
    GraftFunctions.register(vectors.sparkSession)
    // means appears on both sides of the pairwise non-equi self-join
    // below, but its expensive prefix (for hashedTfidf inputs the whole
    // tokenize → tf → assemble chain) ends in identical Exchanges that
    // AQE's runtime stage reuse already shares; an r17 A/B that
    // persisted means here measured neutral-to-slower (min-of-10 at
    // sf0.1: 2.30 → 2.43 s), so no cache — only the post-exchange final
    // aggregates run twice, and they are |groups|-bounded.
    val means = meanPool(vectors.filter(col(vecCol).isNotNull),
      groupCol, orderCol, vecCol)
    val a = means.select(col(groupCol).as("src_a"), col("vec").as("__va"))
    val b = means.select(col(groupCol).as("src_b"), col("vec").as("__vb"))
    // explicit broadcast: means is |groups| rows BY CONSTRUCTION (the
    // scaladoc's "broadcast-sized frame however large the corpus"), but
    // Spark's size ESTIMATE of the aggregate depends on the upstream
    // chain — the r18 hashedTfidf reshape flipped the estimate past the
    // auto-broadcast threshold and this non-equi join degraded from
    // BroadcastNestedLoopJoin to CartesianProduct (caught by PlanSpec's
    // no-CartesianProduct census). Pin the strategy to the construction.
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(dotFixed(col("__va"), col("__vb")) /
          (normFixed(col("__va")) * normFixed(col("__vb"))), 6)
          .as("cosine"))
  }

  /** Hard-negative mining for retrieval/contrastive training: each
    * query's top-k most-similar vectors EXCLUDING its own cluster —
    * similar-but-not-near-duplicate is exactly what a contrastive
    * objective wants as a negative (an accidental near-dup labeled
    * "negative" teaches the model wrong; Karpukhin et al. 2020's BM25
    * hard negatives have the same failure mode). Composes ANY candidate
    * top-k frame source (here the exact brute-force kCand shortlist; an
    * IVF/PQ shortlist drops in identically) with ANY cluster assignment
    * ([[kmeansAssign]] semantic clusters, or [[graft.pipeline.Dedup.dupClusters]]
    * ids mapped into vector space). Cost beyond the candidate mine: two
    * id-keyed joins on the kCand·|q| candidate rows and a per-query
    * re-rank window bounded by kCand. Queries whose whole shortlist is
    * same-cluster return fewer than k rows — widen kCand, not k.
    *
    * This form mines the shortlist exhaustively ([[bruteForceTopK]],
    * O(|q|·N) — the recall-oracle fixture); the 100 TB path feeds an ANN
    * shortlist through [[hardNegativesFrom]] instead (see
    * [[ivfPqRerankTopK]] for the composed serving shape). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      clusters: DataFrame, k: Int = 5, kCand: Int = 25,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    hardNegativesFrom(
      bruteForceTopK(corpus, queries, kCand, idCol, vecCol),
      clusters, k, idCol)
  }

  /** [[hardNegatives]]' exclusion + re-rank half over ANY candidate
    * shortlist frame (qid, nid, sim) — brute-force, [[pqRerankTopK]], or
    * [[ivfPqRerankTopK]] output all drop in. This is the contract the
    * scaladoc above promises: at 100 TB the shortlist comes from the
    * compressed, partition-pruned index, and this function only ever
    * touches kCand·|q| candidate rows (two id-keyed joins + a per-query
    * window bounded by kCand). */
  def hardNegativesFrom(candidates: DataFrame, clusters: DataFrame,
      k: Int = 5, idCol: String = "vec_id"): DataFrame = {
    val cl = clusters.select(col(idCol), col("cluster_id"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    candidates.select(col("qid"), col("nid"), col("sim"))
      .join(cl.select(col(idCol).as("qid"), col("cluster_id").as("__qc")), "qid")
      .join(cl.select(col(idCol).as("nid"), col("cluster_id").as("__nc")), "nid")
      .filter(col("__qc") =!= col("__nc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Chunk→document embedding pooling: the element-wise MEAN of each
    * group's vectors — how a long document gets one embedding from its
    * chunk embeddings (compose with [[graft.pipeline.Corpus.chunkDocuments]]
    * + any embedder). Engine-exact float contract: the group's vectors
    * fold in ascending `orderCol` order (collect → array_sort → left
    * fold), the sorted-fold determinism rule every float aggregate here
    * follows — an unordered SQL SUM would be association-nondeterministic
    * across engines AND across Spark runs. Components round to 6 dp;
    * + 0.0 folds the single-chunk -0.0 corner. State is per-GROUP (a
    * doc's own chunks, tens of rows), so the collect_list is bounded by
    * document length, never corpus size — safe at any corpus scale. */
  def meanPool(chunks: DataFrame, groupCol: String = "doc_id",
      orderCol: String = "chunk_id", vecCol: String = "vec"): DataFrame =
    chunks
      .select(col(groupCol), struct(col(orderCol).as("o"),
        toDouble(col(vecCol)).as("v")).as("__c"))
      .groupBy(groupCol)
      .agg(array_sort(collect_list(col("__c"))).as("__cs"),
        count(lit(1)).as("__n"))
      .select(col(groupCol),
        transform(
          aggregate(col("__cs"),
            transform(element_at(col("__cs"), 1).getField("v"), _ => lit(0.0)),
            (acc, c) => zip_with(acc, c.getField("v"), (a, x) => a + x)),
          s => round(s / col("__n"), 6) + lit(0.0)).as("vec"))

  /** Cluster-balanced diversity sampling (the SemDeDup/DataComp-style
    * subset selection): k-means-assign every vector, then keep the
    * `perCluster` vectors CLOSEST to their centroid (most representative;
    * ties to lower id). Sampling per cluster instead of globally keeps
    * rare modes in the subset — a global top-n by any score collapses to
    * the dominant cluster.
    *
    * Scale: [[kmeansAssign]]'s passes plus one per-cluster window whose
    * partitions are cluster-sized. Returns (idCol, cluster_id, sim, rk). */
  def diversitySample(vectors: DataFrame, perCluster: Int, k: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("sim").desc, col(idCol).asc)
    kmeansAssign(vectors, k, iters = 1, idCol, vecCol)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perCluster)
  }

  /** Deterministic k-means cluster assignment over the embedding column —
    * the clustering half of [[ivfTopK]] exposed as its own operator
    * (cluster-conditioned curation, diversity sampling, per-cluster
    * quota mixes all want the assignment, not the ANN search). Identical
    * quantizer: seeds = the k lowest-id vectors, `iters` Lloyd steps with
    * 9-dp-rounded element-wise means, cosine assignment rounded to 6 dp
    * with ties to the lower centroid id. `k = 0` auto-scales to ≈√N.
    *
    * Scale notes (100 TB): each Lloyd step is ONE corpus pass (fused
    * literal-centroid argmax + a map-side-combinable mean aggregate whose
    * shuffle carries k·dim doubles per partition); the driver only ever
    * holds k centroid rows. Returns (idCol, cluster_id, sim). */
  def kmeansAssign(corpus: DataFrame, k: Int = 0, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = prepIvfCorpus(corpus, idCol, vecCol)
    val corpusSize = c.count()
    if (corpusSize == 0L) {
      import corpus.sparkSession.implicits._
      return Seq.empty[(Long, Long, Double)].toDF(idCol, "cluster_id", "sim")
    }
    val cents = trainCentroids(c, autoNlist(k, corpusSize), iters)
    c.withColumn("best", array_max(centSims(col("cv"), col("cnorm"), cents)))
      .select(col("nid").as(idCol), (-col("best.negid")).as("cluster_id"),
        col("best.csim").as("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — cluster-then-prune): assign every vector to the
    * deterministic k-means quantizer's nearest centroid, then WITHIN each
    * cluster mark a member as a duplicate when its cosine to a more
    * centroid-similar member reaches `tau`. Rank order is (centroid
    * similarity DESC, id ASC), so the kept representative of each
    * near-dup neighborhood is the most central member — fully
    * deterministic and SQL-mirrorable (sims are 6-dp-rounded before
    * ranking and thresholding). Returns (idCol, cluster_id, sim, is_dup).
    *
    * This is our deterministic variant of the paper's per-cluster greedy
    * prune: a member is a dup if ANY higher-ranked member is tau-close
    * (the greedy form would skip already-removed members; the any-form
    * removes a superset and never depends on traversal order).
    *
    * Scale shape: pairwise work happens only inside clusters — with the
    * auto-√N quantizer that is ~N total pairs, not N²; `maxClusterSize`
    * caps any one cluster's pair fan-out (members ranked beyond the cap
    * are exempt from pairing, never dropped from the output). The pair
    * join is an equi-join on cluster_id with the cosine threshold in the
    * join condition, so Spark never materializes above-cap candidate
    * pairs. */
  def semDedup(corpus: DataFrame, tau: Double = 0.99, k: Int = 0,
      maxClusterSize: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = prepIvfCorpus(corpus, idCol, vecCol)
    val corpusSize = c.count()
    if (corpusSize == 0L) {
      import corpus.sparkSession.implicits._
      return Seq.empty[(Long, Long, Double, Boolean)]
        .toDF(idCol, "cluster_id", "sim", "is_dup")
    }
    val cents = trainCentroids(c, autoNlist(k, corpusSize), 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("sim").desc, col("nid").asc)
    val ranked = c
      .withColumn("best", array_max(centSims(col("cv"), col("cnorm"), cents)))
      .select(col("nid"), col("cv"), col("cnorm"),
        (-col("best.negid")).as("cluster_id"), col("best.csim").as("sim"))
      .withColumn("rk", row_number().over(w))
      .transform(PipelineCaches.track)
    val pairSide = ranked.filter(col("rk") <= maxClusterSize)
    val dup = pairSide.alias("x").join(pairSide.alias("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
        col("x.rk") < col("y.rk") &&
        round(dotFixed(col("x.cv"), col("y.cv")) /
          (col("x.cnorm") * col("y.cnorm")), 6) >= tau)
      .select(col("y.nid").as("nid")).distinct()
    ranked.join(dup.withColumn("__dup", lit(true)), Seq("nid"), "left_outer")
      .select(col("nid").as(idCol), col("cluster_id"), col("sim"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** IVF-style ANN: corpus is partitioned by nearest coarse centroid;
    * queries probe the `nprobe` nearest centroid lists. The 100 TB layout:
    * cluster assignment is a narrow map, per-list storage is
    * partition-pruned at read time.
    *
    * Centroids: deterministic seeds (the nlist lowest-id vectors) refined
    * by `refineIters` Lloyd iterations — assign to nearest centroid,
    * recompute centroids as element-wise means. Fully deterministic and
    * SQL-mirrorable; assignment similarity is rounded to 6 dp so ranking
    * never depends on sub-ulp summation order.
    *
    * `nlist = 0` (default) auto-scales to ~√N (`max(1, round(√count))`),
    * so per-probe work is `nprobe·N/√N = nprobe·√N` — the classic IVF
    * balance point where list length and list count grow together. At
    * sf0.01 (N=500) that is 22 lists, probe fraction 4/22 ≈ 18%; at sf1
    * (N=20k) 141 lists, probe fraction 2.8% — the fraction FALLS as the
    * corpus grows instead of scanning nprobe/16 = ¼ of it forever.
    *
    * Each Lloyd step is ONE corpus pass (assign + mean aggregate) and the
    * refined centroids are collected back to the driver (nlist rows), so
    * the final corpus assignment is computed exactly once — nothing
    * re-executes centroid lineage. The auto nlist is capped at 4096 — no
    * longer a codegen limit (the fused [[graft.functions
    * .CentroidSimsExpr]] loops over an arbitrary centroid matrix), but
    * √N > 4096 means N > 16M vectors per job, the regime where a
    * hierarchical coarse quantizer beats one flat centroid list anyway,
    * and the DuckDB oracle mirrors the same `least(4096, …)`. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int = 5, nlist: Int = 0,
      nprobe: Int = 4, refineIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)

    // null embeddings can never be neighbors or centroids — drop them up
    // front (the literal-argmax below would otherwise NPE collecting a
    // null seed vector)
    val c = prepIvfCorpus(corpus, idCol, vecCol)

    val corpusSize = c.count()
    // empty corpus ⇒ well-defined empty result (the pre-rewrite join
    // formulation returned the same)
    if (corpusSize == 0L) {
      import corpus.sparkSession.implicits._
      return Seq.empty[(Long, Long, Double, Int)].toDF("qid", "nid", "sim", "rank")
    }

    val cents = trainCentroids(c, autoNlist(nlist, corpusSize), refineIters)
    val assigned = assignLists(c, cents)

    // queries probe their nprobe best lists: ascending sort of the
    // (csim, -cent_id) structs, take the LAST nprobe (= csim DESC,
    // cent_id ASC), explode — narrow, shuffle-free
    val probes = math.max(1, math.min(nprobe, cents.size))
    val qAssigned = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("qnorm", normFixed(col("qv")))
      .withColumn("probe",
        explode(slice(array_sort(centSims(col("qv"), col("qnorm"), cents)),
          -probes, probes)))
      .select(col("qid"), col("qv"), col("qnorm"),
        (-col("probe.negid")).as("list_id"))

    val sims = assigned.join(qAssigned, Seq("list_id"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))
      .distinct()

    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  // ---- durable IVF index -----------------------------------------------

  /** Build the IVF index as a DURABLE artifact (the ANN analogue of
    * [[graft.GraftSession.persistAdjIndex]], mirroring the reference's
    * persisted index tables — ddl_query.rs:290-311). [[ivfTopK]] recomputes
    * centroids + list assignments on every call: fine for one-shot jobs,
    * wrong at 100 TB where the index is built once and probed by thousands
    * of queries. A fenced [[Artifacts]] version under `path` holds:
    *
    *  - `centroids/` — (list_id, cent, centnorm), nlist ≤ 4096 rows
    *  - `lists/` — (nid, cv, cnorm) PARTITIONED BY list_id, one file per
    *    list (repartitioned on list_id before the write), so a probed read
    *    lists/scans ONLY the probed directories
    *
    * keyed by [[ivfKey]]. Same deterministic quantizer as [[ivfTopK]]
    * (seeded by lowest ids, 9-dp Lloyd means), so [[ivfTopKPersisted]] over
    * this index returns exactly [[ivfTopK]]'s rows. Builds unconditionally:
    * the retrain after appended vectors drift from the training corpus. */
  def buildIvfIndex(corpus: DataFrame, path: String, nlist: Int = 0,
      refineIters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    Artifacts.publish(corpus.sparkSession, path,
        ivfKey(corpus, nlist, refineIters, idCol, vecCol))(
      writeIvfIndex(corpus, _, nlist, refineIters, idCol, vecCol))

  private def writeIvfIndex(corpus: DataFrame, dir: String, nlist: Int,
      refineIters: Int, idCol: String, vecCol: String): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val c = prepIvfCorpus(corpus, idCol, vecCol)
    val corpusSize = c.count()
    if (corpusSize == 0L)
      throw new graft.cypher.GraftException(
        s"buildIvfIndex: corpus has no non-null '$vecCol' vectors")
    val cents = trainCentroids(c, autoNlist(nlist, corpusSize), refineIters)

    import spark.implicits._
    cents.map(ct => (ct.id, ct.cent.toSeq, ct.norm))
      .toDF("list_id", "cent", "centnorm")
      .repartition(1)
      .write.parquet(s"$dir/centroids")
    // repartition by list_id: each list lands in ONE task → one parquet
    // file per list directory instead of (#tasks × #lists) small files
    assignLists(c, cents)
      .repartition(col("list_id"))
      .write.partitionBy("list_id").parquet(s"$dir/lists")
  }

  /** The index's fence key: the corpus fingerprint AND every build
    * parameter — a changed nlist/refineIters/idCol/vecCol must rebuild
    * even when the corpus files are unchanged. Taken BEFORE any write (a
    * corpus changing mid-build reads as stale afterwards, never fresh). */
  private def ivfKey(corpus: DataFrame, nlist: Int, refineIters: Int,
      idCol: String, vecCol: String): Artifacts.Key =
    Artifacts.key("fingerprint" -> graft.catalog.Snapshot.fingerprint(corpus),
      "dim" -> DefaultDim, "nlist" -> nlist, "refineIters" -> refineIters,
      "idCol" -> idCol, "vecCol" -> vecCol)

  /** The live index version under `path`, or a loud error. */
  private def liveIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Artifacts.Version =
    Artifacts.live(spark, path).getOrElse(throw new graft.cypher.GraftException(
      s"no IVF index at $path — build one with buildIvfIndex"))

  /** Rebuild the persisted index iff missing or its key no longer matches
    * (the staleness fence — a replaced embeddings parquet must never serve
    * stale neighbors). Returns true if it rebuilt. */
  def buildIvfIndexIfStale(corpus: DataFrame, path: String, nlist: Int = 0,
      refineIters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    var rebuilt = false
    Artifacts.fenced(corpus.sparkSession, path,
        ivfKey(corpus, nlist, refineIters, idCol, vecCol)) { (dir, _) =>
      rebuilt = true
      writeIvfIndex(corpus, dir, nlist, refineIters, idCol, vecCol)
    }
    rebuilt
  }

  /** Incremental IVF maintenance: absorb an embedding `delta` into the
    * persisted index without retraining — the ANN analogue of
    * [[graft.GraftSession.appendEdges]].
    *
    * CONTRACT: `corpus` is the FULL post-append corpus (the delta's rows
    * already included — append to the corpus first, then absorb the same
    * delta here); the refreshed fingerprint is taken from it, so a
    * mismatched delta leaves the index stale-detectable, never silently
    * wrong. Build parameters must match the live version's key (appending
    * nlist=8 rows into an nlist=0 index is an error, not a quiet recall
    * cliff), and a call whose key already matches is a no-op, so a
    * repeated append never duplicates the delta's vectors.
    *
    * Semantics: the coarse quantizer (centroids) stays FIXED — standard
    * IVF practice; appended vectors are assigned to the nearest existing
    * centroid, so the index serves exact the same probe math with the
    * delta included. Recall degrades only if the delta's distribution
    * drifts from the training corpus; retrain on schedule with
    * [[buildIvfIndex]] when it does.
    *
    * Cost shape: one delta-sized pass (assignment against broadcast-sized
    * centroid literals) appended into only the list partitions the delta
    * touches; untouched lists gain no files and are never read. The
    * append writes into the live version in place and the key rewrite
    * ([[Artifacts.rekey]]) happens LAST — an interrupted append leaves a
    * stale fingerprint, which the next [[buildIvfIndexIfStale]] repairs by
    * rebuild. */
  def appendToIvfIndex(corpus: DataFrame, delta: DataFrame, path: String,
      nlist: Int = 0, refineIters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val live = liveIvfIndex(spark, path)
    val key = ivfKey(corpus, nlist, refineIters, idCol, vecCol)
    val differs = Artifacts.differing(live.key, key)
    if (differs.exists(_ != "fingerprint"))
      throw new graft.cypher.GraftException(
        s"appendToIvfIndex: build parameters (${differs.mkString(", ")}) " +
          s"differ from the persisted index at $path — retrain with buildIvfIndex instead")
    if (differs.isEmpty) return // the index already covers this corpus
    val cents = collectCents(spark.read.parquet(s"${live.dir}/centroids")
      .select(col("list_id"), col("cent"), col("centnorm")))
    val assigned = assignLists(prepIvfCorpus(delta, idCol, vecCol), cents)
      .transform(PipelineCaches.track)
    assigned
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"${live.dir}/lists")
    // every append adds one file to each touched list directory; compact
    // the ones that crossed the threshold so steady-state file count stays
    // ≈ nlist instead of nlist × appends (the 100 TB small-files killer)
    val touched = assigned.select("list_id").distinct()
      .collect().map(_.getLong(0)) // bounded by nlist ≤ 4096
    compactIvfLists(spark, live.dir, touched)
    Artifacts.rekey(spark, path, live.copy(key = key))
  }

  /** Max part files a list directory may hold before [[appendToIvfIndex]]
    * rewrites it as one file. 4 ≈ "compact every few appends": compaction
    * cost stays amortized O(list size) per list per 4 appends. */
  private val MaxFilesPerList = 4

  /** Rewrite each given list partition as a single parquet file when its
    * part-file count exceeds [[MaxFilesPerList]].
    *
    * Swap protocol per list (single-writer contract, the [[Artifacts]]
    * fence's): write the coalesced copy to a `.compact_tmp`
    * sibling, rename live → `.compact_trash`, tmp → live, delete trash.
    * A crash between the renames leaves the list directory MISSING — a
    * probe then fails loudly (never silently duplicates or drops rows)
    * and [[buildIvfIndexIfStale]] repairs by rebuild; the trash copy also
    * still holds the data for manual salvage. */
  private def compactIvfLists(spark: org.apache.spark.sql.SparkSession,
      dir: String, listIds: Seq[Long]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(s"$dir/lists")
    val fs = base.getFileSystem(hconf)
    listIds.foreach { id =>
      val dir = new org.apache.hadoop.fs.Path(base, s"list_id=$id")
      val parts =
        try fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
      if (parts.length > MaxFilesPerList) {
        val tmp = new org.apache.hadoop.fs.Path(base, s".compact_tmp-$id")
        val trash = new org.apache.hadoop.fs.Path(base, s".compact_trash-$id")
        fs.delete(tmp, true); fs.delete(trash, true)
        spark.read.parquet(dir.toString)
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        // drop the _SUCCESS marker so the renamed dir holds only data files
        fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
        if (fs.rename(dir, trash)) {
          if (fs.rename(tmp, dir)) fs.delete(trash, true)
          else fs.rename(trash, dir) // restore; leave tmp for the next try
        }
      }
    }
  }

  /** Streaming IVF maintenance: absorb a STREAM of embeddings into a
    * managed corpus table and the persisted index — each micro-batch
    * appends to `corpusTable`, then [[appendToIvfIndex]] assigns the
    * batch to the fixed centroids and appends only its list partitions.
    * The streaming sibling of [[graft.GraftSession.streamEdges]], closing
    * the loop for continuously-ingested embedding corpora; retrain on
    * schedule with [[buildIvfIndex]] when the distribution drifts.
    * Replay semantics, stated precisely: the last fully-applied batch id
    * is recorded next to the index AFTER the batch's corpus append, list
    * append, and meta write all land, so a restart replaying a COMPLETED
    * batch is skipped before it can touch the corpus table. The remaining
    * window — a crash mid-batch — can leave the batch's rows in the
    * corpus and/or lists once-and-a-half; the recorded fingerprint then
    * mismatches the corpus, the index reads as STALE, and the repair is a
    * [[buildIvfIndex]] retrain (appendToIvfIndex alone does not repair a
    * half-applied batch). */
  def streamToIvfIndex(embeddings: DataFrame, corpusTable: String,
      path: String, checkpoint: String, nlist: Int = 0,
      refineIters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery = {
    require(embeddings.isStreaming, "streamToIvfIndex expects a streaming DataFrame")
    val batchMarker = s"$path/${Artifacts.BatchMarker}"
    // the stream runs in a clone of the caller's session; the caller's
    // own relation cache would keep the pre-append file listing, so its
    // next staleness check would read the index as stale
    val caller = embeddings.sparkSession
    embeddings.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one cache scope per micro-batch: the stream thread never
        // returns to a caller that could release what the batch persisted
        PipelineCaches.scoped {
          val spark = batch.sparkSession
          val applied = Artifacts.readStringIfExists(spark, batchMarker)
            .map(_.trim.toLong)
          if (!applied.exists(_ >= batchId) && !batch.isEmpty) {
            batch.write.mode("append").saveAsTable(corpusTable)
            spark.catalog.refreshTable(corpusTable)
            appendToIvfIndex(spark.table(corpusTable), batch, path,
              nlist, refineIters, idCol, vecCol)
            Artifacts.writeString(spark, batchMarker, batchId.toString)
            caller.catalog.refreshTable(corpusTable)
          }
        }
      }
      .start()
  }

  /** IVF ANN over a persisted index ([[buildIvfIndex]]): probe the nprobe
    * nearest lists per query, reading ONLY the probed list partitions.
    *
    * The probed list set is collected to the driver as literal IN values —
    * bounded by nlist ≤ 4096, so this is safe driver state at any corpus
    * size — which gives STATIC partition pruning on the lists read: the
    * scan's PartitionFilters prune unprobed directories before any file is
    * opened (PlanSpec-pinned). Per-probe cost is nprobe·N/nlist rows
    * regardless of how large the index is on disk. */
  /** `candidateFilter`: optional predicate over the index columns
    * (`nid`, `cv`, `cnorm`) restricting which corpus vectors may be
    * returned — FILTERED ANN (metadata-constrained retrieval). The
    * predicate composes with partition pruning: it reaches the lists
    * parquet scan as a pushed filter, so a filtered probe reads only the
    * probed partitions AND skips row groups the predicate excludes.
    * Filtering before the top-k (not after) keeps k results whenever k
    * candidates qualify. */
  def ivfTopKPersisted(queries: DataFrame, path: String, k: Int = 5,
      nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding",
      candidateFilter: Column = lit(true)): DataFrame = {
    val spark = queries.sparkSession
    GraftFunctions.register(spark)
    val dir = liveIvfIndex(spark, path).dir
    val cents = collectCents(spark.read.parquet(s"$dir/centroids")
      .select(col("list_id"), col("cent"), col("centnorm")))
    require(cents.nonEmpty, s"empty IVF index at $path")

    val probes = math.max(1, math.min(nprobe, cents.size))
    // persisted: the frame is consumed twice (probed-id collect + the
    // candidate join) and re-deriving it would re-run the query scan and
    // the per-row centroid argmax (round-6 review)
    val qAssigned = queries
      .select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .filter(col("qv").isNotNull)
      .withColumn("qnorm", normFixed(col("qv")))
      .withColumn("probe",
        explode(slice(array_sort(centSims(col("qv"), col("qnorm"), cents)),
          -probes, probes)))
      .select(col("qid"), col("qv"), col("qnorm"),
        (-col("probe.negid")).as("list_id"))
      .transform(PipelineCaches.track)

    val probedIds = qAssigned.select("list_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("list_id").isin(probedIds.map(Long.box).toIndexedSeq: _*))
      .filter(candidateFilter)

    // Broadcast the probe side only while it provably fits: queries×nprobe
    // rows of (qid, dim-double vector, norm). An unconditional hint would
    // OOM executors for a corpus-sized query set; past the bound we leave
    // the join strategy to AQE. Counting the cached frame is one cheap
    // cached-scan pass — we just materialized it for the probed-id collect.
    val probeRows = qAssigned.count()
    val estBytes = probeRows * (8L * DefaultDim + 64L)
    val probeSide =
      if (estBytes <= 64L * 1024 * 1024) broadcast(qAssigned) else qAssigned

    // each corpus vector lives in exactly ONE list, so a (qid, nid) pair
    // joins at most once — no distinct needed (ivfTopK's was vestigial)
    val sims = lists.join(probeSide, Seq("list_id"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dotFixed(col("qv"), col("cv")) /
              (col("qnorm") * col("cnorm")), 6).as("sim"))

    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

}
