package graft.gate

import org.apache.spark.sql.functions._

import graft.pipeline.{Explodes, Similarity}
import GateInputs._

/** `p_` gate entries for [[graft.pipeline.Similarity]]: quantization, exact
  * and approximate top-k (LSH, PQ, IVF, IVF-PQ), k-means, hard negatives
  * and semantic dedup over the embeddings table, each beside its DuckDB
  * mirror. */
private[gate] object SimilarityGates {

  def entries: Seq[GateEntry] = Seq(
    // symmetric int8 embedding quantization (storage path) — oracle-checked.
    // The library op returns (vec_id, scale, q: array<long>); the gate entry
    // posexplodes to one scalar row per component so the driver's pandas
    // checker can sort/hash it (array cells are unhashable there).
    // posexplodeNoInfer: the inferred size(q) > 0 pre-filter would
    // re-derive the HOF quantization lineage per element (see Explodes)
    GateEntry("p_quantize", (s, dir) =>
      Explodes.posexplodeNoInfer(Similarity.quantizeInt8(emb(s, dir)),
          Seq(col("vec_id"), col("scale")), col("q"), "idx", "qval")
        .withColumn("idx", col("idx").cast("long")),
      // exploded to (vec_id, scale, idx, qval) scalar rows — mirrors the
      // posexplode on the Spark side; list cells are unsortable in the
      // driver's pandas-based checker. idx is 0-based like posexplode.
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id,
        |         round(maxabs / 127.0, 9) AS scale,
        |         CASE WHEN maxabs = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(v, x -> CAST(round(x * 127.0 / maxabs) AS BIGINT)) END AS q
        |  FROM n)
        |SELECT vec_id, scale, CAST(t.range AS BIGINT) AS idx,
        |       q[CAST(t.range AS INT) + 1] AS qval
        |FROM qv CROSS JOIN range(0, 64) t""".stripMargin),

    // seeded random-projection 64→16 reduction — oracle-checked (shared
    // planeSigns RNG, mirrored sign patterns); posexploded for the same
    // checker-compatibility reason as p_quantize.
    GateEntry("p_reduce_dim", (s, dir) =>
      Explodes.posexplodeNoInfer(Similarity.reduceDim(emb(s, dir)),
          Seq(col("vec_id")), col("reduced"), "idx", "comp")
        .withColumn("idx", col("idx").cast("long")),
      // DuckDB mirror of [[Similarity.reduceDim]]: the SAME seeded ±1 sign
      // vectors (shared [[Similarity.planeSigns]] RNG) embedded as sign
      // patterns; 1/√16 = 0.25 is exact in binary and both engines sum
      // left-to-right, so the 6-dp-rounded components are bit-identical.
      {
        val outDim = 16
        val dim = 64
        val seed: Long = 11L
        val scale = 1.0 / math.sqrt(outDim.toDouble)
        val comps = Similarity.planeSigns(outDim, dim, seed).map { s =>
          val pos = s.zipWithIndex.collect { case (true, j) => j + 1 }.mkString(",")
          s"round(list_sum(list_transform(range(1,${dim + 1}), " +
            s"j -> CASE WHEN list_contains([$pos], j) THEN v[j] ELSE -v[j] END)) " +
            s"* CAST($scale AS DOUBLE), 6)"
        }.mkString("[", ",\n    ", "]")
        // exploded to (vec_id, idx, comp) scalar rows — mirrors the Spark
        // side's posexplode (driver checker cannot sort list cells).
        s"""WITH r AS (
           |  SELECT vec_id, $comps AS reduced
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))
           |SELECT vec_id, CAST(t.range AS BIGINT) AS idx,
           |       reduced[CAST(t.range AS INT) + 1] AS comp
           |FROM r CROSS JOIN range(0, $outDim) t""".stripMargin
      }),

    // brute-force cosine top-5 for queries vec_id % 50 == 0 — oracle-checked
    GateEntry("p_embed_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(pmod(col("vec_id"), lit(50)) === 0), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT qid, n.vec_id AS nid,
        |         round(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
        |               (qnrm * nrm), 6) AS sim
        |  FROM q, n WHERE n.vec_id <> q.qid)
        |SELECT qid, nid, sim, rank FROM (
        |  SELECT qid, nid, sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |  FROM s)
        |WHERE rank <= 5""".stripMargin),

    // hard negatives for contrastive training: top-5 most-similar vectors
    // OUTSIDE the query's kmeans cluster, from an exact kCand=25
    // shortlist — oracle-checked
    GateEntry("p_hard_neg", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(pmod(col("vec_id"), lit(50)) === 0),
          Similarity.kmeansAssign(e), k = 5, kCand = 25)
        .withColumn("rank", col("rank").cast("long"))
    },
      // kmeans CTE chain + exact kCand shortlist + cluster exclusion +
      // re-rank — rounds sim to 6dp BEFORE every rank, like the Spark side
      kmeansOracleSql(finalSelect =
      """, q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT qid, n.vec_id AS nid,
        |         round(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
        |               (qnrm * nrm), 6) AS sim
        |  FROM q, n WHERE n.vec_id <> q.qid),
        |cand AS (
        |  SELECT qid, nid, sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS crank
        |  FROM s),
        |f AS (
        |  SELECT c.qid, c.nid, c.sim
        |  FROM (SELECT * FROM cand WHERE crank <= 25) c
        |  JOIN asg aq ON aq.vec_id = c.qid
        |  JOIN asg an ON an.vec_id = c.nid
        |  WHERE aq.cluster_id <> an.cluster_id)
        |SELECT qid, nid, sim, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT qid, nid, sim,
        |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |  FROM f)
        |WHERE rank <= 5""".stripMargin)),

    // hard negatives over the ANN serving path: IVF-PQ shortlist (coarse
    // pruning + compressed ADC), exact-cosine refine, THEN the cluster
    // exclusion — the composition a 100 TB user actually runs (the entry
    // above proves the brute-force fixture) — oracle-checked
    GateEntry("p_hard_neg_ann", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegativesFrom(
          Similarity.ivfPqRerankTopK(e,
            e.filter(pmod(col("vec_id"), lit(50)) === 0),
            Similarity.pqCodebook(), kCand = 25, k = 25),
          Similarity.kmeansAssign(e), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      // DuckDB mirror of `hardNegativesFrom(ivfPqRerankTopK(...), kmeans)`:
      // the IVF-PQ chain shortlists kCand by rounded ADC distance, exact
      // cosine rescores those candidates from the full-precision `n` rows,
      // the query's/candidate's quantizer cells (`assigned.list_id` — the
      // SAME deterministic quantizer [[Similarity.kmeansAssign]] mirrors as
      // `asg.cluster_id`) drive the exclusion, and the survivors re-rank by
      // sim DESC.
      {
        val kCand = 25
        val k = 5
        val nprobe = 4
        val dim = 64
        s"""WITH ${ivfChainCtes(nprobe, dim)},
           |$ivfPqAdcCtes,
           |cand AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid,
           |           row_number() OVER (PARTITION BY qid ORDER BY round(raw, 6), nid) AS crank
           |    FROM sc)
           |  WHERE crank <= $kCand),
           |ex AS (
           |  SELECT cand.qid, cand.nid,
           |         round(list_sum(list_transform(range(1, ${dim + 1}),
           |                 i -> qn.v[i] * cn.v[i])) /
           |               (qn.nrm * cn.nrm), 6) AS sim
           |  FROM cand JOIN n qn ON qn.vec_id = cand.qid
           |            JOIN n cn ON cn.vec_id = cand.nid),
           |f AS (
           |  SELECT ex.qid, ex.nid, ex.sim
           |  FROM ex
           |  JOIN assigned aq ON aq.vec_id = ex.qid
           |  JOIN assigned an ON an.vec_id = ex.nid
           |  WHERE aq.list_id <> an.list_id)
           |SELECT qid, nid, sim, CAST(rank AS BIGINT) AS rank FROM (
           |  SELECT qid, nid, sim,
           |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
           |  FROM f)
           |WHERE rank <= $k""".stripMargin
      }),

    // hyperplane-LSH ANN over the same query set (scale path; recall vs
    // brute force asserted in SimilaritySpec)
    GateEntry("p_ann_lsh", (s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(pmod(col("vec_id"), lit(50)) === 0), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      // DuckDB mirror of [[Similarity.lshTopK]]: the ±1 hyperplane signs are
      // generated from the SAME seeded RNG ([[Similarity.planeSigns]]) and
      // embedded as sign patterns, so both engines compute identical SRP
      // codes; the per-table Hamming-1 probe expansion collapses to
      // `bit_count(xor(codes)) <= 1`. All-pairs in DuckDB (fine at oracle
      // scale); the Spark side stays the bucketed equi-join.
      {
        val k = 5
        val planes = 6
        val tables = 8
        val dim = 64
        val (codeCols, probeCond) = srpOracleParts(planes, tables, dim)
        s"""WITH n AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), e -> e * e))) AS nrm
           |  FROM embeddings),
           |codes AS (
           |  SELECT vec_id, v, nrm,
           |    $codeCols
           |  FROM n),
           |s AS (
           |  SELECT q.vec_id AS qid, x.vec_id AS nid,
           |         round(list_sum(list_transform(range(1,${dim + 1}), i -> q.v[i] * x.v[i])) /
           |               (q.nrm * x.nrm), 6) AS sim
           |  FROM codes x JOIN codes q
           |    ON q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id AND ($probeCond))
           |SELECT qid, nid, sim, rank FROM (
           |  SELECT qid, nid, sim,
           |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
           |  FROM s)
           |WHERE rank <= $k""".stripMargin
      }),

    // recall@5 of the LSH index vs brute force — the in-engine ANN
    // quality gauge; composes the two entries above — oracle-checked
    GateEntry("p_ann_recall", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      Similarity.annRecall(
        Similarity.lshTopK(e, q, k = 5),
        Similarity.bruteForceTopK(e, q, k = 5))
    },
      // Recall@k oracle: one shared all-pairs similarity CTE ranked twice —
      // once unrestricted (exact top-k), once restricted to SRP-probed
      // candidates (the `p_ann_lsh` oracle result) — then the same
      // count-the-overlap aggregation [[graft.pipeline.Similarity.annRecall]]
      // performs.
      {
        val k = 5
        val planes = 6
        val tables = 8
        val dim = 64
        val (codeCols, probeCond) = srpOracleParts(planes, tables, dim)
        s"""WITH n AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), e -> e * e))) AS nrm
           |  FROM embeddings),
           |codes AS (
           |  SELECT vec_id, v, nrm,
           |    $codeCols
           |  FROM n),
           |sims AS (
           |  SELECT q.vec_id AS qid, x.vec_id AS nid,
           |         round(list_sum(list_transform(range(1,${dim + 1}), i -> q.v[i] * x.v[i])) /
           |               (q.nrm * x.nrm), 6) AS sim,
           |         ($probeCond) AS probed
           |  FROM codes x JOIN codes q
           |    ON q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id),
           |appx AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid,
           |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
           |    FROM sims WHERE probed)
           |  WHERE rank <= $k),
           |ex AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid,
           |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
           |    FROM sims)
           |  WHERE rank <= $k)
           |SELECT e.qid, CAST(count(a.nid) AS BIGINT) AS hits,
           |       CAST(count(*) AS BIGINT) AS n_true,
           |       round(CAST(count(a.nid) AS DOUBLE) / count(*), 4) AS recall
           |FROM ex e LEFT JOIN appx a ON e.qid = a.qid AND e.nid = a.nid
           |GROUP BY e.qid""".stripMargin
      }),

    // PQ encoding: 64-dim vectors compress to 8 centroid indices under
    // the seeded codebook (32× smaller scan footprint for ADC search) —
    // oracle-checked; posexploded to one scalar row per subspace code so
    // the driver's pandas checker can sort/hash it (the p_hash_embed
    // convention — raw array<int> cells crash its lexsort)
    GateEntry("p_pq_codes", (s, dir) =>
      Explodes.posexplodeNoInfer(
          Similarity.pqEncode(emb(s, dir), Similarity.pqCodebook()),
          Seq(col("vec_id")), col("codes"), "pos", "code")
        .withColumn("pos", col("pos").cast("long")),
      s"""WITH $pqCodesCtes
         |SELECT vec_id, CAST(t.range AS BIGINT) AS pos,
         |       codes[CAST(t.range AS INT) + 1] AS code
         |FROM codes CROSS JOIN range(0, 8) t""".stripMargin),

    // asymmetric-distance top-k over the PQ codes: per-query LUT,
    // table-lookup scoring over the compressed corpus — oracle-checked
    GateEntry("p_pq", (s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.pqCodebook()
      Similarity.pqAdcTopK(Similarity.pqEncode(e, cb),
          e.filter(pmod(col("vec_id"), lit(50)) === 0), cb, k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      {
        val k = 5
        s"""WITH $pqCodesCtes,
           |lut AS (
           |  SELECT vec_id AS qid, mm,
           |    ${pqDistListSql("v")} AS lv
           |  FROM n CROSS JOIN cbt, unnest(range(0, 8)) AS t(mm)
           |  WHERE vec_id % 50 = 0),
           |terms AS (
           |  SELECT l.qid, c.vec_id AS nid, l.mm,
           |         l.lv[c.codes[l.mm + 1] + 1] AS term
           |  FROM codes c JOIN lut l ON c.vec_id <> l.qid),
           |sc AS (
           |  SELECT qid, nid,
           |         list_reduce(list(term ORDER BY mm), (a, b) -> a + b) AS raw
           |  FROM terms GROUP BY qid, nid)
           |SELECT qid, nid, round(raw, 6) AS adist, rank FROM (
           |  SELECT qid, nid, raw,
           |         row_number() OVER (PARTITION BY qid ORDER BY round(raw, 6), nid) AS rank
           |  FROM sc)
           |WHERE rank <= $k""".stripMargin
      }),

    // two-stage retrieval: PQ compressed-scan shortlist (kCand=25) ->
    // exact-cosine re-rank of only those candidates — oracle-checked
    GateEntry("p_pq_rerank", (s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.pqCodebook()
      Similarity.pqRerankTopK(e, Similarity.pqEncode(e, cb),
          e.filter(pmod(col("vec_id"), lit(50)) === 0), cb)
        .withColumn("rank", col("rank").cast("long"))
    },
      // Two-stage mirror: the `p_pq` oracle candidate CTEs at kCand,
      // then the exact-cosine formula every ANN oracle here shares, ranked
      // per query over candidates only.
      {
        val kCand = 25
        val k = 5
        val dim = 64
        s"""WITH $pqCodesCtes,
           |lut AS (
           |  SELECT vec_id AS qid, mm,
           |    ${pqDistListSql("v")} AS lv
           |  FROM n CROSS JOIN cbt, unnest(range(0, 8)) AS t(mm)
           |  WHERE vec_id % 50 = 0),
           |terms AS (
           |  SELECT l.qid, c.vec_id AS nid, l.mm,
           |         l.lv[c.codes[l.mm + 1] + 1] AS term
           |  FROM codes c JOIN lut l ON c.vec_id <> l.qid),
           |sc AS (
           |  SELECT qid, nid,
           |         list_reduce(list(term ORDER BY mm), (a, b) -> a + b) AS raw
           |  FROM terms GROUP BY qid, nid),
           |cand AS (
           |  SELECT qid, nid FROM (
           |    SELECT qid, nid,
           |           row_number() OVER (PARTITION BY qid ORDER BY round(raw, 6), nid) AS rank
           |    FROM sc)
           |  WHERE rank <= $kCand),
           |x AS (
           |  SELECT vec_id, v,
           |         sqrt(list_sum(list_transform(v, e -> e * e))) AS nrm
           |  FROM n),
           |sims AS (
           |  SELECT cand.qid, cand.nid,
           |         round(list_sum(list_transform(range(1, ${dim + 1}),
           |                 i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS sim
           |  FROM cand JOIN x q ON q.vec_id = cand.qid
           |            JOIN x c ON c.vec_id = cand.nid)
           |SELECT qid, nid, sim, rank FROM (
           |  SELECT qid, nid, sim,
           |         row_number() OVER (PARTITION BY qid
           |           ORDER BY sim DESC, nid) AS rank
           |  FROM sims)
           |WHERE rank <= $k""".stripMargin
      }),

    // chunk->doc mean-pooled embeddings (groups of 10 consecutive vec_ids
    // stand in for a doc's chunks); sorted-fold float determinism;
    // posexploded to scalar rows — oracle-checked
    GateEntry("p_mean_pool", (s, dir) =>
      Explodes.posexplodeNoInfer(
          Similarity.meanPool(emb(s, dir).select(
            expr("vec_id DIV 10").as("doc_id"),
            col("vec_id").as("chunk_id"), col("embedding").as("vec"))),
          Seq(col("doc_id")), col("vec"), "idx", "comp")
        .withColumn("idx", col("idx").cast("long")),
      // per-component list in ascending chunk order, left-fold sum (the
      // Spark side's sorted fold adds a leading +0.0, an IEEE no-op), /n,
      // round 6; + 0.0 folds the -0.0 corner
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |g AS (SELECT vec_id // 10 AS doc_id, vec_id, v FROM n),
        |comp AS (
        |  SELECT doc_id, t.range AS idx,
        |         list(v[CAST(t.range AS INT) + 1] ORDER BY vec_id) AS vals
        |  FROM g CROSS JOIN range(0, 64) AS t
        |  GROUP BY doc_id, t.range)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
        |       round(list_reduce(vals, (a, b) -> a + b) / len(vals), 6) + 0.0 AS comp
        |FROM comp""".stripMargin),

    // IVF-style ANN (coarse quantizer + nprobe lists)
    GateEntry("p_ann_ivf", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(pmod(col("vec_id"), lit(50)) === 0), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      ivfOracleSql()),

    // IVF ANN over the PERSISTED index (built once per corpus fingerprint,
    // probed reads prune to the probed list partitions — PlanSpec-pinned).
    // Same deterministic quantizer as p_ann_ivf ⇒ same oracle.
    GateEntry("p_ann_ivf_persisted", (s, dir) => {
      Similarity.ivfTopKPersisted(
          emb(s, dir).filter(pmod(col("vec_id"), lit(50)) === 0),
          ivfIndex(s, dir), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      // identical quantizer + probe math ⇒ identical result set
      ivfOracleSql()),

    // FILTERED ANN: metadata-constrained retrieval over the persisted
    // index (only odd-id candidates qualify) — the predicate reaches the
    // lists scan as a pushed filter on top of the partition pruning
    GateEntry("p_ann_filtered", (s, dir) => {
      Similarity.ivfTopKPersisted(
          emb(s, dir).filter(pmod(col("vec_id"), lit(50)) === 0),
          ivfIndex(s, dir), k = 5,
          candidateFilter = pmod(col("nid"), lit(2)) === 1)
        .withColumn("rank", col("rank").cast("long"))
    },
      ivfOracleSql(candPred = "a.vec_id % 2 = 1")),

    // IVF-PQ composed ANN (FAISS IVFADC): coarse-quantizer partition
    // pruning + ADC scoring over the 32×-compressed codes within the
    // probed lists — both pruning axes in one operator — oracle-checked
    GateEntry("p_ann_ivfpq", (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e, e.filter(pmod(col("vec_id"), lit(50)) === 0),
          Similarity.pqCodebook(), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      // DuckDB mirror of [[Similarity.ivfPqTopK]]: the [[ivfChainCtes]]
      // quantizer (same seeds/Lloyd/probe rows), then the `p_pq` oracle
      // LUT + table-lookup scoring restricted to each query's probed
      // lists — the two existing mirrors composed, like the operator.
      {
        val k = 5
        val nprobe = 4
        val dim = 64
        s"""WITH ${ivfChainCtes(nprobe, dim)},
           |$ivfPqAdcCtes
           |SELECT qid, nid, round(raw, 6) AS adist, rank FROM (
           |  SELECT qid, nid, raw,
           |         row_number() OVER (PARTITION BY qid ORDER BY round(raw, 6), nid) AS rank
           |  FROM sc)
           |WHERE rank <= $k""".stripMargin
      }),

    // deterministic k-means assignment (the IVF quantizer as a first-class
    // clustering op) — oracle-checked against the same Lloyd CTE prefix
    GateEntry("p_kmeans", (s, dir) => Similarity.kmeansAssign(emb(s, dir)),
      kmeansOracleSql()),

    // cluster-balanced diversity sample: 5 most-central vectors per
    // cluster — oracle-checked (kmeans CTE + per-cluster window)
    GateEntry("p_diversity", (s, dir) => Similarity.diversitySample(emb(s, dir), 5),
      // Cluster-balanced diversity sample: the kmeans CTE plus a per-cluster
      // closest-first window.
      {
        val per = 5
        kmeansOracleSql(finalSelect =
          s"""SELECT vec_id, cluster_id, sim, rk FROM (
             |  SELECT vec_id, cluster_id, sim,
             |         CAST(row_number() OVER (PARTITION BY cluster_id
             |           ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rk
             |  FROM asg) WHERE rk <= $per""".stripMargin)
      }),

    // L2 normalization (cosine-ready storage) — posexploded to scalar rows
    // for the driver's hasher, like p_quantize
    GateEntry("p_normalize", (s, dir) =>
      Explodes.posexplodeNoInfer(Similarity.normalizeL2(emb(s, dir)),
          Seq(col("vec_id")), col("unit"), "idx", "comp")
        .withColumn("idx", col("idx").cast("long")),
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), e -> e * e))) AS nrm
        |  FROM embeddings)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, round(v[i] / nrm, 6) AS comp
        |FROM (SELECT vec_id, v, nrm, unnest(range(1, len(v) + 1)) AS i FROM n)
        |WHERE nrm <> 0""".stripMargin),

    // embedding-cosine near-dup pairs over the fixture corpus plus
    // DETERMINISTIC planted near-duplicates (first component scaled 1.05 in
    // double precision, id offset 10^12 — far above any real or ScaleUp-
    // strided vec_id — mirrored exactly in the oracle SQL). The fixture
    // embeddings are near-orthogonal (max natural
    // pairwise cosine ~0.51), so the exact result is the planted pair set
    // — a strong oracle for both candidate generation and the verify step.
    GateEntry("p_dedup_embed", (s, dir) => {
      val eD = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val pert = eD.select((col("vec_id") + lit(1000000000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x * 1.05).otherwise(x)).as("embedding"))
      Similarity.cosinePairs(eD.unionAll(pert), threshold = 0.99)
    },
      // exhaustive all-pairs cosine over corpus + planted perturbations:
      // the LSH-bucketed Spark result must equal the exact set
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pert AS (
        |  SELECT vec_id + 1000000000000 AS vec_id,
        |         list_transform(range(1,65), i -> CASE WHEN i = 1 THEN v[1] * 1.05 ELSE v[i] END) AS v
        |  FROM base),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM pert)),
        |s AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         round(list_sum(list_transform(range(1,65), i -> x.v[i] * y.v[i])) /
        |               (x.nrm * y.nrm), 6) AS cosine
        |  FROM n x JOIN n y ON x.vec_id < y.vec_id)
        |SELECT a, b, cosine FROM s WHERE cosine >= 0.99""".stripMargin),

    // SemDeDup (cluster-then-prune semantic dedup) over the same
    // planted-twin corpus: each perturbed twin ranks below its base
    // inside the shared cluster and is flagged is_dup — oracle-checked
    // against the kmeans CTE chain + rank-and-pair mirror
    GateEntry("p_semdedup", (s, dir) => {
      val eD = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val pert = eD.select((col("vec_id") + lit(1000000000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x * 1.05).otherwise(x)).as("embedding"))
      Similarity.semDedup(eD.unionAll(pert), tau = 0.99)
    },
      // SemDeDup mirror: the kmeans CTE chain over base ∪ perturbed-twin
      // vectors (p_dedup_embed's planted-dup construction), plus the
      // rank-and-pair prune — a member is a dup when a more centroid-similar
      // cluster mate is tau-close. The Spark side's maxClusterSize pair cap
      // (both join sides filtered to rk <= cap) is mirrored so the oracle is
      // scale-independent, not just correct at sf0.01's ~31-member
      // clusters.
      {
        val tau: Double = 0.99
        val maxClusterSize = 10000
        val pertSrc =
          """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            |   UNION ALL
            |   SELECT vec_id + 1000000000000,
            |          list_transform(range(1,65),
            |            i -> CASE WHEN i = 1 THEN v[1] * 1.05 ELSE v[i] END)
            |   FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""
            .stripMargin
        kmeansOracleSql(srcSql = pertSrc, finalSelect =
          s""", m AS (
             |  SELECT a.vec_id, a.cluster_id, a.sim, n.v, n.nrm,
             |         row_number() OVER (PARTITION BY a.cluster_id
             |           ORDER BY a.sim DESC, a.vec_id ASC) AS rk
             |  FROM asg a JOIN n ON n.vec_id = a.vec_id),
             |dup AS (
             |  SELECT DISTINCT y.vec_id FROM m x JOIN m y
             |  ON x.cluster_id = y.cluster_id AND x.rk < y.rk
             |  AND x.rk <= $maxClusterSize AND y.rk <= $maxClusterSize
             |  AND round(list_sum(list_transform(range(1,65), i -> x.v[i] * y.v[i]))
             |        / (x.nrm * y.nrm), 6) >= $tau)
             |SELECT m.vec_id, m.cluster_id, m.sim,
             |       (m.vec_id IN (SELECT vec_id FROM dup)) AS is_dup FROM m""".stripMargin)
      }),
  )

  /** The SRP scheme's generated SQL pieces, shared by the `p_ann_lsh` oracle
    * and the `p_ann_recall` oracle so both oracles evaluate the IDENTICAL
    * plane set: (per-table code columns, Hamming-1 probe condition). */
  private def srpOracleParts(planes: Int, tables: Int,
      dim: Int): (String, String) = {
    def codeExpr(t: Int): String = {
      val signs = Similarity.planeSigns(planes, dim, seed = 7L + t * 1000L)
      signs.zipWithIndex.map { case (s, p) =>
        val pos = s.zipWithIndex.collect { case (true, j) => j + 1 }.mkString(",")
        s"(CASE WHEN list_sum(list_transform(range(1,${dim + 1}), " +
          s"j -> CASE WHEN list_contains([$pos], j) THEN v[j] ELSE -v[j] END)) > 0 " +
          s"THEN ${1L << p} ELSE 0 END)"
      }.mkString("CAST(", " + ", " AS BIGINT)")
    }
    ((0 until tables).map(t => s"${codeExpr(t)} AS c$t").mkString(",\n    "),
      (0 until tables).map(t => s"bit_count(xor(x.c$t, q.c$t)) <= 1")
        .mkString(" OR "))
  }

  /** The PQ codebook as a DuckDB nested-list literal — the identical
    * doubles the Spark plan constant-folds (shortest-round-trip repr
    * parses back to the same IEEE value in both engines). */
  private def pqCbSql: String = {
    val cb = Similarity.pqCodebook()
    cb.map(mm => mm.map(kk => kk.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
  }

  /** Shared per-(vector, subspace) centroid-distance list: fold d = 0..7
    * in order, exactly the Spark-side [[graft.pipeline.Similarity]]
    * subDist2 fold, so argmin and ADC sums are IEEE-identical. */
  private def pqDistListSql(vcol: String): String =
    s"""list_transform(range(0, 16), kk ->
       |      list_reduce(list_transform(range(0, 8), d ->
       |        ($vcol[mm*8 + d + 1] - cb[mm+1][kk+1][d+1]) *
       |        ($vcol[mm*8 + d + 1] - cb[mm+1][kk+1][d+1])),
       |        (a, b) -> a + b))""".stripMargin

  private def pqCodesCtes: String =
    s"""cbt AS (SELECT $pqCbSql AS cb),
       |n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dl AS (
       |  SELECT vec_id, mm,
       |    ${pqDistListSql("v")} AS dl
       |  FROM n CROSS JOIN cbt, unnest(range(0, 8)) AS t(mm)),
       |codes AS (
       |  SELECT vec_id,
       |         list(CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER)
       |              ORDER BY mm) AS codes
       |  FROM dl GROUP BY vec_id)""".stripMargin

  /** DuckDB mirror of [[Similarity.kmeansAssign]] — the IVF oracle's
    * quantizer prefix (seeds → one Lloyd step → final assignment), with
    * the winning similarity carried out. */
  private def kmeansOracleSql(dim: Int = 64,
      finalSelect: String = "SELECT vec_id, cluster_id, sim FROM asg",
      srcSql: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
      : String = {
    val csim = s"round(list_sum(list_transform(range(1,${dim + 1}), i -> n.v[i] * c.cent[i])) / (n.nrm * c.centnorm), 6)"
    s"""WITH n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_sum(list_transform(v, e -> e * e))) AS nrm
       |  FROM ($srcSql)),
       |seeds AS (
       |  SELECT vec_id AS cent_id, v AS cent, nrm AS centnorm
       |  FROM n ORDER BY vec_id
       |  LIMIT (SELECT CAST(least(4096, greatest(1, round(sqrt(count(*))))) AS BIGINT) FROM n)),
       |a0 AS (
       |  SELECT vec_id, v, cent_id AS list_id FROM (
       |    SELECT n.vec_id, n.v, c.cent_id,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $csim DESC, c.cent_id ASC) AS crank
       |    FROM n, seeds c) WHERE crank = 1),
       |cmean AS (
       |  SELECT list_id AS cent_id, list(av ORDER BY i) AS cent FROM (
       |    SELECT list_id, t.i, round(avg(v[t.i]), 9) AS av
       |    FROM a0, range(1, ${dim + 1}) t(i)
       |    GROUP BY list_id, t.i)
       |  GROUP BY list_id),
       |cents AS (
       |  SELECT cent_id, cent,
       |         sqrt(list_sum(list_transform(cent, x -> x * x))) AS centnorm
       |  FROM cmean),
       |asg AS (
       |  SELECT vec_id, cluster_id, sim FROM (
       |    SELECT n.vec_id, c.cent_id AS cluster_id, $csim AS sim,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $csim DESC, c.cent_id ASC) AS crank
       |    FROM n, cents c) WHERE crank = 1)
       |$finalSelect""".stripMargin
  }

  /** Shared IVF CTE chain (corpus → seeds → one Lloyd step → final
    * `assigned` lists + `qa` probe rows) — the [[ivfOracleSql]] prefix,
    * factored so the `p_ann_ivfpq` oracle composes the same quantizer with the
    * ADC scoring CTEs instead of duplicating it. */
  private def ivfChainCtes(nprobe: Int, dim: Int): String = {
    val csim = s"round(list_sum(list_transform(range(1,${dim + 1}), i -> n.v[i] * c.cent[i])) / (n.nrm * c.centnorm), 6)"
    s"""n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), e -> e * e))) AS nrm
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cent_id, v AS cent, nrm AS centnorm
       |  FROM n ORDER BY vec_id
       |  LIMIT (SELECT CAST(least(4096, greatest(1, round(sqrt(count(*))))) AS BIGINT) FROM n)),
       |a0 AS (
       |  SELECT vec_id, v, cent_id AS list_id FROM (
       |    SELECT n.vec_id, n.v, c.cent_id,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $csim DESC, c.cent_id ASC) AS crank
       |    FROM n, seeds c) WHERE crank = 1),
       |cmean AS (
       |  SELECT list_id AS cent_id, list(av ORDER BY i) AS cent FROM (
       |    SELECT list_id, t.i, round(avg(v[t.i]), 9) AS av
       |    FROM a0, range(1, ${dim + 1}) t(i)
       |    GROUP BY list_id, t.i)
       |  GROUP BY list_id),
       |cents AS (
       |  SELECT cent_id, cent,
       |         sqrt(list_sum(list_transform(cent, x -> x * x))) AS centnorm
       |  FROM cmean),
       |assigned AS (
       |  SELECT vec_id, v, nrm, cent_id AS list_id FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $csim DESC, c.cent_id ASC) AS crank
       |    FROM n, cents c) WHERE crank = 1),
       |qa AS (
       |  SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cent_id AS list_id FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY $csim DESC, c.cent_id ASC) AS crank
       |    FROM n, cents c WHERE n.vec_id % 50 = 0) WHERE crank <= $nprobe)""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.ivfTopK]]: seed centroids = the nlist
    * lowest-id vectors, ONE Lloyd refinement (assign under 6-dp-rounded
    * cosine with ties to the lower cent_id — matching the Spark side,
    * which also ranks on the rounded value — then element-wise means),
    * then final assignment; queries probe the nprobe nearest lists.
    * nlist mirrors the Spark auto default: min(4096, max(1, round(√N))),
    * as a dynamic LIMIT subquery so the mirror tracks the corpus size. */
  private def ivfOracleSql(k: Int = 5, nprobe: Int = 4,
      dim: Int = 64, candPred: String = "TRUE"): String = {
    s"""WITH ${ivfChainCtes(nprobe, dim)},
       |s AS (
       |  SELECT qa.qid, a.vec_id AS nid,
       |         round(list_sum(list_transform(range(1,${dim + 1}), i -> qa.qv[i] * a.v[i])) /
       |               (qa.qnrm * a.nrm), 6) AS sim
       |  FROM assigned a JOIN qa ON a.list_id = qa.list_id
       |  WHERE a.vec_id <> qa.qid AND ($candPred))
       |SELECT qid, nid, sim, rank FROM (
       |  SELECT qid, nid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |  FROM s)
       |WHERE rank <= $k""".stripMargin
  }

  /** The ADC-scoring CTE block over [[ivfChainCtes]]' `assigned`/`qa`
    * (codes per corpus vector, per-query LUT, probed-list table-lookup
    * sums → `sc(qid, nid, raw)`) — shared by the `p_ann_ivfpq` oracle and
    * the `p_hard_neg_ann` oracle so the two mirrors cannot drift. */
  private def ivfPqAdcCtes: String =
    s"""cbt AS (SELECT $pqCbSql AS cb),
       |dl AS (
       |  SELECT a.vec_id, a.list_id, mm,
       |    ${pqDistListSql("a.v")} AS dl
       |  FROM assigned a CROSS JOIN cbt, unnest(range(0, 8)) AS t(mm)),
       |codes AS (
       |  SELECT vec_id, list_id,
       |         list(CAST(list_position(dl, list_min(dl)) - 1 AS INTEGER)
       |              ORDER BY mm) AS codes
       |  FROM dl GROUP BY vec_id, list_id),
       |qlut AS (
       |  SELECT q.qid, mm,
       |    ${pqDistListSql("q.qv")} AS lv
       |  FROM (SELECT DISTINCT qid, qv FROM qa) q
       |       CROSS JOIN cbt, unnest(range(0, 8)) AS t(mm)),
       |terms AS (
       |  SELECT qa.qid, c.vec_id AS nid, l.mm,
       |         l.lv[c.codes[l.mm + 1] + 1] AS term
       |  FROM qa JOIN codes c ON c.list_id = qa.list_id
       |                      AND c.vec_id <> qa.qid
       |       JOIN qlut l ON l.qid = qa.qid),
       |sc AS (
       |  SELECT qid, nid,
       |         list_reduce(list(term ORDER BY mm), (a, b) -> a + b) AS raw
       |  FROM terms GROUP BY qid, nid)""".stripMargin
}
