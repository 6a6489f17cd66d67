package graft.gate

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sampling}
import GateInputs._
import TextGates.xxh64Ctes

/** `p_` gate entries for [[graft.pipeline.Dedup]]: exact, MinHash, SimHash,
  * n-gram and span dedup, dup clustering, and the persisted signature,
  * pair and span artifacts, each beside its DuckDB mirror. */
private[gate] object DedupGates {

  def entries: Seq[GateEntry] = Seq(
    // exact dedup: canonical min-id + duplicate count per identical text
    GateEntry("p_dedup_exact", (s, dir) => Dedup.exact(docs(s, dir)),
      "SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt FROM documents GROUP BY text"),

    // MinHash+LSH near-dup pairs (banded candidate join, exact-verify),
    // routed through the persisted signature artifact: signatures build
    // once per corpus fingerprint, and a corpus append pays only the
    // delta's signatures before the band join
    GateEntry("p_dedup_minhash", (s, dir) =>
      Dedup.minhashPairsFromSignatures(signatures(s, dir, sampled = true),
        threshold = 0.8),
      // exact all-pairs Jaccard at J>=0.8: the seeded 12x8 LSH bands catch
      // every such pair at oracle corpus scale (recall validated empirically
      // and asserted in PipelineSpec), so the candidate-generated Spark
      // result equals the exhaustive set
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |        FROM $heavyDocsRel))
        |SELECT a, b, jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin),

    // SimHash near-dup pairs (chunk-blocked Hamming)
    GateEntry("p_dedup_simhash", (s, dir) => Dedup.simhashPairs(docs(s, dir), maxHamming = 6),
      // DuckDB mirror of [[graft.pipeline.Dedup.simhashPairs]]: distinct
      // 3-word shingles → [[xxh64Ctes]] → per-bit ±1 votes over the
      // UNSIGNED hash (bit test = div/mod — identical bits to Spark's
      // signed bitwiseAND), sign of vote sum sets the bit; 16-bit-chunk
      // blocking with the same singleton-prune + 10000 bucket cap; Hamming
      // ≤ 6 via bit_count(xor); DISTINCT pairs.
      s"""WITH RECURSIVE
         |sh AS MATERIALIZED (
         |  SELECT doc_id, i AS idx, array_to_string(list_slice(toks, i, i + 2), ' ') AS s
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM documents),
         |       unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS t(i)
         |),
         |shd AS MATERIALIZED (
         |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY min(idx)) AS sidx, s
         |  FROM sh GROUP BY doc_id, s
         |),
         |hin AS MATERIALIZED (SELECT doc_id * 1000000 + sidx AS k, s FROM shd),
         |${xxh64Ctes("hin")},
         |hs AS MATERIALIZED (SELECT k // 1000000 AS doc_id, h FROM xres),
         |bits AS MATERIALIZED (
         |  SELECT doc_id, j,
         |         sum(CASE WHEN (h // (1::HUGEINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM hs, unnest(range(0, 64)) AS t(j)
         |  GROUP BY doc_id, j
         |),
         |sims AS MATERIALIZED (
         |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << j) ELSE 0::HUGEINT END) AS simu
         |  FROM bits GROUP BY doc_id
         |),
         |chunked AS MATERIALIZED (
         |  SELECT doc_id, simu, c AS chunk, (simu // (1::HUGEINT << (16*c))) % 65536 AS cv
         |  FROM sims, unnest(range(0, 4)) AS t(c)
         |),
         |ok AS MATERIALIZED (
         |  SELECT chunk, cv FROM chunked GROUP BY chunk, cv
         |  HAVING count(*) > 1 AND count(*) <= 10000
         |),
         |inb AS MATERIALIZED (SELECT c.* FROM chunked c JOIN ok USING (chunk, cv))
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.simu::UBIGINT, y.simu::UBIGINT)) AS INTEGER) AS hamming
         |FROM inb x JOIN inb y
         |  ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simu::UBIGINT, y.simu::UBIGINT)) <= 6""".stripMargin),

    // LSH deploy gauge (the annRecall counterpart for the dedup family):
    // MinHash-LSH pairs vs the exact PPJoin ground truth at the same
    // threshold and feature space — one (n_true, n_found, n_extra,
    // recall) summary row. The oracle derives n_true independently and
    // asserts recall 1.0 / n_extra 0, the same fixture fact
    // p_dedup_minhash's exhaustive oracle pins
    GateEntry("p_dedup_recall", (s, dir) =>
      Dedup.pairRecall(
        Dedup.minhashPairsFromSignatures(signatures(s, dir, sampled = true),
          threshold = 0.8),
        // truth at 0.8 is a FREE filter of the persisted exact mine at
        // 0.5 (a superset threshold) — no second PPJoin
        minedPairs(s, dir).filter(col("jaccard") >= 0.8)),
      // the gauge's truth count recomputed exhaustively; recall 1.0 and
      // n_extra 0 are the fixture facts the p_dedup_minhash oracle pins
      // (the seeded 12x8 bands catch every J>=0.8 pair at this scale, and
      // minhash pairs are exact-verified so none fall outside the truth)
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |        FROM $heavyDocsRel)),
        |p AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |                 (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM t x JOIN t y ON x.doc_id < y.doc_id)
        |  WHERE jaccard >= 0.8)
        |SELECT CAST(count(*) AS BIGINT) AS n_true,
        |       CAST(count(*) AS BIGINT) AS n_found,
        |       CAST(0 AS BIGINT) AS n_extra,
        |       CAST(1.0 AS DOUBLE) AS recall
        |FROM p""".stripMargin),

    // cross-corpus ingestion dedup: which delta docs (doc_id % 10 == 0,
    // the "incoming batch") near-duplicate something already in the
    // corpus? The corpus side is the PERSISTED signature artifact —
    // built once per corpus fingerprint, zero corpus work per batch;
    // only the delta is shingled/signed. Delta docs are themselves in
    // the corpus table here, so self-matches are filtered — oracle-checked
    GateEntry("p_dedup_cross", (s, dir) => {
      val d = docs(s, dir)
      Dedup.crossDedupPairs(d.filter(pmod(col("doc_id"), lit(10)) === 0),
          signatures(s, dir, sampled = false),
          threshold = 0.8)
        .filter(col("a") =!= col("b"))
    },
      // exhaustive delta × corpus Jaccard — the cross-dedup ground truth
      // (a = delta id, b = any other doc): LSH banding + exact verify must
      // find every qualifying cross pair, the p_dedup_minhash premise
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))
        |SELECT a, b, jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |  FROM t x JOIN t y ON x.doc_id % 10 = 0 AND x.doc_id <> y.doc_id)
        |WHERE jaccard >= 0.8""".stripMargin),

    // the admission decision over the same delta: delta docs that
    // near-duplicate nothing already in the corpus (self-matches don't
    // veto) — oracle-checked
    GateEntry("p_ingest_filter", (s, dir) => {
      val d = docs(s, dir)
      Dedup.crossDedupFilter(d.filter(pmod(col("doc_id"), lit(10)) === 0),
          signatures(s, dir, sampled = false),
          threshold = 0.8)
        .select("doc_id", "lang", "source")
    },
      // exhaustive ground truth of the admission decision: delta docs with
      // no qualifying cross pair (self-pairs excluded by a <> b)
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)),
        |dup AS (
        |  SELECT DISTINCT a FROM (
        |    SELECT x.doc_id AS a,
        |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |                 (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |    FROM t x JOIN t y ON x.doc_id % 10 = 0 AND x.doc_id <> y.doc_id)
        |  WHERE jaccard >= 0.8)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT a FROM dup)""".stripMargin),

    // exact n-gram Jaccard within (lang, length) blocks — oracle-checked
    GateEntry("p_dedup_ngram", (s, dir) =>
      Dedup.ngramJaccardPairs(heavyDocs(s, dir), threshold = 0.5),
      // exhaustive all-pairs in the oracle; the Spark side must reproduce it
      // exactly through prefix filtering (lossless by construction)
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |        FROM $heavyDocsRel))
        |SELECT a, b, jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
        |  FROM t x JOIN t y ON x.doc_id < y.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin),

    // asymmetric n-gram containment |a∩b|/|a| — the partial-scrape signal
    // symmetric Jaccard misses (short doc embedded in a long one) —
    // oracle-checked; threshold 0.6 on the synthetic near-dup fixture
    GateEntry("p_dedup_contain", (s, dir) =>
      Dedup.containmentPairs(heavyDocs(s, dir), threshold = 0.6),
      // asymmetric containment: ordered pairs, denominator is the CONTAINED
      // side's set size only — both directions checked independently
      s"""WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id,
        |               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |        FROM $heavyDocsRel))
        |SELECT a, b, containment FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
        |               len(x.sh), 4) AS containment
        |  FROM t x JOIN t y ON x.doc_id <> y.doc_id)
        |WHERE containment >= 0.6""".stripMargin),

    // duplicated-span coverage: fraction of each doc's tokens inside a
    // 5-gram shared with >=2 docs (substring-dedup signal) — oracle-checked
    GateEntry("p_span_dedup", (s, dir) => Dedup.dupSpanCoverage(docs(s, dir)),
      // positional 5-grams (same short-doc bound as the Spark side); interval
      // union via lead(): consecutive starts p, p' overlap when p' - p < 5
      spanCoverageOracleSql),

    // duplicated-span REMOVAL (the Lee et al. mutation op): cleaned text
    // with the cross-document 5-gram spans dropped — oracle-checked
    GateEntry("p_span_remove", (s, dir) => Dedup.removeDupSpans(docs(s, dir)),
      // same CTE prefix as p_span_dedup; covered positions expand from the
      // duplicated starts, kept tokens re-assemble via ordered string_agg
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
        |p AS (
        |  SELECT doc_id, n_tokens, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(toks[i:i+4], ' ') AS gram
        |  FROM (SELECT doc_id, n_tokens, toks,
        |               unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i
        |        FROM m)),
        |df AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM p)
        |  GROUP BY gram HAVING count(*) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, cp FROM (
        |    SELECT p.doc_id, unnest(range(p.pos, least(p.pos + 5, p.n_tokens))) AS cp
        |    FROM p JOIN df USING (gram))),
        |tokpos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tpos, toks[i] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM m)),
        |kept AS (
        |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.tpos) AS clean_text,
        |         count(*) AS kept_n
        |  FROM tokpos tp LEFT JOIN covered c
        |    ON tp.doc_id = c.doc_id AND tp.tpos = c.cp
        |  WHERE c.cp IS NULL
        |  GROUP BY tp.doc_id)
        |SELECT m.doc_id, coalesce(k.clean_text, '') AS clean_text, m.n_tokens,
        |       CAST(m.n_tokens - coalesce(k.kept_n, 0) AS BIGINT) AS removed_tokens
        |FROM m LEFT JOIN kept k ON m.doc_id = k.doc_id""".stripMargin),

    // composition: span-removal feeding per-source curation stats (docs,
    // surviving clean tokens, mean removed fraction) — operators compose
    // end-to-end like p_curate, oracle-checked. Removal reads the
    // persisted span artifact (the production shape: a curation pipeline
    // re-runs its stats far more often than the corpus changes);
    // p_span_remove above stays on the fresh mine as the honest re-mine
    // reference, the p_dedup_ngram / p_dedup_clusters split.
    GateEntry("p_span_pipeline", (s, dir) => {
      overSpans(s, dir)(Dedup.removeDupSpansPersisted(_, _))
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_tokens") - col("removed_tokens")).cast("long").as("clean_tokens"),
          round(avg(col("removed_tokens").cast("double") / col("n_tokens")), 6)
            .as("mean_removed_frac"))
    },
      // the span-remove CTE prefix without the string re-assembly: removed
      // tokens per doc = covered-position count, aggregated per source
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
        |p AS (
        |  SELECT doc_id, n_tokens, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(toks[i:i+4], ' ') AS gram
        |  FROM (SELECT doc_id, n_tokens, toks,
        |               unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i
        |        FROM m)),
        |df AS (
        |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM p)
        |  GROUP BY gram HAVING count(*) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, cp FROM (
        |    SELECT p.doc_id, unnest(range(p.pos, least(p.pos + 5, p.n_tokens))) AS cp
        |    FROM p JOIN df USING (gram))),
        |rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS removed
        |        FROM covered GROUP BY doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(m.n_tokens - coalesce(rem.removed, 0)) AS BIGINT) AS clean_tokens,
        |       round(avg(coalesce(rem.removed, 0) / CAST(m.n_tokens AS DOUBLE)), 6)
        |         AS mean_removed_frac
        |FROM m JOIN documents d ON d.doc_id = m.doc_id
        |LEFT JOIN rem ON rem.doc_id = m.doc_id
        |GROUP BY d.source""".stripMargin),

    // coverage over the persisted span-mining artifact: identical rows to
    // p_span_dedup, but the mine (tokenize → gram explode → doc-freq agg)
    // is amortized once per corpus fingerprint like the pairs/IVF
    // artifacts — the timed work is the dup-position window + ntok join
    GateEntry("p_span_persisted", (s, dir) =>
      overSpans(s, dir)(Dedup.dupSpanCoveragePersisted(_, _)),
      // the persisted-artifact variant computes IDENTICAL rows (the
      // artifact is a materialization boundary, not a semantic change) —
      // same oracle, the p_ann_ivf_persisted convention
      spanCoverageOracleSql),

    // transitive dup clustering: min-label connected components over the
    // exact pair graph; canonical id = min doc in cluster — oracle-checked
    // against a recursive-CTE label propagation. Pairs come from the
    // persisted mining artifact (built once per corpus fingerprint), so
    // repeat clustering pays only the CC iteration, not a re-mine.
    GateEntry("p_dedup_clusters", (s, dir) => {
      val d = heavyDocs(s, dir)
      Dedup.dupClusters(d, threshold = 0.5,
        minedPairs = Some(minedPairs(s, dir)))
    },
      s"""WITH RECURSIVE ${dupClustersCtes(heavyDocsRel)}
        |SELECT doc_id, cluster_id FROM cl""".stripMargin),

    // quality-aware keeper selection per dup cluster: dedup that keeps
    // the BEST copy (unrounded-score argmax, id tie-break) — three
    // operators composing (pair mining → CC clustering → quality rank),
    // oracle re-derives the whole chain
    GateEntry("p_dedup_keep_best", (s, dir) => {
      val d = heavyDocs(s, dir)
      Dedup.keepBestPerCluster(d, Dedup.dupClusters(d, threshold = 0.5,
        minedPairs = Some(minedPairs(s, dir))))
    },
      // same cluster derivation + the UNROUNDED quality-score argmax per
      // cluster (ties -> smallest doc id); only the reported score rounds
      s"""WITH RECURSIVE ${dupClustersCtes(heavyDocsRel)},
        |q AS (
        |  SELECT doc_id,
        |         least(n_tokens, 100) / 100.0 * 0.5 +
        |         CAST(stop_cnt AS DOUBLE) / n_tokens * 0.3 +
        |         (1.0 - least(punct_cnt, 20) / 20.0) * 0.2 AS score
        |  FROM (
        |    SELECT doc_id,
        |           CAST(len(toks) AS BIGINT) AS n_tokens,
        |           CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_cnt,
        |           CAST(len(list_filter(toks, t2 -> list_contains(
        |             ['the','a','an','of','and','to','in','is','it','that'], t2))) AS BIGINT) AS stop_cnt
        |    FROM (SELECT doc_id, text,
        |                 regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        |          FROM $heavyDocsRel))),
        |r AS (
        |  SELECT cl.cluster_id, cl.doc_id, q.score,
        |         row_number() OVER (PARTITION BY cl.cluster_id
        |           ORDER BY q.score DESC, cl.doc_id ASC) AS rk,
        |         CAST(count(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT)
        |           AS cluster_size
        |  FROM cl JOIN q ON q.doc_id = cl.doc_id)
        |SELECT cluster_id, doc_id AS kept_doc_id, cluster_size,
        |       round(score, 4) AS kept_score
        |FROM r WHERE rk = 1""".stripMargin),

    // leakage-safe split: near-dup CLUSTERS are the split unit, so a test
    // doc's near-copy can never train the model — composes the persisted
    // pair mine -> CC clustering -> cluster-keyed band assignment.
    // Oracle re-derives the whole chain (recursive-CTE CC + the LCG band
    // on cluster_id) — oracle-checked
    GateEntry("p_split_leakage", (s, dir) => {
      val d = heavyDocs(s, dir)
      Sampling.assignSplitsByCluster(d,
          Dedup.dupClusters(d, threshold = 0.5,
            minedPairs = Some(minedPairs(s, dir))))
        .select("doc_id", "cluster_id", "split")
    },
      // cluster derivation + the p_split LCG band applied to cluster_id:
      // every member of a dup cluster lands in the same split band
      s"""WITH RECURSIVE ${dupClustersCtes(heavyDocsRel)},
        |s AS (
        |  SELECT doc_id, cluster_id,
        |         (cluster_id % 2147483647 + 17) * 48271 % 2147483647
        |           * 48271 % 2147483647 % 1000000 AS b
        |  FROM cl)
        |SELECT doc_id, cluster_id,
        |       CASE WHEN b < 900000 THEN 'train'
        |            WHEN b < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM s""".stripMargin),

    // span-level decontamination: remove only the eval-overlapping spans
    // from train docs, keep the rest (the surgical variant; same
    // train/eval slices as p_contamination) — oracle-checked
    GateEntry("p_decon_spans", (s, dir) => {
      val d = docs(s, dir)
      Dedup.removeContaminatedSpans(
        d.filter(pmod(col("doc_id"), lit(100)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(100)) === 0))
    },
      // span-level decontamination: the p_span_remove gap-rebuild SQL with
      // the doc-freq CTE swapped for the eval slice's distinct 3-grams
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks
        |      FROM t WHERE doc_id % 100 <> 0),
        |ev AS (
        |  SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS gram
        |  FROM (SELECT toks, unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
        |        FROM t WHERE doc_id % 100 = 0)),
        |p AS (
        |  SELECT doc_id, n_tokens, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(toks[i:i+2], ' ') AS gram
        |  FROM (SELECT doc_id, n_tokens, toks,
        |               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
        |        FROM m)),
        |covered AS (
        |  SELECT DISTINCT doc_id, cp FROM (
        |    SELECT p.doc_id, unnest(range(p.pos, least(p.pos + 3, p.n_tokens))) AS cp
        |    FROM p JOIN ev USING (gram))),
        |tokpos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tpos, toks[i] AS tok
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM m)),
        |kept AS (
        |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.tpos) AS clean_text,
        |         count(*) AS kept_n
        |  FROM tokpos tp LEFT JOIN covered c
        |    ON tp.doc_id = c.doc_id AND tp.tpos = c.cp
        |  WHERE c.cp IS NULL
        |  GROUP BY tp.doc_id)
        |SELECT m.doc_id, coalesce(k.clean_text, '') AS clean_text, m.n_tokens,
        |       CAST(m.n_tokens - coalesce(k.kept_n, 0) AS BIGINT) AS removed_tokens
        |FROM m LEFT JOIN kept k ON m.doc_id = k.doc_id""".stripMargin),
  )

  /** Shared `WITH RECURSIVE` body deriving the exact n-gram-Jaccard
    * (threshold 0.5) dup clusters as `cl(doc_id, cluster_id)` — the
    * DuckDB mirror of `Dedup.dupClusters(docs, 0.5)` over
    * `ngramJaccardPairs`: exhaustive all-pairs Jaccard, undirected edge
    * closure, min-id component labels. Callers open with
    * `WITH RECURSIVE ${dupClustersCtes(docsRel)}` and may append further CTEs;
    * `docsRel` lets the timeout-prone consumers (p_dedup_clusters /
    * p_dedup_keep_best / p_split_leakage) bound their corpus via
    * [[heavyDocsRel]]. */
  private def dupClustersCtes(docsRel: String): String =
    s"""t AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM (SELECT doc_id,
      |               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      |        FROM $docsRel)),
      |e AS (
      |  SELECT a, b FROM (
      |    SELECT x.doc_id AS a, y.doc_id AS b,
      |           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
      |                 (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4) AS jaccard
      |    FROM t x JOIN t y ON x.doc_id < y.doc_id)
      |  WHERE jaccard >= 0.5),
      |ue AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
      |cc AS (
      |  SELECT doc_id AS id, doc_id AS comp FROM $docsRel
      |  UNION
      |  SELECT ue.b AS id, cc.comp FROM cc JOIN ue ON ue.a = cc.id),
      |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id)""".stripMargin

  /** Shared by `p_span_dedup` (fresh mine) and `p_span_persisted`
    * (artifact read) — the artifact is a materialization boundary, not a
    * semantic change, so one oracle pins both. */
  private val spanCoverageOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
      |p AS (
      |  SELECT doc_id, n_tokens, CAST(i - 1 AS BIGINT) AS pos,
      |         array_to_string(toks[i:i+4], ' ') AS gram
      |  FROM (SELECT doc_id, n_tokens, toks,
      |               unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i
      |        FROM m)),
      |df AS (
      |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM p)
      |  GROUP BY gram HAVING count(*) >= 2),
      |c AS (
      |  SELECT doc_id, n_tokens, pos,
      |         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM p JOIN df USING (gram)),
      |s AS (
      |  SELECT doc_id,
      |         count(*) AS dup_positions,
      |         sum(least(5, n_tokens - pos, coalesce(nxt - pos, 5))) AS covered
      |  FROM c GROUP BY doc_id)
      |SELECT m.doc_id, m.n_tokens,
      |       CAST(coalesce(s.dup_positions, 0) AS BIGINT) AS dup_positions,
      |       CAST(coalesce(s.covered, 0) AS BIGINT) AS covered_tokens,
      |       round(coalesce(s.covered, 0) / CAST(m.n_tokens AS DOUBLE), 6)
      |         AS coverage
      |FROM m LEFT JOIN s ON m.doc_id = s.doc_id""".stripMargin
}
