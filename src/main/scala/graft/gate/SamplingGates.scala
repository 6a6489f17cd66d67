package graft.gate

import org.apache.spark.sql.functions._

import graft.pipeline.{Corpus, Dedup, Sampling, TextAnalysis}
import graft.streaming.StreamingOps
import GateInputs._

/** `p_` gate entries for [[graft.pipeline.Sampling]]: mixtures, temperature
  * sampling, splits, DSIR selection, quotas and curation, each beside its
  * DuckDB mirror. */
private[gate] object SamplingGates {

  def entries: Seq[GateEntry] = Seq(
    // domain-mixture re-weighting toward a target distribution (observed
    // share, weight, realized down-sampling rate, up-sampling repeats —
    // the planning counterpart of p_mix's mixtureSample)
    GateEntry("p_mixture", (s, dir) =>
      Sampling.mixtureWeights(docs(s, dir), "source",
        Map("src0" -> 0.2, "src1" -> 0.2, "src2" -> 0.1)),
      """SELECT source AS domain, count(*) AS n,
        |  round(count(*) / sum(count(*)) OVER (), 6) AS share,
        |  round((CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.2
        |                     WHEN 'src2' THEN 0.1 ELSE 0.0 END)
        |        / (count(*) / sum(count(*)) OVER ()), 4) AS weight,
        |  least(1.0, round((CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.2
        |                     WHEN 'src2' THEN 0.1 ELSE 0.0 END)
        |        / (count(*) / sum(count(*)) OVER ()), 4)) AS down_rate,
        |  greatest(1, CAST(ceil(round((CASE source WHEN 'src0' THEN 0.2
        |                     WHEN 'src1' THEN 0.2
        |                     WHEN 'src2' THEN 0.1 ELSE 0.0 END)
        |        / (count(*) / sum(count(*)) OVER ()), 4)) AS BIGINT)) AS repeats
        |FROM documents GROUP BY source""".stripMargin),

    // temperature-based (alpha = 0.3) mixture balancing: no hand-written
    // target — the target IS share^0.3 renormalized, so rare sources
    // up-weight and dominant ones thin (XLM-R-style corpus flattening)
    GateEntry("p_tempmix", (s, dir) =>
      Sampling.temperatureWeights(docs(s, dir), "source", alpha = 0.3),
      // temperature weights: share^0.3 renormalized; the denominator folds
      // a SORTED list so float addition order matches the Spark side
      """WITH d AS (SELECT source AS domain, count(*) AS n
        |           FROM documents GROUP BY source),
        |p AS (SELECT domain, n,
        |             CAST(n AS DOUBLE) / (SELECT sum(n) FROM d) AS share,
        |             pow(CAST(n AS DOUBLE) / (SELECT sum(n) FROM d), 0.3) AS ps
        |      FROM d),
        |den AS (SELECT list_sum(list_sort(list(ps))) AS denom FROM p)
        |SELECT domain, n, round(share, 6) AS share,
        |       round(ps / denom, 6) AS temp_share,
        |       round(ps / denom / share, 4) AS weight,
        |       least(1.0, round(ps / denom / share, 4)) AS down_rate,
        |       greatest(1, CAST(ceil(round(ps / denom / share, 4)) AS BIGINT))
        |         AS repeats
        |FROM p, den""".stripMargin),

    // ...and its realized resample: per-doc epochs from the 4-dp report
    // weights via the same MINSTD² fractional-keep arithmetic as p_mix
    GateEntry("p_tempsample", (s, dir) =>
      Sampling.temperatureSample(docs(s, dir), "source", alpha = 0.3)
        .select("doc_id", "source", "epoch"),
      // temperature resample: the 4-dp report weight drives the identical
      // floor + fractional-MINSTD² epoch arithmetic as p_mix
      """WITH d AS (SELECT source AS domain, count(*) AS n
        |           FROM documents GROUP BY source),
        |p AS (SELECT domain,
        |             CAST(n AS DOUBLE) / (SELECT sum(n) FROM d) AS share,
        |             pow(CAST(n AS DOUBLE) / (SELECT sum(n) FROM d), 0.3) AS ps
        |      FROM d),
        |den AS (SELECT list_sum(list_sort(list(ps))) AS denom FROM p),
        |wt AS (SELECT domain, round(ps / denom / share, 4) AS wt FROM p, den),
        |w AS (SELECT doc_id, source, wt.wt AS wt,
        |             ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |               % 2147483647 % 1000000 AS h
        |      FROM documents JOIN wt ON wt.domain = documents.source),
        |c AS (SELECT doc_id, source,
        |             CAST(floor(wt) AS BIGINT) +
        |             CASE WHEN h < CAST(round((wt - floor(wt)) * 1000000) AS BIGINT)
        |                  THEN 1 ELSE 0 END AS n
        |      FROM w)
        |SELECT doc_id, source, CAST(unnest(range(0, n)) AS BIGINT) AS epoch
        |FROM c WHERE n > 0""".stripMargin),

    // seeded deterministic global shuffle into training shards (the
    // oracle recomputes the permutation from doc_id alone — shard order
    // is engine-portable)
    GateEntry("p_shuffle", (s, dir) =>
      Sampling.seededShuffle(docs(s, dir), shards = 4),
      // the permutation recomputed from doc_id alone: seeded MINSTD² bucket
      // (id mod M + seed) * 48271 mod M * 48271 mod M mod 1e6, M = 2^31-1
      """WITH t AS (
        |  SELECT doc_id AS id,
        |         (doc_id % 2147483647 + 43) * 48271 % 2147483647
        |           * 48271 % 2147483647 % 1000000 AS bucket
        |  FROM documents)
        |SELECT id, bucket % 4 AS shard,
        |       CAST(row_number() OVER (PARTITION BY bucket % 4
        |         ORDER BY bucket, id) AS BIGINT) AS pos
        |FROM t""".stripMargin),

    // deterministic train/val/test split: pure function of (id, seed) —
    // assignments never move under corpus growth; engine-portable mirror
    GateEntry("p_split", (s, dir) =>
      Sampling.assignSplits(docs(s, dir)).select("doc_id", "lang", "split"),
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         (doc_id % 2147483647 + 17) * 48271 % 2147483647
        |           * 48271 % 2147483647 % 1000000 AS b
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN b < 900000 THEN 'train'
        |            WHEN b < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM t""".stripMargin),

    // DSIR importance scores (Xie et al. 2023): per-doc log-likelihood
    // ratio of its unigram+bigram bag under the lang='en' target model vs
    // the raw corpus model, top-512 word vocab — oracle-checked (the
    // vocab variant is an integer ranking + ln arithmetic, so DuckDB
    // mirrors it exactly; the hashed 100 TB variant is spec-pinned)
    // The trailing !isnan(score) filter is always true (scores are finite
    // by construction) but references the computed column, so the bench's
    // `.count()` cannot prune the λ-model through the left-outer join —
    // without it the entry timed `docs.count()` (r11 judge: 0.12 s
    // "measured" vs ≈8.7 s real) and could never catch a DSIR regression.
    GateEntry("p_dsir", (s, dir) =>
      Sampling.dsirScores(docs(s, dir), col("lang") === "en")
        .filter(!isnan(col("score"))),
      // DSIR λ model recomputed end-to-end: unigram+bigram bag, per-feature
      // (raw, target) counts, top-512 vocab by (count desc, gram asc),
      // add-one-smoothed log-ratio, per-doc SORTED-list fold (same float
      // addition order as the Spark side), absent-feature docs score 0
      """WITH t AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tgt, unnest(toks) AS gram FROM t
        |  UNION ALL
        |  SELECT doc_id, tgt, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM (SELECT doc_id, tgt, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |dg AS (SELECT doc_id, tgt, gram AS f, count(*) AS c
        |       FROM g GROUP BY 1, 2, 3),
        |stats AS (SELECT f, sum(c) AS r,
        |                 sum(CASE WHEN tgt THEN c ELSE 0 END) AS t
        |          FROM dg GROUP BY f),
        |vocab AS (SELECT * FROM stats ORDER BY r DESC, f ASC LIMIT 512),
        |totals AS (SELECT sum(t) AS tt, sum(r) AS rr FROM vocab),
        |lam AS (SELECT f,
        |               ln(CAST(t + 1 AS DOUBLE) / (tt + 512.0)) -
        |               ln(CAST(r + 1 AS DOUBLE) / (rr + 512.0)) AS lam
        |        FROM vocab, totals),
        |scored AS (SELECT doc_id,
        |                  round(list_sum(list_sort(list(c * lam))), 6) AS score
        |           FROM dg JOIN lam USING (f) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(s.score, 0.0) AS score
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin),

    // ...and its Gumbel-top-k selection: deterministic sample-without-
    // replacement ∝ exp(score) via the seeded MINSTD² uniform — the same
    // (seed, k) selects the same docs on any engine; oracle-checked
    GateEntry("p_dsir_select", (s, dir) =>
      Sampling.dsirSelect(docs(s, dir), col("lang") === "en", k = 50),
      // Gumbel-top-k over the p_dsir scores: u from the seed-7 MINSTD²
      // bucket, key = round(score − ln(−ln(u)), 6), top 50 by (key desc,
      // doc_id asc)
      """WITH t AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tgt, unnest(toks) AS gram FROM t
        |  UNION ALL
        |  SELECT doc_id, tgt, toks[i] || ' ' || toks[i+1] AS gram
        |  FROM (SELECT doc_id, tgt, toks, unnest(range(1, len(toks))) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |dg AS (SELECT doc_id, tgt, gram AS f, count(*) AS c
        |       FROM g GROUP BY 1, 2, 3),
        |stats AS (SELECT f, sum(c) AS r,
        |                 sum(CASE WHEN tgt THEN c ELSE 0 END) AS t
        |          FROM dg GROUP BY f),
        |vocab AS (SELECT * FROM stats ORDER BY r DESC, f ASC LIMIT 512),
        |totals AS (SELECT sum(t) AS tt, sum(r) AS rr FROM vocab),
        |lam AS (SELECT f,
        |               ln(CAST(t + 1 AS DOUBLE) / (tt + 512.0)) -
        |               ln(CAST(r + 1 AS DOUBLE) / (rr + 512.0)) AS lam
        |        FROM vocab, totals),
        |scored AS (SELECT doc_id,
        |                  round(list_sum(list_sort(list(c * lam))), 6) AS score
        |           FROM dg JOIN lam USING (f) GROUP BY doc_id),
        |all_s AS (SELECT d.doc_id, coalesce(s.score, 0.0) AS score
        |          FROM documents d LEFT JOIN scored s USING (doc_id)),
        |keyed AS (
        |  SELECT doc_id, score,
        |         round(score - ln(-ln(
        |           ((doc_id % 2147483647 + 7) * 48271 % 2147483647
        |             * 48271 % 2147483647 % 1000000 + 0.5) / 1000000.0)), 6)
        |           AS key
        |  FROM all_s)
        |SELECT doc_id, score, key FROM keyed
        |ORDER BY key DESC, doc_id ASC LIMIT 50""".stripMargin),

    // per-source token-quota admission (batch form of the custom-state
    // streaming op) — oracle-checked
    GateEntry("p_quota", (s, dir) =>
      StreamingOps.quotaFilter(
        docs(s, dir).select(col("doc_id"), col("source"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens")),
        quota = 1000),
      // identical window formulation: admit while the source's running total
      // BEFORE the doc is under quota
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE cum - n_tokens < 1000""".stripMargin),

    // composite curation pipeline: exact-dedup -> quality gate -> per-lang
    // corpus stats (operators composing end-to-end) — oracle-checked.
    // The gate uses the UNROUNDED score with a threshold nudged off the
    // representable boundary: a 4-dp-rounded gate at exactly 0.5 flipped one
    // boundary doc between Spark and DuckDB in round 1.
    GateEntry("p_curate", (s, dir) => {
      val d = docs(s, dir)
      val keep = Dedup.exact(d).select("doc_id")
      val quality = TextAnalysis.qualityFeaturesRaw(d).select("doc_id", "n_tokens", "score")
      d.join(keep, "doc_id")
        .join(quality, "doc_id")
        .filter(col("score") >= 0.5 - 1e-9)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    },
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |q AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         least(len(toks), 100) / 100.0 * 0.5 +
        |           CAST(len(list_filter(toks, t -> list_contains(
        |             ['the','a','an','of','and','to','in','is','it','that'], t))) AS DOUBLE)
        |             / len(toks) * 0.3 +
        |           (1.0 - least(length(text) -
        |             length(regexp_replace(text, '[[:punct:]]', '', 'g')), 20) / 20.0) * 0.2
        |           AS score
        |  FROM (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))
        |SELECT d.lang, count(*) AS n_docs, CAST(sum(q.n_tokens) AS BIGINT) AS total_tokens
        |FROM documents d
        |JOIN keep k ON k.doc_id = d.doc_id
        |JOIN q ON q.doc_id = d.doc_id
        |WHERE q.score >= 0.4999999990
        |GROUP BY d.lang""".stripMargin),

    // global token-budget selection: best-quality docs until a corpus-wide
    // 10k-token budget, computed as a distributed prefix-sum (range
    // partitions + bounded offset collect), never a single global window —
    // oracle-checked against DuckDB's global cumulative window
    GateEntry("p_budget_select", (s, dir) => {
      val q = TextAnalysis.qualityFeaturesRaw(docs(s, dir))
        .select("doc_id", "n_tokens", "score")
      Sampling.selectUnderTokenBudget(q, budget = 10000L)
        .select("doc_id", "n_tokens") // id + integral tokens; the raw
                                      // float score stays out of the hash
    },
      // the same admission rule as the Spark distributed prefix-sum, spelled
      // as DuckDB's global cumulative window (fine at oracle scale); the
      // quality-score formula is p_curate's, raw (unrounded) for ordering
      """WITH q AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         least(len(toks), 100) / 100.0 * 0.5 +
        |           CAST(len(list_filter(toks, t -> list_contains(
        |             ['the','a','an','of','and','to','in','is','it','that'], t))) AS DOUBLE)
        |             / len(toks) * 0.3 +
        |           (1.0 - least(length(text) -
        |             length(regexp_replace(text, '[[:punct:]]', '', 'g')), 20) / 20.0) * 0.2
        |           AS score
        |  FROM (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))
        |SELECT doc_id, n_tokens FROM (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cumb
        |  FROM q)
        |WHERE cumb < 10000""".stripMargin),

    // deterministic stratified sampling (reproducible training mixes):
    // per-lang keep rates compiled into one filter — oracle-checked
    GateEntry("p_sample", (s, dir) =>
      Corpus.stratifiedSample(docs(s, dir), Map("en" -> 50, "zh" -> 10),
        defaultNum = 25).select("doc_id", "lang"),
      """SELECT doc_id, lang FROM documents
        |WHERE ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271) % 2147483647 % 100 <
        |      CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 10 ELSE 25 END""".stripMargin),

    // Efraimidis-Spirakis weighted sample without replacement, weight =
    // n_chars (longer docs proportionally likelier) — oracle-checked
    GateEntry("p_weighted_sample", (s, dir) =>
      Sampling.weightedSample(docs(s, dir), k = 64, weightCol = "n_chars")
        .select("doc_id", "n_chars", "es_key"),
      // E-S exponential keys on the seeded (seed=29) uniform, round-before-
      // rank at 6dp, id tie-break, top-64 — weight-proportional without
      // replacement; ln on the same rational u both engines
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |         ((doc_id % 2147483647 + 29) * 48271 % 2147483647
        |            * 48271 % 2147483647 % 1000000 + 1) / 1000000.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |       round(ln(u) / n_chars, 6) + 0.0 AS es_key
        |FROM t
        |ORDER BY es_key DESC, doc_id
        |LIMIT 64""".stripMargin),

    // weighted mixture resampling: src0 upsampled 2.5x, src1 kept at 30%,
    // rest at 1.0 — oracle-checked (MINSTD² mirror + range() explode)
    GateEntry("p_mix", (s, dir) =>
      Corpus.mixtureSample(docs(s, dir),
        Map("src0" -> 2.5, "src1" -> 0.3), defaultWeight = 1.0)
        .select("doc_id", "source", "epoch"),
      // same MINSTD² mirror; epochs = floor(w) + one more when the id-hash
      // bucket clears the fractional numerator
      """WITH w AS (
        |  SELECT doc_id, source,
        |         CASE WHEN source = 'src0' THEN 2.5
        |              WHEN source = 'src1' THEN 0.3 ELSE 1.0 END AS wt,
        |         ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |           % 2147483647 % 1000000 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |         CAST(floor(wt) AS BIGINT) +
        |         CASE WHEN h < CAST(round((wt - floor(wt)) * 1000000) AS BIGINT)
        |              THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, source, CAST(unnest(range(0, n)) AS BIGINT) AS epoch
        |FROM c WHERE n > 0""".stripMargin),
  )
}
