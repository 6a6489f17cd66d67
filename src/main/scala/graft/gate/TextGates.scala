package graft.gate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Corpus, Explodes, Similarity, TextAnalysis}
import GateInputs._

/** `p_` gate entries for [[graft.pipeline.TextAnalysis]] and the corpus
  * statistics in [[graft.pipeline.Corpus]]: quality filters, scoring,
  * hashing, sketches, decontamination and manifests, each beside its
  * DuckDB mirror. Holds the XXH64-in-SQL mirror the dedup family shares. */
private[gate] object TextGates {

  def entries: Seq[GateEntry] = Seq(
    // quality scoring — oracle-checked
    GateEntry("p_text_quality", (s, dir) => TextAnalysis.qualityFeatures(docs(s, dir)),
      """SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
        |       round(least(n_tokens, 100) / 100.0 * 0.5 +
        |             CAST(stop_cnt AS DOUBLE) / n_tokens * 0.3 +
        |             (1.0 - least(punct_cnt, 20) / 20.0) * 0.2, 4) AS score
        |FROM (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_cnt,
        |         CAST(len(list_filter(toks, t -> list_contains(
        |           ['the','a','an','of','and','to','in','is','it','that'], t))) AS BIGINT) AS stop_cnt,
        |         text
        |  FROM (SELECT doc_id, text,
        |               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))""".stripMargin),

    // Gopher document-quality rules (Rae et al. 2021 Appendix A): the
    // standard pre-training heuristic filter, integer-exact verdict —
    // oracle-checked
    GateEntry("p_gopher", (s, dir) => TextAnalysis.gopherRules(docs(s, dir),
      stopWords = Seq("the", "a", "value", "query", "table", "spark")),
      // integer-exact verdict arithmetic mirrored exactly (rule 2 as
      // 3n <= sum_len <= 10n etc.) so `passes` never hangs on float rounding
      """WITH f AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |         string_split(text, chr(10)) AS lines,
        |         len(regexp_extract_all(text, '#')) +
        |           len(regexp_extract_all(text, '\.\.\.')) AS sym
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
        |         CAST(sym AS BIGINT) AS sym,
        |         CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS bullet,
        |         CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS BIGINT) AS ellipsis,
        |         CAST(len(lines) AS BIGINT) AS nlines,
        |         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha,
        |         CAST(len(list_filter(['the','a','value','query','table','spark'],
        |                              w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words,
        |       round(CAST(sum_len AS DOUBLE) / n_words, 4) AS mean_word_len,
        |       round(CAST(sym AS DOUBLE) / n_words, 4) AS symbol_ratio,
        |       round(CAST(bullet AS DOUBLE) / nlines, 4) AS bullet_frac,
        |       round(CAST(ellipsis AS DOUBLE) / nlines, 4) AS ellipsis_frac,
        |       round(CAST(alpha AS DOUBLE) / n_words, 4) AS alpha_word_frac,
        |       stop_hits,
        |       (n_words BETWEEN 50 AND 100000
        |        AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
        |        AND sym * 10 <= n_words
        |        AND bullet * 10 < nlines * 9
        |        AND ellipsis * 10 < nlines * 3
        |        AND alpha * 5 >= n_words * 4
        |        AND stop_hits >= 2) AS passes
        |FROM g""".stripMargin),

    // C4 line-level cleaning over synthesized line structure (the fixture
    // text is separator-free, so the entry materializes lines by the same
    // deterministic `replace` both engines apply; suffix/blocked knobs use
    // fixture vocabulary so every rule genuinely fires) — oracle-checked
    GateEntry("p_c4", (s, dir) => TextAnalysis.c4Clean(
      linedDocs(s, dir),
      minLineWords = 4,
      terminalSuffixes = Seq("row", "table", "value", "data", "key", "join", "line"),
      blocked = Seq("slow"),
      minKeptLines = 1),
      // identical plain-replace line synthesis, then the three C4 rules as
      // list_filter lambdas (word count via empty-stripped split, suffix
      // set, blocked substring) and the doc-level kept-line floor
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(replace(text, ' query ', chr(10)), chr(10)) AS lines
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lines,
        |    list_filter(lines, l ->
        |      len(list_filter(string_split(l, ' '), w -> w <> '')) >= 4
        |      AND (suffix(l, 'row') OR suffix(l, 'table') OR suffix(l, 'value')
        |           OR suffix(l, 'data') OR suffix(l, 'key') OR suffix(l, 'join')
        |           OR suffix(l, 'line'))
        |      AND NOT contains(lower(l), 'slow')) AS kept
        |  FROM d)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped
        |FROM k WHERE len(kept) >= 1""".stripMargin),

    // CCNet boilerplate strike: lines occurring byte-identical in >= 3
    // distinct docs vanish from all of them — oracle-checked
    GateEntry("p_boilerplate", (s, dir) =>
      Corpus.boilerplateRemove(linedDocs(s, dir), minDf = 3),
      // frequent-line set built once (df over distinct docs), then struck
      // from every doc's line list; coalesce([]) keeps the no-boilerplate
      // corpus case well-typed
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(replace(text, ' query ', chr(10)), chr(10)) AS lines
        |  FROM documents),
        |l AS (SELECT doc_id, unnest(lines) AS line FROM d),
        |freq AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |fl AS (SELECT coalesce(list(line), []) AS fls FROM freq),
        |k AS (
        |  SELECT doc_id, lines, list_filter(lines, x -> NOT list_contains(fls, x)) AS kept
        |  FROM d CROSS JOIN fl)
        |SELECT doc_id,
        |       -- array_to_string([]) is NULL in DuckDB but '' in Spark
        |       coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(lines) - len(kept) AS BIGINT) AS n_removed
        |FROM k""".stripMargin),

    // whitespace + BPE-ish token counts — oracle-checked
    GateEntry("p_token_count", (s, dir) => TextAnalysis.tokenCounts(docs(s, dir)),
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS sub_tokens
        |FROM documents""".stripMargin),

    // language-ID heuristic (marker lexicons + CJK ratio)
    GateEntry("p_lang_id", (s, dir) => TextAnalysis.langId(docs(s, dir)),
      // DuckDB mirror of [[TextAnalysis.langId]]: per-language marker counts,
      // argmax with first-match-wins tie order (the fold updates only on
      // strictly-greater, so the winner is the FIRST language attaining the
      // max), CJK character-ratio shortcut.
      {
        val langs = TextAnalysis.LangMarkers
        val scoreCols = langs.map { case (lang, words) =>
          val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
          s"CAST(len(list_filter(toks, t -> list_contains($arr, t))) AS BIGINT) AS s_$lang"
        }.mkString(",\n    ")
        // first lang whose score >= all later langs' scores wins
        val names = langs.map(_._1)
        val caseChain = names.init.zipWithIndex.map { case (lang, i) =>
          val rest = names.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
          s"WHEN $rest THEN '$lang'"
        }.mkString("\n       ")
        s"""WITH t AS (
           |  SELECT doc_id, text,
           |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, text,
           |    $scoreCols,
           |    length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk
           |  FROM t)
           |SELECT doc_id,
           |  CASE WHEN cjk * 2 > length(text) THEN 'zh'
           |       $caseChain
           |       ELSE '${names.last}' END AS lang_pred,
           |  greatest(${names.map(n => s"s_$n").mkString(", ")}, 0) AS marker_hits
           |FROM s""".stripMargin
      }),

    // BM25 relevance against a fixed query-term set (topic mining /
    // benchmark-adjacency scoring) — oracle-checked; fixed-order
    // contribution sum keeps the float math engine-reproducible
    GateEntry("p_bm25", (s, dir) =>
      TextAnalysis.bm25Scores(docs(s, dir), Seq("data", "query", "vector")),
      // constants appear as the SAME textual arithmetic Spark folds
      // ((1.2 + 1.0), (1.0 - 0.75)) so both engines produce identical
      // IEEE doubles before the 6-dp round
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
        |         CAST(len(list_filter(toks, x -> x = 'data')) AS DOUBLE) AS tf0,
        |         CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tf1,
        |         CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM t),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        |  FROM base)
        |SELECT doc_id,
        |       CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
        |            (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
        |            (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched_terms,
        |       round(
        |         ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * (1.2 + 1.0))
        |           / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) +
        |         ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * (1.2 + 1.0))
        |           / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) +
        |         ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * (1.2 + 1.0))
        |           / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)), 6) AS score
        |FROM base, stats
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0""".stripMargin),

    // winnowing fingerprints (rolling min-hash sketch)
    GateEntry("p_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(heavyDocs(s, dir)),
      // xxhash64 is NOT missing from DuckDB after all — reimplemented
      // from the public XXH64 spec in SQL (see xxh64Ctes); these two
      // leave the no_oracle list
      // DuckDB mirror of [[graft.pipeline.TextAnalysis.fingerprints]]
      // (winnowing, Schleimer et al.): 4-word shingles (first-occurrence
      // distinct, ORDER PRESERVED — the sliding window walks the list),
      // [[xxh64Ctes]] per shingle, signed conversion BEFORE the window min
      // (Spark compares signed longs), window-4 mins, distinct-count +
      // global min.
      s"""WITH RECURSIVE
         |sh AS MATERIALIZED (
         |  SELECT doc_id, i AS idx, array_to_string(list_slice(toks, i, i + 3), ' ') AS s
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |        FROM $heavyDocsRel),
         |       unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS t(i)
         |),
         |shd AS MATERIALIZED (
         |  SELECT doc_id, idx, s,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS sidx
         |  FROM (SELECT doc_id, idx, s,
         |               row_number() OVER (PARTITION BY doc_id, s ORDER BY idx) AS occ
         |        FROM sh)
         |  WHERE occ = 1
         |),
         |hin AS MATERIALIZED (
         |  SELECT doc_id * 1000000 + sidx AS k, s FROM shd
         |),
         |${xxh64Ctes("hin")},
         |hs AS MATERIALIZED (
         |  SELECT k // 1000000 AS doc_id, k % 1000000 AS sidx,
         |         CASE WHEN h >= 9223372036854775808::HUGEINT
         |              THEN (h - $M64)::BIGINT
         |              ELSE h::BIGINT END AS h
         |  FROM xres
         |),
         |hl AS MATERIALIZED (
         |  SELECT doc_id, list(h ORDER BY sidx) AS hs FROM hs GROUP BY doc_id
         |),
         |mins AS MATERIALIZED (
         |  SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
         |                                i -> list_min(hs[i:i+3])) AS mins
         |  FROM hl
         |)
         |SELECT doc_id, CAST(len(list_distinct(mins)) AS INTEGER) AS n_fp,
         |       list_min(mins) AS fp_min
         |FROM mins""".stripMargin),

    // corpus-trained bigram-LM scoring (CCNet-style perplexity filter) —
    // oracle-checked
    GateEntry("p_lm_score", (s, dir) => TextAnalysis.bigramLmScore(docs(s, dir)),
      // identical model formulation: context counts derived from the bigram
      // table, vocab over ALL token positions, add-1 smoothing
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
        |  WHERE len(toks) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2),
        |cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(toks) AS w FROM t)),
        |s AS (
        |  SELECT b.doc_id,
        |         -ln((cb.cb + 1.0) / (cu.cu + 1.0 * v.v)) AS nll
        |  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
        |FROM s GROUP BY doc_id""".stripMargin),

    // fastText-style linear quality-classifier inference: 64-bucket
    // hashed-unigram model with formula-derived weights (both engines
    // re-derive w[f] = ((f·2654435761) mod 1000)/1000 − 0.5 so the
    // oracle evaluates the IDENTICAL model) — oracle-checked
    GateEntry("p_classifier", (s, dir) => TextAnalysis.classifierScore(
      docs(s, dir), ClassifierW, bias = 0.0, threshold = ClassifierThreshold),
      // DuckDB mirror of [[graft.pipeline.TextAnalysis.classifierScore]] at
      // the p_classifier fixture parameters: distinct tokens hashed ONCE via
      // the from-the-spec XXH64 CTE chain, weights re-derived by the same
      // integer formula as [[ClassifierW]], per-doc contributions folded
      // over the SORTED list exactly as the Spark side folds — identical
      // IEEE addition order ⇒ bit-identical raw sum ⇒ the unrounded
      // threshold compare is engine-safe.
      s"""WITH RECURSIVE
         |$classifierCtes
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       -- RAW logit: the sorted fold makes the double
         |       -- bit-identical across engines, and the compare tool
         |       -- rounds both sides with ONE function — while SQL-side
         |       -- round(lg, 6) is engine-specific at decimal .5
         |       -- boundaries (a sf0.001 doc flipped 0.065063/0.065062
         |       -- between Spark HALF_UP and DuckDB float rounding, r17)
         |       lg AS logit,
         |       (lg >= $ClassifierThreshold) AS passes
         |FROM r""".stripMargin),

    // codepoint Shannon entropy per doc (binary-spill/gibberish signal,
    // fused native pass) — oracle-checked
    GateEntry("p_char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(docs(s, dir)),
      // per-codepoint counts, -sum(p ln p) folded in ASCENDING codepoint
      // order (the Spark expr iterates its ordered map the same way);
      // empty docs keep n_cp=0 / entropy 0.0 via the left join
      """WITH cp AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, length(text) + 1),
        |                               i -> unicode(substring(text, i, 1)))) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM cp GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id),
        |terms AS (
        |  SELECT cnt.doc_id,
        |         list((CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n)
        |              ORDER BY c) AS ts,
        |         any_value(n) AS n
        |  FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id)
        |SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS n_cp,
        |       coalesce(round(-list_reduce(t.ts, (a, b) -> a + b), 6) + 0.0,
        |                0.0) AS entropy
        |FROM documents d LEFT JOIN terms t USING (doc_id)""".stripMargin),

    // canonicalize-before-dedup: strip non-ws controls, collapse ws runs,
    // trim; n_removed audits source dirtiness — oracle-checked
    GateEntry("p_norm_text", (s, dir) => TextAnalysis.normalizeText(docs(s, dir)),
      // same two-stage replace: non-ws controls out, \s+ runs to one space,
      // trim; lengths are codepoint counts in both engines
      """SELECT doc_id,
        |       trim(regexp_replace(
        |         regexp_replace(text, '[\x00-\x08\x0E-\x1F\x7F-\x9F]', '', 'g'),
        |         '\s+', ' ', 'g')) AS norm_text,
        |       CAST(length(text) - length(trim(regexp_replace(
        |         regexp_replace(text, '[\x00-\x08\x0E-\x1F\x7F-\x9F]', '', 'g'),
        |         '\s+', ' ', 'g'))) AS BIGINT) AS n_removed
        |FROM documents""".stripMargin),

    // PR threshold sweep of the quality classifier against the lang=='en'
    // ground truth: the table a keep-if-score>=t cut is decided on —
    // oracle-checked
    GateEntry("p_pr_curve", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.prCurve(
        TextAnalysis.classifierScore(d, ClassifierW, bias = 0.0,
            threshold = ClassifierThreshold)
          .join(d.select(col("doc_id"), (col("lang") === "en").as("__lab")),
            "doc_id"),
        labelCol = col("__lab"), scoreCol = "logit")
    },
      // PR sweep over the classifier logits, lang='en' as ground truth:
      // FLOOR-quantized 2-dp thresholds over the RAW logit (pure IEEE
      // ops on the bit-identical double — exactly like the Spark path;
      // round() is engine-specific at .5 boundaries), cumulative tp/fp
      // descending.
      s"""WITH RECURSIVE
         |$classifierCtes,
         |lab AS (
         |  SELECT floor(lg * 100) / 100 + 0.0 AS threshold,
         |         (d.lang = 'en') AS y
         |  FROM r JOIN documents d USING (doc_id)),
         |g AS (
         |  SELECT threshold,
         |         sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos,
         |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS neg
         |  FROM lab GROUP BY threshold),
         |cum AS (
         |  SELECT threshold,
         |         sum(pos) OVER (ORDER BY threshold DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |         sum(neg) OVER (ORDER BY threshold DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
         |  FROM g),
         |tot AS (SELECT sum(pos) AS p FROM g)
         |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |       CAST(p - tp AS BIGINT) AS fn,
         |       -- RAW ratios of identical integers — bit-identical on
         |       -- both engines; round() would reintroduce the boundary
         |       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
         |       CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END AS recall
         |FROM cum CROSS JOIN tot""".stripMargin),

    // top-3 TF-IDF terms per doc (6-dp-rounded before ranking, term-asc
    // ties) — oracle-checked
    GateEntry("p_tfidf", (s, dir) => TextAnalysis.tfidfTopTerms(docs(s, dir)),
      // identical formulation: df derived from the tf table, raw-count idf,
      // round-then-rank with term-asc tie-break
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf,
        |         round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, tfidf
        |FROM r WHERE rank <= 3""".stripMargin),

    // in-engine classifier TRAINING: hashed Naive Bayes over the lang=='en'
    // label; the dim-row model (integer counts + ln-of-rational weights)
    // feeds classifierScore directly — oracle-checked
    GateEntry("p_nb_train", (s, dir) =>
      TextAnalysis.trainNaiveBayes(docs(s, dir), col("lang") === "en"),
      // hashed-NB trainer: integer (bucket, class) occurrence counts via the
      // XXH64 SQL mirror, add-1 smoothed ln-ratio weights on the dim grid
      s"""WITH RECURSIVE
         |t AS MATERIALIZED (
         |  SELECT doc_id, lang = 'en' AS y,
         |         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         |  FROM documents),
         |vocab AS MATERIALIZED (
         |  SELECT term, row_number() OVER (ORDER BY term) AS k
         |  FROM (SELECT DISTINCT term FROM t)),
         |hin AS MATERIALIZED (SELECT k, term AS s FROM vocab),
         |${xxh64Ctes("hin")},
         |th AS MATERIALIZED (
         |  SELECT v.term, CAST(x.h % 64 AS INTEGER) AS bucket
         |  FROM vocab v JOIN xres x USING (k)),
         |c AS MATERIALIZED (
         |  SELECT bucket,
         |         sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
         |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS n_neg
         |  FROM t JOIN th USING (term) GROUP BY bucket),
         |tot AS (
         |  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS t_pos,
         |         sum(CASE WHEN y THEN 0 ELSE 1 END) AS t_neg
         |  FROM t),
         |grid AS (SELECT CAST(b AS INTEGER) AS bucket FROM unnest(range(0, 64)) AS g(b))
         |SELECT CAST(grid.bucket AS BIGINT) AS bucket,
         |       CAST(coalesce(c.n_pos, 0) AS BIGINT) AS n_pos,
         |       CAST(coalesce(c.n_neg, 0) AS BIGINT) AS n_neg,
         |       round(ln((coalesce(c.n_pos, 0) + 1) / CAST(t_pos + 64 AS DOUBLE)) -
         |             ln((coalesce(c.n_neg, 0) + 1) / CAST(t_neg + 64 AS DOUBLE)), 6)
         |         AS weight
         |FROM grid LEFT JOIN c ON grid.bucket = c.bucket CROSS JOIN tot""".stripMargin),

    // feature-hashed TF-IDF document embeddings (hashing trick): raw text
    // -> cosine-ready unit vector with no external model — the bridge from
    // the documents table into every embedding-space operator; posexploded
    // to scalar rows for the driver's hasher, like p_normalize
    GateEntry("p_hash_embed", (s, dir) =>
      Explodes.posexplodeNoInfer(TextAnalysis.hashedTfidf(docs(s, dir)),
          Seq(col("doc_id")), col("vec"), "idx", "comp")
        .withColumn("idx", col("idx").cast("long")),
      hashEmbedOracleSql()),

    // distribution-shift gauge: pairwise cosine between per-source
    // hashedTfidf centroids — the drift alarm between corpus slices;
    // |sources|^2 output rows however large the corpus — oracle-checked
    GateEntry("p_domain_shift", (s, dir) => {
      val d = docs(s, dir)
      Similarity.centroidShift(
        TextAnalysis.hashedTfidf(d).join(d.select("doc_id", "source"), "doc_id"))
    },
      // Domain-shift oracle: the hashedTfidf chain's ROUNDED unit vectors
      // (the same frame meanPool consumes on the Spark side), per-source
      // component means folded in doc_id order, then pairwise centroid
      // cosine over the upper triangle.
      {
        val dim = 64
        hashEmbedChain(dim,
          s""", uv AS (
             |  SELECT doc_id,
             |         list_transform(range(1, ${dim + 1}), i -> round(vec[i] / nrm, 6)) AS v
             |  FROM nv WHERE nrm <> 0),
             |src AS (SELECT d.source, uv.doc_id, uv.v
             |        FROM uv JOIN documents d USING (doc_id)),
             |cmean AS (
             |  SELECT source, t.i,
             |         round(list_reduce(list(v[t.i] ORDER BY doc_id), (a, b) -> a + b)
             |               / count(*), 6) + 0.0 AS c
             |  FROM src, range(1, ${dim + 1}) t(i) GROUP BY source, t.i),
             |cent AS (SELECT source, list(c ORDER BY i) AS cv FROM cmean GROUP BY source),
             |n2 AS (SELECT source, cv,
             |              sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm
             |       FROM cent)
             |SELECT x.source AS src_a, y.source AS src_b,
             |       round(list_sum(list_transform(range(1, ${dim + 1}),
             |                                     i -> x.cv[i] * y.cv[i])) /
             |             (x.nrm * y.nrm), 6) AS cosine
             |FROM n2 x JOIN n2 y ON x.source < y.source""".stripMargin)
      }),

    // the train/apply split of the same operator: idf model trained once
    // (≤dim rows collected), then a shuffle-free per-row projection embeds
    // the corpus — the form that runs unchanged on a stream. Trained and
    // applied on the same corpus it equals hashedTfidf bit-exactly, so it
    // shares p_hash_embed's oracle
    GateEntry("p_hash_embed_apply", (s, dir) => {
      val d = docs(s, dir)
      val model = TextAnalysis.hashedTfidfIdfValues(TextAnalysis.hashedTfidfIdf(d))
      Explodes.posexplodeNoInfer(TextAnalysis.hashedTfidfApply(d, model),
          Seq(col("doc_id")), col("vec"), "idx", "comp")
        .withColumn("idx", col("idx").cast("long"))
    },
      // train==apply corpus ⇒ identical math path (spec-pinned bit-equality)
      hashEmbedOracleSql()),

    // pattern scrubbing: the PII email preset (0 hits on the synthetic
    // corpus — plumbing proof) plus a lexical pattern with real hits so
    // counts and redacted text are non-trivially oracle-checked
    GateEntry("p_pii", (s, dir) =>
      TextAnalysis.scrubPatterns(docs(s, dir), Seq(
        ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
        ("entity", """\b(customer|line)\b""", "<ENT>")))
        .select("doc_id", "n_email", "n_entity", "scrubbed"),
      // same patterns verbatim (Java-regex/RE2 common syntax); DuckDB
      // regexp_replace needs the 'g' flag to match Spark's replace-all
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b(customer|line)\b')) AS BIGINT)
        |    AS n_entity,
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '\b(customer|line)\b', '<ENT>', 'g') AS scrubbed
        |FROM documents""".stripMargin),

    // corpus-wide top-100 3-gram document frequencies — oracle-checked
    GateEntry("p_ngram_topk", (s, dir) => Corpus.ngramTopK(docs(s, dir), k = 100),
      """WITH t AS (
        |  SELECT list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))
        |SELECT ngram, count(*) AS doc_freq
        |FROM (SELECT unnest(sh) AS ngram FROM t)
        |GROUP BY ngram
        |ORDER BY doc_freq DESC, ngram ASC
        |LIMIT 100""".stripMargin),

    // KMV distinct-vocabulary sketch per language: the shuffle carries
    // 256 longs per group instead of the vocabulary — oracle recomputes
    // the sketch bit-exactly (same XXH64 minima, same estimator)
    GateEntry("p_kmv_vocab", (s, dir) => Corpus.vocabEstimate(docs(s, dir)),
      // KMV vocabulary sketch recomputed bit-exactly: distinct tokens hashed
      // through the from-spec XXH64 CTEs (h already UNSIGNED HUGEINT there),
      // per-language k smallest, estimator `(k-1)·2^64 / u_k` with the
      // under-k fallback to the exact count.
      {
        val k = 256
        s"""WITH RECURSIVE
           |t AS MATERIALIZED (
           |  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS s
           |  FROM documents),
           |tokd AS MATERIALIZED (
           |  SELECT s, row_number() OVER (ORDER BY s) AS k
           |  FROM (SELECT DISTINCT s FROM t)),
           |hin AS MATERIALIZED (SELECT k, s FROM tokd),
           |${xxh64Ctes("hin")},
           |hl AS (
           |  SELECT DISTINCT t.lang, xres.h
           |  FROM t JOIN tokd USING (s) JOIN xres USING (k)),
           |r AS (
           |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk,
           |         count(*) OVER (PARTITION BY lang) AS nd
           |  FROM hl)
           |SELECT lang, CAST(least(nd, $k) AS BIGINT) AS n_min,
           |       CASE WHEN nd < $k THEN round(CAST(nd AS DOUBLE), 4)
           |            ELSE round(${k - 1}.0 * 18446744073709551616.0 /
           |                       CAST(h AS DOUBLE), 4) END AS est_distinct
           |FROM r WHERE rk = least(nd, $k)""".stripMargin
      }),

    // count-min heavy hitters: exact top-20 tokens with exact + sketch
    // counts (estimates always >= truth) — oracle rebuilds the identical
    // d x w counters from the same bucket family
    GateEntry("p_cms_topk", (s, dir) => Corpus.cmsHeavyHitters(docs(s, dir)),
      // Count-min heavy-hitter oracle: rebuild the identical d×w counters —
      // bucket = XXH64("cms<r> " || token) low bits (w = 2^10, so the Spark
      // side's signed pmod equals the unsigned modulo) — then min the top-k
      // tokens' cells. Pure integer arithmetic, engine-exact by construction.
      {
        val k = 20
        val d = 2
        val w = 1024
        s"""WITH RECURSIVE
           |t AS (
           |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
           |  FROM documents),
           |c AS MATERIALIZED (SELECT tok, count(*) AS exact_cnt FROM t GROUP BY tok),
           |pre AS MATERIALIZED (
           |  SELECT r.range AS r, c.tok, 'cms' || r.range || ' ' || c.tok AS s
           |  FROM c CROSS JOIN range(0, $d) r),
           |tokd AS MATERIALIZED (
           |  SELECT s, row_number() OVER (ORDER BY s) AS k
           |  FROM (SELECT DISTINCT s FROM pre)),
           |hin AS MATERIALIZED (SELECT k, s FROM tokd),
           |${xxh64Ctes("hin")},
           |bck AS MATERIALIZED (
           |  SELECT pre.r, pre.tok, CAST(xres.h % $w AS BIGINT) AS j
           |  FROM pre JOIN tokd USING (s) JOIN xres USING (k)),
           |cells AS (
           |  SELECT b.r, b.j, sum(c.exact_cnt) AS cell
           |  FROM bck b JOIN c USING (tok) GROUP BY b.r, b.j),
           |top AS (SELECT tok, exact_cnt FROM c
           |        ORDER BY exact_cnt DESC, tok ASC LIMIT $k)
           |SELECT top.tok, CAST(top.exact_cnt AS BIGINT) AS exact_cnt,
           |       CAST(min(cells.cell) AS BIGINT) AS est_cnt
           |FROM top JOIN bck ON bck.tok = top.tok
           |         JOIN cells ON cells.r = bck.r AND cells.j = bck.j
           |GROUP BY top.tok, top.exact_cnt""".stripMargin
      }),

    // benchmark-contamination: train docs sharing >=1 3-shingle with the
    // (doc_id % 100 == 0) eval slice — oracle-checked
    GateEntry("p_contamination", (s, dir) => {
      val d = docs(s, dir)
      Corpus.contamination(
        d.filter(pmod(col("doc_id"), lit(100)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(100)) === 0))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents)),
        |e AS (SELECT DISTINCT unnest(sh) AS ngram FROM t WHERE doc_id % 100 = 0),
        |tr AS (SELECT doc_id, unnest(sh) AS ngram FROM t WHERE doc_id % 100 <> 0)
        |SELECT tr.doc_id, count(*) AS overlap_ngrams
        |FROM tr JOIN e ON tr.ngram = e.ngram
        |GROUP BY tr.doc_id""".stripMargin),

    // decontamination: the clean train complement (anti-join on the
    // contaminated-id set) — oracle-checked
    GateEntry("p_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      Corpus.decontaminate(
        d.filter(pmod(col("doc_id"), lit(100)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(100)) === 0))
        .select("doc_id", "lang", "source", "n_chars")
    },
      decontaminateOracleSql),

    // Bloom-prefiltered decontamination: identical result (the exact
    // verify join removes Bloom false positives), so it shares
    // p_decontaminate's oracle — the filter only cuts the join's input
    GateEntry("p_decon_bloom", (s, dir) => {
      val d = docs(s, dir)
      Corpus.decontaminateBloom(
        d.filter(pmod(col("doc_id"), lit(100)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(100)) === 0))
        .select("doc_id", "lang", "source", "n_chars")
    },
      // the Bloom prefilter is result-invariant (exact verify join) —
      // same oracle
      decontaminateOracleSql),

    // per-lang token-length stats with exact interpolated percentiles —
    // oracle-checked against DuckDB quantile_cont
    GateEntry("p_length_stats", (s, dir) => Corpus.lengthStats(docs(s, dir)),
      // DuckDB mirror of [[graft.pipeline.Corpus.lengthStats]] that
      // reproduces Spark's exact `Percentile` interpolation OPERATION FOR
      // OPERATION — `(higher − pos)·lo + (pos − lower)·hi` over the sorted
      // values with pos = p·(n−1) — instead of DuckDB's `quantile_cont`
      // (`lo + frac·(hi − lo)`), whose algebraically-equal-but-differently-
      // ordered arithmetic can differ by 1 ulp and flip a 6-dp rounding at a
      // decimal boundary (the p_curate failure class).
      {
        def pct(tag: String): String =
          s"""round(CASE WHEN ceil(pos$tag) = floor(pos$tag)
             |           THEN CAST(arr[CAST(floor(pos$tag) AS BIGINT) + 1] AS DOUBLE)
             |           ELSE (ceil(pos$tag) - pos$tag) * arr[CAST(floor(pos$tag) AS BIGINT) + 1]
             |              + (pos$tag - floor(pos$tag)) * arr[CAST(ceil(pos$tag) AS BIGINT) + 1]
             |      END, 6) AS p$tag""".stripMargin
        s"""WITH n AS (
           |  SELECT lang,
           |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |g AS (
           |  SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 6) AS mean_tokens,
           |         list(n_tokens ORDER BY n_tokens) AS arr
           |  FROM n GROUP BY lang),
           |p AS (
           |  SELECT lang, n_docs, mean_tokens, arr,
           |         CAST(0.5 AS DOUBLE)  * (n_docs - 1) AS pos50,
           |         CAST(0.95 AS DOUBLE) * (n_docs - 1) AS pos95,
           |         CAST(0.99 AS DOUBLE) * (n_docs - 1) AS pos99
           |  FROM g)
           |SELECT lang, n_docs, mean_tokens,
           |  ${pct("50")},
           |  ${pct("95")},
           |  ${pct("99")}
           |FROM p""".stripMargin
      }),

    // percentile-band outlier trim: per-lang closed [p05, p95] token band
    // (drop truncated fragments / merged-page monsters) — oracle-checked
    GateEntry("p_trim_outliers", (s, dir) =>
      Corpus.trimOutliers(docs(s, dir)).select("doc_id", "lang", "n_tokens"),
      // Outlier-trim oracle. The band bounds mirror SPARK's percentile
      // arithmetic exactly — PercentileBase.getPercentile's symmetric
      // two-weight form `(ceil−pos)·lower + (pos−floor)·higher` with BOTH
      // of its short-circuits (integral position ⇒ lower; equal keys ⇒
      // lower — without the latter, inexact FP weights make w₁·x + w₂·x ≠ x
      // and a doc sitting exactly on the bound flips sides), and the
      // position forced to DOUBLE (DuckDB types the p literal DECIMAL;
      // Spark computes `p·(n−1)` in doubles, and the two positions differ
      // in low-order bits, e.g. 59.85 vs 59.849999999999994) — because the
      // bounds feed an UNROUNDED >=/<= filter where 1-ulp differences are
      // visible.
      {
        val pLo: Double = 0.05
        val pHi: Double = 0.95
        def bound(tag: String, p: Double): String = {
          val pos = s"(CAST($p AS DOUBLE) * (nd - 1))"
          val loV = s"CAST(arr[CAST(floor$pos AS BIGINT) + 1] AS DOUBLE)"
          val hiV = s"CAST(arr[CAST(ceil$pos AS BIGINT) + 1] AS DOUBLE)"
          s"""CASE WHEN ceil$pos = floor$pos OR $loV = $hiV
             |     THEN $loV
             |     ELSE (ceil$pos - $pos) * $loV
             |        + ($pos - floor$pos) * $hiV
             |END AS $tag""".stripMargin
        }
        s"""WITH n AS (
           |  SELECT doc_id, lang,
           |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |g AS (
           |  SELECT lang, count(*) AS nd, list(n_tokens ORDER BY n_tokens) AS arr
           |  FROM n GROUP BY lang),
           |b AS (
           |  SELECT lang,
           |  ${bound("lo", pLo)},
           |  ${bound("hi", pHi)}
           |  FROM g)
           |SELECT n.doc_id, n.lang, n.n_tokens
           |FROM n JOIN b USING (lang)
           |WHERE CAST(n.n_tokens AS DOUBLE) >= b.lo
           |  AND CAST(n.n_tokens AS DOUBLE) <= b.hi""".stripMargin
      }),

    // Gopher-style word-repetition quality signals — oracle-checked
    GateEntry("p_repetition", (s, dir) => Corpus.repetitionStats(docs(s, dir)),
      // word + raw-2-gram repetition fractions; the 1-token doc contributes
      // its single word as the lone "2-gram" (greatest(len-1, 1) mirrors
      // the Spark sequence bound)
      """WITH t AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |w0 AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w0 GROUP BY doc_id, w),
        |w AS (
        |  SELECT doc_id, sum(c) AS wtotal, count(*) AS wuniq, max(c) AS wtop
        |  FROM wc GROUP BY doc_id),
        |g0 AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
        |                i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM t),
        |gc AS (SELECT doc_id, gram, count(*) AS c FROM g0 GROUP BY doc_id, gram),
        |g AS (
        |  SELECT doc_id, sum(c) AS gtotal, count(*) AS guniq
        |  FROM gc GROUP BY doc_id)
        |SELECT w.doc_id,
        |       round(1.0 - CAST(wuniq AS DOUBLE) / wtotal, 6) AS dup_word_frac,
        |       round(CAST(wtop AS DOUBLE) / wtotal, 6) AS top_word_frac,
        |       round(1.0 - CAST(guniq AS DOUBLE) / gtotal, 6) AS dup_2gram_frac
        |FROM w JOIN g ON w.doc_id = g.doc_id""".stripMargin),

    // dataset-release shard manifest: per-shard row count, token total,
    // order-independent xor content hash — diff two pipeline runs
    GateEntry("p_manifest", (s, dir) => Corpus.shardManifest(docs(s, dir)),
      // per-doc from-spec XXH64 over the full text (k = doc_id), signed
      // conversion before the xor fold (Spark xors signed longs; xor
      // commutes with the two's-complement reinterpretation, but keep the
      // compare honest in int64 space)
      manifestOracleSql),

    // incremental manifest maintenance: manifest(corpus) ⊕ delta must be
    // BIT-IDENTICAL to recomputing over the merged corpus — the Spark
    // side builds it incrementally (one delta scan, corpus never
    // re-read), the oracle recomputes the FULL manifest from the
    // from-spec XXH64, so the identity is what the driver hash-checks
    GateEntry("p_manifest_delta", (s, dir) => {
      val d = docs(s, dir)
      Corpus.updateManifest(
        Corpus.shardManifest(d.filter(pmod(col("doc_id"), lit(10)) =!= 0)),
        d.filter(pmod(col("doc_id"), lit(10)) === 0))
    },
      // the SAME full-corpus manifest: the Spark side builds it
      // incrementally (corpus manifest xor one delta scan), so hash
      // equality against the from-scratch oracle IS the incremental-
      // maintenance identity
      manifestOracleSql),
  )

  /** The p_classifier fixture model: 64 hash buckets, weights derived by
    * the same integer formula in Scala and in the oracle SQL so both
    * engines evaluate the identical model without shipping a literal
    * list through two languages. Threshold is an interior value near the
    * fixture logit median (never a round boundary — the p_curate
    * lesson). */
  private[graft] val ClassifierW: IndexedSeq[Double] =
    (0 until 64).map(f => ((f.toLong * 2654435761L) % 1000L) / 1000.0 - 0.5)
  private[graft] val ClassifierThreshold = 0.0137

  /** The fixture text is separator-free word-soup, so the line-structured
    * entries (p_c4, p_boilerplate) synthesize deterministic line breaks
    * with a PLAIN (non-regex) replace — semantics identical in Spark and
    * DuckDB (`replace(text, ' query ', chr(10))`), so the oracle sees the
    * very same lines. */
  private def linedDocs(s: SparkSession, dir: String) =
    docs(s, dir).withColumn("text",
      org.apache.spark.sql.functions.replace(
        col("text"), lit(" query "), lit("\n")))

  /** Shared by p_decontaminate and p_decon_bloom: the Bloom prefilter is
    * result-invariant, so both gate entries must hash-match this. */
  private val decontaminateOracleSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
      |                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM documents)),
      |e AS (SELECT DISTINCT unnest(sh) AS ngram FROM t WHERE doc_id % 100 = 0),
      |tr AS (SELECT doc_id, unnest(sh) AS ngram FROM t WHERE doc_id % 100 <> 0),
      |bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN e ON tr.ngram = e.ngram)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id % 100 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  // ---- XXH64 in DuckDB SQL ----------------------------------------------
  // Spark's xxhash64 is standard XXH64 (seed 42) over the string's UTF-8
  // bytes. DuckDB has no xxhash builtin, so the p_fingerprint /
  // p_dedup_simhash oracles reimplement it from the public spec in SQL:
  // 64-bit wraparound arithmetic emulated in HUGEINT mod 2^64 (UBIGINT
  // throws on overflow), 64×64 multiplies split into 32-bit halves to
  // stay under 2^127, the unbounded 32-byte stripe loop as a recursive
  // CTE, and the ≤31-byte tail statically unrolled (3×8B + 1×4B + 3×1B).
  // Validated against a from-the-spec reference on the official test
  // vectors and 25 mixed ASCII/UTF-8 lengths (tools/spikes/xxh64_sql.py).
  private val M64 = "18446744073709551616::HUGEINT"
  private val XP1 = "11400714785074694791::HUGEINT"
  private val XP2 = "14029467366897019727::HUGEINT"
  private val XP3 = "1609587929392839161::HUGEINT"
  private val XP4 = "9650029242287828579::HUGEINT"
  private val XP5 = "2870177450012600261::HUGEINT"

  /** (x*y) mod 2^64 via 32-bit-half split — args must be COLUMN REFS or
    * small literals (each appears 3×). */
  private def xMul(x: String, y: String): String =
    s"((($x)%4294967296)*(($y)%4294967296) + (((($x)//4294967296)*(($y)%4294967296) + " +
      s"(($x)%4294967296)*(($y)//4294967296)) % 4294967296) * 4294967296) % $M64"
  private def xAdd(x: String, y: String): String = s"((($x) + ($y)) % $M64)"
  private def xRotl(x: String, r: Int): String =
    // BigInt: (1L << 63) wraps to Long.MinValue and emits a NEGATIVE
    // divisor (caught as an off-by-one in n_fp on real docs)
    s"(((($x) * ${BigInt(1) << r}::HUGEINT) % $M64 + (($x) // ${BigInt(1) << (64 - r)}::HUGEINT)) % $M64)"
  private def xXor(x: String, y: String): String =
    s"xor(($x)::UBIGINT, ($y)::UBIGINT)::HUGEINT"
  private def xShr(x: String, r: Int): String =
    s"(($x) // ${1L << r}::HUGEINT)"
  private def xLane(b: String, off: String, n: Int): String =
    "(" + (0 until n).map(j =>
      s"($b[$off+$j]::HUGEINT)*${BigInt(256).pow(j)}::HUGEINT").mkString(" + ") + ")"

  /** CTE chain hashing column `s` of CTE `src` keyed by BIGINT column
    * `k`; result CTE `{pfx}res(k, h)` with h ∈ [0, 2^64) as HUGEINT.
    * The emitted SQL requires a WITH RECURSIVE prelude. */
  private[gate] def xxh64Ctes(src: String, pfx: String = "x"): String = {
    val seed = "42::HUGEINT"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""${pfx}by AS MATERIALIZED (
      |  SELECT k, flatten(list_transform(
      |    list_transform(range(1, length(s)+1), i -> unicode(substring(s, i, 1))),
      |    cp -> CASE WHEN cp < 128 THEN [cp]
      |               WHEN cp < 2048 THEN [192 + cp//64, 128 + cp%64]
      |               WHEN cp < 65536 THEN [224 + cp//4096, 128 + (cp//64)%64, 128 + cp%64]
      |               ELSE [240 + cp//262144, 128 + (cp//4096)%64, 128 + (cp//64)%64, 128 + cp%64] END)) AS b
      |  FROM $src)""".stripMargin
    ctes += s"${pfx}bn AS MATERIALIZED (SELECT k, b, len(b) AS n, len(b)//32 AS ns FROM ${pfx}by)"
    val a1i = xAdd(xAdd(seed, XP1), XP2)
    val a2i = xAdd(seed, XP2)
    val a4i = s"(($seed - $XP1 + $M64) % $M64)"
    val lanes = (0 until 4).map(c => xLane("r.b", s"(r.i*32+${8 * c}+1)", 8))
    val inner = (0 until 4).map(j =>
      s"${xAdd(s"r.a${j + 1}", xMul(lanes(j), XP2))} AS t${j + 1}").mkString(", ")
    val outer = (0 until 4).map(j =>
      s"${xMul(xRotl(s"q.t${j + 1}", 31), XP1)} AS a${j + 1}").mkString(", ")
    ctes += s"""${pfx}st AS (
      |  SELECT k, b, n, ns, 0 AS i, $a1i AS a1, $a2i AS a2, $seed AS a3, $a4i AS a4
      |  FROM ${pfx}bn WHERE n >= 32
      |  UNION ALL
      |  SELECT q.k, q.b, q.n, q.ns, q.i + 1, $outer
      |  FROM (SELECT r.k, r.b, r.n, r.ns, r.i, $inner
      |        FROM ${pfx}st r WHERE r.i < r.ns) q)""".stripMargin
    val h0 = xAdd(xAdd(xRotl("a1", 1), xRotl("a2", 7)),
      xAdd(xRotl("a3", 12), xRotl("a4", 18)))
    ctes += s"""${pfx}sd AS MATERIALIZED (
      |  SELECT k, b, n, ns, a1, a2, a3, a4, $h0 AS h
      |  FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY i DESC) AS rn FROM ${pfx}st) WHERE rn = 1)""".stripMargin
    for (j <- 1 to 4) {
      val from = if (j == 1) s"${pfx}sd" else s"${pfx}m${j - 1}"
      ctes += s"""${pfx}m$j AS MATERIALIZED (
        |  SELECT k, b, n, ns, a1, a2, a3, a4, ${xAdd(xMul(xXor("h", xMul(xRotl(xMul(s"a$j", XP2), 31), XP1)), XP1), XP4)} AS h FROM $from)""".stripMargin
    }
    ctes += s"""${pfx}t0 AS MATERIALIZED (
      |  SELECT k, b, n, n//32*32 AS p, ${xAdd("h", "n")} AS h FROM ${pfx}m4
      |  UNION ALL
      |  SELECT k, b, n, 0 AS p, ${xAdd(xAdd(seed, XP5), "n")} AS h FROM ${pfx}bn WHERE n < 32)""".stripMargin
    val k8 = xLane("b", "(p+1)", 8)
    for (j <- 1 to 3) {
      val from = if (j == 1) s"${pfx}t0" else s"${pfx}e${j - 1}"
      ctes += s"""${pfx}e$j AS MATERIALIZED (
        |  SELECT k, b, n, CASE WHEN p + 8 <= n THEN p + 8 ELSE p END AS p,
        |         CASE WHEN p + 8 <= n THEN ${xAdd(xMul(xRotl(xXor("h", xMul(xRotl(xMul(k8, XP2), 31), XP1)), 27), XP1), XP4)} ELSE h END AS h
        |  FROM $from)""".stripMargin
    }
    val k4 = xLane("b", "(p+1)", 4)
    ctes += s"""${pfx}f AS MATERIALIZED (
      |  SELECT k, b, n, CASE WHEN p + 4 <= n THEN p + 4 ELSE p END AS p,
      |         CASE WHEN p + 4 <= n THEN ${xAdd(xMul(xRotl(xXor("h", xMul(k4, XP1)), 23), XP2), XP3)} ELSE h END AS h
      |  FROM ${pfx}e3)""".stripMargin
    for (j <- 1 to 3) {
      val from = if (j == 1) s"${pfx}f" else s"${pfx}g${j - 1}"
      ctes += s"""${pfx}g$j AS MATERIALIZED (
        |  SELECT k, b, n, CASE WHEN p < n THEN p + 1 ELSE p END AS p,
        |         CASE WHEN p < n THEN ${xMul(xRotl(xXor("h", xMul("(b[p+1]::HUGEINT)", XP5)), 11), XP1)} ELSE h END AS h
        |  FROM $from)""".stripMargin
    }
    ctes += s"${pfx}v1 AS MATERIALIZED (SELECT k, ${xMul(xXor("h", xShr("h", 33)), XP2)} AS h FROM ${pfx}g3)"
    ctes += s"${pfx}v2 AS MATERIALIZED (SELECT k, ${xMul(xXor("h", xShr("h", 29)), XP3)} AS h FROM ${pfx}v1)"
    ctes += s"${pfx}res AS MATERIALIZED (SELECT k, ${xXor("h", xShr("h", 32))} AS h FROM ${pfx}v2)"
    ctes.mkString(",\n")
  }

  /** CTE chain computing the hashed-linear-classifier logit as
    * `r(doc_id, n, lg)` — shared by the score entry and the PR gauge. */
  private def classifierCtes: String =
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
       |  FROM documents),
       |tokd AS MATERIALIZED (
       |  SELECT s, row_number() OVER (ORDER BY s) AS k
       |  FROM (SELECT DISTINCT unnest(toks) AS s FROM t)),
       |hin AS MATERIALIZED (SELECT k, s FROM tokd),
       |${xxh64Ctes("hin")},
       |w AS MATERIALIZED (
       |  SELECT tokd.s, ((h % 64) * 2654435761) % 1000 / 1000.0 - 0.5 AS wt
       |  FROM xres JOIN tokd USING (k)),
       |c AS (
       |  SELECT u.doc_id, w.wt
       |  FROM (SELECT doc_id, unnest(toks) AS s FROM t) u JOIN w USING (s)),
       |f AS (
       |  SELECT doc_id, list_sort(list(wt)) AS ws, count(*) AS n
       |  FROM c GROUP BY doc_id),
       |r AS (
       |  SELECT t.doc_id, coalesce(f.n, 0) AS n,
       |         CASE WHEN coalesce(f.n, 0) > 0
       |              THEN list_reduce(f.ws, (a, b) -> a + b) / f.n
       |              ELSE 0.0 END AS lg
       |  FROM t LEFT JOIN f USING (doc_id))""".stripMargin

  /** The hashedTfidf CTE chain up to `nv(doc_id, vec, nrm)`; callers
    * supply the final select (or further CTEs, leading with a comma). */
  private def hashEmbedChain(dim: Int, finalSelect: String): String =
    s"""WITH RECURSIVE
       |t AS MATERIALIZED (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT term, row_number() OVER (ORDER BY term) AS k
       |  FROM (SELECT DISTINCT term FROM t)),
       |hin AS MATERIALIZED (SELECT k, term AS s FROM vocab),
       |${xxh64Ctes("hin")},
       |th AS MATERIALIZED (
       |  SELECT v.term, CAST(x.h % $dim AS INTEGER) AS bucket,
       |         CASE WHEN (x.h // $dim) % 2 = 1 THEN 1 ELSE -1 END AS sgn
       |  FROM vocab v JOIN xres x USING (k)),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, bucket, sum(sgn) AS w0
       |  FROM t JOIN th USING (term) GROUP BY doc_id, bucket),
       |df AS (SELECT bucket, count(*) AS df FROM tf GROUP BY bucket),
       |n AS (SELECT count(*) AS n FROM documents),
       |w AS (
       |  SELECT doc_id, bucket, w0 * ln(CAST(n AS DOUBLE) / df) AS w
       |  FROM tf JOIN df USING (bucket) CROSS JOIN n),
       |grid AS (
       |  SELECT d.doc_id, g.b
       |  FROM (SELECT DISTINCT doc_id FROM documents) d,
       |       unnest(range(0, $dim)) AS g(b)),
       |cells AS (
       |  SELECT g.doc_id, g.b, coalesce(w.w, 0.0) AS w
       |  FROM grid g LEFT JOIN w ON g.doc_id = w.doc_id AND g.b = w.bucket),
       |v AS (SELECT doc_id, list(w ORDER BY b) AS vec FROM cells GROUP BY doc_id),
       |nv AS (
       |  SELECT doc_id, vec,
       |         sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm
       |  FROM v)
       |$finalSelect""".stripMargin

  /** DuckDB mirror of [[graft.pipeline.TextAnalysis.hashedTfidf]]: distinct
    * vocabulary → [[xxh64Ctes]]; bucket = h mod dim (low bits — identical
    * on the unsigned HUGEINT and Spark's signed long two's complement),
    * sign = the next bit up; INTEGER sign sums per (doc, bucket) — the
    * only unordered aggregation, so exact; per-bucket idf `ln(N/df)`;
    * dense bucket-ordered list; `list_sum` norm fold (the p_normalize
    * pattern — matches Spark's in-order dot fold); 6-dp components. */
  private def hashEmbedOracleSql(dim: Int = 64): String =
    hashEmbedChain(dim,
      s"""SELECT doc_id, CAST(g.b AS BIGINT) AS idx,
         |       round(vec[g.b + 1] / nrm, 6) AS comp
         |FROM nv, unnest(range(0, $dim)) AS g(b)
         |WHERE nrm <> 0""".stripMargin)

  /** Full-corpus manifest from the from-spec XXH64 — shared by
    * `p_manifest` (direct) and `p_manifest_delta` (the Spark side
    * builds the same rows incrementally, so one oracle pins both). */
  private def manifestOracleSql: String =
    s"""WITH RECURSIVE
      |d AS MATERIALIZED (
      |  SELECT doc_id, text, ((doc_id % 8) + 8) % 8 AS shard,
      |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
      |              AS BIGINT) AS n_tokens
      |  FROM documents),
      |hin AS MATERIALIZED (SELECT doc_id AS k, text AS s FROM d),
      |${xxh64Ctes("hin")},
      |hs AS MATERIALIZED (
      |  SELECT k AS doc_id,
      |         CASE WHEN h >= 9223372036854775808::HUGEINT
      |              THEN (h - $M64)::BIGINT
      |              ELSE h::BIGINT END AS h
      |  FROM xres)
      |SELECT d.shard, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(d.n_tokens) AS BIGINT) AS total_tokens,
      |       bit_xor(hs.h) AS content_hash
      |FROM d JOIN hs ON hs.doc_id = d.doc_id
      |GROUP BY d.shard""".stripMargin
}
