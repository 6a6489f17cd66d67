package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text analysis operators for training-data curation: quality scoring,
  * token counting, language identification, document fingerprinting.
  * Expression-only (codegen-friendly), one narrow projection per operator —
  * no shuffles, so they scale linearly with input size.
  */
object TextAnalysis {

  private val StopWords =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Quality features + a composite score in [0,1]:
    * 0.5·min(tokens,100)/100 + 0.3·stopword-ratio + 0.2·(1−min(punct,20)/20).
    * Deterministic and SQL-mirrorable (oracle-checked). */
  def qualityFeatures(docs: DataFrame): DataFrame =
    qualityFeaturesRaw(docs).withColumn("score", round(col("score"), 4))

  /** Same features with the UNROUNDED score. Downstream threshold gates must
    * use this form: gating on a 4-dp-rounded float at a round threshold
    * (0.5) flips boundary docs between engines whose rounding modes differ
    * (Spark HALF_UP vs DuckDB) — the round-1 `p_curate` oracle failure. */
  def qualityFeaturesRaw(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val stopArr = array(StopWords.map(lit): _*)
    docs.select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[\\p{Punct}]", ""))).cast("long").as("punct_cnt"),
        size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("stop_cnt"))
      .withColumn("score",
        least(col("n_tokens"), lit(100)).cast("double") / 100.0 * 0.5 +
        col("stop_cnt").cast("double") / col("n_tokens") * 0.3 +
        (lit(1.0) - least(col("punct_cnt"), lit(20)).cast("double") / 20.0) * 0.2)
  }

  /** Gopher stop-word list (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A —
    * public paper; distinct from the scoring list above on purpose). */
  private val GopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher repetition-free document-quality rules (Rae et al. 2021,
    * Appendix A) as per-doc features + a `passes` verdict — the standard
    * pre-training heuristic filter (also the C4/RefinedWeb baseline set):
    *
    *  1. word count in [50, 100000];
    *  2. mean word length in [3, 10] characters;
    *  3. symbol-to-word ratio ('#' or '...') ≤ 0.1;
    *  4. < 90% of lines start with a bullet ('-', '*', '•');
    *  5. < 30% of lines end with an ellipsis;
    *  6. ≥ 80% of words contain at least one alphabetic character;
    *  7. at least 2 distinct Gopher stop-words present.
    *
    * `passes` is computed with EXACT integer arithmetic (e.g. rule 2 as
    * `3·n ≤ Σlen ≤ 10·n`, rule 6 as `5·alpha ≥ 4·n`) so the verdict never
    * depends on float rounding mode — the reported ratio columns are
    * 4-dp-rounded views of the same integers (oracle-mirrorable; the
    * round-1 p_curate lesson). One narrow projection, no shuffle, no UDF:
    * tokens/lines are materialized attributes so the HOF lambdas don't
    * re-derive the split per element, and the whole op stays inside
    * whole-stage codegen — linear scan at any corpus size.
    *
    * `stopWords` is a knob (default: the paper's list) because rule 7 is
    * corpus-language-dependent — a production pipeline swaps in its
    * language's list; the gate entry uses a fixture-vocabulary list so
    * the verdict column genuinely varies under test instead of being
    * constant-false on the synthetic word-soup. */
  def gopherRules(docs: DataFrame,
      stopWords: Seq[String] = GopherStop): DataFrame = {
    val stopArr = array(stopWords.map(lit): _*)
    docs
      .withColumn("__toks", Dedup.tokens(col("text")))
      .withColumn("__lines", split(col("text"), "\n"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_words"),
        aggregate(col("__toks"), lit(0L), (acc, t) => acc + length(t))
          .as("__sum_len"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long").as("__sym"),
        size(filter(col("__lines"), l => ltrim(l).rlike("^[-*•]")))
          .cast("long").as("__bullet"),
        size(filter(col("__lines"), l => rtrim(l).rlike("\\.\\.\\.$")))
          .cast("long").as("__ellipsis"),
        size(col("__lines")).cast("long").as("__nlines"),
        size(filter(col("__toks"), t => t.rlike("[a-z]")))
          .cast("long").as("__alpha"),
        size(filter(stopArr, w => array_contains(col("__toks"), w)))
          .cast("long").as("stop_hits"))
      .select(
        col("doc_id"), col("n_words"),
        round(col("__sum_len").cast("double") / col("n_words"), 4)
          .as("mean_word_len"),
        round(col("__sym").cast("double") / col("n_words"), 4)
          .as("symbol_ratio"),
        round(col("__bullet").cast("double") / col("__nlines"), 4)
          .as("bullet_frac"),
        round(col("__ellipsis").cast("double") / col("__nlines"), 4)
          .as("ellipsis_frac"),
        round(col("__alpha").cast("double") / col("n_words"), 4)
          .as("alpha_word_frac"),
        col("stop_hits"),
        (col("n_words").between(50L, 100000L) &&
          col("__sum_len") >= col("n_words") * 3 &&
          col("__sum_len") <= col("n_words") * 10 &&
          col("__sym") * 10 <= col("n_words") &&
          col("__bullet") * 10 < col("__nlines") * 9 &&
          col("__ellipsis") * 10 < col("__nlines") * 3 &&
          col("__alpha") * 5 >= col("n_words") * 4 &&
          col("stop_hits") >= 2).as("passes"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the public
    * "Colossal Clean Crawled Corpus" heuristics): keep only lines that
    * (1) have at least `minLineWords` words, (2) end with one of
    * `terminalSuffixes` (C4 uses terminal punctuation `. ! ? "`), and
    * (3) contain none of the `blocked` substrings (case-insensitive;
    * C4 drops "lorem ipsum" / "{" / policy-phrase lines) — then drop
    * whole documents with fewer than `minKeptLines` surviving lines.
    * Returns (doc_id, clean_text, n_kept, n_dropped) for kept docs,
    * `clean_text` re-joined with the original separator.
    *
    * All three rules are parameterized because they are corpus-language-
    * dependent knobs, not constants — the gate entry runs fixture-
    * vocabulary suffixes so the verdicts genuinely vary under test.
    *
    * Scale shape: one narrow projection + filter — NO shuffle, no UDF.
    * `__lines` and `__kept` are materialized attributes across staged
    * projections (CollapseProject keeps them staged: each HOF result is
    * referenced more than once, so Catalyst will not inline-duplicate
    * it), keeping the per-line lambda from re-deriving the split per
    * element; the whole op stays inside whole-stage codegen and scans
    * linearly at any corpus size. */
  def c4Clean(docs: DataFrame,
      minLineWords: Int = 5,
      terminalSuffixes: Seq[String] = Seq(".", "!", "?", "\""),
      blocked: Seq[String] = Seq("lorem ipsum", "{"),
      minKeptLines: Int = 3,
      lineSep: String = "\n"): DataFrame = {
    require(minLineWords >= 0 && minKeptLines >= 0, "thresholds must be >= 0")
    def keep(l: Column): Column = {
      val words = size(filter(split(l, " "), w => w =!= "")) >= minLineWords
      val terminal =
        if (terminalSuffixes.isEmpty) lit(true)
        else terminalSuffixes.map(sfx => l.endsWith(lit(sfx))).reduce(_ || _)
      val clean = blocked.foldLeft(lit(true))((acc, b) =>
        acc && !lower(l).contains(lit(b.toLowerCase)))
      words && terminal && clean
    }
    docs
      .withColumn("__lines",
        split(col("text"), java.util.regex.Pattern.quote(lineSep)))
      .withColumn("__kept", filter(col("__lines"), keep(_)))
      .select(
        col("doc_id"),
        array_join(col("__kept"), lineSep).as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_dropped"))
      .filter(col("n_kept") >= minKeptLines)
  }

  /** Linear quality-classifier inference (the fastText-style model-based
    * filter of CCNet / DCLM / FineWeb-Edu): each document scores
    * `logit = bias + (Σ_tokens w[xxhash64(token) mod |w|]) / n_tokens`
    * — a bag-of-hashed-unigrams linear model whose weight vector the
    * caller trained offline — plus a raw-comparison `passes = logit ≥
    * threshold` verdict. Returns (doc_id, n_tokens, logit RAW, passes);
    * token-free docs score the bias alone.
    *
    * Engine-portability of the float math: contributions fold over the
    * SORTED weight list (ascending), so the addition order — and with
    * IEEE doubles, the exact sum — is identical on any engine; `passes`
    * compares the UNROUNDED sum (the p_curate lesson), and the logit is
    * emitted UNROUNDED too: the bit-identical double is the portable
    * value, while `round(x, 6)` is engine-specific at decimal .5
    * boundaries (Spark rounds the decimal expansion HALF_UP, DuckDB
    * rounds in float arithmetic — a corpus doc whose mean lands on
    * ...x5 at the 7th place flips between them; found at sf0.001,
    * round-17). Callers wanting display precision round downstream. `weights.size`
    * must be a power of two so `pmod(signed hash, size)` equals the
    * unsigned-hash residue (2⁶⁴ is then divisible by the modulus).
    *
    * Scale shape: the model travels as a LITERAL array in the plan —
    * zero shuffle, zero joins, whole-stage codegen; right for the
    * ≤ 64 Ki-bucket models this signature admits. A multi-million-
    * bucket model would bloat the plan: broadcast-join a (bucket,
    * weight) table against exploded tokens instead. */
  def classifierScore(docs: DataFrame, weights: IndexedSeq[Double],
      bias: Double = 0.0, threshold: Double = 0.0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.size <= 65536 &&
      Integer.bitCount(weights.size) == 1,
      s"weights.size must be a power of two in [1, 65536], got ${weights.size}")
    val wArr = array(weights.map(lit): _*)
    docs
      .withColumn("__toks", Dedup.tokens(col(textCol)))
      .withColumn("__contrib", sort_array(transform(col("__toks"),
        t => element_at(wArr,
          pmod(xxhash64(t), lit(weights.size.toLong)).cast("int") + 1))))
      .withColumn("__logit",
        when(size(col("__toks")) > 0,
          lit(bias) + aggregate(col("__contrib"), lit(0.0), (a, x) => a + x) /
            size(col("__toks")).cast("double"))
        .otherwise(lit(bias)))
      .select(col(idCol).as("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        col("__logit").as("logit"),
        (col("__logit") >= threshold).as("passes"))
  }

  /** In-engine quality-classifier TRAINING — hashed multinomial Naive
    * Bayes, the classic SQL-expressible counterpart of the fastText
    * classifiers CCNet/LLaMA-style pipelines train for quality filtering.
    * Features are the same xxhash64 buckets [[classifierScore]] scores
    * with, so the trained weights drop straight into it:
    * `classifierScore(docs, trainNaiveBayes(...)weights, bias)`.
    *
    * Per bucket b and class c ∈ {pos, neg} (`labelCol` boolean), with
    * token-occurrence counts n(b,c), class totals T(c) = Σ_b n(b,c) and
    * add-1 smoothing over the dim-bucket vocabulary:
    * `weight(b) = ln((n(b,pos)+1)/(T(pos)+dim)) − ln((n(b,neg)+1)/(T(neg)+dim))`;
    * the prior `bias = ln(D_pos/D_neg)` over document counts. Returns the
    * FULL dim-row model `(bucket, n_pos, n_neg, weight)` — zero-count
    * buckets still carry their smoothed weight.
    *
    * Engine-exact by the house rule: only INTEGER counts cross unordered
    * aggregation; every float op is a scalar ln of a rational on the
    * dim-bounded model table (full DuckDB oracle, `p_nb_train`).
    *
    * Scale (100 TB): one explode into a map-side-combinable
    * (bucket, label) count — ≤ 2·dim groups; the model never exceeds dim
    * rows whatever the corpus. Train on a labeled sample, apply with the
    * shuffle-free [[classifierScore]] projection. */
  /** Text canonicalization before hashing/dedup: strip C0/C1 control
    * codepoints that are not whitespace, collapse every whitespace run to
    * one space, trim. Two otherwise-identical scrapes that differ only in
    * line wrapping or stray control bytes then hash identically — run
    * this before [[graft.pipeline.Dedup]]'s exact/minhash passes, not
    * after. Shuffle-free narrow projection of two global regex replaces;
    * `n_removed` (codepoints dropped or merged) is the cheap audit
    * signal for how dirty a source is. */
  def normalizeText(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // non-whitespace controls first (so "a<NUL>b" -> "ab"), THEN the
    // whitespace collapse (so "a\nb" -> "a b"), then trim
    val stripped = regexp_replace(col(textCol),
      "[\\x00-\\x08\\x0E-\\x1F\\x7F-\\x9F]", "")
    val collapsed = trim(regexp_replace(stripped, "\\s+", " "))
    docs.select(col(idCol), collapsed.as("norm_text"),
      (length(col(textCol)) - length(collapsed)).cast("long").as("n_removed"))
  }

  /** Codepoint-entropy quality signal ([[graft.functions.CharEntropyExpr]]
    * fused native pass): natural-language text sits in a narrow Shannon-
    * entropy band, while base64/hex blobs run high and repeated-char
    * padding runs low — the cheap first-line binary-spill detector run
    * before any tokenization. Shuffle-free narrow projection; entropy in
    * nats rounded to 6 dp (+ 0.0 folds the single-codepoint -0.0
    * corner), `n_cp` counts CODEPOINTS (both engines' length()
    * semantics). */
  def charEntropy(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_cp"),
      (round(GraftFunctions.charEntropy(col(textCol)), 6) + lit(0.0))
        .as("entropy"))
  }

  /** Classifier threshold-sweep gauge: precision/recall at every
    * quantized score threshold — the table a filtering-threshold decision
    * (keep docs with score ≥ t) is read off of. Scores quantize to
    * `scale` decimals first, so the sweep has at most 10^scale·range
    * distinct thresholds regardless of corpus size; per-threshold
    * pos/neg counts come from one map-side-combinable aggregation over
    * the corpus, and ONLY that bounded aggregate flows through the
    * cumulative window (the empty partition spec is deliberate and safe
    * here — the windowed frame is threshold-grid-sized, never
    * corpus-sized). Returns one row per distinct threshold t descending:
    * tp/fp/fn counting `score ≥ t` as predicted-positive over the
    * quantized scores, precision = tp/(tp+fp), recall = tp/P (NULL when
    * the frame has no positives). Every float here is engine-exact by
    * construction: thresholds FLOOR-quantize (`floor(x·10^scale)/10^
    * scale` — pure IEEE ops; `round()` is engine-specific at decimal
    * .5 boundaries, the round-17 lesson), and precision/recall emit
    * RAW — they are divisions of identical integers, bit-identical on
    * any engine.
    *
    * Rows whose label is NULL (or casts to NULL) are EXCLUDED from the
    * sweep — an unlabeled doc is neither a positive nor a negative, and
    * silently tallying it as a negative would skew precision on
    * partially-labeled frames. */
  def prCurve(scored: DataFrame, labelCol: Column,
      scoreCol: String = "logit", scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // FLOOR-quantized threshold grid (each score's bucket left edge at
    // 10^-scale granularity): floor(x·10^s)/10^s is pure IEEE ops, so
    // bit-identical scores quantize identically on every engine —
    // round(x, s) is NOT engine-portable at decimal .5 boundaries
    // (Spark rounds the decimal expansion HALF_UP, DuckDB rounds in
    // float arithmetic; a boundary doc flipped the fp counts in the
    // sf0.01 gate, round-17). `+ 0.0` folds -0.0 to +0.0 — dead on
    // this side (Spark floor() yields LONG, and long/double can't make
    // -0.0) but load-bearing in the DuckDB mirror, whose floor()
    // returns DOUBLE and preserves -0.0; kept textually parallel.
    val q = math.pow(10.0, scale)
    val g = scored
      .select((floor(col(scoreCol) * lit(q)) / lit(q) + lit(0.0))
          .as("threshold"),
        labelCol.cast("boolean").as("__y"))
      .filter(col("__y").isNotNull)
      .groupBy("threshold")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__neg"))
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.select(col("threshold"),
      sum("__pos").over(w).as("tp"), sum("__neg").over(w).as("fp"))
    val tot = g.agg(sum("__pos").as("__p"))
    cum.crossJoin(broadcast(tot))
      .select(col("threshold"), col("tp"), col("fp"),
        (col("__p") - col("tp")).as("fn"),
        // RAW ratios: tp/fp/P are identical BIGINTs on both engines,
        // so these divisions are bit-identical doubles — emitting them
        // through round(x, 6) would reintroduce the engine-specific
        // .5-boundary hazard this operator just shed (see scaladoc)
        (col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("__p") > 0,
          col("tp").cast("double") / col("__p")).as("recall"))
  }

  def trainNaiveBayes(docs: DataFrame, labelCol: Column,
      dim: Int = 64, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"dim must be a positive power of two, got $dim")
    val spark = docs.sparkSession
    val labeled = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(col(textCol)).as("__toks"), labelCol.as("__y"))
    val terms = Explodes.explodeNoInfer(labeled,
      Seq(col("doc_id"), col("__y")), col("__toks"), "term")
    val counts = terms
      .select(pmod(xxhash64(col("term")), lit(dim.toLong)).cast("int")
        .as("bucket"), col("__y"))
      .groupBy("bucket")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("n_neg"))
    // dense grid: zero-count buckets still get their smoothed weight
    val grid = spark.range(dim).select(col("id").cast("int").as("bucket"))
    val totals = labeled.agg(
      sum(when(col("__y"), size(col("__toks")).cast("long"))
        .otherwise(0L)).as("t_pos"),
      sum(when(col("__y"), 0L)
        .otherwise(size(col("__toks")).cast("long"))).as("t_neg"),
      count(when(col("__y"), lit(1))).as("d_pos"),
      count(when(!col("__y"), lit(1))).as("d_neg"))
    grid.join(counts, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("n_pos", "n_neg"))
      .crossJoin(broadcast(totals))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_pos"), col("n_neg"),
        round(
          log((col("n_pos") + 1L).cast("double") /
            (col("t_pos") + dim.toLong).cast("double")) -
          log((col("n_neg") + 1L).cast("double") /
            (col("t_neg") + dim.toLong).cast("double")), 6).as("weight"))
  }

  /** Whitespace token count + a BPE-ish subword count (letter runs, digit
    * runs, single symbols — the classic pre-tokenizer regex). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
        .cast("long").as("sub_tokens"))

  /** Per-language marker lexicons for the n-gram/stopword scoring heuristic.
    * Small on purpose: the operator demonstrates the scalable shape
    * (dictionary scoring as a single projection); production would broadcast
    * a real trigram profile table. */
  private[graft] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "was", "that", "with", "for", "it"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "una", "por", "con", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "dans", "que", "pour"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "per", "sono", "una", "con"))

  /** Language-ID heuristic: argmax over marker-word hit counts, with a CJK
    * character-ratio shortcut for zh/ja. Returns (doc_id, lang_pred,
    * marker_hits). */
  def langId(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val scoreCols = LangMarkers.map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      size(filter(toks, t => array_contains(arr, t))).as(s"score_$lang")
    }
    val cjkCount = length(regexp_replace(col("text"), "[^\\x{4E00}-\\x{9FFF}]", ""))

    val df = docs.select((col("doc_id") +: col("text") +: scoreCols): _*)
      .withColumn("cjk", cjkCount)
    // argmax with deterministic tie order = LangMarkers order
    val best = LangMarkers.map(_._1).foldLeft((lit(-1), lit("und"))) {
      case ((bestScore, bestLang), lang) =>
        val s = col(s"score_$lang")
        (when(s > bestScore, s).otherwise(bestScore),
         when(s > bestScore, lit(lang)).otherwise(bestLang))
    }
    df.select(
      col("doc_id"),
      when(col("cjk") * 2 > length(col("text")), lit("zh")).otherwise(best._2).as("lang_pred"),
      greatest((LangMarkers.map(m => col(s"score_${m._1}")) :+ lit(0)): _*)
        .cast("long").as("marker_hits"))
  }

  /** Winnowing fingerprints (Schleimer et al.): xxhash64 over 4-word
    * shingles, sliding window of 4, keep each window's min hash. Returns
    * (doc_id, n_fingerprints, fp_min) — the compact sketch used for
    * plagiarism-style containment detection. */
  def fingerprints(docs: DataFrame, k: Int = 4, window: Int = 4): DataFrame = {
    // staged projections: each array is a materialized attribute before the
    // next HOF references it repeatedly (no CSE inside lambda bodies)
    Dedup.withShingles(docs.select(col("doc_id"), col("text")), "text", k)
      .withColumn("hs", transform(col("sh"), s => xxhash64(s)))
      .withColumn("mins", transform(
        sequence(lit(0), greatest(size(col("hs")) - (window - 1), lit(1)) - 1),
        i => array_min(slice(col("hs"), i + 1, lit(window)))))
      .select(
        col("doc_id"),
        size(array_distinct(col("mins"))).as("n_fp"),
        array_min(col("mins")).as("fp_min"))
  }

  /** Top-k TF-IDF terms per document — the classic keyword/topic signal
    * for corpus exploration and domain tagging. idf = ln(N/df) on raw
    * counts; scores are rounded to 6 dp BEFORE ranking so the rank is
    * stable across engines whose libm may differ in the last ulp
    * (ties break on the term string, ascending).
    *
    * Scale notes (100 TB): term-frequency aggregate (one shuffle,
    * map-side combinable), document-frequency derived FROM the tf table
    * (second, much smaller shuffle on term), corpus size N as a 1-row
    * broadcast cross-join, and a per-doc window for the top-k whose
    * partitions are each a single document's vocabulary — never large.
    * For open-vocabulary corpora key the term shuffles on
    * `xxhash64(term)` and resolve strings post-hoc (kept raw here for
    * SQL-oracle parity). */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksDf = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
    val terms = Explodes.explodeNoInfer(toksDf, Seq(col("doc_id")), col("__toks"), "term")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer a curation pipeline uses to mine
    * topic-relevant (or benchmark-adjacent) training documents. Lucene's
    * idf variant `ln(1 + (N − df + 0.5)/(df + 0.5))` keeps scores
    * positive; `k1`/`b` default to the classic 1.2/0.75. Returns
    * (doc_id, matched_terms, score) for documents matching ≥ 1 term,
    * score rounded to 6 dp.
    *
    * Deliberately NOT the explode-postings shape: each query term
    * compiles to its own `size(filter(tokens, = term))` column, so
    * per-term tf is a narrow codegen'd projection (zero shuffle), the
    * df/N/avgdl statistics are ONE 1-row aggregate broadcast back, and
    * the score sums contributions in FIXED term order inside a single
    * expression — deterministic float addition, where a grouped sum's
    * combine order is not. Works for query sets up to a few hundred
    * terms (columns); beyond that switch to the tf-table shape that
    * [[tfidfTopTerms]] uses. Token sums are integer-valued doubles, so
    * every intermediate is exact and the SQL mirror reproduces the score
    * bit-for-bit before rounding. */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores needs at least one query term")
    require(queryTerms.distinct.size == queryTerms.size,
      "duplicate query terms")
    val base = docs
      .select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
      .select(col("doc_id") +:
        size(col("__toks")).cast("double").as("__dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), x => x === lit(t)))
            .cast("double").as(s"__tf$i")
        }: _*)
    val dfCols = queryTerms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L))
        .cast("double").as(s"__df$i"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("__n"),
      avg(col("__dl")).as("__avgdl") +: dfCols: _*)
    val contribs = queryTerms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      val tf = col(s"__tf$i")
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }
    val matched = queryTerms.indices
      .map(i => when(col(s"__tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("matched_terms", matched)
      .filter(col("matched_terms") > 0)
      .withColumn("score", round(contribs.reduce(_ + _), 6))
      .select(col("doc_id"), col("matched_terms"), col("score"))
  }

  /** PII-style pattern scrubbing: count and redact every occurrence of
    * each named regex, applied in declaration order (later patterns see
    * earlier redactions — order matters when patterns overlap). The
    * defaults cover the classic PII trio (emails, IPv4, US-style phone
    * numbers); pass custom patterns for domain-specific scrubs.
    *
    * Output: one `n_<name>` match count per pattern plus the fully
    * scrubbed text. Pure narrow projection — regexp_count/regexp_replace
    * are codegen'd, no shuffle at any scale. Patterns stay inside both
    * Java-regex and RE2 common syntax so the DuckDB oracle replays them
    * verbatim. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("ipv4", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("phone", """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b""", "<PHONE>"))

  def scrubPatterns(docs: DataFrame,
      patterns: Seq[(String, String, String)] = PiiPatterns,
      textCol: String = "text"): DataFrame = {
    require(patterns.nonEmpty, "scrubPatterns needs at least one pattern")
    val counted = patterns.foldLeft(docs) { case (d, (name, pat, _)) =>
      d.withColumn(s"n_$name", regexp_count(col(textCol), lit(pat)).cast("long"))
    }
    val scrubbed = patterns.foldLeft(col(textCol)) { case (c, (_, pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    // every input column survives (a redaction pipeline needs its keys and
    // metadata downstream); callers project if they want less
    counted.withColumn("scrubbed", scrubbed)
  }

  /** Corpus-trained bigram language-model scoring — the CCNet-style
    * perplexity quality filter: docs whose word transitions are unusual
    * for the corpus score high (avg negative log-likelihood in nats) and
    * get cut or down-weighted. Add-k smoothing with context counts derived
    * from the bigram table (c(w1) = Σ_w2 c(w1,w2)), so
    * P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V); unseen contexts degrade to
    * the uniform 1/V. Docs with fewer than two tokens have no transitions
    * and are omitted (mirrored by the oracle).
    *
    * Scale notes (100 TB): the model is bounded by the OBSERVED bigram
    * count (≪ vocab², ≪ corpus) — two map-side-combinable aggregates
    * build it, one `(w1,w2)` equi-join applies it (AQE broadcasts the
    * model when it fits), and the vocab size arrives via a 1-row
    * cross-join rather than a driver collect. Pass `modelDocs` to train
    * on one corpus (e.g. a trusted slice) and score another — the left
    * joins keep unseen bigrams/contexts finite via the smoothing floor. */
  def bigramLmScore(docs: DataFrame, k: Double = 1.0,
      modelDocs: Option[DataFrame] = None): DataFrame = {
    require(k > 0, "add-k smoothing requires k > 0")
    def bigrams(d: DataFrame): DataFrame = {
      val toksDf = d.select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) >= 2)
      val pairArr = transform(sequence(lit(0), size(col("__toks")) - 2),
        i => struct(element_at(col("__toks"), i + 1).as("w1"),
                    element_at(col("__toks"), i + 2).as("w2")))
      Explodes.explodeNoInfer(toksDf.withColumn("__bg", pairArr),
          Seq(col("doc_id")), col("__bg"), "bg")
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    }
    val train = modelDocs.getOrElse(docs)
    // Self-scoring (modelDocs empty) reuses ONE bigram stream for both the
    // count model and the scoring probe: repartitioned by the join key, the
    // model aggregate and the probe read the same exchange (ReuseExchange),
    // where the naive form ran the tokenize → pair-struct transform →
    // explode chain twice — the model side fed an exchange-terminated
    // aggregate but the probe side of the broadcast join shared nothing.
    // Trade: the shared exchange carries doc_id per occurrence and the
    // count aggregate loses its map-side combine; one full corpus
    // re-tokenization is saved. With an EXTERNAL model corpus the two
    // streams differ and the original two-chain shape stands.
    val scoreBg =
      if (modelDocs.isEmpty) bigrams(docs).repartition(col("w1"), col("w2"))
      else bigrams(docs)
    val trainBg = if (modelDocs.isEmpty) scoreBg else bigrams(train)
    val cb = trainBg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
    val vocab = train
      .select(explode(Dedup.tokens(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    scoreBg
      .join(cb, Seq("w1", "w2"), "left")
      .join(cu, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__nll",
        -log((coalesce(col("cb"), lit(0L)) + k) /
             (coalesce(col("cu"), lit(0L)) + col("v") * k)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("__nll")), 6).as("avg_nll"))
  }

  /** Feature-hashed TF-IDF document embeddings — the "hashing trick"
    * (Weinberger et al., ICML 2009): every token maps to one of `dim`
    * buckets via its xxhash64 low bits, carrying a ±1 sign drawn from the
    * next hash bit so colliding tokens cancel in expectation instead of
    * accumulating bias. IDF is per BUCKET (`ln(N/df)` over bucket document
    * frequency — the collision-folded vocabulary IS the feature space), so
    * stop-buckets are downweighted exactly as classic TF-IDF downweights
    * stop words. Vectors are L2-normalized, dropping straight into the
    * cosine operators ([[Similarity.bruteForceTopK]], kmeans, SemDeDup,
    * IVF/PQ): this is the operator that turns a RAW TEXT corpus into the
    * `embeddings`-shaped table every vector op consumes, with no external
    * model. Returns (doc_id, vec array<double>); empty-norm docs get a
    * null vec (same contract as [[Similarity.normalizeL2]]).
    *
    * Engine-exactness: the only values crossing UNORDERED aggregation are
    * integer sign sums — every float op (idf multiply, norm fold, divide)
    * runs on scalars or on the materialized bucket-ordered array, so the
    * result is bit-stable across partitionings and engines (full DuckDB
    * oracle, `p_hash_embed`).
    *
    * EAGER train: the batch form runs its own train/apply split, so the
    * idf model ([[hashedTfidfIdf]]: one corpus pass, a ≤`dim`-row
    * aggregate) is computed and collected to the driver when this is
    * CALLED, not when the returned frame executes — a caller that builds
    * the frame and never runs it still pays that corpus pass (the same
    * pattern as the packers' eager offset collects).
    *
    * Scale notes (100 TB): the model's token explode feeds ONE
    * map-side-combinable (doc, bucket) distinct + per-bucket count, keyed
    * by the int bucket, never a raw vocabulary string — an open web-scale
    * vocabulary adds zero shuffle width; the driver holds `dim` doubles.
    * The returned frame is a narrow per-row projection
    * ([[hashedTfidfApply]]): no window, no join, no exchange. */
  def hashedTfidf(docs: DataFrame, dim: Int = Similarity.DefaultDim,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"dim must be a positive power of two (bucket = low hash bits), got $dim")
    // r18: the batch chain this used to spell out (token explode →
    // persisted (doc, bucket) tf aggregate → idf broadcast joins →
    // per-doc map_from_entries collect → dense re-assembly) measured
    // 3× the cost of its own train/apply split ON THE SAME CORPUS
    // (p_hash_embed 1.49 s vs p_hash_embed_apply 0.50 s min-of-7 at
    // sf0.1 — and the apply number already INCLUDES the df-model
    // train), while the split is bit-exact with the batch form by the
    // TextAnalysisSpec pin and shares its DuckDB oracle. Route the
    // batch form through the split: one corpus pass for the ≤dim-row
    // bucket-df model, a driver collect of dim doubles, and the fused
    // per-row [[graft.functions.HashEmbed]] projection. The second
    // tokenize rides inside the compiled expression and is cheaper at
    // every scale than the aggregate machinery it replaces — the tf
    // exchange (ndocs·≤dim rows), the tf cache, and the per-doc map
    // assembly all disappear; the only shuffle left is the df model's
    // map-side-combinable partial aggregate.
    hashedTfidfApply(docs,
      hashedTfidfIdfValues(hashedTfidfIdf(docs, dim, textCol, idCol), dim),
      textCol, idCol)
  }

  /** The frozen model side of [[hashedTfidf]]'s train/apply split:
    * (bucket, idf) with idf = ln(N/df) over bucket document frequency —
    * at most `dim` rows, the artifact a pipeline trains ONCE on a corpus
    * sample and ships to [[hashedTfidfApply]]. */
  def hashedTfidfIdf(docs: DataFrame, dim: Int = Similarity.DefaultDim,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"dim must be a positive power of two (bucket = low hash bits), got $dim")
    val toksDf = docs.select(col(idCol).as("doc_id"),
      Dedup.tokens(col(textCol)).as("__toks"))
    val terms =
      Explodes.explodeNoInfer(toksDf, Seq(col("doc_id")), col("__toks"), "term")
    // df = docs with >=1 token in the bucket; sign is irrelevant to the
    // model, so this path needs no tf materialization at all
    val hit = terms.select(col("doc_id"),
      pmod(xxhash64(col("term")), lit(dim.toLong)).cast("int").as("bucket"))
      .distinct()
    val n = docs.agg(count(lit(1)).as("n"))
    hit.groupBy("bucket").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("bucket"),
        log(col("n").cast("double") / col("df")).as("idf"))
  }

  /** Collect a [[hashedTfidfIdf]] model frame to the dense dim-length
    * array [[hashedTfidfApply]] embeds as a literal — 0.0 (feature
    * ignored) for buckets no training document hit. Driver-side but
    * dim-bounded: ≤`dim` rows regardless of corpus size. */
  def hashedTfidfIdfValues(model: DataFrame, dim: Int = Similarity.DefaultDim)
      : IndexedSeq[Double] = {
    val m = model.select(col("bucket").cast("int"), col("idf").cast("double"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    IndexedSeq.tabulate(dim)(b => m.getOrElse(b, 0.0))
  }

  /** Apply a FROZEN idf model to documents: the per-row half of the
    * train/apply split ([[bigramLmScore]]'s `modelDocs` pattern). The
    * whole embedding — token hashing, sign sums, idf multiply, norm,
    * rounding — runs as ONE fused native expression per row
    * ([[graft.functions.HashEmbedExpr]], codegen'd; the HOF formulation
    * re-scanned the token array per bucket and profiled ~6× slower), so
    * this is a stateless narrow projection with NO shuffle and no driver
    * state: the same call runs unchanged on a Structured Streaming frame
    * (append mode, no watermark needed). Trained and applied on the same
    * corpus it reproduces [[hashedTfidf]] bit-exactly (spec-pinned, and
    * the `p_hash_embed_apply` gate entry shares `p_hash_embed`'s oracle).
    *
    * Scale notes (100 TB): train once on a bounded sample (the model is
    * ≤dim numbers riding inside the expression), then this projection
    * embeds the full corpus — or the live stream — with zero shuffles; at
    * 1000 executors there is no coordination at all. Per-row cost is
    * |tokens| hash steps plus dim multiply-adds in one compiled loop. */
  def hashedTfidfApply(docs: DataFrame, idf: IndexedSeq[Double],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dim = idf.size
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"idf model length must be a positive power of two, got $dim")
    GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("__toks"))
      // NULL text tokenizes to a NULL array; the batch form drops such
      // docs (they never enter its aggregate), so apply drops them too —
      // otherwise it would emit a row with a null vec and the two forms
      // would diverge on exactly the degenerate input
      .filter(col("__toks").isNotNull)
      .select(col("doc_id"),
        GraftFunctions.hashEmbed(col("__toks"), idf.toArray).as("vec"))
  }
}
