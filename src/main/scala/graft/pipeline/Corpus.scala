package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level operations a large-scale training-data pipeline needs
  * around the per-document ops in [[Dedup]]/[[TextAnalysis]]:
  * reproducible sampling, corpus statistics, and benchmark-contamination
  * checks.
  *
  * Scale design:
  *  - [[stratifiedSample]] is a pure FILTER — no shuffle, no state, and
  *    (unlike `df.sample`) deterministic across retries/executors, which
  *    is what makes a training mix reproducible. Per-stratum rates are a
  *    driver-side map compiled into one CASE expression.
  *  - [[ngramTopK]] is explode → map-side-combinable count → TakeOrdered:
  *    one shuffle on the n-gram, top-k never materializes the full sorted
  *    aggregate.
  *  - [[contamination]] broadcasts the (small) benchmark shingle set and
  *    counts distinct overlaps per document: the train side stays a
  *    narrow (doc_id, shingle) stream, the eval side is the broadcast —
  *    the layout that still works when "train" is 100 TB and "eval" is a
  *    handful of benchmarks.
  *  - [[lengthStats]] is a single map-side-combinable aggregation with
  *    exact percentiles per language (languages are few ⇒ tiny final
  *    shuffle; per-group state is the sorted token-count multiset, fine
  *    for per-LANGUAGE groups — use approx_percentile instead if grouping
  *    by something high-cardinality).
  */
object Corpus {

  /** TWO MINSTD rounds over the Mersenne prime M = 2³¹−1:
    * state = ((id mod M)·A mod M)·A mod M with A = 48271. Two rounds,
    * not one: a single round keeps an input stride s intact whenever
    * s·A < M (no modular wrap — e.g. ids in steps of 100 give
    * s·A = 4 827 100 ≡ 0 mod 100, putting EVERY row in one bucket);
    * the second multiply always wraps for s ≥ 2, breaking the
    * progression. Measured keep-rate on stride-100/1000/10⁶ id sets:
    * 0.244–0.249 at a nominal 0.25. (A plain `(id·a) mod den` is not a
    * hash at all: it collapses to `(id mod den)·(a mod den) mod den`.)
    * `state·A < 2⁴⁷` keeps both multiplies ANSI-overflow-safe. */
  private val LcgM = 2147483647L
  private val LcgA = 48271L

  /** Deterministic per-row keep decision: MINSTD²-hash the (non-negative)
    * id and keep when `state mod den < num`. SQL-mirrorable (plain
    * integer arithmetic — DuckDB has no xxhash64); for production
    * sampling keyed on adversarial ids swap in `pmod(xxhash64(col), den)`
    * via the `hash` parameter of [[stratifiedSample]].
    *
    * Non-negative ids ONLY, enforced per row: Spark's `pmod` would
    * happily hash a negative id, but the documented engine-portable
    * mirrors spell the first reduction with sign-following `%` (DuckDB/
    * Trino), so a signed-id corpus would SILENTLY diverge from every
    * LCG-derived artifact (samples, shards, splits) instead of failing —
    * the DESIGN "id-sign contract" made loud (r16 verdict #5). One
    * comparison per row; `raise_error` keeps the expression
    * codegen-friendly and unprunable. */
  def lcgBucket(id: Column, den: Int): Column =
    pmod(pmod(pmod(requireNonNegativeId(id, "lcgBucket"), lit(LcgM)) *
      lit(LcgA), lit(LcgM)) * lit(LcgA), lit(LcgM)) % lit(den.toLong)

  /** The shared per-row non-negative-id guard of both LCG entry points
    * (this and [[Sampling.seededBucket]]): the documented DuckDB/Trino
    * mirrors spell the first reduction with sign-following `%`, so a
    * signed id would SILENTLY land in a different bucket than the
    * mirror predicts — raise instead (DESIGN: round-16 id-sign
    * contract, enforced r17). One codegen-friendly comparison/row. */
  private[pipeline] def requireNonNegativeId(id: Column,
      context: String): Column =
    when(id < 0, raise_error(concat(
        lit(s"$context: negative id "), id.cast("string"),
        lit(" — the MINSTD² sampling/shard/split mirrors are defined " +
          "for non-negative ids only (DESIGN: round-16 id-sign " +
          "contract); remap or hash ids upstream"))))
      .otherwise(id)

  /** Reproducible stratified sampling: keep a row iff its id-hash bucket
    * (out of `den`) falls below the stratum's numerator (`rates`, with
    * `defaultNum` for unlisted strata). rate = num/den per stratum. */
  def stratifiedSample(
      docs: DataFrame, rates: Map[String, Int], defaultNum: Int, den: Int = 100,
      strataCol: String = "lang", idCol: String = "doc_id",
      hash: (Column, Int) => Column = lcgBucket(_, _)): DataFrame = {
    require(den > 0 && rates.values.forall(n => n >= 0 && n <= den) &&
      defaultNum >= 0 && defaultNum <= den, "rates must be within [0, den]")
    val numCol = rates.foldLeft(lit(defaultNum.toLong)) { case (acc, (stratum, num)) =>
      when(col(strataCol) === stratum, lit(num.toLong)).otherwise(acc)
    }
    docs.filter(hash(col(idCol), den) < numCol)
  }

  /** Weighted mixture resampling: per-source epoch weights, the standard
    * way a training mix up/down-samples its constituent corpora (weight
    * 2.5 ⇒ every doc twice plus a deterministic half of them a third
    * time; 0.3 ⇒ a deterministic 30% kept once). Emits one row per
    * (doc, epoch) with an `epoch` index 0..n-1.
    *
    * Scale notes (100 TB): entirely narrow — a literal CASE chain for
    * the weight (no join), the same MINSTD² id-hash as
    * [[stratifiedSample]] for the fractional keep, and a
    * `sequence`+`explode` fan-out for whole epochs. No shuffle at any
    * size. Upsampled payload bytes duplicate at the exploded rows — for
    * multi-epoch mixes over wide rows, select ids first and re-attach the
    * payload after whatever consumes the mix (e.g. [[packSequences]]).
    * The filter precedes the explode, so weight-0 sources never generate. */
  def mixtureSample(
      docs: DataFrame, weights: Map[String, Double], defaultWeight: Double = 1.0,
      sourceCol: String = "source", idCol: String = "doc_id",
      den: Int = 1000000): DataFrame = {
    require(weights.values.forall(_ >= 0.0) && defaultWeight >= 0.0,
      "mixture weights must be non-negative")
    val wCol = weights.foldLeft(lit(defaultWeight)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit(w)).otherwise(acc)
    }
    val whole = floor(wCol).cast("long")
    val fracNum = round((wCol - floor(wCol)) * den).cast("long")
    val copies = whole +
      when(lcgBucket(col(idCol), den) < fracNum, lit(1L)).otherwise(lit(0L))
    docs.withColumn("_n", copies).filter(col("_n") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("_n")
  }

  /** Corpus-wide top-k n-word shingles by document frequency (distinct
    * shingles per doc, so boilerplate repeated inside one document counts
    * once). Deterministic tie-break: count DESC, shingle ASC. */
  def ngramTopK(docs: DataFrame, k: Int = 100, n: Int = 3,
      textCol: String = "text"): DataFrame =
    Explodes.explodeNoInfer(
        Dedup.withShingles(docs.select(col(textCol)), textCol, n),
        Seq.empty, col("sh"), "ngram")
      .groupBy("ngram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram").asc)
      .limit(k)

  /** Heavy-hitter gauge for the Count-Min sketch
    * ([[graft.functions.CountMinAgg]]): build the d×w sketch over every
    * token occurrence, then report the exact top-k tokens with BOTH the
    * exact and the sketch-estimated count — the table that qualifies a
    * sketch geometry before the exact side is dropped at scale (at
    * 100 TB only the sketch survives: d·w longs of shuffle instead of
    * the vocabulary, estimates always ≥ truth within εN, ε = e/w). The
    * bucket family is `xxhash64("cms<r> " || token) mod w` with w a
    * power of two, so the signed pmod equals the unsigned low bits and
    * the DuckDB oracle rebuilds the identical counters.
    *
    * The corpus is tokenized ONCE: one grouped (tok, count) frame —
    * vocabulary-sized, persisted — feeds BOTH consumers, the sketch via
    * the weighted update (`+count` per distinct token ≡ `+1` per
    * occurrence, counter addition commutes) and the exact top-k. */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 20, d: Int = 2,
      w: Int = 1024, textCol: String = "text"): DataFrame = {
    require(k > 0 && (w & (w - 1)) == 0,
      s"w must be a power of two (signed pmod == unsigned low bits), got $w")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def bucket(r: Int, tok: Column) =
      pmod(xxhash64(concat_ws(" ", lit(s"cms$r"), tok)), lit(w.toLong)).cast("int")
    val tokCounts = Explodes.explodeNoInfer(
        docs.select(Dedup.tokens(col(textCol)).as("__toks")),
        Seq.empty, col("__toks"), "tok")
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .transform(PipelineCaches.track)
    val cms = tokCounts.agg(graft.functions.GraftFunctions.cmsAggWeighted(
      array((0 until d).map(r => bucket(r, col("tok"))): _*),
      col("exact_cnt"), d, w).as("__cms"))
    tokCounts
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(k)
      .crossJoin(broadcast(cms))
      .select(col("tok"), col("exact_cnt"),
        least((0 until d).map(r => element_at(col("__cms"),
          (lit(r * w) + bucket(r, col("tok")) + lit(1)).cast("int"))): _*)
          .as("est_cnt"))
  }

  /** Per-group distinct-token ESTIMATE via the k-minimum-values sketch
    * ([[graft.functions.KmvAgg]]): vocabulary size per language/source
    * without the vocabulary-sized shuffle an exact COUNT(DISTINCT) pays —
    * the shuffle carries k longs per group, map-side combined. The
    * estimator is `(k-1)·2^64 / u_k` with u_k the k-th smallest UNSIGNED
    * XXH64 of the tokens; groups with fewer than k distinct tokens report
    * their exact count (the sketch holds all of them). Deterministic and
    * engine-exact: the same hash values sort the same way in DuckDB, so
    * unlike HLL this sketch has a bit-exact SQL oracle. Standard error is
    * ~1/√(k−2) ≈ 6% at the default k=256 — the right trade for a
    * corpus-profiling gauge. Returns (byCol, n_min, est_distinct 4dp). */
  def vocabEstimate(docs: DataFrame, k: Int = 256, byCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val two64 = 1.8446744073709552E19
    val toks = Explodes.explodeNoInfer(
      docs.select(col(byCol), Dedup.tokens(col(textCol)).as("__toks")),
      Seq(col(byCol)), col("__toks"), "__tok")
    val uK = element_at(col("__mins"), k).cast("double") +
      when(element_at(col("__mins"), k) < 0, lit(two64)).otherwise(lit(0.0))
    toks.select(col(byCol), xxhash64(col("__tok")).as("__h"))
      .groupBy(byCol)
      .agg(graft.functions.GraftFunctions.kmvAgg(col("__h"), k).as("__mins"))
      .select(col(byCol), size(col("__mins")).cast("long").as("n_min"),
        round(when(size(col("__mins")) < k,
            size(col("__mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble * two64) / uK), 4)
          .as("est_distinct"))
  }

  /** Benchmark-contamination check: for each train document, the number
    * of distinct n-word shingles it shares with the eval corpus. Returns
    * only contaminated docs (overlap > 0) — at scale the clean majority
    * never leaves the filter. */
  def contamination(train: DataFrame, eval_ : DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val evalShingles = Explodes.explodeNoInfer(
      Dedup.withShingles(eval_.select(col(textCol)), textCol, n),
      Seq.empty, col("sh"), "ngram").distinct()
    Explodes.explodeNoInfer(
        Dedup.withShingles(train.select(col(idCol), col(textCol)), textCol, n),
        Seq(col(idCol)), col("sh"), "ngram")
      .join(broadcast(evalShingles), "ngram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("overlap_ngrams")) // shingles are distinct per doc
  }

  /** Benchmark decontamination: the clean complement of [[contamination]] —
    * train docs sharing NO n-shingle with the eval set, produced by a
    * left anti join on the contaminated-id set. All original columns
    * survive (this is the op a pipeline actually ships to training).
    *
    * Scale shape: identical to [[contamination]] (broadcast eval-shingle
    * set, filter-first) plus one ids-only anti join — the contaminated-id
    * side is output-bounded and AQE broadcasts it; train payloads are
    * never shuffled. */
  def decontaminate(train: DataFrame, eval_ : DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    train.join(contamination(train, eval_, n, textCol, idCol).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** [[decontaminate]] with a Bloom-filter prefilter on the train side —
    * the EXACT same result (false positives are removed by the exact
    * semi-join verify step), reached through a fraction of the join work.
    *
    * Why it matters at 100 TB: the exact path ships EVERY train shingle
    * into the broadcast-hash-join probe. Here a Bloom filter over the
    * eval set's xxhash64'd shingles (~10 bits/shingle at fpp=1%, vs ~50+
    * bytes for the string set) is built once with one treeAggregate pass,
    * serialized into a literal, and probed inside whole-stage codegen
    * (Spark's own [[org.apache.spark.sql.catalyst.expressions
    * .BloomFilterMightContain]], deserialized once per task) — so the
    * expensive exact join sees only true overlaps plus an fpp-sized
    * trickle, and the train corpus never leaves its scan stage for clean
    * shingles. The verify join stays: Bloom alone would wrongly drop
    * ~fpp of clean docs.
    *
    * Filters bigger than `maxLiteralBytes` (a huge eval set at 100 TB
    * scale would need hundreds of MB at 1% fpp) never touch the driver or
    * the logical plan: the filter is aggregated IN the query (Spark's
    * BloomFilterAggregate) and fed to the probe as a scalar subquery —
    * Spark's own runtime-filter shape — instead of a plan literal whose
    * bytes every task binary would carry. Filter sizing on that path is
    * bounded by spark.sql.optimizer.runtime.bloomFilter.maxNumItems /
    * maxNumBits; raise those confs alongside truly enormous eval sets. */
  def decontaminateBloom(train: DataFrame, eval_ : DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      fpp: Double = 0.01, maxLiteralBytes: Long = 4L << 20): DataFrame = {
    val spark = train.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val evalShingles = Explodes.explodeNoInfer(
      Dedup.withShingles(eval_.select(col(textCol)), textCol, n),
      Seq.empty, col("sh"), "ngram").distinct()
      .transform(PipelineCaches.track)
    // expectedNumItems needs the exact count, which the persisted set
    // yields without recomputing the shingle lineage
    val evalCount = math.max(1L, evalShingles.count())
    // standard Bloom sizing: m = -n ln(p) / (ln 2)^2
    val numBits = math.max(64L,
      (-evalCount * math.log(fpp) / (math.log(2.0) * math.log(2.0))).toLong)
    val trainShingles = Explodes.explodeNoInfer(
      Dedup.withShingles(train.select(col(idCol), col(textCol)), textCol, n),
      Seq(col(idCol)), col("sh"), "ngram")
    val prefiltered =
      if (numBits / 8 <= maxLiteralBytes) {
        // small filter: one driver-side treeAggregate pass, probed as a
        // codegen'd literal (deserialized once per task)
        val bloom = evalShingles.select(xxhash64(col("ngram")).as("h"))
          .stat.bloomFilter("h", evalCount, fpp)
        val bloomBytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          bos.toByteArray
        }
        trainShingles.filter(graft.functions.GraftFunctions.bloomMightContain(
          lit(bloomBytes), xxhash64(col("ngram"))))
      } else {
        // large filter: aggregate it inside the query, probe via scalar
        // subquery (the only non-literal form BloomFilterMightContain
        // accepts; reachable through SQL text, hence the temp views)
        val uid = java.util.UUID.randomUUID().toString.replace("-", "")
        val bloomView = s"graft_bloom_$uid"
        val trainView = s"graft_trainsh_$uid"
        evalShingles.select(graft.functions.GraftFunctions.bloomAgg(
            xxhash64(col("ngram")), lit(evalCount), lit(numBits)).as("b"))
          .createOrReplaceTempView(bloomView)
        trainShingles.withColumn("__h", xxhash64(col("ngram")))
          .createOrReplaceTempView(trainView)
        val pf = spark.sql(
          s"""SELECT * FROM $trainView
             |WHERE graft_bloom_might_contain((SELECT b FROM $bloomView), __h)
             |""".stripMargin).drop("__h")
        // analysis is eager, so the views can drop right away
        spark.catalog.dropTempView(bloomView)
        spark.catalog.dropTempView(trainView)
        pf
      }
    val contaminatedIds = prefiltered
      .join(broadcast(evalShingles), "ngram") // exact verify of survivors
      .select(col(idCol)).distinct()
    train.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** CCNet-style boilerplate removal (Wenzek et al. 2020 §3, the public
    * CommonCrawl curation recipe): a line that occurs — byte-identical —
    * in at least `minDf` DISTINCT documents is boilerplate (navigation,
    * cookie banners, footers) and is struck from every document; the
    * document survives with its remaining lines re-joined in original
    * order. Returns (doc_id, clean_text, n_kept, n_removed) for EVERY
    * input doc — a fully-boilerplate doc keeps its row with empty text,
    * so downstream length filters (not this op) decide its fate.
    *
    * Scale shape: split is narrow; the line document-frequency is one
    * map-side-combinable aggregate keyed by the line itself (no group
    * exceeds a line's corpus df); the frequent-line set is then OUTPUT-
    * bounded — boilerplate lines are by definition few distinct strings,
    * however many copies exist — so the left-anti join broadcasts under
    * AQE rather than reshuffling the corpus. Reassembly is the single
    * unavoidable doc-keyed shuffle (bounded per-group by one document's
    * lines); `array_sort` on (pos, line) structs restores original line
    * order deterministically. */
  def boilerplateRemove(docs: DataFrame, minDf: Int = 3,
      lineSep: String = "\n", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), java.util.regex.Pattern.quote(lineSep))
        .as("__lines"))
    val lines = Explodes.posexplodeNoInfer(
      base, Seq(col("doc_id")), col("__lines"), "pos", "line")
    val frequent = lines.groupBy("line")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("line")
    val kept = lines.join(frequent, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          lineSep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col("doc_id"), size(col("__lines")).cast("long").as("__n"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Gopher-style word-repetition quality signals per document (the
    * repetition family of Rae et al. 2021 §A1.1, word-level because the
    * corpus fixture has no line structure):
    *  - `dup_word_frac`: 1 − distinct/total words — high for "spam spam
    *    spam" boilerplate;
    *  - `top_word_frac`: occurrences of the most frequent word / total —
    *    high for keyword stuffing;
    *  - `dup_2gram_frac`: 1 − distinct/total word 2-grams.
    * All 6-dp-rounded doubles; filters gate on raw comparisons against
    * interior thresholds downstream, never on the rounded boundary.
    *
    * Scale shape: explode → two (doc, term) count aggregations → per-doc
    * rollup — the same map-side-combinable count shuffles as
    * [[ngramTopK]], keyed by (doc, term) so no group ever exceeds one
    * document's vocabulary. No driver state, no windows. */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toksDf = docs.select(col(idCol), Dedup.tokens(col(textCol)).as("__toks"))
    val words = Explodes.explodeNoInfer(
      toksDf, Seq(col(idCol)), col("__toks"), "w")
    val wstats = words.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("wtotal"), count(lit(1)).as("wuniq"), max("c").as("wtop"))
    // raw (non-distinct) 2-grams via the same staged-token projection;
    // a 1-token doc contributes its single word as the lone "2-gram"
    val gramsDf = toksDf.withColumn("__g",
      transform(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(1)) - 1),
        i => concat_ws(" ", slice(col("__toks"), i + 1, lit(2)))))
    val gstats = Explodes.explodeNoInfer(
        gramsDf, Seq(col(idCol)), col("__g"), "g")
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("gtotal"), count(lit(1)).as("guniq"))
    wstats.join(gstats, idCol)
      .select(col(idCol),
        round(lit(1.0) - col("wuniq").cast("double") / col("wtotal"), 6)
          .as("dup_word_frac"),
        round(col("wtop").cast("double") / col("wtotal"), 6)
          .as("top_word_frac"),
        round(lit(1.0) - col("guniq").cast("double") / col("gtotal"), 6)
          .as("dup_2gram_frac"))
  }

  /** Deterministic sharded sequence packing: assign each document a
    * (shard, seq_bin) slot for fixed-length training-sequence assembly.
    * Documents are packed greedily in id order WITHIN a shard; a document
    * whose tokens straddle a boundary belongs to the bin where it starts
    * (spillover packing — the assembler then splits at the boundary).
    *
    * Scale shape: packing is cumulative, so a single global order would
    * serialize the corpus through one partition — and a per-shard window
    * alone would still cap parallelism at `shards` (8 sequential
    * prefix-sum partitions at 100 TB). The running sum therefore rides
    * [[PrefixSum.groupedRunningSum]]'s distributed prefix-sum: ordered
    * range partitions sized to the CLUSTER, one bounded per-slice offset
    * collect, parallel (shard, slice)-keyed windows — shard counts stay
    * a dataset-layout choice, not a parallelism ceiling. NOTE: the
    * offset collect runs EAGERLY at call time and persists the ranged
    * intermediate, tracked in [[PipelineCaches]] and released with the
    * caller's cache scope (Verify/Bench clear theirs after each result,
    * QueryServer's ends with the response). */
  def packSequences(docs: DataFrame, seqLen: Int = 2048, shards: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    binAssign(PrefixSum.groupedRunningSum(
        docs.select(col(idCol),
          pmod(col(idCol), lit(shards.toLong)).as("shard"),
          size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens")),
        "shard", idCol, "n_tokens", "cum_tokens"),
        seqLen, "n_tokens", "cum_tokens", "__off")
      .select(col(idCol), col("shard"), col("n_tokens"),
        col("cum_tokens"), col("seq_bin"))

  /** The packers' ONE window-assignment rule over a grouped running
    * sum: an item keeps the bin it STARTS in (`seq_bin =
    * floor((cum − n) / seqLen)`), and its start offset there
    * (`binOffCol = (cum − n) − seq_bin·seqLen`) may run past `seqLen`
    * — the straddle rule ([[packedWindowOverflow]] bills it; items
    * never split). One definition shared by both packers, the tensor
    * exports, and the provenance map ([[packedWindowBoundaries]]), so
    * a bin-rule change cannot drift between the layout and its
    * description — the SQL mirrors share theirs the same way
    * (packDocCtes). */
  private[pipeline] def binAssign(df: DataFrame, seqLen: Int,
      nCol: String, cumCol: String, binOffCol: String): DataFrame =
    df.withColumn("seq_bin",
        floor((col(cumCol) - col(nCol)) / lit(seqLen)))
      .withColumn(binOffCol,
        col(cumCol) - col(nCol) - col("seq_bin") * lit(seqLen.toLong))

  /** Packed PRETRAINING examples — the document-level twin of
    * [[Sft.packedExamples]] and the engine's pretraining tensor export:
    * one row per token, (shard, seq_bin, pos, token_id), where
    * documents fill `seqLen`-token windows per shard in id order
    * without splitting (the [[packSequences]] rule, but measured in the
    * TRAINER's currency: the bins count exactly the id arrays
    * [[Bpe.withTokenIdsColumn]] emits, not whitespace words). With
    * `appendEos` (the default), the document-separator token appended
    * to every document BEFORE packing — the standard pretraining shape
    * so a trainer can mask attention across document boundaries — is
    * the ARTIFACT's reserved [[Bpe.Eos]] row, read from `vocab` itself:
    * a caller-computed separator (the old `vocab.count()` convention)
    * can collide with a merge-output id the moment anything re-derives
    * it off by one, and the tokenizer config a trainer consumes IS its
    * special-token map. A vocab table without the reserved row fails
    * loudly rather than packing with an invented id.
    *
    * Scale: one narrow encode, the packer's distributed prefix-sum
    * ([[PrefixSum.groupedRunningSum]] — eager bounded collect, cache
    * tracked in [[PipelineCaches]]), and one posexplode: the
    * corpus-sized data moves once, at the final explode. The EOS
    * lookup is one action on the (bounded-by-construction) vocab. */
  def packedSequenceIds(docs: DataFrame, merges: DataFrame,
      vocab: DataFrame, seqLen: Int = 2048, shards: Int = 8,
      appendEos: Boolean = true, prependBos: Boolean = false,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // both separators come from the ARTIFACT's reserved rows: EOS after
    // every document (the attention-boundary convention), BOS before it
    // (the Llama-style per-document start marker, off by default — the
    // two compose when a trainer wants both). ONE collect fetches
    // whichever of the two this call needs from the bounded vocab.
    val wanted = (if (appendEos) Seq(Bpe.Eos) else Nil) ++
      (if (prependBos) Seq(Bpe.Bos) else Nil)
    val found: Map[String, Long] =
      if (wanted.isEmpty) Map.empty
      else vocab.filter(col("token").isin(wanted: _*))
        .select(col("token"), col("token_id").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def reserved(token: String, why: String): Long = {
      require(found.contains(token),
        s"vocabulary has no reserved '$token' row — pass a " +
          s"Bpe.vocabulary artifact, or $why")
      found(token)
    }
    val withIds0 = Bpe.withTokenIdsColumn(docs, merges, vocab,
      textCol, "__ids")
    val withEos = if (appendEos) {
      val eos = reserved(Bpe.Eos, "appendEos = false")
      withIds0.withColumn("__ids", concat(col("__ids"), array(lit(eos))))
    } else withIds0
    val withIds = if (prependBos) {
      val bos = reserved(Bpe.Bos, "prependBos = false")
      withEos.withColumn("__ids", concat(array(lit(bos)), col("__ids")))
    } else withEos
    val t = withIds.select(col(idCol), col("__ids"),
      size(col("__ids")).cast("long").as("__n"),
      pmod(col(idCol), lit(shards.toLong)).as("shard"))
    binAssign(PrefixSum.groupedRunningSum(t, "shard", idCol, "__n", "__cum"),
        seqLen, "__n", "__cum", "__binOff")
      .select(col("shard"), col("seq_bin"), col("__binOff"),
        posexplode(col("__ids")).as(Seq("__i", "token_id")))
      .select(col("shard"), col("seq_bin"),
        (col("__binOff") + col("__i")).as("pos"), col("token_id"))
  }

  /** The window → document PROVENANCE map of [[packedSequenceIds]]'
    * layout: one row per document, (shard, seq_bin, doc_id, start_pos,
    * end_pos) — which window the document landed in and the half-open
    * position span its tokens (incl. the EOS/BOS separators when
    * enabled) occupy there. The packed tensor itself carries no
    * document identity (a trainer doesn't need one), but the LOADER
    * side does: attention-boundary resets, data lineage ("which
    * documents are in the window that produced this loss spike"), and
    * per-document exclusion lists all consume exactly this map.
    * Documents never split across windows (the packer's rule: a doc
    * keeps the bin it STARTS in, straddle rows run past `seqLen` in
    * that same bin), so the map is one row per document; within a
    * window the segments tile contiguously from the first document's
    * offset, and only the LAST segment can extend past `seqLen` (the
    * straddle spill [[packedWindowOverflow]] bills). Spec-pinned to
    * the packed frame: per-window token conservation, contiguity, and
    * overflow agreement.
    *
    * Token counts ride [[Bpe.withTokenCountColumn]] — the same trainer
    * currency as the id arrays ([[Bpe]] pins `size(ids) == count`) —
    * so this derivation never materializes the ids at all: a narrow
    * count pass, the packer's own distributed prefix-sum
    * ([[PrefixSum.groupedRunningSum]]), and per-row arithmetic. The
    * corpus-sized token explode that makes [[packedSequenceIds]] the
    * expensive entry never happens here — the provenance map costs
    * |documents| rows end to end. */
  def packedWindowBoundaries(docs: DataFrame, merges: DataFrame,
      seqLen: Int = 2048, shards: Int = 8, appendEos: Boolean = true,
      prependBos: Boolean = false, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val extra = (if (appendEos) 1L else 0L) + (if (prependBos) 1L else 0L)
    val t = Bpe.withTokenCountColumn(docs, merges, textCol, "__nb")
      .select(col(idCol),
        pmod(col(idCol), lit(shards.toLong)).as("shard"),
        (col("__nb") + lit(extra)).as("__n"))
    binAssign(PrefixSum.groupedRunningSum(t, "shard", idCol, "__n", "__cum"),
        seqLen, "__n", "__cum", "start_pos")
      .select(col("shard"), col("seq_bin"), col(idCol),
        col("start_pos"),
        (col("start_pos") + col("__n")).as("end_pos"))
  }

  /** Fixed-length training windows from a packed tensor frame — the
    * COLLATED form a data loader feeds the model: exactly `seqLen` rows
    * per (shard, seq_bin), real tokens carrying `attn_mask` 1, empty
    * tail positions filled with the ARTIFACT's reserved [[Bpe.Pad]] id
    * (read from `vocab`, like [[packedSequenceIds]] reads EOS) and
    * `attn_mask` 0. Positions at or past `seqLen` — the packer's
    * documented straddle spill (a document never splits, so the last
    * document of a window may run past it) — are DROPPED from the
    * fixed windows, and per the no-silent-caps rule the bill is
    * RETURNED, not implicit: [[packedWindowOverflow]] lists every
    * (shard, seq_bin, overflow_tokens) this padding will cut, so a
    * pipeline logs or re-bins before committing to the layout.
    * `seqLen` must match the packer's — a smaller value cuts real
    * tokens (visible in the overflow report), a larger one pads every
    * window's tail.
    *
    * Scale: the (shard, seq_bin) window list is one aggregate over the
    * packed frame (|windows| rows — corpus-tokens / seqLen, far
    * smaller than the frame); the pad rows generate from ONE
    * `sequence()` explode over that list joined against the packed
    * rows — an anti-join-shaped LEFT join on the window grid, no
    * corpus-sized shuffle beyond the one join on (shard, seq_bin,
    * pos). Returns (shard, seq_bin, pos, token_id, attn_mask)
    * [+ train_mask zeroed on pad rows when present]. */
  def padPackedWindows(packed: DataFrame, vocab: DataFrame,
      seqLen: Int = 2048): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val padRows = vocab.filter(col("token") === lit(Bpe.Pad))
      .select(col("token_id").cast("long")).collect()
    require(padRows.nonEmpty,
      s"vocabulary has no reserved '${Bpe.Pad}' row — pass a " +
        "Bpe.vocabulary artifact")
    val padId = padRows.head.getLong(0)
    val hasTrain = packed.columns.contains("train_mask")
    val kept = packed.filter(col("pos") < seqLen)
    // ONE pass and ONE exchange: collate each window's kept rows into a
    // pos-sorted array, build the padded seqLen-length window as a
    // per-window transform with O(1) array lookups, posexplode it back.
    // The previous shape LEFT-JOINED an exploded (shard, seq_bin) ×
    // [0, seqLen) grid against the kept rows — which referenced `packed`
    // TWICE (grid distinct + join input), so the whole upstream chain
    // (parse → encode UDF → prefix-sum → posexplode) executed twice per
    // run (r17 plan audit: two full subtrees, no exchange reuse), and
    // the join shuffled both corpus-sized sides. Every (shard, seq_bin)
    // present in `packed` survives the kept filter — binAssign starts
    // each item at an offset < seqLen inside its own bin — so collating
    // `kept` alone loses no window.
    //
    // Windows are pos-CONTIGUOUS by the binAssign rule (a bin's rows
    // tile from its first item's offset; only the leading shadow of a
    // previous bin's straddle cut is absent), which the array lookup
    // relies on — checked loudly per window below, never assumed: a
    // gapped or duplicated pos would otherwise silently misplace
    // tokens. (The old join form tolerated interior gaps; no packer
    // produces them, and a padded window with interior holes is
    // malformed input.)
    val entry =
      if (hasTrain) struct(col("pos"), col("token_id"), col("train_mask"))
      else struct(col("pos"), col("token_id"))
    val perWin = kept.groupBy("shard", "seq_bin")
      .agg(min(col("pos")).as("__lo"), max(col("pos")).as("__hi"),
        count(lit(1)).as("__cnt"),
        sort_array(collect_list(entry)).as("__s"))
    val contiguous = col("__hi") - col("__lo") + 1 === col("__cnt")
    val guarded = when(contiguous, col("__s")).otherwise(raise_error(
      concat(lit("padPackedWindows: window ("), col("shard"), lit(","),
        col("seq_bin"),
        lit(") has non-contiguous or duplicate pos values"))))
    def winStruct(p: Column): Column = {
      // get() is 0-based and null-safe on both sides of the range, so
      // positions before __lo (the straddle shadow) and past the last
      // kept token both read null ⇒ the PAD branch
      val e = get(guarded, (p - col("__lo")).cast("int"))
      val tid = e.getField("token_id")
      struct((Seq(
        coalesce(tid, lit(padId)).as("token_id"),
        when(tid.isNotNull, lit(1L)).otherwise(lit(0L)).as("attn_mask")) ++
        (if (hasTrain)
          Seq(coalesce(e.getField("train_mask"), lit(0L)).as("train_mask"))
        else Nil)): _*)
    }
    val windows = perWin.select(col("shard"), col("seq_bin"),
      transform(sequence(lit(0L), lit(seqLen - 1L)), winStruct(_)).as("__w"))
    // posexplodeNoInfer: __w's elements are never null (winStruct always
    // builds a struct), and the inferred size(__w) > 0 filter would
    // re-derive the whole transform per row (see Explodes)
    Explodes.posexplodeNoInfer(windows,
        Seq(col("shard"), col("seq_bin")), col("__w"), "__i", "__e")
      .select((Seq(col("shard"), col("seq_bin"),
        col("__i").cast("long").as("pos"),
        col("__e.token_id").as("token_id"),
        col("__e.attn_mask").as("attn_mask")) ++
        (if (hasTrain) Seq(col("__e.train_mask").as("train_mask"))
        else Nil)): _*)
  }

  /** Collate a packed/padded tensor frame back to ONE id array per
    * window in pos order — the bridge from the row-per-token exports
    * to array consumers ([[Bpe.withDecodedColumn]] renders, loaders
    * that want per-window arrays). `sort_array` over (pos, token_id)
    * structs makes the collected order deterministic whatever the
    * shuffle delivered. One exchange on (shard, seq_bin); output is
    * |windows| rows. */
  def collateWindowIds(packed: DataFrame): DataFrame =
    packed.groupBy("shard", "seq_bin")
      .agg(sort_array(collect_list(struct(col("pos"), col("token_id"))))
        .as("__s"))
      .withColumn("token_ids", expr("transform(__s, x -> x.token_id)"))
      .drop("__s")

  /** The tokens [[padPackedWindows]] CUTS — its no-silent-caps
    * companion, like `Dedup.imageHashBucketDrops` for the bucket cap:
    * one row per (shard, seq_bin) whose straddle spill runs past
    * `seqLen`, with the dropped-token count. Empty when every window
    * fits (the common case when documents are chunked below the window
    * upstream — [[chunkDocuments]] exists for exactly that). One
    * map-side-combinable aggregate over the spilled rows. */
  def packedWindowOverflow(packed: DataFrame,
      seqLen: Int = 2048): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    packed.filter(col("pos") >= seqLen)
      .groupBy("shard", "seq_bin")
      .agg(count(lit(1)).as("overflow_tokens"))
  }

  /** Per-shard manifest of a PACKED tensor frame ([[packedSequenceIds]]
    * / [[Sft.packedExamples]] rows — (shard, seq_bin, pos, token_id
    * [, train_mask])): token count, distinct bin count, and an
    * ORDER-INDEPENDENT content hash (bit_xor of per-row xxhash64 over
    * every column) — the record a loader validates a shard directory
    * against. Same xor algebra as [[shardManifest]]: associative,
    * commutative, self-inverse, so manifests COMPOSE — the manifest of
    * a union is the per-shard xor of the parts' hashes with counts
    * added (spec-pinned), which is what lets an incremental export
    * append a delta without rescanning shipped shards.
    *
    * Scale: one narrow hash projection into a map-side-combinable
    * aggregate; |shards| output rows (the distinct-bin count rides the
    * same grouped aggregate). */
  def packedManifest(packed: DataFrame): DataFrame =
    // hash via a projected column, not name interpolation into expr()
    // — the shardManifest shape: robust to reserved-word/odd column
    // names, and xxhash64 takes the typed Columns directly
    packed.withColumn("__h", xxhash64(packed.columns.map(col).toIndexedSeq: _*))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("seq_bin")).as("n_bins"),
        expr("bit_xor(__h)").as("content_hash"))

  /** Materialize a packed tensor frame as the TRAINING-READY on-disk
    * layout a data loader consumes (r16 verdict #6 — the engine
    * produced tensor CONTENT; this is its terminal): parquet
    * partitioned by shard, rows WITHIN each file in (seq_bin, pos)
    * order (spec-pinned file by file), plus a [[packedManifest]] row
    * per shard persisted beside the data (`_packed_manifest` — the
    * underscore keeps parquet readers out), derived from the rows as
    * WRITTEN — re-reading what landed on disk, so the manifest also
    * round-trip-checks the write. A loader streams each shard
    * directory's files in name order and gets every window's tokens
    * consecutively, no re-sort.
    *
    * Scale: one hash exchange on shard + per-partition sort (the
    * [[Sampling.writeShards]] write path — shard count is the write
    * parallelism, a dataset-layout choice); the manifest is one scan
    * of the written output. Returns the manifest. */
  def writePackedShards(packed: DataFrame, path: String): DataFrame = {
    val spark = packed.sparkSession
    packed
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("seq_bin"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // manifest FROM THE FILES, not the input plan: proves the layout
    // that actually landed (and costs one scan of the packed output).
    // The EXPLICIT read schema does two jobs: partition discovery would
    // otherwise re-type the shard directory key (int32) and xxhash64 is
    // dtype-sensitive, and an EMPTY write (zero part files, only
    // _SUCCESS) has nothing to infer a schema from — with the schema
    // supplied, an empty directory reads as an empty frame and the
    // terminal yields an empty-but-valid manifest instead of throwing.
    val m = packedManifest(
      spark.read.schema(packed.schema).parquet(path)
        .select(packed.columns.map(col).toIndexedSeq: _*))
    m.coalesce(1).write.mode("overwrite").parquet(s"$path/_packed_manifest")
    m
  }

  /** Dataset-release shard manifest — the reproducibility record a
    * pipeline publishes with a training-data drop: per shard, the row
    * count, whitespace-token total, and an ORDER-INDEPENDENT content
    * hash (bit_xor of per-document xxhash64(text), seed 42 — Spark's
    * builtin, already oracle-pinned against the from-spec XXH64 SQL).
    * Re-run the pipeline, diff the manifest: any dropped, duplicated,
    * or mutated document flips its shard's hash, while row order and
    * partitioning are free to differ (xor commutes).
    *
    * Scale: one narrow hash+count projection into a map-side-combinable
    * aggregate — |shards| output rows, no sort, no window; the 100 TB
    * cost is exactly one scan. */
  def shardManifest(docs: DataFrame, shards: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(pmod(col(idCol), lit(shards.toLong)).as("shard"),
        xxhash64(col(textCol)).as("__h"),
        size(Dedup.tokens(col(textCol))).cast("long").as("__nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("total_tokens"),
        expr("bit_xor(__h)").as("content_hash"))

  /** Incrementally maintain a [[shardManifest]] under a document delta
    * WITHOUT rescanning the corpus — the reason the manifest hash is an
    * xor fold: xor is associative, commutative, and its own inverse, so
    * `manifest(A ∪ B) = manifest(A) ⊕ manifest(B)` (counts add) and
    * removal is the SAME fold (`remove = true` negates the counts while
    * the hash xors identically). `updateManifest(prev, delta)` is
    * therefore bit-identical to recomputing [[shardManifest]] over the
    * merged corpus, provided delta ids are disjoint from (for add) or
    * contained in (for remove) the corpus — the ingestion-dedup gates
    * ([[graft.streaming.StreamingOps.streamingIngestVeto]],
    * [[Dedup.crossDedupFilter]]) are what enforce that upstream.
    *
    * `shards` MUST equal the shard count `prev` was built with — the
    * merge matches shard NUMBERS, so re-sharding the delta differently
    * would xor 8-way rows into 16-way rows and produce a plausible but
    * corrupt manifest. The common mismatch direction (prev built with
    * MORE shards) fails loudly at execution: an unprunable assert rides
    * the prev side and throws on any shard id ≥ `shards`. (The opposite
    * direction — prev built with fewer — is structurally
    * indistinguishable from a sparsely-populated manifest and stays the
    * caller's contract.)
    *
    * Scale: the 100 TB release manifest updates for the cost of ONE scan
    * of the DELTA (hash + count projection, map-side agg) plus a
    * |shards|-row broadcast-sized join — the corpus is never read.
    * Shards a removal empties drop from the manifest (their xor returns
    * to 0), matching a fresh [[shardManifest]] of the remainder. */
  def updateManifest(prev: DataFrame, delta: DataFrame, shards: Int = 8,
      remove: Boolean = false, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sign = if (remove) -1L else 1L
    val d = shardManifest(delta, shards, textCol, idCol)
      .select(col("shard"), col("n_docs").as("__dn"),
        col("total_tokens").as("__dt"), col("content_hash").as("__dh"))
    prev.select(col("shard"), col("n_docs"), col("total_tokens"),
        col("content_hash"))
      // lazy, unprunable shard-domain check: assert_true returns NULL on
      // success (isNull keeps the row) and THROWS on a prev shard id the
      // delta's sharding could never reach — a filter cannot be pruned,
      // unlike an unused projected column
      .filter(assert_true(col("shard") < lit(shards.toLong),
        lit(s"updateManifest: prev manifest has shard ids >= $shards — " +
          "it was built with a different shard count")).isNull)
      .join(d, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_docs"), lit(0L)) +
          lit(sign) * coalesce(col("__dn"), lit(0L))).as("n_docs"),
        (coalesce(col("total_tokens"), lit(0L)) +
          lit(sign) * coalesce(col("__dt"), lit(0L))).as("total_tokens"),
        coalesce(col("content_hash"), lit(0L))
          .bitwiseXOR(coalesce(col("__dh"), lit(0L))).as("content_hash"))
      .filter(col("n_docs") > 0)
  }

  /** Packing-efficiency gauge over [[packSequences]] output (or any
    * (shard, n_tokens, seq_bin) frame): per shard, how full the
    * fixed-length training bins actually are — `fill_frac` below ~0.9
    * means the batch is burning that fraction of FLOPs on padding, the
    * number a seqLen / shard-count choice is made on. One
    * map-side-combinable aggregate over the packed frame; |shards| output
    * rows. `fill_frac` can exceed 1 when documents straddle bin
    * boundaries (this packing assigns a doc to the bin its START falls
    * in) — values over 1 measure straddle spill, not over-capacity. */
  def packingStats(packed: DataFrame, seqLen: Int = 2048): DataFrame =
    packed.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("seq_bin") + 1).as("n_bins"))
      .select(col("shard"), col("n_docs"),
        col("total_tokens").cast("long").as("total_tokens"),
        col("n_bins").cast("long").as("n_bins"),
        round(col("total_tokens").cast("double") /
          (col("n_bins") * lit(seqLen.toDouble)), 6).as("fill_frac"))

  /** Fixed-token-window chunking with overlap — the standard
    * context-length preprocessing for training examples: each document
    * splits into windows of `maxTokens` whitespace tokens whose starts
    * step by `maxTokens − overlap`, so consecutive chunks share `overlap`
    * tokens and no token is dropped. The final window may be short;
    * an empty document yields one empty chunk (the doc stays represented).
    *
    * Scale shape: a pure narrow projection + one explode — no shuffle at
    * all; chunk fan-out is ⌈n/stride⌉ per doc, proportional to the output
    * the caller asked for. Tokenization matches [[Dedup.tokens]] (and the
    * DuckDB oracle's regexp_split_to_array mirror). */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"chunkDocuments: maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"chunkDocuments: overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    docs
      .withColumn("__toks", Dedup.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")))
      // starts 0, stride, 2·stride, … strictly below n (one start for the
      // empty doc); sequence is exclusive-safe via the greatest() bound
      .withColumn("__start", explode(sequence(
        lit(0), greatest(col("__n") - 1, lit(0)), lit(stride))))
      .select(
        col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(maxTokens)), " ")
          .as("chunk_text"),
        greatest(least(col("__n") - col("__start"), lit(maxTokens)), lit(0))
          .cast("long").as("chunk_tokens"))
  }

  /** Per-language corpus length statistics over whitespace token counts:
    * doc count, mean (6 dp), and exact p50/p95/p99 (linear interpolation —
    * matches DuckDB `quantile_cont` for the oracle). */
  /** Length-bucket histogram in TRAINER tokens — the padding-waste
    * diagnostic for BUCKETED dynamic batching (the alternative to
    * packing: batch same-length-bucket documents, pad to the bucket
    * ceiling): per bucket (next `width` multiple ≥ the doc's BPE token
    * count, floor `width`), the document count, real-token total, and
    * the pad tokens the bucket ceiling would burn. Reading this against
    * [[packingStats]] is how a pipeline picks packing vs bucketing for
    * a corpus. Bucket arithmetic is pure INTEGER (ceil-to-multiple via
    * `div`) — no float log/pow, so the SQL mirror cannot diverge at a
    * power boundary.
    *
    * Scale: one narrow count pass ([[Bpe.withTokenCountColumn]] — the
    * same trainer currency as the packers) into a map-side-combinable
    * aggregate; output is |buckets| rows (max corpus doc length /
    * width). */
  def lengthBuckets(docs: DataFrame, merges: DataFrame, width: Int = 64,
      textCol: String = "text"): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    Bpe.withTokenCountColumn(docs, merges, textCol, "__n")
      .select(col("__n"),
        greatest(lit(width.toLong),
          expr(s"((__n + ${width - 1}) div $width) * $width"))
          .as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        sum(col("bucket_len") - col("__n")).as("pad_tokens"))
  }

  /** Percentile-band outlier trim: keep only docs whose token count lies
    * inside the per-stratum exact interpolated [pLo, pHi] band — the
    * standard "drop truncated fragments and merged-page monsters"
    * curation cut, bounded per language so verbose and terse languages
    * each keep their own center. The bounds frame is |strata|-sized and
    * BROADCASTS into the filter, so the corpus pays one narrow pass plus
    * the percentile aggregation. Keeps docs AT the boundary (closed
    * band). Returns the surviving docs with `n_tokens` attached. */
  def trimOutliers(docs: DataFrame, pLo: Double = 0.05, pHi: Double = 0.95,
      textCol: String = "text", strataCol: String = "lang"): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo, $pHi]")
    val withN = docs.withColumn("n_tokens",
      size(Dedup.tokens(col(textCol))).cast("long"))
    val bounds = withN.groupBy(col(strataCol))
      .agg(expr(s"percentile(n_tokens, $pLo)").as("__lo"),
        expr(s"percentile(n_tokens, $pHi)").as("__hi"))
    withN.join(broadcast(bounds), Seq(strataCol))
      .filter(col("n_tokens").cast("double") >= col("__lo") &&
        col("n_tokens").cast("double") <= col("__hi"))
      .drop("__lo", "__hi")
  }

  def lengthStats(docs: DataFrame, textCol: String = "text",
      strataCol: String = "lang"): DataFrame = {
    val nTokens = size(Dedup.tokens(col(textCol))).cast("long")
    docs.select(col(strataCol), nTokens.as("n_tokens"))
      .groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 6).as("mean_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_tokens, 0.95)"), 6).as("p95"),
        round(expr("percentile(n_tokens, 0.99)"), 6).as("p99"))
  }
}
