package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Document deduplication for large-scale training-data pipelines.
  *
  * Everything is expression-based (`org.apache.spark.sql.functions` +
  * higher-order array functions) — no UDFs — so plans stay inside Tungsten
  * and shuffle only where the algorithm requires it:
  *
  *  - [[exact]]: one hash-aggregate shuffle on the content column.
  *  - [[minhashPairs]]: MinHash+LSH — per-row signature computation is
  *    embarrassingly parallel (single project), candidate generation is a
  *    self-equi-join on (band, bandHash) buckets — O(candidates), never the
  *    O(n²) all-pairs. At 100 TB the band join is the only shuffle; skewed
  *    buckets (boilerplate text) should be capped/salted — see
  *    `maxBucketSize`.
  *  - [[simhashPairs]]: 64-bit SimHash, blocked on 16-bit chunks (any pair
  *    within Hamming distance 16 shares a chunk by pigeonhole when d<=3 per
  *    chunk-region; standard 4-chunk blocking catches d<=~6 reliably).
  *  - [[ngramJaccardPairs]]: EXACT word-shingle Jaccard via rarest-first
  *    prefix filtering (AllPairs/PPJoin) — the deterministic,
  *    oracle-checkable counterpart of MinHash, with candidate count
  *    proportional to truly-similar pairs instead of corpus².
  *
  * Cache lifecycle: the pair-mining operators persist intermediate
  * signature tables (they feed multiple consumers in one job), each
  * registered with [[PipelineCaches]] in the caller's cache scope. The
  * cached blocks live until that scope is released — a
  * `PipelineCaches.scoped` block's end, or a single-threaded loop's
  * `clear()` between jobs — and a release touches only the frames its
  * scope registered, never other caches.
  */
object Dedup {

  /** Exact dedup: canonical (minimum) id + duplicate count per identical
    * content value. Single map-side-combinable aggregation. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("doc_id"), count(lit(1)).as("dup_cnt"))
      .select("doc_id", "dup_cnt")

  // ---- shared text prep ----------------------------------------------------

  def tokens(textCol: Column): Column = split(lower(trim(textCol)), "\\s+")

  /** Distinct n-word shingles from a MATERIALIZED token-array column.
    * `toks` must be an attribute, not an inline expression: it is referenced
    * from the lambda body, and Catalyst re-evaluates inlined producer
    * expressions per array element (no CSE inside lambdas). The second
    * reference in the sequence bound keeps CollapseProject from inlining. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val count = greatest(size(toks) - (n - 1), lit(1))
    array_distinct(transform(sequence(lit(0), count - 1),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Adds a distinct-shingle column via a staged token projection. */
  def withShingles(df: DataFrame, textCol: String, n: Int = 3,
      out: String = "sh"): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn(out, shinglesFromTokens(col("__toks"), n))
      .drop("__toks")

  /** Convenience single-expression form — fine for tests/small data; for
    * hot paths use [[withShingles]] (see [[shinglesFromTokens]] note). */
  def shingles(textCol: Column, n: Int = 3): Column = {
    val toks = tokens(textCol)
    val count = greatest(size(toks) - (n - 1), lit(1))
    array_distinct(transform(sequence(lit(0), count - 1),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  // ---- MinHash + LSH ---------------------------------------------------------

  /** 96 hashes = 12 bands x 8 rows: s-curve threshold (1/12)^(1/8) ~= 0.73,
    * so pairs with true Jaccard >= 0.8 are caught with prob ~0.9 per band
    * set (0.999+ for the J>=0.9 pairs dedup actually targets). 96 keeps the
    * signature aggregate under spark.sql.codegen.maxFields (100) so the
    * whole-stage-codegen path stays enabled — 120 fields silently falls
    * back to interpreted aggregation. */
  val NumHashes = 96
  val Bands = 12
  val Rows = 8

  /** MinHash signature (array<bigint>, length [[NumHashes]]) from a column
    * of pre-hashed shingles — one pass per row, no shuffle. The hash family
    * is xxhash64 re-seeded by the function index k (each shingle's base
    * hash is computed once in a PRIOR projection, then k mixes it) —
    * deterministic across runs/executors and safe under ANSI mode.
    *
    * IMPORTANT perf note: `hashedShingles` must be a materialized column
    * (attribute), not an inline expression — Catalyst does not de-duplicate
    * common subexpressions inside higher-order-function lambdas, so an
    * inline expression would be recomputed [[NumHashes]] times per row. */
  def minhashSignature(hashedShingles: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)),
      k => array_min(transform(hashedShingles, h => xxhash64(h, k))))

  /** One murmur3 bucket id per band (hash of the band's signature slice). */
  def bandHashes(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => hash(slice(sig, b * Rows + 1, lit(Rows))))

  /** Near-duplicate pairs (a < b) with exact shingle-Jaccard >= threshold.
    *
    * `maxBucketSize` drops pathological LSH buckets (all-identical
    * boilerplate) before the self-join — at web scale a handful of huge
    * buckets otherwise dominate the join (quadratic blowup); dropping them
    * is standard practice (dedup within them via exact-hash instead). */
  def minhashPairs(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.8, maxBucketSize: Int = 10000): DataFrame =
    minhashPairsFromSignatures(
      minhashSignatures(docs, textCol, idCol), threshold, maxBucketSize)

  /** Per-doc MinHash state: `(id, txh, sig, hs)` — the LSH signature plus
    * the SORTED hashed-shingle set exact verification reads, and `txh`
    * (xxhash64 of the raw text), the per-doc change key
    * [[minhashSignaturesPersisted]]'s incremental merge is keyed by.
    * Persisted (MEMORY_AND_DISK): the frame feeds banding, bucket stats,
    * and both sides of the verify join. At cluster scale this is the
    * materialized signature table you would write out — which is exactly
    * what [[minhashSignaturesPersisted]] does. */
  def minhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    computeSignatures(
      docs.select(col(idCol).as("id"), col(textCol).as("__mh_text"))
        .withColumn("txh", xxhash64(col("__mh_text"))))

  /** Signature computation over a pre-keyed `(id, __mh_text, txh)` frame —
    * shared by the full build and the persisted artifact's delta path. */
  private def computeSignatures(keyed: DataFrame): DataFrame = {
    GraftFunctions.register(keyed.sparkSession)
    // repartition by id BEFORE the CPU-heavy per-row work: small/few input
    // splits otherwise serialize hashing on a handful of cores.
    // The tokenize→shingle→hash chain runs ONCE and is persisted as a
    // compact (id, array<bigint>) table feeding both the per-row
    // signature and the exact-verify hash sets — round 1 recomputed the
    // whole string-shingling lineage for each consumer.
    val prep = withShingles(keyed.repartition(col("id")), "__mh_text")
      .select(col("id"), col("txh"),
        transform(col("sh"), s => xxhash64(s)).as("hs"))
      .transform(PipelineCaches.track)

    // Per-row fused signature ([[graft.functions.MinHashRowExpr]], bit-
    // identical to the graft_minhash aggregate — spec-pinned): signing is
    // a pure function of one row's shingle set, so the earlier
    // explode → groupBy(agg) → join-back round-trip was three operators
    // where one codegen'd projection suffices. Same |hs|·k XXH64 work,
    // zero extra data movement, and the identical expression signs
    // unbounded STREAMS (the ingestion-admission path).
    // empty shingle sets stay excluded (the aggregate path dropped them
    // via its inner join; an all-MaxValue signature would otherwise band
    // every empty doc into one shared bucket)
    prep.filter(size(col("hs")) > 0)
      .select(col("id"), GraftFunctions.minhashSignatureRow(col("hs")).as("sig"),
        col("txh"), array_sort(col("hs")).as("hs"))
      .transform(PipelineCaches.track)
  }

  /** LSH banding + candidate self-join + exact-Jaccard verify over a
    * signature table shaped like [[minhashSignatures]] (in-memory or read
    * back from the persisted artifact). */
  def minhashPairsFromSignatures(sigs: DataFrame, threshold: Double = 0.8,
      maxBucketSize: Int = 10000): DataFrame = {
    GraftFunctions.register(sigs.sparkSession)
    val bandCols = (0 until Bands).map(b =>
      hash(slice(col("sig"), lit(b * Rows + 1), lit(Rows))).as(s"b$b"))
    val banded = sigs
      .select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))

    val okBuckets = banded.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1)
      .select("band", "bh")

    val inBuckets = banded.join(okBuckets, Seq("band", "bh"))

    val cand = inBuckets.alias("x").join(inBuckets.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    // exact-Jaccard verify on the pre-sorted hashed-shingle sets (cheap
    // long-array intersect) — no re-shingling, no re-sort
    val sets = sigs.select(col("id"), col("hs")).withColumn("sz", size(col("hs")))
    cand
      .join(sets.select(col("id").as("a"), col("hs").as("ha"), col("sz").as("za")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hb"), col("sz").as("zb")), "b")
      .select(col("a"), col("b"),
        GraftFunctions.sortedIntersectCount(col("ha"), col("hb")).as("i"),
        (col("za") + col("zb")).as("s"))
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("s") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus near-dup pairs: every (delta doc, corpus doc) pair with
    * exact shingle-Jaccard >= threshold — the continuous-ingestion dedup
    * shape ("is any of today's crawl already in the corpus?"). Unlike the
    * self-join miners this takes the corpus as a SIGNATURE TABLE
    * ([[minhashSignatures]] live, or [[minhashSignaturesPersisted]] read
    * back from the artifact), so at 100 TB the corpus pays NOTHING per
    * ingest batch: only the delta is shingled/signed, the band join
    * probes the corpus's banded signatures (candidates ∝ shared buckets,
    * never |delta|·|corpus|), and the exact verify intersects pre-sorted
    * hashed-shingle sets. The bucket cap applies to the CORPUS side of
    * each band bucket — the quadratic risk is delta-bucket × corpus-
    * bucket, and a boilerplate bucket is a corpus property. Returns
    * (a = delta id, b = corpus id, jaccard 4-dp >= threshold); delta ids
    * also present in the corpus table match themselves at jaccard 1.0 —
    * filter `a <> b` upstream if re-ingestion is expected. */
  def crossDedupPairs(delta: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(delta.sparkSession)
    val dSigs = minhashSignatures(delta, textCol, idCol)
    def banded(sigs: DataFrame): DataFrame = {
      val bandCols = (0 until Bands).map(b =>
        hash(slice(col("sig"), lit(b * Rows + 1), lit(Rows))).as(s"b$b"))
      sigs.select(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    }
    val cBanded = banded(corpusSigs)
    val okBuckets = cBanded.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucketSize)
      .select("band", "bh")
    val cand = banded(dSigs).alias("x")
      .join(cBanded.join(okBuckets, Seq("band", "bh")).alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val dSets = dSigs.select(col("id").as("a"), col("hs").as("ha"),
      size(col("hs")).as("za"))
    val cSets = corpusSigs.select(col("id").as("b"), col("hs").as("hb"),
      size(col("hs")).as("zb"))
    cand.join(dSets, "a").join(cSets, "b")
      .select(col("a"), col("b"),
        GraftFunctions.sortedIntersectCount(col("ha"), col("hb")).as("i"),
        (col("za") + col("zb")).as("s"))
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("s") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Ingestion admission: the delta docs that near-duplicate NOTHING
    * already in the corpus — [[crossDedupPairs]] composed into the
    * decision a continuous-ingestion pipeline actually executes ("admit
    * today's crawl minus what we already have"). Self-matches (a delta
    * doc re-ingested while already signed into the corpus) don't veto
    * admission. Left-anti join on the pair miner's output: candidates ∝
    * near-dup pairs, the admitted set never shuffles more than its ids. */
  def crossDedupFilter(delta: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dup = crossDedupPairs(delta, corpusSigs, threshold, maxBucketSize,
        textCol, idCol)
      .filter(col("a") =!= col("b"))
      .select(col("a").as(idCol)).distinct()
    delta.join(dup, Seq(idCol), "left_anti")
  }

  /** The [[minhashSignatures]] table as a build-once, APPEND-CHEAP parquet
    * artifact keyed by the corpus content fingerprint
    * ([[graft.catalog.Snapshot]]). On a stale fingerprint the rebuild is
    * INCREMENTAL: rows whose `(id, txh)` text-hash key is unchanged are
    * carried over verbatim from the previous artifact version; only new or
    * changed docs pay the shingle→hash→signature work, and removed docs
    * drop out via the semi-join. A corpus append therefore costs one
    * cheap text-hash pass over the corpus plus signatures for the delta —
    * the signature-side bridge to streaming/appended corpora (the band
    * join in [[minhashPairsFromSignatures]] still runs over the merged
    * table; pair maintenance stays downstream).
    *
    * Fenced by [[Artifacts]] on the corpus fingerprint, [[NumHashes]],
    * `textCol` and `idCol` (the fingerprint hashes the input frame, so the
    * same docs hashed over a different column must not serve stale
    * signatures). The merge reads the previous version only when it was
    * signed with the same hash family; the `(id, txh)` keying self-corrects
    * a textCol/idCol change, since every row then lands in the delta. */
  def minhashSignaturesPersisted(docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val key = Artifacts.key(
      "fingerprint" -> graft.catalog.Snapshot.fingerprint(docs),
      "hashes" -> NumHashes, "textCol" -> textCol, "idCol" -> idCol)
    spark.read.parquet(Artifacts.fenced(spark, path, key) { (dir, previous) =>
      val keyed = docs.select(col(idCol).as("id"), col(textCol).as("__mh_text"))
        .withColumn("txh", xxhash64(col("__mh_text")))
      val old = previous
        .filter(_.key.get("hashes") == key.get("hashes"))
        .map(p => spark.read.parquet(p.dir))
      val merged = old match {
        case Some(o) =>
          val delta = keyed.join(o.select("id", "txh"), Seq("id", "txh"), "left_anti")
          val kept = o.join(keyed.select("id", "txh"), Seq("id", "txh"), "left_semi")
          kept.unionByName(computeSignatures(delta))
        case None => computeSignatures(keyed)
      }
      merged.write.parquet(dir)
    })
  }

  /** [[minhashPairs]] through the persisted signature artifact — repeat
    * mining (or mining after an append) reads/merges the signature table
    * instead of recomputing every signature. */
  def minhashPairsPersisted(docs: DataFrame, path: String,
      threshold: Double = 0.8, maxBucketSize: Int = 10000): DataFrame =
    minhashPairsFromSignatures(
      minhashSignaturesPersisted(docs, path), threshold, maxBucketSize)

  // ---- SimHash ---------------------------------------------------------------

  private val Pow2: Column = array((0 until 64).map(j => lit(1L << j)): _*)

  /** 64-bit SimHash over distinct 3-word shingles: per-bit ±1 vote from
    * each shingle's xxhash64, sign of the vote sum sets the bit.
    * Single-pass `aggregate` — no explode, no shuffle. */
  def simhash(textCol: Column): Column = {
    val hs = transform(shingles(textCol), t => xxhash64(t))
    val votes = aggregate(hs, array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, Pow2,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1).otherwise(-1)))
    aggregate(zip_with(votes, Pow2, (v, p) => when(v > 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Near-duplicate pairs by SimHash Hamming distance, blocked on the four
    * 16-bit chunks (pairs within distance `maxHamming` share at least one
    * chunk with high probability for small distances).
    *
    * `maxBucketSize` drops pathological chunk buckets before the self-join
    * (mirroring [[minhashPairs]]): on a boilerplate-heavy corpus thousands
    * of docs share a 16-bit chunk value and the bucket contributes B²
    * candidate pairs — cap it and dedup those docs via [[exact]] instead. */
  def simhashPairs(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 6, maxBucketSize: Int = 10000): DataFrame = {
    GraftFunctions.register(docs.sparkSession)

    // fused per-row signature (graft.functions.SimHash64): xxhash64 + bit
    // votes + sign in one codegen'd loop — a pure projection. The previous
    // explode + 64-column vote aggregate shuffled 512 B of aggregation
    // state per doc and was 17-34% of the whole sf0.1 bench on constant
    // factor alone; bit-identical output is pinned by PipelineSpec's
    // independent reimplementation.
    // persist: consumed by both sides of the chunk-bucket self-join
    val prep = withShingles(
        docs.select(col(idCol).as("id"), col(textCol)).repartition(col("id")), textCol)
      .select(col("id"), GraftFunctions.simhash64(col("sh")).as("sim"))
      .transform(PipelineCaches.track)

    val chunks = array((0 until 4).map(c =>
      shiftrightunsigned(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunked = prep.select(col("id"), col("sim"),
      posexplode(chunks).as(Seq("chunk", "cv")))

    // prune singleton buckets (no pair can come from them) and cap
    // pathological ones BEFORE the self-join
    val okBuckets = chunked.groupBy("chunk", "cv").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1)
      .select("chunk", "cv")
    val inBuckets = chunked.join(okBuckets, Seq("chunk", "cv"))

    inBuckets.alias("x").join(inBuckets.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      // Hamming filter BEFORE the distinct: shrinks the dedup shuffle to
      // the (tiny) accepted-pair set instead of every candidate pair
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The shared 16-bit 4-chunk decomposition of a 64-bit hash frame —
    * ONE definition of the blocking scheme, so the miner
    * ([[imageHashPairs]]) and the drops report
    * ([[imageHashBucketDrops]]) can never disagree about what a bucket
    * is. Returns (id, h, chunk, cv). */
  private def hashChunked(hashes: DataFrame, hashCol: String,
      idCol: String): DataFrame = {
    val prep = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
    val chunks = array((0 until 4).map(c =>
      shiftrightunsigned(col("h"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)
    prep.select(col("id"), col("h"),
      posexplode(chunks).as(Seq("chunk", "cv")))
  }

  /** Per-(chunk, cv) block populations of [[hashChunked]] — the frame
    * both the miner's cap filter and the drops report aggregate. */
  private[graft] def hashChunkCounts(hashes: DataFrame,
      hashCol: String = "dhash", idCol: String = "doc_id"): DataFrame =
    hashChunked(hashes, hashCol, idCol).groupBy("chunk", "cv").count()

  /** Near-duplicate IMAGE pairs by perceptual-hash (dHash) Hamming
    * distance — the image counterpart of [[simhashPairs]], sharing its
    * 16-bit chunk blocking: `hashes` is (id, 64-bit hash), e.g.
    * [[Multimodal.imageDHash]] output.
    *
    * Unlike SimHash text blocking (probabilistic at distance 6), the
    * 4-chunk block is LOSSLESS here: `maxDist` ≤ 3 differing bits can
    * touch at most 3 of the 4 chunks, so every qualifying pair shares at
    * least one exact chunk — the equi-join is a complete candidate set,
    * enforced by the require. Same singleton-prune + bucket cap before
    * the self-join; candidates ∝ similar pairs, not corpus². */
  def imageHashPairs(
      hashes: DataFrame, maxDist: Int = 2, hashCol: String = "dhash",
      idCol: String = "doc_id", maxBucketSize: Int = 10000): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist $maxDist: the 4-chunk block is only lossless through 3")
    // persisted: the (id, hash) frame feeds the bucket-population
    // aggregate AND the self-join input, whose plan shapes share no
    // exchange — without the persist the upstream hash computation (for
    // [[Multimodal.imageDHash]] inputs, a full codec decode of every
    // image) executed twice per run (r17 plan audit: two decode
    // mapPartitions subtrees; the x/y join sides already shared one via
    // exchange reuse). 16 bytes per image, orders of magnitude below
    // the payload. Tracked in [[PipelineCaches]] (caller's scope).
    val prep = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
      .transform(PipelineCaches.track)
    val chunked = hashChunked(prep, "h", "id")
    val okBuckets = chunked.groupBy("chunk", "cv").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1)
      .select("chunk", "cv")
    val inBuckets = chunked.join(okBuckets, Seq("chunk", "cv"))
    inBuckets.alias("x").join(inBuckets.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.cv") === col("y.cv") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** The buckets [[imageHashPairs]]' `maxBucketSize` cap DROPS — the
    * no-silent-caps companion: one row per over-cap (chunk, cv) block
    * with its population, so a caller can LOG what the cap cost
    * (`drops.agg(sum("count"))` is the number of images whose candidacy
    * that chunk stopped carrying) instead of discovering a recall hole
    * later. Empty on healthy hash distributions; non-empty means the
    * corpus has a degenerate hash class (solid-color images all hash 0,
    * the classic case) and each listed block was about to cost
    * count²/2 candidate pairs. Pairs inside a dropped block can still
    * surface through the other 3 chunks (the block join needs only ONE
    * surviving chunk match), so recall loss is bounded by pairs whose
    * EVERY shared chunk is over cap — measured on the adversarially
    * dense gradient fixture in `ProfileImageCap` (DESIGN r17). Same
    * aggregate the miner itself computes; |dropped blocks| rows. */
  def imageHashBucketDrops(
      hashes: DataFrame, hashCol: String = "dhash",
      idCol: String = "doc_id", maxBucketSize: Int = 10000): DataFrame =
    hashChunkCounts(hashes, hashCol, idCol)
      .filter(col("count") > maxBucketSize)

  // ---- exact n-gram Jaccard (prefix-filtered similarity join) ---------------

  /** EXACT all-pairs 3-word-shingle Jaccard >= threshold — the
    * deterministic, DuckDB-checkable counterpart of MinHash, implemented
    * as a canonical AllPairs/PPJoin-style prefix-filtered similarity join
    * (Bayardo et al., WWW'07) rather than an all-pairs or length-blocked
    * self-join:
    *
    *  1. shingle sets are pre-hashed to longs and ordered RAREST-FIRST
    *     under a global (frequency, hash) total order;
    *  2. each doc exposes only its PREFIX — the first
    *     |A| − ⌈t·|A|⌉ + 1 elements. Two sets with J ≥ t must share a
    *     prefix element under any common total order (their overlap is
    *     ≥ ⌈t·max(|A|,|B|)⌉), so the prefix equi-join loses NOTHING;
    *  3. rarest-first ordering keeps common-phrase shingles out of
    *     prefixes, so join buckets stay small on natural text;
    *  4. the lossless size-ratio bound (J ≥ t ⇒ min ≥ t·max) prunes
    *     before the exact merge-intersect verify.
    *
    * Candidate count is proportional to genuinely-similar pairs, not
    * corpus², which is what survives a 1000-executor corpus. */
  def ngramJaccardPairs(
      docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    GraftFunctions.register(docs.sparkSession)

    // The FINAL filter accepts 4-dp-ROUNDED jaccard >= threshold, so a pair
    // with unrounded J in [threshold - 5e-5, threshold) still belongs in
    // the result. Candidate pruning (prefix length, size ratio) must
    // therefore be lossless down to the rounding window's lower edge, not
    // just to the nominal threshold.
    val tPrune = threshold - 5e-5

    // one persisted hashed-shingle prep (id, array<bigint>) like minhash
    val prep = withShingles(
        docs.select(col("doc_id").as("id"), col("text")).repartition(col("id")), "text")
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
      .transform(PipelineCaches.track)

    // verify side: sorted-by-hash arrays for the zero-alloc merge-intersect
    val sets = prep.select(col("id"), array_sort(col("hs")).as("hs"))
      .withColumn("sz", size(col("hs")))

    // global shingle frequencies → rarest-first total order (cnt, h).
    // count-over-window instead of groupBy(h)+join-back: same cnt per
    // (h) key, but ONE hash-exchange of tok instead of two plus a join
    // (measured: the SMJ form re-shuffled tok for the probe side and
    // re-scanned the persisted prep)
    val tok = prep.select(col("id"), explode(col("hs")).as("h"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val ordered = tok
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("h")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))

    // prefix length L = sz − ⌈t·sz⌉ + 1 (per row, at the pruning threshold).
    // The self-join below references this subtree twice with no shared
    // exchange in EITHER regime: at gate scale the planner broadcasts one
    // side, and past broadcast size (probed r18 with
    // autoBroadcastJoinThreshold=-1, tools/ProfileNgramSelfHeal) the two
    // SMJ sides do NOT get runtime-deduplicated — the final adaptive plan
    // shows each side executing its own Exchange(h) → window → Exchange
    // (id) → collect → Exchange(p) chain (stage census: only the cached
    // prep's stage reused, every prefix-chain stage distinct), refuting
    // the r17 "self-heals at scale" note recorded here. The chain above
    // the persisted prep therefore executes twice at any scale — but
    // BOTH local mitigations measured as losses at gate scale
    // (min-of-7 back-to-back A/Bs, sentinels flat): repartition by `p`
    // ~1.12× normalized (r17 — the shuffle costs what the chain costs
    // and the planner still broadcast one side on top of it), and an
    // r18 persist of this exploded prefix 1.07× on p_dedup_ngram /
    // 1.06× on p_dedup_contain (the cache build ≈ the saved chain over
    // the already-cached prep). Left duplicated: at gate scale the
    // re-derivation over cached prep is the cheap regime; in the
    // past-broadcast regime the repartition form is the structurally
    // right fix (one exchange both SMJ sides consume directly), worth
    // re-probing only when network shuffle is the measured bottleneck.
    val prefix = ordered.select(col("id"), col("sz"),
      explode(slice(col("ordered"), lit(1),
        (col("sz") - ceil(col("sz") * lit(tPrune)) + 1).cast("int"))).as("p"))

    val cand = prefix.alias("x").join(prefix.alias("y"),
        col("x.p") === col("y.p") && col("x.id") < col("y.id") &&
        least(col("x.sz"), col("y.sz")).cast("double") >=
          greatest(col("x.sz"), col("y.sz")) * tPrune)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    cand
      .join(sets.select(col("id").as("a"), col("hs").as("ha"), col("sz").as("za")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hb"), col("sz").as("zb")), "b")
      .select(col("a"), col("b"),
        // native merge-intersect over the pre-sorted hash arrays: no
        // per-pair hash-set allocation (graft.functions.SortedIntersectCount)
        GraftFunctions.sortedIntersectCount(col("ha"), col("hb")).as("i"),
        (col("za") + col("zb")).as("s"))
      // i referenced twice ⇒ CollapseProject keeps the intersect materialized
      .select(col("a"), col("b"),
        round(col("i").cast("double") / (col("s") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT asymmetric n-gram containment pairs: ordered (a, b) where
    * C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — doc `a`'s shingle
    * set is (nearly) a subset of doc `b`'s. This is the partial-scrape /
    * quote-inflation signal symmetric Jaccard misses: a short doc fully
    * embedded in a long one has containment ≈ 1 while its Jaccard is
    * ≈ |a|/|b|, far below any dedup threshold (the asymmetric measure in
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" §4 and the CC-pipeline literature; reference scope: brahmand
    * has no text-dedup surface — this is pipeline-extension territory).
    *
    * Same PPJoin machinery as [[ngramJaccardPairs]], adapted to the
    * asymmetric bound — each pruning step is LOSSLESS for containment:
    *  1. prefix filter on the CONTAINED side only: if C ≥ t then
    *     |a ∩ b| ≥ ⌈t·|a|⌉, so any (|a| − ⌈t·|a|⌉ + 1)-element subset of
    *     a's shingles intersects b (pigeonhole). The container side
    *     cannot be prefix-truncated (no upper bound ties |b| to the
    *     intersection), so the probe joins a's rarest-first prefix
    *     against the FULL shingle→doc index — the same `tok` frame the
    *     frequency pass already built, reused, not recomputed;
    *  2. size bound |b| ≥ |a ∩ b| ≥ t·|a| prunes candidates where the
    *     container is too small to hold the required intersection;
    *  3. exact verify via the zero-alloc sorted merge-intersect.
    *
    * Both directions are examined independently (a⊂b and b⊂a are
    * different facts); mutual containment ≈ exact duplication and both
    * rows appear. Candidate count is Σ_prefix-shingle df(shingle) with
    * rarest-first prefixes — output-proportional on natural text, never
    * corpus². Returns (a, b, containment) with containment 4-dp rounded. */
  def containmentPairs(
      docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    GraftFunctions.register(docs.sparkSession)

    // Same rounding-window discipline as [[ngramJaccardPairs]]: the final
    // filter accepts ROUNDED containment >= threshold, so pruning must be
    // lossless down to threshold - 5e-5.
    val tPrune = threshold - 5e-5

    val prep = withShingles(
        docs.select(col("doc_id").as("id"), col("text")).repartition(col("id")), "text")
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("hs"))
      .transform(PipelineCaches.track)

    val sets = prep.select(col("id"), array_sort(col("hs")).as("hs"))
      .withColumn("sz", size(col("hs")))

    // full shingle→doc index (container probe side) + global frequencies
    // (count-over-window form — see the [[ngramJaccardPairs]] note)
    val tok = prep.select(col("id"), explode(col("hs")).as("h"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val ordered = tok
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("h")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))

    // contained-side prefix: L = sz − ⌈t·sz⌉ + 1 rarest shingles
    val prefix = ordered.select(col("id"), col("sz"),
      explode(slice(col("ordered"), lit(1),
        (col("sz") - ceil(col("sz") * lit(tPrune)) + 1).cast("int"))).as("p"))

    // container probe: (id, sz, h) straight off the cached prep — shingle
    // arrays are per-doc distinct, so size(hs) is the set size
    val tokSz = prep.select(col("id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("h"))

    val cand = prefix.alias("x").join(tokSz.alias("y"),
        col("x.p").getField("h") === col("y.h") && col("x.id") =!= col("y.id") &&
        // container must be large enough to hold the required intersection
        col("y.sz").cast("double") >= col("x.sz") * tPrune)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    cand
      .join(sets.select(col("id").as("a"), col("hs").as("ha"), col("sz").as("za")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("hb")), "b")
      .select(col("a"), col("b"),
        round(GraftFunctions.sortedIntersectCount(col("ha"), col("hb"))
          .cast("double") / col("za"), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** [[ngramJaccardPairs]] as a build-once parquet artifact keyed by the
    * corpus content fingerprint + threshold ([[graft.catalog.Snapshot]]).
    * Pair mining is the expensive half of transitive clustering; persisting
    * it means [[dupClusters]] (and every other pair consumer — span
    * scoring, manual review, re-clustering at a different granularity)
    * pays only its own cost instead of re-running the PPJoin per call.
    * Stale fingerprint ⇒ transparent re-mine; returns the pairs frame
    * backed by the artifact. */
  def ngramJaccardPairsPersisted(docs: DataFrame, path: String,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val key = Artifacts.key(
      "fingerprint" -> graft.catalog.Snapshot.fingerprint(docs),
      "threshold" -> threshold)
    spark.read.parquet(Artifacts.fenced(spark, path, key) { (dir, _) =>
      ngramJaccardPairs(docs, threshold).write.parquet(dir)
    })
  }

  // ---- pair-miner recall gauge + transitive dup clustering ------------------

  /** Recall/precision gauge for an approximate near-dup pair miner
    * against an exact ground truth — the dedup counterpart of
    * [[Similarity.annRecall]]: the number a pipeline gates an LSH
    * parameter change (bands, bucket cap, hash count) on before trusting
    * the approximate miner at corpus scale. Takes any two (a, b, …) pair
    * frames ([[minhashPairs]], [[simhashPairs]], [[imageHashPairs]],
    * persisted variants… vs [[ngramJaccardPairs]] or a sampled exact
    * mine; extra columns ignored) and returns ONE summary row:
    * `n_true`, `n_found` (true pairs the approx miner surfaced),
    * `n_extra` (approx pairs outside the truth set — non-zero only for
    * miners without an exact-verify stage, e.g. SimHash at loose radii),
    * `recall` (4 dp; 1.0 on an empty truth set — nothing to miss).
    *
    * Scale: both inputs are pair-proportional, orders of magnitude
    * smaller than the corpora they summarize; in production the truth
    * side comes from an exact mine over a SAMPLE, making the gauge
    * sample-sized. The joins broadcast. */
  def pairRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    // both frames feed TWO joins (hit count + extra count); persisted
    // (pair-sized) so the upstream miners run once, not twice
    val a = approx.select(col("a"), col("b")).distinct()
      .transform(PipelineCaches.track).alias("x")
    val e = exact.select(col("a"), col("b")).distinct()
      .transform(PipelineCaches.track).alias("t")
    val hits = e.join(a,
        col("t.a") === col("x.a") && col("t.b") === col("x.b"), "left_outer")
      .agg(count(col("x.a")).as("n_found"), count(lit(1)).as("n_true"))
    val extra = a.join(e,
        col("x.a") === col("t.a") && col("x.b") === col("t.b"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    hits.crossJoin(extra)
      .select(col("n_true"), col("n_found"), col("n_extra"),
        when(col("n_true") === 0L, lit(1.0))
          .otherwise(round(col("n_found").cast("double") / col("n_true"), 4))
          .as("recall"))
  }

  /** Transitive dedup clusters: connected components over the exact
    * n-gram-Jaccard pair graph ([[ngramJaccardPairs]]), so A~B and B~C
    * land A, B, C in ONE cluster even when A~C alone misses the
    * threshold — the canonicalization step a dedup pipeline runs after
    * pair mining (keep `cluster_id`, drop the rest). Returns every doc
    * with `cluster_id` = the minimum doc id in its component (singletons
    * map to themselves).
    *
    * Scale: the pair graph is output-proportional (never all-pairs), and
    * clustering is [[graft.graph.GraphAlgorithms.components]] — min-label
    * rounds whose shuffles are proportional to the changed frontier,
    * converging in O(diameter) rounds (dup clusters are shallow:
    * near-cliques), on partitions sized from the pair count rather than
    * the corpus shuffle. The mined pairs are persisted once, so the
    * mining's parallelism is untouched and it never runs twice.
    *
    * `minedPairs`: pass a pre-mined (a, b) pair frame (e.g.
    * [[ngramJaccardPairsPersisted]], or pairs from a different miner) to
    * skip the in-line PPJoin — clustering then costs only the CC
    * iteration. Default mines in-line with [[ngramJaccardPairs]]. */
  def dupClusters(docs: DataFrame, threshold: Double = 0.5,
      minedPairs: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = minedPairs.getOrElse(ngramJaccardPairs(docs, threshold))
    graft.graph.GraphAlgorithms.components(
        pairs.select(col("a").cast("long"), col("b").cast("long"))
          .as[(Long, Long)].rdd,
        docs.select(col("doc_id").cast("long")).as[Long].rdd)
      .toDF("doc_id", "cluster_id")
  }

  /** Duplicated-span coverage: per document, the fraction of tokens lying
    * inside an n-gram that also occurs in at least `minDocFreq` documents
    * corpus-wide — the shingle-based approximation of exact substring
    * deduplication (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": long spans shared across documents are
    * memorization fuel; this scores each doc by how much of it is such a
    * span). Only cross-document repetition counts: a phrase repeated
    * inside a single document leaves its coverage at 0.
    *
    * Shape: positional (not distinct) n-gram explode → doc-frequency
    * aggregate (distinct (doc, gram) then per-gram count — both map-side
    * combinable) → semi-join positions against the duplicated-gram set →
    * per-doc interval union via one lead() window. At 100 TB the gram
    * doc-freq aggregate is the big shuffle (same shape as [[minhashPairs]]'
    * signature pass); the duplicated-gram set is typically orders of
    * magnitude smaller than the corpus and AQE will broadcast it into the
    * position join. Raw gram STRINGS stay the join/agg key on purpose: a
    * round-12 A/B (force=rows, isolated, flat calib) measured the
    * "production" xxhash64-keyed variant at 2.52 s vs 1.63 s for this form
    * at sf0.1 — per-row hashing of every exploded position costs more than
    * the narrower shuffle saves until shuffle I/O dominates. Revisit the
    * hashed key only when network shuffle is the measured bottleneck.
    *
    * Interval union on gram START positions: consecutive starts p, p'
    * overlap when p' − p < n, so each position contributes
    * `min(n, p' − p, n_tokens − p)` covered tokens — a single sorted
    * window per doc, no quadratic interval merge. */
  def dupSpanCoverage(docs: DataFrame, n: Int = 5, minDocFreq: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (toksDf, dupPos) = dupSpanStarts(docs, n, minDocFreq, textCol, idCol)
    // one join: toksDf already carries every doc's n_tokens (the old
    // three-way docs⋈perDoc⋈toksDf form re-tokenized the corpus a second
    // time — round-5 review)
    coverageFromMined(toksDf.select(col(idCol), col("n_tokens")),
      dupPos, n, idCol)
  }

  /** Coverage scoring over an already-mined `(ntok, dupPos)` pair — the
    * shared tail of [[dupSpanCoverage]] (fresh mine) and
    * [[dupSpanCoveragePersisted]] (artifact read). */
  private def coverageFromMined(ntok: DataFrame, dupPos: DataFrame,
      n: Int, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val contrib = dupPos
      .withColumn("__next", lead(col("pos"), 1).over(w))
      .withColumn("__covered",
        least(lit(n.toLong), col("n_tokens") - col("pos"),
              coalesce(col("__next") - col("pos"), lit(n.toLong))))
    val perDoc = contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_positions"),
           sum("__covered").cast("long").as("covered_tokens"))
    ntok.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("coverage"))
  }

  /** Persisted span-mining artifact: `(ntok, dupPos)` — per-doc token
    * counts and the duplicated-gram START positions — written once per
    * (corpus fingerprint, n, minDocFreq) and re-read from parquet after
    * that, exactly the [[ngramJaccardPairsPersisted]] contract. The mine
    * (tokenize → positional gram explode → doc-freq aggregate) is the
    * dominant cost of every span operator and depends only on the corpus,
    * so repeated curation runs — score, then remove, then re-score after
    * policy tweaks — should pay it once, like writing a bucketed table.
    *
    * Any corpus change is a FULL re-mine by design: an appended document
    * can promote an n-gram from unique to duplicated, which needs the
    * gram's positions in OLD documents — and storing every position of
    * every unique gram (the data needed for an incremental promote) is
    * the corpus itself, orders of magnitude bigger than this artifact
    * (which is ∝ duplicated positions only). The signature artifact can
    * merge incrementally ([[minhashSignaturesPersisted]]) because its
    * per-doc state is self-contained; duplicated-ness is corpus-global. */
  def dupSpanStartsPersisted(docs: DataFrame, path: String, n: Int = 5,
      minDocFreq: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    // textCol/idCol are key fields: the corpus fingerprint hashes the
    // INPUT frame, so the same docs mined over a different column would
    // otherwise serve stale positions
    val key = Artifacts.key(
      "fingerprint" -> graft.catalog.Snapshot.fingerprint(docs),
      "n" -> n, "minDocFreq" -> minDocFreq, "textCol" -> textCol, "idCol" -> idCol)
    val dir = Artifacts.fenced(spark, path, key) { (dir, _) =>
      val (toksDf, dupPos) = dupSpanStarts(docs, n, minDocFreq, textCol, idCol)
      toksDf.select(col(idCol), col("n_tokens")).write.parquet(s"$dir/ntok")
      // drop the gram string: no consumer reads it, and it is the widest
      // column per duplicated position
      dupPos.select(col(idCol), col("n_tokens"), col("pos"))
        .write.parquet(s"$dir/pos")
    }
    (spark.read.parquet(s"$dir/ntok"), spark.read.parquet(s"$dir/pos"))
  }

  /** [[dupSpanCoverage]] over the persisted artifact: identical rows, but
    * the timed work is one dup-position window + one left join against the
    * compact ntok table — the mine is amortized across calls. */
  def dupSpanCoveragePersisted(docs: DataFrame, path: String, n: Int = 5,
      minDocFreq: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (ntok, dupPos) =
      dupSpanStartsPersisted(docs, path, n, minDocFreq, textCol, idCol)
    coverageFromMined(ntok, dupPos, n, idCol)
  }

  /** Shared scorer/removal plumbing: `(tokenized docs, duplicated-gram
    * start positions)`. Positional grams mirror shinglesFromTokens'
    * short-doc bound (docs shorter than n contribute their whole text as
    * one gram); a gram is duplicated when it appears in >= `minDocFreq`
    * distinct documents. */
  private def dupSpanStarts(docs: DataFrame, n: Int, minDocFreq: Int,
      textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val toksDf = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    val gramArr = transform(
      sequence(lit(0), greatest(size(col("__toks")) - (n - 1), lit(1)) - 1),
      i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))
    val pos = Explodes.posexplodeNoInfer(
      toksDf.withColumn("__grams", gramArr),
      Seq(col(idCol), col("n_tokens")), col("__grams"), "pos", "gram")
      .withColumn("pos", col("pos").cast("long"))
    // ONE gram-keyed exchange feeds BOTH consumers: `pos` used to flow
    // into the doc-freq aggregate AND (separately) into the join probe —
    // the aggregate's exchange carries partially-aggregated rows, so the
    // probe side shared nothing with it and the whole tokenize → 5-gram
    // explode chain executed twice per run (the probe of a broadcast
    // join has no exchange of its own for stage reuse to deduplicate).
    // Repartitioning by gram FIRST makes both consumers read the same
    // shuffle output (ReuseExchange/AQE stage cache): the aggregate's
    // required distribution is satisfied (no second exchange), and the
    // join keeps its gram-partitioned probe. Trade: the exchange now
    // carries raw positions instead of count_distinct's map-side-deduped
    // (gram, id) pairs — a few extra longs per row — against a full
    // corpus re-tokenization saved.
    //
    // Skew bound (DESIGN §12): the shared exchange moves RAW occurrences
    // on the gram key, so a Zipfian hot gram concentrates on one
    // partition, and AQE skew-split does not apply to repartition-fed
    // aggregates. Measured on the sf0.1 fixture: top gram 4 occurrences
    // against a 32-partition mean of 7,834 rows — no skew. It bites only
    // at extreme partition counts (top-5-gram share of web text ~1e-5, so
    // P ≳ 10⁵ before one gram fills a partition); salting the exchange by
    // a function of the id is the fix to measure then, not before.
    val posR = pos.repartition(col("gram"))
    val dupGrams = posR.groupBy("gram")
      .agg(count_distinct(col(idCol)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .select("gram")
    (toksDf, posR.join(dupGrams, "gram"))
  }

  /** Duplicated-span REMOVAL — the mutation half of [[dupSpanCoverage]]
    * (Lee et al. 2021 *remove* the shared substring and keep the rest):
    * every token inside an n-gram shared with >= `minDocFreq` documents
    * is dropped; the cleaned text plus removal accounting comes back as
    * `(idCol, clean_text, n_tokens, removed_tokens)`. `removed_tokens`
    * equals the scorer's `covered_tokens` by construction (spec-pinned).
    *
    * Shape: the scorer's positional-gram + doc-freq plumbing unchanged;
    * then the SAME lead() window the scorer uses turns each duplicated
    * start into a disjoint covered segment `[pos, pos + least(n,
    * next − pos, n_tokens − pos))` — capping every span at the next start
    * IS interval union, so the segments collected per document (sorted
    * via sort_array; bounded by the doc's own token count, never
    * corpus-proportional) tile the covered set without overlap. Kept
    * text is rebuilt from the GAPS between segments with one indexed
    * slice per gap: O(tokens + segments) per document — the previous
    * `array_contains`-per-token form was O(tokens × covered). Round-12
    * A/B at sf0.1: removal's increment over the shared gram/doc-freq
    * plumbing (which dominates both variants) dropped ~0.9 s → ~0.3 s;
    * the asymptotic win is what matters for long documents. */
  def removeDupSpans(docs: DataFrame, n: Int = 5, minDocFreq: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (toksDf, dupPos) = dupSpanStarts(docs, n, minDocFreq, textCol, idCol)
    removalFromMined(toksDf, dupPos, n, idCol)
  }

  /** [[removeDupSpans]] over the persisted artifact
    * ([[dupSpanStartsPersisted]]): identical rows; the per-doc token
    * arrays are re-derived (a narrow tokenize, no gram explode) because
    * clean text needs them, but the mine — the dominant cost — is read,
    * not recomputed. */
  def removeDupSpansPersisted(docs: DataFrame, path: String, n: Int = 5,
      minDocFreq: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (_, dupPos) =
      dupSpanStartsPersisted(docs, path, n, minDocFreq, textCol, idCol)
    val toksDf = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    removalFromMined(toksDf, dupPos, n, idCol)
  }

  /** Span-level benchmark decontamination — the surgical variant of
    * [[Corpus.decontaminate]]: instead of DROPPING every training
    * document that shares an n-gram with the eval corpus, remove only
    * the overlapping spans and keep the rest of the document (the
    * Lee et al. span machinery pointed at an EXTERNAL gram set instead
    * of the corpus's own duplicated grams — the GPT-3/PaLM-style
    * n-gram-overlap scrub that preserves the training doc). Returns
    * `(idCol, clean_text, n_tokens, removed_tokens)`; documents with no
    * overlap come back untouched with `removed_tokens = 0`.
    *
    * Scale (100 TB): eval corpora are benchmark-sized, so the distinct
    * eval-gram set BROADCASTS; the train side pays one positional-gram
    * explode, the broadcast semi-join, and the per-doc segment window —
    * no corpus-wide gram doc-frequency shuffle at all (strictly cheaper
    * than the within-corpus [[removeDupSpans]] mine). */
  def removeContaminatedSpans(train: DataFrame, eval_ : DataFrame,
      n: Int = 3, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val evalGrams = Explodes.explodeNoInfer(
      withShingles(eval_.select(col(textCol)), textCol, n),
      Seq.empty, col("sh"), "gram").distinct()
    val toksDf = train.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    // positional grams, same short-doc bound as the within-corpus miner
    val gramArr = transform(
      sequence(lit(0), greatest(size(col("__toks")) - (n - 1), lit(1)) - 1),
      i => concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))
    val pos = Explodes.posexplodeNoInfer(
      toksDf.withColumn("__grams", gramArr),
      Seq(col(idCol), col("n_tokens")), col("__grams"), "pos", "gram")
      .withColumn("pos", col("pos").cast("long"))
    val hit = pos.join(broadcast(evalGrams), Seq("gram"), "left_semi")
    removalFromMined(toksDf, hit, n, idCol)
  }

  /** Removal over an already-mined dup-position frame — the shared tail
    * of [[removeDupSpans]] and [[removeDupSpansPersisted]]. `toksDf`
    * carries `(idCol, __toks, n_tokens)`. */
  private def removalFromMined(toksDf: DataFrame, dupPos: DataFrame,
      n: Int, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val segs = dupPos
      .withColumn("__next", lead(col("pos"), 1).over(w))
      .withColumn("__len",
        least(lit(n.toLong), col("n_tokens") - col("pos"),
              coalesce(col("__next") - col("pos"), lit(n.toLong))))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        col("pos").as("p"), col("__len").as("l")))).as("__segs"))

    // A sentinel segment (n_tokens, 0) closes the final gap, so every
    // kept run is "the gap before segment i": from the previous segment's
    // end (0 for i = 0) up to this segment's start. Segments are disjoint
    // and sorted, so gap lengths are never negative. __segs2 is a
    // materialized attribute BEFORE the lambda references it — no CSE
    // inside HOF bodies (round-5 memory).
    toksDf.join(segs, Seq(idCol), "left")
      .withColumn("__segs2", concat(
        coalesce(col("__segs"),
          array().cast("array<struct<p:bigint,l:bigint>>")),
        array(struct(col("n_tokens").as("p"), lit(0L).as("l")))))
      .withColumn("__kept", flatten(transform(col("__segs2"), (s, i) => {
        val prevEnd = when(i === 0, lit(0L)).otherwise(
          element_at(col("__segs2"), i).getField("p")
            + element_at(col("__segs2"), i).getField("l"))
        slice(col("__toks"), (prevEnd + 1).cast("int"),
          (s.getField("p") - prevEnd).cast("int"))
      })))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).cast("long").as("removed_tokens"))
  }

  /** Quality-aware keeper selection: per duplicate cluster keep the doc
    * with the highest [[TextAnalysis.qualityFeaturesRaw]] composite score
    * (ties → smallest doc id) — the curation policy "dedup, but keep the
    * BEST copy, not an arbitrary one". The argmax compares the UNROUNDED
    * scores (both engines compute the identical IEEE expression, so the
    * ordering cannot flip; only the REPORTED score is rounded — the
    * p_curate lesson). Takes the (doc_id, cluster_id) frame from
    * [[dupClusters]]; returns (cluster_id, kept_doc_id, cluster_size,
    * kept_score).
    *
    * Scale shape: one broadcast-able join of the cluster assignment onto
    * the narrow quality projection and ONE cluster-keyed window pair
    * (rank + size share the partition) — shuffle ∝ corpus rows, window
    * state ∝ cluster size, the SemDeDup rank discipline. */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextAnalysis.qualityFeaturesRaw(docs)
      .select(col("doc_id"), col("score"))
    val j = clusters.join(q, Seq("doc_id"))
    val part = Window.partitionBy("cluster_id")
    j.withColumn("__rk", row_number().over(
        part.orderBy(col("score").desc, col("doc_id").asc)))
      .withColumn("cluster_size", count(lit(1)).over(part))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("cluster_size"), round(col("score"), 4).as("kept_score"))
  }
}
