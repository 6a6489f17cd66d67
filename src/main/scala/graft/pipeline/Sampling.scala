package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shard/epoch side of corpus preparation, complementing [[Corpus]]
  * (which owns membership ops: stratified sampling, mixture RESAMPLING,
  * sequence packing):
  *
  *  - [[mixtureWeights]] — the planning counterpart of
  *    [[Corpus.mixtureSample]]: given a target domain distribution,
  *    report observed shares and the weight / down-sampling rate /
  *    up-sampling repeats that realize it (what you inspect and sign off
  *    before running the resample);
  *  - [[temperatureWeights]] / [[temperatureSample]] — the same plan /
  *    execute pair where the target is share^alpha renormalized
  *    (temperature balancing, XLM-R-style) instead of hand-written;
  *  - [[seededShuffle]] / [[writeShards]] — seeded deterministic global
  *    shuffle into training shards, and its partitioned write path.
  *
  * Scale shape: the shuffle does ONE hash exchange on the shard key and
  * ranks WITHIN shards — never a global ORDER BY window, which would
  * collapse to a single partition and cap the job at one core at 100 TB.
  * Weights aggregate ~|domains| rows.
  *
  * Determinism over raw entropy: order comes from a seeded variant of
  * [[Corpus.lcgBucket]]'s MINSTD² id-hash rather than `rand()` or an
  * engine-private hash, so the same (seed, shards) reproduces the
  * identical permutation on any engine (DuckDB, Trino, a Python check
  * script) from the id alone — shard layouts must survive engine
  * migrations.
  */
object Sampling {

  /** Bucket count for shuffle ordering: ties are broken by id, so this
    * only needs to be large enough that order is mostly hash-driven. */
  val Buckets = 1000000L

  private val LcgM = 2147483647L // 2^31 - 1 (Mersenne), as in Corpus
  private val LcgA = 48271L

  /** Seeded deterministic per-id bucket in [0, Buckets): MINSTD² like
    * [[Corpus.lcgBucket]] (see its scaladoc for the stride analysis) with
    * the seed folded in BEFORE the first multiply — an additive-after
    * seed would only rotate the bucket space, leaving derived orders
    * near-identical across seeds. Engine-portable: the DuckDB spelling is
    * `(id % M + seed) * 48271 % M * 48271 % M % 1000000`, M = 2^31-1.
    * `(M - 1 + seed) * A < 2^63` keeps ANSI overflow away for any
    * non-negative seed below 2^31. */
  def seededBucket(id: Column, seed: Long): Column = {
    require(seed >= 0 && seed < LcgM, s"seed must be in [0, ${LcgM})")
    // non-negative ids only, enforced per row — the ONE guard both LCG
    // entry points share (see its scaladoc for the id-sign contract)
    val checked = Corpus.requireNonNegativeId(id, "seededBucket")
    pmod(pmod((pmod(checked, lit(LcgM)) + lit(seed)) * lit(LcgA), lit(LcgM)) *
      lit(LcgA), lit(LcgM)) % lit(Buckets)
  }

  /** Per-domain mixture diagnostics against a target distribution:
    * observed share, weight = target/observed, the Bernoulli `down_rate`
    * that realizes the target by down-sampling (capped at 1), and the
    * integer `repeats` an up-sampling epoch plan needs — the numbers to
    * review before running [[Corpus.mixtureSample]] with them. One
    * aggregation on ~|domains| keys; the global total joins back over an
    * unbounded window on the already-aggregated (tiny) frame. */
  def mixtureWeights(docs: DataFrame, domainCol: String,
      target: Map[String, Double]): DataFrame = {
    require(target.values.forall(_ >= 0), "target shares must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    // domains absent from the target map get share 0.0 => weight 0 (drop)
    val targetOf = target.foldLeft(lit(0.0)) { case (acc, (k, s)) =>
      when(col("domain") === lit(k), lit(s)).otherwise(acc)
    }
    // full-outer against the (tiny, driver-side) target key set: a target
    // domain with ZERO observed rows must still appear in the report —
    // n 0, share 0, weight NULL (unrealizable by resampling) — not vanish
    // and let an impossible mixture plan get signed off
    val targetKeys = target.keys.toSeq.toDF("domain")
    docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n"))
      .join(targetKeys, Seq("domain"), "full_outer")
      .na.fill(0L, Seq("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("domain"), col("n"),
        round(col("n") / col("total"), 6).as("share"),
        when(col("n") > 0,
          round(targetOf / (col("n") / col("total")), 4)).as("weight"))
      // least() skips NULLs, so the unrealizable (weight NULL) case needs
      // an explicit guard or it would report down_rate 1.0
      .withColumn("down_rate",
        when(col("weight").isNotNull, least(lit(1.0), col("weight"))))
      .withColumn("repeats",
        when(col("weight").isNotNull,
          greatest(lit(1L), ceil(col("weight")).cast("long"))))
  }

  /** Temperature-based (exponent-`alpha`) mixture re-balancing report —
    * the multilingual-pretraining technique (XLM-R / mT5: sample domain
    * d with probability ∝ share_d^alpha, alpha < 1 flattens the
    * distribution toward rare domains, alpha = 1 is the natural mix,
    * alpha → 0 approaches uniform). Unlike [[mixtureWeights]] there is
    * no hand-written target: the target IS share^alpha renormalized.
    * Returns per domain (domain, n, share, temp_share, weight,
    * down_rate, repeats) with weight = temp_share / share — feed the
    * weights to [[Corpus.mixtureSample]] (or call [[temperatureSample]]
    * for the fused path).
    *
    * Scale shape: one map-side-combinable count aggregate over
    * ~|domains| keys; everything after runs on the aggregated tiny
    * frame (the denominator Σ share^alpha is folded from a SORTED
    * collected list so the float addition order is deterministic and
    * engine-portable — a plain float `sum()` would follow Spark's
    * combine order, the cross-engine flake class bm25Scores documents).
    * down_rate / repeats derive from the 4-dp ROUNDED weight so an
    * external mirror reproduces them exactly. */
  def temperatureWeights(docs: DataFrame, domainCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1], got $alpha")
    val perDom = docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n"))
      // integer total: order-free, safe over an unbounded window
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("share", col("n") / col("total"))
      .withColumn("__ps", pow(col("share"), lit(alpha)))
    val denom = perDom.groupBy()
      .agg(aggregate(sort_array(collect_list(col("__ps"))), lit(0.0),
        (acc, x) => acc + x).as("__denom"))
    perDom.crossJoin(broadcast(denom))
      .withColumn("temp_share", col("__ps") / col("__denom"))
      .withColumn("weight", round(col("temp_share") / col("share"), 4))
      .select(col("domain"), col("n"), round(col("share"), 6).as("share"),
        round(col("temp_share"), 6).as("temp_share"), col("weight"),
        least(lit(1.0), col("weight")).as("down_rate"),
        greatest(lit(1L), ceil(col("weight")).cast("long")).as("repeats"))
  }

  /** Realize a temperature-`alpha` mixture: [[temperatureWeights]] to
    * plan, [[Corpus.mixtureSample]] to execute — rare domains replicate
    * into extra epochs, over-represented domains thin deterministically
    * by id-hash. The per-domain weight map passes through the driver,
    * which is bounded by construction: |domains| rows (a mixture over
    * millions of distinct domains is not a mixture plan). Weights are
    * the 4-dp rounded report values, so the realized sample is exactly
    * reproducible from the report alone. Rows whose domain is NULL get
    * weight 0 (dropped) — a NULL domain has no share to rebalance. */
  def temperatureSample(docs: DataFrame, domainCol: String, alpha: Double,
      idCol: String = "doc_id", den: Int = 1000000): DataFrame = {
    val w = temperatureWeights(docs, domainCol, alpha)
      .select("domain", "weight").collect()
      .flatMap(r => Option(r.get(0)).map(d => d.toString -> r.getDouble(1)))
      .toMap
    Corpus.mixtureSample(docs, w, defaultWeight = 0.0,
      sourceCol = domainCol, idCol = idCol, den = den)
  }

  /** DSIR importance scores (Data Selection via Importance Resampling,
    * Xie et al. 2023): each document scores by the log-likelihood ratio
    * of its unigram+bigram bag under a TARGET n-gram model vs the RAW
    * corpus model, `score(d) = Σ_f c_{d,f}·(ln p̂_tgt(f) − ln p̂_raw(f))`
    * with add-one smoothing. `targetPred` marks the in-domain slice the
    * selection should move the corpus toward. Returns (doc_id, score)
    * for EVERY input doc (feature-free docs score 0), score 6-dp rounded.
    *
    * Feature space: `hashBuckets = None` (default) keeps the top
    * `vocabSize` n-grams by raw count (count desc, gram asc — an integer
    * ranking, so the vocab is engine-portable and the whole score is
    * DuckDB-mirrorable; out-of-vocab grams drop). `Some(b)` is the
    * published hashed variant — xxhash64(gram) mod b, no vocab pass and
    * no OOV, for when the corpus is too broad for a fixed list to
    * represent (the 100 TB path; xxhash64 is Spark-native, so this side
    * is spec-pinned rather than oracle-checked).
    *
    * Scale shape: one map-side-combinable (doc, feature) count shuffle
    * (∝ corpus tokens), one feature-stats aggregate bounded by
    * vocabSize / b, λ joins back as a BROADCAST (the model is tiny by
    * construction), and the per-doc score folds a SORTED collected list
    * so float addition order is deterministic cross-engine. No driver
    * collect anywhere. */
  def dsirScores(docs: DataFrame, targetPred: Column, vocabSize: Int = 512,
      hashBuckets: Option[Int] = None, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    hashBuckets.foreach(b => require(b > 0, s"hashBuckets must be positive"))
    val toks = Dedup.tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"),
        targetPred.as("__tgt"), toks.as("__toks"))
      .withColumn("__grams", concat(col("__toks"),
        when(size(col("__toks")) >= 2,
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat_ws(" ", slice(col("__toks"), i, lit(2)))))
          .otherwise(array().cast("array<string>"))))
    // explodeNoInfer: the inferred size(__grams)>0 filter would re-derive
    // the HOF-built gram array per element (see [[Explodes]]); concat_ws
    // grams are never null, so the outer+isNotNull form is row-identical.
    val grams = Explodes.explodeNoInfer(base,
      Seq(col("doc_id"), col("__tgt")), col("__grams"), "gram")
    val feat = hashBuckets match {
      case Some(b) => grams.withColumn("f", pmod(xxhash64(col("gram")), lit(b.toLong)))
      case None    => grams.withColumn("f", col("gram"))
    }
    // dg feeds BOTH the feature-stats branch (→ vocab → λ model) and the
    // per-doc scoring join, and the STATIC plan shows the whole
    // tokenize → gram explode → (doc, f) aggregate twice — but both
    // copies end in the IDENTICAL Exchange, which AQE's runtime stage
    // reuse dedupes to one shuffle-map execution. An r17 A/B that
    // persisted dg here measured 1.6× SLOWER (min-of-10 at sf0.1: 1.57
    // → 2.52 s): the InMemoryRelation build is pure overhead on top of
    // an already-shared stage. Do not cache exchange-terminated shared
    // subtrees.
    val dg = feat.groupBy("doc_id", "__tgt", "f").agg(count(lit(1)).as("c"))
    val stats = dg.groupBy("f").agg(sum("c").as("r"),
      sum(when(col("__tgt"), col("c")).otherwise(lit(0L))).as("t"))
    val vocab = hashBuckets match {
      case Some(_) => stats
      case None    => stats.orderBy(col("r").desc, col("f").asc).limit(vocabSize)
    }
    val v = hashBuckets.getOrElse(vocabSize).toDouble
    // model totals over the kept feature space — integer sums, order-free
    val totals = vocab.groupBy().agg(sum("t").as("__tt"), sum("r").as("__rr"))
    val lam = vocab.crossJoin(broadcast(totals))
      .select(col("f"),
        (log((col("t") + lit(1)).cast("double") / (col("__tt") + lit(v))) -
         log((col("r") + lit(1)).cast("double") / (col("__rr") + lit(v))))
          .as("__lam"))
    val scored = dg.join(broadcast(lam), Seq("f"))
      .groupBy("doc_id")
      .agg(round(aggregate(
        sort_array(collect_list(col("c") * col("__lam"))),
        lit(0.0), (acc, x) => acc + x), 6).as("score"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** DSIR selection: Gumbel-top-k over [[dsirScores]] — equivalent to
    * sampling k docs without replacement with probability ∝ exp(score),
    * but DETERMINISTIC: the Gumbel noise `−ln(−ln(u))` derives its
    * uniform from the seeded MINSTD² id-bucket, so the same (seed, k)
    * selects the same documents on any engine. The ranking key rounds to
    * 6 dp with doc_id as the final tie-break, making the k-boundary
    * engine-portable. Returns (doc_id, score, key) for the k kept docs;
    * one TakeOrdered, no global sort materialization. */
  def dsirSelect(docs: DataFrame, targetPred: Column, k: Int,
      vocabSize: Int = 512, hashBuckets: Option[Int] = None, seed: Long = 7L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (seededBucket(col("doc_id"), seed) + lit(0.5)) / lit(Buckets.toDouble)
    dsirScores(docs, targetPred, vocabSize, hashBuckets, textCol, idCol)
      .withColumn("key", round(col("score") - log(-log(u)), 6))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Seeded deterministic global shuffle into `shards` training shards:
    * shard = bucket mod shards, position = rank of the bucket within the
    * shard (ties broken by id — total order is deterministic). Windows
    * partition by shard; the only exchange is the shard hash. The same
    * (seed, shards) reproduces the identical permutation anywhere. */
  /** Global token-budget selection — keep the best-scoring documents
    * until a CORPUS-WIDE token budget is exhausted (the data-constrained
    * curation cut: "the best N-billion-token subset"). Admission mirrors
    * [[graft.streaming.StreamingOps.quotaFilter]]: a doc is kept iff the
    * running token total BEFORE it (in `scoreCol` desc, `idCol` asc
    * order) is still under `budget`, so one oversized doc cannot end the
    * selection and at least one doc is always kept. Returns the kept
    * rows, columns unchanged.
    *
    * THE 100 TB SHAPE: the rule needs a GLOBAL running sum in selection
    * order — the naive `Window.orderBy(...)` (no partition key) funnels
    * the corpus through ONE partition. Distributed prefix-sum instead:
    * (1) range-partition on the selection order (ordered ranges — every
    * row of partition i sorts before every row of partition i+1);
    * (2) ONE bounded collect of per-partition token sums (#partitions
    * rows, cluster-sized not data-sized); (3) each partition's prefix
    * offset rides back as a literal map keyed by partition id; (4) the
    * within-partition cumulative sum is an ordinary PARALLEL window.
    * The result is exact whatever boundaries the range sampler picks:
    * the (score desc, id) total order is preserved across ranges, and
    * ties cannot straddle a boundary ambiguously because id completes
    * the total order. */
  def selectUnderTokenBudget(docs: DataFrame, budget: Long,
      scoreCol: String = "score", tokenCol: String = "n_tokens",
      idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(!docs.columns.contains("__pid"),
      "input already carries graft's internal partition-id column")
    val spark = docs.sparkSession
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    val ranged = docs
      .repartitionByRange(parts, col(scoreCol).desc, col(idCol).asc)
      .withColumn("__pid", spark_partition_id())
      .transform(PipelineCaches.track)
    // bounded collect: one row per non-empty partition
    val perPart = ranged.groupBy(col("__pid"))
      .agg(sum(col(tokenCol)).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (perPart.isEmpty) return docs.filter(lit(false)) // empty corpus
    var acc = 0L
    val offsets = perPart.map { case (pid, t) =>
      val o = acc; acc += t; (pid, o)
    }
    val offMap =
      map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }.toSeq: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    ranged
      .withColumn("__cum_before",
        coalesce(element_at(offMap, col("__pid")), lit(0L)) +
          sum(col(tokenCol)).over(w) - col(tokenCol))
      .filter(col("__cum_before") < budget)
      .drop("__pid", "__cum_before")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, exponential-key form): each row draws the seeded
    * uniform u = (bucket+1)/1e6 from [[seededBucket]] and keys itself
    * with ln(u)/w — the top-k keys are exactly a weight-proportional
    * sample, the primitive behind "sample the corpus ∝ quality score".
    * Deterministic end to end: a row's key is a pure function of
    * (id, seed, weight), reruns and engines agree (the key ROUNDS to 6dp
    * BEFORE ranking — the round-before-rank stability rule — with the id
    * as tie-break). Rows with weight ≤ 0 are excluded (a zero weight's
    * E-S key is -inf — it can never be drawn). At 100 TB this is a
    * narrow projection into a TakeOrderedAndProject: per-partition top-k
    * heaps, a k-row driver merge, NEVER a global sort. */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
      seed: Long = 29L, idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (seededBucket(col(idCol), seed) + lit(1L)).cast("double") /
      lit(Buckets.toDouble)
    // + 0.0 normalizes the u≈1 corner where round yields IEEE -0.0 (the
    // driver's value hash distinguishes it from the oracle's +0.0)
    docs.filter(col(weightCol) > 0)
      .withColumn("es_key",
        round(log(u) / col(weightCol).cast("double"), 6) + lit(0.0))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  def seededShuffle(docs: DataFrame, shards: Int = 8, seed: Long = 43L,
      idCol: String = "doc_id"): DataFrame = {
    require(shards > 0, "shards must be positive")
    val b = seededBucket(col(idCol), seed)
    // pos = rank within shard in (bucket, id) order, as a BIGINT running
    // count over the distributed prefix-sum — like the packers
    // (r15), a shard-keyed row_number window would serialize each
    // shard's rank through one task, and an INT rank overflows past
    // 2^31 rows per shard at 100 TB
    PrefixSum.groupedRunningSum(
        docs.select(col(idCol).as("id"), b.as("bucket"),
            pmod(b, lit(shards.toLong)).as("shard"))
          .withColumn("__one", lit(1L)),
        "shard", Seq("bucket", "id"), "__one", "pos")
      .select(col("id"), col("shard"), col("pos"))
  }

  /** Deterministic train/val/test split: each row's seeded id-hash bucket
    * falls into a cumulative-fraction band, and the band names the split.
    * A document's assignment is a pure function of (id, seed) — it NEVER
    * moves when other documents are added or removed, the property a
    * `rand()`-based split loses on every re-run and a global-sort split
    * loses on every corpus append. Engine-portable via [[seededBucket]]
    * (the DuckDB/Trino spelling is one arithmetic expression), so the
    * held-out set survives engine migrations byte-for-byte. Fractions
    * must be positive and sum to ≤ 1 + 1e-9; the remainder (if any)
    * joins the LAST split. Adds a `split` column; narrow, no shuffle —
    * the 100 TB path is a pure map over the scan. */
  def assignSplits(docs: DataFrame,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      seed: Long = 17L, idCol: String = "doc_id"): DataFrame = {
    require(fractions.nonEmpty, "at least one split required")
    require(fractions.forall(_._2 > 0), "split fractions must be positive")
    require(fractions.map(_._1).distinct.size == fractions.size,
      "split names must be distinct")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split fractions sum to $total > 1")
    val b = seededBucket(col(idCol), seed)
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.floor(c * Buckets).toLong)
    // bands: [0, c1), [c1, c2), ...; everything at/after the last cut
    // (rounding remainder) falls into the final named split
    val expr = fractions.init.zip(cuts.init).reverse.foldLeft(
      lit(fractions.last._1)) { case (acc, ((name, _), cut)) =>
        when(b < lit(cut), lit(name)).otherwise(acc)
    }
    docs.withColumn("split", expr)
  }

  /** Leakage-safe split: [[assignSplits]] keyed by DUP CLUSTER instead of
    * document id, so near-duplicates can never straddle the train/test
    * boundary — the classic eval-contamination hole a per-doc split
    * leaves open (a test doc's near-copy trains the model and the
    * held-out score silently measures memorization). `clusters` is a
    * (idCol, clusterCol) assignment — [[Dedup.dupClusters]] output, which
    * covers every doc (singletons cluster as themselves), so the join is
    * inner without loss. Same determinism contract as [[assignSplits]]:
    * an assignment is a pure function of (cluster_id, seed); adding docs
    * moves nothing EXCEPT when a new doc bridges two clusters — then the
    * merged cluster follows its new min-id, which is the point (the
    * near-dup set must land on one side whole). At 100 TB the clusters
    * frame is corpus-row-sized and key-partitioned by the CC that built
    * it; this adds one equi-join on the doc key plus a pure projection —
    * no new shuffle shape beyond the join. */
  def assignSplitsByCluster(docs: DataFrame, clusters: DataFrame,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      seed: Long = 17L, idCol: String = "doc_id",
      clusterCol: String = "cluster_id"): DataFrame =
    assignSplits(docs.join(clusters.select(idCol, clusterCol), Seq(idCol)),
      fractions, seed, idCol = clusterCol)

  /** Materialize [[seededShuffle]] as on-disk training shards: parquet
    * partitioned by shard, rows within each shard file in shuffle order.
    * `repartition(shard)` + in-partition sort = one exchange, then each
    * shard writes sequentially — the 1000-executor write path. Terminal
    * operation: nothing can consume this call's plans after the write
    * returns, so the shuffle's prefix-sum intermediate persists in a
    * [[PipelineCaches.scoped]] block of its own and is released on
    * return — the caller's caches are left alone. */
  def writeShards(docs: DataFrame, path: String, shards: Int = 8,
      seed: Long = 43L, idCol: String = "doc_id"): Unit =
    PipelineCaches.scoped {
      val shuffled = seededShuffle(docs, shards, seed, idCol)
        .join(docs.withColumnRenamed(idCol, "id"), Seq("id"))
      shuffled
        .repartition(shards, col("shard"))
        .sortWithinPartitions(col("shard"), col("pos"))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }
}
