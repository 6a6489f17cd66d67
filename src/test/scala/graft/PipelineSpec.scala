package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Corpus, Dedup, Multimodal, Similarity, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, base, "en", "s0", base.length.toLong),
      (2L, base, "en", "s1", base.length.toLong),                       // exact dup of 1
      (3L, base.replace("today", "tomorrow"), "en", "s0",               // near dup of 1
        base.length.toLong),
      (4L, "completely different words about spark catalyst optimizer rules and codegen stages here",
        "en", "s0", 90L),
      (5L, "unrelated short text", "en", "s1", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup keeps min id with dup count") {
    val got = rows(Dedup.exact(docs))
    assert(got.contains(Seq(1L, 2L))) // doc 1+2 identical
    assert(got.size == 4)             // 4 distinct texts
  }

  test("corpus-restriction invariance: the fact the sampled sf0.1 oracle relies on") {
    // The SPARK_GRAFT_ORACLE_SAMPLE sweep bound (SURVEY §8) verifies the
    // heavyweight dedup/fingerprint entries at sf0.1 over the corpus
    // restricted to doc_id % M == 0 ON BOTH SIDES. That is a sound check
    // of the same operator because pair mining and per-doc fingerprints
    // commute with input restriction: pairs(sample) == pairs(full)
    // filtered to sampled endpoints, fingerprints(sample) ==
    // fingerprints(full) filtered to sampled ids. Pin both here on the
    // real sf0.001 corpus.
    val full = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = full.filter(col("doc_id") % 2 === 0)
    val pairsSampled = rows(Dedup.ngramJaccardPairs(sample, threshold = 0.5))
    val pairsRestricted = rows(
      Dedup.ngramJaccardPairs(full, threshold = 0.5)
        .filter(col("a") % 2 === 0 && col("b") % 2 === 0))
    assert(pairsSampled == pairsRestricted && pairsSampled.nonEmpty)
    val fpSampled = rows(TextAnalysis.fingerprints(sample))
    val fpRestricted = rows(
      TextAnalysis.fingerprints(full).filter(col("doc_id") % 2 === 0))
    assert(fpSampled == fpRestricted && fpSampled.nonEmpty)
  }

  test("removeContaminatedSpans: hand-checked surgical scrub, untouched docs, full cover") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e f"),          // one eval 3-gram at pos 1 -> drop b c d
      (2L, "totally clean words"),  // no overlap -> untouched
      (3L, "x y z"),                // short doc fully covered by eval gram
      (4L, "a b c d q b c d"))      // two disjoint hits -> keep "a q"
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "b c d"), (200L, "x y z")).toDF("doc_id", "text")
    val got = Dedup.removeContaminatedSpans(train, eval_).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a e f", 6L, 3L)))
    assert(got(2L) == (("totally clean words", 3L, 0L)))
    assert(got(3L) == (("", 3L, 3L)))
    assert(got(4L) == (("a q", 8L, 6L)))
    graft.pipeline.PipelineCaches.clear()
  }

  /** Plain-Scala reference for span decontamination: mark every token
    * covered by an n-gram present in the eval gram set, rebuild text from
    * the uncovered tokens. */
  private def refDeconSpans(train: Map[Long, String], eval_ : Seq[String],
      n: Int): Map[Long, (String, Long, Long)] = {
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").toSeq
    def grams(ts: Seq[String]) = {
      val m = math.max(ts.size - (n - 1), 1)
      (0 until m).map(i => ts.slice(i, i + n).mkString(" "))
    }
    val evalSet = eval_.flatMap(t => grams(toks(t))).toSet
    train.map { case (id, t) =>
      val ts = toks(t)
      val covered = scala.collection.mutable.Set[Int]()
      for ((g, i) <- grams(ts).zipWithIndex if evalSet(g);
           p <- i until math.min(i + n, ts.size)) covered += p
      val kept = ts.indices.filterNot(covered).map(ts)
      id -> ((kept.mkString(" "), ts.size.toLong, (ts.size - kept.size).toLong))
    }
  }

  test("removeContaminatedSpans equals the reference on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (trial <- 0 until 5) {
      val train = (1L to 10L).map { id =>
        id -> Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }.toMap
      val eval_ = Seq.fill(3)(
        Seq.fill(3 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val got = Dedup.removeContaminatedSpans(
          train.toSeq.toDF("doc_id", "text"),
          eval_.zipWithIndex.map { case (t, i) => (100L + i, t) }
            .toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == refDeconSpans(train, eval_, n = 3), s"trial $trial")
      graft.pipeline.PipelineCaches.clear()
    }
  }

  test("pairRecall matches set arithmetic on randomized pair frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    for (trial <- 0 until 5) {
      def pairs() = Seq.fill(20)((rnd.nextInt(8).toLong, 8L + rnd.nextInt(8)))
        .distinct
      val ap = pairs(); val ep = pairs()
      val g = Dedup.pairRecall(ap.toDF("a", "b"), ep.toDF("a", "b"))
        .collect().head
      val inter = ap.toSet.intersect(ep.toSet).size.toLong
      assert(g.getLong(0) == ep.size.toLong, s"trial $trial n_true")
      assert(g.getLong(1) == inter, s"trial $trial n_found")
      assert(g.getLong(2) == ap.size - inter, s"trial $trial n_extra")
      assert(g.getDouble(3) == BigDecimal(inter.toDouble / ep.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"trial $trial")
      graft.pipeline.PipelineCaches.clear()
    }
  }

  test("pairRecall: hand-built miss/extra arithmetic, empty truth, fixture gauge") {
    import spark.implicits._
    // truth {AB, AC, BC}; approx found {AB, AC} plus a spurious {DE}
    val truth = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val approx = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a", "b")
    val g = Dedup.pairRecall(approx, truth).collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getDouble(3)) ==
      ((3L, 2L, 1L, 0.6667)))
    // empty truth: nothing to miss -> recall 1.0
    val empty = Dedup.pairRecall(approx, truth.filter(col("a") > 99)).collect().head
    assert((empty.getLong(0), empty.getLong(2), empty.getDouble(3)) ==
      ((0L, 3L, 1.0)))
    // on the fixture corpus the banded LSH catches every exact pair
    val fx = Dedup.pairRecall(
      Dedup.minhashPairs(docs, threshold = 0.6),
      Dedup.ngramJaccardPairs(docs, threshold = 0.6)).collect().head
    assert(fx.getLong(0) > 0L && fx.getDouble(3) == 1.0 && fx.getLong(2) == 0L)
    graft.pipeline.PipelineCaches.clear()
  }

  test("minhash finds exact and near duplicates, no false positives") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // 1-word change
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L })
  }

  test("crossDedupPairs: delta probes corpus signatures, matches self-join truth") {
    // delta = docs 2 and 3 (an exact dup and a near dup of corpus doc 1);
    // corpus = the full table's signature frame
    val delta = docs.filter(col("doc_id").isin(2L, 3L))
    val got = Dedup.crossDedupPairs(delta, Dedup.minhashSignatures(docs),
        threshold = 0.8)
      .filter(col("a") =!= col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the self-join miner's pairs, re-oriented delta-first
    // (both orderings when both ends are delta docs)
    val self = Dedup.minhashPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = self.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).filter { case (x, _) => x == 2L || x == 3L } }
    assert(got == expect && got.nonEmpty)
    // a delta doc present in the corpus table self-matches at 1.0 until
    // filtered — the documented re-ingestion contract
    val unfiltered = Dedup.crossDedupPairs(delta, Dedup.minhashSignatures(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(unfiltered.count { case (a, b, j) => a == b && j == 1.0 } == 2)
  }

  test("crossDedupFilter: admits exactly the delta docs with no corpus near-dup") {
    import org.apache.spark.sql.functions.col
    val delta = docs.filter(col("doc_id").isin(2L, 3L, 4L))
    val admitted = Dedup.crossDedupFilter(delta, Dedup.minhashSignatures(docs),
        threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cross truth from the pair miner: any pair touching 2/3/4 vetoes it
    val vetoed = Dedup.minhashPairs(docs, threshold = 0.8).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val expect = Set(2L, 3L, 4L).filterNot(vetoed)
    assert(admitted == expect)
    // self-match at 1.0 (re-ingestion) must NOT veto: every admitted doc
    // is still in the corpus signature table it was probed against
    assert(admitted.subsetOf(Set(2L, 3L, 4L)))
  }

  test("dup-span coverage: hand-checked interval union over shared 3-grams") {
    import spark.implicits._
    // d1/d2 share "a b c" and "b c d" -> in each doc the two overlapping
    // gram starts cover exactly 4 tokens; d3 shares nothing
    val d = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c d z"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpanCoverage(d, n = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((6L, 2L, 4L, 0.666667)))
    assert(got(2L) == ((7L, 2L, 4L, 0.571429)))
    assert(got(3L) == ((6L, 0L, 0L, 0.0)))
    // exact-dup pair: full coverage on both sides
    val full = Seq((1L, "a b c d"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    assert(Dedup.dupSpanCoverage(full, n = 3).collect()
      .forall(_.getDouble(4) == 1.0))
  }

  test("persisted span artifact: equals fresh mine, rereads, rebuilds on param change") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c d z"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val path = TestSpark.tempDir("graft_span_spec")
    def asMap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val fresh = asMap(Dedup.dupSpanCoverage(d, n = 3))
    assert(asMap(Dedup.dupSpanCoveragePersisted(d, path, n = 3)) == fresh)
    // second call must READ, not re-mine: the meta file's mtime is the
    // build fence — unchanged means no rewrite happened
    val meta = new java.io.File(s"$path/_meta.json")
    val built = meta.lastModified()
    assert(asMap(Dedup.dupSpanCoveragePersisted(d, path, n = 3)) == fresh)
    assert(meta.lastModified() == built, "fresh artifact was rebuilt")
    // param change -> rebuild with the NEW params (stale result would
    // silently serve n=3 rows for an n=2 request)
    val fresh2 = asMap(Dedup.dupSpanCoverage(d, n = 2))
    assert(asMap(Dedup.dupSpanCoveragePersisted(d, path, n = 2)) == fresh2)
    assert(meta.lastModified() != built, "param change did not rebuild")
    // removal over the artifact row-matches the fresh-mine removal
    def remRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(remRows(Dedup.removeDupSpansPersisted(d, path, n = 2))
      == remRows(Dedup.removeDupSpans(d, n = 2)))
  }

  test("minhash jaccard matches exact shingle jaccard") {
    val j = Dedup.minhashPairs(docs, threshold = 0.1)
      .filter(col("a") === 1L && col("b") === 3L)
      .collect().head.getDouble(2)
    // exact: shingles differ only in windows touching the last word
    val sh = Dedup.withShingles(docs, "text").select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expected = sh(1L).intersect(sh(3L)).size.toDouble / sh(1L).union(sh(3L)).size
    assert(math.abs(j - expected) < 1e-4)
  }

  test("persisted minhash signatures: fresh serve, incremental merge, compaction") {
    import spark.implicits._
    import graft.pipeline.{Artifacts, Dedup => D}
    val path = TestSpark.tempDir("graft_mhsig_spec")
    val metaPath = s"$path/_meta.json"
    def liveDirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet

    assert(D.minhashSignaturesPersisted(docs, path).count() == 5)
    val meta1 = Artifacts.readStringIfExists(spark, metaPath).get
    // fresh corpus ⇒ second call serves the artifact without a rebuild
    assert(D.minhashSignaturesPersisted(docs, path).count() == 5)
    assert(Artifacts.readStringIfExists(spark, metaPath).get == meta1)

    // Poison doc 4's stored signature, keeping the meta fingerprint live:
    // an incremental merge carries the poisoned row over verbatim, while a
    // full recompute would heal it — this is the proof the merge pays only
    // the delta.
    val live = "\"dir\":\"([^\"]+)\"".r.findFirstMatchIn(meta1).get.group(1)
    val poisoned = spark.read.parquet(s"$path/$live")
      .withColumn("sig", when(col("id") === 4L,
        array_repeat(lit(-1L), Dedup.NumHashes)).otherwise(col("sig")))
    poisoned.write.mode("overwrite").parquet(s"$path/tampered")
    Artifacts.writeString(spark, metaPath,
      meta1.replace(s""""dir":"$live"""", """"dir":"tampered""""))

    val appended = docs.union(Seq(
      (6L, "a brand new document that shares nothing with the others at all",
        "en", "s2", 63L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val s2 = D.minhashSignaturesPersisted(appended, path)
    assert(s2.count() == 6)
    assert(s2.filter(col("id") === 6L).count() == 1) // delta computed
    assert(s2.filter(col("id") === 4L).select("sig") // unchanged: NOT recomputed
      .head.getSeq[Long](0).forall(_ == -1L))

    // a CHANGED doc is recomputed (the poison heals), and superseded
    // version dirs are compacted away
    val changed = appended.withColumn("text",
      when(col("doc_id") === 4L, concat(col("text"), lit(" edited")))
        .otherwise(col("text")))
    val s3 = D.minhashSignaturesPersisted(changed, path)
    assert(s3.count() == 6)
    assert(s3.filter(col("id") === 4L).select("sig")
      .head.getSeq[Long](0).exists(_ != -1L))
    assert(liveDirs.size == 1, liveDirs)
  }

  test("persisted artifacts fence on textCol: same frame, different column rebuilds") {
    import spark.implicits._
    import graft.pipeline.{Dedup => D}
    // identical `text` (a dup pair) but unrelated `alt` texts. The corpus
    // fingerprint hashes the whole frame — identical for both requests —
    // so before the marker carried textCol, a textCol="alt" request served
    // the text-built artifact verbatim (stale signatures / positions).
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog",
        "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "the quick brown fox jumps over the lazy dog",
        "one two three four five six seven eight"))
      .toDF("doc_id", "text", "alt")

    val sigPath = TestSpark.tempDir("graft_fence_sig")
    def sigs(textCol: String) =
      D.minhashSignaturesPersisted(d, sigPath, textCol = textCol)
        .collect().map(r => r.getLong(r.fieldIndex("id")) ->
          r.getSeq[Long](r.fieldIndex("sig"))).toMap
    val byText = sigs("text")
    assert(byText(1L) == byText(2L)) // identical text => identical signatures
    val byAlt = sigs("alt")
    assert(byAlt(1L) != byAlt(2L),
      "stale text-built signatures served for textCol=alt")

    val spanPath = TestSpark.tempDir("graft_fence_span")
    def frac(textCol: String) =
      D.dupSpanCoveragePersisted(d, spanPath, n = 3, textCol = textCol)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(frac("text").values.forall(_ == 1.0)) // full-overlap pair
    assert(frac("alt").values.forall(_ == 0.0),
      "stale text-built span positions served for textCol=alt")
  }

  test("minhash pairs through the persisted artifact match the direct miner") {
    val path = TestSpark.tempDir("graft_mhpair_spec")
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key(Dedup.minhashPairsPersisted(docs, path, threshold = 0.6)) ==
      key(Dedup.minhashPairs(docs, threshold = 0.6)))
  }

  test("simhash near-dup pairs include the planted duplicates") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
  }

  /** Independent reimplementation of 64-bit SimHash in plain Scala —
    * shares only the xxhash64 primitive with the operator; shingling, bit
    * votes, chunk blocking and Hamming filtering are re-coded here. This is
    * the documented ground truth for `p_dedup_simhash` (not DuckDB-
    * mirrorable: DuckDB has no xxhash64). */
  private def refSimhash(text: String): Long = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    val n = math.max(toks.size - 2, 1)
    val sh = (0 until n).map(i => toks.slice(i, i + 3).mkString(" ")).distinct
    val hs = sh.map(TestSpark.xxhash64Ref)
    (0 until 64).map { j =>
      val vote = hs.map(h => if ((h & (1L << j)) != 0) 1 else -1).sum
      if (vote > 0) 1L << j else 0L
    }.sum
  }

  test("simhash pairs equal the reference implementation's exact pair set") {
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sims = texts.map { case (id, t) => id -> refSimhash(t) }
    def chunks(s: Long): Set[(Int, Long)] =
      (0 until 4).map(c => c -> ((s >>> (c * 16)) & 0xFFFFL)).toSet
    val maxHamming = 10
    val expected = (for {
      a <- sims.keys; b <- sims.keys if a < b
      if chunks(sims(a)).intersect(chunks(sims(b))).nonEmpty
      if java.lang.Long.bitCount(sims(a) ^ sims(b)) <= maxHamming
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // hamming column itself must match the reference XOR popcount
    val ham = Dedup.simhashPairs(docs, maxHamming = maxHamming)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    for ((p, h) <- ham)
      assert(h == java.lang.Long.bitCount(sims(p._1) ^ sims(p._2)))
  }

  test("simhash bucket cap prunes oversized buckets") {
    // with cap 1 every non-singleton bucket is dropped ⇒ no pairs at all
    assert(Dedup.simhashPairs(docs, maxHamming = 64, maxBucketSize = 1).count() == 0)
  }

  test("fused graft_simhash expression equals the HOF formulation per doc") {
    graft.functions.GraftFunctions.register(TestSpark.spark)
    val both = Dedup.withShingles(docs, "text")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash64(col("sh")).as("fused"),
        Dedup.simhash(col("text")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: fused=${r.getLong(1)} hof=${r.getLong(2)}"))
  }

  test("dup clusters: transitive closure with min-id canonical, singletons kept") {
    val got = Dedup.dupClusters(docs, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1,2 identical; 3 near-dup of 1 ⇒ one cluster rooted at 1
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    // 4, 5 unrelated ⇒ their own clusters
    assert(got(4L) == 4L && got(5L) == 5L)
    assert(got.size == 5)
  }

  test("ngram jaccard prefix-filtered join equals exact all-pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 3L && j > 0.5 && j < 1.0 })
    // lossless vs driver-side brute force over the whole corpus
    val sh = Dedup.withShingles(docs, "text").select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a < b
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if math.rint(j * 1e4) / 1e4 >= 0.5
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)) == expected)
  }

  test("span removal drops exactly the covered tokens; accounting matches the scorer") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e"),   // shares 3-gram "a b c" with doc 2 at start 0
      (2L, "x a b c y"),   // ... at start 1
      (3L, "p q r s t"))   // nothing shared
      .toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(d, n = 3, minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("d e", 5L, 3L)))
    assert(got(2L) == (("x y", 5L, 3L)))
    assert(got(3L) == (("p q r s t", 5L, 0L)))
    // removed_tokens == the scorer's covered_tokens (same gram set, same
    // interval union) on the shared suite fixture
    val removed = Dedup.removeDupSpans(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val covered = Dedup.dupSpanCoverage(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(removed == covered && covered.values.exists(_ > 0))
  }

  test("persisted pair mining: artifact rows equal inline mining; clusters unchanged") {
    val dir = TestSpark.tempDir("graft_pairs")
    try {
      val inline = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val persisted = Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.5)
      assert(persisted.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == inline)
      // second call serves the artifact without re-mining (same meta mtime)
      val meta = new java.io.File(s"$dir/_meta.json")
      val mtime = meta.lastModified()
      Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.5).count()
      assert(meta.lastModified() == mtime, "artifact was rebuilt despite fresh fingerprint")
      // a different threshold is a different artifact key → re-mine
      Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.9).count()
      assert(meta.lastModified() != mtime, "threshold change must invalidate the artifact")
      // a threshold that is a string PREFIX of the stored one must also
      // invalidate (round-6 review: unterminated contains() matched 0.55
      // for a 0.5 request)
      Thread.sleep(5)
      Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.55).count()
      val afterPrefix = meta.lastModified()
      Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.5).count()
      assert(meta.lastModified() != afterPrefix,
        "0.5 request must not reuse the 0.55 artifact")
      // clustering over pre-mined pairs = clustering with inline mining
      val viaPairs = Dedup.dupClusters(docs, threshold = 0.5,
          minedPairs = Some(Dedup.ngramJaccardPairsPersisted(docs, dir, threshold = 0.5)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaPairs == Dedup.dupClusters(docs, threshold = 0.5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("imageHashPairs: lossless 4-chunk block through maxDist 3, reject 4") {
    import TestSpark.spark.implicits._
    // worst case for the block: the 3 differing bits land in 3 DIFFERENT
    // 16-bit chunks, leaving exactly ONE shared chunk — still found
    val h0 = 0x0123456789ABCDEFL
    val d3 = h0 ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) // chunks 0,1,2 touched
    val d1 = h0 ^ (1L << 63)                          // chunk 3 touched
    val d4 = h0 ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48) // all 4
    val far = ~h0                                     // dist 64
    val hashes = Seq((1L, h0), (2L, d3), (3L, d1), (4L, d4), (5L, far))
      .toDF("doc_id", "dhash")
    val got = Dedup.imageHashPairs(hashes, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,2) dist 3 found via the SINGLE shared chunk (chunk 3); (1,3)
    // dist 1; (2,4) dist 1 (differ only in bit 48). Excluded: (1,4) and
    // (2,3) dist 4, (3,4) dist 5, and 5 shares no chunk with anyone
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 1L), (2L, 4L, 1L)))
    intercept[IllegalArgumentException] {
      Dedup.imageHashPairs(hashes, maxDist = 4) // block lossless only to 3
    }
    assert(Dedup.imageHashPairs(hashes, maxDist = 3).columns.toSeq ==
      Seq("doc_a", "doc_b", "dist"))
  }

  test("imageHashPairs bucket cap prunes oversized buckets") {
    import TestSpark.spark.implicits._
    val same = (1L to 5L).map(i => (i, 42L)).toDF("doc_id", "dhash")
    assert(Dedup.imageHashPairs(same, maxDist = 0).count() == 10) // 5C2
    assert(Dedup.imageHashPairs(same, maxDist = 0, maxBucketSize = 3).count() == 0)
  }

  test("bucket-cap drops are RETURNED, and single-chunk drops cost no recall") {
    import TestSpark.spark.implicits._
    // a degenerate chunk: every hash has chunks 2,3 == 0 (the
    // solid-color-corpus shape the cap exists for), while chunks 0/1
    // still separate the near-dup groups
    val hashes = Seq(
      (1L, 5L << 16), (2L, 5L << 16),     // dup pair A (chunk1 = 5)
      (3L, 9L << 16), (4L, 9L << 16),     // dup pair B (chunk1 = 9)
      (5L, 7L), (6L, 7L))                 // dup pair C (chunk0 = 7)
      .toDF("doc_id", "dhash")
    // cap 5: the two all-six blocks (chunk2=0, chunk3=0) are over cap
    // and LISTED by the drops frame — no silent pruning
    val drops = Dedup.imageHashBucketDrops(hashes, maxBucketSize = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(drops == Set((2, 0L, 6L), (3, 0L, 6L)), drops)
    // ...and recall is UNTOUCHED: every pair still shares a surviving
    // chunk (the block join needs only one), so capped == uncapped
    val capped = Dedup.imageHashPairs(hashes, maxDist = 0, maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    assert(capped == Dedup.imageHashPairs(hashes, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a cap below every bucket: drops list ALL blocks, pairs go to zero —
    // the recall bill is visible in the returned frame, never implicit
    val allDropped = Dedup.imageHashBucketDrops(hashes, maxBucketSize = 1)
    assert(allDropped.count() > 0)
    assert(Dedup.imageHashPairs(hashes, maxDist = 0, maxBucketSize = 1)
      .count() == 0)
    // healthy distribution: drops frame is EMPTY at the default cap
    assert(Dedup.imageHashBucketDrops(hashes).count() == 0)
  }

  test("end-to-end image dedup: synthesized BMPs -> dHash -> blocked pairs") {
    import TestSpark.spark.implicits._
    val d = (1L until 8L).toDF("doc_id") // ids 1..7; no corrupt (id%17) ids
    val pairs = Dedup.imageHashPairs(
        graft.pipeline.Multimodal.imageDHash(TestSpark.spark,
          graft.pipeline.Multimodal.synthesizeBmpMedia(TestSpark.spark, d)),
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same id/4 groups {1,2,3} and {4,5,6,7} are brightness-shifted
    // near-dups; cross-group gradients differ at many wrap points
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
    assert(pairs.contains((4L, 5L)) && pairs.contains((6L, 7L)))
    assert(!pairs.exists { case (a, b) => a / 4 != b / 4 })
  }

  test("containment: embedded doc found where symmetric jaccard misses it") {
    import TestSpark.spark.implicits._
    // doc 1 is verbatim inside doc 2's much longer text: containment
    // 1→2 is 1.0 while Jaccard(1,2) = 5/17 — the partial-scrape case
    val short1 = "alpha beta gamma delta epsilon zeta eta"     // 5 3-shingles
    val long2 = ("one two three four five six seven eight " +
      s"$short1 nine ten eleven twelve thirteen")
    val d = Seq(
      (1L, short1), (2L, long2),
      (3L, "totally unrelated words in this document here now"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // asymmetric: ONLY (1 contained-in 2); never the reverse, no self rows
    assert(got == Set((1L, 2L, 1.0)))
    // symmetric jaccard at the same threshold does NOT see the pair
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.8).count() == 0)
    graft.pipeline.PipelineCaches.clear()
  }

  test("containment prefix filter equals brute force; mutual for exact dups") {
    val got = Dedup.containmentPairs(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the whole suite fixture (lossless-pruning check,
    // same discipline as the ngram-jaccard spec)
    val sh = Dedup.withShingles(docs, "text").select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expected = (for {
      a <- sh.keys; b <- sh.keys if a != b
      c = sh(a).intersect(sh(b)).size.toDouble / sh(a).size
      if math.rint(c * 1e4) / 1e4 >= 0.6
    } yield (a, b, math.rint(c * 1e4) / 1e4)).toSet
    assert(got == expected)
    // exact dups (1,2) contain each other: BOTH ordered rows at 1.0
    assert(got.contains((1L, 2L, 1.0)) && got.contains((2L, 1L, 1.0)))
    graft.pipeline.PipelineCaches.clear()
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 0)

  test("centroidShift: pairwise centroid cosine, nulls excluded, triangle only") {
    import spark.implicits._
    val vecs = Seq(
      (1L, "a", Seq(1.0, 0.0)), (2L, "a", Seq(0.0, 1.0)),     // centroid (.5, .5)
      (3L, "b", Seq(1.0, 0.0)),                               // centroid (1, 0)
      (4L, "c", Seq(-1.0, 0.0)), (5L, "c", Seq(-1.0, 0.0)),   // centroid (-1, 0)
      (6L, "a", null))                                        // excluded
      .toDF("doc_id", "source", "vec")
    val got = Similarity.centroidShift(vecs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val s2 = math.sqrt(0.5 * 0.5 * 2)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set(
      ("a", "b", r6(0.5 / s2)),   // cos between (.5,.5) and (1,0)
      ("a", "c", r6(-0.5 / s2)),
      ("b", "c", -1.0)))
  }

  test("hardNegatives: cluster mates excluded, re-rank equals filtered shortlist") {
    val clusters = Similarity.kmeansAssign(emb)
    val got = Similarity.hardNegatives(emb, queries, clusters,
      k = 5, kCand = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no negative shares its query's cluster
    assert(got.nonEmpty && got.forall { case (q, nt, _, _) => cl(q) != cl(nt) })
    // equals the brute-force kCand shortlist with mates dropped, re-ranked
    val cand = Similarity.bruteForceTopK(emb, queries, k = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expect = cand.filter { case (q, nt, _, _) => cl(q) != cl(nt) }
      .groupBy(_._1).toSeq.flatMap { case (q, rs) =>
        rs.sortBy { case (_, nt, s, _) => (-s, nt) }.take(5).zipWithIndex
          .map { case ((_, nt, s, _), i) => (q, nt, s, i + 1) }
      }.toSet
    assert(got.toSet == expect)
    intercept[IllegalArgumentException](
      Similarity.hardNegatives(emb, queries, clusters, k = 10, kCand = 5))
  }

  test("brute-force top-k: k rows per query, sim in [-1,1], self excluded") {
    val out = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
    val n = queries.count()
    assert(out.length == 5 * n)
    assert(out.forall(r => r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001))
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    // rank 1 has the max sim per query
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).toSeq == rs.map(_.getDouble(2)).sortBy(-_).toSeq)
    }
  }

  test("hand-computed cosine on tiny vectors") {
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(1f, 1f)), (3L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(tiny, tiny.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out(2L) == math.round(1.0 / math.sqrt(2) * 1e6) / 1e6)
    assert(out(1L) == 0.0 && out(3L) == -1.0)
  }

  test("LSH ANN recall vs brute force >= 0.6 on fixtures") {
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall")
  }

  test("annRecall: hand-built overlap counts; agrees with the spec's set math") {
    import TestSpark.spark.implicits._
    // q1: approx found 2 of 3 true neighbors (an extra non-true row must
    // NOT count); q2: perfect
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 20L))
      .toDF("qid", "nid")
    val got = Similarity.annRecall(approx, exact)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(1L -> ((2L, 3L, 0.6667)), 2L -> ((1L, 1L, 1.0))))
    // on the suite fixture the operator reproduces the set-math recall the
    // LSH spec above computes driver-side
    val ex = Similarity.bruteForceTopK(emb, queries, k = 5)
    val ap = Similarity.lshTopK(emb, queries, k = 5)
    val perQ = Similarity.annRecall(ap, ex)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    val exSet = ex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apSet = ap.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(perQ.map(_._1).sum == exSet.intersect(apSet).size)
    assert(perQ.map(_._2).sum == exSet.size)
  }

  test("PQ encode/ADC: hand-computed codes, argmin tie-break, LUT scoring") {
    import TestSpark.spark.implicits._
    // tiny codebook: 2 subspaces x 2 centroids x 2 dims
    val cb = IndexedSeq(
      IndexedSeq(IndexedSeq(0.0, 0.0), IndexedSeq(1.0, 1.0)),
      IndexedSeq(IndexedSeq(0.5, 0.5), IndexedSeq(-1.0, -1.0)))
    val vecs = Seq(
      (1L, Seq(0.1f, 0.1f, 0.4f, 0.6f)),  // codes [0, 0]
      (2L, Seq(0.9f, 1.1f, -0.8f, -1.2f)) // codes [1, 1]
      ).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(vecs, cb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) == Seq(0, 0) && codes(2L) == Seq(1, 1))
    // equidistant subvector -> lowest centroid index (strict-< fold)
    val tieCb = IndexedSeq(IndexedSeq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0)))
    val tie = Seq((9L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.pqEncode(tie, tieCb).collect().head.getSeq[Int](1) == Seq(0))
    // ADC: query (0,0, 0,0): LUT[0] = [0, 2], LUT[1] = [0.5, 2];
    // adist(1) = 0 + 0.5, adist(2) = 2 + 2; ranks follow
    val q = Seq((100L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.pqAdcTopK(Similarity.pqEncode(vecs, cb), q, cb, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 0.5, 1), (2L, 4.0, 2)))
    // fixture codebook shape: every code within [0, 16), 8 per vector
    val fix = Similarity.pqEncode(emb, Similarity.pqCodebook()).collect()
    assert(fix.forall(r => {
      val cs = r.getSeq[Int](1); cs.size == 8 && cs.forall(c => c >= 0 && c < 16)
    }))
  }

  test("PQ rerank with a full-corpus shortlist equals brute force exactly") {
    val cb = Similarity.pqCodebook()
    val n = emb.count().toInt
    // kCand >= corpus size => the shortlist prunes nothing and the exact
    // re-rank must reproduce bruteForceTopK row for row
    val rr = Similarity.pqRerankTopK(emb, Similarity.pqEncode(emb, cb),
        queries, cb, kCand = n, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rr == bf && rr.nonEmpty)
    // a tight shortlist returns k rows per query, ranked by exact cosine
    val tight = Similarity.pqRerankTopK(emb, Similarity.pqEncode(emb, cb),
      queries, cb, kCand = 10, k = 3).collect()
    val perQ = tight.groupBy(_.getLong(0))
    assert(perQ.values.forall(rows =>
      rows.length == 3 && rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
        .sliding(2).forall { case Seq(a, b) => a >= b case _ => true }))
  }

  test("IVF-PQ with all lists probed equals exhaustive ADC exactly") {
    val cb = Similarity.pqCodebook()
    // nprobe >= nlist => the coarse quantizer prunes nothing, so the
    // composition must reproduce pqAdcTopK row for row (same codes, same
    // LUT, same fold order)
    val all = Similarity.ivfPqTopK(emb, queries, cb, k = 5, nprobe = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val adc = Similarity.pqAdcTopK(Similarity.pqEncode(emb, cb), queries, cb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(all == adc && all.nonEmpty)
    // pruned probes: <= k rows per query, adist ascending with rank, no self
    val pruned = Similarity.ivfPqTopK(emb, queries, cb, k = 3).collect()
    assert(pruned.nonEmpty && pruned.forall(r => r.getLong(0) != r.getLong(1)))
    pruned.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.length <= 3)
      val byRank = rows.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(byRank.sliding(2).forall { case Seq(a, b) => a <= b; case _ => true })
    }
  }

  test("ivfPqRerankTopK: unpruned shortlist reproduces brute force; hardNegativesFrom composes") {
    val cb = Similarity.pqCodebook()
    val n = emb.count().toInt
    // nprobe >= nlist and kCand >= N-1: the coarse quantizer prunes
    // nothing and every candidate is exact-rescored, so the refine stage
    // must reproduce the brute-force exact top-k row for row
    val refined = Similarity.ivfPqRerankTopK(emb, queries, cb,
        kCand = n, k = 5, nprobe = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(refined == bf && refined.nonEmpty)
    // the pruned serving shape composed with the cluster exclusion: every
    // negative sits outside its query's cluster, ranks are contiguous
    // from 1 per query, sims descend with rank
    val clusters = Similarity.kmeansAssign(emb)
    val got = Similarity.hardNegativesFrom(
      Similarity.ivfPqRerankTopK(emb, queries, cb, kCand = 25, k = 25),
      clusters, k = 5).collect()
    val cl = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.forall(r => cl(r.getLong(0)) != cl(r.getLong(1))))
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRank = rows.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to rows.length))
      val sims = byRank.map(_.getDouble(2)).toSeq
      assert(sims.sliding(2).forall { case Seq(a, b) => a >= b; case _ => true })
    }
  }

  test("cosinePairs equals brute-force all-pairs on planted near-dups") {
    import org.apache.spark.sql.functions.{transform => atransform}
    val base = emb.select(col("vec_id"),
      atransform(col("embedding"), x => x.cast("double")).as("embedding"))
    val pert = base.select((col("vec_id") + lit(1000000000000L)).as("vec_id"),
      atransform(col("embedding"), (x, i) =>
        when(i === 0, x * 1.05).otherwise(x)).as("embedding"))
    val corpus = base.unionAll(pert)
    val got = Similarity.cosinePairs(corpus, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force exact: every vec pairs with its perturbed twin only
    val v = corpus.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      a <- v.keys; b <- v.keys if a < b
      if math.rint(cos(v(a), v(b)) * 1e6) / 1e6 >= 0.99
    } yield (a, b)).toSet
    assert(expected.nonEmpty && got == expected)
    assert(expected == v.keys.filter(_ < 1000000000000L).map(i => (i, i + 1000000000000L)).toSet)
  }

  test("random-projection reduction matches an independent driver-side computation") {
    val row = emb.orderBy("vec_id").limit(1).collect().head
    val arr = row.getSeq[Float](1).map(_.toDouble)
    val expected = Similarity.planeSigns(16, 64, 11L).map { s =>
      var dot = 0.0
      for (i <- arr.indices) dot += (if (s(i)) arr(i) else -arr(i))
      BigDecimal(dot * 0.25)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Similarity.reduceDim(emb.orderBy("vec_id").limit(1))
      .collect().head.getSeq[Double](1)
    assert(got == expected)
  }

  test("int8 quantization: hand-checked values, zero vector, negatives") {
    import TestSpark.spark.implicits._
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, -1.0f)), // maxabs 1.0
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))    // zero vector
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Long](2))).toMap
    assert(got(1L)._1 == 0.007874016) // 1/127 rounded HALF_UP at 9 dp
    assert(got(1L)._2 == Seq(127L, -64L, 32L, -127L)) // -0.5*127 = -63.5 ⇒ HALF_UP away from zero
    assert(got(2L) == ((0.0, Seq(0L, 0L, 0L, 0L))))
  }

  test("IVF ANN: empty corpus and null embeddings are well-defined") {
    import TestSpark.spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val q = Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfTopK(empty, q).count() == 0)
    // a null embedding among the lowest-id (seed) vectors must be skipped,
    // not NPE during centroid collection
    val withNull = Seq[(Long, Array[Float])]((1L, null))
      .toDF("vec_id", "embedding")
      .unionAll(emb.limit(100).select(col("vec_id") + 10, col("embedding"))
        .as[(Long, Array[Float])].toDF("vec_id", "embedding"))
    val r = Similarity.ivfTopK(withNull, q, k = 3)
    assert(r.count() > 0 && r.filter(col("nid") === 1L).count() == 0)
  }

  test("kmeans assignment: total, deterministic, self-similar clusters") {
    val a1 = Similarity.kmeansAssign(emb, k = 8)
    val rows1 = a1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every non-null vector assigned exactly once
    assert(rows1.length == emb.filter(col("embedding").isNotNull).count())
    assert(rows1.map(_._1).distinct.length == rows1.length)
    // at most k clusters, ids drawn from the corpus
    assert(rows1.map(_._2).distinct.length <= 8)
    // a vector in its own seed cluster has sim 1.0 with itself's centroid
    // only when alone; weaker invariant: sims are valid cosines
    assert(rows1.forall { case (_, _, s) => s >= -1.0001 && s <= 1.0001 })
    // determinism
    val rows2 = Similarity.kmeansAssign(emb, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows1.sortBy(_._1).toSeq == rows2.sortBy(_._1).toSeq)
    graft.pipeline.PipelineCaches.clear()
  }

  test("semDedup: keeps one representative per near-dup neighborhood") {
    import spark.implicits._
    // two well-separated directions; ids 1/2 are near-identical (cos≈1),
    // 3 is same direction but we pick tau above its cosine; 4/5 orthogonal
    def v(main: Int, eps: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(main) = 1.0f; a((main + 1) % 64) = eps.toFloat; a
    }
    val d = Seq(
      (1L, v(0, 0.0)), (2L, v(0, 0.01)), (3L, v(0, 0.5)),
      (4L, v(32, 0.0)), (5L, v(32, 0.02)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(d, tau = 0.995, k = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // exactly the lower-ranked member of each ~identical pair is flagged;
    // 3 (cos≈0.894 to the 0-direction) survives
    assert(got.count(_._2) == 2, got.toString)
    assert(!got(3L), got.toString)
    assert(got(1L) ^ got(2L), got.toString) // one of the twins, not both
    assert(got(4L) ^ got(5L), got.toString)
    // determinism
    val again = Similarity.semDedup(d, tau = 0.995, k = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(again == got)
    // pair cap exempts members from pairing but never drops rows
    val capped = Similarity.semDedup(d, tau = 0.995, k = 2, maxClusterSize = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(capped.size == 5 && capped.values.forall(_ == false))
    // empty corpus: typed empty frame
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(empty).columns.toSeq ==
      Seq("vec_id", "cluster_id", "sim", "is_dup"))
    assert(Similarity.semDedup(empty).count() == 0)
    graft.pipeline.PipelineCaches.clear()
  }

  test("L2 normalize: unit norm, zero vector -> NULL") {
    import spark.implicits._
    val d = Seq(
      (1L, Array.fill(64)(2.0f)),
      (2L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.normalizeL2(d).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Double](1)))).toMap
    val unit = got(1L).get
    assert(math.abs(unit.map(x => x * x).sum - 1.0) < 1e-4)
    assert(unit.forall(_ == 0.125)) // 2 / (2*8)
    assert(got(2L).isEmpty)
  }

  test("diversity sample: per-cluster cap, most-central first") {
    val s = Similarity.diversitySample(emb, perCluster = 3, k = 8)
    val rows = s.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.groupBy(_._2).values.forall(_.length <= 3))
    // within each cluster, rank order follows sim desc
    for ((_, grp) <- rows.groupBy(_._2)) {
      val byRank = grp.sortBy(_._4)
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sortBy(-(_: Double)).toSeq)
    }
    graft.pipeline.PipelineCaches.clear()
  }

  test("IVF ANN recall vs brute force >= 0.5 on fixtures") {
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("persisted IVF index: identical rows to ivfTopK; fresh index is not rebuilt") {
    val dir = TestSpark.tempDir("graft_ivf_eq")
    try {
      assert(Similarity.buildIvfIndexIfStale(emb, dir))  // no index yet → build
      assert(!Similarity.buildIvfIndexIfStale(emb, dir)) // same files → fresh
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val expect = key(Similarity.ivfTopK(emb, queries, k = 5))
      val got = key(Similarity.ivfTopKPersisted(queries, dir, k = 5))
      assert(expect.nonEmpty && got == expect)
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("filtered ANN: only qualifying candidates, still k per query when available") {
    val dir = TestSpark.tempDir("graft_ivf_filt")
    try {
      Similarity.buildIvfIndex(emb, dir)
      val got = Similarity.ivfTopKPersisted(queries, dir, k = 3,
          candidateFilter = pmod(col("nid"), lit(2)) === 1)
        .collect()
      assert(got.nonEmpty)
      assert(got.forall(_.getLong(1) % 2 == 1), "even-id candidate leaked through")
      // ranks are 1..m contiguous per query
      for ((_, rs) <- got.groupBy(_.getLong(0)))
        assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length).toSeq)
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("appendToIvfIndex: delta served without retraining, only touched lists grow") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_ivf_app")
    try {
      val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val base = rows.toSeq.toDF("vec_id", "embedding")
      Similarity.buildIvfIndex(base, dir)

      def listState(): Map[String, Set[String]] = {
        val d = new java.io.File(s"${graft.pipeline.Artifacts.live(spark, dir).get.dir}/lists")
        d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("list_id="))
          .map(l => l.getName ->
            l.listFiles().map(_.getName).filterNot(_.startsWith("_")).toSet)
          .toMap
      }
      val before = listState()

      // delta: clones of three existing vectors under fresh ids — exact
      // retrievability is then provable (csim 1.0 under a different id)
      val cloned = rows.take(3).map { case (id, v) => (id + 1000000L, v) }
      val delta = cloned.toSeq.toDF("vec_id", "embedding")
      val full = (rows ++ cloned).toSeq.toDF("vec_id", "embedding")
      Similarity.appendToIvfIndex(full, delta, dir)

      // the appended corpus is fresh — the fence does NOT rebuild
      assert(!Similarity.buildIvfIndexIfStale(full, dir))

      // each clone is retrieved for its original's query at csim 1.0
      val q = rows.take(3).toSeq.toDF("vec_id", "embedding")
      val got = Similarity.ivfTopKPersisted(q, dir, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      for ((id, _) <- rows.take(3))
        assert(got.exists { case (qid, nid, sim) =>
          qid == id && nid == id + 1000000L && sim == 1.0
        }, s"clone of $id not retrieved: ${got.filter(_._1 == id).toSeq}")

      // append-only at the file level: every old file survives, only the
      // delta's lists gain files, and at least one list is untouched
      val after = listState()
      for ((l, files) <- before)
        assert(files.subsetOf(after(l)), s"list $l lost files")
      val grown = after.count { case (l, files) => files != before(l) }
      assert(grown >= 1 && grown <= 3, s"$grown lists grew for a 3-row delta")

      // mismatched build parameters are loud, not a quiet recall cliff
      assertThrows[graft.cypher.GraftException](
        Similarity.appendToIvfIndex(full, delta, dir, nlist = 7))

      // idempotent: re-appending the same corpus is a no-op (no files
      // gain a second copy of the delta's vectors)
      val afterOnce = listState()
      Similarity.appendToIvfIndex(full, delta, dir)
      assert(listState() == afterOnce, "repeat append duplicated vectors")
    } finally graft.pipeline.PipelineCaches.clear()
  }

  test("persisted IVF index: changed corpus content is detected as stale") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_ivf_stale")
    try {
      // in-memory frames exercise the row-hash fingerprint fallback
      val rows = emb.limit(100).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val c1 = rows.toSeq.toDF("vec_id", "embedding")
      assert(Similarity.buildIvfIndexIfStale(c1, dir))
      // a NEW frame with the SAME rows is content-fresh → no rebuild
      val c2 = rows.toSeq.toDF("vec_id", "embedding")
      assert(!Similarity.buildIvfIndexIfStale(c2, dir))
      // dropping a row changes the content fingerprint → rebuild
      val c3 = rows.toSeq.drop(1).toDF("vec_id", "embedding")
      assert(Similarity.buildIvfIndexIfStale(c3, dir))
      // changed BUILD PARAMETERS rebuild too, even with the same corpus
      // (round-6 review: nlist was not part of the freshness key)
      assert(Similarity.buildIvfIndexIfStale(c3, dir, nlist = 4))
      assert(!Similarity.buildIvfIndexIfStale(c3, dir, nlist = 4))
      assert(Similarity.buildIvfIndexIfStale(c3, dir, nlist = 8))
    } finally graft.pipeline.PipelineCaches.clear()
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  import TestSpark._

  test("prCurve: hand-computed cumulative table, NULL recall w/o positives") {
    import spark.implicits._
    val scored = Seq(
      (0.304, true), (0.296, false), (0.2, true),
      (0.1, false), (0.104, true), (-0.001, false), (-0.0, false))
      .toDF("logit", "y")
    val got = TextAnalysis.prCurve(scored, col("y")).collect().map(r =>
      (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    // FLOOR 2dp quantization (bucket left edges — engine-exact IEEE,
    // unlike round): 0.304→0.30, 0.296→0.29, 0.104→0.10,
    // -0.001→-0.01 (floor goes down for negatives); a -0.0 score lands
    // in the +0.0 threshold row (never a -0.0 row); precision/recall
    // are RAW ratios of the integer counts
    assert(got.toSeq == Seq(
      (0.3, 1L, 0L, 2L, 1.0, 1.0 / 3),
      (0.29, 1L, 1L, 2L, 0.5, 1.0 / 3),
      (0.2, 2L, 1L, 1L, 2.0 / 3, 2.0 / 3),
      (0.1, 3L, 2L, 0L, 0.6, 1.0),
      (0.0, 3L, 3L, 0L, 0.5, 1.0),
      (-0.01, 3L, 4L, 0L, 3.0 / 7, 1.0)))
    // the +0.0 row really is positive zero (no -0.0 leaks to output)
    assert(got(4)._1.compareTo(0.0) == 0)
    // no positives anywhere -> recall NULL, precision still counts
    val neg = TextAnalysis.prCurve(
      Seq((0.5, false), (0.1, false)).toDF("logit", "y"), col("y")).collect()
    assert(neg.forall(_.isNullAt(5)) && neg.forall(_.getDouble(4) == 0.0))
  }

  test("normalizeText: controls stripped, whitespace collapsed, dedup-stable") {
    import spark.implicits._
    val d = Seq(
      (1L, "a\u0000b  c\t\nd "), // NUL joins, ws runs collapse, trim
      (2L, "ab c d"),              // the same doc wrapped differently
      (3L, "\u0001\u0002"),        // all controls -> empty
      (4L, "plain"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("ab c d", 4L)))
    assert(got(2L) == (("ab c d", 0L)))
    assert(got(3L) == (("", 2L)))
    assert(got(4L) == (("plain", 0L)))
    // the point: differently-wrapped scrapes hash identically after
    assert(got(1L)._1 == got(2L)._1)
  }

  test("charEntropy: hand-computed values, uniform/degenerate/empty corners") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaa"),           // degenerate: entropy 0 (and -0.0 folds to +0.0)
      (2L, "abab"),           // uniform over 2 -> ln 2
      (3L, "abcd"),           // uniform over 4 -> ln 4
      (4L, ""),               // empty -> 0.0, n_cp 0
      (5L, "aéé"))  // multibyte: 3 codepoints, p={1/3, 2/3}
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((4L, 0.0)) &&
      !(1.0 / got(1L)._2).isNegInfinity) // +0.0, not -0.0
    assert(got(2L) == ((4L, r6(math.log(2)))))
    assert(got(3L) == ((4L, r6(math.log(4)))))
    assert(got(4L) == ((0L, 0.0)))
    val p1 = 1.0 / 3; val p2 = 2.0 / 3
    assert(got(5L) == ((3L, r6(-(p1 * math.log(p1) + p2 * math.log(p2))))))
  }

  test("quality features on a known string") {
    import spark.implicits._
    val d = Seq((1L, "the cat, and a dog!")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFeatures(d).collect().head
    assert(r.getLong(1) == 5L) // tokens
    assert(r.getLong(2) == 2L) // , and !
    assert(r.getLong(3) == 3L) // the, and, a
  }

  test("gopher rules: per-rule boundaries on hand-built docs") {
    import spark.implicits._
    val pass = ("the old men be quick to move out of harm and " * 5).trim // 55 words
    val d = Seq(
      (1L, pass),                                   // every rule passes
      (2L, "the be to of and that have with words") // fails word count (9 < 50)
        ,
      (3L, Seq.fill(50)("supercalifragilistic").mkString(" ")
        + " the be")                                // mean word len > 10
        ,
      (4L, "# # # # # # # # " + pass)               // symbol ratio 8/63 > 0.1
        ,
      (5L, "- alpha\n- bravo\n- charlie\n" + pass)  // 3/4 bullet lines < 0.9 ⇒ ok
        ,
      (6L, ("77 " * 60).trim + " the be")           // alpha frac 2/62 < 0.8
        ,
      (7L, pass.replace("the ", "xx ").replace("be ", "yy ")
        .replace("to ", "zz ").replace("of ", "qq ").replace("and ", "rr ")
        .replace("have ", "ss ").replace("with ", "tt ")) // stop_hits < 2
      ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> true, 6L -> false, 7L -> false))
    // doc 7 fails via rule 7: only the final "and" (unreplaced — trim
    // stripped its trailing space) survives, 1 < the required 2
    val r7 = TextAnalysis.gopherRules(d).filter(col("doc_id") === 7L).collect().head
    assert(r7.getAs[Long]("stop_hits") == 1L)
    // feature arithmetic on the multi-line doc: 4 lines, 3 bullets
    val r5 = TextAnalysis.gopherRules(d).filter(col("doc_id") === 5L).collect().head
    assert(r5.getAs[Double]("bullet_frac") == 0.75)
    // ellipsis-line rule: 2 of 3 lines end in '...' ⇒ 10·2 >= 3·3 fails it
    val e = Seq((8L, s"waiting...\nstill waiting...\n$pass")).toDF("doc_id", "text")
    val re = TextAnalysis.gopherRules(e).collect().head
    assert(re.getAs[Double]("ellipsis_frac") == 0.6667 && !re.getBoolean(8))
  }

  test("classifier score: uniform-model exact logit, threshold edge, pinned model") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // uniform weights make the logit hash-independent and float-exact:
    // bias + (4 · 0.25)/4 = 0.25 regardless of which buckets tokens hit
    val r = TextAnalysis.classifierScore(d, IndexedSeq.fill(8)(0.25),
      bias = 0.0, threshold = 0.25).collect().head
    assert(r.getLong(1) == 4L && r.getDouble(2) == 0.25 && r.getBoolean(3))
    // >= is inclusive; an epsilon above the logit flips it
    assert(!TextAnalysis.classifierScore(d, IndexedSeq.fill(8)(0.25),
      threshold = 0.2500001).collect().head.getBoolean(3))
    // non-uniform model pinned against a driver-side recomputation from
    // Spark's own xxhash64 (same bucketing the operator compiles in)
    val w = (0 until 64).map(f => ((f.toLong * 2654435761L) % 1000L) / 1000.0 - 0.5)
    val d2 = Seq((1L, "the quick brown fox"), (2L, "spark spark spark"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.classifierScore(d2, w).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val hashed = d2.select(col("doc_id"),
        explode(org.apache.spark.sql.functions.split(lower(trim(col("text"))), "\\s+")).as("t"))
      .select(col("doc_id"), pmod(xxhash64(col("t")), lit(64L)).as("b"))
      .collect().groupBy(_.getLong(0))
    val expected = hashed.map { case (id, rows) =>
      val contribs = rows.map(r => w(r.getLong(1).toInt)).sorted
      // RAW logit (no rounding): the sorted fold is the determinism
      // contract, bit-for-bit
      id -> contribs.foldLeft(0.0)(_ + _) / rows.length
    }
    assert(got == expected)
    // model size must be a power of two (pmod-vs-unsigned-residue safety)
    assertThrows[IllegalArgumentException] {
      TextAnalysis.classifierScore(d, IndexedSeq(0.1, 0.2, 0.3))
    }
  }

  test("c4 line cleaning: per-rule boundaries, doc floor, re-join order") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four five.\nshort line.\nno terminal word here\n" +
        "the lorem IPSUM line is long enough.\nalpha beta gamma delta six."),
      (2L, "int main() { puts(hello); } here yes."),
      (3L, "a b c d e f.")).toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(d, minKeptLines = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: exactly-5-word terminal lines survive; the 2-word line, the
    // unterminated line, and the case-insensitive "lorem ipsum" line drop
    assert(got == Map(1L ->
      (("one two three four five.\nalpha beta gamma delta six.", 2L, 3L))))
    // doc 2 dies to the '{' block, doc 3 to the kept-line floor (1 < 2);
    // at floor 1 doc 3 returns and multi-space words still count stripped
    val d2 = Seq((4L, "aa  bb   cc  dd  ee.\nx y\"")).toDF("doc_id", "text")
    val r4 = TextAnalysis.c4Clean(d2, minKeptLines = 1).collect().head
    assert(r4.getString(1) == "aa  bb   cc  dd  ee." && r4.getLong(2) == 1L)
    // empty terminal-suffix list = no terminal rule
    val r5 = TextAnalysis.c4Clean(d2, terminalSuffixes = Seq.empty,
        minKeptLines = 1).collect().head
    assert(r5.getLong(2) == 1L && r5.getLong(3) == 1L)
  }

  test("token counts: whitespace vs subword") {
    import spark.implicits._
    val d = Seq((1L, "hello world42 x-y")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(d).collect().head
    assert(r.getLong(1) == 3L)
    // hello | world | 42 | x | - | y
    assert(r.getLong(2) == 6L)
  }

  test("language id on real sentences") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat was on the mat and it was happy with the sun"),
      (2L, "el gato es negro y la casa es grande por la noche"),
      (3L, "der hund ist nicht klein und das haus ist alt"),
      (4L, "le chat est dans la maison et les enfants sont pour la paix"),
      (5L, "你好世界这是一个测试"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh"))
  }

  test("tfidf top terms: hand-checked scores, ranks, tie-break") {
    import spark.implicits._
    // N=3; df: x=1, y=2, z=2; ln(3)=1.098612, ln(1.5)=0.405465
    val d = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got((1L, 1L)) == (("x", 2L, 2.197225)))
    assert(got((1L, 2L)) == (("y", 1L, 0.405465)))
    assert(got((2L, 1L)) == (("y", 1L, 0.405465))) // tie with z: term asc
    assert(got((2L, 2L)) == (("z", 1L, 0.405465)))
    assert(got((3L, 1L)) == (("z", 3L, 1.216395)))
  }

  test("pattern scrub: PII counts, ordered redaction, columns preserved") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob@example.com or alice@test.org, call 555-123-4567 from 10.0.0.1", "a"),
      (2L, "nothing sensitive here", "b")).toDF("doc_id", "text", "src")
    val out = TextAnalysis.scrubPatterns(d)
    // original columns (incl. non-doc_id metadata) survive
    assert(out.columns.toSeq ==
      Seq("doc_id", "text", "src", "n_email", "n_ipv4", "n_phone", "scrubbed"))
    val got = out.select("doc_id", "n_email", "n_ipv4", "n_phone", "scrubbed")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 1L && got(1L)._3 == 1L)
    assert(got(1L)._4 ==
      "mail <EMAIL> or <EMAIL>, call <PHONE> from <IP>")
    assert(got(2L) == ((0L, 0L, 0L, "nothing sensitive here")))
  }

  test("bigram LM score: hand-computed add-1 smoothed NLL") {
    import spark.implicits._
    // corpus: "a b a b", "a c" -> V=3; cb: (a,b)=2 (b,a)=1 (a,c)=1;
    // cu: a=3, b=1. P(b|a)=3/6, P(a|b)=2/4, P(c|a)=2/6
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 0.693147)))   // ln 2
    assert(got(2L) == ((1L, 1.098612)))   // ln 3
    // held-out scoring: every transition unseen -> uniform 1/V floor
    val held = Seq((3L, "z z z")).toDF("doc_id", "text")
    val h = TextAnalysis.bigramLmScore(held, modelDocs = Some(d)).collect().head
    assert(h.getLong(1) == 2L && h.getDouble(2) == 1.098612) // ln 3
    // sub-2-token docs have no transitions and are omitted
    val tiny = Seq((4L, "solo")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramLmScore(tiny).count() == 0)
  }

  test("fingerprints deterministic and content-sensitive") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "totally different content that shares nothing at all here"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  /** Independent winnowing reimplementation (Schleimer et al. §2): k-word
    * distinct shingles, xxhash64, sliding window of w, per-window min. The
    * documented ground truth for `p_fingerprint` (not DuckDB-mirrorable:
    * DuckDB has no xxhash64). */
  private def refWinnow(text: String, k: Int = 4, w: Int = 4): (Int, Long) = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    val n = math.max(toks.size - (k - 1), 1)
    val sh = (0 until n).map(i => toks.slice(i, i + k).mkString(" ")).distinct
    val hs = sh.map(TestSpark.xxhash64Ref)
    val m = math.max(hs.size - (w - 1), 1)
    val mins = (0 until m).map(i => hs.slice(i, i + w).min)
    (mins.distinct.size, mins.min)
  }

  test("fingerprints equal the reference winnowing implementation exactly") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a b"), // fewer tokens than shingle size k
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, t) <- texts)
      assert(got(id) == refWinnow(t), s"doc $id")
  }

  /** Independent plain-Scala reimplementation of the hashing-trick TF-IDF
    * (Weinberger et al. 2009): xxhash64 low bits → bucket, next bit →
    * ±1 sign, integer sign sums per (doc, bucket), bucket-level ln(N/df)
    * idf, in-order norm fold, 6-dp HALF_UP components. The documented
    * ground truth for [[TextAnalysis.hashedTfidf]] alongside its DuckDB
    * oracle. */
  private def refHashedTfidf(texts: Map[Long, String], dim: Int = 64)
      : Map[Long, Option[IndexedSeq[Double]]] = {
    val logDim = java.lang.Integer.numberOfTrailingZeros(dim)
    val w0: Map[Long, Map[Int, Long]] = texts.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq
        .map { term =>
          val h = TestSpark.xxhash64Ref(term)
          (java.lang.Math.floorMod(h, dim.toLong).toInt,
            if (((h >> logDim) & 1L) == 1L) 1L else -1L)
        }
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    }
    val df = w0.values.flatMap(_.keys).groupBy(identity)
      .map { case (b, xs) => b -> xs.size }
    val n = texts.size.toDouble
    texts.keys.map { id =>
      val w = (0 until dim).map(b =>
        w0(id).get(b).map(_.toDouble * math.log(n / df(b))).getOrElse(0.0))
      val nrm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      id -> (if (nrm == 0.0) None
             else Some(w.map(x => BigDecimal(x / nrm)
               .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    }.toMap
  }

  test("hashedTfidf equals the reference hashing-trick implementation exactly") {
    import spark.implicits._
    // ids 1/2 duplicate texts; 3 disjoint vocabulary; 4's only token
    // appears in every doc → idf 0 → zero norm → null vec (provided no
    // other token collides into its bucket — deterministic hash, checked
    // against the reference which applies the identical rule)
    val texts = Map(
      1L -> "shared alpha beta gamma alpha",
      2L -> "shared alpha beta gamma alpha",
      3L -> "shared omicron sigma tau upsilon phi chi psi",
      4L -> "shared")
    val d = texts.toSeq.toDF("doc_id", "text")
    val ref = refHashedTfidf(texts)
    val got = TextAnalysis.hashedTfidf(d).collect()
      .map(r => r.getLong(0) ->
        Option(r.getSeq[Double](1)).map(_.toIndexedSeq)).toMap
    assert(got.keySet == texts.keySet)
    for ((id, expect) <- ref) assert(got(id) == expect, s"doc $id")
    // the duplicate pair got identical vectors; reference confirmed doc 4
    // really is the zero-norm case (the test would silently weaken if a
    // collision gave it weight)
    assert(got(1L) == got(2L) && got(1L).isDefined)
    assert(ref(4L).isEmpty && got(4L).isEmpty)
    graft.pipeline.PipelineCaches.clear()
  }

  test("hashedTfidf vectors are unit-norm and compose with cosine top-k") {
    import spark.implicits._
    val d = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical"),
      (3L, "completely unrelated culinary text about bread flour and yeast"))
      .toDF("doc_id", "text")
    val vecs = TextAnalysis.hashedTfidf(d)
    val norms = vecs.select(col("doc_id"),
        graft.pipeline.Similarity.normFixed(col("vec")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, n) <- norms) assert(math.abs(n - 1.0) < 1e-4, s"doc $id norm $n")
    // drop-in composition with the embedding-space operators
    val emb = vecs.select(col("doc_id").as("vec_id"), col("vec").as("embedding"))
    val top = graft.pipeline.Similarity.bruteForceTopK(emb, emb, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the 6-dp component rounding keeps the dup-pair cosine only ≈1
    assert(top(1L)._1 == 2L && top(1L)._2 > 0.999)
    assert(top(2L)._1 == 1L && top(2L)._2 > 0.999)
    assert(top(3L)._2 < 0.5)
    graft.pipeline.PipelineCaches.clear()
  }

  test("hashedTfidf rejects a non-power-of-two dim") {
    import spark.implicits._
    val d = Seq((1L, "a")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.hashedTfidf(d, dim = 48)
    }
    assert(e.getMessage.contains("power of two"))
  }

  test("hashedTfidf train/apply split reproduces the batch vectors bit-exactly") {
    import spark.implicits._
    val d = Seq(
      (1L, "shared alpha beta gamma alpha"),
      (2L, "shared alpha beta gamma alpha"),
      (3L, "shared omicron sigma tau upsilon phi chi psi"),
      (4L, "shared"))
      .toDF("doc_id", "text")
    val batch = TextAnalysis.hashedTfidf(d).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    val model =
      TextAnalysis.hashedTfidfIdfValues(TextAnalysis.hashedTfidfIdf(d))
    val applied = TextAnalysis.hashedTfidfApply(d, model).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(applied == batch) // includes doc 4's zero-norm null
    // a held-out doc whose vocabulary the model never saw: every bucket
    // idf defaults to 0.0 -> zero norm -> null vec, not a crash
    val held = Seq((9L, "zzzq wwwk vvvj")).toDF("doc_id", "text")
    val h = TextAnalysis.hashedTfidfApply(held, IndexedSeq.fill(64)(0.0))
      .collect().head
    assert(h.isNullAt(1))
    // NULL text: dropped by BOTH forms (batch never aggregates it; apply
    // filters it), not emitted as a null-vec row by one of them
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(7L, null),
        org.apache.spark.sql.Row(8L, "alpha beta"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    assert(TextAnalysis.hashedTfidf(withNull).collect().map(_.getLong(0))
      .toSet == Set(8L))
    assert(TextAnalysis.hashedTfidfApply(withNull, model).collect()
      .map(_.getLong(0)).toSet == Set(8L))
    graft.pipeline.PipelineCaches.clear()
  }

  test("trainNaiveBayes equals a plain-Scala reference; model feeds classifierScore") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog ran to the park", true),
      (3L, "der hund lief zum park", false),
      (4L, "die katze sass auf der matte", false))
    val d = texts.toDF("doc_id", "text", "is_en")
    val dim = 64
    // reference: integer (bucket, class) occurrence counts, add-1 ln ratio
    val occ = texts.flatMap { case (_, t, y) =>
      t.split("\\s+").map(w =>
        (java.lang.Math.floorMod(TestSpark.xxhash64Ref(w), dim.toLong).toInt, y))
    }
    val tPos = occ.count(_._2).toLong
    val tNeg = occ.count(!_._2).toLong
    val ref = (0 until dim).map { b =>
      val np = occ.count(o => o._1 == b && o._2).toLong
      val nn = occ.count(o => o._1 == b && !o._2).toLong
      (b.toLong, np, nn,
        BigDecimal(math.log((np + 1).toDouble / (tPos + dim)) -
          math.log((nn + 1).toDouble / (tNeg + dim)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val model = TextAnalysis.trainNaiveBayes(d, col("is_en"), dim)
    val got = model.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toIndexedSeq
    assert(got == ref)
    // weights drop into classifierScore: every en doc outscores every de doc
    val weights = got.map(_._4)
    val scored = TextAnalysis.classifierScore(d, weights)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L).map(scored).min > Seq(3L, 4L).map(scored).max)
  }

  test("hashedTfidf matches the reference on randomized corpora (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho")
    for (trial <- 0 until 5) {
      val texts = (1L to 8L).map { id =>
        val n = 1 + rnd.nextInt(12)
        id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }.toMap
      val d = texts.toSeq.toDF("doc_id", "text")
      val ref = refHashedTfidf(texts)
      val got = TextAnalysis.hashedTfidf(d).collect()
        .map(r => r.getLong(0) ->
          Option(r.getSeq[Double](1)).map(_.toIndexedSeq)).toMap
      for ((id, expect) <- ref)
        assert(got(id) == expect, s"trial $trial doc $id")
      graft.pipeline.PipelineCaches.clear()
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("PNG golden decode: signature + IHDR dims + CRC check") {
    assert(Multimodal.decodePng(Multimodal.pngBytes(320, 240, 10)) == Some((320L, 240L)))
    // flip one IHDR data byte -> CRC mismatch -> rejected
    val bad = Multimodal.pngBytes(320, 240, 10)
    bad(16) = (bad(16) ^ 1).toByte
    assert(Multimodal.decodePng(bad).isEmpty)
    assert(Multimodal.decodePng(bad.take(20)).isEmpty) // truncated mid-IHDR
  }

  test("JPEG golden decode: SOFn reached only by walking COM/DQT segments") {
    assert(Multimodal.decodeJpeg(Multimodal.jpegBytes(641, 482, 37)) == Some((641L, 482L)))
    val b = Multimodal.jpegBytes(641, 482, 37)
    assert(Multimodal.decodeJpeg(b.take(40)).isEmpty) // truncated before SOF
    assert(Multimodal.decodeJpeg(Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xD9.toByte)).isEmpty) // SOI+EOI, no frame header
  }

  test("GIF + WAV golden decode incl. duration math") {
    assert(Multimodal.decodeGif(Multimodal.gifBytes(599, 399)) == Some((599L, 399L)))
    // 2ch 16kHz PCM16 -> byte rate 64000; 8000 data bytes -> 125 ms
    assert(Multimodal.decodeWav(Multimodal.wavBytes(2, 16000, 8000)) ==
      Some((16000L, 2L, 125L)))
    assert(Multimodal.decodeWav(Multimodal.wavBytes(2, 16000, 8000).take(30)).isEmpty)
  }

  test("malformed payloads decode to format=unknown with NULL metadata") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRecord(1L, Multimodal.synthPayload(4)), // truncated sig
      Multimodal.MediaRecord(2L, Array.emptyByteArray),
      Multimodal.MediaRecord(3L, "just some text".getBytes("UTF-8")))
    val out = Multimodal.decodeHeaders(spark, rows.toDF("doc_id", "media")).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getString(1) == "unknown")
      (2 to 6).foreach(i => assert(r.isNullAt(i), s"col $i of ${r.getLong(0)}"))
    }
  }

  test("synthesize->decode round-trip recovers the encoded fields") {
    import spark.implicits._
    val d = (0L until 50L).toDF("doc_id")
    val got = Multimodal.decodeHeaders(spark, Multimodal.synthesizeMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 50)
    for (id <- 0L until 50L) {
      val r = got(id)
      (id % 5) match {
        case 0 =>
          assert(r.getString(1) == "png")
          assert(r.getLong(2) == 1 + id % 512 && r.getLong(3) == 1 + (id * 3) % 512)
          assert(r.getLong(7) == 57 + id % 100)
        case 1 =>
          assert(r.getString(1) == "jpeg")
          assert(r.getLong(2) == 1 + id % 1024 && r.getLong(3) == 1 + (id * 7) % 1024)
        case 2 =>
          assert(r.getString(1) == "gif")
          assert(r.getLong(2) == 1 + id % 600 && r.getLong(3) == 1 + (id * 5) % 400)
        case 3 =>
          assert(r.getString(1) == "wav")
          val rate = 8000 * (1 + (id / 5) % 5); val ch = 1 + id % 2
          val dataLen = 1000 + (id % 4500) * 2
          assert(r.getLong(4) == rate && r.getLong(5) == ch)
          assert(r.getLong(6) == dataLen * 1000L / (rate * ch * 2))
        case _ =>
          assert(r.getString(1) == "unknown" && r.isNullAt(2))
      }
    }
  }

  test("resize plan: aspect-preserving fit into 224x224 over decoded dims") {
    import spark.implicits._
    // doc_id 10 -> png 11 x 31; audio/corrupt ids drop out
    val d = Seq(10L, 13L, 14L).toDF("doc_id")
    val rows = Multimodal.resizeImages(spark,
      Multimodal.synthesizeMedia(spark, d)).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(10L))
    val r = rows.head
    val scale = BigDecimal(math.min(224.0 / 11, 224.0 / 31))
      .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(1) == 11L && r.getLong(2) == 31L)
    assert(r.getDouble(5) == scale)
    assert(r.getLong(3) == math.floor(11 * scale).toLong)
    assert(r.getLong(4) == math.floor(31 * scale).toLong)
  }

  test("frame sampling: one row per sampled frame, fan-out shape") {
    import spark.implicits._
    val d = Seq((1L, "x" * 950)).toDF("doc_id", "text") // 10 frames -> idx 0,4,8
    val f = Multimodal.sampleFrames(spark, Multimodal.attachBinary(d))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((0L, 0L), (4L, 400L), (8L, 800L)))
  }

  test("BMP golden decode: dims, bottom-up luma, malformed-header rejection") {
    // 3x2 grayscale, px(x,y) = 10x + 100y (top-down coords)
    val b = Multimodal.bmpBytes(3, 2, (x, y) => 10 * x + 100 * y)
    val Some((w, h, luma)) = Multimodal.decodeBmp(b)
    assert(w == 3 && h == 2)
    for (x <- 0 until 3; y <- 0 until 2)
      assert(luma(x, y) == 10 * x + 100 * y, s"px($x,$y)")
    // structural violations -> None, never a throw
    assert(Multimodal.decodeBmp(b.take(53)).isEmpty)        // truncated header
    assert(Multimodal.decodeBmp(Array[Byte]('B', 'M', 3, 0)).isEmpty)
    def patched(off: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      c(off) = (v & 0xFF).toByte; c(off + 1) = ((v >> 8) & 0xFF).toByte
      c(off + 2) = ((v >> 16) & 0xFF).toByte; c(off + 3) = ((v >> 24) & 0xFF).toByte
      c
    }
    assert(Multimodal.decodeBmp(patched(18, 0)).isEmpty)           // w = 0
    assert(Multimodal.decodeBmp(patched(30, 1)).isEmpty)           // compressed
    // r11-advice overflow payloads: giant w wraps Int rowBytes math,
    // h = Int.MinValue survives an == 0 guard via abs — both must
    // reject cleanly instead of crashing the task downstream
    assert(Multimodal.decodeBmp(patched(18, Int.MaxValue - 2)).isEmpty)
    assert(Multimodal.decodeBmp(patched(22, Int.MinValue)).isEmpty)
    // top-down (negative height) variant still decodes
    val td = Multimodal.decodeBmp(patched(22, -2))
    assert(td.nonEmpty && td.get._2 == 2)
  }

  test("dHash hand-computed: gradient, flat, alternating-stripe fixtures") {
    // strictly-increasing luma -> every grid(r,c) < grid(r,c+1) -> all 64 bits
    assert(Multimodal.dhashOf(27, 16, (x, _) => x) == -1L)
    // flat image: no strict inequality anywhere -> 0
    assert(Multimodal.dhashOf(27, 16, (_, _) => 128) == 0L)
    // 9x8 image samples grid(r,c) = luma(c,r) directly; alternating
    // columns 0,255,0,... set exactly the even-c bit of each row:
    // per-row byte 0b01010101 = 0x55 -> hash 0x5555555555555555
    assert(Multimodal.dhashOf(9, 8, (x, _) => if (x % 2 == 0) 0 else 255) ==
      0x5555555555555555L)
    // brightness invariance: +40 offset leaves every gradient bit intact
    val base = (x: Int, y: Int) => (7 * x + 13 * y) % 200
    assert(Multimodal.dhashOf(27, 16, base) ==
      Multimodal.dhashOf(27, 16, (x, y) => base(x, y) + 40))
  }

  test("imageDHash drops corrupt payloads and round-trips the BMP fixture") {
    import spark.implicits._
    val d = (0L until 20L).toDF("doc_id")
    val hashes = Multimodal.imageDHash(spark, Multimodal.synthesizeBmpMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // id % 17 == 0 payloads are truncated-corrupt -> no row, not a null/throw
    assert(!hashes.contains(0L) && !hashes.contains(17L))
    assert(hashes.size == 18)
    // same id/4 group differs only by a brightness offset; gradients
    // survive except at shifted mod-256 wrap points -> tiny Hamming
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(1L), hashes(2L)) <= 3 && ham(hashes(2L), hashes(3L)) <= 3)
    // hash matches a driver-side decode+dhash of the same bytes
    val Some((w, h, luma)) = Multimodal.decodeBmp(
      Multimodal.bmpBytes(27, 16, (x, y) => (17 * (5L / 4) + 7 * x + 13 * y + 5 % 4).toInt % 256))
    assert(hashes(5L) == Multimodal.dhashOf(w, h, luma))
  }

  test("PNG decode path: codec round-trip equals the BMP path pixel for pixel") {
    import spark.implicits._
    val d = (0L until 20L).toDF("doc_id")
    val bmp = Multimodal.imageDHash(spark, Multimodal.synthesizeBmpMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val png = Multimodal.imageDHash(spark, Multimodal.synthesizePngMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical pixels through two decoders (hand BMP parser vs the
    // javax.imageio PNG inflate) must hash IDENTICALLY — PNG is
    // lossless; corrupt rows (id % 17 == 0) drop on both paths
    assert(png == bmp)
    // driver-side: decodeImagePixels reads the real compressed container
    val Some((w, h, luma)) = Multimodal.decodeImagePixels(
      Multimodal.pngGrayBytes(27, 16, (x, y) => (7 * x + 13 * y + 17) % 256))
    assert(w == 27 && h == 16)
    assert(luma(3, 2) == (7 * 3 + 13 * 2 + 17) % 256)
    // malformed payloads: truncated signature; valid sig + truncated body
    assert(Multimodal.decodeImagePixels(Array[Byte](0x89.toByte, 0x50)).isEmpty)
    assert(Multimodal.decodeImagePixels(
      Multimodal.pngGrayBytes(4, 4, (_, _) => 1).take(20)).isEmpty)
  }

  test("GIF fixture path: the JDK gray-to-palette round trip equals BMP") {
    import spark.implicits._
    val d = (0L until 20L).toDF("doc_id")
    val bmp = Multimodal.imageDHash(spark, Multimodal.synthesizeBmpMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the exact TYPE_BYTE_GRAY -> GIFImageWriter -> IndexColorModel
    // path the fixture generator uses (the earlier GIF losslessness
    // check encodes TYPE_INT_RGB — a different writer palette path), so
    // a JDK palette-quantization change fails HERE, not as an opaque
    // gate hash mismatch
    val gif = Multimodal.imageDHash(spark, Multimodal.synthesizeGifMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gif == bmp)
  }

  test("JPEG and GIF ride the same decode path (lossy-tolerant near-dup)") {
    // encode the SAME gradient as a real JPEG via the JDK codec
    val img = new java.awt.image.BufferedImage(27, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def px(x: Int, y: Int): Int = (17 * 3 + 7 * x + 13 * y) % 256
    for (y <- 0 until 16; x <- 0 until 27) {
      val v = px(x, y)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val jout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jout)
    val jb = jout.toByteArray
    val Some((w, h, luma)) = Multimodal.decodeImagePixels(jb)
    assert(w == 27 && h == 16)
    // dHash of the lossy decode lands within a small Hamming distance of
    // the lossless hash — the perceptual property the pair join needs
    val lossless = Multimodal.dhashOf(27, 16, px)
    val lossy = Multimodal.dhashOf(w, h, luma)
    val dist = java.lang.Long.bitCount(lossless ^ lossy)
    assert(dist <= 8, s"JPEG re-encode drifted $dist dHash bits")
    // GIF (palette container) decodes losslessly for 256-gray content
    val gout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", gout)
    val Some((gw, gh, gluma)) = Multimodal.decodeImagePixels(gout.toByteArray)
    assert(gw == 27 && gh == 16)
    assert(Multimodal.dhashOf(gw, gh, gluma) == lossless)
    // corrupt payloads: truncated mid-stream JPEG -> dropped, no throw
    assert(Multimodal.decodeImagePixels(jb.take(8)).isEmpty)
  }

  test("WAV PCM16 decode: chunk walk, format gates, signed sample read") {
    // hand-built canonical WAV: 4 samples with known signed values
    val b = Multimodal.wavBytes(1, 8000, 8)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(44, 100).putShort(46, -5).putShort(48, 0).putShort(50, 32767)
    val Some((n, sample)) = Multimodal.decodeWavPcm16(b)
    assert(n == 4 && sample(0) == 100 && sample(1) == -5 &&
      sample(2) == 0 && sample(3) == 32767)
    // structural violations -> None, never a throw
    assert(Multimodal.decodeWavPcm16("RIF".getBytes).isEmpty)           // truncated
    assert(Multimodal.decodeWavPcm16(b.take(40)).isEmpty)               // no data chunk
    val bad8 = b.clone(); bad8(34) = 8                                  // bits = 8
    assert(Multimodal.decodeWavPcm16(bad8).isEmpty)
    val alaw = b.clone(); alaw(20) = 6                                  // fmt != PCM
    assert(Multimodal.decodeWavPcm16(alaw).isEmpty)
    val lying = b.clone(); lying(43) = 0x7F                             // data len > file
    assert(Multimodal.decodeWavPcm16(lying).isEmpty)
  }

  test("energy fingerprint hand-computed: cyclic gradient, gain invariance") {
    // 64 samples, one per block: e(b) = |s(b)|; strictly increasing
    // energies set ONLY the cyclic wrap bit (e(63) > e(0))
    assert(Multimodal.energyFingerprintOf(64, i => i + 1) ==
      Some(java.lang.Long.MIN_VALUE)) // 1L << 63
    // flat -> no strict inequality anywhere
    assert(Multimodal.energyFingerprintOf(64, _ => 7) == Some(0L))
    // alternating 0,9 energies: even blocks 0 < odd blocks 9, so exactly
    // the odd bits set (cyclic: e(63)=9 > e(0)=0 included)
    assert(Multimodal.energyFingerprintOf(64, i => if (i % 2 == 0) 0 else 9) ==
      Some(java.lang.Long.parseUnsignedLong("aaaaaaaaaaaaaaaa", 16)))
    // |amplitude|: sign does not matter; uniform gain does not matter
    val base = (i: Int) => ((i * 37) % 101) - 50
    val g1 = Multimodal.energyFingerprintOf(512, base)
    assert(g1 == Multimodal.energyFingerprintOf(512, i => -base(i)))
    assert(g1 == Multimodal.energyFingerprintOf(512, i => base(i) * 3))
    // shorter than one sample per block -> no 64-block structure
    assert(Multimodal.energyFingerprintOf(63, i => i).isEmpty)
  }

  test("audioFingerprint drops corrupt payloads and round-trips the fixture") {
    import spark.implicits._
    val d = (0L until 20L).toDF("doc_id")
    val fps = Multimodal.audioFingerprint(spark,
        Multimodal.synthesizeWavAudio(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // id % 17 == 0 payloads are truncated-corrupt -> no row
    assert(!fps.contains(0L) && !fps.contains(17L) && fps.size == 18)
    // same id/4 group differs by a ±9 DC shift -> small Hamming distance;
    // different groups are effectively random (far apart)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(4L), fps(5L)) <= 5 && ham(fps(8L), fps(9L)) <= 5)
    assert(ham(fps(4L), fps(8L)) > 10)
    // fingerprint matches a driver-side recomputation from the synthesis
    // formula — pins decode+fingerprint against the arithmetic the
    // DuckDB oracle uses
    val g = 5L / 4; val fg = (g * 2654435761L) % 65537L + 1L
    val s = (0 until 512).map(i =>
      (((fg * (i.toLong * i + 3L * i + 7L)) % 65537L) % 2048L - 1024L +
        3L * (5L % 4)).toInt)
    assert(fps(5L) == Multimodal.energyFingerprintOf(512, s(_)).get)
  }

  test("JPEG fixture: corrupt drops, near-dup structure, drift bounded") {
    import spark.implicits._
    val d = (0L until 40L).toDF("doc_id")
    val hashes = Multimodal.imageDHash(spark,
        Multimodal.synthesizeJpegMedia(spark, d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // id % 17 == 0 payloads are a truncated SOI/APP0 prefix -> dropped
    assert(!hashes.contains(0L) && !hashes.contains(17L) &&
      !hashes.contains(34L) && hashes.size == 37)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // lossy codec drift vs the arithmetic gradient stays small (measured
    // 0..4 bits across 1000 fixture ids — ProfileJpegDedup / DESIGN r17),
    // so within-group variants keep their near-dup structure
    def formula(id: Long) = Multimodal.dhashOf(27, 16,
      (x, y) => ((17 * (id / 4) + 7 * x + 13 * y + id % 4) % 256).toInt)
    for (id <- hashes.keys)
      assert(ham(hashes(id), formula(id)) <= 6, s"doc $id drifted")
  }

  test("imageLumaGrid: the dump re-derives imageDHash bit for bit") {
    import spark.implicits._
    // the consistency the p_mm_dedup_jpeg oracle rests on: folding the
    // dumped 9×8 grid through dhashOf's bit rule reproduces the very
    // hash imageDHash emitted for the same payloads
    val d = (0L until 30L).toDF("doc_id")
    val media = Multimodal.synthesizeJpegMedia(spark, d)
    val hashes = Multimodal.imageDHash(spark, media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grid = Multimodal.imageLumaGrid(spark, media)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    // corrupt ids appear in neither frame
    assert(grid.keys.map(_._1).toSet == hashes.keySet)
    for (id <- hashes.keys) {
      var h = 0L
      var k = 0
      for (r <- 0 until 8; c <- 0 until 8) {
        if (grid((id, r.toLong, c.toLong)) < grid((id, r.toLong, c + 1L)))
          h |= (1L << k)
        k += 1
      }
      assert(h == hashes(id), s"doc $id grid-derived hash mismatch")
    }
  }

  test("gray+alpha PNG hashes like pure gray (raster band-0, not sRGB getRGB)") {
    def px(x: Int, y: Int): Int = (7 * x + 13 * y + 3) % 256
    val Some((w, h, luma)) = Multimodal.decodeImagePixels(
      Multimodal.pngGrayAlphaBytes(27, 16, px))
    assert(w == 27 && h == 16)
    // STORED gray survives: getRGB's linear-gray -> sRGB conversion
    // would read 64 back as 137 (r16 gotcha) and collapse adjacent ties
    for (x <- 0 until 27; y <- 0 until 16 if (x + y) % 5 == 0)
      assert(luma(x, y) == px(x, y), s"px($x,$y)")
    // identical pixels in gray vs gray+alpha containers hash IDENTICALLY
    val Some((_, _, pure)) = Multimodal.decodeImagePixels(
      Multimodal.pngGrayBytes(27, 16, px))
    assert(Multimodal.dhashOf(27, 16, luma) ==
      Multimodal.dhashOf(27, 16, pure))
    // a translucent alpha plane does not perturb the gray band read
    val Some((_, _, halfA)) = Multimodal.decodeImagePixels(
      Multimodal.pngGrayAlphaBytes(27, 16, px, alpha = 128))
    assert(Multimodal.dhashOf(27, 16, halfA) ==
      Multimodal.dhashOf(27, 16, pure))
  }
}

class CorpusSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("boilerplate removal: df threshold, line order, all-struck doc row") {
    import TestSpark.spark.implicits._
    // "cookie banner" occurs in 4 distinct docs (twice inside doc 3 —
    // distinct-doc df counts it once, but BOTH copies are struck);
    // "twice line" is in only 2 docs so it survives minDf = 3
    val d = Seq(
      (1L, "cookie banner\nunique alpha\ntwice line"),
      (2L, "unique beta\ncookie banner\ntwice line"),
      (3L, "cookie banner\ncookie banner\nunique gamma"),
      (4L, "cookie banner"),
      (5L, "z tail\ncookie banner\na head")).toDF("doc_id", "text")
    val got = Corpus.boilerplateRemove(d, minDf = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("unique alpha\ntwice line", 2L, 1L)))
    assert(got(2L) == (("unique beta\ntwice line", 2L, 1L)))
    assert(got(3L) == (("unique gamma", 1L, 2L)))
    // fully-boilerplate doc keeps its row with empty text
    assert(got(4L) == (("", 0L, 1L)))
    // original line ORDER is preserved (position sort, not lexicographic)
    assert(got(5L) == (("z tail\na head", 2L, 1L)))
    // df boundary: at minDf = 2 the twice-line is boilerplate too
    val got2 = Corpus.boilerplateRemove(d, minDf = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(1L) == "unique alpha" && got2(2L) == "unique beta")
  }

  test("shard manifest: order/partitioning-invariant, one mutation flips one shard") {
    import TestSpark.spark.implicits._
    val m1 = Corpus.shardManifest(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m1.size == 8 && m1.values.map(_._1).sum == docs.count())
    // row order and partitioning are free to differ: xor commutes
    val m2 = Corpus.shardManifest(
        docs.orderBy(org.apache.spark.sql.functions.rand(7)).repartition(3))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(m2 == m1)
    // mutate ONE document: only its shard's content hash (and token
    // total) may change; every other shard row is identical
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.when(col("doc_id") === 11L,
        org.apache.spark.sql.functions.concat(col("text"),
          org.apache.spark.sql.functions.lit(" tampered")))
        .otherwise(col("text")))
    val m3 = Corpus.shardManifest(mutated).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val changed = m3.filter { case (k, v) => m1(k) != v }.keySet
    assert(changed == Set(11L % 8), s"changed shards: $changed")
    assert(m3(3L)._3 != m1(3L)._3 && m3(3L)._1 == m1(3L)._1)
  }

  test("updateManifest: incremental add/remove match from-scratch manifests") {
    import org.apache.spark.sql.functions.pmod
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    // add: manifest(corpus) ⊕ delta == manifest(corpus ∪ delta), bit-exact
    assert(rows(Corpus.updateManifest(Corpus.shardManifest(corpus), delta))
      == rows(Corpus.shardManifest(docs)))
    // remove is the same fold (xor self-inverse): full ⊖ delta == corpus
    assert(rows(Corpus.updateManifest(Corpus.shardManifest(docs), delta,
        remove = true))
      == rows(Corpus.shardManifest(corpus)))
    // a removal that empties a shard drops its row, matching the fresh
    // manifest of the remainder
    val only3 = docs.filter(pmod(col("doc_id"), lit(8)) === 3)
    val emptied = Corpus.updateManifest(Corpus.shardManifest(docs), only3,
      remove = true)
    assert(rows(emptied) == rows(Corpus.shardManifest(
      docs.filter(pmod(col("doc_id"), lit(8)) =!= 3))))
    assert(!rows(emptied).contains(3L))
  }

  test("updateManifest: mismatched shard count fails loudly, not corruptly") {
    import org.apache.spark.sql.functions.pmod
    // prev built 16-way, updated 8-way: shard ids 8..15 are unreachable
    // by the delta's sharding — the lazy assert must throw at execution
    val prev16 = Corpus.shardManifest(docs, shards = 16)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val ex = intercept[Exception] {
      Corpus.updateManifest(prev16, delta, shards = 8).collect()
    }
    assert(ex.getMessage != null || ex.getCause != null) // thrown, not corrupt
  }

  test("writeShards releases its tracked caches (terminal operation)") {
    val dir = TestSpark.tempDir("graft_shards2")
    // a frame the CALLER tracked: writeShards must release only its own
    val mine = docs.select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.pipeline.PipelineCaches.track)
    mine.count()
    val before = graft.pipeline.PipelineCaches.trackedCount
    try {
      graft.pipeline.Sampling.writeShards(docs, dir, shards = 4)
      assert(graft.pipeline.PipelineCaches.trackedCount == before,
        "writeShards left tracked pipeline caches behind")
      assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "writeShards released the caller's tracked frame")
    } finally {
      graft.pipeline.PipelineCaches.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("stratified sample is deterministic and respects per-stratum rates") {
    val rates = Map("en" -> 50, "zh" -> 10)
    val s1 = Corpus.stratifiedSample(docs, rates, defaultNum = 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Corpus.stratifiedSample(docs, rates, defaultNum = 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty) // same rows every run — no rand()
    // exact membership is reproducible from the hash definition
    val all = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = all.collect { case (id, lang)
      if (id % 2147483647L) * 48271L % 2147483647L * 48271L % 2147483647L % 100 <
        rates.getOrElse(lang, 25) => id }.toSet
    assert(s1 == expected)
    // strided ids (all multiples of 100) must still sample at ~the rate:
    // a non-mixing (id*a) % 100 would keep 0% or 100% of them
    import TestSpark.spark.implicits._
    val strided = (1 to 2000).map(i => (i * 100L, "en")).toDF("doc_id", "lang")
    val kept = Corpus.stratifiedSample(strided, Map("en" -> 25), defaultNum = 25)
      .count().toDouble / 2000
    assert(kept > 0.15 && kept < 0.35, s"strided keep rate $kept far from 0.25")
    // rate bounds are validated
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(docs, Map("en" -> 200), defaultNum = 25)
    }
  }

  test("ngram top-k: hand-checked document frequencies and tie order") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),   // shingles: "a b c", "b c d"
      (2L, "a b c"),     // "a b c"
      (3L, "b c d e"))   // "b c d", "c d e"
      .toDF("doc_id", "text")
    val top = Corpus.ngramTopK(d, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "a b c" and "b c d" both have doc_freq 2; tie broken by ngram ASC
    assert(top == Seq(("a b c", 2L), ("b c d", 2L)))
  }

  test("contamination counts distinct shared shingles against the eval set") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps"),  // shares "the quick brown", "quick brown fox" w/ eval
      (2L, "totally clean document text here"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox sleeps"))
      .toDF("doc_id", "text")
    val got = Corpus.contamination(train, eval_)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L)) // doc 2 clean ⇒ absent, not zero
  }

  test("length stats: exact interpolated percentiles on a known multiset") {
    import spark.implicits._
    // token counts 1..5 for lang en: p50 = 3, p95 = 0.95*(5-1)=3.8 ⇒ 4.8
    val d = (1 to 5).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val r = Corpus.lengthStats(d).collect().head
    assert(r.getString(0) == "en" && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 3.0)          // mean
    assert(r.getDouble(3) == 3.0)          // p50
    assert(r.getDouble(4) == 4.8)          // p95: v(3) + 0.8*(v(4)-v(3))
    assert(r.getDouble(5) == 4.96)         // p99: 0.99*4 = 3.96 ⇒ 4.96
  }

  test("ngram top-k plan: TakeOrderedAndProject, no global sort") {
    val plan = Corpus.ngramTopK(docs, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("repetition stats: hand-checked fractions") {
    import spark.implicits._
    val d = Seq(
      // 4 words, 3 distinct ("spam" twice), top word 2/4;
      // 2-grams: "spam spam","spam a","a b" — 3 total, 3 distinct
      (1L, "spam spam a b"),
      // all same word: dup_word 1-1/3, top 3/3, 2-grams "x x","x x" dup 1-1/2
      (2L, "x x x"),
      // single word: 1 word, lone "2-gram" = the word itself
      (3L, "solo"))
      .toDF("doc_id", "text")
    val got = Corpus.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((0.25, 0.5, 0.0)))
    assert(got(2L) == ((0.666667, 1.0, 0.5))) // 1 - 1/3 rounded to 6 dp
    assert(got(3L) == ((0.0, 1.0, 0.0)))
  }

  test("sequence packing: running sums and bin spillover within shards") {
    import spark.implicits._
    // one shard (ids 0,8,16 ≡ 0 mod 8): token counts 3, 2, 4
    // cum: 3, 5, 9; with seqLen=4 the bins-where-doc-starts are 0, 0, 1
    val d = Seq(
      (0L, "a b c"), (8L, "d e"), (16L, "f g h i"))
      .toDF("doc_id", "text")
    val got = Corpus.packSequences(d, seqLen = 4, shards = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(0L) == ((0L, 3L, 3L, 0L)))
    assert(got(8L) == ((0L, 2L, 5L, 0L)))
    assert(got(16L) == ((0L, 4L, 9L, 1L)))
    // determinism
    assert(Corpus.packSequences(d, seqLen = 4, shards = 8).collect().toSeq ==
      Corpus.packSequences(d, seqLen = 4, shards = 8).collect().toSeq)
  }

  test("decontaminate = train minus contaminated, columns intact") {
    import spark.implicits._
    val train = Seq(
      (1L, "a b c d e"), (2L, "x y z w v"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "b c d unrelated words")).toDF("doc_id", "text")
    // doc 1 shares 3-shingle "b c d" with eval; 2 and 3 are clean
    val clean = Corpus.decontaminate(train, eval_)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(clean.columns.toSeq == train.columns.toSeq)
  }

  test("bm25: hand-checked score, ranking sanity, no-match rows absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a b"),   // tf(a)=2, dl=3
      (2L, "b c"),     // no 'a' ⇒ absent for query [a]
      (3L, "a b c d")) // tf(a)=1, dl=4
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Scores(d, Seq("a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 3L))
    // exact formula replication: N=3, df=2, avgdl=3
    def score(tf: Double, dl: Double): Double = {
      val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
      val raw = idf * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / 3.0))
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(1L) == ((1L, score(2.0, 3.0))), got.toString)
    assert(got(3L) == ((1L, score(1.0, 4.0))), got.toString)
    // higher tf at equal length outranks; matched_terms counts terms
    val multi = TextAnalysis.bm25Scores(d, Seq("a", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    // validation: duplicates and empty query sets are loud
    intercept[IllegalArgumentException](TextAnalysis.bm25Scores(d, Seq.empty))
    intercept[IllegalArgumentException](TextAnalysis.bm25Scores(d, Seq("a", "a")))
  }

  test("bloom decontaminate = exact decontaminate; probe is codegen'd, not a UDF") {
    import spark.implicits._
    val train = (1L to 60L).map(i =>
      (i, if (i % 5 == 0) s"shared shingle text $i overlap token stream"
          else s"clean doc $i with unique words ${i * 7} ${i * 13}"))
      .toDF("doc_id", "text")
    val eval_ = Seq((100L, "shared shingle text plus overlap token stream"))
      .toDF("doc_id", "text")
    val exact = Corpus.decontaminate(train, eval_)
      .collect().map(_.getLong(0)).toSet
    val bloomed = Corpus.decontaminateBloom(train, eval_)
    assert(bloomed.collect().map(_.getLong(0)).toSet == exact)
    assert(bloomed.columns.toSeq == train.columns.toSeq)
    // tiny fpp changes nothing: the verify join is the correctness gate
    assert(Corpus.decontaminateBloom(train, eval_, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet == exact)
    // large-filter path (forced with maxLiteralBytes = 0): the filter is
    // aggregated in-query and probed via scalar subquery — same result,
    // and the plan carries an ObjectHashAggregate of bloom_filter_agg
    // instead of a multi-KB binary literal
    val big = Corpus.decontaminateBloom(train, eval_, maxLiteralBytes = 0L)
    assert(big.collect().map(_.getLong(0)).toSet == exact)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("might_contain"), bigPlan)
    assert(bigPlan.contains("bloom_filter_agg") ||
      big.queryExecution.analyzed.toString.contains("bloomfilteraggregate") ||
      big.queryExecution.analyzed.toString.contains("bloom_filter_agg"), bigPlan)
    // the prefilter compiles to Spark's native might_contain over
    // xxhash64 — inside codegen, no Scala UDF anywhere in the plan
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython") &&
           !plan.contains("UDF"), plan)
    graft.pipeline.PipelineCaches.clear()
  }

  test("mixture sampling: whole epochs exact, weight-0 dropped, frac = stratified") {
    import spark.implicits._
    val d = (0L until 40L).map(i =>
      (i, if (i < 10) "a" else if (i < 20) "b" else "c", s"t$i"))
      .toDF("doc_id", "source", "text")
    val got = Corpus.mixtureSample(d, Map("a" -> 2.0, "b" -> 0.0),
        defaultWeight = 1.0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: 10 docs x 2 epochs; b: dropped entirely; c: 20 docs x 1 epoch
    assert(got == Map("a" -> 20L, "c" -> 20L))

    // fractional-only weight keeps exactly the stratifiedSample rows, at epoch 0
    val frac = Corpus.mixtureSample(d, Map.empty, defaultWeight = 0.25, den = 100)
    val strat = Corpus.stratifiedSample(d, Map.empty, defaultNum = 25, den = 100,
      strataCol = "source")
    assert(frac.select("doc_id").collect().map(_.getLong(0)).toSet ==
      strat.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(frac.select("epoch").collect().forall(_.getLong(0) == 0L))
    // determinism
    assert(Corpus.mixtureSample(d, Map("a" -> 2.5)).count() ==
      Corpus.mixtureSample(d, Map("a" -> 2.5)).count())
  }

  test("temperature weights: alpha flattens toward rare domains, hand-exact") {
    import spark.implicits._
    val d = ((0L until 8L).map(i => (i, "a")) ++ Seq((8L, "b"), (9L, "b")))
      .toDF("doc_id", "source")
    val got = graft.pipeline.Sampling.temperatureWeights(d, "source", alpha = 0.5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    // shares .8/.2 -> sqrt .894427/.447214, denom 1.341641: temp 2/3, 1/3
    assert(got("a") == ((8L, 0.8, 0.666667, 0.8333, 0.8333, 1L)))
    assert(got("b") == ((2L, 0.2, 0.333333, 1.6667, 1.0, 2L)))
    // alpha = 1 is the identity mix: every weight exactly 1
    assert(graft.pipeline.Sampling.temperatureWeights(d, "source", alpha = 1.0).collect()
      .forall(r => r.getDouble(4) == 1.0))
    assertThrows[IllegalArgumentException](
      graft.pipeline.Sampling.temperatureWeights(d, "source", alpha = 0.0))
    assertThrows[IllegalArgumentException](
      graft.pipeline.Sampling.temperatureWeights(d, "source", alpha = 1.5))
  }

  test("temperature sample: realizes the 4-dp report weights exactly") {
    import spark.implicits._
    // 16a / 4b keeps the .8/.2 shares (weights .8333 / 1.6667) while the
    // id range includes both a fractional drop and a replication
    val d = (0L until 20L).map(i => (i, if (i < 16) "a" else "b"))
      .toDF("doc_id", "source")
    // the spec-side MINSTD² mirror of Corpus.lcgBucket
    def bucket(id: Long): Long =
      id % 2147483647L * 48271L % 2147483647L * 48271L % 2147483647L % 1000000L
    val got = graft.pipeline.Sampling.temperatureSample(d, "source", alpha = 0.5)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a-docs (weight .8333) keep iff bucket < 833300; b-docs (1.6667) get
    // one whole epoch plus a fractional one iff bucket < 666700
    val expected = (0L until 20L).flatMap { i =>
      val n = if (i < 16) (if (bucket(i) < 833300L) 1L else 0L)
              else 1L + (if (bucket(i) < 666700L) 1L else 0L)
      if (n > 0) Some(i -> n) else None
    }.toMap
    assert(got == expected)
    // both replicated and dropped rows actually occur on this fixture
    assert(got.values.exists(_ == 2L) && !(0L until 16L).forall(got.contains))
  }
}

class MetadataSpec extends AnyFunSuite {
  import TestSpark._

  test("JSON metadata extraction: typed fields, corrupt rows become NULL") {
    import spark.implicits._
    val d = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": 42}"""),
      (3L, "not json at all"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "props")
    val got = pipeline.Metadata.parseJson(d, "props", "k INT, tag STRING")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(r.fieldIndex("k"))), Option(r.get(r.fieldIndex("tag"))))))
      .toMap
    assert(got(1L) == ((Some(7), Some("a"))))
    assert(got(2L) == ((Some(42), None)))      // missing field -> NULL
    assert(got(3L) == ((None, None)))          // corrupt row survives as NULLs
    assert(got(4L) == ((None, None)))
  }

  test("JSON int-field profile: buckets, counts, averages") {
    import spark.implicits._
    val d = Seq(
      (1L, """{"k": 3}""", 10.0), (2L, """{"k": 7}""", 20.0),
      (3L, """{"k": 12}""", 30.0), (4L, "garbage", 99.0))
      .toDF("id", "props", "value")
    val got = pipeline.Metadata.profileIntField(d, "props", "k", 10, col("value"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(0 -> ((2L, 15.0)), 1 -> ((1L, 30.0))))
  }
}

class SamplingSpec extends AnyFunSuite {
  import TestSpark._
  import graft.pipeline.Sampling

  private lazy val docs: DataFrame = {
    import spark.implicits._
    (0L until 200L).map(i =>
      (i, s"word$i text with ${"pad " * (i % 7).toInt}end",
        if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr",
        s"src${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("negative ids fail LOUDLY on every LCG mirror path (id-sign contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the documented DuckDB mirrors spell the first LCG reduction with
    // sign-following %, so a signed-id corpus would silently land in
    // different shards/splits/samples than the mirror predicts — the
    // shared entry points now raise per-row instead (r16 verdict #5)
    val signed = Seq((-5L, "neg text", "en", "s0"), (7L, "pos", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
    def loud(f: => Unit): Unit = {
      val e = intercept[Exception] { f }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("negative id")), e.toString)
    }
    loud(Sampling.assignSplits(signed).collect())
    loud(Sampling.seededShuffle(signed).collect())
    loud(Sampling.weightedSample(
      signed.withColumn("w", org.apache.spark.sql.functions.lit(1.0)),
      k = 1, weightCol = "w").collect())
    loud(graft.pipeline.Corpus.stratifiedSample(
      signed, Map("en" -> 50), defaultNum = 50).collect())
    loud(graft.pipeline.Corpus.mixtureSample(
      signed, Map("s0" -> 1.0), defaultWeight = 1.0).collect())
    // non-negative ids: untouched fast path, zero behavior change
    assert(Sampling.assignSplits(signed.filter(col("doc_id") >= 0))
      .count() == 1)
  }

  test("assignSplits: exhaustive, deterministic, append-stable, validated") {
    val got = Sampling.assignSplits(docs)
    val bySplit = got.collect().map(r =>
      r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    // exhaustive over the declared names
    assert(bySplit.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.size == 200)
    // roughly proportional (hash-driven, not exact)
    val trainN = bySplit.values.count(_ == "train")
    assert(trainN > 150 && trainN < 200, s"train=$trainN")
    // deterministic
    val again = Sampling.assignSplits(docs).collect().map(r =>
      r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    assert(again == bySplit)
    // append-stable: assignments computed on any subset agree (a pure
    // function of id and seed — corpus growth never moves a document)
    import org.apache.spark.sql.functions.col
    val subset = Sampling.assignSplits(docs.filter(col("doc_id") < 50))
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    assert(subset.forall { case (id, s) => bySplit(id) == s })
    // a different seed reshuffles membership
    val otherSeed = Sampling.assignSplits(docs, seed = 99L).collect().map(r =>
      r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    assert(otherSeed != bySplit)
    // remainder goes to the last split: fractions summing under 1
    val under = Sampling.assignSplits(docs,
      fractions = Seq("a" -> 0.5, "b" -> 0.25)).collect()
      .map(_.getString(4)).groupBy(identity).view.mapValues(_.length).toMap
    assert(under.keySet == Set("a", "b") && under("b") > 0)
    // validation
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, fractions = Seq("a" -> 0.9, "b" -> 0.2)))
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, fractions = Seq("a" -> 0.5, "a" -> 0.5)))
  }

  test("weightedSample: E-S top-k matches hand LCG/ln recompute, excludes w<=0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val weighted = docs.withColumn("w", (col("doc_id") % 10L).cast("long"))
    val got = Sampling.weightedSample(weighted, k = 20, weightCol = "w")
      .select("doc_id", "es_key").collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("es_key"))))
    // hand recompute: MINSTD^2 with seed folded in, u = (b+1)/1e6,
    // key = round(ln(u)/w, 6); w = id % 10, zero weights (id % 10 == 0)
    // can never be drawn
    val m = 2147483647L
    val expect = (0L until 200L).filter(_ % 10 != 0).map { id =>
      val b = (id % m + 29) * 48271 % m * 48271 % m % 1000000
      val key = BigDecimal(math.log((b + 1) / 1e6) / (id % 10))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, key)
    }.sortBy { case (id, k2) => (-k2, id) }.take(20)
    assert(got.toSeq == expect)
    assert(got.forall(_._1 % 10 != 0))
    // deterministic across runs
    val again = Sampling.weightedSample(weighted, k = 20, weightCol = "w")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(again == got.map(_._1).toSeq)
    // k beyond the positive-weight population returns all of it
    assert(Sampling.weightedSample(weighted, k = 1000, weightCol = "w")
      .count() == 180)
    intercept[IllegalArgumentException](
      Sampling.weightedSample(weighted, k = 0, weightCol = "w"))
  }

  test("packingStats: hand-computed fill fractions incl. straddle spill") {
    import spark.implicits._
    // one shard, seqLen 10: docs of 4+4+4 tokens -> bins 0,0,0 (start
    // offsets 0,4,8) -> n_bins 1, total 12, fill 1.2 (straddle spill);
    // second shard: 3 tokens -> 1 bin, fill 0.3
    val packed = Seq(
      (1L, 0L, 4L, 4L, 0L), (2L, 0L, 4L, 8L, 0L), (3L, 0L, 4L, 12L, 0L),
      (4L, 1L, 3L, 3L, 0L))
      .toDF("doc_id", "shard", "n_tokens", "cum_tokens", "seq_bin")
    val got = graft.pipeline.Corpus.packingStats(packed, seqLen = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(0L) == ((3L, 12L, 1L, 1.2)))
    assert(got(1L) == ((1L, 3L, 1L, 0.3)))
  }

  test("trimOutliers: closed percentile band, per-stratum bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // lang 'a': 11 docs with 1..11 tokens -> p05 pos = 0.5 (between 1 and
    // 2 tokens), p95 pos = 9.5 (between 10 and 11) -> survivors 2..10;
    // lang 'b': uniform 5 tokens -> degenerate band keeps everything
    val d = (
      (1 to 11).map(i => (i.toLong, ("w " * i).trim, "a")) ++
      (1 to 4).map(i => (100L + i, "x y z q r", "b")))
      .toDF("doc_id", "text", "lang")
    val kept = graft.pipeline.Corpus.trimOutliers(d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ((2 to 10).map(_.toLong).toSet ++ (1 to 4).map(100L + _)))
    // boundary docs at an integral percentile position stay IN (closed
    // band): p0/p100 keeps all
    assert(graft.pipeline.Corpus.trimOutliers(d, 0.0, 1.0).count() == 15)
    intercept[IllegalArgumentException](
      graft.pipeline.Corpus.trimOutliers(d, 0.9, 0.1))
  }

  test("meanPool: hand-computed means, chunk-order canonicalization") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val chunks = Seq(
      (1L, 10L, Seq(1.0f, 2.0f)), (1L, 11L, Seq(3.0f, 4.0f)),
      (1L, 12L, Seq(5.0f, 0.0f)),
      (2L, 20L, Seq(-1.5f, 2.5f)))
      .toDF("doc_id", "chunk_id", "vec")
    val got = graft.pipeline.Similarity.meanPool(chunks).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L) == Seq(3.0, 2.0))
    assert(got(2L) == Seq(-1.5, 2.5))
    // input row order is irrelevant: the fold canonicalizes on chunk_id
    val shuffled = graft.pipeline.Similarity.meanPool(
        chunks.orderBy(col("chunk_id").desc).repartition(5)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(shuffled == got)
  }

  test("vocabEstimate: exact under k, sketch near truth over k") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // lang 'a': 12 distinct tokens (< k=256) -> exact count, est == n_min;
    // lang 'b': 3000 distinct tokens -> sketch path, est within ~25%
    val d = (
      (0 until 6).map(i => (i.toLong, s"alpha$i beta$i", "a")) ++
      (0 until 100).map(i => (100L + i,
        (0 until 30).map(j => s"tok${i * 30 + j}").mkString(" "), "b")))
      .toDF("doc_id", "text", "lang")
    val got = graft.pipeline.Corpus.vocabEstimate(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("a") == ((12L, 12.0)))
    val (nMinB, estB) = got("b")
    assert(nMinB == 256L)
    assert(math.abs(estB - 3000.0) / 3000.0 < 0.25, s"est=$estB")
    // deterministic across runs
    val again = graft.pipeline.Corpus.vocabEstimate(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == got)
  }

  test("assignSplitsByCluster: cluster members never straddle the split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hand-built clusters: docs 0..99 pair up (2k, 2k+1) -> cluster 2k;
    // docs 100..199 are singletons (cluster = own id)
    val clusters = (0L until 200L).map(i =>
      (i, if (i < 100) i - i % 2 else i)).toDF("doc_id", "cluster_id")
    val got = Sampling.assignSplitsByCluster(docs, clusters)
      .select("doc_id", "cluster_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 200)
    // the leakage guarantee: one split per cluster
    assert(got.groupBy(_._2).forall { case (_, g) => g.map(_._3).distinct.length == 1 })
    // a cluster's split IS assignSplits of its cluster id, so singletons
    // agree with the per-doc split exactly
    val perDoc = Sampling.assignSplits(docs).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    assert(got.filter(_._1 >= 100L).forall { case (id, _, s) => perDoc(id) == s })
    // paired docs both follow the EVEN member's per-doc assignment
    assert(got.filter(_._1 < 100L).forall { case (_, c, s) => perDoc(c) == s })
  }

  test("chunkDocuments: stride windows, overlap, short tail, empty doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // shorter than one window
      (3L, "")                     // empty
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Corpus.chunkDocuments(docs, maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // stride 3: starts 0,3,6,9 for doc 1 — consecutive chunks share 1 token
    assert(out == Seq(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "d e f g", 4L),
      (1L, 2L, "g h i j", 4L), (1L, 3L, "j", 1L),
      (2L, 0L, "x y", 2L),
      (3L, 0L, "", 1L)))
    // no token is lost and overlaps are exactly the shared boundary tokens
    val doc1 = out.filter(_._1 == 1L).map(_._3.split(" ").toSeq)
    assert(doc1.flatten.distinct == Seq("a","b","c","d","e","f","g","h","i","j"))
    assertThrows[IllegalArgumentException](
      graft.pipeline.Corpus.chunkDocuments(docs, maxTokens = 4, overlap = 4))
  }

  test("mixture weights: shares sum to 1, weight realizes the target") {
    val got = Sampling.mixtureWeights(docs, "lang",
      Map("en" -> 0.6, "de" -> 0.2)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    // 200 docs: en 67, de 67, fr 66
    assert(got("en")._1 == 67L)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
    // en: target .6 / share .335 => weight 1.7910 (up-sample, 2 repeats)
    assert(got("en")._3 == 1.791 && got("en")._4 == 1.0 && got("en")._5 == 2L)
    // de: target .2 / share .335 => weight 0.597 (down-sample at .597)
    assert(got("de")._3 == 0.597 && got("de")._4 == 0.597 && got("de")._5 == 1L)
    // fr absent from target => weight 0 (drop)
    assert(got("fr")._3 == 0.0)
    // a TARGET domain with zero observed rows still appears in the
    // report: n 0, share 0, weight NULL (unrealizable by resampling)
    val withGhost = Sampling.mixtureWeights(docs, "lang",
      Map("en" -> 0.5, "code" -> 0.5)).collect()
      .map(r => r.getString(0) -> r).toMap
    val ghost = withGhost("code")
    assert(ghost.getLong(1) == 0L && ghost.getDouble(2) == 0.0)
    assert(ghost.isNullAt(3) && ghost.isNullAt(4) && ghost.isNullAt(5))
  }

  test("seeded shuffle: a permutation, deterministic, seed-sensitive, shard-parallel") {
    val df = Sampling.seededShuffle(docs, shards = 4)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == (0L until 200L).toSet) // every doc, once
    // positions within a shard are exactly 1..n
    for ((_, inShard) <- got.groupBy(_._2))
      assert(inShard.map(_._3).sorted.toSeq == (1L to inShard.length))
    // deterministic across evaluations...
    assert(rows(df) == rows(Sampling.seededShuffle(docs, shards = 4)))
    // ...and a different seed is a genuinely different permutation
    assert(rows(df) != rows(Sampling.seededShuffle(docs, shards = 4, seed = 999L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "shard shuffle must never collapse to a single partition")
  }

  /** From-the-spec DSIR reference (Xie et al. 2023, §3: importance weight
    * = log-ratio of target vs raw n-gram models with add-one smoothing):
    * independent of [[Sampling.dsirScores]]'s DataFrame pipeline. `feat`
    * maps a gram to its feature id (identity for the word-vocab variant;
    * a hash bucket for the hashed variant). */
  private def dsirRef(rows: Seq[(Long, String, Boolean)], vocabSize: Int,
      feat: String => String = identity,
      hashed: Boolean = false): Map[Long, Double] = {
    def grams(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val dg = rows.flatMap { case (id, t, tgt) =>
      grams(t).map(g => ((id, tgt, feat(g)), 1L)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val stats = dg.toSeq.map { case ((_, tgt, f), c) => (f, tgt, c) }
      .groupBy(_._1).map { case (f, xs) =>
        f -> ((xs.map(_._3).sum, xs.filter(_._2).map(_._3).sum)) }
    val vocab =
      if (hashed) stats.toSeq
      else stats.toSeq.sortBy { case (f, (r, _)) => (-r, f) }.take(vocabSize)
    val tt = vocab.map(_._2._2).sum.toDouble
    val rr = vocab.map(_._2._1).sum.toDouble
    val v = vocabSize.toDouble
    val lam = vocab.map { case (f, (r, t)) =>
      f -> (math.log((t + 1) / (tt + v)) - math.log((r + 1) / (rr + v))) }.toMap
    val scored = dg.toSeq.collect {
      case ((id, _, f), c) if lam.contains(f) => (id, c * lam(f)) }
      .groupBy(_._1).view.mapValues { xs =>
        val s = xs.map(_._2).sorted.foldLeft(0.0)(_ + _)
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    rows.map { case (id, _, _) => id -> scored.getOrElse(id, 0.0) }.toMap
  }

  test("dsirScores: word-vocab variant matches the from-the-spec reference") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "apple banana apple", true),
      (2L, "banana cherry", true),
      (3L, "dog cat dog cat", false),
      (4L, "apple dog", false),
      (5L, "zebra", false)) // OOV-only under a tiny vocab
    val d = fixture.toDF("doc_id", "text", "tgt")
    val got = Sampling.dsirScores(d, col("tgt"), vocabSize = 512)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == dsirRef(fixture, 512))
    // target docs score above the non-target docs they share no grams with
    assert(got(1L) > got(3L))
    // vocab truncation: with vocabSize 3 only the 3 most frequent grams
    // survive; the reference reproduces the truncated model exactly
    val gotSmall = Sampling.dsirScores(d, col("tgt"), vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotSmall == dsirRef(fixture, 3))
    // a doc whose every gram fell out of vocab scores exactly 0
    assert(gotSmall(5L) == 0.0)
    assertThrows[IllegalArgumentException](
      Sampling.dsirScores(d, col("tgt"), vocabSize = 0))
  }

  test("dsirScores: hashed variant matches the reference over real buckets") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "apple banana apple", true),
      (2L, "banana cherry", true),
      (3L, "dog cat dog cat", false),
      (4L, "apple dog", false))
    val d = fixture.toDF("doc_id", "text", "tgt")
    val b = 16
    val got = Sampling.dsirScores(d, col("tgt"), hashBuckets = Some(b))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pin the gram->bucket map with Spark's own xxhash64 (the published
    // hashed variant has no OOV and no vocab pass), then score in plain
    // Scala — exercises dsirScores' aggregation independently of its hash
    val gramSet = fixture.flatMap { case (_, t, _) =>
      val toks = t.trim.toLowerCase.split("\\s+").toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }.distinct
    val bucketOf = gramSet.toDF("gram")
      .select(col("gram"), pmod(xxhash64(col("gram")), lit(b.toLong)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
    assert(got == dsirRef(fixture, b, feat = bucketOf, hashed = true))
    // deterministic across evaluations
    assert(got == Sampling.dsirScores(d, col("tgt"), hashBuckets = Some(b))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assertThrows[IllegalArgumentException](
      Sampling.dsirScores(d, col("tgt"), hashBuckets = Some(0)))
  }

  test("dsirSelect: Gumbel-top-k is deterministic and recomputable") {
    import spark.implicits._
    val fixture = (0L until 40L).map(i =>
      (i, s"tok${i % 5} tok${i % 3} filler", i % 4 == 0))
    val d = fixture.toDF("doc_id", "text", "tgt")
    val scores = Sampling.dsirScores(d, col("tgt")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // recompute the Gumbel keys from the published seed-7 MINSTD² bucket
    val M = 2147483647L
    def key(id: Long): Double = {
      val bucket = (id % M + 7) * 48271 % M * 48271 % M % 1000000
      val u = (bucket + 0.5) / 1000000.0
      BigDecimal(scores(id) - math.log(-math.log(u)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = fixture.map(_._1).sortBy(id => (-key(id), id)).take(10)
    val got = Sampling.dsirSelect(d, col("tgt"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == expect)
    assert(got.forall { case (id, s, k) => s == scores(id) && k == key(id) })
    // same (seed, k) reselects identically; another seed moves the set
    assert(got.toSeq == Sampling.dsirSelect(d, col("tgt"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq)
    assert(Sampling.dsirSelect(d, col("tgt"), k = 10, seed = 1234L)
      .collect().map(_.getLong(0)).toSeq != got.map(_._1).toSeq)
    assertThrows[IllegalArgumentException](
      Sampling.dsirSelect(d, col("tgt"), k = 0))
  }

  test("keepBestPerCluster: quality argmax per cluster, id tie-break") {
    import spark.implicits._
    // cluster {1,2}: doc 2 scores ≈0.312 (9 tokens ⇒ 0.045, 2/9
    // stopwords ⇒ 0.067, no punct ⇒ 0.2) vs doc 1's 0.2 (2 tokens ⇒
    // 0.01, "the!" is not a stopword token, one '!' ⇒ 0.19); {3}
    // singleton; {4,5}: identical texts ⇒ exact score tie, id 4 wins
    val d = Seq(
      (1L, "cat the!"), (2L, "the cat sat on mat with hat and rat"),
      (3L, "solo document"), (4L, "same words here"), (5L, "same words here"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val got = graft.pipeline.Dedup.keepBestPerCluster(d, clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L)._1 == 2L && got(1L)._2 == 2L)
    assert(got(3L) == ((3L, 1L)))
    assert(got(4L) == ((4L, 2L))) // exact score tie -> smallest id
  }

  test("sequenceExamples: hand-checked contexts, ts ties break by id") {
    import spark.implicits._
    val ev = Seq(
      // user 1: a b c d in time order
      (1L, 1L, 1000L, "a"), (2L, 1L, 2000L, "b"),
      (3L, 1L, 3000L, "c"), (4L, 1L, 4000L, "d"),
      // user 2: two events share ts=1000 — order must fall back to id
      (10L, 2L, 1000L, "x"), (11L, 2L, 1000L, "y"), (12L, 2L, 2000L, "z"))
      .toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.col("us")))
    val got = graft.pipeline.Sequences.sequenceExamples(ev, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, 3L, "a,b", "c"), (1L, 4L, "b,c", "d"),
      (2L, 3L, "x,y", "z")))
    // k larger than any stream yields nothing, not an error
    assert(graft.pipeline.Sequences.sequenceExamples(ev, k = 10).isEmpty)
    // NULL event types surface as the '<null>' sentinel in contexts AND
    // labels — concat_ws would otherwise silently SHORTEN the context
    val evN = Seq((1L, 9L, 1000L, "a"), (2L, 9L, 2000L, null),
        (3L, 9L, 3000L, "c"))
      .toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.col("us")))
    val gotN = graft.pipeline.Sequences.sequenceExamples(evN, k = 2)
      .collect().map(r => (r.getString(2), r.getString(3))).toSet
    assert(gotN == Set(("a,<null>", "c")))
  }

  test("profileTable: hand-checked per-column stats in one aggregate") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("b"), Some(2.5)),
      (Some(2L), None, Some(-1.0)),
      (Some(2L), Some("a"), None))
      .toDF("k", "s", "x")
    val got = graft.pipeline.Profiling.profileTable(df)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val k = got("k")
    assert(k.getLong(1) == 3 && k.getLong(2) == 0 && k.getLong(3) == 2)
    assert(k.getDouble(4) == 1.0 && k.getDouble(5) == 2.0)
    assert(k.isNullAt(6) && k.isNullAt(7))
    val s = got("s")
    assert(s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.isNullAt(4) && s.getString(6) == "a" && s.getString(7) == "b")
    val x = got("x")
    assert(x.getLong(2) == 1 && x.getDouble(4) == -1.0 && x.getDouble(5) == 2.5)
    // single scan: exactly one aggregate subtree over the source
    val plan = graft.pipeline.Profiling.profileTable(df)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), "profile must not re-scan per column")
  }

  test("writeShards: partitioned layout, shard files in shuffle order") {
    val dir = TestSpark.tempDir("graft_shards")
    try {
      Sampling.writeShards(docs, dir, shards = 4)
      val back = spark.read.parquet(dir)
      assert(back.count() == 200)
      assert(back.select("shard").distinct().count() == 4)
      // within a shard, file order IS shuffle order (training readers
      // stream shards sequentially without re-sorting)
      val shard0 = spark.read.parquet(s"$dir/shard=0")
      val pos = shard0.collect().map(_.getLong(shard0.columns.indexOf("pos")))
      assert(pos.toSeq == pos.sorted.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("selectUnderTokenBudget: hand-checked admission, boundary doc, tie order") {
    import spark.implicits._
    // budget 10, order by score desc then id: a(0), b(5), c(9) admitted —
    // c straddles the budget but its cum-BEFORE is under; d(12) is not.
    // e ties with d on score; higher id loses first.
    val d = Seq(
      ("a", 0.9, 5L), ("b", 0.8, 4L), ("c", 0.7, 3L),
      ("d", 0.6, 10L), ("e", 0.6, 1L))
      .toDF("doc_id", "score", "n_tokens")
    val kept = Sampling.selectUnderTokenBudget(d, budget = 10L,
        idCol = "doc_id").collect().map(_.getString(0)).toSet
    assert(kept == Set("a", "b", "c")) // cum-before: a 0, b 5, c 9, d 12, e 22
    // at least one doc is always admitted, even over-budget
    val one = Seq(("big", 1.0, 999L)).toDF("doc_id", "score", "n_tokens")
    assert(Sampling.selectUnderTokenBudget(one, budget = 10L).count() == 1)
    graft.pipeline.PipelineCaches.clear()
  }

  test("selectUnderTokenBudget equals the naive global-window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 300 docs with colliding scores and varied token counts — the
    // distributed prefix-sum must match the single-partition window
    // exactly, including ties resolved by id
    val d = (0L until 300L).map(i =>
      (i, (i % 17).toDouble / 17.0, 1L + i % 23)).toDF("doc_id", "score", "n_tokens")
    val naive = d.withColumn("__cb",
        sum(col("n_tokens")).over(
          Window.orderBy(col("score").desc, col("doc_id").asc)) - col("n_tokens"))
      .filter(col("__cb") < 500L).drop("__cb")
      .collect().map(_.getLong(0)).toSet
    val got = Sampling.selectUnderTokenBudget(d, budget = 500L)
      .collect().map(_.getLong(0)).toSet
    assert(got == naive && got.nonEmpty)
    graft.pipeline.PipelineCaches.clear()
  }
}
