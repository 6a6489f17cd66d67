package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Bpe

/** Pins the BPE trainer against merges derived BY HAND on the canonical
  * Sennrich et al. corpus {low×5, lower×2, newest×6, widest×3} — ground
  * truth computed on paper, not by re-running the implementation. */
class BpeSpec extends AnyFunSuite {
  import TestSpark._

  private def corpusDf = {
    import spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
  }

  test("train: hand-derived merge sequence, deterministic tie-breaks") {
    val merges = Bpe.train(corpusDf, numMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // round 1: (e,s)=9 ties (s,t)=9 and (t,</w>)=9 — lex smallest wins;
    // rounds 4/6/7/10 are the other hand-checked tie-breaks
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"),
      ("e", "w"), ("ew", "est</w>"), ("n", "ewest</w>"), ("low", "</w>"),
      ("d", "est</w>")))
  }

  test("train: stops when no pair reaches minPairCount") {
    // every word unique => after enough merges the best pair count is 1
    import spark.implicits._
    val df = Seq((0L, "ab cd")).toDF("doc_id", "text")
    val merges = Bpe.train(df, numMerges = 50)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(merges.isEmpty) // all pairs occur once < minPairCount=2
  }

  test("encodeWord: learned subwords compose on unseen words") {
    val ranks = Bpe.train(corpusDf, numMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).zipWithIndex.toMap
    assert(Bpe.encodeWord("newest", ranks).toSeq == Seq("newest</w>"))
    assert(Bpe.encodeWord("low", ranks).toSeq == Seq("low</w>"))
    // unseen word splits into the learned subwords, not characters
    assert(Bpe.encodeWord("lowest", ranks).toSeq == Seq("low", "est</w>"))
    // wholly out-of-vocabulary characters stay as characters
    assert(Bpe.encodeWord("xyz", ranks).toSeq ==
      Seq("x", "y", "z", "</w>"))
  }

  test("tokenCounts: distributed apply matches per-word encoding") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val docs = Seq((1L, "low lowest newest"), (2L, "widest widest"))
      .toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // low→1 (low</w>), lowest→2 (low + est</w>), newest→1 ⇒ 4 BPE tokens
    assert(got(1L) == ((3L, 4L)))
    // widest→2 (w i d est</w> → after (d,est</w>): w i dest</w> ... by
    // hand: merges applied in rank order: (d,est</w>) rank 9 ⇒
    // [w, i, dest</w>] and no (w,i)/(i,dest</w>) merges exist ⇒ 3 each
    assert(got(2L) == ((2L, 6L)))
  }

  test("withTokenCountColumn: schema-preserving column matches tokenCounts") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val docs = Seq((1L, "low lowest newest", "x"), (2L, "widest widest", "y"),
        (3L, "", "z"))
      .toDF("doc_id", "text", "extra")
    val got = Bpe.withTokenCountColumn(docs, merges, textCol = "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3))))
      .toMap
    // same counts as the tokenCounts spec above, other columns intact
    assert(got(1L) == (("x", 4L)))
    assert(got(2L) == (("y", 6L)))
    assert(got(3L) == (("z", 0L))) // empty text counts 0, row survives
    // multi-line content: newline is whitespace to the word splitter
    val ml = Seq((9L, "low\nlowest")).toDF("doc_id", "c")
    assert(Bpe.withTokenCountColumn(ml, merges, textCol = "c")
      .collect().head.getLong(2) == 3L)
  }

  test("trainOnHistogram: incremental trainer == naive rescan, merge for merge") {
    def hist(ws: (String, Long)*): Array[(Array[String], Long)] =
      ws.toArray.map { case (w, c) => (Bpe.symbolize(w), c) }
    val hists = Seq(
      // the canonical corpus
      hist("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L),
      // overlap-heavy (repeated chars: "aaaa" counts (a,a) three times)
      // + tie-heavy counts
      hist("aaaa" -> 3L, "aab" -> 4L, "abab" -> 2L, "bbbb" -> 1L,
        "ababab" -> 5L, "ba" -> 4L),
      // early stop: every pair occurs once
      hist("ab" -> 1L, "cd" -> 1L),
      // single-char words and a shared suffix
      hist("a" -> 9L, "b" -> 9L, "xa" -> 5L, "ya" -> 5L))
    for (h <- hists; n <- Seq(1, 3, 10, 50); minPair <- Seq(1L, 2L)) {
      val naive = Bpe.trainOnHistogramNaive(
        h.map { case (s, c) => (s.clone(), c) }, n, minPair)
      val inc = Bpe.trainOnHistogram(
        h.map { case (s, c) => (s.clone(), c) }, n, minPair)
      assert(inc == naive,
        s"diverged at n=$n minPair=$minPair on ${h.map(_._1.mkString).toSeq}")
    }
  }

  test("vocabulary: specials 0..3, alphabet, </w>, merge outputs in rank order") {
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val v = Bpe.vocabulary(corpusDf, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      // the four RESERVED rows — artifact data, fixed ids whatever the
      // corpus or merge count
      "<unk>" -> 0L, "<bos>" -> 1L, "<eos>" -> 2L, "<pad>" -> 3L,
      // alphabet of {low, lower, newest, widest} sorted: d e i l n o r s t w
      "d" -> 4L, "e" -> 5L, "i" -> 6L, "l" -> 7L, "n" -> 8L, "o" -> 9L,
      "r" -> 10L, "s" -> 11L, "t" -> 12L, "w" -> 13L, "</w>" -> 14L,
      // the 10 hand-derived merges (see the train spec), outputs in order
      "es" -> 15L, "est" -> 16L, "est</w>" -> 17L, "lo" -> 18L,
      "low" -> 19L, "ew" -> 20L, "ewest</w>" -> 21L, "newest</w>" -> 22L,
      "low</w>" -> 23L, "dest</w>" -> 24L)
    assert(v == expected)
  }

  test("vocabulary: a merge output colliding with a special token fails loudly") {
    import spark.implicits._
    // corpus whose only high-frequency pair composes the literal '<eos>'
    // string: first-wins insertion would silently alias corpus text onto
    // a control id — the artifact must refuse instead
    val df = Seq((0L, Seq.fill(5)("<eos>").mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.train(df, numMerges = 4)
    // merges build '<e', 'os', '<eos' ... until some composition equals
    // '<eos>'; whichever rank it lands at, vocabulary must throw
    val ex = intercept[IllegalArgumentException] {
      Bpe.vocabulary(df, Bpe.train(df, numMerges = 10))
    }
    assert(ex.getMessage.contains("special token"), ex.getMessage)
    // a prefix of the merge table that never composes the sentinel is fine
    Bpe.vocabulary(df, merges.filter(org.apache.spark.sql.functions
      .col("rank") < 1)).collect()
  }

  test("encodeIds: ids mirror encodeWord symbols; unknown chars emit <unk>") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    val docs = Seq((1L, "low lowest newest"), (2L, "xyz"))
      .toDF("doc_id", "text")
    val got = Bpe.encodeIds(docs, merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    // low→[low</w>]=23, lowest→[low, est</w>]=[19,17], newest→[newest</w>]=22
    assert(got(1L) == List(23L, 19L, 17L, 22L))
    // foreign chars: the artifact's reserved <unk> id (0) — a valid
    // embedding index, not a −1 sentinel; the word-final marker resolves
    assert(got(2L) == List(0L, 0L, 0L, 14L))
    // size(ids) == the schema-preserving count column — the spans /
    // budget currency IS positions in these arrays
    val counts = Bpe.withTokenCountColumn(docs, merges, textCol = "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.map { case (k, l) => k -> l.size.toLong } == counts)
  }

  test("non-BMP characters are single symbols end to end (no surrogate UNKs)") {
    import spark.implicits._
    // U+1F600: two UTF-16 code units, ONE code point — must be one symbol
    val emoji = new String(Character.toChars(0x1F600))
    assert(Bpe.symbolize(emoji + "a").toSeq == Seq(emoji, "a", Bpe.EndOfWord))
    val docs = Seq((1L, s"$emoji$emoji ab $emoji")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 3)
    val vocab = Bpe.vocabulary(docs, merges)
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the emoji is one vocabulary token (not two surrogate halves), and
    // the alphabet sorts by CODE POINT after the 4 reserved specials:
    // a < b < U+1F600
    assert(v(emoji) == 6L && v("a") == 4L && v("b") == 5L)
    // every id resolves — an in-corpus character never emits UNK (id 0)
    val ids = Bpe.encodeIds(docs, merges, vocab)
      .collect().head.getSeq[Long](1)
    assert(!ids.contains(0L), ids.toString)
    // merge TIE-BREAKS are code-point order (== the SQL mirrors' UTF-8
    // byte ORDER BY), not UTF-16 code-unit order: U+FFFD (EF BF BD)
    // sorts BELOW U+1F600 (F0 9F 98 80) by bytes, though its UTF-16
    // unit 0xFFFD is ABOVE the surrogate 0xD83D
    val fffd = "\uFFFD"
    val tie = Seq((1L, s"${fffd}x ${fffd}x ${emoji}x ${emoji}x"))
      .toDF("doc_id", "text")
    val m2 = Bpe.train(tie, numMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // merge 0: (x,</w>) count 4; merge 1 ties at 2 — U+FFFD wins by
    // code point; merge 2 is the emoji pair
    assert(m2 == Seq(("x", "</w>"), (fffd, "x</w>"), (emoji, "x</w>")), m2)
  }

  test("lossMaskSpans in BPE ids: spans index the encodeIds arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    val turns = Seq(
      (1L, 0L, "user", "low lowest"),
      (1L, 1L, "assistant", "newest widest"),
      (1L, 2L, "user", "lower low"),
      (1L, 3L, "assistant", "low"))
      .toDF("conv_id", "turn_idx", "role", "content")
    val spans = graft.pipeline.Sft.lossMaskSpans(
        Bpe.withTokenCountColumn(turns, merges), tokenCol = "n_bpe_tokens")
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    // each turn's content encoded as its own id array
    val ids = Bpe.encodeIds(
        turns.select(col("turn_idx").as("doc_id"), col("content").as("text")),
        merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // [start_tok, end_tok) are EXACTLY the turn's positions in the
    // concatenated conversation id sequence
    var off = 0L
    for (t <- 0L to 3L) {
      assert(spans(t) == ((off, off + ids(t).length)),
        s"turn $t span ${spans(t)} vs ids ${ids(t)}")
      off += ids(t).length
    }
  }

  test("packedExamples: tensor rows compose ids, offsets, and bins by hand") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // hand ids (see the vocabulary spec): low→[23], lowest→[19,17],
    // newest→[22], widest→[13,6,24] (w, i, dest</w>)
    val turns = Seq(
      (0L, 0L, "user", "low lowest"),
      (0L, 1L, "assistant", "newest"),
      (2L, 0L, "user", "low"),
      (2L, 1L, "assistant", "widest widest"))
      .toDF("conv_id", "turn_idx", "role", "content")
    val withIds = Bpe.withTokenIdsColumn(turns, merges, vocab)
    // size(ids) == the count column: the packing currency IS the arrays
    val counts = Bpe.withTokenCountColumn(withIds, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(counts == Map((0L, 0L) -> 3L, (0L, 1L) -> 1L,
      (2L, 0L) -> 1L, (2L, 1L) -> 6L))
    val rows = graft.pipeline.Sft.packedExamples(withIds, seqLen = 6, shards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3))
    // both convs shard 0; conv 0 fills bin 0 pos 0..3; conv 2 starts at
    // cum 4 -> bin 0, binOff 4, pos 4 then 5..10 (spillover past seqLen
    // is the documented packer semantic — conversations never split)
    val expected = Seq(
      (0L, 0L, 0L, 23L, 0L), (0L, 0L, 1L, 19L, 0L), (0L, 0L, 2L, 17L, 0L),
      (0L, 0L, 3L, 22L, 1L),
      (0L, 0L, 4L, 23L, 0L),
      (0L, 0L, 5L, 13L, 1L), (0L, 0L, 6L, 6L, 1L), (0L, 0L, 7L, 24L, 1L),
      (0L, 0L, 8L, 13L, 1L), (0L, 0L, 9L, 6L, 1L), (0L, 0L, 10L, 24L, 1L))
    assert(rows.toSeq == expected)
    graft.pipeline.PipelineCaches.clear()
  }

  test("packedSequenceIds: pretraining rows with the artifact EOS by hand") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // EOS comes from the ARTIFACT's reserved <eos> row (id 2), not a
    // caller-computed vocab size
    val docs = Seq((0L, "low lowest"), (2L, "widest"))
      .toDF("doc_id", "text")
    val rows = graft.pipeline.Corpus.packedSequenceIds(
        docs, merges, vocab, seqLen = 6, shards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    // doc 0: [23,19,17,2] fills bin 0 pos 0..3; doc 2: [13,6,24,2]
    // starts at cum 4 -> bin 0, binOff 4, pos 4..7 (spillover past
    // seqLen 6 — documents never split)
    val expected = Seq(
      (0L, 0L, 0L, 23L), (0L, 0L, 1L, 19L), (0L, 0L, 2L, 17L),
      (0L, 0L, 3L, 2L),
      (0L, 0L, 4L, 13L), (0L, 0L, 5L, 6L), (0L, 0L, 6L, 24L),
      (0L, 0L, 7L, 2L))
    assert(rows.toSeq == expected)
    graft.pipeline.PipelineCaches.clear()
    // a vocab WITHOUT the reserved row fails loudly instead of packing
    // with an invented separator id
    val bare = Seq(("a", 0L)).toDF("token", "token_id")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Corpus.packedSequenceIds(docs, merges, bare)
    }
    assert(ex.getMessage.contains("<eos>"), ex.getMessage)
    // appendEos = false: no separator row, nothing read from the vocab
    val noEos = graft.pipeline.Corpus.packedSequenceIds(
        docs, merges, vocab, seqLen = 6, shards = 2, appendEos = false)
      .collect().map(r => r.getLong(3)).sorted.toSeq
    assert(noEos == Seq(6L, 13L, 17L, 19L, 23L, 24L))
    graft.pipeline.PipelineCaches.clear()
  }

  test("padPackedWindows: PAD tails, attn_mask, overflow RETURNED by hand") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // one doc, ids [23,19,17,2(eos)] in a 6-window: pos 0..3 real,
    // 4..5 PAD (artifact id 3) with attn_mask 0; no overflow
    val one = Seq((0L, "low lowest")).toDF("doc_id", "text")
    val p1 = graft.pipeline.Corpus.packedSequenceIds(
      one, merges, vocab, seqLen = 6, shards = 2)
    val padded = graft.pipeline.Corpus.padPackedWindows(p1, vocab, seqLen = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(padded == Seq(
      (0L, 0L, 0L, 23L, 1L), (0L, 0L, 1L, 19L, 1L), (0L, 0L, 2L, 17L, 1L),
      (0L, 0L, 3L, 2L, 1L), (0L, 0L, 4L, 3L, 0L), (0L, 0L, 5L, 3L, 0L)))
    assert(graft.pipeline.Corpus.packedWindowOverflow(p1, 6).count() == 0)
    graft.pipeline.PipelineCaches.clear()
    // two docs: [23,19,17,2] then [13,6,24,2] starting at pos 4 —
    // straddle spill past 6 (pos 6,7) is CUT from the fixed window and
    // BILLED by the overflow companion, never silent
    val two = Seq((0L, "low lowest"), (2L, "widest")).toDF("doc_id", "text")
    val p2 = graft.pipeline.Corpus.packedSequenceIds(
      two, merges, vocab, seqLen = 6, shards = 2)
    val padded2 = graft.pipeline.Corpus.padPackedWindows(p2, vocab, seqLen = 6)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(padded2 == Seq((0L, 23L, 1L), (1L, 19L, 1L), (2L, 17L, 1L),
      (3L, 2L, 1L), (4L, 13L, 1L), (5L, 6L, 1L)))
    val ovf = graft.pipeline.Corpus.packedWindowOverflow(p2, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ovf == Seq((0L, 0L, 2L))) // the cut [24, 2]
    graft.pipeline.PipelineCaches.clear()
    // a vocab without the reserved <pad> row fails loudly
    val bare = Seq(("a", 0L)).toDF("token", "token_id")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Corpus.padPackedWindows(p2, bare, seqLen = 6)
    }
    assert(ex.getMessage.contains("<pad>"), ex.getMessage)
    // SFT frames carry train_mask: preserved on real rows, zeroed on pad
    val sftish = Seq((0L, 0L, 0L, 23L, 1L), (0L, 0L, 1L, 19L, 0L))
      .toDF("shard", "seq_bin", "pos", "token_id", "train_mask")
    val sp = graft.pipeline.Corpus.padPackedWindows(sftish, vocab, seqLen = 4)
      .collect()
      .map(r => r.getLong(2) -> ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(sp(0L) == ((23L, 1L, 1L)) && sp(1L) == ((19L, 1L, 0L)))
    assert(sp(2L) == ((3L, 0L, 0L)) && sp(3L) == ((3L, 0L, 0L)))
    graft.pipeline.PipelineCaches.clear()
  }

  test("padPackedWindows: straddle-shadow window PADs its missing prefix," +
      " non-contiguous pos fails loudly") {
    import spark.implicits._
    // a bin whose first kept token starts past 0 — the shape binAssign
    // produces right after a straddle cut (the previous doc's spill owns
    // the shadow positions but bills them to ITS bin): positions 0..1 of
    // this window exist in no input row and must come back as PAD
    val shadow = Seq((0L, 1L, 2L, 23L), (0L, 1L, 3L, 19L), (0L, 1L, 4L, 17L))
      .toDF("shard", "seq_bin", "pos", "token_id")
    val vocab = Seq(("<pad>", 3L)).toDF("token", "token_id")
    val rows = graft.pipeline.Corpus.padPackedWindows(shadow, vocab, seqLen = 6)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(rows == Seq((0L, 3L, 0L), (1L, 3L, 0L), (2L, 23L, 1L),
      (3L, 19L, 1L), (4L, 17L, 1L), (5L, 3L, 0L)))
    // an INTERIOR gap (pos 2 then 4) is malformed input under the
    // array-lookup shape: loud per-window error, never silent misplacement
    val gapped = Seq((0L, 0L, 2L, 23L), (0L, 0L, 4L, 19L))
      .toDF("shard", "seq_bin", "pos", "token_id")
    val ex2 = intercept[Exception] {
      graft.pipeline.Corpus.padPackedWindows(gapped, vocab, seqLen = 6)
        .collect()
    }
    assert(ex2.getMessage.contains("non-contiguous"), ex2.getMessage)
    graft.pipeline.PipelineCaches.clear()
  }

  test("packedSequenceIds prependBos: the artifact BOS opens every document") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    val docs = Seq((0L, "low lowest"), (2L, "widest")).toDF("doc_id", "text")
    val rows = graft.pipeline.Corpus.packedSequenceIds(
        docs, merges, vocab, seqLen = 16, shards = 2, prependBos = true)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    // doc 0: [1(bos),23,19,17,2(eos)]; doc 2 at cum 5: [1,13,6,24,2]
    assert(rows == Seq((0L, 1L), (1L, 23L), (2L, 19L), (3L, 17L), (4L, 2L),
      (5L, 1L), (6L, 13L), (7L, 6L), (8L, 24L), (9L, 2L)))
    graft.pipeline.PipelineCaches.clear()
    // BOS requires the reserved row like EOS does
    val bare = Seq(("a", 0L)).toDF("token", "token_id")
    val ex = intercept[IllegalArgumentException] {
      graft.pipeline.Corpus.packedSequenceIds(
        docs, merges, bare, appendEos = false, prependBos = true)
    }
    assert(ex.getMessage.contains("<bos>"), ex.getMessage)
  }

  test("writePackedShards: loader layout — in-file order, manifest, round trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name}
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    val docs = (0L until 40L).map(i =>
      (i, Seq("low", "lower", "newest", "widest", "lowest")
        .take(1 + (i % 5).toInt).mkString(" ")))
      .toDF("doc_id", "text")
    val packed = graft.pipeline.Corpus.packedSequenceIds(
      docs, merges, vocab, seqLen = 8, shards = 3)
    val dir = TestSpark.tempDir("graft_pack_w")
    try {
      val manifest = graft.pipeline.Corpus.writePackedShards(packed, s"$dir/t")
      // partition discovery re-types the shard directory key as int —
      // cast back (writePackedShards' own manifest re-read avoids this
      // by supplying the input's explicit schema to the reader)
      val back = spark.read.parquet(s"$dir/t")
        .withColumn("shard", col("shard").cast("long"))
      // round trip: the rows a loader reads are EXACTLY the packed rows
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(r.fieldIndex("shard")), r.getLong(r.fieldIndex("seq_bin")),
          r.getLong(r.fieldIndex("pos")), r.getLong(r.fieldIndex("token_id")))
      assert(back.collect().map(key).sorted.toSeq ==
        packed.collect().map(key).sorted.toSeq)
      // file-level ordering pin: within EVERY data file, rows are
      // (seq_bin, pos)-sorted and belong to one shard — the no-re-sort
      // loader contract
      val byFile = back
        .select(col("shard").cast("long"), col("seq_bin"), col("pos"),
          input_file_name().as("f"))
        .collect().groupBy(_.getString(3))
      assert(byFile.nonEmpty)
      for ((f, rows) <- byFile) {
        assert(rows.map(_.getLong(0)).distinct.length == 1, s"$f mixes shards")
        val order = rows.map(r => (r.getLong(1), r.getLong(2))).toSeq
        assert(order == order.sorted, s"$f not (seq_bin, pos)-sorted")
      }
      // the persisted manifest equals the returned one AND a fresh
      // packedManifest of the input — the write changed nothing
      val mKey = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val persisted = spark.read.parquet(s"$dir/t/_packed_manifest")
        .collect().map(mKey).sorted.toSeq
      assert(persisted == manifest.collect().map(mKey).sorted.toSeq)
      assert(persisted == graft.pipeline.Corpus.packedManifest(packed)
        .collect().map(mKey).sorted.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    graft.pipeline.PipelineCaches.clear()
  }

  test("writePackedShards: an empty packed frame yields an empty manifest, no throw") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // zero part files land on disk (only _SUCCESS); the explicit read
    // schema keeps the manifest re-read from dying on schema inference
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("shard", "seq_bin", "pos", "token_id")
    val dir = TestSpark.tempDir("graft_pack_e")
    try {
      val m = graft.pipeline.Corpus.writePackedShards(empty, s"$dir/t")
      assert(m.count() == 0)
      assert(spark.read.parquet(s"$dir/t/_packed_manifest").count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("packedManifest composes: union == per-shard xor of the parts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = (0L until 60L).map(i =>
      (i % 3, i / 10, i % 10, i * 7 % 23)) // (shard, seq_bin, pos, token_id)
      .toDF("shard", "seq_bin", "pos", "token_id")
    val a = rows.filter(col("seq_bin") < 3)
    val b = rows.filter(col("seq_bin") >= 3)
    def m(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Corpus.packedManifest(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    val (ma, mb, full) = (m(a), m(b), m(rows))
    assert(full.keySet == ma.keySet ++ mb.keySet)
    for (s <- full.keySet) {
      val (na, _, ha) = ma.getOrElse(s, (0L, 0L, 0L))
      val (nb, _, hb) = mb.getOrElse(s, (0L, 0L, 0L))
      assert(full(s)._1 == na + nb, s"shard $s token count")
      assert(full(s)._3 == (ha ^ hb), s"shard $s hash composition")
    }
    // distinct-bin counts compose only on bin-disjoint parts (this
    // split is bin-disjoint, so they add here too)
    for (s <- full.keySet)
      assert(full(s)._2 == ma.getOrElse(s, (0L, 0L, 0L))._2 +
        mb.getOrElse(s, (0L, 0L, 0L))._2)
  }

  test("trainAndVocabulary: one histogram pass == separate train + vocabulary") {
    val (m, v) = Bpe.trainAndVocabulary(corpusDf, numMerges = 10)
    assert(m.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSet ==
      Bpe.train(corpusDf, numMerges = 10).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)
    assert(v.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Bpe.vocabulary(corpusDf, Bpe.train(corpusDf, numMerges = 10))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("trainPersistedIfStale: artifact serves, staleness-fence retrains") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_bpe_t")
    try {
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val fresh = m(Bpe.train(corpusDf, numMerges = 10))
      // first call builds; the artifact equals the fresh train
      assert(m(Bpe.trainPersistedIfStale(corpusDf, dir, numMerges = 10))
        == fresh)
      // the vocabulary persists BESIDE the merges and equals the fresh
      // derivation — the id side of the artifact twin
      val vFresh = Bpe.vocabulary(corpusDf,
          Bpe.train(corpusDf, numMerges = 10))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(Bpe.persistedVocabulary(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet == vFresh)
      // second call serves the artifact (same rows, meta unchanged)
      val metaBefore = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_meta.json")), "UTF-8")
      assert(m(Bpe.trainPersistedIfStale(corpusDf, dir, numMerges = 10))
        == fresh)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_meta.json")), "UTF-8")
        == metaBefore)
      // parameter fence: a different merge count must retrain, not serve
      val ten = fresh.size
      assert(m(Bpe.trainPersistedIfStale(corpusDf, dir, numMerges = 5)).size
        < ten)
      // corpus fence: a changed corpus must retrain
      val grown = corpusDf.unionAll(
        Seq((99L, "zz zz zz zz zz zz zz zz")).toDF("doc_id", "text"))
      assert(m(Bpe.trainPersistedIfStale(grown, dir, numMerges = 10))
        == m(Bpe.train(grown, numMerges = 10)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("decodeIds: text containing the literal marker round-trips verbatim") {
    import spark.implicits._
    // 'x</w>y' appears once, so no merges touch its characters; its
    // '<','/','w','>' encode as ordinary alphabet symbols and the
    // SYMBOL-level word break must NOT treat the embedded marker string
    // as a word end (the old global string replace did)
    val docs = Seq((1L, "x</w>y low low")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 3)
    val vocab = Bpe.vocabulary(docs, merges)
    val rt = Bpe.decodeIds(Bpe.encodeIds(docs, merges, vocab), vocab)
      .collect().head.getString(1)
    assert(rt == "x</w>y low low")
  }

  test("withDecodedColumn renders padded windows: specials vanish, cut prefix shows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, collect_list, sort_array,
      struct, expr}
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // the padPackedWindows fixture: ids [23,19,17,eos] + [13,6,24,eos]
    // in a 6-window — padded keeps pos 0..5 = [23,19,17,2,13,6], the
    // straddle [24,2] is cut; decode with skipSpecials drops the EOS
    // and renders the SECOND doc's cut prefix "wi" (w, i — no marker)
    val docs = Seq((0L, "low lowest"), (2L, "widest")).toDF("doc_id", "text")
    val padded = graft.pipeline.Corpus.padPackedWindows(
      graft.pipeline.Corpus.packedSequenceIds(
        docs, merges, vocab, seqLen = 6, shards = 2),
      vocab, seqLen = 6)
    val rendered = Bpe.withDecodedColumn(
        graft.pipeline.Corpus.collateWindowIds(padded),
        vocab, idsCol = "token_ids", outCol = "window_text",
        skipSpecials = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3))
      .toMap
    assert(rendered == Map((0L, 0L) -> "low lowest wi"))
    graft.pipeline.PipelineCaches.clear()
  }

  test("vocabulary: a merge output composing the literal '</w>' fails loudly") {
    import spark.implicits._
    // hand-built merge table (trainers can't easily be steered into the
    // exact composition, but nothing forbids it): '</w' + '>' == the
    // word-break marker — first-wins would silently alias it onto the
    // marker's own id, the one collision decode cannot survive
    val m = Seq((0L, "</w", ">")).toDF("rank", "left", "right")
    val ex = intercept[IllegalArgumentException] {
      Bpe.vocabulary(corpusDf, m)
    }
    assert(ex.getMessage.contains("word-break"), ex.getMessage)
  }

  test("merges.txt interchange: round trip, header/CRLF tolerance, loud rejects") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_mtx")
    try {
      val merges = Bpe.train(corpusDf, numMerges = 10)
      val path = s"$dir/merges.txt"
      Bpe.exportMergesText(merges, path)
      // round trip: identical (rank, left, right) table — ids derived
      // from an imported table equal the original artifact's
      def t(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq
      assert(t(Bpe.importMergesText(spark, path)) == t(merges))
      // the file IS the GPT-2 shape: version comment + 'left right' lines
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      assert(txt.startsWith("#version:") && txt.contains("\ne s\n"))
      // CRLF and blank-line tolerance on import
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/crlf.txt"),
        "#version: 0.2\r\ne s\r\n\r\nes t\r\n".getBytes("UTF-8"))
      assert(t(Bpe.importMergesText(spark, s"$dir/crlf.txt"))
        == Seq((0L, "e", "s"), (1L, "es", "t")))
      // a '#'-leading merge is DATA, not a comment: ONLY the first
      // #version line is a header, so hashtag-corpus merges round-trip
      // instead of being silently dropped with every later rank shifted
      val hashy = Seq((0L, "#", "t"), (1L, "#t", "ag"))
        .toDF("rank", "left", "right")
      Bpe.exportMergesText(hashy, s"$dir/hashy.txt")
      assert(t(Bpe.importMergesText(spark, s"$dir/hashy.txt"))
        == Seq((0L, "#", "t"), (1L, "#t", "ag")))
      // a whitespace-bearing symbol cannot be represented — export
      // refuses instead of writing a file that re-imports differently
      val bad = Seq((0L, "a b", "c")).toDF("rank", "left", "right")
      val ex = intercept[IllegalArgumentException] {
        Bpe.exportMergesText(bad, s"$dir/bad.txt")
      }
      assert(ex.getMessage.contains("whitespace"), ex.getMessage)
      // a malformed line fails loudly with its FILE line number (the
      // header and blank lines above it still count toward the number)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/mal.txt"),
        "#version: 0.2\ne s\n\nnot-a-pair\n".getBytes("UTF-8"))
      val ex2 = intercept[IllegalArgumentException] {
        Bpe.importMergesText(spark, s"$dir/mal.txt")
      }
      assert(ex2.getMessage.contains("malformed merges line 4"),
        ex2.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("vocab.json interchange: round trip, escaping, external-id apply, rejects") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_vjs")
    try {
      def t(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // round trip of a REAL artifact, specials and all
      val merges = Bpe.train(corpusDf, numMerges = 10)
      val vocab = Bpe.vocabulary(corpusDf, merges)
      Bpe.exportVocabJson(vocab, s"$dir/vocab.json")
      assert(t(Bpe.importVocabJson(spark, s"$dir/vocab.json")) == t(vocab))
      // escaping-hostile tokens survive: quote, backslash, emoji
      val hostile = Seq(("\"", 0L), ("\\", 1L),
        (new String(Character.toChars(0x1F600)), 2L))
        .toDF("token", "token_id")
      Bpe.exportVocabJson(hostile, s"$dir/hostile.json")
      assert(t(Bpe.importVocabJson(spark, s"$dir/hostile.json"))
        == t(hostile))
      // the point of importing BOTH halves verbatim: an external
      // tokenizer's ids are its own — encode must emit THE FILE's ids,
      // not a re-derived numbering
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/ext_merges.txt"),
        "#version: 0.2\ne s\n".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/ext_vocab.json"),
        """{"<unk>": 7, "e": 40, "s": 41, "es": 99, "</w>": 50}"""
          .getBytes("UTF-8"))
      val ids = Bpe.encodeIds(
          Seq((1L, "es zz")).toDF("doc_id", "text"),
          Bpe.importMergesText(spark, s"$dir/ext_merges.txt"),
          Bpe.importVocabJson(spark, s"$dir/ext_vocab.json"))
        .collect().head.getSeq[Long](1).toList
      // 'es' -> merged symbol id 99 + </w> 50; 'zz' -> external UNK 7 ×2
      assert(ids == List(99L, 50L, 7L, 7L, 50L))
      // two tokens on one id silently merges embedding rows — reject
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/dup.json"),
        """{"a": 1, "b": 1}""".getBytes("UTF-8"))
      val ex = intercept[IllegalArgumentException] {
        Bpe.importVocabJson(spark, s"$dir/dup.json")
      }
      assert(ex.getMessage.contains("multiple tokens"), ex.getMessage)
      // a non-integer id fails loudly
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/flt.json"),
        """{"a": 1.5}""".getBytes("UTF-8"))
      val ex2 = intercept[IllegalArgumentException] {
        Bpe.importVocabJson(spark, s"$dir/flt.json")
      }
      assert(ex2.getMessage.contains("not an integer"), ex2.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("lengthBuckets: hand-computed buckets, integer ceil-to-multiple") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    // hand BPE counts (ids spec): "low lowest" -> 3, "widest" -> 3,
    // "low lowest newest widest widest" -> 3+1+3+3... recompute: low=1,
    // lowest=2, newest=1, widest=3 => 1+2+1+3+3 = 10; empty -> 0
    val docs = Seq((0L, "low lowest"), (1L, "widest"),
      (2L, "low lowest newest widest widest"), (3L, ""))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Corpus.lengthBuckets(docs, merges, width = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // width 4: counts {3, 3, 10, 0} -> buckets {4, 4, 12, 4(floor)}
    assert(got == Map(
      4L -> ((3L, 6L, 6L)),   // docs 0,1,3: tokens 3+3+0=6, pad 1+1+4=6
      12L -> ((1L, 10L, 2L))))
  }

  test("decodeIds: lossless round trip; specials render or skip; loud on bad id") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // mixed case + mixed whitespace collapse to exactly the wordCounts
    // normalization: lowercase words joined by single spaces
    val docs = Seq((1L, "  Low\tLOWEST\nnewest "), (2L, "widest low low"))
      .toDF("doc_id", "text")
    val dec = Bpe.decodeIds(Bpe.encodeIds(docs, merges, vocab), vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec(1L) == "low lowest newest")
    assert(dec(2L) == "widest low low")
    // out-of-alphabet characters round-trip THROUGH the reserved UNK id
    // as its literal token string (the </w> still resolves to the word
    // break)
    val unk = Bpe.decodeIds(
        Bpe.encodeIds(Seq((3L, "xyz ab")).toDF("doc_id", "text"),
          merges, vocab), vocab)
      .collect().head.getString(1)
    assert(unk == s"${Bpe.Unk}${Bpe.Unk}${Bpe.Unk} ${Bpe.Unk}${Bpe.Unk}")
    // specials render literally by default (ids 2=<eos>, 3=<pad> after
    // 23=low</w>), and vanish under skipSpecials — the display form for
    // packed/padded windows
    val win = Seq((4L, Seq(23L, 2L, 3L, 3L))).toDF("doc_id", "token_ids")
    assert(Bpe.decodeIds(win, vocab).collect().head.getString(1)
      == s"low ${Bpe.Eos}${Bpe.Pad}${Bpe.Pad}")
    assert(Bpe.decodeIds(win, vocab, skipSpecials = true)
      .collect().head.getString(1) == "low")
    // an id with no vocabulary row fails LOUDLY — decoding with a
    // different artifact than encoded is corruption, not data
    val bad = Seq((5L, Seq(23L, 9999L))).toDF("doc_id", "token_ids")
    val ex = intercept[Exception] {
      Bpe.decodeIds(bad, vocab).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + messages(t.getCause)
    assert(messages(ex).contains("no vocabulary row"), messages(ex))
  }

  test("packedWindowBoundaries: per-doc spans tile the packed windows by hand") {
    import spark.implicits._
    val merges = Bpe.train(corpusDf, numMerges = 10)
    val vocab = Bpe.vocabulary(corpusDf, merges)
    // hand token totals (ids spec + EOS): doc0 [23,19,17]+eos n=4 —
    // bin 0, span [0,4); doc2 [13,6,24]+eos n=4 — starts at cum 4, bin 0,
    // span [4,8) (STRADDLES past seqLen 6 in its starting bin: documents
    // never split); doc4 [23]+eos n=2 — starts at 8, bin 1, span [2,4)
    val docs = Seq((0L, "low lowest"), (2L, "widest"), (4L, "low"))
      .toDF("doc_id", "text")
    val b = graft.pipeline.Corpus.packedWindowBoundaries(
        docs, merges, seqLen = 6, shards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._3).toSeq
    assert(b == Seq((0L, 0L, 0L, 0L, 4L), (0L, 0L, 2L, 4L, 8L),
      (0L, 1L, 4L, 2L, 4L)))
    // conservation: per window, segment lengths sum to the packed row
    // count — the provenance map accounts for every tensor row
    val packed = graft.pipeline.Corpus.packedSequenceIds(
      docs, merges, vocab, seqLen = 6, shards = 2)
    val perWin = packed.groupBy("shard", "seq_bin").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val segSum = b.groupBy(t => (t._1, t._2))
      .map { case (k, ss) => k -> ss.map(s => s._5 - s._4).sum }
    assert(segSum == perWin)
    // contiguity within a window: each segment starts where the previous
    // ended (the bin's positions tile with no gaps)
    b.groupBy(t => (t._1, t._2)).values.foreach { ss =>
      ss.sortBy(_._4).sliding(2).foreach {
        case Seq(a, c) => assert(a._5 == c._4, s"gap between $a and $c")
        case _ =>
      }
    }
    // overflow agreement: a segment's run past seqLen IS the window's
    // packedWindowOverflow bill
    val ovf = graft.pipeline.Corpus.packedWindowOverflow(packed, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val segOvf = b.filter(_._5 > 6L)
      .map(t => (t._1, t._2) -> (t._5 - 6L)).toMap
    assert(segOvf == ovf)
    // separator options shift every span by the same arithmetic the
    // packer uses: no EOS drops one token per doc
    val noEos = graft.pipeline.Corpus.packedWindowBoundaries(
        docs, merges, seqLen = 6, shards = 2, appendEos = false)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._3).toSeq
    assert(noEos == Seq((0L, 0L, 0L, 0L, 3L), (0L, 0L, 2L, 3L, 6L),
      (0L, 1L, 4L, 0L, 1L)))
    graft.pipeline.PipelineCaches.clear()
  }
}
