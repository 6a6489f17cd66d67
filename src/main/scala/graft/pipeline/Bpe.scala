package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document token counts under a trained BPE vocabulary. */
case class BpeTokenCounts(doc_id: Long, n_ws_tokens: Long,
  n_bpe_tokens: Long)

/** Per-document token-id sequence under a trained BPE vocabulary. */
case class BpeTokenIds(doc_id: Long, token_ids: Array[Long])

/** Byte-pair-encoding tokenizer induction (Sennrich et al., ACL'16) —
  * the vocabulary-training step of a language-model data pipeline.
  *
  * Scale architecture (the SentencePiece-style split): the corpus is
  * reduced DISTRIBUTED to a (word, count) histogram in one shuffle; the
  * merge loop then runs driver-side over only the `topWords` most
  * frequent words — BOUNDED state, like the k-means centroid pulls, and
  * exact for every pair those words generate (the long histogram tail
  * adds counts, not new high-frequency pairs, which is why histogram
  * truncation is the standard trainer design). Applying the learned
  * merges back over the corpus is distributed again (broadcast merge
  * ranks, narrow per-partition pass). BPE's merge loop is inherently
  * sequential — merge m+1's counts depend on merge m having been
  * applied — so a "distributed" trainer would serialize anyway; keeping
  * the loop on a histogram instead of the corpus is what makes it scale.
  */
object Bpe {

  /** Whitespace word histogram of the corpus: (word, cnt), one shuffle,
    * map-side combined. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** End-of-word marker symbol (kept distinct from any character so
    * "est" mid-word and "est</w>" word-final stay separate merges). */
  val EndOfWord = "</w>"

  /** Reserved special tokens — PART OF THE PERSISTED TOKENIZER ARTIFACT,
    * not caller conventions: a trainer's tokenizer config IS its
    * special-token map, so the ids live as rows in [[vocabulary]] at
    * FIXED positions 0..3 (the Llama/SentencePiece layout: specials
    * before content ids, so they never drift as the merge count or
    * corpus alphabet changes). [[encodeIds]]/[[withTokenIdsColumn]] emit
    * [[Unk]]'s id (0) for out-of-vocabulary symbols — a valid embedding
    * index, unlike the former −1 sentinel; [[Corpus.packedSequenceIds]]
    * reads [[Eos]]'s id from the artifact instead of trusting a
    * caller-computed `vocab.count()` (which collides with the first
    * merge-output id the moment anything re-derives it off by one). */
  val Unk = "<unk>"
  val Bos = "<bos>"
  val Eos = "<eos>"
  val Pad = "<pad>"
  val SpecialTokens: Seq[String] = Seq(Unk, Bos, Eos, Pad)

  /** Train `numMerges` BPE merges on the corpus word histogram.
    * Deterministic: the best pair is (max summed count, then
    * lexicographically smallest (left, right)); training stops early
    * when no adjacent pair occurs at least `minPairCount` times.
    * Returns (rank, left, right) — rank is merge priority, 0 first. */
  def train(docs: DataFrame, numMerges: Int = 100, topWords: Int = 30000,
      minPairCount: Long = 2, textCol: String = "text"): DataFrame =
    trainFromWordCounts(wordCounts(docs, textCol), numMerges, topWords,
      minPairCount)

  /** [[train]] over an already-computed (word, cnt) histogram frame —
    * the shared back half, so callers that need BOTH the merge table and
    * the [[vocabulary]] (the artifact rebuild, the gate entries) pay the
    * corpus scan+shuffle ONCE instead of once per derivation (r16
    * ADVICE). */
  def trainFromWordCounts(wc: DataFrame, numMerges: Int = 100,
      topWords: Int = 30000, minPairCount: Long = 2): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(topWords >= 1, s"topWords must be >= 1, got $topWords")
    val spark = wc.sparkSession
    import spark.implicits._
    // bounded driver pull: topWords rows, deterministic under count ties
    val hist: Array[(Array[String], Long)] =
      wc.orderBy(col("cnt").desc, col("word").asc)
        .limit(topWords)
        .collect()
        .map(r => (symbolize(r.getString(0)), r.getLong(1)))
    val merges = trainOnHistogram(hist, numMerges, minPairCount)
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
  }

  /** Split a word into base symbols + the end-of-word marker. Symbols
    * are CODE POINTS, not UTF-16 code units: an astral character (emoji,
    * rare CJK) is ONE symbol — splitting surrogate halves would create
    * symbols the vocabulary/oracle side (which is code-point based:
    * SQL substring, regex '.') can never contain, so every id consumer
    * would emit UNK for in-vocabulary characters (round-16 review
    * finding). */
  private[graft] def symbolize(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.toArray
  }

  /** The reference merge loop: recount EVERY pair over the full
    * histogram each iteration — O(numMerges × Σ wordLen). Exact and
    * fine at gate-scale merge counts, but a production vocabulary is
    * 32k–100k merges, where the per-iteration rescan is minutes of
    * serial driver CPU. Kept as the spec-level ground truth the
    * incremental trainer is pinned against ([[trainOnHistogram]] must
    * produce the identical merge sequence). */
  private[graft] def trainOnHistogramNaive(
      hist0: Array[(Array[String], Long)],
      numMerges: Int, minPairCount: Long): Seq[(String, String)] = {
    var hist = hist0
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (merges.size < numMerges && !done) {
      val pairCounts =
        scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, cnt) <- hist; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + cnt
      }
      val best = pairCounts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, (p, c)) => acc match {
          case Some((bp, bc))
            if bc > c || (bc == c && pairLt(bp, p)) => acc
          case _ => Some((p, c))
        }
      }
      best match {
        case Some((p, c)) if c >= minPairCount =>
          merges += p
          hist = hist.map { case (syms, cnt) => (mergePair(syms, p), cnt) }
        case _ => done = true
      }
    }
    merges.toSeq
  }

  /** The merge loop, production-vocabulary-capable: INCREMENTAL
    * pair-count maintenance instead of the per-iteration full rescan.
    * State: exact pair counts (overlap-counting, the naive loop's
    * semantics), an inverted pair → word-ids index, and an ordered set
    * over (count desc, left asc, right asc) whose head IS the argmax.
    * Each merge touches only the words that contain the merged pair:
    * their old pair multiset is subtracted, [[mergePair]] applies, the
    * new multiset adds back — delta algebra, so counts stay exactly the
    * naive loop's at every step and the merge SEQUENCE is identical
    * (spec-pinned on hand histograms and the fixture corpus). Cost per
    * merge ∝ |words containing the pair| × their length + log |pairs|,
    * vs the naive Σ wordLen — the standard fastBPE/tokenizers trainer
    * shape. The inverted index is append-only (a stale entry is skipped
    * via an adjacency re-check), bounded by total bump operations. */
  private[graft] def trainOnHistogram(hist0: Array[(Array[String], Long)],
      numMerges: Int, minPairCount: Long): Seq[(String, String)] = {
    type P = (String, String)
    val words: Array[Array[String]] = hist0.map(_._1)
    val cnts: Array[Long] = hist0.map(_._2)
    val pairCounts = scala.collection.mutable.HashMap[P, Long]()
    val pairWords =
      scala.collection.mutable.HashMap[P, scala.collection.mutable.ArrayBuffer[Int]]()
    val byCount = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
          else {
            // code-point order, matching pairLt and the SQL mirrors
            val c = cpCompare(a._2, b._2)
            if (c != 0) c else cpCompare(a._3, b._3)
          }
        }
      })
    // overlap-counting multiset of a word's adjacent pairs (naive loop
    // semantics: "aaa" counts (a,a) twice)
    def pairsOf(syms: Array[String]): scala.collection.mutable.HashMap[P, Long] = {
      val m = scala.collection.mutable.HashMap[P, Long]()
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        m(p) = m.getOrElse(p, 0L) + 1L
        i += 1
      }
      m
    }
    def bump(p: P, delta: Long, wi: Int): Unit = {
      val old = pairCounts.getOrElse(p, 0L)
      if (old != 0L) byCount.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) {
        pairCounts(p) = nw
        byCount.add((nw, p._1, p._2))
      } else pairCounts.remove(p)
      if (delta > 0L && wi >= 0)
        pairWords.getOrElseUpdate(p,
          new scala.collection.mutable.ArrayBuffer[Int]()) += wi
    }
    for (wi <- words.indices; (p, n) <- pairsOf(words(wi)))
      bump(p, n * cnts(wi), wi)
    val merges = scala.collection.mutable.ArrayBuffer[P]()
    var done = false
    while (merges.size < numMerges && !done) {
      if (byCount.isEmpty || byCount.first()._1 < minPairCount) done = true
      else {
        val head = byCount.first()
        val p: P = (head._2, head._3)
        merges += p
        val affected = pairWords.remove(p)
          .getOrElse(new scala.collection.mutable.ArrayBuffer[Int]())
        val seen = new scala.collection.mutable.HashSet[Int]()
        for (wi <- affected if seen.add(wi)) {
          val oldSyms = words(wi)
          // the index is append-only: re-check the pair is still present
          var has = false
          var i = 0
          while (!has && i < oldSyms.length - 1) {
            has = oldSyms(i) == p._1 && oldSyms(i + 1) == p._2
            i += 1
          }
          if (has) {
            val newSyms = mergePair(oldSyms, p)
            for ((q, n) <- pairsOf(oldSyms)) bump(q, -n * cnts(wi), -1)
            for ((q, n) <- pairsOf(newSyms)) bump(q, n * cnts(wi), wi)
            words(wi) = newSyms
          }
        }
      }
    }
    merges.toSeq
  }

  /** Compare two symbol strings by CODE POINT (== UTF-8 byte order,
    * what the SQL mirrors' ORDER BY uses). String.compareTo compares
    * UTF-16 code units, which ranks astral symbols (surrogate range
    * 0xD800–0xDFFF) BELOW U+E000–U+FFFF — the opposite of byte order —
    * so a merge tie between such symbols would resolve differently in
    * the two engines (round-16 review finding). */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def pairLt(a: (String, String), b: (String, String)): Boolean = {
    val c = cpCompare(a._1, b._1)
    c < 0 || (c == 0 && cpCompare(a._2, b._2) < 0)
  }

  private[graft] def mergePair(syms: Array[String],
      p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += (p._1 + p._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Apply learned merges to one word: repeatedly merge the
    * lowest-ranked applicable pair (GPT-2-style apply order). */
  private[graft] def encodeWord(word: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    var syms = symbolize(word)
    var go = true
    while (go && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) go = false
      else syms = mergePair(syms, bestPair)
    }
    syms
  }

  /** The symbol → id vocabulary TABLE a trained merge table induces —
    * the artifact that turns token sequences into the `input_ids` a
    * trainer consumes. Ids are deterministic: the four [[SpecialTokens]]
    * take RESERVED ids 0..3 (they are artifact rows, not caller
    * conventions — see their scaladoc), the corpus ALPHABET (distinct
    * single-character symbols across every whitespace-lowered word — the
    * full corpus, not the training histogram, so every corpus character
    * is encodable) sorted ascending takes ids 4..A+3, [[EndOfWord]]
    * takes id A+4, and merge OUTPUTS take A+5.. in rank order (first
    * introduction wins when two merges compose the same string). Returns
    * (token STRING, token_id BIGINT), ≤ 4 + alphabet + 1 + numMerges
    * rows. A merge output that equals a special-token STRING (the corpus
    * literally contains the reserved sentinel as text) fails loudly —
    * silently aliasing corpus text onto a control id is exactly the
    * injection bug a tokenizer must not have.
    *
    * Scale: the alphabet reduces distributed to distinct symbols (one
    * shuffle over single characters — bounded by the corpus' codepoint
    * alphabet, thousands of rows at any corpus size) before a bounded
    * driver collect; merge outputs are ≤ numMerges rows. Symbols are
    * CODE POINTS ([[symbolize]]'s convention — Spark `split` on the
    * empty pattern yields code points too), and the alphabet sorts by
    * CODE POINT so id order matches the SQL mirror's byte-wise UTF-8
    * ORDER BY for every Unicode character, astral included. */
  def vocabulary(docs: DataFrame, merges: DataFrame,
      textCol: String = "text"): DataFrame =
    vocabularyFromWordCounts(wordCounts(docs, textCol), merges)

  /** [[vocabulary]] over an already-computed (word, cnt) histogram —
    * the shared back half (see [[trainFromWordCounts]]): the alphabet
    * only needs the distinct words, so the corpus scan is paid once. */
  def vocabularyFromWordCounts(wc: DataFrame,
      merges: DataFrame): DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    val alphabet: Array[String] = wc
      .select(explode(split(col("word"), "")).as("c"))
      .filter(col("c") =!= "")
      .distinct().as[String].collect()
      .sortBy(s => s.codePointAt(0))
    val mergeOuts: Array[String] = merges.orderBy("rank").collect()
      .map(r => r.getString(1) + r.getString(2))
    val ids = scala.collection.mutable.LinkedHashMap[String, Long]()
    SpecialTokens.foreach(t => ids(t) = ids.size.toLong)
    // single-code-point alphabet symbols and the </w> marker can never
    // equal a multi-char special string; merge outputs CAN — fail loudly
    alphabet.foreach(c => ids(c) = ids.size.toLong)
    ids(EndOfWord) = ids.size.toLong
    mergeOuts.foreach { m =>
      require(!SpecialTokens.contains(m),
        s"merge output '$m' collides with a reserved special token — " +
          "the corpus contains the sentinel string as text")
      // same injection guard for the word-break marker: an EXACT '</w>'
      // composition can only come from the corpus containing the marker
      // characters as text (legit word-final merges strictly CONTAIN the
      // marker), and first-wins would silently alias it onto the
      // marker's own id — the one collision decodeIds cannot survive
      require(m != EndOfWord,
        s"merge output composes the literal '$EndOfWord' word-break " +
          "marker from corpus text — refusing to alias it onto the " +
          "marker's id")
      if (!ids.contains(m)) ids(m) = ids.size.toLong
    }
    ids.toSeq.toDF("token", "token_id")
  }

  /** Train the merge table AND induce its [[vocabulary]] from ONE
    * corpus scan: the shared (word, cnt) histogram persists across the
    * two bounded collects (topWords for the trainer, the alphabet for
    * the id table) and is released before returning — the artifact
    * rebuild and every fresh-derivation gate entry pay one shuffle, not
    * two (r16 ADVICE). Returns (merges, vocabulary). */
  def trainAndVocabulary(docs: DataFrame, numMerges: Int = 100,
      topWords: Int = 30000, minPairCount: Long = 2,
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val wc = wordCounts(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = trainFromWordCounts(wc, numMerges, topWords, minPairCount)
      // both halves are driver-materialized (bounded collects), so the
      // returned frames no longer reference wc and it can release now
      (m, vocabularyFromWordCounts(wc, m))
    } finally wc.unpersist(false)
  }

  /** Per-document `input_ids`: apply the trained merges ([[encodeWord]],
    * broadcast ranks) and look each resulting symbol up in `vocab`
    * ([[vocabulary]]'s (token, token_id) table, collected + broadcast —
    * bounded by construction). Returns (idCol, token_ids ARRAY<BIGINT>)
    * — the tensor content an SFT/pretraining trainer consumes; symbols
    * absent from the vocabulary (foreign characters on a corpus the
    * vocabulary was not derived from) emit the artifact's reserved
    * [[Unk]] id — a VALID embedding index a trainer can actually
    * consume, unlike a −1 sentinel (on a hand-built vocab table with no
    * [[Unk]] row the legacy −1 convention applies, documented fallback).
    *
    * Scale: narrow mapPartitions over (id, text) with a per-partition
    * word → ids memo — no shuffle; the lowering rides the same SQL
    * lower() as training. */
  def encodeIds(docs: DataFrame, merges: DataFrame, vocab: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bcRanks = broadcastRanks(merges)
    val idMap = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val unk = idMap.getOrElse(Unk, -1L)
    val bcIds = spark.sparkContext.broadcast(idMap)
    docs.select(col(idCol).cast("long"), lower(trim(col(textCol))))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ranks = bcRanks.value
        val ids = bcIds.value
        val memo = scala.collection.mutable.HashMap[String, Array[Long]]()
        rows.map { case (id, txt) =>
          val words =
            if (txt == null) Array.empty[String]
            else txt.split("\\s+").filter(_.nonEmpty)
          val out = new scala.collection.mutable.ArrayBuffer[Long]()
          words.foreach { w =>
            out ++= memo.getOrElseUpdate(w,
              encodeWord(w, ranks).map(s => ids.getOrElse(s, unk)))
          }
          BpeTokenIds(id, out.toArray)
        }
      }
      .toDF(idCol, "token_ids")
  }

  /** Attach a token-id ARRAY column to any frame — the
    * schema-preserving twin of [[encodeIds]], like
    * [[withTokenCountColumn]] is for counts: per row, the `input_ids`
    * of `textCol` under the trained merges + vocabulary (UNK = the
    * artifact's reserved [[Unk]] id, [[encodeIds]]'s convention;
    * NULL text ⇒ empty array; `size(outCol)` always equals
    * [[withTokenCountColumn]]'s count — the spans/packing currency).
    * One deterministic UDF over the SQL-lowered text: narrow, no
    * shuffle, no join; merges and vocabulary broadcast (bounded). */
  def withTokenIdsColumn(df: DataFrame, merges: DataFrame,
      vocab: DataFrame, textCol: String = "content",
      outCol: String = "token_ids"): DataFrame = {
    val bcRanks = broadcastRanks(merges)
    val idMap = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val unk = idMap.getOrElse(Unk, -1L)
    val bcIds = df.sparkSession.sparkContext.broadcast(idMap)
    val enc = udf { (txt: String) =>
      if (txt == null) Array.empty[Long]
      else {
        val ranks = bcRanks.value
        val ids = bcIds.value
        val out = new scala.collection.mutable.ArrayBuffer[Long]()
        for (w <- txt.trim.split("\\s+") if w.nonEmpty)
          out ++= encodeWord(w, ranks).map(s => ids.getOrElse(s, unk))
        out.toArray
      }
    }
    // same SQL lower() as every trainer-side path (see
    // withTokenCountColumn's locale note)
    df.withColumn(outCol, enc(lower(col(textCol))))
  }

  /** Detokenize `input_ids` back to text — the inverse of [[encodeIds]]
    * and the other half of the tokenizer contract: a trainer's eval
    * loop, sample inspection, and generation decoding all consume it.
    * Per row, each id maps to its vocabulary token string (reverse of
    * the same bounded artifact table) and word breaks resolve at the
    * SYMBOL level: a symbol ENDING with the [[EndOfWord]] marker closes
    * a word (the marker strips, one space follows) — never a string
    * scan over the concatenation, so text that literally CONTAINS the
    * marker characters round-trips verbatim (its '<','/','w','>' come
    * back as ordinary alphabet symbols, or inside a merged symbol that
    * doesn't END with the marker). Hence for any corpus the
    * vocabulary's alphabet covers, `decodeIds(encodeIds(text)) ==` the
    * whitespace-normalized lowercase of `text` EXACTLY (words re-joined
    * by single spaces: BPE merges never cross [[EndOfWord]], so the
    * round trip is lossless — the gate entry pins precisely this, with
    * the expected text derived from the raw corpus alone, no tokenizer
    * in the oracle at all). One residual ambiguity is documented, not
    * silent: a LEARNED merge whose output ends with the literal marker
    * characters composed from text (e.g. `a</w` + `>`) is
    * indistinguishable from a word-final subword at the string level —
    * and [[vocabulary]] already rejects the exact-`</w>` composition
    * loudly, the one case that would alias the marker's own id. An id
    * absent from the vocabulary fails LOUDLY (decoding with a different
    * artifact than encoded is corruption, not data); with
    * `skipSpecials` the four reserved [[SpecialTokens]] rows render as
    * nothing (the skip_special_tokens convention for displaying
    * packed/padded windows), otherwise they render literally. NULL id
    * arrays decode to NULL.
    *
    * Scale: the reverse id → token map is the collected vocabulary
    * (bounded by construction: alphabet + merges + 5), broadcast; the
    * decode is one deterministic UDF — narrow, no shuffle, no join,
    * same shape as the encode side. */
  def decodeIds(ids: DataFrame, vocab: DataFrame,
      idsCol: String = "token_ids", idCol: String = "doc_id",
      outCol: String = "text", skipSpecials: Boolean = false): DataFrame =
    ids.select(col(idCol),
      decodeUdf(ids.sparkSession, vocab, skipSpecials)(col(idsCol))
        .as(outCol))

  /** Attach the decoded text as a COLUMN, keeping every other column —
    * the schema-preserving twin of [[decodeIds]] (the
    * [[withTokenIdsColumn]] pattern), for frames whose key is not a
    * single id column: per-window renders of the packed exports, turn
    * frames, anything mid-pipeline. Same UDF, same contract. */
  def withDecodedColumn(df: DataFrame, vocab: DataFrame,
      idsCol: String = "token_ids", outCol: String = "text",
      skipSpecials: Boolean = false): DataFrame =
    df.withColumn(outCol,
      decodeUdf(df.sparkSession, vocab, skipSpecials)(col(idsCol)))

  /** The shared decode UDF of [[decodeIds]]/[[withDecodedColumn]]:
    * reverse vocab map broadcast, symbol-level word breaks, loud on an
    * unknown id (see [[decodeIds]]'s scaladoc for the contract). */
  private def decodeUdf(spark: SparkSession, vocab: DataFrame,
      skipSpecials: Boolean)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rev: Map[Long, String] =
      vocab.select(col("token_id").cast("long"), col("token"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val specialIds: Set[Long] =
      if (skipSpecials)
        rev.collect { case (i, t) if SpecialTokens.contains(t) => i }.toSet
      else Set.empty
    val bcRev = spark.sparkContext.broadcast(rev)
    val bcSkip = spark.sparkContext.broadcast(specialIds)
    udf { (arr: Seq[Long]) =>
      if (arr == null) null
      else {
        val r = bcRev.value
        val skip = bcSkip.value
        val sb = new StringBuilder
        arr.foreach { id =>
          if (!skip.contains(id)) {
            val tok = r.getOrElse(id,
              throw new IllegalArgumentException(
                s"token id $id has no vocabulary row (${r.size} ids) — " +
                  "decode requires the artifact that encoded"))
            // word break at the SYMBOL level (see decodeIds scaladoc):
            // a symbol ending with the marker closes a word; marker
            // characters EMBEDDED elsewhere in a symbol are corpus
            // text, untouched
            if (tok.endsWith(EndOfWord)) {
              sb.append(tok.substring(0, tok.length - EndOfWord.length))
              sb.append(' ')
            } else sb.append(tok)
          }
        }
        sb.toString.stripSuffix(" ")
      }
    }
  }

  /** Write the merge table in the de-facto INTERCHANGE text format
    * (GPT-2 `merges.txt`: a `#version` comment line, then one
    * `left right` pair per line in rank order) so a tokenizer trained
    * here can be consumed by external BPE tooling — and a tokenizer
    * trained elsewhere can be applied here via [[importMergesText]]
    * (the id table then re-derives with [[vocabulary]], which is a
    * function of corpus + merges). The format is line- and
    * space-delimited, so a symbol containing whitespace cannot be
    * represented — impossible for merges trained here (words are
    * whitespace-split before symbolization), and REJECTED loudly for a
    * hand-built table rather than written corruptly. `#`-leading
    * symbols are fine: only the FIRST `#version` line is a header, so
    * a merge like `('#', 't')` round-trips as data (see
    * [[importMergesText]]). Driver-side and bounded: ≤ numMerges rows
    * by construction. */
  def exportMergesText(merges: DataFrame, path: String): Unit = {
    val rows = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    rows.foreach { case (l, r) =>
      require(!(l + r).exists(_.isWhitespace),
        s"merge ('$l', '$r') contains whitespace — not representable " +
          "in the line-delimited merges.txt interchange format")
    }
    Artifacts.writeString(merges.sparkSession, path,
      "#version: 0.2\n" +
        rows.map { case (l, r) => s"$l $r" }.mkString("\n") + "\n")
  }

  /** Read a merges.txt interchange file back as the (rank, left,
    * right) merge table [[train]] produces. ONLY the leading
    * `#version` header line is skipped (the reference readers'
    * behavior) — a merge whose left symbol begins with `#` (hashtag
    * corpora, byte-level external tokenizers) is DATA, so a
    * treat-all-`#`-as-comments reader would silently drop merges and
    * shift every later rank; blank lines are tolerated; a line without
    * exactly one single-space-separated pair fails loudly with its
    * FILE line number (a malformed file silently dropping merges
    * would corrupt every downstream id). */
  def importMergesText(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val body = Artifacts.readStringIfExists(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no merges file at $path"))
    val pairs = body.split("\n", -1).iterator
      .map(_.stripSuffix("\r"))
      .zipWithIndex
      .filterNot { case (l, i) =>
        l.isEmpty || (i == 0 && l.startsWith("#version"))
      }
      .map { case (line, lineNo) =>
        val parts = line.split(" ", -1)
        require(parts.length == 2 && parts.forall(_.nonEmpty),
          s"malformed merges line ${lineNo + 1}: '$line' (want 'left right')")
        (parts(0), parts(1))
      }
      .toSeq
    pairs.zipWithIndex
      .map { case ((l, r), rank) => (rank.toLong, l, r) }
      .toDF("rank", "left", "right")
  }

  /** Write the symbol → id table in the `vocab.json` interchange shape
    * (one JSON object, token string → integer id — the other half of
    * the GPT-2/HF tokenizer pair beside [[exportMergesText]]). Jackson
    * (on the Spark classpath) does the string escaping, so quotes,
    * backslashes, control characters, and astral symbols all survive;
    * entries are written in id order for a stable, diffable file.
    * Driver-side and bounded: the vocabulary is alphabet + merges + 5
    * rows by construction. */
  def exportVocabJson(vocab: DataFrame, path: String): Unit = {
    val rows = vocab
      .select(col("token"), col("token_id").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._2)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    rows.foreach { case (tok, id) => root.put(tok, id) }
    Artifacts.writeString(vocab.sparkSession, path,
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
  }

  /** Read a `vocab.json` interchange file back as the (token,
    * token_id) table every id consumer takes. This is what makes an
    * EXTERNALLY-trained tokenizer faithfully applicable here: its ids
    * are its own (a different alphabet order, different specials) —
    * re-deriving them via [[vocabulary]] would renumber the embedding
    * space, so the pair to import is (merges.txt, vocab.json), both
    * verbatim. Duplicate tokens or non-integer ids fail loudly. */
  def importVocabJson(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val body = Artifacts.readStringIfExists(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no vocab file at $path"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body)
    require(root != null && root.isObject,
      s"vocab.json at $path is not a JSON object")
    val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val it = root.fields()
    while (it.hasNext) {
      val e = it.next()
      require(e.getValue.isIntegralNumber,
        s"vocab.json id for token '${e.getKey}' is not an integer: " +
          e.getValue.toString)
      out += ((e.getKey, e.getValue.asLong()))
    }
    // a JSON object cannot carry duplicate keys past the parser, but
    // two tokens mapping to ONE id silently merges embedding rows —
    // reject, like every other artifact-integrity guard
    val dupIds = out.groupBy(_._2).filter(_._2.size > 1).keys
    require(dupIds.isEmpty,
      s"vocab.json maps multiple tokens to id(s) ${dupIds.mkString(",")}")
    out.toSeq.toDF("token", "token_id")
  }

  /** Read the vocabulary table persisted beside the merge artifact by
    * [[trainPersistedIfStale]]. */
  def persistedVocabulary(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(Artifacts.live(spark, path).map(_.dir).getOrElse(
      throw new IllegalArgumentException(s"no BPE artifact at $path")) + "/vocab")

  /** Persisted trained vocabulary — the production shape: a tokenizer is
    * trained ONCE per corpus version and read by every consumer (token
    * counting, SFT budget truncation, packing), never retrained per
    * query. The [[Artifacts]] fence keys it on the corpus fingerprint and
    * every train parameter; any mismatch (or a missing or interrupted
    * artifact) triggers a full retrain. The artifact is the PAIR (merge
    * table ≤ `numMerges` rows + the [[vocabulary]] symbol → id table,
    * read back via [[persistedVocabulary]]) — reading costs nothing;
    * building costs the corpus histogram pass [[train]] documents.
    * Returns the merge table (rank, left, right), freshly built or
    * served from the artifact. */
  def trainPersistedIfStale(docs: DataFrame, path: String,
      numMerges: Int = 100, topWords: Int = 30000, minPairCount: Long = 2,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    // "vocab":2 = the reserved-special-token id layout (ids 0..3)
    val key = Artifacts.key(
      "fingerprint" -> graft.catalog.Snapshot.fingerprint(docs),
      "merges" -> numMerges, "topWords" -> topWords, "minPair" -> minPairCount,
      "textCol" -> textCol, "vocab" -> 2)
    val dir = Artifacts.fenced(spark, path, key) { (dir, _) =>
      // ONE corpus scan rebuilds the whole artifact pair: the histogram
      // persists across the trainer's and the alphabet's bounded collects
      val (m, v) = trainAndVocabulary(docs, numMerges, topWords,
        minPairCount, textCol)
      m.write.parquet(s"$dir/merges")
      // the symbol → id table persists BESIDE the merges (same fence):
      // every id consumer reads the artifact pair, never re-derives
      v.write.parquet(s"$dir/vocab")
    }
    spark.read.parquet(s"$dir/merges")
  }

  /** Collect + broadcast a trained merge table as rank lookups — the
    * shared prologue of both distributed apply paths (≤ numMerges rows,
    * bounded by construction). */
  private def broadcastRanks(merges: DataFrame)
      : org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]] = {
    val spark = merges.sparkSession
    val mergeList = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    spark.sparkContext.broadcast(mergeList.zipWithIndex.toMap)
  }

  /** Distributed tokenization under a trained merge table: per document,
    * the whitespace token count and the BPE token count (the corpus
    * compression the vocabulary achieves). `merges` is collected once
    * (≤ numMerges rows — bounded) and broadcast; the pass itself is a
    * narrow mapPartitions over (doc_id, text) — BPE apply is an
    * iterative in-word loop with no Catalyst-expression form. Returns
    * (doc_id, n_ws_tokens, n_bpe_tokens). */
  def tokenCounts(docs: DataFrame, merges: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = broadcastRanks(merges)
    docs.select(col(idCol).cast("long"), lower(trim(col(textCol))))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ranks = bc.value
        // per-partition word→tokenCount memo: corpora repeat words, and
        // the memo is bounded by the partition's distinct-word count
        val memo = scala.collection.mutable.HashMap[String, Int]()
        rows.map { case (id, txt) =>
          val words = txt.split("\\s+").filter(_.nonEmpty)
          val nBpe = words.map(w =>
            memo.getOrElseUpdate(w, encodeWord(w, ranks).length)).sum
          BpeTokenCounts(id, words.length.toLong, nBpe.toLong)
        }
      }
      .toDF()
  }

  /** Attach a BPE token count COLUMN to any frame — the schema-preserving
    * form [[graft.pipeline.Sft]]'s budget operators compose with, so
    * truncation / span / packing budgets are measured in the TRAINER's
    * token currency instead of whitespace words (a whitespace budget
    * under-fills or overflows a BPE-windowed trainer by the corpus'
    * compression ratio). `merges` is collected once (≤ numMerges rows —
    * bounded) and broadcast; the count itself is one deterministic UDF
    * over `textCol` — a narrow per-row pass, no shuffle, no join (the
    * per-partition word memo of [[tokenCounts]] is traded away for
    * schema preservation; turn contents are short, so the encode is
    * cheap per row). NULL text counts 0. */
  def withTokenCountColumn(df: DataFrame, merges: DataFrame,
      textCol: String = "content",
      outCol: String = "n_bpe_tokens"): DataFrame = {
    val bc = broadcastRanks(merges)
    val count = udf { (txt: String) =>
      if (txt == null) 0L
      else {
        val ranks = bc.value
        var acc = 0L
        for (w <- txt.trim.split("\\s+") if w.nonEmpty)
          acc += encodeWord(w, ranks).length
        acc
      }
    }
    // lowercase via the SAME SQL lower() the trainer and tokenCounts use
    // (NOT String.toLowerCase in the UDF): Spark's UTF8String lowercasing
    // takes the JVM-default-locale path for non-ASCII strings, so a
    // JVM-side lower could diverge from the trained vocabulary under a
    // non-ROOT default locale (e.g. tr_TR I→ı) — one lowering, one
    // currency (r15 ADVICE)
    df.withColumn(outCol, count(lower(col(textCol))))
  }
}
