package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

case class SDoc(doc_id: Long, text: String)

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0),
    Ev(2, t("2024-01-01 10:20:00"), 1, "click", 2.0),
    Ev(3, t("2024-01-01 10:59:00"), 2, "view", 3.0),
    Ev(4, t("2024-01-01 11:01:00"), 1, "click", 4.0),
    Ev(5, t("2024-01-01 12:30:00"), 1, "view", 5.0),
    Ev(6, t("2024-01-01 12:40:00"), 2, "view", 6.0))

  test("streaming tumbling counts equal the batch formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)

    val q = StreamingOps.streamingTumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("agg_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = rows(spark.table("agg_out"))
    val batch = rows(StreamingOps.tumblingCounts(events.toDF()))
    assert(streamed == batch)
    assert(batch.contains(Seq("2024-01-01 10:00", "click", 2L, 3.0)))
  }

  test("streaming sliding counts equal the batch formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)

    val q = StreamingOps.streamingSlidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("slide_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = rows(spark.table("slide_out"))
    val batch = rows(StreamingOps.slidingCounts(events.toDF()))
    assert(streamed == batch)
    // event at 10:05 lands in 4 windows: 09:15, 09:30, 09:45, 10:00
    val clickWindows = batch.filter(r => r(1) == "click").map(_.head)
    assert(Seq("2024-01-01 09:15", "2024-01-01 09:30", "2024-01-01 09:45",
      "2024-01-01 10:00").forall(clickWindows.contains))
  }

  test("gap sessionization") {
    import spark.implicits._
    // user 1: 10:05,10:20 (one session), 11:01 (>30min? 41min -> new), 12:30 (new) = 3
    // user 2: 10:59, 12:40 = 2 sessions
    val out = StreamingOps.sessionize(events.toDF(), gapMinutes = 30)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((3L, 4L)))
    assert(out(2L) == ((2L, 2L)))
  }

  test("streaming dedup drops later duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, ts: Timestamp, text: String)
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(
      (1L, t("2024-01-01 10:00:00"), "alpha beta"),
      (2L, t("2024-01-01 10:01:00"), "gamma delta"),
      (3L, t("2024-01-01 10:02:00"), "alpha beta"),   // dup of 1 -> dropped
      (4L, t("2024-01-01 10:03:00"), "epsilon zeta"),
      (5L, t("2024-01-01 10:04:00"), "gamma delta"))  // dup of 2 -> dropped
    val q = StreamingOps.streamingDedup(
        mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("dedup_out").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 4L))
    // schema passes through unchanged (helper hash column dropped)
    assert(spark.table("dedup_out").columns.toSeq == Seq("doc_id", "ts", "text"))
  }

  test("quota admission: batch cutoff semantics") {
    import spark.implicits._
    // source a: toks 400, 500, 300 -> cum-before 0, 400, 900: all < 1000 admitted;
    // then 200 (cum-before 1200) rejected. source b: one oversized doc still admitted
    val d = Seq(
      (1L, "a", 400L), (2L, "a", 500L), (3L, "a", 300L), (4L, "a", 200L),
      (5L, "b", 5000L), (6L, "b", 1L))
      .toDF("doc_id", "source", "n_tokens")
    val kept = StreamingOps.quotaFilter(d, quota = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("streaming quota: custom state persists across micro-batches") {
    import spark.implicits._
    import graft.streaming.QuotaDoc
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[QuotaDoc]
    val q = StreamingOps.streamingQuotaFilter(mem.toDS(), quota = 1000)
      .writeStream.format("memory").queryName("quota_out").outputMode("append").start()
    try {
      mem.addData(QuotaDoc(2, "a", 500), QuotaDoc(1, "a", 400)) // sorted: 1 then 2
      q.processAllAvailable()
      // state = 900 after batch 1; doc 3 admitted (900 < 1000), doc 4 not
      mem.addData(QuotaDoc(3, "a", 300), QuotaDoc(4, "a", 200), QuotaDoc(5, "b", 9999))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("quota_out").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 3L, 5L))
    // matches the batch formulation on the same (id-ordered) data
    val batch = StreamingOps.quotaFilter(
      Seq((1L, "a", 400L), (2L, "a", 500L), (3L, "a", 300L), (4L, "a", 200L),
          (5L, "b", 9999L)).toDF("doc_id", "source", "n_tokens"), quota = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(kept == batch)
  }

  test("streaming session_window variant runs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.streamingSessionCounts(mem.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("sess_out").count()
    assert(n == 5L) // 3 sessions for user 1 + 2 for user 2
  }

  test("streamEdges: micro-batches land in the table and the persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val g = new GraftSession(spark)
    g.registerTable("susers",
      (1L to 6L).map(i => (i, s"u$i")).toDF("id", "name"))
    g.registerTable("SFollows", Seq((1L, 2L)).toDF("from_User", "to_User"))
    g.registerNode("User", "susers", "id")
    g.registerRel("SFollows", "SFollows", "User", "User", adjIndex = true)
    g.persistAdjIndex("SFollows", buckets = 2, partGroups = 4)
    val ckpt = TestSpark.tempDir("graft_se_ckpt")
    val mem = MemoryStream[(Long, Long)]
    val q = g.streamEdges("SFollows",
      mem.toDF().toDF("from_User", "to_User"), ckpt)
    try {
      mem.addData((2L, 3L), (1L, 4L))
      q.processAllAvailable()
      assert(longs(g.cypher(
        "MATCH (a:User {name:'u1'})-[:SFollows]->(b:User) RETURN b.id AS id;"))
        == Set(2L, 4L))
      // a second micro-batch composes (cross-batch state is the index);
      // 1 -> 2 -> 3 (batches 0+1) then 3 -> 5 (batch 2) chains
      mem.addData((3L, 5L))
      q.processAllAvailable()
      assert(longs(g.cypher(
        """MATCH (a:User {name:'u1'})-[:SFollows*1..3]->(b:User)
          |RETURN b.id AS id;""".stripMargin))
        == Set(2L, 3L, 4L, 5L))
      // the persisted index is CONSISTENT with the streamed table: a
      // fresh strict attach accepts it without a rebuild
      g.attachAdjIndex("SFollows", rebuildIfStale = false)
      // the replay gate recorded the last applied batch id
      val props = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("sfollows_outgoing")).properties
      assert(props.get("graft.stream.lastbatch").exists(_.toLong >= 1L))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sfollows_outgoing")
      spark.sql("DROP TABLE IF EXISTS sfollows_incoming")
    }
  }

  test("streamToIvfIndex: streamed embeddings become retrievable neighbors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Similarity
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spark.sql("DROP TABLE IF EXISTS ivf_stream_corpus")
    base.select("vec_id", "embedding").write.saveAsTable("ivf_stream_corpus")
    val dir = TestSpark.tempDir("graft_ivf_stream")
    val ckpt = TestSpark.tempDir("graft_ivf_ckpt")
    try {
      Similarity.buildIvfIndex(spark.table("ivf_stream_corpus"), dir)
      // stream clones of two existing vectors under fresh ids
      val rows = base.limit(2).collect()
        .map(r => (r.getLong(0) + 5000000L, r.getSeq[Float](1)))
      val mem = MemoryStream[(Long, Seq[Float])]
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val entriesBefore = org.apache.spark.sql.graftprobe.CacheProbe.entryCount(spark)
      val q = Similarity.streamToIvfIndex(
        mem.toDF().toDF("vec_id", "embedding"), "ivf_stream_corpus", dir, ckpt)
      try {
        mem.addData(rows.head)
        q.processAllAvailable()
        mem.addData(rows(1)) // second micro-batch composes
        q.processAllAvailable()
      } finally q.stop()
      // each micro-batch released what it persisted (prep + assignment).
      // No persisted RDD beyond the pre-stream set: the batches' corpus
      // append re-caches the build's prep lazily, under a fresh RDD id
      // that no job materializes here
      assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
        "micro-batches leaked persisted RDDs")
      assert(org.apache.spark.sql.graftprobe.CacheProbe.entryCount(spark) == entriesBefore,
        "micro-batches leaked SQL cache entries")
      // each clone is retrieved for its original's query at csim 1.0
      val queries = base.limit(2)
      val got = Similarity.ivfTopKPersisted(queries, dir, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      for (orig <- rows.map(_._1 - 5000000L))
        assert(got.exists { case (qid, nid, sim) =>
          qid == orig && nid == orig + 5000000L && sim == 1.0
        }, s"streamed clone of $orig not retrieved")
      // the index covers the streamed corpus: the fence does not rebuild
      assert(!Similarity.buildIvfIndexIfStale(
        spark.table("ivf_stream_corpus"), dir))
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_stream_corpus")
      graft.pipeline.PipelineCaches.clear()
    }
  }

  test("streamToIvfIndex: the caller's session sees the appended corpus with no cached plan over it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.{PipelineCaches, Similarity}
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spark.sql("DROP TABLE IF EXISTS ivf_stream_fresh")
    base.select("vec_id", "embedding").write.saveAsTable("ivf_stream_fresh")
    val dir = TestSpark.tempDir("graft_ivf_fresh")
    val ckpt = TestSpark.tempDir("graft_ivf_fresh_ckpt")
    try {
      // the build's corpus prep is released with its scope: no cached plan
      // over the corpus is left to refresh the caller's file listing
      val entries = org.apache.spark.sql.graftprobe.CacheProbe.entryCount(spark)
      PipelineCaches.scoped(Similarity.buildIvfIndex(spark.table("ivf_stream_fresh"), dir))
      assert(org.apache.spark.sql.graftprobe.CacheProbe.entryCount(spark) == entries)
      val row = base.limit(1).collect().map(r => (r.getLong(0) + 7000000L, r.getSeq[Float](1))).head
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = Similarity.streamToIvfIndex(
        mem.toDF().toDF("vec_id", "embedding"), "ivf_stream_fresh", dir, ckpt)
      try {
        mem.addData(row)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("ivf_stream_fresh").count() == base.count() + 1)
      assert(!Similarity.buildIvfIndexIfStale(spark.table("ivf_stream_fresh"), dir),
        "the caller's session read the index of the appended corpus as stale")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_stream_fresh")
      PipelineCaches.clear()
    }
  }

  test("sampling ops are streaming-safe: stratified + mixture on a stream") {
    // Corpus.stratifiedSample and mixtureSample are NARROW (stateless
    // filter / explode — no aggregation, no watermark needed), so the
    // exact batch operators run unchanged in append mode; a streamed
    // corpus admits EXACTLY the batch membership, arrival-order-free.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 100L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "de", s"src${i % 3}"))
    val batch = docs.toDF("doc_id", "text", "lang", "source")
    val expectSample = graft.pipeline.Corpus.stratifiedSample(
      batch, Map("en" -> 50, "de" -> 25), defaultNum = 0)
      .collect().map(_.getLong(0)).toSet
    val expectMix = graft.pipeline.Corpus.mixtureSample(
      batch, Map("src0" -> 2.0, "src1" -> 0.5), defaultWeight = 0.0)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("epoch"))).toSet

    val mem = MemoryStream[(Long, String, String, String)]
    mem.addData(docs.take(60): _*)
    val streamed = mem.toDF().toDF("doc_id", "text", "lang", "source")
    val q1 = graft.pipeline.Corpus.stratifiedSample(
        streamed, Map("en" -> 50, "de" -> 25), defaultNum = 0)
      .writeStream.format("memory").queryName("samp_out").outputMode("append").start()
    val q2 = graft.pipeline.Corpus.mixtureSample(
        streamed, Map("src0" -> 2.0, "src1" -> 0.5), defaultWeight = 0.0)
      .writeStream.format("memory").queryName("mix_out").outputMode("append").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      mem.addData(docs.drop(60): _*) // late arrivals change nothing
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    assert(spark.table("samp_out").collect().map(_.getLong(0)).toSet
      == expectSample)
    assert(spark.table("mix_out").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("epoch"))).toSet == expectMix)
  }

  test("split + chunk + bm25-features are streaming-safe narrow ops") {
    // assignSplits and chunkDocuments are pure per-row maps (the split is
    // a hash band, chunks derive from one document's tokens), so the
    // batch operators run unchanged in append mode and a streamed corpus
    // yields exactly the batch rows. BM25's per-term tf columns are
    // narrow too — the corpus STATISTICS (df/N/avgdl) are fixed by the
    // reference corpus, so the streaming form scores new docs against
    // batch-computed stats: the serving shape, asserted via the same
    // per-doc features.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 80L).map(i => (i, s"tok$i data value ${"pad " * (i % 5).toInt}"))
    val batch = docs.toDF("doc_id", "text")
    val expectSplit = graft.pipeline.Sampling.assignSplits(batch)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val expectChunk = graft.pipeline.Corpus.chunkDocuments(batch,
      maxTokens = 3, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val mem = MemoryStream[(Long, String)]
    mem.addData(docs.take(50): _*)
    val streamed = mem.toDF().toDF("doc_id", "text")
    val q1 = graft.pipeline.Sampling.assignSplits(streamed)
      .writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    val q2 = graft.pipeline.Corpus.chunkDocuments(streamed,
        maxTokens = 3, overlap = 1)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      mem.addData(docs.drop(50): _*)
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    assert(spark.table("split_out").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet == expectSplit)
    assert(spark.table("chunk_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == expectChunk)
  }

  test("stateless curation ops run unchanged on a stream (batch/stream contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      SDoc(1L, "the quick brown fox jumps over the lazy dog today and more words here."),
      SDoc(2L, "x"),
      SDoc(3L, "a longer document with many reasonable words that should pass most rules."))
    val batch = docs.toDF()
    // each op is a stateless narrow projection/filter — the SAME function
    // must accept a streaming frame and emit the batch rows (the
    // logical-plan contract StreamingOps documents; no watermark needed)
    val ops = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("classifier", d => graft.pipeline.TextAnalysis.classifierScore(
        d, IndexedSeq.fill(64)(0.1))),
      ("c4", d => graft.pipeline.TextAnalysis.c4Clean(d)),
      ("gopher", d => graft.pipeline.TextAnalysis.gopherRules(d)))
    for ((tag, op) <- ops) {
      val mem = MemoryStream[SDoc]
      mem.addData(docs: _*)
      val q = op(mem.toDF())
        .writeStream.format("memory").queryName(s"stateless_$tag")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = rows(spark.table(s"stateless_$tag"))
      assert(streamed == rows(op(batch)), tag)
    }
  }

  test("SFT ingestion on a stream: stateless parse + per-batch gate pipeline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val convs = Seq(
      (1L, "system: be\\nhelpful\nuser: hi there\nassistant: multi\\nline ok"),
      (2L, "user: a\nuser: b"),               // invalid: two users in a row
      (3L, "user: ask\nassistant: answer"))
    val batch = convs.toDF("conv_id", "text")
    // parseTurns is a stateless narrow projection (split + posexplode +
    // unescape): the SAME function must accept a streaming frame and emit
    // the batch rows in append mode — the transcript-ingestion entry point
    val mem = MemoryStream[(Long, String)]
    mem.addData(convs: _*)
    val q = graft.pipeline.Sft.parseTurns(
        mem.toDF().toDF("conv_id", "text"))
      .writeStream.format("memory").queryName("sft_parse_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(rows(spark.table("sft_parse_stream")) ==
      rows(graft.pipeline.Sft.parseTurns(batch)))
    // the window-based gate chain (validate → truncate → spans) runs
    // per micro-batch via foreachBatch — transcripts arrive whole, so a
    // batch's conversations are complete and the batch answer is exact
    def gate(turns: org.apache.spark.sql.DataFrame) = {
      val valid = graft.pipeline.Sft.validateConversations(turns)
        .filter(col("valid") === 1).select("conv_id")
      graft.pipeline.Sft.lossMaskSpans(
        graft.pipeline.Sft.truncateToBudget(turns.join(valid, "conv_id"),
          maxTokens = 4))
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val mem2 = MemoryStream[(Long, String)]
    mem2.addData(convs: _*)
    val q2 = mem2.toDF().toDF("conv_id", "text")
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got += rows(gate(graft.pipeline.Sft.parseTurns(b)))
          () // Unit: the (DataFrame, Long) => Unit foreachBatch overload
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(got.reduce(_ ++ _) == rows(gate(graft.pipeline.Sft.parseTurns(batch))))
  }

  test("streaming contamination flags exactly the batch-contaminated docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eval_ = Seq(
      (100L, "the quick brown fox"),
      (200L, "catalyst optimizer internals")).toDF("doc_id", "text")
    val stream = Seq(
      (1L, t("2024-01-01 10:00:00"), "watch the quick brown fox run"), // hit
      (2L, t("2024-01-01 10:01:00"), "completely unrelated text here"),
      (3L, t("2024-01-01 10:02:00"),
        "spark catalyst optimizer internals are neat"),                // hit
      (4L, t("2024-01-01 10:03:00"), "quick brown dog"))               // no shared 3-gram
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(stream.take(2): _*)
    val q = StreamingOps.streamingContamination(
        mem.toDF().toDF("doc_id", "ts", "text"), eval_)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(stream.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.table("contam_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // exactly one row per contaminated doc, original columns intact
    assert(flagged == Set(1L, 3L))
    assert(spark.table("contam_out").count() == 2)
    assert(spark.table("contam_out").columns.toSeq == Seq("doc_id", "ts", "text"))
    // batch equality: same flag set as Corpus.contamination
    val batch = graft.pipeline.Corpus.contamination(
      stream.toDF("doc_id", "ts", "text"), eval_)
      .collect().map(_.getLong(0)).toSet
    assert(batch == flagged)
  }

  test("hashedTfidfApply embeds a stream identically to the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // training docs share "spark catalyst" but differ — a shared-by-all
    // token gets idf ln(2/2)=0, the differing ones ln(2/1)>0
    val docs = Seq(
      SDoc(1L, "spark catalyst optimizer rewrites logical plans"),
      SDoc(2L, "spark catalyst streaming watermark state store"),
      SDoc(3L, "fresh unseen vocabulary arriving mid stream"))
    // model trained on a batch sample (docs 1-2), applied to the stream —
    // the production shape: the frozen idf literal is the only state
    val model = graft.pipeline.TextAnalysis.hashedTfidfIdfValues(
      graft.pipeline.TextAnalysis.hashedTfidfIdf(docs.take(2).toDF()))
    val mem = MemoryStream[SDoc]
    mem.addData(docs.take(2): _*)
    val q = graft.pipeline.TextAnalysis.hashedTfidfApply(mem.toDF(), model)
      .writeStream.format("memory").queryName("hembed_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*) // second micro-batch, held-out vocab
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hembed_out").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    val batch = graft.pipeline.TextAnalysis.hashedTfidfApply(docs.toDF(), model)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(streamed == batch)
    assert(streamed(1L).isDefined && streamed(2L).isDefined)
    assert(streamed(1L) != streamed(2L)) // differing vocab -> different vectors
    assert(streamed(3L).isEmpty) // unseen vocab -> all idf 0 -> null vec
  }

  test("tokenizer id emission on a stream equals the batch ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production ingestion shape: tokenizer trained ONCE on a batch
    // corpus (the persisted artifact pair), then every arriving document
    // gets its input_ids attached by the same narrow UDF — stateless, so
    // the stream form needs no watermark and equals the batch form
    val train = Seq(
      SDoc(1L, "low low low lower newest newest"),
      SDoc(2L, "newest widest lowest low"))
    val merges = graft.pipeline.Bpe.train(train.toDF(), numMerges = 5)
    val vocab = graft.pipeline.Bpe.vocabulary(train.toDF(), merges)
    val arriving = Seq(
      SDoc(10L, "low lowest arriving later"),
      SDoc(11L, "widest newest"),
      SDoc(12L, ""))
    val mem = MemoryStream[SDoc]
    mem.addData(arriving.take(1): _*)
    val q = graft.pipeline.Bpe.withTokenIdsColumn(
        graft.pipeline.Bpe.withTokenCountColumn(
          mem.toDF(), merges, textCol = "text"),
        merges, vocab, textCol = "text")
      .writeStream.format("memory").queryName("ids_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(arriving.drop(1): _*) // second micro-batch
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ids_out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getSeq[Long](3).toList)))
      .toMap
    val batch = graft.pipeline.Bpe.withTokenIdsColumn(
        graft.pipeline.Bpe.withTokenCountColumn(
          arriving.toDF(), merges, textCol = "text"),
        merges, vocab, textCol = "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getSeq[Long](3).toList)))
      .toMap
    assert(streamed == batch)
    // the two currencies agree on the stream too: count == size(ids)
    streamed.values.foreach { case (n, ids) => assert(n == ids.size.toLong) }
    assert(streamed(12L) == ((0L, Nil))) // empty doc: 0 tokens, [] ids
  }

  test("detokenize on a stream equals the batch decode (stateless twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // decode is the same narrow-UDF shape as the id emission above:
    // stateless, so encode -> decode composes on a stream with no
    // watermark and equals the batch form row for row
    val train = Seq(
      SDoc(1L, "low low low lower newest newest"),
      SDoc(2L, "newest widest lowest low"))
    val merges = graft.pipeline.Bpe.train(train.toDF(), numMerges = 5)
    val vocab = graft.pipeline.Bpe.vocabulary(train.toDF(), merges)
    val arriving = Seq(
      SDoc(10L, "low lowest arriving later"), // a/v/g are OOV -> <unk>
      SDoc(11L, "  Widest  NEWEST "))
    val mem = MemoryStream[SDoc]
    mem.addData(arriving.take(1): _*)
    val q = graft.pipeline.Bpe.decodeIds(
        graft.pipeline.Bpe.withTokenIdsColumn(
          mem.toDF(), merges, vocab, textCol = "text"),
        vocab, idsCol = "token_ids", outCol = "rt")
      .writeStream.format("memory").queryName("decode_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(arriving.drop(1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decode_out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.pipeline.Bpe.decodeIds(
        graft.pipeline.Bpe.withTokenIdsColumn(
          arriving.toDF(), merges, vocab, textCol = "text"),
        vocab, idsCol = "token_ids", outCol = "rt")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch)
    // in-alphabet text round-trips to its normalized form on the stream
    assert(streamed(11L) == "widest newest")
    // OOV characters surface as the reserved UNK's literal token
    assert(streamed(10L).contains(graft.pipeline.Bpe.Unk))
  }

  test("streaming vocab sketch: update-mode KMV state converges to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 60L).map(i =>
      (i, s"tok${i % 37} word${i % 11} fill${i}", if (i % 2 == 0) "en" else "de"))
    val batch = graft.pipeline.Corpus.vocabEstimate(
        docs.toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(docs.take(30): _*)
    // update output mode: the KMV aggregate's merge is the state update —
    // k longs per group, which is WHY a sketch (not exact distinct state)
    // is the streaming form of vocabulary tracking
    val q = graft.pipeline.Corpus.vocabEstimate(
        mem.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("vocab_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      mem.addData(docs.drop(30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("vocab_out").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed == batch)
  }

  test("streaming count-min: complete-mode counters converge to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    def buckets(k: org.apache.spark.sql.Column) = array(
      pmod(xxhash64(concat(lit("s0-"), k)), lit(16L)).cast("int"),
      pmod(xxhash64(concat(lit("s1-"), k)), lit(16L)).cast("int"))
    val toks = (0L until 300L).map(i => s"tok${i % 23}")
    val batchCms = toks.toDF("tok")
      .agg(GraftFunctions.cmsAgg(buckets(col("tok")), 2, 16).as("m"))
      .collect()(0).getSeq[Long](0)
    val mem = MemoryStream[String]
    mem.addData(toks.take(120): _*)
    val q = mem.toDF().toDF("tok")
      .agg(GraftFunctions.cmsAgg(buckets(col("tok")), 2, 16).as("m"))
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      mem.addData(toks.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cms_out").collect()(0).getSeq[Long](0)
    assert(streamed == batchCms)
  }

  test("streaming ingest veto matches the batch cross-dedup decision") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base),
      (4L, "completely different material about spark structured streaming state"),
      (5L, "yet another unrelated corpus document concerning graph analytics"))
      .toDF("doc_id", "text")
    val sigs = graft.pipeline.Dedup.minhashSignatures(corpus)
    val incoming = Seq(
      (2L, t("2024-01-01 10:00:00"), base),                       // exact dup of 1 -> veto
      (3L, t("2024-01-01 10:01:00"), base + " again"),            // near dup of 1
      (6L, t("2024-01-01 10:02:00"), "fresh novel content with no overlap at all"),
      (1L, t("2024-01-01 10:03:00"), base))                       // re-ingest of 1: self-match must NOT veto alone
    val mem = MemoryStream[(Long, Timestamp, String)]
    mem.addData(incoming: _*)
    val q = StreamingOps.streamingIngestVeto(
        mem.toDF().toDF("doc_id", "ts", "text"), sigs)
      .writeStream.format("memory").queryName("veto_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val vetoed = spark.table("veto_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // batch truth over the same delta/corpus
    val expect = graft.pipeline.Dedup.crossDedupPairs(
        incoming.map(d => (d._1, d._3)).toDF("doc_id", "text"), sigs)
      .filter(org.apache.spark.sql.functions.col("a") =!=
        org.apache.spark.sql.functions.col("b"))
      .select("a").collect().map(_.getLong(0)).toSet
    assert(vetoed == expect)
    assert(vetoed.contains(2L) && !vetoed.contains(6L))
    // near-dup 3 must be caught if batch caught it (sanity on the fixture)
    assert(expect.contains(3L))
    // schema passes through unchanged
    assert(spark.table("veto_out").columns.toSeq == Seq("doc_id", "ts", "text"))
  }
}
