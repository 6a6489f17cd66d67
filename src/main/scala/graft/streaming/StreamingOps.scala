package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming at all (SURVEY.md §2.5) — this is the
  * extension slot. Each transform is written against a plain DataFrame so
  * the SAME function serves batch (driver correctness checks) and streaming
  * (`spark.readStream` input): the Structured Streaming contract is that the
  * logical plan is identical, only the source/sink differ.
  */
object StreamingOps {

  /** Shared body for the four windowed-count variants: ONE place owns the
    * aggregation shape and the `yyyy-MM-dd HH:mm` output format, which
    * must stay in sync with the DuckDB oracles (`p_window`,
    * `p_window_sliding`) AND between the batch/stream pair each spec pins
    * for equality. Tumbling = sliding with slideDur == windowDur. */
  private def windowedCounts(events: DataFrame, windowDur: String,
      slideDur: String, watermark: Option[String]): DataFrame =
    watermark.fold(events)(events.withWatermark("ts", _))
      .groupBy(window(col("ts"), windowDur, slideDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Tumbling-window counts+sums per event type. */
  def tumblingCounts(events: DataFrame, windowDur: String = "1 hour"): DataFrame =
    windowedCounts(events, windowDur, windowDur, watermark = None)

  /** Streaming variant: 2-hour watermark bounds state; append-mode safe. */
  def streamingTumblingCounts(events: DataFrame, windowDur: String = "1 hour"): DataFrame =
    windowedCounts(events, windowDur, windowDur, watermark = Some("2 hours"))

  /** Sliding-window counts+sums per event type: each event lands in
    * `windowDur / slideDur` overlapping windows (Spark's `window()` with a
    * slide). Fan-out happens INSIDE the aggregation operator — no explode
    * materializes, and the partial aggregate combines map-side, so the
    * shuffle carries one row per (window, type) per partition regardless
    * of event volume. */
  def slidingCounts(events: DataFrame, windowDur: String = "1 hour",
      slideDur: String = "15 minutes"): DataFrame =
    windowedCounts(events, windowDur, slideDur, watermark = None)

  /** Streaming variant: 2-hour watermark bounds the open-window state. */
  def streamingSlidingCounts(events: DataFrame, windowDur: String = "1 hour",
      slideDur: String = "15 minutes"): DataFrame =
    windowedCounts(events, windowDur, slideDur, watermark = Some("2 hours"))

  /** Gap-based sessionization (batch formulation): a new session starts when
    * the inter-event gap exceeds `gapMinutes`. Window-function cumulative
    * trick — one shuffle on user_id. The streaming formulation of the same
    * semantics uses `session_window` (see [[streamingSessionCounts]]). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Streaming-native sessionization: `session_window` + watermark. */
  def streamingSessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Exact dedup on a STREAM of documents: first occurrence of each content
    * key within the watermark horizon passes, later duplicates are
    * dropped. `dropDuplicatesWithinWatermark` keys state by a compact
    * (64-bit hash, length) content key — not the full text — and evicts
    * state once the watermark passes: bounded memory at any throughput,
    * the streaming complement of [[graft.pipeline.Dedup.exact]] for
    * ingestion-time filtering. The length component partitions the key
    * space but adds little entropy on length-clustered corpora: within a
    * length class the per-pair collision odds are still 2^-64, i.e.
    * birthday territory around ~5e9 same-length keys per horizon —
    * pipelines that cannot tolerate ANY hash-collision loss should dedup
    * exactly in batch downstream (Dedup.exact groups on the full text).
    * `tsCol` is the event-time column a real feed carries. */
  def streamingDedup(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", horizon: String = "1 hour"): DataFrame = {
    require(!docs.columns.contains("__graft_ch") && !docs.columns.contains("__graft_cl"),
      "input already carries graft's internal dedup-key columns")
    docs
      .withColumn("__graft_ch", xxhash64(col(textCol)))
      .withColumn("__graft_cl", length(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__graft_ch", "__graft_cl")
      .drop("__graft_ch", "__graft_cl")
  }

  /** Streaming benchmark-contamination flagging — the ingestion-time
    * complement of [[graft.pipeline.Corpus.contamination]]: emit each
    * stream document that shares ≥ 1 n-gram with a STATIC eval corpus,
    * original columns intact. Shape: the stream side explodes its
    * distinct n-grams (stateless row multiplication), a stream-static
    * LEFT SEMI join probes the eval gram set (static, benchmark-sized ⇒
    * broadcast), and `dropDuplicatesWithinWatermark` on the id collapses
    * multi-gram hits back to one row per doc with watermark-bounded
    * state. The flag SET matches the batch op exactly (spec-pinned);
    * the batch op's per-doc overlap COUNT is a stateful stream aggregate
    * and deliberately stays batch-only.
    *
    * Scale: eval grams are fixed-size however large the stream; state is
    * one compact key per contaminated doc inside the watermark horizon —
    * contaminated docs are the rare case, so state stays small even on a
    * hot stream. */
  def streamingContamination(docs: DataFrame, evalDocs: DataFrame,
      n: Int = 3, textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts", horizon: String = "1 hour"): DataFrame = {
    import graft.pipeline.{Dedup, Explodes}
    require(!docs.columns.contains("__graft_gram"),
      "input already carries graft's internal gram column")
    // persisted: the static side of a stream-static join is re-evaluated
    // every micro-batch — without this, a long-running stream re-tokenizes
    // the eval corpus once per trigger
    val evalGrams = Explodes.explodeNoInfer(
      Dedup.withShingles(evalDocs.select(col(textCol)), textCol, n),
      Seq.empty, col("sh"), "__graft_gram").distinct()
      .transform(graft.pipeline.PipelineCaches.track)
    val exploded = Explodes.explodeNoInfer(
      Dedup.withShingles(docs.withWatermark(tsCol, horizon), textCol, n),
      docs.columns.map(col).toSeq, col("sh"), "__graft_gram")
    exploded.join(evalGrams, Seq("__graft_gram"), "left_semi")
      .dropDuplicatesWithinWatermark(idCol)
      .drop("__graft_gram")
  }

  /** Streaming ingestion veto — [[graft.pipeline.Dedup.crossDedupPairs]]'s
    * decision on an UNBOUNDED doc stream: emit each incoming doc that
    * near-duplicates (exact shingle-Jaccard ≥ threshold) something
    * already in the static corpus signature table
    * ([[graft.pipeline.Dedup.minhashSignatures]] live or the persisted
    * artifact). The batch complement admits; a stream cannot anti-join
    * against itself, so the streaming form emits the VETOED docs and the
    * sink drops them.
    *
    * Stream side is fully stateless until the final collapse: per-row
    * shingle → xxhash64 → fused per-row signature (`graft_minhash_row` —
    * the blocking signature AGGREGATE cannot run on a stream, which is
    * why the row expression exists) → stateless band posexplode. Static
    * side — banded corpus signatures filtered by the bucket cap — is
    * computed once and persisted (a stream-static join re-evaluates the
    * static plan every micro-batch otherwise). A stream-static inner
    * join probes the buckets, the exact verify intersects the pre-sorted
    * hash sets, self-matches (re-ingested ids) don't veto, and
    * `dropDuplicatesWithinWatermark` collapses multi-band/multi-partner
    * hits to one veto per doc with watermark-bounded state.
    *
    * Scale: per micro-batch the corpus pays nothing — candidates ∝
    * shared band buckets, exactly the batch op's envelope; veto state is
    * one compact key per vetoed doc inside the horizon. */
  def streamingIngestVeto(docs: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.8, maxBucketSize: Int = 10000,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts", horizon: String = "1 hour"): DataFrame = {
    import graft.pipeline.Dedup
    graft.functions.GraftFunctions.register(docs.sparkSession)
    require(!docs.columns.exists(_.startsWith("__giv_")),
      "input already carries graft's internal __giv_ columns")
    def bandCols(sig: Column) = (0 until Dedup.Bands).map(b =>
      hash(slice(sig, lit(b * Dedup.Rows + 1), lit(Dedup.Rows))))
    val cBanded = corpusSigs.select(col("id"),
      posexplode(array(bandCols(col("sig")): _*)).as(Seq("band", "bh")))
    val okBuckets = cBanded.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucketSize).select("band", "bh")
    val corpusBuckets = cBanded.join(okBuckets, Seq("band", "bh"))
      .select(col("band").as("__giv_band"), col("bh").as("__giv_bh"),
        col("id").as("__giv_cid"))
      .transform(graft.pipeline.PipelineCaches.track)
    // hs in the signature table is pre-sorted (computeSignatures).
    // Persisted like corpusBuckets: this is the heaviest corpus
    // projection and the stream-static exact-verify join would
    // re-evaluate the corpus signature plan every micro-batch otherwise.
    val corpusSets = corpusSigs.select(col("id").as("__giv_cid"),
      col("hs").as("__giv_hb"), size(col("hs")).as("__giv_zb"))
      .transform(graft.pipeline.PipelineCaches.track)
    val keep = docs.columns.map(col).toSeq
    val signed = Dedup.withShingles(
        docs.withWatermark(tsCol, horizon), textCol, out = "__giv_sh")
      .withColumn("__giv_hs", transform(col("__giv_sh"), s => xxhash64(s)))
      .filter(size(col("__giv_hs")) > 0)
      .withColumn("__giv_sig",
        graft.functions.GraftFunctions.minhashSignatureRow(col("__giv_hs")))
      .withColumn("__giv_ha", array_sort(col("__giv_hs")))
      .withColumn("__giv_za", size(col("__giv_hs")))
    val banded = signed.select(keep ++ Seq(col("__giv_ha"), col("__giv_za"),
      posexplode(array(bandCols(col("__giv_sig")): _*))
        .as(Seq("__giv_band", "__giv_bh"))): _*)
    banded
      .join(corpusBuckets, Seq("__giv_band", "__giv_bh"))
      .filter(col(idCol) =!= col("__giv_cid"))
      .join(corpusSets, Seq("__giv_cid"))
      .withColumn("__giv_i", graft.functions.GraftFunctions
        .sortedIntersectCount(col("__giv_ha"), col("__giv_hb")))
      .filter(round(col("__giv_i").cast("double") /
        (col("__giv_za") + col("__giv_zb") - col("__giv_i")), 4) >= threshold)
      .dropDuplicatesWithinWatermark(idCol)
      .select(keep: _*)
  }

  /** Per-source token-quota admission — a training-mix budget enforced at
    * ingest: each source may contribute at most `quota` tokens; a document
    * is admitted iff the source's running total BEFORE it is still under
    * the quota (so one oversized doc cannot starve the stream, and at
    * least one doc is always admitted per source).
    *
    * Batch formulation: one running-sum window per source, keyed smallest
    * doc_id first — deterministic and SQL-oracle-checkable. One shuffle on
    * the source column; group sizes are per-source corpus slices.
    */
  def quotaFilter(docs: DataFrame, quota: Long,
      tokenCol: String = "n_tokens", sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sourceCol).orderBy(idCol)
    docs
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") - col(tokenCol) < quota)
      .drop("__cum")
  }

  /** Streaming formulation of [[quotaFilter]] with CUSTOM state:
    * `flatMapGroupsWithState` keeps one Long per source (tokens admitted
    * so far) — running-total cutoffs are not expressible with watermarked
    * built-in aggregations. Docs are admitted in doc-id order WITHIN a
    * micro-batch (iterator sorted group-side; groups are per-source
    * micro-batch slices, bounded by ingest rate, not corpus size) and in
    * arrival order across batches — identical to the batch form when ids
    * arrive ordered, documented divergence otherwise. State never times
    * out: a quota is a per-run budget; restartable via checkpoint.
    */
  def streamingQuotaFilter(
      docs: org.apache.spark.sql.Dataset[QuotaDoc], quota: Long)
      : org.apache.spark.sql.Dataset[QuotaDoc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val enc = org.apache.spark.sql.Encoders.product[QuotaDoc]
    implicit val stateEnc = org.apache.spark.sql.Encoders.scalaLong
    docs.groupByKey(_.source)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[Long, QuotaDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[QuotaDoc], state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[QuotaDoc]
          for (d <- batch.toSeq.sortBy(_.doc_id) if admitted < quota) {
            out += d
            admitted += d.n_tokens
          }
          state.update(admitted)
          out.result().iterator
      }
  }
}

/** Row shape for the typed quota operators. */
final case class QuotaDoc(doc_id: Long, source: String, n_tokens: Long)
