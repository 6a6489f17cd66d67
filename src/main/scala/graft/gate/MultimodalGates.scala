package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Multimodal}
import GateInputs._

/** `p_` gate entries for [[graft.pipeline.Multimodal]]: image, audio and
  * frame decoding and perceptual-hash near-dup mining over the fixture
  * media, each beside its DuckDB mirror. */
private[gate] object MultimodalGates {

  def entries: Seq[GateEntry] = Seq(
    // multimodal: real byte-level header decode (PNG IHDR / JPEG SOFn scan /
    // GIF screen descriptor / WAV fmt chunk + corrupt→NULL) over synthesized
    // real container payloads — oracle-checked (dims are arithmetic in
    // doc_id on the fixture side; the decoder only ever sees bytes)
    GateEntry("p_mm_decode", (s, dir) =>
      Multimodal.decodeHeaders(s,
        Multimodal.synthesizeMedia(s, docs(s, dir))),
      // The fixture synthesizer derives every container field arithmetically
      // from doc_id (then renders REAL bytes); the oracle recomputes the same
      // arithmetic, so a hash match proves the byte-level decoder recovered
      // exactly what was encoded. doc_id%5: 0=png 1=jpeg 2=gif 3=wav 4=corrupt.
      """SELECT doc_id,
        |       CASE doc_id%5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |            WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
        |            ELSE 'unknown' END AS format,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 1+doc_id%512
        |            WHEN 1 THEN 1+doc_id%1024
        |            WHEN 2 THEN 1+doc_id%600 END AS BIGINT) AS width,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 1+(doc_id*3)%512
        |            WHEN 1 THEN 1+(doc_id*7)%1024
        |            WHEN 2 THEN 1+(doc_id*5)%400 END AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id%5=3
        |            THEN 8000*(1+(doc_id//5)%5) END AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN doc_id%5=3
        |            THEN 1+doc_id%2 END AS BIGINT) AS channels,
        |       CAST(CASE WHEN doc_id%5=3 THEN
        |            ((1000+(doc_id%4500)*2) * 1000)
        |            // (8000*(1+(doc_id//5)%5) * (1+doc_id%2) * 2)
        |            END AS BIGINT) AS duration_ms,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 57+doc_id%100
        |            WHEN 1 THEN 114+doc_id%100
        |            WHEN 2 THEN 14
        |            WHEN 3 THEN 1044+(doc_id%4500)*2
        |            ELSE 4+doc_id%7 END AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),

    // image-feature projection of the decode (n_bytes + dims + format) —
    // oracle-checked
    GateEntry("p_multimodal", (s, dir) =>
      Multimodal.extractFeatures(s,
        Multimodal.synthesizeMedia(s, docs(s, dir))),
      """SELECT doc_id,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 57+doc_id%100
        |            WHEN 1 THEN 114+doc_id%100
        |            WHEN 2 THEN 14
        |            WHEN 3 THEN 1044+(doc_id%4500)*2
        |            ELSE 4+doc_id%7 END AS BIGINT) AS n_bytes,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 1+doc_id%512
        |            WHEN 1 THEN 1+doc_id%1024
        |            WHEN 2 THEN 1+doc_id%600 END AS BIGINT) AS width,
        |       CAST(CASE doc_id%5 WHEN 0 THEN 1+(doc_id*3)%512
        |            WHEN 1 THEN 1+(doc_id*7)%1024
        |            WHEN 2 THEN 1+(doc_id*5)%400 END AS BIGINT) AS height,
        |       CASE doc_id%5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |            WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
        |            ELSE 'unknown' END AS format
        |FROM documents""".stripMargin),

    // aspect-preserving resize plan over REAL decoded dims (image rows
    // only; audio/corrupt payloads drop out) — oracle-checked
    GateEntry("p_mm_resize", (s, dir) =>
      Multimodal.resizeImages(s,
        Multimodal.synthesizeMedia(s, docs(s, dir))),
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(CASE doc_id%5 WHEN 0 THEN 1+doc_id%512
        |              WHEN 1 THEN 1+doc_id%1024
        |              WHEN 2 THEN 1+doc_id%600 END AS BIGINT) AS w,
        |         CAST(CASE doc_id%5 WHEN 0 THEN 1+(doc_id*3)%512
        |              WHEN 1 THEN 1+(doc_id*7)%1024
        |              WHEN 2 THEN 1+(doc_id*5)%400 END AS BIGINT) AS h
        |  FROM documents WHERE doc_id%5 IN (0, 1, 2)),
        |s AS (
        |  SELECT doc_id, w AS orig_w, h AS orig_h,
        |         round(least(224.0 / w, 224.0 / h), 4) AS scale
        |  FROM d)
        |SELECT doc_id, orig_w, orig_h,
        |       CAST(floor(orig_w * scale) AS BIGINT) AS out_w,
        |       CAST(floor(orig_h * scale) AS BIGINT) AS out_h,
        |       scale
        |FROM s""".stripMargin),

    // perceptual-hash image dedup: REAL uncompressed BMP payloads (pixels
    // arithmetic in doc_id on the fixture side), real byte-level pixel
    // decode, dHash over the decoded luma, 16-bit-chunk-blocked Hamming
    // pairs (lossless for maxDist <= 3) — oracle recomputes the 9×8 grid
    // bits from the id arithmetic and brute-forces pair distances
    GateEntry("p_mm_dedup", (s, dir) =>
      Dedup.imageHashPairs(
        Multimodal.imageDHash(s,
          Multimodal.synthesizeBmpMedia(s, mmSampleDocs(s, dir)))),
      // the dHash grid recomputed from the fixture's pixel arithmetic
      // (px(x,y) = (17·(id/4) + 7x + 13y + id%4) mod 256, 27×16 → exact
      // grid coords x=3c, y=2r), pair distances brute-forced — a
      // deliberately different derivation from the engine's byte decode +
      // blocked join (oracles need correctness, not scale)
      s"""WITH img AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM $mmSampleRel
        |  WHERE doc_id % 17 <> 0),
        |bits AS (
        |  SELECT doc_id, r, c,
        |    ((17 * g + 7 * (3 * c) + 13 * (2 * r) + m) % 256 <
        |     (17 * g + 7 * (3 * (c + 1)) + 13 * (2 * r) + m) % 256) AS bit
        |  FROM img,
        |       (SELECT unnest(range(0, 8)) AS r),
        |       (SELECT unnest(range(0, 8)) AS c)),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
        |           AS BIGINT) AS dist
        |  FROM bits x JOIN bits y
        |    ON x.r = y.r AND x.c = y.c AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= 2""".stripMargin),

    // the same near-dup mine over REAL COMPRESSED PNGs (zlib scanlines,
    // decoded via javax.imageio on executors — the container crawls
    // actually carry): identical pixel arithmetic to the BMP fixture, so
    // the shared oracle pins that the codec decode path reproduces the
    // exact pixels the formula predicts (PNG is lossless); JPEG/GIF ride
    // the same decodeImagePixels path, spec-covered in PipelineSpec
    GateEntry("p_mm_dedup_png", (s, dir) =>
      Dedup.imageHashPairs(
        Multimodal.imageDHash(s,
          Multimodal.synthesizePngMedia(s, mmSampleDocs(s, dir)))),
      // the two codec containers share ONE arithmetic mirror — see
      // mmCodecDedupOracleSql
      mmCodecDedupOracleSql),

    // and over real GIFs (the palette container, encoded through the
    // JDK's own writer — lossless for 256-gray content): same gradient,
    // same shared arithmetic oracle, third decode path pinned
    GateEntry("p_mm_dedup_gif", (s, dir) =>
      Dedup.imageHashPairs(
        Multimodal.imageDHash(s,
          Multimodal.synthesizeGifMedia(s, mmSampleDocs(s, dir)))),
      mmCodecDedupOracleSql),

    // and over real JPEGs — the LOSSY container that dominates crawls:
    // same gradient through the JDK's own JPEG writer, decoded on
    // executors via decodeImagePixels -> imageDHash -> the blocked
    // Hamming mine. DCT quantization noise forbids the arithmetic
    // mirror, so the oracle derives hash bits AND pair distances from
    // the same-JVM decoded-luma-grid dump (imageLumaGrid — grid==hash
    // consistency is spec-pinned); only the codec itself is trusted
    // from the JVM. maxDist 3 (the block ceiling): measured codec
    // drift is 0-4 bits/image (ProfileJpegDedup, DESIGN r17), so 3
    // recovers ~69% of within-group near-dups vs 62% at 2
    GateEntry("p_mm_dedup_jpeg", (s, dir) => {
      val media = Multimodal.synthesizeJpegMedia(s, mmSampleDocs(s, dir))
        .transform(graft.pipeline.PipelineCaches.track)
      Multimodal.imageLumaGrid(s, media)
        .write.mode("overwrite").parquet(jpegGridPath)
      Dedup.imageHashPairs(Multimodal.imageDHash(s, media), maxDist = 3)
    },
      // `p_mm_dedup_jpeg` oracle — the fixture-side-dump pattern: read the
      // same-JVM decoded luma grid, re-derive the 64 gradient bits
      // (`bit(r,c) = grid(r,c) < grid(r,c+1)` — exactly [[graft.pipeline
      // .Multimodal.dhashOf]]'s definition, and grid == hash is
      // spec-pinned in MultimodalSpec), brute-force every pairwise Hamming
      // distance, keep dist ≤ 3 (the blocked mine's lossless ceiling). The
      // codec is the ONLY link taken on trust; the hash formula and the
      // pair mine — the operators under test — are derived independently.
      s"""WITH g AS (
        |  SELECT doc_id, r, c, luma
        |  FROM read_parquet('$jpegGridPath/*.parquet')),
        |bits AS (
        |  SELECT a.doc_id, a.r, a.c, (a.luma < b.luma) AS bit
        |  FROM g a JOIN g b
        |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
        |           AS BIGINT) AS dist
        |  FROM bits x JOIN bits y
        |    ON x.r = y.r AND x.c = y.c AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= 3""".stripMargin),

    // audio near-dup pairs: REAL RIFF/fmt/data chunk walk + PCM16 sample
    // read over synthesized waveform payloads → 64-block cyclic
    // energy-gradient fingerprint → the same blocked Hamming pair join
    // the image path uses — oracle-checked (block energies are integer
    // arithmetic in doc_id on the fixture side; the decoder only ever
    // sees bytes)
    GateEntry("p_mm_audio", (s, dir) =>
      Dedup.imageHashPairs(
        Multimodal.audioFingerprint(s,
          Multimodal.synthesizeWavAudio(s, docs(s, dir))),
        maxDist = 3, hashCol = "afp"),
      // block energies re-derived arithmetically from the synthesis formula
      // (sample i of doc d = ((fg·(i²+3i+7)) mod 65537) mod 2048 − 1024 +
      // 3·(d mod 4), i = 8b+j), then the same cyclic-gradient bits and
      // all-pairs Hamming count the Spark side reaches through real
      // RIFF-chunk decoding
      """WITH aud AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
        |  WHERE doc_id % 17 <> 0),
        |e AS (
        |  SELECT doc_id, b,
        |    sum(abs(((((g * 2654435761) % 65537 + 1) *
        |              ((8*b+j)*(8*b+j) + 3*(8*b+j) + 7)) % 65537) % 2048
        |            - 1024 + 3*m)) AS en
        |  FROM aud,
        |       (SELECT unnest(range(0, 64)) AS b),
        |       (SELECT unnest(range(0, 8)) AS j)
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT x.doc_id, x.b, (x.en > y.en) AS bit
        |  FROM e x JOIN e y
        |    ON x.doc_id = y.doc_id AND y.b = (x.b + 1) % 64),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
        |           AS BIGINT) AS dist
        |  FROM bits x JOIN bits y
        |    ON x.b = y.b AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= 3""".stripMargin),

    // video-shaped frame sampling: one row per sampled frame — oracle-checked
    GateEntry("p_mm_frames", (s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.attachBinary(docs(s, dir))),
      """WITH m AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) // 100 + 1 AS n_frames
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i * 100 AS BIGINT) AS byte_off
        |FROM (SELECT doc_id, unnest(range(0, n_frames, 4)) AS i FROM m)""".stripMargin),
  )

  /** Variant-diversity-preserving sample for `p_mm_dedup` /
    * `p_mm_dedup_png` / `p_mm_dedup_gif` — see the
    * [[GateInputs.oracleSampleMod]] scaladoc's exception paragraph. */
  private def mmSampleDocs(s: SparkSession, dir: String): DataFrame =
    oracleSampleMod.foldLeft(docs(s, dir))((d, m) =>
      d.filter(col("doc_id") % (2 * m) < 2))
  private def mmSampleRel: String =
    oracleSampleMod.map(m =>
      s"(SELECT * FROM documents WHERE doc_id % ${2 * m} < 2)")
      .getOrElse("documents")

  /** ONE arithmetic dHash mirror for both codec-container near-dup
    * twins (`p_mm_dedup_png`, `p_mm_dedup_gif`): the fixtures carry the
    * identical 27×16 gradient the BMP fixture does, and PNG/GIF are
    * lossless for 256-gray content, so codec-decode == formula is
    * exactly what sharing this oracle proves. A single binding (the
    * spanCoverageOracleSql pattern) so the twins can never silently
    * diverge. */
  private def mmCodecDedupOracleSql: String =
    s"""WITH img AS (
      |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM $mmSampleRel
      |  WHERE doc_id % 17 <> 0),
      |bits AS (
      |  SELECT doc_id, r, c,
      |    ((17 * g + 7 * (3 * c) + 13 * (2 * r) + m) % 256 <
      |     (17 * g + 7 * (3 * (c + 1)) + 13 * (2 * r) + m) % 256) AS bit
      |  FROM img,
      |       (SELECT unnest(range(0, 8)) AS r),
      |       (SELECT unnest(range(0, 8)) AS c)),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |         CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
      |           AS BIGINT) AS dist
      |  FROM bits x JOIN bits y
      |    ON x.r = y.r AND x.c = y.c AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= 2""".stripMargin

  /** Where `p_mm_dedup_jpeg` dumps its decoded 9×8 luma grid for the
    * oracle (same-JVM evidence — lossy DCT decode has no SQL form;
    * everything downstream of it does and is re-derived there).
    * Overwritten by every run of the entry, so the oracle always reads
    * the grid the very decode under test produced; the sample suffix
    * keeps the sf0.1 sweep's sampled dump from clobbering an unsampled
    * gate/bench dump mid-flight (the [[samplePathSuffix]] convention
    * the other persisted artifacts use). */
  private def jpegGridPath: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mm_jpeg_grid" +
      samplePathSuffix
}
