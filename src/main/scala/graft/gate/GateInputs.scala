package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, Dedup, Similarity}

/** What the gate entries read: the sf dir's tables, the oracle-sample
  * bound, and the persisted artifacts (built by [[prewarmPersisted]]). */
private[graft] object GateInputs {

  private[gate] def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private[gate] def emb(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic input bound for the twelve heavyweight dedup /
    * fingerprint mirrors (`p_dedup_keep_best/minhash/ngram/clusters/
    * contain/recall`, `p_split_leakage`, `p_fingerprint`, `p_mm_dedup`,
    * `p_mm_dedup_png`, `p_mm_dedup_gif`, `p_mm_dedup_jpeg`),
    * whose DuckDB oracles recompute 96-hash signatures / all-pairs
    * Jaccard / recursive closures / byte-loop XXH64 effectively
    * single-threaded and time out past gate scale. When
    * `SPARK_GRAFT_ORACLE_SAMPLE=M` is set, BOTH sides of those
    * entries restrict the corpus to `doc_id % M == 0` — the Spark input
    * frame via [[heavyDocs]] and the oracle SQL via [[heavyDocsRel]],
    * dumped by the same JVM, so they can never disagree about the
    * sample. The driver gate (sf0.01), `sbt test`, and Bench never set
    * it: semantics and timings there are the untouched full corpus. Its
    * one purpose is the sf0.1 oracle sweep, where M=4 keeps a
    * 1250-document corpus (2.5× the full sf0.01 gate) inside DuckDB's
    * budget so every entry is verified against 10×-scale data with zero
    * timeouts (SURVEY §8).
    *
    * `p_mm_dedup` / `p_mm_dedup_png` / `p_mm_dedup_gif` /
    * `p_mm_dedup_jpeg` are the one exception to the
    * `doc_id % M == 0` shape: their image fixtures group by `doc_id / 4` with variant `doc_id % 4`,
    * so a modulus-aligned sample keeps exactly ONE member per group and
    * both engines emit zero pairs — a vacuously-green sweep (r14 ADVICE).
    * Those entries sample `doc_id % (2M) < 2` instead (`MultimodalGates`'
    * `mmSampleDocs` / `mmSampleRel`): the same 1/M corpus fraction, but kept ids arrive
    * in CONSECUTIVE pairs (8k, 8k+1), i.e. two variants of the same
    * image group, so within-group near-dup pairs survive sampling and
    * the sweep checks real pair output. (The JPEG twin's oracle reads
    * the same-JVM luma-grid dump, which the entry produces from the
    * already-sampled input — the two sides can never disagree about
    * the sample by construction.) */
  private[graft] def oracleSampleMod: Option[Long] =
    sys.env.get("SPARK_GRAFT_ORACLE_SAMPLE")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ >= 2L)
  private[gate] def heavyDocs(s: SparkSession, dir: String): DataFrame =
    oracleSampleMod.foldLeft(docs(s, dir))((d, m) =>
      d.filter(col("doc_id") % m === 0))
  private[gate] def heavyDocsRel: String =
    oracleSampleMod.map(m =>
      s"(SELECT * FROM documents WHERE doc_id % $m = 0)")
      .getOrElse("documents")

  /** Sampled runs persist their dedup artifacts beside (not over) the
    * full-corpus ones — the staleness fence would otherwise rebuild the
    * shared artifact on every full/sampled alternation. */
  private[gate] def samplePathSuffix: String =
    oracleSampleMod.map(m => s"_s$m").getOrElse("")

  /** Where the persisted artifact `kind` lives for a given sf dir:
    * tmpdir-scoped, one per corpus, shared by every entry that reads it.
    * `sampled` keeps an oracle-sampled run's artifact beside, not over, the
    * full-corpus one. */
  private[gate] def artifactPath(kind: String, dir: String,
      sampled: Boolean = false): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      java.lang.Integer.toHexString(dir.hashCode) +
      (if (sampled) samplePathSuffix else "")

  // One helper per persisted artifact, called by its entries and by
  // [[prewarmPersisted]] alike, so each build parameter is written once.

  /** The durable IVF index over the sf dir's embeddings; returns its path. */
  private[gate] def ivfIndex(s: SparkSession, dir: String): String = {
    val path = artifactPath("ivf", dir)
    Similarity.buildIvfIndexIfStale(emb(s, dir), path)
    path
  }

  /** MinHash signatures of the corpus — of the [[heavyDocs]] sample when
    * `sampled`. */
  private[gate] def signatures(s: SparkSession, dir: String,
      sampled: Boolean): DataFrame =
    Dedup.minhashSignaturesPersisted(
      if (sampled) heavyDocs(s, dir) else docs(s, dir),
      artifactPath("mhsig", dir, sampled))

  /** Exact n-gram-Jaccard pairs of the [[heavyDocs]] corpus at 0.5. */
  private[gate] def minedPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPersisted(heavyDocs(s, dir),
      artifactPath("pairs", dir, sampled = true), threshold = 0.5)

  /** A persisted span operator over the corpus and its span-starts
    * artifact (the operators' default n / minDocFreq). */
  private[gate] def overSpans[T](s: SparkSession, dir: String)(
      op: (DataFrame, String) => T): T =
    op(docs(s, dir), artifactPath("span", dir))

  /** The persisted BPE artifact pair: (merges, vocabulary). */
  private[gate] def bpeArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val path = artifactPath("bpe", dir)
    (Bpe.trainPersistedIfStale(docs(s, dir), path, numMerges = 50),
      Bpe.persistedVocabulary(s, path))
  }

  /** Build (or freshness-check) every persisted artifact the gate entries
    * read. Artifact builds are corpus SETUP, paid once per corpus
    * fingerprint, so Bench runs this in its untimed warm-up and the timed
    * iterations measure the probe, band join, CC or apply — not a one-off
    * build that a fresh container's empty tmpdir would otherwise charge to
    * the first timed iteration. Every rebuild logs a loud ARTIFACT REBUILD
    * line, so a stale-fence bug can't hide here. */
  def prewarmPersisted(s: SparkSession, dir: String): Unit = {
    ivfIndex(s, dir)
    signatures(s, dir, sampled = false)
    signatures(s, dir, sampled = true)
    minedPairs(s, dir)
    overSpans(s, dir)(Dedup.dupSpanStartsPersisted(_, _))
    bpeArtifact(s, dir)
  }
}
