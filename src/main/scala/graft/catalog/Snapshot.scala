package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Content fingerprint of a DataFrame's backing data — the input half of
  * every staleness fence on a persisted artifact:
  *  - the adjacency indexes, fenced in the catalog's TBLPROPERTIES
  *    ([[graft.GraftSession]]);
  *  - the MinHash signatures, mined pairs and span starts ([[graft.pipeline.Dedup]]),
  *    the IVF index ([[graft.pipeline.Similarity]]) and the BPE vocabulary
  *    ([[graft.pipeline.Bpe]]), each fenced by [[graft.pipeline.Artifacts]]
  *    under a key of this fingerprint plus every build parameter.
  *
  * The reference never serves stale index rows because its bitmap indexes
  * are AggregatingMergeTree tables fed by materialized views on every
  * INSERT (brahmand/src/clickhouse_query_generator/ddl_query.rs:290-311).
  * A batch-built artifact needs an explicit freshness check instead: the
  * builder records this fingerprint with the artifact, and a reader
  * compares it against the source before serving. It is durable — a
  * content hash, not an in-memory table generation — because artifacts
  * are reused across JVMs (see [[stripJvmIds]]).
  *
  * File-backed frames hash the sorted (path, length, mtime) status of
  * their input files PLUS the canonicalized logical plan — no data pass,
  * O(#files) driver-side metadata calls, valid at any data scale (an
  * overwritten parquet file always changes at least its mtime). The plan
  * hash matters because input-file status alone cannot distinguish
  * `corpus` from `corpus.filter(...)`: both read the same files, but an
  * artifact built from one must not be served as fresh for the other.
  * Frames with no file inputs (in-memory test fixtures) fall back to a
  * row-count + row-hash aggregate — one cheap map-side-combinable pass
  * that executes the plan, so it reflects transformations already.
  */
object Snapshot {

  def fingerprint(df: DataFrame): String = {
    val files = df.inputFiles
    val material =
      if (files.nonEmpty) {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        // canonicalized: expression ids and aliases normalized, so the
        // same derivation built twice hashes identically. toJSON, not
        // toString: tree string rendering elides argument lists past
        // spark.sql.debug.maxToStringFields (default 25), so two wide
        // projections differing only in a late column would stringify —
        // and therefore fingerprint — identically
        val canon = df.queryExecution.analyzed.canonicalized
        val planHash = stripJvmIds(
          try canon.toJSON
          catch { // a non-JSON-serializable node: schema + tree string.
            // NonFatal only — swallowing OOM/linkage errors here would
            // turn a dying JVM into a silently-wrong fingerprint
            case scala.util.control.NonFatal(_) =>
              canon.schema.json + canon.toString
          })
        files.sorted.map { f =>
          val p = new Path(f)
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        }.mkString(s"plan:$planHash\n", "\n", "")
      } else {
        import org.apache.spark.sql.functions._
        // order-independent content hash: sum of per-row xxhash64 (+ count,
        // so deleting a zero-hash row still changes the fingerprint).
        // Summed as decimal(38,0): a long sum overflows under ANSI mode.
        val r = df
          .select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
            .cast("decimal(38,0)").as("h"))
          .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
          .head()
        s"rows:${r.getLong(0)}:${if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString}"
      }
    sha256Hex(material)
  }

  /** Canonicalization normalizes expression IDS (0, 1, 2…) but each
    * `ExprId` also carries a per-JVM UUID (`jvmId`) that `toJSON`
    * serializes verbatim — so the "canonical" plan JSON differed across
    * JVMs and every persisted artifact silently rebuilt once per
    * session (found round 16: two identical Verify sessions both logged
    * ARTIFACT REBUILD). Strip it: the normalized numeric id is the
    * entire identity canonicalization intends.
    *
    * The match is ANCHORED to the ExprId serialization context
    * (`"...expressions.ExprId","id":<n>,"jvmId":"<uuid>"` as one unit —
    * probed against Spark 4.1's actual TreeNode JSON), not any
    * uuid-shaped `jvmId` key anywhere: a USER STRING LITERAL containing
    * a jvmId-shaped substring serializes with escaped quotes (`\"`), so
    * it can never match the anchored form, and two plans differing only
    * in such a literal keep distinct fingerprints (r16 ADVICE — the
    * unanchored strip could conflate them and serve a stale artifact as
    * fresh). */
  private[graft] def stripJvmIds(planJson: String): String =
    planJson.replaceAll(
      "(\"org\\.apache\\.spark\\.sql\\.catalyst\\.expressions\\.ExprId\"" +
        ",\"id\":\\d+,)\"jvmId\":\"[0-9a-fA-F-]{36}\"",
      "$1\"jvmId\":\"\"")

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
