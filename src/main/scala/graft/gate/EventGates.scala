package graft.gate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{AsOf, Metadata, Profiling, Sequences}
import graft.streaming.StreamingOps

/** `p_` gate entries over the events table ([[graft.pipeline.Sequences]],
  * [[graft.pipeline.AsOf]], [[graft.pipeline.Metadata]],
  * [[graft.streaming.StreamingOps]]) and [[graft.pipeline.Profiling]], each
  * beside its DuckDB mirror. */
private[gate] object EventGates {

  def entries: Seq[GateEntry] = Seq(
    // tumbling-window agg (batch form of the streaming op) — oracle-checked
    GateEntry("p_window", (s, dir) => StreamingOps.tumblingCounts(events(s, dir)),
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS window_start,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // sliding-window agg (batch form; 1h windows every 15m) — oracle-checked
    GateEntry("p_window_sliding", (s, dir) => StreamingOps.slidingCounts(events(s, dir)),
      """SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |           - to_minutes(15 * t.k) AS ws,
        |         event_type, value
        |  FROM events, range(0, 4) t(k))
        |GROUP BY 1, 2""".stripMargin),

    // gap-based sessionization — oracle-checked
    GateEntry("p_sessionize", (s, dir) => StreamingOps.sessionize(events(s, dir)),
      """WITH g AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id,
        |       CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin),

    // next-event-prediction training rows: 3 preceding event types as
    // context, current as label, per user stream (ties broken by
    // event_id) — oracle-checked
    GateEntry("p_event_seqs", (s, dir) => Sequences.sequenceExamples(events(s, dir)),
      // all window functions share one WINDOW spec (ties broken by
      // event_id, same as the Spark side's orderBy(ts, event_id))
      """WITH o AS (
        |  SELECT user_id,
        |         CAST(row_number() OVER w AS BIGINT) AS pos,
        |         COALESCE(lag(event_type, 3) OVER w, '<null>') AS c1,
        |         COALESCE(lag(event_type, 2) OVER w, '<null>') AS c2,
        |         COALESCE(lag(event_type, 1) OVER w, '<null>') AS c3,
        |         event_type
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id AS user, pos,
        |       c1 || ',' || c2 || ',' || c3 AS context,
        |       COALESCE(event_type, '<null>') AS label
        |FROM o WHERE pos > 3""".stripMargin),

    // one-scan per-column profile of the documents table — oracle-checked
    GateEntry("p_profile", (s, dir) =>
      Profiling.profileTable(s.read.parquet(s"$dir/documents.parquet")),
      // one-scan column profile of documents (same stats per column the
      // Spark side's single aggregate computes)
      // DuckDB mirror of [[graft.pipeline.Profiling.profileTable]] over the
      // documents table: the same per-column stats computed in one scan,
      // pivoted to one row per column — generated from the same
      // (name, numeric?, string?) column list shape the Spark side derives
      // from the schema.
      {
        // (name, isNumeric, isString) for documents' columns
        val colsSpec = Seq(("doc_id", true, false), ("text", false, true),
          ("lang", false, true), ("source", false, true), ("n_chars", true, false))
        val aggs = colsSpec.map { case (n, num, str) =>
          val minN = if (num) s"min(CAST($n AS DOUBLE))" else "CAST(NULL AS DOUBLE)"
          val maxN = if (num) s"max(CAST($n AS DOUBLE))" else "CAST(NULL AS DOUBLE)"
          val minS = if (str) s"min($n)" else "CAST(NULL AS VARCHAR)"
          val maxS = if (str) s"max($n)" else "CAST(NULL AS VARCHAR)"
          s"""    CAST(sum(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS nulls_$n,
             |    CAST(count(DISTINCT $n) AS BIGINT) AS dist_$n,
             |    $minN AS minn_$n, $maxN AS maxn_$n,
             |    $minS AS mins_$n, $maxS AS maxs_$n""".stripMargin
        }.mkString(",\n")
        val rows = colsSpec.map { case (n, _, _) =>
          s"""SELECT '$n' AS col_name, n_rows, nulls_$n AS n_nulls,
             |  dist_$n AS n_distinct, minn_$n AS min_num, maxn_$n AS max_num,
             |  mins_$n AS min_str, maxs_$n AS max_str FROM a""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH a AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |$aggs
           |  FROM documents)
           |$rows""".stripMargin
      }),

    // leakage-free rolling feature: purchases summed over the hour before
    // each click (range window over the union — oracle: correlated
    // BETWEEN subquery)
    GateEntry("p_rolling", (s, dir) => {
      val ev = events(s, dir)
      AsOf.rollingAgg(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"), col("value")),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "pts",
        valueCol = "value", horizonSeconds = 3600,
        outName = "spend_1h")
        .select(col("event_id"), col("user_id"),
          round(col("spend_1h"), 2).as("spend_1h"))
    },
      """SELECT l.event_id, l.user_id,
        |  round(coalesce((SELECT sum(r.value) FROM events r
        |     WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |       AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts), 0), 2)
        |  AS spend_1h
        |FROM events l WHERE l.event_type = 'click'""".stripMargin),

    // as-of join: each click picks up the user's most recent purchase at
    // or before it (union-merge, one shuffle; oracle: DuckDB ASOF JOIN)
    GateEntry("p_asof", (s, dir) => {
      val ev = events(s, dir)
      AsOf.asOfJoin(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"),
            col("value").as("purchase_value")),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "pts",
        payload = Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), col("purchase_value"))
    },
      """SELECT l.event_id, l.user_id, r.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // typed JSON metadata extraction (explicit DDL schema, no inference
    // pass) + filter on the extracted field — oracle-checked
    GateEntry("p_json", (s, dir) =>
      Metadata.parseJson(events(s, dir), "props", "k INT")
        .filter(col("k") >= 50)
        .select(col("event_id"), col("k"), col("event_type")),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |       event_type
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50""".stripMargin),

    // bucketed profile of a numeric JSON field (parse -> bucket -> one
    // map-side-combinable agg) — oracle-checked
    GateEntry("p_json_profile", (s, dir) =>
      Metadata.profileIntField(events(s, dir), "props", "k", 10, col("value")),
      """SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10.0)
        |         AS INTEGER) AS bucket,
        |       count(*) AS cnt, round(avg(value), 6) AS avg_payload
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1""".stripMargin),
  )

  /** The events table's `ts` has shipped as both TIMESTAMP(NANOS) (which
    * Spark 4 rejects by default — read nanos as long, floor-convert to µs,
    * matching DuckDB's cast) and plain TIMESTAMP(MICROS) (readable as-is).
    * Adapt to whichever this dataset carries instead of assuming one. */
  private def events(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // NTZ → LTZ under the UTC session timezone: byte-identical instants,
      // and downstream epoch math (unix_micros in sessionize) only accepts
      // the LTZ flavor — the same type the nanos path above produces
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
