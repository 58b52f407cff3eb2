package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.oracle
import graft.functions.Scalars._
import graft.sources.Tables

/** Streaming-window surface (SURVEY §2.8), validated in batch form so the
  * DuckDB oracle can check it. The identical expressions run as a real
  * Structured Streaming job in [[graft.streaming.StreamOps]] (readStream →
  * withWatermark → groupBy(window…) → writeStream) — Spark's unified
  * batch/stream semantics make the batch result the ground truth for
  * `Trigger.AvailableNow` runs, which is exactly how the ScalaTest specs
  * validate the streaming path.
  *
  * Timestamps are emitted as formatted strings (see Scalars.fmtTs) to stay
  * parquet-physical-type agnostic across engines.
  */
object StreamingQueries {

  val defs: Seq[QueryDef] = Seq(

    // Tumbling 1-hour window aggregation.
    oracle(
      "q27_tumbling_window",
      s"""SELECT ${fmtTsSql("date_trunc('hour', ts)")} AS window_start,
         |  event_type, COUNT(*) AS n, ${decSumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      "SURVEY §2.8: tumbling window agg (streaming analog)") { (s, d) =>
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
        .select(fmtTs(col("window.start")).as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },

    // Sliding 2h/1h window: each event lands in two overlapping windows.
    oracle(
      "q28_sliding_window",
      """SELECT window_start, event_type, COUNT(*) AS n FROM (
        |  SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type
        |  FROM (SELECT unnest([date_trunc('hour', ts),
        |                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
        |               event_type
        |        FROM events))
        |GROUP BY 1, 2 ORDER BY 1, 2""",
      "SURVEY §2.8: sliding window agg (streaming analog)") { (s, d) =>
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(fmtTs(col("window.start")).as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },

    // Session windows (30-minute gap). Oracle = classic gaps-and-islands;
    // Spark = native session_window (also valid under streaming with
    // watermark). Session end = last event + gap, matching both engines.
    oracle(
      "q29_session_window",
      s"""WITH marked AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id,
         |  ${fmtTsSql("min(ts)")} AS session_start,
         |  ${fmtTsSql("max(ts) + INTERVAL 30 MINUTE")} AS session_end,
         |  COUNT(*) AS n_events, ${decSumSql("value")} AS session_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""",
      "SURVEY §2.8: session windows (gap=30m) vs gaps-and-islands oracle") { (s, d) =>
      Tables(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("session_value"))
        .select(col("user_id"),
          fmtTs(col("session_window.start")).as("session_start"),
          fmtTs(col("session_window.end")).as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    },

    // Stream-stream interval join, batch form: every purchase within the
    // hour preceding each error, per user. As a real stream
    // (StreamOps.purchaseErrorJoin) both sides carry watermarks and the
    // two-sided time bound lets the state store expire — the spec proves
    // the AvailableNow stream equals this batch expression.
    oracle(
      "q55_interval_join",
      s"""SELECT e.user_id, e.event_id AS e_id, p.event_id AS p_id,
         |  ${fmtTsSql("e.ts")} AS error_ts,
         |  ${fmtTsSql("p.ts")} AS purchase_ts,
         |  p.value AS p_value
         |FROM events e
         |JOIN events p
         |  ON p.user_id = e.user_id
         | AND e.event_type = 'error' AND p.event_type = 'purchase'
         | AND p.ts >= e.ts - INTERVAL 1 HOUR AND p.ts <= e.ts
         |ORDER BY e.user_id, e_id, p_id""",
      "SURVEY §2.8: stream-stream interval join (batch ground truth)") { (s, d) =>
      graft.streaming.StreamOps.purchaseErrorJoin(Tables(s, d, "events"))
        .orderBy("user_id", "e_id", "p_id")
    },

    // Stream-static enrichment: the event stream joined to the static
    // user→nation dimension, rolled up per (hour, nation). As a real
    // stream (StreamOps.nationEnrichedWindows) the dimension broadcasts
    // into every micro-batch and the only state is the watermarked
    // window agg — the spec proves the AvailableNow run equals this
    // batch expression.
    oracle(
      "q123_stream_static_enrich",
      s"""SELECT ${fmtTsSql("date_trunc('hour', e.ts)")} AS window_start,
         |  n.n_name, COUNT(*) AS n, ${decSumSql("e.value")} AS total_value
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY 1, 2 ORDER BY 1, 2""",
      "SURVEY §2.8: stream-static dimension enrichment + windowed rollup") { (s, d) =>
      graft.streaming.StreamOps.nationEnrichedWindows(
          Tables(s, d, "events"),
          Tables(s, d, "customer"), Tables(s, d, "nation"))
        .orderBy("window_start", "n_name")
    },

    // Batch execution of the custom-state streaming bottom-k sampler
    // (mapGroupsWithState; unified model — state empty, one batch =
    // whole input). The StreamingSpec proves the multi-batch stream
    // emits the identical final snapshots.
    oracle(
      "q130_stream_bottomk",
      s"""SELECT event_type, n_seen, CAST(rk AS BIGINT) AS sample_rank, event_id
         |FROM (
         |  SELECT event_type, event_id,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY h, event_id) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_seen
         |  FROM (SELECT event_type, event_id,
         |          ${graft.functions.Scalars.h60SeededSql("'rsv'", "event_id::VARCHAR")} AS h
         |        FROM events))
         |WHERE rk <= 4
         |ORDER BY event_type, sample_rank""",
      "SURVEY §2.8: continuous bottom-k sample (custom state, batch form)") { (s, d) =>
      import org.apache.spark.sql.functions.{col, posexplode}
      graft.streaming.StreamOps.bottomKSampleStream(Tables(s, d, "events"), 4)
        .select(col("event_type"), col("n_seen"),
          posexplode(col("sample_ids")).as(Seq("i", "event_id")))
        .select(col("event_type"), col("n_seen"),
          (col("i") + 1).cast("long").as("sample_rank"), col("event_id"))
        // Lazy checkpoint of the BOUNDED sampler output (k rows per
        // event_type) before the total order: the trailing range
        // exchange's bound-sampling pass otherwise re-executes the whole
        // mapGroupsWithState pass — the query's dominant cost — a second
        // time (round 15; job census showed two equal ~0.8 s jobs).
        .localCheckpoint(false)
        .orderBy("event_type", "sample_rank")
    },

    // Near-dup pairs by MINHASH-COMPONENT agreement over LSH-bucketed
    // candidates — the verification a bounded streaming state could
    // afford (k longs per doc, never the shingle sets), run here as a
    // batch query.
    oracle(
      "q139_stream_neardup_pairs",
      {
        import graft.operators.TextOps.h60d
        s"""WITH sh AS (${NorthStarQueries.SH}),
           |sig AS (${NorthStarQueries.SIG()}),
           |bands AS (
           |  SELECT doc_id, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      ${h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
           |  FROM sig WHERE sig[1] <> -1),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
           |  WHERE x.doc_id < y.doc_id),
           |ag AS (
           |  SELECT c.a, c.b,
           |    CAST(len(list_filter(range(1, 17),
           |      i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS agree
           |  FROM cand c
           |  JOIN sig sa ON sa.doc_id = c.a
           |  JOIN sig sb ON sb.doc_id = c.b)
           |SELECT a, b, agree FROM ag WHERE agree >= 8 ORDER BY a, b""".stripMargin
      },
      "SURVEY §2.8: streaming ingest near-dup (batch ground truth, signature agreement)") { (s, d) =>
      graft.operators.DedupOps.signatureAgreementPairs(Tables(s, d, "documents"))
        .orderBy("a", "b")
    },

    // Conversation assembly: the chat/interaction-data construction
    // every dialogue-training pipeline runs — raw event streams become
    // session documents (one row per 30-minute-gap session, events
    // concatenated in time order, truncated to a per-session event
    // budget so a runaway session cannot produce an unbounded
    // document). Budget = 2 HERE so the truncation branch is
    // oracle-exercised at this SF (driver sessions max out at 3
    // events; a production budget of ~1000 would make the cap a
    // no-op in the test data — the q74 fixed-k contract-row
    // discipline). Oracle = the q29 gaps-and-islands construction
    // plus a per-session rank cap; Spark = the same native
    // session_window the q29 oracle already proved equivalent, with
    // the assembly riding ONE sort_array(collect_list(struct))
    // partial agg — per-session working set is the session itself,
    // the only state a session window needs anyway. The
    // slice/transform lambda runs on ≤ budget elements per row
    // (cold, bounded — not the shingle-path HOF trap).
    oracle(
      "q159_session_assembly",
      s"""WITH marked AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
         |            ORDER BY ts, event_id) AS rn
         |  FROM sessions),
         |g AS (
         |  SELECT user_id, sid, min(ts) AS session_start,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    string_agg(CASE WHEN rn <= 2 THEN event_type END, ' | '
         |               ORDER BY ts, event_id) AS text
         |  FROM ranked GROUP BY 1, 2)
         |SELECT user_id, ${fmtTsSql("session_start")} AS session_start,
         |  n_events, CAST(least(n_events, 2) AS BIGINT) AS n_kept,
         |  text, CAST(len(text) AS BIGINT) AS n_chars
         |FROM g ORDER BY user_id, session_start""",
      "LLM pipeline: session-window conversation assembly (budget-truncated)") { (s, d) =>
      Tables(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))).as("evs"))
        .select(col("user_id"),
          fmtTs(col("session_window.start")).as("session_start"),
          col("n_events"),
          least(col("n_events"), lit(2L)).as("n_kept"),
          expr("array_join(transform(slice(evs, 1, 2), x -> x.event_type), ' | ')")
            .as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .orderBy("user_id", "session_start")
    })
}
