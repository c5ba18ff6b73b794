package graft.ops

import graft.T
import graft.T.{Q, q, sqlKey}
import graft.api.Pipelines
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-K — streaming over the `events` replay.
  *
  * The driver harness is batch (Verify → parquet, DuckDB oracle), so each
  * declared query here is the BATCH-EQUIVALENT form; the real Structured
  * Streaming implementations (file-source chunked replay, AvailableNow,
  * watermarks, mapGroupsWithState) live in graft.streaming.Streams and are
  * proven equal to these batch forms by StreamingSpec.
  */
object GroupStream {

  val defs: Seq[Q] = Seq(
    // Daily windowed top-3 event types — the "trending" pattern: the
    // stream maintains incremental (window, type) counts (Streams
    // .dailyTypeCounts, watermarked); the rank runs at read time over the
    // sink. This batch form IS counts+rank in one plan; StreamingSpec
    // proves the split streaming formulation equal.
    q("stream_topk_per_window",
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
        |    event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT w_start, event_type, cnt, rnk FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY w_start ORDER BY cnt DESC, event_type) AS INT) AS rnk
        |  FROM c)
        |WHERE rnk <= 3 ORDER BY w_start, rnk""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("w_start").orderBy(col("cnt").desc, col("event_type")))
          .cast(IntegerType))
        .filter(col("rnk") <= 3)
        .orderBy("w_start", "rnk")
    },

    // groupBy(window($"ts","1 hour")) — the same expression a readStream
    // plan uses; batch-equivalent of the tumbling-window stream.
    q("stream_tumbling_window",
      """SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), T.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("w_start", "event_type")
    },

    // 1h windows sliding 15min: every event lands in 4 epoch-aligned windows.
    q("stream_sliding_window",
      """WITH e AS (SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS b FROM events),
        |w AS (SELECT b - CAST(i AS INT) * INTERVAL 15 MINUTE AS w_start
        |      FROM e CROSS JOIN range(4) t(i))
        |SELECT w_start, count(*) AS cnt FROM w GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("w_start"), col("cnt"))
        .orderBy("w_start")
    },

    // Per-user sessions with a 30-minute gap: lag-gap → prefix-sum session
    // ids (the batch formulation of session_window).
    q("stream_session_window",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |g AS (SELECT user_id, sid,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s
        |  FROM s GROUP BY 1,2)
        |SELECT user_id, count(*) AS n_sessions, CAST(SUM(dur_s) AS BIGINT) AS total_dur_s
        |FROM g GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      // >= gap: session_window windows are half-open [ts, ts+gap), so an
      // event exactly at prev+gap starts a NEW session (ADVICE r2)
      Pipelines.sessionize(T.t(s, dir, "events"), "user_id", "ts", 1800L,
          tieBreak = Seq("event_id"))
        .groupBy("user_id", "session_id")
        .agg(expr("(unix_micros(cast(max(ts) as timestamp)) - unix_micros(cast(min(ts) as timestamp))) DIV 1000000")
          .as("dur_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("dur_s")).cast(LongType).as("total_dur_s"))
        .orderBy("user_id")
    },

    // Watermark/late-data semantics are not batch SQL → streaming-only test
    // (StreamingSpec asserts the late chunk is dropped); declared form is the
    // plain tumbling count over the (batch ⇒ nothing late) event set.
    // Declared form = hourly counts over the full event set (what the
    // watermarked stream converges to when every chunk eventually arrives);
    // the watermark DROP semantics — late-tail chunk discarded — are asserted
    // in StreamingSpec, which replays an out-of-order tail and checks the
    // dropped count. The batch form is plainly SQL-expressible, so it gets
    // the full oracle instead of a rows-only check.
    q("stream_watermark_late",
      """SELECT date_trunc('hour', ts) AS w_start, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("w_start"), col("cnt"))
        .orderBy("w_start")
    },

    // Batch form of dropDuplicatesWithinWatermark("event_id").
    q("stream_dedup_stateful",
      """SELECT (SELECT count(*) FROM events) AS n_events,
        |       (SELECT count(DISTINCT event_id) FROM events) AS n_unique""") { (s, dir) =>
      val ev = T.t(s, dir, "events")
      ev.agg(count(lit(1)).as("n_events"))
        .crossJoin(ev.dropDuplicates("event_id").agg(count(lit(1)).as("n_unique")))
    },

    // Batch form of the transformWithState / mapGroupsWithState per-user
    // running total.
    sqlKey("stream_stateful_running",
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        |FROM events ORDER BY user_id, event_id"""),

    // Batch form of the stream-stream interval join: purchases ⋈ clicks
    // within ±30 min per user.
    sqlKey("stream_stream_join",
      """SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2"""),

    // Left-outer stream-stream join: purchases keep a row even with no
    // click within ±30 min (the watermark is what lets streaming emit the
    // null side once the window is provably closed — Streams.joinLeftOuter;
    // batch-equivalent declared). DuckDB default ASC puts NULLS LAST while
    // Spark puts them FIRST, so the oracle pins NULLS FIRST explicitly.
    sqlKey("stream_join_left_outer",
      """WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
        |    WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
        |    WHERE event_type = 'click')
        |SELECT p_id, c_id FROM p LEFT JOIN c
        |  ON p.user_id = c.user_id
        | AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTE AND p_ts + INTERVAL 30 MINUTE
        |ORDER BY p_id, c_id NULLS FIRST"""),

    // Batch form of the MapState distinct-state processor
    // (Streams.distinctTypes): per-user distinct event-type count — the
    // final state the stream converges to (StreamingSpec proves equality
    // over the chunked replay).
    sqlKey("stream_distinct_state",
      """SELECT user_id, count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY 1"""),

    // Batch form of the ListState bounded top-k processor
    // (Streams.topValuesPerUser): per-user top-3 event values, ties to
    // the smaller event_id — the final state of the O(k)-per-key list.
    // StreamingSpec proves replay equality.
    sqlKey("stream_topk_state",
      """SELECT user_id, rnk, value FROM (
        |  SELECT user_id, value, CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rnk
        |  FROM events)
        |WHERE rnk <= 3 ORDER BY user_id, rnk"""),

    // Batch form of the EVENT-TIME-TIMER sessionizer
    // (Streams.sessionsWithTimers — registerTimer/handleExpiredTimer,
    // TimeMode.EventTime): one row per closed session. The timer is what
    // closes a session with NO later event from that user; in batch that
    // closure is free, so the twin is plain gap-sessionization emitting
    // per-session rows. StreamingSpec proves the replay (with a watermark-
    // flush tail so every terminal timer fires) emits exactly this set.
    q("stream_session_timers",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
        |  CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS dur_s
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(prev_ts as timestamp))") >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(run))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("s_start"), count(lit(1)).as("n_events"),
          expr("(unix_micros(cast(max(ts) as timestamp)) - unix_micros(cast(min(ts) as timestamp))) DIV 1000000")
            .as("dur_s"))
        .select("user_id", "s_start", "n_events", "dur_s")
        .orderBy("user_id", "s_start")
    },

    // Batch form of the timer-based inactivity monitor
    // (Streams.inactivityAlerts): an alert is "≥ 2 h passed after this
    // event with nothing newer from the user" — in batch, events whose
    // lead() successor is NULL (terminal: the timer path) or ≥ 2 h later
    // (interior: the gap path). The streaming alerted-flag makes the two
    // paths exactly-once, so the emitted set equals this twin.
    q("stream_inactivity_alert",
      """WITH o AS (SELECT user_id, event_id, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id, event_id FROM o
        |WHERE nxt IS NULL OR epoch_us(nxt) - epoch_us(ts) >= 7200000000
        |ORDER BY user_id, event_id""") { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T.t(s, dir, "events")
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .filter(col("nxt").isNull ||
          expr("unix_micros(cast(nxt as timestamp)) - unix_micros(cast(ts as timestamp))") >= 7200000000L)
        .select("user_id", "event_id")
        .orderBy("user_id", "event_id")
    },

    // Batch form of the TTL'd running-count processor (Streams.ttlCounts —
    // ValueState with a REAL processing-time TTLConfig, the state-lifecycle
    // surface every other processor leaves at NONE). The replay delivers
    // period 2 (ts ≥ Jan 16) after a wall-clock gap > ttl, so TTL eviction
    // IS the period reset and the stream's final per-(user, period) count
    // equals this GROUP BY. StreamingSpec proves both directions: retention
    // (back-to-back batches within a period accumulate) and eviction (a
    // no-TTL control run shows cumulative counts instead).
    sqlKey("stream_state_ttl",
      """SELECT user_id,
        |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 2 END AS period,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Batch form of the foreachBatch IDEMPOTENT upsert sink
    // (Streams.upsertBatch/runUpsertSink — per-batch commit markers +
    // atomic staged directory swap, latest-wins keyed merge): the target
    // a drained replay converges to is the latest (max ts, then max
    // event_id) event per user, and StreamingSpec proves a DOUBLE replay
    // (at-least-once redelivery) and a fresh-checkpoint rerun converge to
    // this same set.
    sqlKey("stream_upsert_sink",
      """SELECT user_id, ts, event_id, value FROM (
        |  SELECT user_id, ts, event_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id"""),

    // Batch form of the STREAM-STATIC enrichment join
    // (Streams.staticEnrich): each micro-batch inner-joins the events
    // stream to the static customer dim — broadcast, so the stream side
    // never shuffles for the join — then a tumbling hourly count/sum per
    // market segment. Stream-static inner joins are stateless per batch
    // (no watermark, no join state), so the drained stream equals this
    // plain batch join + window agg; StreamingSpec proves the replay.
    // Plan: BroadcastHashJoin, partial agg, then one exchange on
    // (window, segment) — the shape every micro-batch plans.
    q("stream_static_enrich",
      """SELECT date_trunc('hour', ts) AS w_start, c_mktsegment, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val c = T.t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      T.t(s, dir, "events")
        .join(broadcast(c), col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), T.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("c_mktsegment"),
          col("cnt"), col("sum_value"))
        .orderBy("w_start", "c_mktsegment")
    },

    // Batch form of the WARM-START stateful totals (Streams.seededTotals —
    // StatefulProcessorWithInitialState: per-user state bootstrapped from a
    // batch-computed seed dataset via handleInitialState, the
    // state-migration surface of the v2 state API). The declared form
    // splits each user's value mass into the seed portion (before the
    // split instant — what the initial state carries) and the grand total
    // (what the seeded stream converges to after replaying only the
    // post-split events); StreamingSpec proves that convergence, i.e. that
    // the seeds were genuinely applied before the first input batch.
    sqlKey("stream_initial_state",
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS seed_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1"""),

    // Batch form of the CHAINED stateful pipeline
    // (Streams.dedupThenHourly): dropDuplicatesWithinWatermark(event_id)
    // feeding a watermarked tumbling hourly count — two stateful operators
    // in ONE streaming query (Spark 4 multi-stateful append mode). The
    // time-ordered replay makes "first arrival" = min(ts) per event_id, so
    // the batch twin dedups to min-ts then counts per hour.
    q("stream_chained_stateful",
      """WITH d AS (SELECT event_id, min(ts) AS ts FROM events GROUP BY 1)
        |SELECT date_trunc('hour', ts) AS w_start, count(*) AS cnt
        |FROM d GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      T.t(s, dir, "events")
        .groupBy("event_id").agg(min("ts").as("ts"))
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("w_start"), col("cnt"))
        .orderBy("w_start")
    }
  )
}
