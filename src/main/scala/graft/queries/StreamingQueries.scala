package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Batch-mode analogs of the queue/monitor semantics (SURVEY.md §2.9) —
  * the streaming forms (flatMapGroupsWithState, ProcessingTimeTimeout)
  * are covered by StreamingSpec; these verify the same logic as
  * deterministic batch queries the DuckDB oracle can check.
  */
object StreamingQueries extends QueryFamily {

  def defs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // Stream-stream attribution join, run batch-side: every (view,
    // purchase) pair of the same user with the view inside the 2 h window
    // before the purchase. Identical code drives the watermarked
    // streaming form (StreamingSpec parity across micro-batch splits);
    // withWatermark is a no-op here, so the oracle checks the shared
    // join semantics.
    ("q_attribution_join",
      (s: SparkSession, d: String) => {
        graft.streaming.StreamJoin.attributeEvents(Tables.events(s, d),
            keyCol = "user_id", tsCol = "ts", typeCol = "event_type",
            idCol = "event_id", impType = "view", convType = "purchase",
            lookback = "2 hours", delay = "10 minutes")
          .select("user_id", "imp_id", "conv_id")
          .orderBy("user_id", "imp_id", "conv_id")
      },
      Some("""SELECT v.user_id, v.event_id AS imp_id, p.event_id AS conv_id
             |FROM events v JOIN events p
             |  ON v.user_id = p.user_id
             | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR
             |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
             |ORDER BY v.user_id, imp_id, conv_id""".stripMargin)),

    // The anti side: purchases with NO view in the window ("unattributed
    // conversions") — same watermark-bounded state story, left-anti form.
    ("q_unattributed",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("imp_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            col("ts").as("conv_ts"))
        graft.streaming.StreamJoin.unattributed(purchases, views,
            keyCol = "user_id", convTsCol = "conv_ts", impTsCol = "imp_ts",
            lookback = "2 hours", delay = "10 minutes")
          .select("user_id", "conv_id").orderBy("user_id", "conv_id")
      },
      Some("""SELECT p.user_id, p.event_id AS conv_id
             |FROM events p
             |WHERE p.event_type = 'purchase' AND NOT EXISTS (
             |  SELECT 1 FROM events v
             |  WHERE v.event_type = 'view' AND v.user_id = p.user_id
             |    AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 2 HOUR)
             |ORDER BY p.user_id, conv_id""".stripMargin)),

    // Ordered-progression funnel: users advancing view → click →
    // purchase, each stage's first event strictly after the previous
    // stage's (the batch analog of the task lifecycle's
    // queued → rendering → completed progression). One min() aggregation
    // per stage; stages join on the entity key, so the whole funnel is
    // entity-partitioned — no per-event state.
    ("q_funnel_conversion",
      (s: SparkSession, d: String) => {
        val ev = Tables.events(s, d)
        def firstAfter(evType: String, after: DataFrame, afterCol: String, as: String) =
          ev.filter(col("event_type") === evType)
            .join(after, Seq("user_id"))
            .filter(col("ts") > col(afterCol))
            .groupBy("user_id").agg(min(col("ts")).as(as))
        val view = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val click = firstAfter("click", view, "t_view", "t_click")
        val purchase = firstAfter("purchase", click, "t_click", "t_purchase")
        val stages = Seq(("1_view", view), ("2_click", click), ("3_purchase", purchase))
        stages.map { case (name, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        }.reduce(_ unionByName _).orderBy("stage")
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t_view FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
             |  JOIN v ON v.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
             |  JOIN c ON c.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
             |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
             |UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
             |UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
             |ORDER BY stage""".stripMargin)),

    // Q2 batch — latest task state per key (the `task:{id}` hash):
    // argmax by (ts, event_id) + event counts.
    ("q_task_latest_state",
      (s: SparkSession, d: String) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("_rn", row_number().over(w))
          .withColumn("n_events", count(lit(1)).over(Window.partitionBy("user_id")))
          .filter(col("_rn") === 1)
          .select(col("user_id"), col("event_type").as("last_status"),
            unix_micros(col("ts")).as("last_ts_us"), col("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH r AS (
             |  SELECT user_id, event_type, ts, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
             |  FROM events)
             |SELECT user_id, event_type AS last_status,
             |  epoch_us(ts) AS last_ts_us, n_events
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Q3 batch — heartbeat TTL: workers whose last beat is older than
    // (global max − 30 min) are dead (reference: structure.md TTL=60s).
    ("q_stale_heartbeat",
      (s: SparkSession, d: String) => {
        val lastBeat = Tables.events(s, d)
          .groupBy("user_id").agg(max(unix_micros(col("ts"))).as("last_ts_us"))
        val now = lastBeat.agg(max(col("last_ts_us")).as("_now"))
        lastBeat.crossJoin(broadcast(now))
          .withColumn("stale", col("last_ts_us") < col("_now") - 1800L * 1000000L)
          .select("user_id", "last_ts_us", "stale")
          .orderBy("user_id")
      },
      Some("""WITH lb AS (
             |  SELECT user_id, max(epoch_us(ts)) AS last_ts_us FROM events GROUP BY user_id)
             |SELECT user_id, last_ts_us,
             |  last_ts_us < (SELECT max(last_ts_us) FROM lb) - 1800000000 AS stale
             |FROM lb ORDER BY user_id""".stripMargin)),

    // Q4 batch — the monitor's per-minute summary (reference:
    // rendering/monitor.py:223-249 prints job counts once per minute):
    // tumbling 1-minute event-time window × status. Runs the ACTUAL
    // streaming operator (Monitor.minuteSummary) on a batch frame —
    // window() and the watermark no-op are batch/stream agnostic, so the
    // oracle hash-checks the same code the stream executes.
    // Per-type z-score outlier flags over event values — the telemetry
    // QC rule, made deterministic: moments are exact integer sums of
    // micro-quantized values (second moment in DECIMAL(38,0)), so every
    // z replays bit-for-bit. Precondition: values non-negative (both
    // engines' round() agree away from the half-negative case) — holds
    // for the events fixture.
    ("q_zscore_outliers",
      (s: SparkSession, d: String) => {
        graft.operators.Anomaly.zScoreOutliers(
            Tables.events(s, d).select("event_id", "event_type", "value"),
            keyCol = "event_type", valueCol = "value", threshold = 3.0)
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, event_type, value,
             |    CAST(round(value * 1000000.0) AS BIGINT) AS q FROM events),
             |s AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(SUM(q) AS BIGINT) AS sq,
             |    SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS qq
             |  FROM b GROUP BY 1),
             |x AS (
             |  SELECT b.*, s.n, CAST(s.sq AS DOUBLE) AS ds, CAST(s.qq AS DOUBLE) AS dq
             |  FROM b JOIN s USING (event_type)),
             |y AS (SELECT *, ds / n AS mean,
             |  sqrt((dq - ds * ds / n) / n) AS sd FROM x)
             |SELECT event_id, event_type, value,
             |  CASE WHEN sd = 0.0 THEN 0.0
             |       ELSE (CAST(q AS DOUBLE) - mean) / sd END AS z,
             |  CASE WHEN sd = 0.0 THEN FALSE
             |       ELSE abs((CAST(q AS DOUBLE) - mean) / sd) > 3.0 END AS is_outlier
             |FROM y ORDER BY event_id""".stripMargin)),

    // CUSUM change-point alarms per user series: catches a small
    // SUSTAINED upward shift the per-point z-score never sees. The
    // recurrence (s depends on previous s, with post-alarm reset) runs
    // as the rate-clamp-style ordered scan; the oracle replays it as a
    // recursive CTE with the identical per-step operation tree, so the
    // accumulator doubles hash-compare exactly.
    ("q_cusum",
      (s: SparkSession, d: String) => {
        graft.streaming.ChangePoint.cusum(
            Tables.events(s, d), seqCol = "user_id",
            orderCols = Seq("ts", "event_id"), valueCol = "value",
            k = 60.0, h = 120.0)
          .orderBy("seq", "idx")
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT CAST(user_id AS VARCHAR) AS seq,
             |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS idx,
             |    value AS x
             |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
             |r(seq, idx, value, s, alarm) AS (
             |  SELECT seq, idx, x, greatest(0.0, 0.0 + (x - 60.0)),
             |    greatest(0.0, 0.0 + (x - 60.0)) >= 120.0
             |  FROM t WHERE idx = 1
             |  UNION ALL
             |  SELECT t.seq, t.idx, t.x,
             |    greatest(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s END) + (t.x - 60.0)),
             |    greatest(0.0, (CASE WHEN r.alarm THEN 0.0 ELSE r.s END) + (t.x - 60.0)) >= 120.0
             |  FROM r JOIN t ON t.seq = r.seq AND t.idx = r.idx + 1)
             |SELECT seq, idx, value, s, alarm FROM r ORDER BY seq, idx""".stripMargin)),

    ("q_minute_summary",
      (s: SparkSession, d: String) => {
        graft.streaming.Monitor.minuteSummary(Tables.events(s, d), "ts", "event_type")
          .select(unix_micros(col("window.start")).as("minute_start_us"),
            col("event_type").as("status"), col("count").as("n_events"))
          .orderBy("minute_start_us", "status")
      },
      Some("""SELECT epoch_us(date_trunc('minute', ts)) AS minute_start_us,
             |  event_type AS status, CAST(count(*) AS BIGINT) AS n_events
             |FROM events GROUP BY 1, 2
             |ORDER BY minute_start_us, status""".stripMargin)),

    // Q6 batch — live status counters (`stats:*` hashes): the streaming
    // update-mode groupBy count, verified on its batch analog.
    ("q_status_counters",
      (s: SparkSession, d: String) => {
        graft.streaming.Monitor.statusCounts(Tables.events(s, d), "event_type")
          .select(col("event_type").as("status"), col("count").as("n_events"))
          .orderBy("status")
      },
      Some("""SELECT event_type AS status, CAST(count(*) AS BIGINT) AS n_events
             |FROM events GROUP BY 1 ORDER BY status""".stripMargin)),

    // Q5 — "silence ⇒ done" as a native event-time session window
    // (session ends after 10 min without events;
    // reference: run_render_job_headless.py:318-325).
    ("q_session_silence",
      (s: SparkSession, d: String) => {
        graft.streaming.Monitor.silenceSessions(Tables.events(s, d), "ts", "user_id", "10 minutes")
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"), col("n_frames"))
          .orderBy("user_id", "session_start_us")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(CASE WHEN gap IS NULL OR gap >= 600000000 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM g)
             |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
             |  CAST(count(*) AS BIGINT) AS n_frames
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin))
  )
}
