package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Event analytics: hourly rollups, sessions, funnels, cohort retention
  * and the late-data audit.
  */
object EventQueries {

  lazy val queries: Seq[Query] = Seq(
    // Streaming-shape: tumbling-window aggregation (batch form)
    Query("q22_events_hourly", (s, dir) => {
      EventsStream.windowedCounts(EventsStream.readEvents(s, s"$dir/events.parquet"), "1 hour")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),

    // Sessionization (gap-based), batch/SQL-shape form
    Query("q23_sessions", (s, dir) => {
      EventsStream.sessionizeBatch(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start")
    },
      """WITH m AS (
           SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(CASE WHEN prev_ts IS NULL
                           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                CAST(count(*) AS INTEGER) AS n_events, round(sum(value), 2) AS total_value
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_start"""),

    // Ordered funnel over a thinned stream (event_id < 3000 keeps
    // conversion informative): signup → click → purchase, greedy
    // first-match chain ≡ the oracle's chained-min SQL funnel.
    Query("q123_funnel", (s, dir) => {
      import graft.ops.EventAnalytics
      EventAnalytics.funnelReport(
        EventsStream.readEvents(s, s"$dir/events.parquet")
          .filter(col("event_id") < 3000),
        "event_type", "ts", "event_id", "user_id",
        Seq("signup", "click", "purchase"))
    },
      // Chained-min funnel: s_i = each user's first step-i event strictly
      // after their matched step-(i-1) event — provably the greedy
      // first-match chain funnelReport folds per user.
      """WITH ev AS (SELECT * FROM events WHERE event_id < 3000),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                      (SELECT count(*) FROM s2) AS n2,
                      (SELECT count(*) FROM s3) AS n3)
         SELECT * FROM (
           SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
                  round(n1 / CAST(n1 AS DOUBLE), 6) AS frac_of_first FROM n
           UNION ALL
           SELECT 2, 'click', n2, round(n2 / CAST(n1 AS DOUBLE), 6) FROM n
           UNION ALL
           SELECT 3, 'purchase', n3, round(n3 / CAST(n1 AS DOUBLE), 6) FROM n)
         ORDER BY step"""),

    // Cohort retention triangle over a 1-in-7 subsample (spreads first
    // events across weeks): Monday-week cohorts × integer week offsets.
    Query("q124_cohort_retention", (s, dir) => {
      import graft.ops.EventAnalytics
      EventAnalytics.cohortRetention(
        EventsStream.readEvents(s, s"$dir/events.parquet")
          .filter(col("event_id") % 7 === 0),
        "ts", "user_id")
    },
      // Cohort week = Monday-truncated first-event week as a DATE; offsets are
      // integer-exact day differences over 7 (weeks align, so always a
      // multiple of 7).
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events WHERE event_id % 7 = 0),
         pu AS (SELECT user_id, min(wk) AS cohort_week
                FROM ev GROUP BY user_id),
         aw AS (SELECT DISTINCT e.user_id, p.cohort_week, e.wk AS active_week
                FROM ev e JOIN pu p USING (user_id))
         SELECT cohort_week,
                CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_offset,
                count(*) AS n_users
         FROM aw GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset"""),

    // Watermark sizing study: replay events in simulated arrival order
    // (event time + a deterministic md5 network delay ≤ 30 min) and count
    // what a 10-minute watermark would drop per hour. The running
    // event-time frontier is an exact distributed prefix scan — never a
    // single-partition window over events.
    Query("q132_late_data_audit", (s, dir) => {
      val jitter = (conv(substring(md5(col("event_id").cast("string")), 1, 4),
        16, 10).cast("long") * lit(1800000000L)) // ≤30 min in 65536ths
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .withColumn("arr",
          unix_micros(col("ts")) + call_function("div", jitter, lit(65536L)))
      graft.ops.EventAnalytics.lateDataAudit(ev, "arr", "event_id", "ts",
          delayUs = 600000000L, batchUs = 3600L * 1000000L)
        .orderBy("window_start")
    },
      // Late-data replay: same md5 arrival jitter, ONE global running
      // prev-max window (the oracle affords what the engine must not) —
      // gating that the distributed prefix scan is exact.
      """WITH m AS (
           SELECT event_id, ts, epoch_us(ts) AS tsu,
                  epoch_us(ts) +
                    (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                      AS BIGINT) * 1800000000) // 65536 AS arr
           FROM events),
         w AS (SELECT ts, tsu,
                 max(tsu) OVER (ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
               FROM m)
         SELECT date_trunc('hour', ts) AS window_start, count(*) AS n,
                CAST(sum(CASE WHEN wm IS NOT NULL AND tsu < wm - 600000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                round(CAST(sum(CASE WHEN wm IS NOT NULL AND tsu < wm - 600000000
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  AS late_frac,
                max(CASE WHEN wm IS NOT NULL AND wm > tsu THEN wm - tsu END)
                  AS max_lag_us
         FROM w GROUP BY 1 ORDER BY 1"""))

}
