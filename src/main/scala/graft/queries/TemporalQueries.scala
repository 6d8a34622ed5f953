package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Temporal joins and windows: interval, as-of and range joins, SCD2
  * builds and sliding windows.
  */
object TemporalQueries {

  lazy val queries: Seq[Query] = Seq(
    // Stream-stream join shape (batch form): click -> purchase within 30
    // minutes per user. Same semantics as the watermarked streaming join
    // (EventsStreamSpec proves batch ≡ stream).
    Query("q38_interval_join", (s, dir) => {
      EventsStream.intervalJoinBatch(
          EventsStream.readEvents(s, s"$dir/events.parquet"), "click", "purchase")
        .select(col("left_id").as("click_id"), col("right_id").as("purchase_id"),
          col("user_id"), col("left_ts").as("click_ts"),
          col("right_ts").as("purchase_ts"),
          round(col("right_value"), 2).as("purchase_value"))
        .orderBy("click_id", "purchase_id")
    },
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
                c.ts AS click_ts, p.ts AS purchase_ts,
                round(p.value, 2) AS purchase_value
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts > c.ts
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
         ORDER BY click_id, purchase_id"""),

    // Backward as-of join: every purchase joined to the user's latest
    // prior (or simultaneous) click — the fact→latest-dimension-version
    // pattern. Built as tag + union + per-key forward fill (one shuffle,
    // no range explosion); the oracle is DuckDB's native ASOF LEFT JOIN.
    // Clicks pre-deduped to one row per (user, ts) — as-of ties among
    // duplicate right timestamps have no defined winner in any engine.
    Query("q102_asof_join", (s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(expr("max_by(value, event_id)").as("click_value"))
      TemporalJoins.asofJoin(purchases, "ts", clicks, "click_ts", Seq("user_id"))
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value"), 2).as("value"),
          col("click_ts"), round(col("click_value"), 2).as("click_value"))
        .orderBy("event_id")
    },
      // The forward-fill as-of must equal DuckDB's native ASOF LEFT JOIN.
      """WITH l AS (SELECT event_id, ts, user_id, value FROM events
           WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts AS click_ts,
               max_by(value, event_id) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT l.event_id, l.ts, l.user_id, round(l.value, 2) AS value,
                r.click_ts, round(r.click_value, 2) AS click_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.click_ts
         ORDER BY l.event_id"""),

    // Point-in-interval range join: every error event inside a 2-hour
    // window opened by the same user's signup (start inclusive, end
    // exclusive; overlapping windows each match). Bucketized to an equi
    // join on (user, hour-bucket) + residual bounds — never a
    // nested-loop/cartesian plan; the oracle is the plain range-predicate
    // join.
    Query("q103_range_join", (s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "ts", "user_id")
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      TemporalJoins.rangeJoin(errors, "ts", windows, "start_ts", "end_ts",
          Seq("user_id"), bucketSeconds = 3600L)
        .select(col("event_id"), col("ts"), col("user_id"), col("start_ts"))
        .orderBy("event_id", "start_ts")
    },
      // The bucketized range join must equal the plain range-predicate join.
      """SELECT p.event_id, p.ts, p.user_id, i.start_ts
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'error') p
         JOIN (SELECT user_id, ts AS start_ts,
                 ts + INTERVAL 2 HOUR AS end_ts
               FROM events WHERE event_type = 'signup') i
           ON p.user_id = i.user_id
          AND p.ts >= i.start_ts AND p.ts < i.end_ts
         ORDER BY event_id, start_ts"""),

    // Interval-overlap join: 2-hour signup windows × 1-hour error windows
    // per user, every overlapping pair exactly once — both sides exploded
    // to hour buckets, pairs kept in the overlap-start bucket only, so the
    // equi-join plan needs no post-join distinct.
    Query("q104_interval_join", (s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("l_id"),
          col("ts").as("l_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("l_end"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("r_id"),
          col("ts").as("r_start"),
          (col("ts") + expr("INTERVAL 1 HOURS")).as("r_end"))
      TemporalJoins.intervalJoin(signups, "l_start", "l_end",
          errors, "r_start", "r_end", Seq("user_id"), bucketSeconds = 3600L)
        .select(col("l_id"), col("r_id"), col("l_start"), col("r_start"))
        .orderBy("l_id", "r_id")
    },
      // The bucketized interval join must equal the plain overlap-predicate
      // join, pair for pair.
      """WITH l AS (SELECT user_id, event_id AS l_id, ts AS l_start,
                ts + INTERVAL 2 HOUR AS l_end
           FROM events WHERE event_type = 'signup'),
         r AS (SELECT user_id, event_id AS r_id, ts AS r_start,
                ts + INTERVAL 1 HOUR AS r_end
           FROM events WHERE event_type = 'error')
         SELECT l.l_id, r.r_id, l.l_start, r.r_start
         FROM l JOIN r ON l.user_id = r.user_id
           AND l.l_start < r.r_end AND r.r_start < l.l_end
         ORDER BY l_id, r_id"""),

    // SCD2 history build: each user's coarse engagement tier
    // (floor(value/10) over view events) collapsed into type-2 versions —
    // change-detect lag, valid_from/valid_to half-open bounds, version
    // ordinal. One shuffle on user_id; both windows ride the same
    // per-key ordering.
    Query("q122_scd2_build", (s, dir) => {
      import graft.ops.TemporalJoins
      val src = EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 10).cast("long").as("tier"))
      TemporalJoins.scd2Build(src, Seq("user_id"), "ts", "event_id",
          Seq("tier"))
        .orderBy("user_id", "version")
    },
      // SCD2 via the same two windows: change-detect lag (null-safe
      // IS DISTINCT FROM ≡ Spark's !<=>), then lead/row_number over the
      // kept rows ordered by (valid_from, event_id).
      """WITH src AS (
           SELECT user_id, ts, event_id,
                  CAST(floor(value / 10) AS BIGINT) AS tier
           FROM events WHERE event_type = 'view'),
         chg AS (
           SELECT *, tier IS DISTINCT FROM
               lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS is_chg
           FROM src),
         kept AS (
           SELECT user_id, tier, ts AS valid_from, event_id
           FROM chg WHERE is_chg)
         SELECT user_id, tier, valid_from,
                lead(valid_from) OVER w AS valid_to,
                CAST(row_number() OVER w AS INT) AS version
         FROM kept
         WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
         ORDER BY user_id, version"""),

    // Streaming-shape: SLIDING-window aggregation (batch form) — the
    // overlapping-window member next to tumbling (q22) and session (q23).
    // The window generator multiplies rows inside the scan; the one hash
    // aggregate shuffles O(groups).
    Query("q138_sliding_window", (s, dir) => {
      EventsStream.slidingCounts(
          EventsStream.readEvents(s, s"$dir/events.parquet"),
          "1 hour", "15 minutes")
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    },
      // Sliding-window replay: each event expands to the slide-aligned
      // window starts s with s <= ts < s + length (Spark's epoch-aligned
      // window() semantics: k from (tsu-len)//slide + 1, strict because an
      // event at exactly s+len is outside [s, s+len)).
      """WITH m AS (SELECT epoch_us(ts) AS tsu, event_type, value
                    FROM events),
         w AS (SELECT event_type, value,
                 unnest(range((tsu - 3600000000) // 900000000 + 1,
                              tsu // 900000000 + 1)) AS k
               FROM m)
         SELECT make_timestamp(k * 900000000) AS window_start,
                make_timestamp(k * 900000000 + 3600000000) AS window_end,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type"""))

}
