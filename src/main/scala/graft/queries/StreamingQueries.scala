package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Similarity}
import graft.streaming.{Drain, EventsStream}
import Query.{scratch, t}
import SharedSql.{toks, minhashVerifiedCtes, ivfAssignCtes}

/** Structured Streaming paths: windows, dedup, stream-static enrich,
  * contamination, MinHash and IVF ingest, sequence assembly, funnels,
  * cohorts, SCD2 and sliding windows over micro-batches.
  */
object StreamingQueries {

  lazy val queries: Seq[Query] = Seq(
    // Structured Streaming smoke: same windowed agg through a stream
    Query("q25_streaming_window", (s, dir) => {
      EventsStream.runStreamingSmoke(s, dir)
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    },
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),

    // Streaming exact-dedup: the q14 aggregate through a stream (state =
    // one (count, min) pair per fingerprint), complete-mode memory sink.
    Query("q46_streaming_dedup", (s, dir) => {
      Dedup.streamingExactGroups(s, dir, "documents.parquet", "doc_id", "text")
        .orderBy("fingerprint")
    },
      // Streaming exact-dedup ≡ the batch q14 aggregate.
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY fingerprint"""),

    // Stream-static enrichment join (batch form; EventsStreamSpec proves
    // batch ≡ stream): dimension attributes onto the event stream with NO
    // streaming state — the static side re-plans per micro-batch.
    Query("q55_stream_static_enrich", (s, dir) => {
      EventsStream.enrichWithDim(
          EventsStream.readEvents(s, s"$dir/events.parquet"),
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type, c_mktsegment
         FROM events LEFT JOIN customer ON user_id = c_custkey
         ORDER BY event_id"""),

    // Streaming contamination blocklist: q56's gram-collision count with
    // the corpus arriving through a stream — the bench fp array rides
    // the plan into a stateless row-local pass per micro-batch (append
    // mode, zero joins/shuffles/state). Oracle is the batch formulation.
    Query("q61_streaming_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.streamingContaminationBlocklist(s, dir, "documents.parquet",
          "doc_id", "text", docs.filter(col("doc_id") < 25), "text",
          n = 6, streamFilter = col("doc_id") >= 25)
        .orderBy("doc_id")
    },
      // Streaming ≡ batch: the q56 match count, contaminated docs only.
      s"""WITH corpus AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id >= 25),
         benchd AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 25),
         cg AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM corpus WHERE len(tk) >= 6)),
         bg AS (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM benchd WHERE len(tk) >= 6))
         SELECT doc_id, count(*) AS matched_grams
         FROM cg JOIN bg USING (gram)
         GROUP BY doc_id
         HAVING count(*) >= 1
         ORDER BY doc_id"""),

    // Streaming incremental near-dedup: the q16 pair set discovered through
    // micro-batches — per batch, only the new docs shingle/sign/band; the
    // accumulated band index serves cross-batch candidates. The oracle is
    // q16's batch SQL: pair discovery is batch-split-invariant.
    Query("q81_streaming_minhash", (s, dir) => {
      val base = scratch("graft-q81")
      // nStateBuckets sized to the smoke's key volume (5k docs → 8
      // buckets), the same rule q88's merge sink documents (one bucket
      // ≪ executor memory; a deployment sizes upward by keys ÷ target
      // keys-per-bucket). At the default 32, each of the three per-batch
      // index appends paid 32 near-empty bucket writes + their staged-
      // swap renames (two ~0.4–0.5 s 32-task write jobs per batch at
      // sf0.1) with zero data-side difference — bucket count is storage
      // layout, not semantics (stream_base/stream_p32 sweeps prove the
      // pair set invariant).
      Dedup.streamingMinHashNearDuplicates(s, dir, "documents.parquet",
          "doc_id", "text", stateDir = s"$base/state",
          checkpointDir = s"$base/ckpt", threshold = 0.5,
          nStateBuckets = 8,
          statePartitions = Drain.smokeStatePartitions)
        .orderBy("id_a", "id_b")
    },
      // Stream ≡ batch: the streaming pair sink must equal q16's batch pairs.
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b"""),

    // Streaming IVF ingest: vectors stream into the persisted index's cell
    // partitions against PINNED centroids (q20's deterministic hash-sample).
    // The accumulated assignment must equal the batch build — the oracle is
    // the shared ivfAssign reproduction.
    Query("q82_streaming_ivf_ingest", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val base = scratch("graft-q82")
      Similarity.streamingIvfIngest(s, dir, "embeddings.parquet",
          "vec_id", "embedding", centroids,
          indexDir = s"$base/index", checkpointDir = s"$base/ckpt",
          statePartitions = Drain.smokeStatePartitions)
        .select("vec_id", "centroid_id")
        .orderBy("vec_id")
    },
      // Stream ≡ batch: the accumulated cell assignment equals the q20 build.
      s"""WITH $ivfAssignCtes
         SELECT vec_id, centroid_id FROM assigned ORDER BY vec_id"""),

    // Behavioral-history assembly: each user's time-ordered event-type
    // sequence as one training example (ties by event_id — deterministic
    // under any partitioning).
    Query("q85_assemble_sequences", (s, dir) => {
      Curation.assembleSequences(
          EventsStream.readEvents(s, s"$dir/events.parquet"), "user_id", "ts",
          "event_id", "event_type", sep = ">")
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n_items,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // Streaming twin of q85 through the MERGE-mode keyed sink: per batch,
    // new events sorted-merge into each user's stored element list and
    // only touched hash buckets rewrite. Oracle = q85's batch SQL.
    Query("q88_streaming_assembly", (s, dir) => {
      val base = scratch("graft-q88")
      // nBuckets sized to the smoke's key volume (1.5k users → 8 buckets),
      // the same rule a deployment applies upward (one bucket ≪ executor
      // memory); 64 tiny bucket files cost ~0.5 s of pure file churn here
      // (PLANS.md, round-9 q140/q88 adjudication) with zero data-side
      // difference.
      Curation.streamingAssembleSequences(
          EventsStream.readEventsStream(s, dir, "events.parquet"),
          "user_id", "ts", "event_id", "event_type", sep = ">",
          sinkDir = s"$base/sink", checkpointDir = s"$base/ckpt",
          nBuckets = 8,
          statePartitions = Drain.smokeStatePartitions)
        .orderBy("user_id")
    },
      // Stream ≡ batch: the merge-sink render equals q85's batch assembly.
      """SELECT user_id, count(*) AS n_items,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // Streaming twin of q123: per-user funnel positions maintained in
    // mapGroupsWithState (Update mode, two-scalar state per user), sink
    // drained and folded into the identical report — the kappa posture
    // for conversion reporting, gated by the same chained-min oracle.
    Query("q125_streaming_funnel", (s, dir) => {
      EventsStream.runFunnelStreamingSmoke(s, dir,
        Seq("signup", "click", "purchase"), col("event_id") < 3000)
    },
      // Streaming funnel drains to the same report as the batch q123 —
      // one oracle serves both (the q22/q25 pairing, applied to funnels).
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

    // Streaming twin of q124: per-user (cohort week, active-week set)
    // state — bounded by weeks observed, not events — drained into the
    // identical retention triangle and gated by the same oracle.
    Query("q126_streaming_cohort", (s, dir) => {
      EventsStream.runCohortStreamingSmoke(s, dir, col("event_id") % 7 === 0)
    },
      // Streaming cohort state drains to the same triangle as batch q124.
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

    // Streaming CDC twin of q122: each user's current dimension version
    // is flatMapGroupsWithState state; a change CLOSES it and emits it
    // exactly once, so the sink holds the closed-version history — the
    // incremental dimension-maintenance pattern. Gate = the batch build's
    // closed subset (open versions ARE the in-flight state).
    Query("q127_streaming_scd2", (s, dir) => {
      EventsStream.runScd2StreamingSmoke(s, dir,
          Seq("tier" -> floor(col("value") / 10).cast("long")),
          "tier BIGINT", col("event_type") === "view")
        .orderBy("user_id", "version")
    },
      // Streaming SCD2 sink = the batch build's CLOSED versions.
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
           FROM chg WHERE is_chg),
         ver AS (
           SELECT user_id, tier, valid_from,
                  lead(valid_from) OVER w AS valid_to,
                  CAST(row_number() OVER w AS INT) AS version
           FROM kept
           WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id))
         SELECT * FROM ver WHERE valid_to IS NOT NULL
         ORDER BY user_id, version"""),

    // Kappa twin of q138: the SAME sliding-window generator+aggregate
    // maintained incrementally over the event stream; state is one row
    // per open (window, type) group. Oracle = q138's batch SQL.
    Query("q140_streaming_sliding", (s, dir) => {
      EventsStream.runStreamingSlidingSmoke(s, dir)
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    },
      // Stream ≡ batch: the sliding windows accumulated by the streaming
      // query equal the q138 batch derivation.
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
