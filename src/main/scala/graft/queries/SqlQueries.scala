package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream
import Query.t
import SharedSql.{toks, minhashVerifiedCtes}

/** The SQL surface: the registered graft functions and table functions
  * (pivot, decontaminate, MinHash pairs, exact dedup, funnel, cohort, SCD2,
  * BM25, RRF fusion) driven through `spark.sql`.
  */
object SqlQueries {

  /** Register the graft functions once per session: every builder below
    * calls through them, and `GraftFunctions.register` replaces (and logs
    * a warning for) each name it finds already registered. */
  private def registerOnce(s: SparkSession): Unit =
    if (!s.sessionState.tableFunctionRegistry
        .functionExists(FunctionIdentifier("graft_pivot")))
      graft.functions.GraftFunctions.register(s)

  lazy val queries: Seq[Query] = Seq(
    // The SQL table-function surface gated through DuckDB: graft_pivot
    // FROM-callable must produce exactly the q04 pivot (the builder
    // returns the Column API's logical plan; this proves it end-to-end
    // against an independent engine, not just against the Column API).
    Query("q152_sql_pivot", (s, dir) => {
      registerOnce(s)
      t(s, dir, "lineitem").createOrReplaceTempView("graft_q152_lineitem")
      s.sql(
        "SELECT * FROM graft_pivot('graft_q152_lineitem', 'l_orderkey', " +
          "'l_orderkey=>l_orderkey, l_partkey->part1|part2', " +
          "'l_linenumber,l_partkey') ORDER BY l_orderkey")
    },
      // identical to q04's oracle — the FROM-callable graft_pivot must
      // produce the Column API's pivot
      """WITH r AS (
           SELECT l_orderkey, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn,
                  count(*) OVER (PARTITION BY l_orderkey) AS cnt
           FROM lineitem)
         SELECT l_orderkey,
                max(CASE WHEN rn = 1 THEN l_partkey END) AS part1,
                max(CASE WHEN rn = 2 THEN l_partkey END) AS part2
         FROM r WHERE cnt <= 2 GROUP BY l_orderkey
         ORDER BY l_orderkey"""),

    // The second curation flagship through the SQL TVF surface:
    // graft_decontaminate FROM-callable, gated against an independent
    // DuckDB replay of the 6-gram survivor semantics (q56's oracle
    // machinery inverted to the kept rows — the q152 pattern).
    Query("q153_sql_decontaminate", (s, dir) => {
      registerOnce(s)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") >= 25)
        .createOrReplaceTempView("graft_q153_corpus")
      docs.filter(col("doc_id") < 25)
        .createOrReplaceTempView("graft_q153_bench")
      s.sql(
        "SELECT doc_id FROM graft_decontaminate('graft_q153_corpus', " +
          "'doc_id', 'text', 'graft_q153_bench', 'text', 6) " +
          "ORDER BY doc_id")
    },
      // q56's gram machinery inverted to the SURVIVORS — the FROM-callable
      // graft_decontaminate must keep exactly the rows whose 6-gram match
      // count is below the threshold
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
             FROM benchd WHERE len(tk) >= 6)),
         m AS (
           SELECT doc_id, count(*) AS matched FROM cg
           JOIN bg USING (gram) GROUP BY doc_id)
         SELECT d.doc_id
         FROM documents d LEFT JOIN m USING (doc_id)
         WHERE d.doc_id >= 25 AND coalesce(m.matched, 0) < 1
         ORDER BY doc_id"""),

    // The near-dedup flagship through the SQL TVF surface:
    // graft_minhash_pairs FROM-callable must produce exactly the q16
    // verified pairs (the builder returns the Column API's logical plan;
    // this proves it end-to-end against the independent DuckDB replay of
    // the full shingle→minhash→band→verify chain).
    Query("q154_sql_minhash_pairs", (s, dir) => {
      registerOnce(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q154_docs")
      s.sql(
        "SELECT * FROM graft_minhash_pairs('graft_q154_docs', 'doc_id', " +
          "'text', 0.5) ORDER BY id_a, id_b")
    },
      // identical to q16's oracle — the FROM-callable graft_minhash_pairs
      // must produce the Column API's verified pairs
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b"""),

    // Exact dedup through the SQL TVF surface: whole surviving rows
    // (first doc_id per normalized-text fingerprint), gated against the
    // DuckDB window replay.
    Query("q155_sql_exact_dedup", (s, dir) => {
      registerOnce(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q155_docs")
      s.sql(
        "SELECT doc_id, text, lang, source, n_chars FROM " +
          "graft_exact_dedup('graft_q155_docs', 'doc_id', 'text') " +
          "ORDER BY doc_id")
    },
      // q14's grouping inverted to whole surviving rows — the FROM-callable
      // graft_exact_dedup keeps the first doc_id per normalized fingerprint
      """WITH f AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM documents)
         SELECT doc_id, text, lang, source, n_chars
         FROM f WHERE rn = 1 ORDER BY doc_id"""),

    // The event-analytics family through the SQL TVF surface (q152's
    // pattern: the builder returns the Column API's logical plan, the
    // oracle is the independent DuckDB replay — here q123's chained-min
    // funnel SQL verbatim).
    Query("q156_sql_funnel", (s, dir) => {
      registerOnce(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_id") < 3000)
        .createOrReplaceTempView("graft_q156_events")
      s.sql(
        "SELECT * FROM graft_funnel('graft_q156_events', 'event_type', " +
          "'ts', 'event_id', 'user_id', 'signup,click,purchase')")
    },
      // identical to q123's oracle — the FROM-callable graft_funnel must
      // produce the chained-min funnel
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

    Query("q157_sql_cohort", (s, dir) => {
      registerOnce(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_id") % 7 === 0)
        .createOrReplaceTempView("graft_q157_events")
      s.sql(
        "SELECT * FROM graft_cohort_retention('graft_q157_events', " +
          "'ts', 'user_id') ORDER BY cohort_week, week_offset")
    },
      // identical to q124's oracle — the FROM-callable graft_cohort_retention
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

    Query("q158_sql_scd2", (s, dir) => {
      registerOnce(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 10).cast("long").as("tier"))
        .createOrReplaceTempView("graft_q158_src")
      s.sql(
        "SELECT user_id, tier, valid_from, valid_to, version FROM " +
          "graft_scd2('graft_q158_src', 'user_id', 'ts', 'event_id', " +
          "'tier') ORDER BY user_id, version")
    },
      // identical to q122's oracle — the FROM-callable graft_scd2
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

    // The retrieval family through the SQL TVF surface (VERDICT r15 #7):
    // graft_bm25_topk is q107's plan FROM-callable — distinct query set
    // and k so this oracle is its own replay, not a q107 copy.
    Query("q159_sql_bm25_topk", (s, dir) => {
      registerOnce(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q159_docs")
      s.sql(
        "SELECT CAST(query_id AS BIGINT) AS query_id, query_text " +
          "FROM VALUES (0, 'stream shuffle join'), " +
          "(1, 'parquet filter scan'), (2, 'window table merge') " +
          "AS v(query_id, query_text)")
        .createOrReplaceTempView("graft_q159_queries")
      s.sql(
        "SELECT * FROM graft_bm25_topk('graft_q159_docs', 'doc_id', " +
          "'text', 'graft_q159_queries', 'query_id', 'query_text', 5) " +
          "ORDER BY query_id, rank")
    },
      // q107's BM25 replay with the TVF's query set and k = 5 — the
      // FROM-callable graft_bm25_topk must produce the identical chain
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT * FROM (VALUES
             (0, 'stream shuffle join'), (1, 'parquet filter scan'),
             (2, 'window table merge'))
           AS v(query_id, qtext)),
         qt AS (SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(lower(qtext), '\\s+'), x -> len(x) > 0)))
             AS tok FROM q),
         dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM terms
           WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
         qi AS (SELECT query_id, tok,
             ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
           FROM qt JOIN dfq USING (tok), stats),
         contrib AS (SELECT query_id, doc_id, tok,
             idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 +
               0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
           FROM terms JOIN qi USING (tok)),
         sc AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(t := tok, s := s))), x -> x.s)), 6)
               AS score
           FROM contrib GROUP BY query_id, doc_id),
         r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // graft_rrf_fuse over two SQL-built ranking views (a modular-hash
    // ranker and a length-prior ranker — both independently replayable),
    // so the oracle exercises the fusion TVF end-to-end without
    // duplicating q121's full hybrid chain.
    Query("q160_sql_rrf_fuse", (s, dir) => {
      registerOnce(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q160_docs")
      s.sql(
        """SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (d.doc_id * 37 + q.query_id * 11) % 101, d.doc_id)
               AS rank
             FROM (SELECT doc_id FROM graft_q160_docs WHERE doc_id < 400) d
             CROSS JOIN (SELECT CAST(query_id AS BIGINT) AS query_id
               FROM VALUES (0), (1), (2) AS v(query_id)) q)
           WHERE rank <= 15""")
        .createOrReplaceTempView("graft_q160_a")
      s.sql(
        """SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rank
             FROM (SELECT doc_id, n_chars FROM graft_q160_docs
                   WHERE doc_id < 400) d
             CROSS JOIN (SELECT CAST(query_id AS BIGINT) AS query_id
               FROM VALUES (0), (1), (2) AS v(query_id)) q)
           WHERE rank <= 15""")
        .createOrReplaceTempView("graft_q160_b")
      s.sql(
        "SELECT * FROM graft_rrf_fuse('graft_q160_a', 'ka', " +
          "'graft_q160_b', 'kb', 'doc_id', 10) ORDER BY query_id, rank")
    },
      // the two SQL rankings re-derived, then q121's tag-sorted RRF fold —
      // the FROM-callable graft_rrf_fuse
      """WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id
             FROM (VALUES (0), (1), (2)) AS v(query_id)),
         d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 400),
         ra AS (SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (d.doc_id * 37 + q.query_id * 11) % 101, d.doc_id)
               AS rank
             FROM d CROSS JOIN q) WHERE rank <= 15),
         rb AS (SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rank
             FROM d CROSS JOIN q) WHERE rank <= 15),
         allr AS (
           SELECT query_id, doc_id, 'ka' AS src, rank FROM ra
           UNION ALL
           SELECT query_id, doc_id, 'kb' AS src, rank FROM rb),
         fused AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(s := src,
                 c := 1.0 / (60.0 + CAST(rank AS DOUBLE))))), x -> x.c)), 6)
               AS rrf_score
           FROM allr GROUP BY query_id, doc_id),
         ranked AS (SELECT query_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id) AS rank
           FROM fused)
         SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10
         ORDER BY query_id, rank"""))

}
