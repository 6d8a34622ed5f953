package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Checkpoints, Curation, Dedup}
import Query.t
import SharedSql.{toks, minhashBandedCtesFrom, minhashBandedCtes, minhashVerifiedCtes}

/** Exact and near-duplicate detection: fingerprints, MinHash/SimHash
  * pairs, n-gram containment, duplicate clusters, keep lists and the dedup
  * release (q105/q113).
  */
object DedupQueries {

  lazy val queries: Seq[Query] = Seq(
    // Dedup: exact (hash-groupBy on 128-bit content hash)
    Query("q14_exact_dedup", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fingerprint")
    },
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY fingerprint"""),

    // Dedup: MinHash signatures (md5-min family, engine-portable)
    Query("q15_minhash_sig", (s, dir) => {
      Dedup.minHashSignatures(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, shingleLen = 3)
        .select(col("doc_id"), concat_ws("|", col("sig")).as("sig"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         s AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(tk) - 3 + 2),
                   i -> array_to_string(tk[i:i+2], ' '))) AS sh
               FROM t WHERE len(tk) >= 3)
         SELECT doc_id,
           list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('4:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('5:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('6:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('7:' || x)), 'min') AS sig
         FROM s ORDER BY doc_id"""),

    // Dedup: MinHash + LSH banding + Jaccard verification
    Query("q16_minhash_pairs", (s, dir) => {
      Dedup.minHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
        .orderBy("id_a", "id_b")
    },
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b"""),

    // Dedup: n-gram Jaccard via inverted shingle index with df-pruning
    Query("q17_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 8, threshold = 0.6, maxDocFreq = 100)
        .orderBy("id_a", "id_b")
    },
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(nt) - 8 + 2),
               i -> substr(nt, CAST(i AS INTEGER), 8))) AS gram
             FROM norm WHERE len(nt) >= 8)),
         pruned AS (
           SELECT g.doc_id, g.gram FROM grams g
           JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
           WHERE d.df <= 100),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM pruned GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM pruned a JOIN pruned b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                round(CAST(c AS DOUBLE) / (sa.n_grams + sb.n_grams - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (sa.n_grams + sb.n_grams - c) >= 0.6
         ORDER BY id_a, id_b"""),

    // Dedup: 64-bit SimHash near-dups (md5-derived bits, engine-portable)
    Query("q18_simhash_pairs", (s, dir) => {
      Dedup.simHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6, chunks = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    },
      // SimHash reproduction: bit b of a token's hash = bit (b%4) of hex digit
      // b/4 of md5(token); per-doc fold sums ±1 weighted by token frequency;
      // bit set when the sum is positive. Chunked (4×16-bit) candidate
      // pigeonhole, then true hamming ≤ 6. Tokenless docs hash to all-zero.
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         tok AS (SELECT doc_id, tkn, count(*) AS w
                 FROM (SELECT doc_id, unnest(tk) AS tkn FROM t) GROUP BY doc_id, tkn),
         h AS (SELECT doc_id, w, substr(md5(tkn), 1, 16) AS hx FROM tok),
         bits AS (
           SELECT doc_id, b.b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substr(h.hx, CAST(b.b // 4 AS INTEGER) + 1, 1)) - 1)
                            >> (b.b % 4)) & 1 = 1 THEN w ELSE -w END) AS s
           FROM h, (SELECT unnest(range(64)) AS b) b
           GROUP BY doc_id, b.b),
         sig0 AS (
           SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bitstr
           FROM bits GROUP BY doc_id),
         sig AS (
           -- Tokenless-but-non-null docs hash to all-zero (matching Spark's
           -- empty-fold); NULL-text docs are excluded on both sides (Spark's
           -- SimHash64 null-propagates, so they never enter the join).
           SELECT d.doc_id, coalesce(sig0.bitstr, repeat('0', 64)) AS bitstr
           FROM documents d LEFT JOIN sig0 ON d.doc_id = sig0.doc_id
           WHERE d.text IS NOT NULL),
         chunked AS (
           SELECT doc_id, bitstr, c.c, substr(bitstr, CAST(c.c * 16 + 1 AS INTEGER), 16) AS chunk_val
           FROM sig, (SELECT unnest(range(4)) AS c) c),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.bitstr AS ba, b.bitstr AS bb
           FROM chunked a JOIN chunked b
             ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id),
         ham AS (
           SELECT id_a, id_b,
             len(list_filter(range(1, 65),
               i -> substr(ba, CAST(i AS INTEGER), 1) <> substr(bb, CAST(i AS INTEGER), 1))) AS hamming
           FROM cand)
         SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         FROM ham WHERE hamming <= 6
         ORDER BY id_a, id_b"""),

    // Cluster-level dedup: connected components over the q16 verified
    // near-dup pairs — transitive duplicates collapse to one survivor
    // (cluster_id = component minimum).
    Query("q51_dup_clusters", (s, dir) => {
      val pairs = Dedup.minHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      Dedup.duplicateClusters(pairs).orderBy("id")
    },
      // q16's verified pairs → connected components, as a DuckDB recursive
      // closure (reach = all nodes reachable from id; cluster = min reached).
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
         ORDER BY id"""),

    // End-to-end dedup deliverable: the kept corpus after dropping every
    // non-minimum member of each near-dup cluster (q16 pairs → q51
    // components → anti join).
    Query("q54_dedup_keep", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      Dedup.keepList(docs.select("doc_id", "lang"), "doc_id",
          Dedup.duplicateClusters(pairs))
        .orderBy("doc_id")
    },
      // Kept corpus = documents minus every clustered non-minimum (recursive
      // closure over the q16 verified pairs, as in q51).
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         ORDER BY doc_id"""),

    // Near-containment pairs: overlap coefficient |∩|/min(|A|,|B|) over
    // the same pruned n-gram inverted index as q17 — catches embedded/
    // quoted documents whose size asymmetry dilutes Jaccard.
    Query("q64_ngram_containment", (s, dir) => {
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 8, threshold = 0.8, maxDocFreq = 100)
        .orderBy("id_a", "id_b")
    },
      // q17's inverted-index chain with the overlap-coefficient metric.
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(nt) - 8 + 2),
               i -> substr(nt, CAST(i AS INTEGER), 8))) AS gram
             FROM norm WHERE len(nt) >= 8)),
         pruned AS (
           SELECT g.doc_id, g.gram FROM grams g
           JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
           WHERE d.df <= 100),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM pruned GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM pruned a JOIN pruned b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                round(CAST(c AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6) AS overlap
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / least(sa.n_grams, sb.n_grams) >= 0.8
         ORDER BY id_a, id_b"""),

    // Cross-corpus near-dedup: the "new crawl" (odd doc_ids) LSH-banded
    // against the "existing corpus" (even doc_ids) — candidates only from
    // shared (band, band_sig) buckets, never crawl × corpus, verified by
    // true shingle Jaccard.
    Query("q78_cross_corpus_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusNearDuplicates(
          docs.filter(col("doc_id") % 2 === 1), "doc_id",
          docs.filter(col("doc_id") % 2 === 0), "doc_id",
          "text", threshold = 0.5)
        .orderBy("corpus_id", "ref_id")
    },
      // Cross-corpus reproduction: the same banding CTEs, with candidates
      // restricted to (odd crawl doc) × (even corpus doc) bucket collisions.
      // Banding is per-document, so banding the whole table then filtering
      // by parity is identical to banding each side separately.
      s"""WITH $minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS ref_id
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig
           WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         verified AS (
           SELECT c.corpus_id, c.ref_id,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.corpus_id
           JOIN s sb ON sb.doc_id = c.ref_id)
         SELECT corpus_id, ref_id, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY corpus_id, ref_id"""),

    // Canonical-selection dedup: q51's near-dup clusters, but each cluster
    // keeps its LONGEST member (ties to the lowest id) instead of the
    // arbitrary minimum id — the release-pipeline policy. The oracle
    // replays the recursive closure plus the max-score/min-id winner rule.
    Query("q105_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepListBy(docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
          nearDupReleaseClusters(s, dir))
        .orderBy("doc_id")
    },
      // q51's recursive closure, then each cluster's winner = max n_chars
      // with min-id tie-break; kept corpus = everything minus the clustered
      // non-winners.
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         scored AS (
           SELECT c.id, c.cluster_id, d.n_chars
           FROM clusters c JOIN documents d ON d.doc_id = c.id),
         best AS (SELECT cluster_id, max(n_chars) AS mx
                  FROM scored GROUP BY cluster_id),
         winners AS (
           SELECT s.cluster_id, min(s.id) AS id
           FROM scored s JOIN best b
             ON s.cluster_id = b.cluster_id AND s.n_chars = b.mx
           GROUP BY s.cluster_id),
         drops AS (SELECT id FROM clusters
                   WHERE id NOT IN (SELECT id FROM winners))
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id FROM drops)
         ORDER BY doc_id"""),

    // Exact repeated-span dedup (Lee et al. substring recipe, tiled):
    // 20-char windows every 10, duplicated window contents keep only their
    // first (doc, pos) occurrence, every other occurrence's range excised.
    // The oracle replays windows -> keeper election -> interval merge ->
    // reassembly.
    Query("q110_span_dedup", (s, dir) => {
      Dedup.repeatedSpanDedup(t(s, dir, "documents"), "doc_id", "text",
          spanLen = 20, stride = 10)
        .orderBy("doc_id")
    },
      // Repeated-span dedup replay: windows -> duplicated-content groups
      // with min-(doc, pos) keeper -> marked ranges -> interval merge
      // (islands) -> between-range reassembly. Strings only, no floats.
      """WITH occ AS (
           SELECT doc_id, unnest(range(0, len(text) - 20 + 1, 10)) AS pos,
                  text
           FROM documents WHERE len(text) >= 20),
         h AS (SELECT doc_id, pos, md5(substr(text, pos + 1, 20)) AS h
           FROM occ),
         grp AS (SELECT h, count(*) AS n,
             min(struct_pack(kid := doc_id, kpos := pos)) AS keep
           FROM h GROUP BY h HAVING count(*) >= 2),
         marked AS (
           SELECT o.doc_id, o.pos AS s, o.pos + 20 AS e
           FROM h o JOIN grp g USING (h)
           WHERE NOT (o.doc_id = g.keep.kid AND o.pos = g.keep.kpos)),
         ord AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM marked),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS island
           FROM ord),
         merged AS (
           SELECT doc_id, min(s) AS s, max(e) AS e
           FROM isl GROUP BY doc_id, island),
         segs AS (
           SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
               AS seg_start,
             s AS seg_end
           FROM merged
           UNION ALL
           SELECT m.doc_id, max(m.e), len(d.text)
           FROM merged m JOIN documents d USING (doc_id)
           GROUP BY m.doc_id, len(d.text)),
         cleaned AS (
           SELECT s.doc_id,
             string_agg(substr(d.text, seg_start + 1,
               greatest(0, seg_end - seg_start)), '' ORDER BY seg_start)
               AS clean_text
           FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id)
         SELECT d.doc_id,
           coalesce(c.clean_text, d.text) AS clean_text,
           CAST(len(d.text) - len(coalesce(c.clean_text, d.text)) AS BIGINT)
             AS n_chars_removed
         FROM documents d LEFT JOIN cleaned c USING (doc_id)
         ORDER BY d.doc_id"""),

    // One-row dedup audit card over q51's near-dup clusters: corpus size,
    // clustered docs, cluster count, drop count/fraction, biggest cluster.
    Query("q113_dedup_audit_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.auditCard(docs, "doc_id", nearDupReleaseClusters(s, dir))
    },
      // q51's recursive closure aggregated into the one-row audit card.
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         corpus AS (SELECT count(*) AS n_docs FROM documents),
         flat AS (SELECT count(*) AS n_clustered,
             count(DISTINCT cluster_id) AS n_clusters FROM clusters),
         biggest AS (SELECT coalesce(max(sz), 0) AS max_cluster_size
           FROM (SELECT count(*) AS sz FROM clusters GROUP BY cluster_id))
         SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_clustered AS BIGINT) AS n_clustered,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_clustered - n_clusters AS BIGINT) AS n_dropped,
           CAST(max_cluster_size AS BIGINT) AS max_cluster_size,
           round(CAST(n_clustered - n_clusters AS DOUBLE) / n_docs, 6)
             AS dropped_frac
         FROM corpus, flat, biggest"""),

    // Incremental re-dedup at snapshot refresh: q95's diff marks the
    // added∪changed slice, and ONLY that slice bands against the untouched
    // remainder (q78's cross-corpus machinery) — the composition that
    // avoids re-deduping the whole corpus on every crawl increment.
    Query("q120_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      // The diff output feeds BOTH sides of the banding composition
      // (semi-join + anti-join on the new snapshot) — pin the small
      // touched-id frame so the md5 snapshot diff computes once, not
      // once per side (guide §3.3).
      val touched = Checkpoints.pin(
        Curation.snapshotDiff(old, nw, "doc_id", "text")
        .filter(col("status").isin("added", "changed"))
        .select(col("doc_id")))
      Dedup.crossCorpusNearDuplicates(
          nw.join(touched, Seq("doc_id")), "doc_id",
          nw.join(touched, Seq("doc_id"), "left_anti"), "doc_id",
          "text", threshold = 0.5)
        .orderBy("corpus_id", "ref_id")
    },
      // q95's snapshot construction + md5 diff for the touched slice, then
      // the q78 cross-corpus banding over the NEW snapshot restricted to
      // touched × untouched.
      s"""WITH nw AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         touched AS (
           SELECT n.doc_id
           FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
           WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)),
         ${minhashBandedCtesFrom("nw")},
         cand AS (
           SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS ref_id
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig
           WHERE a.doc_id IN (SELECT doc_id FROM touched)
             AND b.doc_id NOT IN (SELECT doc_id FROM touched)),
         verified AS (
           SELECT c.corpus_id, c.ref_id,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.corpus_id
           JOIN s sb ON sb.doc_id = c.ref_id)
         SELECT corpus_id, ref_id, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY corpus_id, ref_id"""),

    // LSH tuning self-check: per-threshold precision/recall of the
    // 8-hash/4-band MinHash candidate set against exact shingle-set
    // Jaccard ground truth — the table that closes the dedup-tuning loop
    // (q16 candidates, q17-style exact truth). `precision`/`recall`
    // surface as prec/rec (PRECISION is a DuckDB type keyword).
    Query("q128_lsh_quality_sweep", (s, dir) => {
      Dedup.lshQualityReport(t(s, dir, "documents"), "doc_id", "text",
          thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
          numHashes = 8, bands = 4, shingleLen = 3)
        .select(col("threshold"), col("n_true"), col("n_cand"), col("tp"),
          col("precision").as("prec"), col("recall").as("rec"))
        .orderBy("threshold")
    },
      // Truth = exact Jaccard over every pair sharing >= 1 shingle (inverted
      // index, NO df cut — a capped index would inflate recall); candidates =
      // q16's banding CTE. Same rounding/NULL conventions as the Spark side.
      s"""WITH $minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
         inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(sh) AS n FROM s),
         truth AS (
           SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
           FROM common JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b),
         th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8]::DOUBLE[]) AS threshold),
         tr AS (SELECT th.threshold, t2.id_a, t2.id_b
                FROM th JOIN truth t2 ON t2.j >= th.threshold),
         ntrue AS (SELECT threshold, count(*) AS n_true FROM tr GROUP BY 1),
         tps AS (SELECT threshold, count(*) AS tp
                 FROM tr JOIN cand USING (id_a, id_b) GROUP BY 1),
         nc AS (SELECT count(*) AS n_cand FROM cand)
         SELECT th.threshold,
                coalesce(ntrue.n_true, 0) AS n_true,
                nc.n_cand AS n_cand,
                coalesce(tps.tp, 0) AS tp,
                CASE WHEN nc.n_cand = 0 THEN NULL
                     ELSE round(CAST(coalesce(tps.tp, 0) AS DOUBLE) / nc.n_cand, 6)
                END AS prec,
                CASE WHEN coalesce(ntrue.n_true, 0) = 0 THEN NULL
                     ELSE round(CAST(coalesce(tps.tp, 0) AS DOUBLE) / ntrue.n_true, 6)
                END AS rec
         FROM th LEFT JOIN ntrue USING (threshold) LEFT JOIN tps USING (threshold)
         CROSS JOIN nc
         ORDER BY threshold"""))

  /** Near-dup clusters for the dedup RELEASE pair — q105 (keep-best
    * survivors) and q113 (audit card) are two artifacts of one pipeline
    * (pairs → closure). Ids only, size-gated, deterministic (the
    * banding/verification/closure chain is md5-based). Both `keepListBy`
    * and `auditCard` take a precomputed `clusters`, so each query prices
    * its own banding run.
    */
  private def nearDupReleaseClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
    val cl = Dedup.duplicateClusters(pairs)
      .select(col("id").cast("long").as("id"),
        col("cluster_id").cast("long").as("cluster_id"))
    // Clustered docs are a small fraction of any corpus by construction;
    // the gate keeps the driver from ever materializing a pathological
    // cluster table (at that size the whole pair design is wrong, so fail
    // loudly).
    val rows = cl.as[(Long, Long)].take(2000001)
    require(rows.length <= 2000000, "cluster table exceeds 2M-row driver gate")
    rows.toSeq.toDF("id", "cluster_id")
  }
}
