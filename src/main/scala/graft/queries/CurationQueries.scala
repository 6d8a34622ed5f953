package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.{Curation, Dedup}
import Query.t
import SharedSql.toks

/** Corpus curation: token and quality signals, language id,
  * decontamination, boilerplate stripping, packing, PII redaction,
  * vocabulary and corpus statistics, and the q63 curation pipeline.
  */
object CurationQueries {

  lazy val queries: Seq[Query] = Seq(
    // F: token counting (whitespace + BPE-ish estimate)
    Query("q10_token_stats", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.bpeTokenCountEstimate(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         CAST(len($toks) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform($toks, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""),

    // F: quality scoring (length/punct/stopword heuristics)
    Query("q11_quality", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS swr,
             CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END AS pr,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS mwl
           FROM base)
         SELECT doc_id, round(swr, 6) AS stopword_ratio, round(pr, 6) AS punct_ratio,
           round((least(ntok / 64.0, 1.0) + least(swr * 4.0, 1.0) +
                  greatest(0.0, 1.0 - pr * 4.0) +
                  CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 4.0, 6) AS quality
         FROM m ORDER BY doc_id"""),

    // F: language identification (marker-stopword heuristic)
    Query("q12_langid", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($toks) AS tk FROM documents),
         sc AS (SELECT doc_id,
             len(list_intersect(tk, ['der','die','das','und','ist','nicht','mit','ein','von','zu'])) AS s_de,
             len(list_intersect(tk, ['the','and','of','to','in','is','that','with','for','was'])) AS s_en,
             len(list_intersect(tk, ['el','la','de','que','los','una','por','con','para','es'])) AS s_es,
             len(list_intersect(tk, ['le','la','les','des','est','une','dans','pour','que','sur'])) AS s_fr
           FROM t)
         SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
         FROM sc ORDER BY doc_id"""),

    // F: document fingerprinting
    Query("q13_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id"""),

    // Benchmark decontamination: word-6-gram overlap of the corpus
    // (doc_id >= 25) against an eval benchmark (doc_id < 25) — the
    // pre-training n-gram contamination check. Benchmark gram
    // fingerprints ship inside the GramMatchStats codegen expression:
    // the corpus side is a zero-shuffle projection.
    Query("q56_decontamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contaminationReport(
          docs.filter(col("doc_id") >= 25), "doc_id", "text",
          docs.filter(col("doc_id") < 25), "text", n = 6)
        .select(col("doc_id"), col("n_grams"), col("matched_grams"),
          col("contaminated").cast("long").as("contaminated"))
        .orderBy("doc_id")
    },
      // Word-6-gram contamination of corpus docs (doc_id >= 25) against the
      // benchmark docs (doc_id < 25); distinct grams per document, as the
      // Spark side's array_distinct does.
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
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
         m AS (
           SELECT doc_id, count(*) AS matched FROM cg
           JOIN bg USING (gram) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(m.matched, 0) AS BIGINT) AS matched_grams,
                CAST(CASE WHEN coalesce(m.matched, 0) >= 1 THEN 1 ELSE 0 END
                  AS BIGINT) AS contaminated
         FROM documents d
         LEFT JOIN sizes s USING (doc_id)
         LEFT JOIN m USING (doc_id)
         WHERE d.doc_id >= 25
         ORDER BY doc_id"""),

    // Cross-document boilerplate removal: segments repeating in >= 80% of
    // distinct docs (headers/footers at corpus scale; with the synthetic
    // space-separated corpus, segment = word) are dropped everywhere,
    // preserving within-document order. The threshold derives from the
    // corpus count on both sides (integer floor), so the semantics hold at
    // every scale factor. Boilerplate list broadcast back as an anti-join.
    Query("q57_strip_boilerplate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.stripBoilerplate(docs, "doc_id", "text",
          separator = " ", minDocs = docs.count() * 8 / 10)
        .orderBy("doc_id")
    },
      // Segments (split on ' ') occurring in >= 400 distinct docs are
      // boilerplate; surviving segments rejoin in position order. Zipped
      // unnest pairs each segment with its 1-based position.
      """WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id)
         SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
         FROM documents d LEFT JOIN clean c USING (doc_id)
         ORDER BY doc_id"""),

    // Concat-and-chunk sequence packing: per-shard (source) prefix sums cut
    // into 64-token training sequences; one row per document × overlapped
    // sequence. The window is per shard — no global sort.
    Query("q58_pack_sequences", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.packSequences(docs, "doc_id",
          TextFunctions.tokenCount(col("text")), "source", seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    },
      // Per-shard prefix sums of token counts; a doc spanning [start, end)
      // lands in sequences start//64 .. (end-1)//64.
      s"""WITH base AS (
           SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n
           FROM documents),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM base),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id"""),

    // Gopher-style repetition signals: duplicate-segment fraction and
    // most-common-word-bigram fraction, via explode + per-(doc, gram)
    // aggregation (linear in corpus tokens; no per-row quadratic lambda).
    Query("q59_repetition_signals", (s, dir) => {
      Curation.repetitionReport(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .orderBy("doc_id")
    },
      // Segment stats on the raw split; bigram stats on lowercased tokens
      // (mirroring the Spark side's raw-segment / tokens() split).
      s"""WITH segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         tk AS (SELECT doc_id, $toks AS tk FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM tk WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
                CAST(coalesce(s.n_distinct_segments, 0) AS BIGINT) AS n_distinct_segments,
                CASE WHEN coalesce(s.n_segments, 0) > 0
                     THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                     ELSE 0.0 END AS dup_segment_frac,
                CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(b.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
                CASE WHEN coalesce(b.n_bigrams, 0) > 0
                     THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                     ELSE 0.0 END AS top_bigram_frac
         FROM documents d
         LEFT JOIN segstats s USING (doc_id)
         LEFT JOIN bgstats b USING (doc_id)
         ORDER BY doc_id"""),

    // PII redaction: email/IPv4/phone scrub as a codegen'd regexp_replace
    // chain (patterns in the Java∩RE2 regex subset so the oracle applies
    // the identical rewrite). Deterministic synthetic PII is appended per
    // row so the rewrite is actually exercised on this corpus.
    Query("q60_pii_redaction", (s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 tel +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      withPii
        .select(col("doc_id"), Curation.redactPii(col("text")).as("text_redacted"))
        .orderBy("doc_id")
    },
      // Same synthetic-PII append, then the identical three-step
      // regexp_replace chain (email -> IPv4 -> phone, 'g' flag).
      """WITH withpii AS (
           SELECT doc_id,
                  text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com ip 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 tel +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
           FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                  '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
         FROM withpii
         ORDER BY doc_id"""),

    // Corpus vocabulary: top-100 tokens by frequency (tie-broken by token)
    // — one hash aggregate + TakeOrderedAndProject, no global sort.
    Query("q62_vocabulary", (s, dir) => {
      Curation.vocabulary(t(s, dir, "documents"), "text", k = 100)
    },
      s"""SELECT token, count(*) AS n_occurrences
         FROM (SELECT unnest($toks) AS token FROM documents)
         GROUP BY token
         ORDER BY n_occurrences DESC, token
         LIMIT 100"""),

    // Capstone curation-pipeline composition, oracle-gated END TO END:
    // boilerplate strip -> exact dedup on the cleaned text -> benchmark
    // decontamination -> per-shard sequence packing. Each operator is
    // individually gated (q57/q14/q56/q58); this gates their COMPOSITION.
    Query("q63_curation_pipeline", (s, dir) => {
      val docs = t(s, dir, "documents")
      // Fractional threshold derives from an in-plan count (the oracle's
      // scalar subquery), not an eager docs.count() at plan-build time —
      // at 100 TB that eager action was an extra full-scan job per build.
      val cleaned = Curation.stripBoilerplate(docs, "doc_id", "text",
        separator = " ", minDocs = Right(0.8))
      // NO stage barrier (round-14 re-adjudication): the round-13
      // decontaminate rewrite made it a row-local filter, so this chain
      // is now LINEAR — every stage has exactly one consumer and nothing
      // recomputes. The old persist (justified when decontaminate
      // branched its input into a gram index + anti-join: 16.8 s vs
      // 33.8 s at 400k docs) became pure cache-encode overhead with zero
      // reuse: alternating-arm pairs (`ScaleProbe chain`) on the
      // current operators measure no-barrier 28.8 s vs barrier 38.7 s at
      // 4M docs, and 41.3 vs 39.7 s (parity, within host noise) at 8M.
      val deduped = Dedup.exactDedup(cleaned, "doc_id", "text_clean")
      val decon = Curation.decontaminate(
        deduped.filter(col("doc_id") >= 25), "doc_id", "text_clean",
        docs.filter(col("doc_id") < 25), "text", n = 6)
      Curation.packSequences(
          decon.join(docs.select("doc_id", "source"), "doc_id"),
          "doc_id", TextFunctions.tokenCount(col("text_clean")),
          "source", seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    },
      // The full composition re-derived in SQL: q57's clean -> q14-style
      // fingerprint dedup (min doc_id survives) -> q56's gram collision on
      // the CLEANED text vs the raw benchmark -> q58's per-shard packing.
      s"""WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id),
         cleaned AS (
           SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
           FROM documents d LEFT JOIN clean c USING (doc_id)),
         dedup AS (
           SELECT doc_id, text_clean FROM cleaned
           QUALIFY row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text_clean), '\\s+', ' ', 'g')))
             ORDER BY doc_id) = 1),
         corpus AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text_clean), '\\s+'),
                    x -> len(x) > 0) AS tk
           FROM dedup WHERE doc_id >= 25),
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
         contaminated AS (
           SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)),
         survivors AS (
           SELECT c.doc_id, CAST(len(c.tk) AS BIGINT) AS n
           FROM corpus c
           WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         wsrc AS (
           SELECT d.source, s.doc_id, s.n
           FROM survivors s JOIN documents d USING (doc_id)),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM wsrc),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id"""),

    // Within-document segment dedup: repeated segments keep first
    // occurrence only — a pure per-row rewrite inside the scan stage.
    Query("q65_dedupe_segments", (s, dir) => {
      Curation.dedupeSegments(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .orderBy("doc_id")
    },
      // First-occurrence filter by position; list_position finds the first
      // index of each segment, exactly as Spark's array_position does.
      """SELECT doc_id,
                array_to_string(
                  list_transform(
                    list_filter(range(1, len(parts) + 1),
                      i -> list_position(parts,
                             list_extract(parts, CAST(i AS INTEGER))) = i),
                    i -> list_extract(parts, CAST(i AS INTEGER))),
                  ' ') AS text_clean
         FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents)
         ORDER BY doc_id"""),

    // One-row corpus card: doc/token/unique-content counts in a single
    // map-side-combined aggregate pass.
    Query("q66_corpus_stats", (s, dir) => {
      Curation.corpusStats(t(s, dir, "documents"), "text")
    },
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
                CAST(sum(list_sum(list_transform($toks,
                  w -> CAST(ceil(len(w) / 4.0) AS BIGINT)))) AS BIGINT) AS n_bpe_tokens,
                CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                  AS BIGINT) AS n_unique_docs
         FROM documents"""),

    // Overlapping token-window chunking (retrieval-corpus shape): 32-token
    // chunks at stride 24 — a generator inside the scan stage, no shuffle.
    Query("q69_chunk_documents", (s, dir) => {
      Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },
      // Stride positions via range(0, n, stride); chunk text is a token
      // slice, n_tokens the clamped remainder.
      s"""WITH tk AS (
           SELECT doc_id, $toks AS tk FROM documents),
         starts AS (
           SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS s
           FROM tk WHERE len(tk) > 0)
         SELECT doc_id,
                CAST(s // 24 AS BIGINT) AS chunk_id,
                array_to_string(list_slice(tk, CAST(s + 1 AS INTEGER),
                  CAST(s + 32 AS INTEGER)), ' ') AS chunk_text,
                CAST(least(32, len(tk) - s) AS BIGINT) AS n_tokens
         FROM starts
         ORDER BY doc_id, chunk_id"""),

    // TF-IDF keyword extraction: top-3 characteristic terms per document;
    // two shuffles (term frequency, document frequency) + a per-doc
    // ranking window.
    Query("q70_tfidf_terms", (s, dir) => {
      Curation.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
      // Same tf/df/idf arithmetic; ln is IEEE-identical in both engines and
      // the product rounds to 6 decimals on both sides.
      s"""WITH terms AS (
           SELECT doc_id, token, count(*) AS tf FROM (
             SELECT doc_id, unnest($toks) AS token FROM documents)
           GROUP BY doc_id, token),
         dfreq AS (
           SELECT token, count(*) AS df FROM terms GROUP BY token),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT t.doc_id, t.token,
                  t.tf * ln(CAST(n.n + 1 AS DOUBLE) / (d.df + 1)) AS tfidf
           FROM terms t JOIN dfreq d USING (token) CROSS JOIN n)
         SELECT doc_id, token, round(tfidf, 6) AS tfidf,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, token) AS BIGINT) AS rank
         FROM scored
         QUALIFY rank <= 3
         ORDER BY doc_id, rank"""),

    // Data-mixture card: per-(source, lang) doc/token counts with corpus
    // fractions — one hash aggregate + a broadcast of the stratum totals.
    Query("q71_mixture_report", (s, dir) => {
      Curation.mixtureReport(t(s, dir, "documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang")
    },
      s"""WITH per AS (
           SELECT source, lang, count(*) AS n_docs,
                  CAST(sum(len($toks)) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source, lang),
         tot AS (
           SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                  CAST(sum(n_tokens) AS BIGINT) AS tt
           FROM per)
         SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
                round(CAST(n_docs AS DOUBLE) / td, 6) AS doc_frac,
                round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_frac
         FROM per CROSS JOIN tot
         ORDER BY source, lang"""),

    // Gopher-style rule-based quality gate: row-local signals + repetition
    // signals -> keep verdict + first-failed-rule reason. The oracle
    // re-derives every signal AND the when-chain audit order.
    Query("q74_quality_filter", (s, dir) => {
      Curation.qualityFilter(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_word_len"), col("punct_ratio"), col("stopword_ratio"),
          col("dup_segment_frac"), col("top_bigram_frac"),
          col("reason"), col("keep"))
        .orderBy("doc_id")
    },
      // Every signal re-derived (q11's row-local formulas + q59's repetition
      // CTEs), then the same first-failed-rule when-chain.
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END, 6) AS punct_ratio,
             round(CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS stopword_ratio
           FROM base),
         segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM base WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id),
         rep AS (
           SELECT d.doc_id,
                  CASE WHEN coalesce(s.n_segments, 0) > 0
                       THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                       ELSE 0.0 END AS dup_segment_frac,
                  CASE WHEN coalesce(b.n_bigrams, 0) > 0
                       THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                       ELSE 0.0 END AS top_bigram_frac
           FROM documents d
           LEFT JOIN segstats s USING (doc_id)
           LEFT JOIN bgstats b USING (doc_id)),
         f AS (
           SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.punct_ratio,
                  m.stopword_ratio, rep.dup_segment_frac, rep.top_bigram_frac,
                  CASE WHEN m.n_tokens < 16 THEN 'too_few_tokens'
                       WHEN m.n_tokens > 100000 THEN 'too_many_tokens'
                       WHEN m.mean_word_len < 2.0 OR m.mean_word_len > 12.0 THEN 'word_length'
                       WHEN m.punct_ratio > 0.25 THEN 'punctuation'
                       WHEN m.stopword_ratio < 0.01 THEN 'stopwords'
                       WHEN rep.dup_segment_frac > 0.30 THEN 'repeated_segments'
                       WHEN rep.top_bigram_frac > 0.18 THEN 'repeated_bigrams'
                       ELSE NULL END AS reason
           FROM m JOIN rep USING (doc_id))
         SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
                dup_segment_frac, top_bigram_frac, reason,
                reason IS NULL AS keep
         FROM f ORDER BY doc_id"""),

    // Distribution-shift audit: per-source robust z-scores (median/MAD) of
    // document length. Integer-valued signal -> exact-half medians ->
    // engine-portable flags; the corpus never shuffles (two broadcast-back
    // aggregates).
    // robust_z is excluded from the gated projection: its 6-dp rounding
    // lands on exact .5 ties (half-exact med/mad make them common) where
    // Spark and DuckDB round apart; the flag itself is integer-exact.
    Query("q80_outlier_report", (s, dir) => {
      Curation.outlierReport(t(s, dir, "documents"), "doc_id", "source",
          length(col("text")), valueName = "n_chars")
        .select("doc_id", "source", "n_chars", "med", "mad", "is_outlier")
        .orderBy("doc_id")
    },
      // median/MAD are exact halves on the integer signal; the flag is the
      // integer-exact comparison 6745·|2v−2med| > 35000·2mad — no float ties.
      """WITH base AS (
           SELECT doc_id, source, CAST(len(text) AS DOUBLE) AS n_chars
           FROM documents),
         med AS (SELECT source, median(n_chars) AS med FROM base GROUP BY source),
         j AS (SELECT b.doc_id, b.source, b.n_chars, m.med
               FROM base b JOIN med m USING (source)),
         mad AS (SELECT source, median(abs(n_chars - med)) AS mad
                 FROM j GROUP BY source)
         SELECT j.doc_id, j.source, j.n_chars, j.med, mad.mad,
                CASE WHEN mad.mad > 0
                     THEN abs(CAST(2 * j.n_chars - 2 * j.med AS BIGINT)) * 6745
                          > CAST(2 * mad.mad AS BIGINT) * 35000
                     ELSE FALSE END AS is_outlier
         FROM j JOIN mad USING (source)
         ORDER BY doc_id"""),

    // Information-theoretic repetitiveness: per-doc char-bigram entropy,
    // folded over the gram-sorted count list so the float sum is
    // engine-portable term-for-term.
    Query("q84_char_entropy", (s, dir) => {
      Curation.charEntropyReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      // Entropy folded over the gram-sorted (g, c) list: both engines add
      // identical terms in identical order, so round(…, 6) is reproducible.
      """WITH g AS (
           SELECT doc_id, unnest(list_transform(range(1, len(lower(text))),
             i -> lower(text)[i:i+1])) AS g
           FROM documents WHERE len(text) >= 2),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
         gc AS (SELECT doc_id, sum(c) AS n,
                  list_sort(list(struct_pack(g := g, c := c))) AS gc
                FROM c GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(gc.n, 0) AS BIGINT) AS n,
                round(log2(gc.n) - list_sum(list_transform(gc.gc,
                  x -> x.c * log2(x.c))) / gc.n, 6) AS bigram_entropy
         FROM documents d LEFT JOIN gc ON d.doc_id = gc.doc_id
         ORDER BY d.doc_id"""),

    // LM-filter proxy: per-doc unigram surprisal against the corpus's own
    // token distribution, folded over the token-sorted list (q84's
    // engine-portable float discipline).
    Query("q86_unigram_surprisal", (s, dir) => {
      Curation.unigramBitsPerToken(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         pdt AS (SELECT doc_id, tok, count(*) AS nd FROM tok GROUP BY doc_id, tok),
         vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         tot AS (SELECT sum(c) AS total FROM vocab),
         j AS (SELECT p.doc_id, p.tok, p.nd, v.c
               FROM pdt p JOIN vocab v USING (tok)),
         agg AS (SELECT doc_id, sum(nd) AS n_tokens,
                   list_sort(list(struct_pack(tok := tok, nd := nd, c := c))) AS tc
                 FROM j GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                round(-list_sum(list_transform(a.tc,
                  x -> x.nd * log2(CAST(x.c AS DOUBLE) / total)))
                  / a.n_tokens, 6) AS bits_per_token
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id, tot
         ORDER BY d.doc_id"""),

    // Corpus snapshot diff: old = the documents table; new = a derived
    // refresh (every 7th doc dropped, every 3rd survivor edited, every 5th
    // re-added under a shifted id) — the add/remove/change/unchanged audit
    // an incremental ingest publishes per crawl. Fingerprints computed
    // before the full-outer join, so the shuffle carries (id, fp), never
    // text.
    Query("q95_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Curation.snapshotDiff(old, nw, "doc_id", "text").orderBy("doc_id")
    },
      // Snapshot diff: the derived refresh re-built in SQL, fingerprints
      // compared across a full-outer join on the id.
      """WITH old AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
         nw0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         nw AS (SELECT doc_id, md5(text) AS new_fp FROM nw0)
         SELECT doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp = new_fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_fp, new_fp
         FROM old FULL JOIN nw USING (doc_id)
         ORDER BY doc_id"""),

    // DSIR-style importance weights: per-doc average unigram log-likelihood
    // ratio of the English stratum vs the raw corpus (add-one smoothing
    // over the raw vocabulary), folded over the token-sorted list.
    Query("q109_importance_weights", (s, dir) => {
      Curation.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy("doc_id")
    },
      // DSIR importance weights: one vocabulary pass carrying raw + target
      // counts, add-one smoothing over the raw vocabulary, per-doc fold over
      // the token-sorted list (the q86 float-portability pattern).
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt, unnest($toks) AS tok
           FROM documents),
         pdt AS (SELECT doc_id, tok, count(*) AS nd FROM tok
           GROUP BY doc_id, tok),
         vocab AS (SELECT tok, count(*) AS cr,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
           FROM tok GROUP BY tok),
         tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr,
             CAST(sum(ct) AS DOUBLE) AS tt,
             CAST(count(*) AS DOUBLE) AS v FROM vocab),
         j AS (SELECT p.doc_id, p.tok, p.nd, vv.cr, vv.ct
           FROM pdt p JOIN vocab vv USING (tok)),
         agg AS (SELECT doc_id, sum(nd) AS n_tokens,
             list_sort(list(struct_pack(tok := tok, nd := nd, cr := cr,
               ct := ct))) AS tc
           FROM j GROUP BY doc_id)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(list_sum(list_transform(tc, x -> x.nd *
             (ln((CAST(x.ct AS DOUBLE) + 1.0) / (tt + v)) -
              ln((CAST(x.cr AS DOUBLE) + 1.0) / (tr + v)))))
             / n_tokens, 6) + 0.0 AS log_ratio_per_token
         FROM agg, tot ORDER BY doc_id"""),

    // Linear quality-classifier gate: fixed-weight margin over the q74
    // signal columns (the fastText/CCNet classifier shape with training
    // externalized); keep <=> margin >= 0, no exp in the plan.
    Query("q111_quality_margin", (s, dir) => {
      Curation.qualityMargin(t(s, dir, "documents"), "doc_id", "text",
          weights = Seq(0.002, 0.15, -4.0, 3.0, -2.0, -1.5), bias = -0.6,
          separator = " ")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_word_len"), col("punct_ratio"), col("stopword_ratio"),
          col("dup_segment_frac"), col("top_bigram_frac"),
          col("margin"), col("keep"))
        .orderBy("doc_id")
    },
      // q74's signal chain plus the fixed-order linear margin on the rounded
      // signal columns; keep <=> margin >= 0.
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END, 6) AS punct_ratio,
             round(CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS stopword_ratio
           FROM base),
         segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM base WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id),
         rep AS (
           SELECT d.doc_id,
                  CASE WHEN coalesce(s.n_segments, 0) > 0
                       THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                       ELSE 0.0 END AS dup_segment_frac,
                  CASE WHEN coalesce(b.n_bigrams, 0) > 0
                       THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                       ELSE 0.0 END AS top_bigram_frac
           FROM documents d
           LEFT JOIN segstats s USING (doc_id)
           LEFT JOIN bgstats b USING (doc_id)),
         f AS (
           SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.punct_ratio,
                  m.stopword_ratio, rep.dup_segment_frac, rep.top_bigram_frac,
                  round(-0.6 + 0.002 * CAST(m.n_tokens AS DOUBLE)
                    + 0.15 * m.mean_word_len
                    + -4.0 * m.punct_ratio
                    + 3.0 * m.stopword_ratio
                    + -2.0 * rep.dup_segment_frac
                    + -1.5 * rep.top_bigram_frac, 8) AS margin
           FROM m JOIN rep USING (doc_id))
         SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
                dup_segment_frac, top_bigram_frac, margin, margin >= 0 AS keep
         FROM f ORDER BY doc_id"""),

    // Surgical span-level decontamination: excise exactly the character
    // ranges reproducing a benchmark passage (q56's doc split), instead
    // of dropping whole documents — benchmark windows at stride 1
    // broadcast, corpus windows at stride 10, q110's excision fold.
    Query("q112_excise_passages", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.excisePassages(docs.filter(col("doc_id") >= 25), "doc_id",
          "text", docs.filter(col("doc_id") < 25), "text",
          spanLen = 20, stride = 10)
        .orderBy("doc_id")
    },
      // Span decontamination replay: benchmark windows at stride 1, corpus
      // windows at stride 10, semi-join on the window hash, then q110's
      // islands + reassembly.
      """WITH bench AS (SELECT text FROM documents WHERE doc_id < 25),
         bh AS (SELECT DISTINCT md5(substr(text, bp + 1, 20)) AS h
           FROM (SELECT text, unnest(range(0, len(text) - 20 + 1, 1)) AS bp
                 FROM bench WHERE len(text) >= 20)),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 25),
         occ AS (SELECT doc_id,
             unnest(range(0, len(text) - 20 + 1, 10)) AS pos, text
           FROM corpus WHERE len(text) >= 20),
         marked AS (
           SELECT doc_id, pos AS s, pos + 20 AS e
           FROM (SELECT doc_id, pos, md5(substr(text, pos + 1, 20)) AS h
                 FROM occ)
           WHERE h IN (SELECT h FROM bh)),
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
           FROM merged m JOIN corpus d USING (doc_id)
           GROUP BY m.doc_id, len(d.text)),
         cleaned AS (
           SELECT s.doc_id,
             string_agg(substr(d.text, seg_start + 1,
               greatest(0, seg_end - seg_start)), '' ORDER BY seg_start)
               AS clean_text
           FROM segs s JOIN corpus d USING (doc_id) GROUP BY s.doc_id)
         SELECT d.doc_id,
           coalesce(c.clean_text, d.text) AS clean_text,
           CAST(len(d.text) - len(coalesce(c.clean_text, d.text)) AS BIGINT)
             AS n_chars_removed
         FROM corpus d LEFT JOIN cleaned c USING (doc_id)
         ORDER BY d.doc_id"""),

    // Pattern redaction (PII scrub): the synthetic corpus carries no PII,
    // so the query first appends deterministic pseudo-PII derived from
    // doc_id (an email, a dotted IPv4, a 7-digit reference number), then
    // redacts with the default policy — each rule's count is the spans it
    // actually rewrote, in rule order.
    Query("q115_redact_pii", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1 ref "), (col("doc_id") * 7919 + 1000000).cast("string")))
      Curation.redactPatterns(docs, "doc_id", "text")
        .orderBy("doc_id")
    },
      // Rule-ordered redaction replay: each stage counts on the PREVIOUS
      // stage's text (what the rule actually saw), exactly as the Spark fold.
      """WITH src AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.1 ref ' || CAST(doc_id * 7919 + 1000000 AS VARCHAR) AS text
           FROM documents),
         r1 AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS text
           FROM src),
         r2 AS (
           SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
             regexp_replace(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '<IP>', 'g') AS text
           FROM r1),
         r3 AS (
           SELECT doc_id, n_email, n_ip,
             CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INTEGER) AS n_number,
             regexp_replace(text, '[0-9]{7,}', '<NUM>', 'g') AS text
           FROM r2)
         SELECT doc_id, text, n_email, n_ip, n_number,
                n_email + n_ip + n_number AS n_redactions
         FROM r3 ORDER BY doc_id"""),

    // Release-gate distribution drift: PSI of the n_chars distribution,
    // src0 slice as the frozen reference vs src3 as the incoming slice,
    // fixed bucket edges (drift monitoring bins against a frozen
    // reference binning, not re-derived quantiles). Σ psi_term is the
    // classic PSI.
    Query("q129_drift_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.driftReport(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src3"),
          "n_chars", Seq(100.0, 200.0, 400.0, 800.0, 1600.0))
        .orderBy("bucket")
    },
      // PSI replay: same fixed buckets, same ½-count continuity correction
      // ((n + 0.5) / (N + 0.5·B), B = 6), psi over the UNROUNDED fractions.
      """WITH e(bucket, lo, hi) AS (VALUES
           (0, '-infinity'::DOUBLE, 100.0::DOUBLE), (1, 100.0::DOUBLE, 200.0::DOUBLE),
           (2, 200.0::DOUBLE, 400.0::DOUBLE), (3, 400.0::DOUBLE, 800.0::DOUBLE),
           (4, 800.0::DOUBLE, 1600.0::DOUBLE), (5, 1600.0::DOUBLE, 'infinity'::DOUBLE)),
         bb AS (SELECT doc_id, source,
             CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1
                  WHEN n_chars < 400 THEN 2 WHEN n_chars < 800 THEN 3
                  WHEN n_chars < 1600 THEN 4 ELSE 5 END AS bucket
           FROM documents WHERE source IN ('src0', 'src3')),
         rc AS (SELECT bucket, count(*) AS ref_n FROM bb
                WHERE source = 'src0' GROUP BY bucket),
         cc AS (SELECT bucket, count(*) AS cur_n FROM bb
                WHERE source = 'src3' GROUP BY bucket),
         tot AS (SELECT
             (SELECT count(*) FROM bb WHERE source = 'src0') AS rn,
             (SELECT count(*) FROM bb WHERE source = 'src3') AS cn)
         SELECT e.bucket, e.lo, e.hi,
                coalesce(rc.ref_n, 0) AS ref_n,
                coalesce(cc.cur_n, 0) AS cur_n,
                round((coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0), 6) AS ref_frac,
                round((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0), 6) AS cur_frac,
                round(((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0) -
                       (coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0)) *
                      ln(((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0)) /
                         ((coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0))), 6)
                  AS psi_term
         FROM e LEFT JOIN rc ON rc.bucket = e.bucket
                LEFT JOIN cc ON cc.bucket = e.bucket
         CROSS JOIN tot
         ORDER BY e.bucket"""),

    // CCNet-style LM quality bucketing: interpolated bigram model trained
    // on the vetted src0 slice scores every document's cross-entropy;
    // fixed thresholds split head/middle/tail (≈p10/p90 of the sf0.01
    // distribution).
    Query("q131_bigram_lm_quality", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.bigramLmQuality(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          lambda = 0.9, headBits = 5.2, tailBits = 5.8)
        .orderBy("doc_id")
    },
      // Bigram-LM replay: same model counts, same interpolation arithmetic
      // (λ = 0.9 exactly as written; 1−λ interpolated from the identical
      // Scala double so both engines multiply the same IEEE literal), fold
      // over the (w1,w2)-sorted term list (q84/q86 discipline).
      s"""WITH rt AS (SELECT $toks AS t FROM documents WHERE source = 'src0'),
         runi AS (SELECT unnest(t) AS tok FROM rt),
         uni AS (SELECT tok, count(*) AS cu FROM runi GROUP BY tok),
         norm AS (SELECT sum(cu) AS total, count(*) AS vsz FROM uni),
         rbg AS (SELECT unnest(list_transform(range(1, len(t)),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM rt),
         cp AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c12
                FROM rbg GROUP BY 1, 2),
         cl AS (SELECT bg.w1 AS w1, count(*) AS c1 FROM rbg GROUP BY 1),
         dt AS (SELECT doc_id, $toks AS t FROM documents),
         dbg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM dt),
         dcnt AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS nd
                  FROM dbg GROUP BY 1, 2, 3),
         terms AS (SELECT d.doc_id, d.w1, d.w2, d.nd,
                     coalesce(cp.c12, 0) AS c12, coalesce(cl.c1, 0) AS c1,
                     coalesce(uni.cu, 0) AS cu
                   FROM dcnt d LEFT JOIN cp ON d.w1 = cp.w1 AND d.w2 = cp.w2
                               LEFT JOIN cl ON d.w1 = cl.w1
                               LEFT JOIN uni ON d.w2 = uni.tok),
         agg AS (SELECT doc_id, sum(nd) AS n_bigrams,
                   list_sort(list(struct_pack(w1 := w1, w2 := w2, nd := nd,
                     c12 := c12, c1 := c1, cu := cu))) AS tc
                 FROM terms GROUP BY doc_id),
         scored AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
             round(-list_sum(list_transform(tc, x ->
               x.nd * log2(CASE WHEN x.c1 > 0
                                THEN 0.9 * CAST(x.c12 AS DOUBLE) / x.c1
                                ELSE 0.0 END
                           + ${1.0 - 0.9} * (x.cu + 1.0)
                             / (norm.total + norm.vsz))))
               / n_bigrams, 6) AS bits_per_bigram
            FROM agg, norm)
         SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
                s.bits_per_bigram,
                CASE WHEN s.bits_per_bigram IS NULL THEN 'unscored'
                     WHEN s.bits_per_bigram < 5.2 THEN 'head'
                     WHEN s.bits_per_bigram < 5.8 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM documents d LEFT JOIN scored s USING (doc_id)
         ORDER BY d.doc_id"""),

    // Objective construction: every curated doc becomes a T5-style
    // denoising pair — block-stratified span masking (all decisions pure
    // functions of (id, block), no sequential scan state), ~25% of blocks
    // masked, spans 1–3 tokens, block-indexed sentinels.
    Query("q134_span_corruption", (s, dir) => {
      Curation.spanCorruption(t(s, dir, "documents"), "doc_id", "text",
          blockSize = 4, maskNum = 1024, maxSpan = 3)
        .orderBy("doc_id")
    },
      // Span-corruption replay: every mask decision re-derived from the same
      // md5(id:block) digits; block slices, sentinel splicing, and the
      // block-sorted reassembly are pure list arithmetic in both engines.
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         blk AS (SELECT doc_id, t, unnest(range(0, (len(t) + 3) // 4)) AS b
                 FROM base),
         det AS (SELECT doc_id, b, t[(b*4+1):(b*4+4)] AS bt,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(b AS VARCHAR)), 1, 4)) AS BIGINT) AS h
                 FROM blk),
         p2 AS (SELECT doc_id, b, len(bt) AS nt,
             CASE WHEN h % 4096 < 1024
                  THEN ['<extra_id_' || CAST(b AS VARCHAR) || '>']
                       || bt[(1 + (h // 4096) % 3 + 1):len(bt)]
                  ELSE bt END AS inp,
             CASE WHEN h % 4096 < 1024
                  THEN ['<extra_id_' || CAST(b AS VARCHAR) || '>']
                       || bt[1:(1 + (h // 4096) % 3)]
                  ELSE []::VARCHAR[] END AS tgt,
             CASE WHEN h % 4096 < 1024
                  THEN least(1 + (h // 4096) % 3, len(bt)) ELSE 0 END AS nm
           FROM det),
         agg AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(nm) AS BIGINT) AS n_masked_tokens,
                   flatten(list_transform(list_sort(list(
                     struct_pack(b := b, inp := inp))), x -> x.inp)) AS inps,
                   flatten(list_transform(list_sort(list(
                     struct_pack(b := b, tgt := tgt))), x -> x.tgt)) AS tgts
                 FROM p2 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.n_masked_tokens, 0) AS n_masked_tokens,
                coalesce(array_to_string(a.inps, ' '), '') AS input_text,
                coalesce(array_to_string(a.tgts, ' '), '') AS target_text
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id"""),

    // Score calibration: map n_chars to its approximate corpus percentile
    // via a fixed bucket grid (q129's edges) — deterministic, scan-shaped
    // (no corpus sort, no sketch), comparable across sources.
    Query("q139_quantile_normalize", (s, dir) => {
      Curation.quantileNormalize(t(s, dir, "documents"), "doc_id",
          "n_chars", Seq(100.0, 200.0, 400.0, 800.0, 1600.0))
        .orderBy("doc_id")
    },
      // ECDF replay: same fixed buckets, exclusive cumulative over the
      // B-row bucket frame, same interpolation (midpoint in the unbounded
      // end buckets, frac 0 exactly on an edge).
      """WITH b AS (
           SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) AS v,
             CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1
                  WHEN n_chars < 400 THEN 2 WHEN n_chars < 800 THEN 3
                  WHEN n_chars < 1600 THEN 4 ELSE 5 END AS bucket
           FROM documents),
         c AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
         g AS (SELECT bucket, n,
                 CAST(coalesce(sum(n) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb,
                 CAST(sum(n) OVER () AS BIGINT) AS nn
               FROM c),
         e(bucket, lo, hi) AS (VALUES
           (0, '-infinity'::DOUBLE, 100.0::DOUBLE),
           (1, 100.0::DOUBLE, 200.0::DOUBLE),
           (2, 200.0::DOUBLE, 400.0::DOUBLE),
           (3, 400.0::DOUBLE, 800.0::DOUBLE),
           (4, 800.0::DOUBLE, 1600.0::DOUBLE),
           (5, 1600.0::DOUBLE, 'infinity'::DOUBLE))
         SELECT b.doc_id, b.n_chars, b.bucket,
                CAST(floor((g.cb + CASE WHEN isinf(e.lo) OR isinf(e.hi)
                                        THEN 0.5
                                        ELSE (b.v - e.lo) / (e.hi - e.lo) END
                            * g.n) / g.nn * 1000000.0 + 0.5) AS BIGINT)
                  AS pct_ppm
         FROM b JOIN g USING (bucket) JOIN e USING (bucket)
         ORDER BY b.doc_id"""),

    // Crawl-increment novelty: distinct word-3-grams of every document
    // anti-joined against the seen corpus's (src0) gram fingerprints —
    // both sides corpus-scale, so both shuffle on 16-byte md5 keys (the
    // benchmark-decontamination broadcast does NOT apply here).
    Query("q141_novelty_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.noveltyReport(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", n = 3)
        .orderBy("doc_id")
    },
      // Novelty replay: same distinct word-3-grams both sides, anti join on
      // the raw grams (Spark joins md5 fingerprints of the same grams), the
      // q139 floor-ppm discipline for the ratio.
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dg AS (SELECT DISTINCT doc_id, gram FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3 + 2),
                    i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                      CAST(i + 2 AS INTEGER)), ' '))) AS gram
                  FROM d WHERE len(tk) >= 3)),
         rg AS (SELECT DISTINCT gram FROM (
                  SELECT unnest(list_transform(range(1, len(tk) - 3 + 2),
                    i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                      CAST(i + 2 AS INTEGER)), ' '))) AS gram
                  FROM d JOIN documents USING (doc_id)
                  WHERE source = 'src0' AND len(tk) >= 3)),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
         nv AS (SELECT doc_id, count(*) AS novel FROM dg
                ANTI JOIN rg USING (gram) GROUP BY doc_id)
         SELECT d2.doc_id, coalesce(s.n_grams, 0) AS n_grams,
                coalesce(nv.novel, 0) AS novel_grams,
                CAST(CASE WHEN coalesce(s.n_grams, 0) > 0 THEN
                  (coalesce(nv.novel, 0) // s.n_grams) * 1000000
                    + (2 * (coalesce(nv.novel, 0) % s.n_grams) * 1000000
                        + s.n_grams) // (2 * s.n_grams)
                END AS BIGINT) AS novelty_ppm
         FROM documents d2 LEFT JOIN sizes s USING (doc_id)
                           LEFT JOIN nv USING (doc_id)
         ORDER BY d2.doc_id"""),

    // The unbounded boilerplate-strip fallback (anti-join plan, never
    // collects) gated against the SAME oracle as q57's broadcast default
    // — the two plans must stay value-identical forever.
    Query("q151_strip_shuffle", (s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.stripBoilerplateShuffle(docs, "doc_id", "text",
          " ", Left(docs.count() * 8 / 10))
        .orderBy("doc_id")
    },
      // identical to q57's oracle — the shuffle fallback must agree with
      // the broadcast default value-for-value
      """WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id)
         SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
         FROM documents d LEFT JOIN clean c USING (doc_id)
         ORDER BY doc_id"""))

}
