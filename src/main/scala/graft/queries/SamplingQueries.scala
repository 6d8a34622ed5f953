package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.{Checkpoints, Curation, Dedup, Skew}
import Query.t
import SharedSql.{toks, minhashVerifiedCtes}

/** Sampling, mixing and splitting: stratified and weighted samples,
  * token budgets, shards, split assignment and leakage, and mixture plans.
  */
object SamplingQueries {

  lazy val queries: Seq[Query] = Seq(
    // Data mixing: per-stratum deterministic down-sampling (md5 predicate —
    // no RNG state, no count; the oracle reproduces the exact row set).
    Query("q50_stratified_sample", (s, dir) => {
      graft.ops.Sampling.stratifiedHashSample(t(s, dir, "documents"),
          "doc_id", "lang", Seq("en" -> 0.5, "de" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang FROM documents
         WHERE CASE
           WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '800'
           WHEN lang = 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '400'
           ELSE TRUE END
         ORDER BY doc_id"""),

    // Data mixing: integer up-weighting (repeat high-priority strata N×
    // with a copy index) — codegen'd explode in the scan stage.
    Query("q52_weighted_repeat", (s, dir) => {
      graft.ops.Sampling.weightedRepeat(
          t(s, dir, "documents").select("doc_id", "lang"), "lang",
          Seq("de" -> 3, "fr" -> 2))
        .withColumn("copy", col("copy").cast("long"))
        .orderBy("doc_id", "copy")
    },
      """WITH w AS (
           SELECT doc_id, lang,
             CASE WHEN lang = 'de' THEN 3 WHEN lang = 'fr' THEN 2 ELSE 1 END AS n
           FROM documents)
         SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy
         FROM w ORDER BY doc_id, copy"""),

    // Deterministic exact-size sample: the 50 smallest md5(doc_id) rows —
    // TakeOrderedAndProject, no global sort shuffle.
    Query("q67_exact_sample", (s, dir) => {
      graft.ops.Sampling.hashSampleExact(t(s, dir, "documents"), "doc_id", 50)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50)
         ORDER BY doc_id"""),

    // Deterministic train/validation/test assignment from md5(doc_id)
    // range cuts — a pure per-row expression the oracle reproduces.
    Query("q68_split_assign", (s, dir) => {
      graft.ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("test" -> 0.1, "validation" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },
      // Cumulative md5-prefix cuts: 0.1 -> 410/4096 = 0x19a, 0.2 -> 820 =
      // 0x334 (same integer rounding as Sampling.assignSplit).
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
         FROM documents ORDER BY doc_id"""),

    // Token-budget mixture sampling: per-source keep fractions derived from
    // the corpus's own token totals (8k-char budget at 40/30/20/10% across
    // src0-3; src4 over-weighted to exercise the keep-whole branch; other
    // sources dropped), then the md5-cut per-row selection.
    Query("q75_token_budget_mix", (s, dir) => {
      graft.ops.Sampling.sampleToTokenBudget(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", budget = 8000L,
          weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2,
            "src3" -> 0.1, "src4" -> 5.0))
        .orderBy("doc_id")
    },
      // Same integer-exact cut arithmetic: floor(budget*weight*4096/tokens)
      // in 4096ths, md5-prefix compare, keep-whole when cut >= 4096.
      """WITH tot AS (
           SELECT source, CAST(sum(n_chars) AS DOUBLE) AS st
           FROM documents GROUP BY source),
         w AS (SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3),
             ('src2', 0.2), ('src3', 0.1), ('src4', 5.0)) AS t(source, wt)),
         c AS (
           SELECT tot.source,
                  greatest(CAST(floor(8000.0 * w.wt * 4096.0 / tot.st) AS BIGINT), 1) AS cut
           FROM tot JOIN w USING (source))
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN c USING (source)
         WHERE cut >= 4096
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3) < lpad(lower(to_hex(cut)), 3, '0')
         ORDER BY d.doc_id"""),

    // Deterministic global shuffle into training shards: md5-bucket shard +
    // within-shard rank. The window partitions by shard (bounded state),
    // never a global sort.
    Query("q76_shuffled_shards", (s, dir) => {
      graft.ops.Sampling.shuffledShards(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", numShards = 8, seed = 7L)
        .orderBy("shard", "shard_pos")
    },
      // Same salted-md5 bucket + within-shard rank arithmetic.
      """WITH h AS (
           SELECT doc_id, lang,
                  md5('7:' || CAST(doc_id AS VARCHAR)) AS hh
           FROM documents),
         s AS (
           SELECT doc_id, lang, hh,
                  CAST(CAST(concat('0x', substr(hh, 1, 8)) AS BIGINT) % 8
                    AS INTEGER) AS shard
           FROM h)
         SELECT doc_id, lang, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                  AS INTEGER) AS shard_pos
         FROM s ORDER BY shard, shard_pos"""),

    // Composed training-mix assembly: quality gate -> token-budget mixture
    // over the KEPT docs (fractions derive from the kept totals, not the
    // raw corpus) -> fixed-length sequence packing, as ONE plan. The
    // stopword rule is disabled (multilingual mix; the en stop list would
    // drop every non-English doc) and the dup-segment threshold relaxed to
    // 0.95 (separator " " makes segments = words, where ordinary prose
    // repeats) so the budget cut actually engages. The oracle re-derives
    // the whole chain.
    Query("q77_training_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      // Spread an under-split corpus BEFORE the signal projection and pin
      // the SIGNAL frame. A bare spread fails here: predicate pushdown
      // substitutes the `keep` alias and drags the heavy
      // TextStats/RepetitionStats expressions through the inserted
      // exchange back onto the single map task. A pinned frame's build
      // plan ENDS at the projection — nothing can push through it — so the
      // signals evaluate on the exchange's reduce side across the
      // session's cores.
      val sigs = Checkpoints.pin(Curation.qualityFilter(
          Skew.spreadIfUnderSplit(docs, col("doc_id")), "doc_id", "text",
          minStopwordRatio = 0.0, maxDupSegmentFrac = 0.95, separator = " ")
        .select("doc_id", "n_tokens", "keep"))
      // Stage barrier (the q63 pattern): sampleToTokenBudget references
      // its input twice (stratum totals + selection join), so without
      // this pin the kept-join re-executes per reference. The pinned
      // projection is ids+counts — three narrow columns, cheap at any
      // corpus scale.
      val kept = Checkpoints.pin(sigs
        .filter(col("keep"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tokens"))
      val mixed = graft.ops.Sampling.sampleToTokenBudget(kept, "doc_id",
        "source", "n_tokens", budget = 800L,
        weights = Seq("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.25,
          "src3" -> 0.25))
      Curation.packSequences(mixed, "doc_id", col("n_tokens"), "source",
          seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    },
      // The full chain: q74's signal/when-chain CTEs -> kept docs -> q75's
      // budget-cut arithmetic over the KEPT totals -> q58's packing spans.
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
           SELECT m.doc_id, m.n_tokens,
                  CASE WHEN m.n_tokens < 16 THEN 'too_few_tokens'
                       WHEN m.n_tokens > 100000 THEN 'too_many_tokens'
                       WHEN m.mean_word_len < 2.0 OR m.mean_word_len > 12.0 THEN 'word_length'
                       WHEN m.punct_ratio > 0.25 THEN 'punctuation'
                       WHEN rep.dup_segment_frac > 0.95 THEN 'repeated_segments'
                       WHEN rep.top_bigram_frac > 0.18 THEN 'repeated_bigrams'
                       ELSE NULL END AS reason
           FROM m JOIN rep USING (doc_id)),
         kept AS (
           SELECT f.doc_id, d.source, f.n_tokens
           FROM f JOIN documents d USING (doc_id)
           WHERE f.reason IS NULL),
         tot AS (
           SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS st
           FROM kept GROUP BY source),
         w AS (SELECT * FROM (VALUES ('src0', 0.25), ('src1', 0.25),
             ('src2', 0.25), ('src3', 0.25)) AS t(source, wt)),
         c AS (
           SELECT tot.source,
                  greatest(CAST(floor(800.0 * w.wt * 4096.0 / tot.st) AS BIGINT), 1) AS cut
           FROM tot JOIN w USING (source)),
         mixed AS (
           SELECT k.source, k.doc_id, k.n_tokens AS n
           FROM kept k JOIN c USING (source)
           WHERE cut >= 4096
              OR substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 3) < lpad(lower(to_hex(cut)), 3, '0')),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM mixed),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id"""),

    // Per-source best-k selection: quality-ranked top 3 docs per source via
    // the bounded CollectTopK aggregate (O(k) state at every aggregation
    // level — no per-group full sort). Rank ties break by ascending doc_id
    // on the 6-dp-rounded score, so the selection is engine-portable.
    Query("q79_top_per_group", (s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
      graft.ops.Sampling.topPerGroup(scored, "doc_id", "source", "quality", k = 3)
        .orderBy("source", "rank")
    },
      // q11's quality CTEs -> per-source row_number on (rounded quality DESC,
      // doc_id) — the bounded top-k aggregate must equal the rank window.
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
           FROM base),
         q AS (
           SELECT doc_id,
             round((least(ntok / 64.0, 1.0) + least(swr * 4.0, 1.0) +
                    greatest(0.0, 1.0 - pr * 4.0) +
                    CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 4.0, 6) AS quality
           FROM m),
         r AS (
           SELECT q.doc_id, d.source, q.quality,
             row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id) AS rank
           FROM q JOIN documents d USING (doc_id))
         SELECT doc_id, source, quality, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3
         ORDER BY source, rank"""),

    // Eval-hygiene audit: verified near-dup pairs straddling the q68
    // splits — the leakage exact fingerprints miss (edited eval copies in
    // train). Composes the q16 pair machinery with the q68 assignment.
    Query("q87_split_leakage", (s, dir) => {
      graft.ops.Sampling.nearDupSplitLeakage(t(s, dir, "documents"), "doc_id",
          "text", Seq("test" -> 0.1, "validation" -> 0.1), threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
      // q16's verified pairs × q68's split assignment, cross-split only.
      s"""WITH $minhashVerifiedCtes,
         sp AS (
           SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
           FROM documents)
         SELECT v.id_a, v.id_b, round(v.jaccard, 6) AS jaccard,
                sa.split AS split_a, sb.split AS split_b
         FROM verified v
         JOIN sp sa ON sa.doc_id = v.id_a
         JOIN sp sb ON sb.doc_id = v.id_b
         WHERE v.jaccard >= 0.5 AND sa.split <> sb.split
         ORDER BY v.id_a, v.id_b"""),

    // Deterministic exact-n per-group sample: each source keeps its 10
    // smallest-(md5(id), id) documents via the bounded CollectTopK
    // aggregate — the count-based complement of q50's rate cut; the
    // selected ids differ per scale (different corpora) but the count is
    // exactly 10 × sources at any scale ≥ 10 docs/source.
    Query("q93_per_group_sample", (s, dir) => {
      graft.ops.Sampling.perGroupSampleExact(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", n = 10)
        .orderBy("source", "doc_id")
    },
      // Exact-n per-group selection: the bounded-aggregate winners equal the
      // (md5(id), id)-ordered rank window.
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY source, doc_id"""),

    // Count-relative per-stratum selection: each source keeps its top 25%
    // longest documents — rank and stratum size from one window pass, the
    // kept count scaling with each stratum (vs q79/q93's fixed k).
    Query("q96_percentile_gate", (s, dir) => {
      graft.ops.Sampling.percentileGate(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", keepFraction = 0.25)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rank"), col("stratum_n"))
        .orderBy("source", "rank")
    },
      // Per-stratum percentile gate: rank and stratum count from the same
      // window formulation; kept rows are rank <= ceil(0.25 * n).
      """SELECT doc_id, source, n_chars, CAST(rank AS INTEGER) AS rank,
              stratum_n
         FROM (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank,
             count(*) OVER (PARTITION BY source) AS stratum_n
           FROM documents WHERE n_chars IS NOT NULL)
         WHERE rank <= ceil(0.25 * stratum_n)
         ORDER BY source, rank"""),

    // Temperature-based mixture: per-source keep rates from the corpus's
    // own (char-count) totals tempered at alpha = 0.5, applied through the
    // integer-exact md5 cut — the multilingual rebalancing recipe, derived
    // entirely in-plan (one strata-sized aggregate, no collect).
    Query("q98_temperature_mix", (s, dir) => {
      graft.ops.Sampling.temperatureMixture(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", budget = 50000L, alpha = 0.5)
        .orderBy("doc_id")
    },
      // Temperature mixture: tempered per-source weights (pow alpha = 0.5,
      // rounded to 6 decimals for engine portability) over the corpus's own
      // char totals, then the integer-exact md5 cut in 4096ths.
      """WITH totals AS (
           SELECT source, sum(n_chars) AS st FROM documents GROUP BY source),
         tw AS (SELECT source, st, pow(CAST(st AS DOUBLE), 0.5) AS p FROM totals),
         w AS (SELECT source, st, round(p / sum(p) OVER (), 6) AS wt FROM tw),
         c AS (SELECT source, st,
             greatest(CAST(floor(50000.0 * wt * 4096.0 / CAST(st AS DOUBLE)) AS BIGINT), 1) AS cut
           FROM w)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN c USING (source)
         WHERE c.cut >= 4096
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3) <
               lpad(to_hex(c.cut), 3, '0')
         ORDER BY d.doc_id"""),

    // Deterministic weighted sample without replacement (priority
    // sampling): 100 docs, inclusion odds proportional to n_chars, the
    // priority one IEEE division of integer-exact doubles — the oracle
    // replays the identical arithmetic from the md5 hex digits.
    Query("q116_priority_sample", (s, dir) => {
      graft.ops.Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", "n_chars", n = 100)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },
      // Priority sampling replay: u is the first 8 md5 hex digits as an
      // exact-integer double (positional fold against exact powers of 16 —
      // no pow()), priority ONE IEEE division; top-100 by (priority DESC, id).
      """WITH u AS (
           SELECT doc_id, n_chars,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS DOUBLE)
               * ([268435456.0, 16777216.0, 1048576.0, 65536.0,
                   4096.0, 256.0, 16.0, 1.0])[CAST(i AS INTEGER)])) AS uhex
           FROM documents
           WHERE n_chars IS NOT NULL AND n_chars > 0),
         p AS (
           SELECT doc_id, n_chars,
             CAST(n_chars AS DOUBLE) / (uhex + 1.0) AS priority
           FROM u),
         top AS (
           SELECT doc_id, n_chars FROM p
           ORDER BY priority DESC, doc_id LIMIT 100)
         SELECT doc_id, n_chars FROM top ORDER BY doc_id"""),

    // Leakage-safe split assignment: every near-dup cluster member hashes
    // its cluster representative through the q68 md5 range cut, so
    // near-copies can never straddle train/eval; singletons get exactly
    // their q68 assignment.
    Query("q117_cluster_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      graft.ops.Sampling.clusterAwareSplit(docs, "doc_id",
          Dedup.duplicateClusters(pairs),
          Seq("test" -> 0.1, "validation" -> 0.1))
        .select("doc_id", "split_rep", "split")
        .orderBy("doc_id")
    },
      // q51's recursive closure for the cluster representative, then exactly
      // the q68 md5 range cut applied to the representative instead of the id.
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
         rep AS (
           SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_rep
           FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id)
         SELECT doc_id, split_rep,
                CASE WHEN substr(md5(CAST(split_rep AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(split_rep AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
         FROM rep ORDER BY doc_id"""),

    // Exact token-budget prefix: admit docs in deterministic md5 order
    // until cumulative tokens cross 8000 (q75 hits a budget in
    // expectation; a release manifest wants the exact minimal-overshoot
    // cut). Cumulative count = the distributed prefix scan, md5-hex
    // bucketed — no single-partition sort at any scale.
    Query("q136_budget_prefix", (s, dir) => {
      graft.ops.Sampling.exactBudgetPrefix(t(s, dir, "documents"), "doc_id",
          TextFunctions.tokenCount(col("text")), budget = 8000L)
        .orderBy("cum_before", "doc_id")
    },
      // Budget-prefix replay: the oracle affords the single global running
      // sum the engine decomposes; identical md5 order, identical exclusive
      // cumulative counts, identical admission predicate.
      s"""WITH t AS (
           SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok,
                  md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         w AS (
           SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM t)
         SELECT doc_id, n_tok, cum_before
         FROM w WHERE cum_before < 8000
         ORDER BY cum_before, doc_id"""),

    // Mixture feasibility planning: the requested mix over-asks the four
    // headline sources (src0 wants 30% of 10k tokens from a ~1.4k-token
    // source at sf0.01), so water-filling caps them and redistributes —
    // the reconciliation run BEFORE the samplers execute a mix.
    Query("q137_mixture_plan", (s, dir) => {
      val stats = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("tokens"))
        .withColumn("weight",
          when(col("source") === "src0", 0.30)
            .when(col("source") === "src1", 0.20)
            .when(col("source") === "src2", 0.15)
            .when(col("source") === "src3", 0.10)
            .otherwise(0.015625))
      graft.ops.Sampling.mixturePlan(stats, "source", "tokens", "weight",
          budget = 10000L)
        .orderBy("source")
    }, {
      // Water-filling replay: the same three unrolled redistribution rounds
      // over the source-sorted stats list — every float fold in sorted
      // order, every literal cast to DOUBLE (DuckDB parses bare decimals as
      // DECIMAL, which would drift from Spark's double arithmetic).
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "s0" else s"s${i - 1}"
        s""",
         a$i AS (SELECT st,
             list_sum(list_transform(st, x ->
               CASE WHEN NOT x.ex THEN x.w ELSE 0.0::DOUBLE END)) AS wsum,
             CAST(10000.0 AS DOUBLE) -
               list_sum(list_transform(st, x -> x.take)) AS rem
           FROM $prev),
         s$i AS (SELECT list_transform(st, x -> struct_pack(
             s := x.s, cap := x.cap, w := x.w,
             take := CASE WHEN NOT x.ex AND wsum > 0 AND rem > 0
                          THEN least(x.cap, x.take + rem * x.w / wsum)
                          ELSE x.take END,
             ex := (CASE WHEN NOT x.ex AND wsum > 0 AND rem > 0
                         THEN least(x.cap, x.take + rem * x.w / wsum)
                         ELSE x.take END) >= x.cap)) AS st
           FROM a$i)"""
      }.mkString
      s"""WITH stats AS (
           SELECT source, CAST(sum(len($toks)) AS BIGINT) AS tokens,
             CAST(CASE source WHEN 'src0' THEN 0.30 WHEN 'src1' THEN 0.20
                  WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.10
                  ELSE 0.015625 END AS DOUBLE) AS w
           FROM documents GROUP BY source),
         one AS (SELECT list_sort(list(struct_pack(s := source,
             cap := CAST(tokens AS DOUBLE), w := w))) AS xs FROM stats),
         s0 AS (SELECT list_transform(xs, x -> struct_pack(s := x.s,
             cap := x.cap, w := x.w, take := 0.0::DOUBLE,
             ex := x.cap <= 0.0)) AS st FROM one)$rounds,
         ex3 AS (SELECT unnest(st) AS x FROM s3)
         SELECT x.s AS source, CAST(x.cap AS BIGINT) AS tokens,
                x.w AS weight, round(x.take, 6) AS allocated,
                CASE WHEN x.cap > 0 THEN round(x.take / x.cap, 6) END AS rate,
                x.ex AS exhausted
         FROM ex3 ORDER BY source"""
    }))

}
