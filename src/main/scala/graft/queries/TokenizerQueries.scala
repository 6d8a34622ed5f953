package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Curation
import Query.t
import SharedSql.toks

/** Tokenizer training and encoding: BPE merges and encode, fertility,
  * and the unigram LM (train, fertility, likelihood).
  */
object TokenizerQueries {

  lazy val queries: Seq[Query] = Seq(
    // Corpus character profile: in-word adjacent char-pair counts, top 50
    // (approximates — deliberately not equals — the BPE trainer's first
    // merge table, which also counts end-of-word sentinel pairs).
    Query("q83_bpe_pair_counts", (s, dir) => {
      Curation.bpePairCounts(t(s, dir, "documents"), "text", k = 50)
        .orderBy(col("n").desc, col("pair"))
    },
      s"""WITH w AS (
           SELECT unnest($toks) AS w FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(w)),
             i -> w[i:i+1])) AS pair
           FROM w WHERE len(w) >= 2)
         SELECT pair, count(*) AS n FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 50"""),

    // BPE merge training: the first 8 learned merges over the documents
    // table — the iterative argmax-and-rewrite loop is not expressible as
    // one SQL query (each rank depends on the previous rewrite), so this
    // entry carries no oracle and takes the driver's rows-only check; the
    // hand-derived Sennrich walkthrough in CurationSpec covers the
    // semantics, and q83's oracle covers the rank-1 decision table.
    Query("q101_bpe_merges", (s, dir) => {
      // localVocabLimit: the operator's documented scale dial — when the
      // distinct-word table provably fits (count ≤ limit, checked on the
      // materialized aggregate), the 8 merge rounds run driver-local over
      // the collected (freq, syms) vocabulary instead of 8× (corpus-vocab
      // pair aggregate + argmax collect + rewrite checkpoint) Spark
      // rounds; CurationSpec proves the two paths bit-identical and the
      // distributed fallback engages untouched past the limit (the
      // union-find ≤1M-edge precedent). Measured 2.8 → 0.6 s at sf0.1.
      Curation.bpeTrainMerges(t(s, dir, "documents"), "text", numMerges = 8,
          localVocabLimit = 1L << 20)
        .orderBy("rank")
    }, {
      // BPE TRAINING replay, 8 merge iterations unrolled into chained CTEs.
      // Each iteration: weighted adjacent-pair counts over the vocab, the
      // (count DESC, l, r) argmax, then the greedy left-to-right
      // non-overlapping rewrite — expressed not as a sequential fold (the
      // Spark side's formulation) but as run-parity list algebra: a match
      // position is TAKEN iff its offset within its maximal run of
      // consecutive match positions is even, which is exactly what a greedy
      // scan takes ("aaa" under (a,a): run {1,2} → take 1 only). A genuinely
      // different formulation, so the hash compare is meaningful.
      def iteration(i: Int): String = {
        val prev = s"vocab_${i - 1}"
        s"""pairs_$i AS (
           SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS n
           FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
                   t -> struct_pack(l := syms[t], r := syms[t + 1]))) AS p
                 FROM $prev)
           GROUP BY p.l, p.r),
         best_$i AS (SELECT l, r, n FROM pairs_$i ORDER BY n DESC, l, r LIMIT 1),
         vocab_$i AS (
           SELECT w, freq,
             flatten(list_transform(range(1, len(syms) + 1), t ->
               CASE WHEN list_contains(tk, t) THEN [bl || br]
                    WHEN list_contains(tk, t - 1) THEN CAST([] AS VARCHAR[])
                    ELSE [syms[t]] END)) AS syms
           FROM (
             SELECT w, freq, syms, bl, br,
               list_filter(mt, t -> (t - list_max(list_filter(mt,
                 m -> m <= t AND NOT list_contains(mt, m - 1)))) % 2 = 0) AS tk
             FROM (
               SELECT v.w, v.freq, v.syms, b.l AS bl, b.r AS br,
                 list_filter(range(1, len(v.syms)),
                   t -> v.syms[t] = b.l AND v.syms[t + 1] = b.r) AS mt
               FROM $prev v, best_$i b)))"""
      }
      val numMerges = 8
      s"""WITH words AS (SELECT unnest($toks) AS w FROM documents),
         vocab_0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
             list_append(list_transform(range(1, len(w) + 1),
               t -> substr(w, t, 1)), '</w>') AS syms
           FROM words GROUP BY w),
         ${(1 to numMerges).map(iteration).mkString(",\n         ")}
         SELECT * FROM (
           ${(1 to numMerges).map(i =>
             s"""SELECT CAST($i AS INTEGER) AS rank, l AS "left", r AS "right", n FROM best_$i""")
             .mkString("\n           UNION ALL ")})
         ORDER BY rank"""
    }),

    // BPE encoding with a fixed 6-merge table (the apply half of q101's
    // trainer): each distinct word replays the merges in rank order, docs
    // reassemble in word order. The oracle replays the same greedy
    // left-to-right rewrites as sentinel-char string replaces — string
    // replace IS the non-overlapping symbol rewrite when every symbol is
    // one char.
    Query("q119_bpe_encode", (s, dir) => {
      // The library returns bpe_tokens as array<string>; the gate surface
      // space-joins it (tokens never contain whitespace — the tokenizer
      // split on it) so the hash compare runs over scalar columns.
      Curation.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          merges = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
            ("a", "</w>"), ("s", "t"), ("e", "a")))
        .select(col("doc_id"),
          array_join(col("bpe_tokens"), " ").as("bpe_text"),
          col("n_bpe_tokens"))
        .orderBy("doc_id")
    },
      // BPE-encode replay in string space: when every symbol is one char
      // (raw chars + one sentinel per merged symbol + chr(1) for the
      // end-of-word marker), greedy left-to-right non-overlapping string
      // replace IS the trainer's symbol rewrite — the merge table becomes a
      // 6-deep replace chain, then each final char decodes back to its
      // symbol text. A genuinely different formulation of the same
      // algorithm, which is what makes the hash compare meaningful.
      s"""WITH base AS (SELECT doc_id, $toks AS tk FROM documents),
         enc AS (
           SELECT doc_id,
             flatten(list_transform(tk, w -> $bpeSentinelDecode)) AS bpe_tokens
           FROM base)
         SELECT doc_id, array_to_string(bpe_tokens, ' ') AS bpe_text,
                CAST(len(bpe_tokens) AS BIGINT) AS n_bpe_tokens
         FROM enc ORDER BY doc_id"""),

    // Tokenizer evaluation: per-language fertility (BPE tokens / word) and
    // compression (chars / BPE token) of q101/q119's fixed merge table —
    // the cross-lingual bias report every multilingual tokenizer ships
    // with, riding the distinct-word vocabulary encode.
    Query("q133_tokenizer_fertility", (s, dir) => {
      Curation.tokenizerFertilityReport(t(s, dir, "documents"), "doc_id",
          "text", "lang", col("n_chars"),
          merges = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
            ("a", "</w>"), ("s", "t"), ("e", "a")))
        .orderBy("lang")
    },
      // Fertility replay: q119's sentinel-replace encode per doc, then one
      // per-language aggregate; ratios are single divisions of exact BIGINT
      // sums (no fold-order float hazard to engineer around).
      s"""WITH base AS (
           SELECT doc_id, lang, n_chars, $toks AS tk FROM documents),
         enc AS (
           SELECT doc_id,
             flatten(list_transform(tk, w -> $bpeSentinelDecode)) AS bt
           FROM base),
         j AS (
           SELECT b.lang, len(b.tk) AS nw, b.n_chars AS nc, len(e.bt) AS nb
           FROM base b JOIN enc e USING (doc_id))
         SELECT lang, count(*) AS n_docs,
                CAST(sum(nw) AS BIGINT) AS n_words,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
                CASE WHEN sum(nw) > 0
                     THEN round(CAST(sum(nb) AS DOUBLE) / sum(nw), 6) END
                  AS fertility,
                CASE WHEN sum(nb) > 0
                     THEN round(CAST(sum(nc) AS DOUBLE) / sum(nb), 6) END
                  AS chars_per_token
         FROM j GROUP BY lang ORDER BY lang"""),

    // Unigram-LM (SentencePiece-style) tokenizer training: substring seed
    // vocabulary + 2 hard-EM rounds (Viterbi E-step as one aggregate HOF
    // per word, integer micro-nat costs so every DP comparison is exact).
    // The corpus is scanned once (word frequencies); EM runs over the
    // zipf-bounded distinct-word table with the model-sized cost map
    // broadcast. Completes the second major tokenizer family next to
    // BPE (q101/q119/q133).
    Query("q144_unigram_lm", (s, dir) => {
      graft.ops.UnigramLm.train(t(s, dir, "documents"), "text",
          vocabSize = 50, maxPieceLen = 4, emIters = 2, maxWordLen = 30)
        .orderBy(col("n").desc, col("piece"))
    },
      // Unigram-LM replay: same seed vocabulary, then each EM round as a
      // recursive-CTE Viterbi DP (integer micro-nat costs make the DP
      // exact in both engines; the longest-piece tie rule is the CASE
      // order l=4..1) + backtrack + piece recount with +1 smoothing.
      s"""WITH RECURSIVE $unigramLmBodyCtes
         SELECT piece, n, cost_u FROM costs2 ORDER BY n DESC, piece"""),

    // Deploy-time twin of q144: encode the corpus with the trained
    // unigram vocabulary and report per-language fertility (pieces/word)
    // and compression (chars/token) in exact integer ppm — the BPE
    // fertility report's (q133) second-tokenizer-family counterpart.
    Query("q145_unigram_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.UnigramLm.train(docs, "text",
        vocabSize = 50, maxPieceLen = 4, emIters = 2, maxWordLen = 30)
      graft.ops.UnigramLm.fertilityReport(docs, "doc_id", "text", "lang",
          col("n_chars"), vocab, maxPieceLen = 4, maxWordLen = 30)
        .orderBy("lang")
    },
      // Encode pass under the trained (costs2) vocabulary: one more DP +
      // backtrack over the distinct words, then per-doc word/piece sums
      // joined back on the word key and the q139 integer-ppm ratios.
      s"""WITH RECURSIVE $unigramLmBodyCtes,
         ${unigramDpBt(3, "costs2")},
         wp AS (SELECT w, CAST(len(ps) AS BIGINT) AS np
                FROM bt3 WHERE pos = 0),
         docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT doc_id, unnest($toks) AS w FROM documents)
           WHERE len(w) <= 30 GROUP BY doc_id, w),
         perdoc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nw,
             CAST(sum(cnt * np) AS BIGINT) AS nt
           FROM docw JOIN wp USING (w) GROUP BY doc_id)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(coalesce(nw, 0)) AS BIGINT) AS n_words,
                CAST(sum(n_chars) AS BIGINT) AS n_chars,
                CAST(sum(coalesce(nt, 0)) AS BIGINT) AS n_tokens,
                CAST(CASE WHEN sum(coalesce(nw, 0)) > 0 THEN
                  (sum(coalesce(nt, 0)) // sum(coalesce(nw, 0))) * 1000000
                    + (2 * (sum(coalesce(nt, 0)) % sum(coalesce(nw, 0)))
                        * 1000000 + sum(coalesce(nw, 0)))
                      // (2 * sum(coalesce(nw, 0)))
                END AS BIGINT) AS fertility_ppm,
                CAST(CASE WHEN sum(coalesce(nt, 0)) > 0 THEN
                  (sum(n_chars) // sum(coalesce(nt, 0))) * 1000000
                    + (2 * (sum(n_chars) % sum(coalesce(nt, 0)))
                        * 1000000 + sum(coalesce(nt, 0)))
                      // (2 * sum(coalesce(nt, 0)))
                END AS BIGINT) AS chars_per_token_ppm
         FROM documents LEFT JOIN perdoc USING (doc_id)
         GROUP BY lang ORDER BY lang"""),

    // EM observability for q144's unigram trainer: per-round corpus
    // Viterbi cost (integer micro-nats — the corpus negative
    // log-likelihood under the hard-EM objective) plus the corpus token
    // total, for the seed model and after each of the 2 EM rounds. The
    // numbers that turn "emIters = 2" from faith into a measurement;
    // the oracle replays all three segmentation passes in DuckDB.
    Query("q148_unigram_likelihood", (s, dir) => {
      graft.ops.UnigramLm.trainWithLikelihood(t(s, dir, "documents"),
          "text", vocabSize = 50, maxPieceLen = 4, emIters = 2,
          maxWordLen = 30)
        ._2.orderBy("round")
    },
      // Per-round corpus Viterbi cost: dp1/dp2 are the EM rounds' own
      // E-step DPs (models costs0/costs1); dp3/bt3 is the extra pass under
      // the final model, exactly as q145. Cost comes from the DP's final
      // cell, token totals from the backtrack's piece list — the Spark
      // side sums chosen-piece costs instead, equal by construction since
      // the DP minimum IS the chosen segmentation's cost sum.
      s"""WITH RECURSIVE $unigramLmBodyCtes,
         ${unigramDpBt(3, "costs2")},
         ll AS (${Seq(1, 2, 3).map { k =>
           s"""SELECT ${k - 1} AS round,
              CAST(sum(d.freq * d.c[len(d.w) + 1]) AS BIGINT)
                AS corpus_cost_u,
              CAST(sum(d.freq * len(b.ps)) AS BIGINT) AS n_pieces
            FROM (SELECT * FROM dp$k WHERE j = len(w)) d
            JOIN (SELECT * FROM bt$k WHERE pos = 0) b USING (w)"""
         }.mkString("\n UNION ALL \n")})
         SELECT CAST(round AS INTEGER) AS round, corpus_cost_u, n_pieces
         FROM ll ORDER BY round"""))

  /** q119/q133's fixed 6-merge BPE table replayed as sentinel-char string
    * replaces (string replace IS the non-overlapping greedy symbol rewrite
    * when every symbol is one char), then decoded back to symbol lists. */
  private val bpeSentinelEnc =
    """replace(replace(replace(replace(replace(replace(
                     w || chr(1),
                     'th', chr(2)),
                     chr(2) || 'e', chr(3)),
                     chr(3) || chr(1), chr(4)),
                     'a' || chr(1), chr(5)),
                     'st', chr(6)),
                     'ea', chr(7))"""

  private val bpeSentinelDecode =
    s"""list_transform(range(1, len($bpeSentinelEnc) + 1), i ->
                     CASE substr($bpeSentinelEnc, i, 1)
                       WHEN chr(1) THEN '</w>'
                       WHEN chr(2) THEN 'th'
                       WHEN chr(3) THEN 'the'
                       WHEN chr(4) THEN 'the</w>'
                       WHEN chr(5) THEN 'a</w>'
                       WHEN chr(6) THEN 'st'
                       WHEN chr(7) THEN 'ea'
                       ELSE substr($bpeSentinelEnc, i, 1) END)"""

  /** One Viterbi DP + backtrack round as recursive CTEs `m$k`/`dp$k`/
    * `bt$k` reading piece costs from `prevCosts`: list accumulators for
    * best cost (`c`, BIGINT micro-nats — exact) and best piece length
    * (`bl`); the t4..t1 CASE order implements the longest-piece tie
    * rule. Shared by the q144 EM replay and the q145 encode pass.
    */
  private def unigramDpBt(k: Int, prevCosts: String): String = {
    val inf = "4611686018427387903"
    def term(l: Int) =
      s"""CASE WHEN $l <= d.j + 1 AND d.c[d.j + 2 - $l] < $inf
          THEN d.c[d.j + 2 - $l]
               + map_extract(m.mp, substr(d.w, d.j + 2 - $l, $l))[1]
          ELSE NULL END"""
    s"""m$k AS (SELECT MAP(list(piece), list(cost_u)) AS mp FROM $prevCosts),
       dp$k AS (
         SELECT w.w AS w, w.freq AS freq, 0 AS j,
                [CAST(0 AS BIGINT)] AS c, [0] AS bl
         FROM words w
         UNION ALL
         SELECT w, freq, j + 1, list_append(c, coalesce(bc, $inf)),
                list_append(bl, CASE WHEN bc IS NULL THEN 0
                  WHEN t4 = bc THEN 4 WHEN t3 = bc THEN 3
                  WHEN t2 = bc THEN 2 ELSE 1 END)
         FROM (
           SELECT d.w, d.freq, d.j, d.c, d.bl,
                  ${term(1)} AS t1, ${term(2)} AS t2,
                  ${term(3)} AS t3, ${term(4)} AS t4,
                  least(t1, t2, t3, t4) AS bc
           FROM dp$k d, m$k m WHERE d.j < len(d.w))),
       bt$k AS (
         SELECT w, freq, len(w) AS pos, CAST([] AS VARCHAR[]) AS ps, bl
         FROM dp$k WHERE j = len(w)
         UNION ALL
         SELECT w, freq, pos - bl[pos + 1],
                list_prepend(substr(w, pos - bl[pos + 1] + 1,
                  bl[pos + 1]), ps), bl
         FROM bt$k WHERE pos > 0 AND bl[pos + 1] > 0)"""
  }

  /** DuckDB replay of [[graft.ops.UnigramLm.train]] with q144's fixed
    * parameters (vocabSize 50, maxPieceLen 4, emIters 2, maxWordLen 30)
    * as a WITH-clause body ending in `costs2(piece, n, cost_u)`. Each EM
    * block: [[unigramDpBt]] → weighted piece recount → +1 smoothing →
    * re-quantized costs.
    */
  private lazy val unigramLmBodyCtes: String = {
    def emBlock(k: Int): String = {
      val prev = s"costs${k - 1}"
      s"""${unigramDpBt(k, prev)},
         counts$k AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS vn FROM (
             SELECT freq, unnest(ps) AS piece FROM bt$k WHERE pos = 0)
           GROUP BY piece),
         vocab$k AS (SELECT v.piece, coalesce(cc.vn, 0) + 1 AS n
           FROM $prev v LEFT JOIN counts$k cc USING (piece)),
         costs$k AS (SELECT piece, n,
             CAST(floor(-ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM vocab$k))
               * 1000000 + 0.5) AS BIGINT) AS cost_u
           FROM vocab$k)"""
    }
    s"""tok AS (SELECT unnest($toks) AS w FROM documents),
         words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
                   WHERE len(w) <= 30 GROUP BY w),
         subs AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
             SELECT freq,
               unnest(flatten(list_transform(generate_series(1, len(w)),
                 i -> list_transform(
                   generate_series(1, least(4, len(w) - i + 1)),
                   l -> substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER))))))
               AS piece
             FROM words) GROUP BY piece),
         vocab0 AS (SELECT piece, n FROM subs WHERE len(piece) = 1
                    UNION ALL
                    SELECT piece, n FROM (
                      SELECT piece, n FROM subs WHERE len(piece) > 1
                      ORDER BY n DESC, piece LIMIT 50)),
         costs0 AS (SELECT piece, n,
             CAST(floor(-ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM vocab0))
               * 1000000 + 0.5) AS BIGINT) AS cost_u
           FROM vocab0),
         ${emBlock(1)},
         ${emBlock(2)}"""
  }
}
