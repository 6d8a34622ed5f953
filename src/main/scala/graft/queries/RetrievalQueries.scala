package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Checkpoints, Retrieval, Similarity}
import Query.t
import SharedSql.toks

/** Text retrieval: BM25 top-k, MMR reranking, hybrid RRF fusion and
  * nDCG evaluation.
  */
object RetrievalQueries {

  lazy val queries: Seq[Query] = Seq(
    // BM25 keyword retrieval: Lucene-form scoring, df computed only for
    // the query vocabulary, per-(query, doc) contributions folded over the
    // term-sorted list, top-10 per query via the bounded aggregate. The
    // oracle re-derives the whole scoring chain.
    Query("q107_bm25_topk", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark window agg"), (1L, "customer query table"),
        (2L, "vector merge stream"), (3L, "slow scan filter"))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "query_text", k = 10)
        .orderBy("query_id", "rank")
    },
      // Full BM25 re-derivation: corpus term/df/length stats, Lucene idf,
      // per-(query, doc) contributions folded over the term-sorted list
      // (identical float add order to the Spark fold), rank on the
      // 6dp-rounded score with ascending-id tie-break.
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT * FROM (VALUES
             (0, 'spark window agg'), (1, 'customer query table'),
             (2, 'vector merge stream'), (3, 'slow scan filter'))
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
         FROM r WHERE rank <= 10
         ORDER BY query_id, rank"""),

    // MMR diversified re-ranking: top-8 cosine candidates per query,
    // greedy λ=0.5 selection of 4 (6-dp-rounded scores, ties to the lowest
    // id). The oracle unrolls the greedy loop step by step.
    Query("q118_mmr_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Retrieval.mmrRerank(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          k = 4, m = 8, lambda = 0.5)
        .orderBy("query_id", "mmr_rank")
    },
      // MMR greedy loop unrolled: unit vectors, 6-dp relevance, top-8
      // candidates, then four argmax stages — each scores the not-yet-
      // selected candidates against the accumulated picks (max of 6-dp
      // pairwise sims), λ = 0.5 so 1−λ is decimal-exact in IEEE.
      """WITH qy AS (
           SELECT vec_id AS query_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
           FROM embeddings WHERE vec_id < 4),
         qu AS (
           SELECT query_id,
             CASE WHEN n > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / n)
                  ELSE list_transform(embedding, x -> 0.0) END AS quv
           FROM qy),
         ey AS (
           SELECT vec_id AS id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
           FROM embeddings),
         eu AS (
           SELECT id,
             CASE WHEN n > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / n)
                  ELSE list_transform(embedding, x -> 0.0) END AS uv
           FROM ey),
         rel AS (
           SELECT q.query_id, e.id, e.uv,
             round(list_sum(list_transform(range(1, len(e.uv) + 1),
               i -> e.uv[i] * q.quv[i])), 6) AS rel
           FROM eu e CROSS JOIN qu q),
         cand AS (
           SELECT query_id, id, uv, rel FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, id) AS r
             FROM rel) WHERE r <= 8),
         p1 AS (
           SELECT query_id, id, rel, uv, score, 1 AS mmr_rank FROM (
             SELECT *, round(0.5 * rel, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(0.5 * rel, 6) DESC, id) AS r
             FROM cand) WHERE r = 1),
         s1 AS (SELECT query_id, id, uv FROM p1),
         r2 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s1 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s1 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p2 AS (
           SELECT query_id, id, rel, uv, score, 2 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r2) WHERE r = 1),
         s2 AS (SELECT * FROM s1 UNION ALL SELECT query_id, id, uv FROM p2),
         r3 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s2 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s2 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p3 AS (
           SELECT query_id, id, rel, uv, score, 3 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r3) WHERE r = 1),
         s3 AS (SELECT * FROM s2 UNION ALL SELECT query_id, id, uv FROM p3),
         r4 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s3 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s3 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p4 AS (
           SELECT query_id, id, rel, uv, score, 4 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r4) WHERE r = 1),
         sel AS (
           SELECT query_id, id, rel, score, mmr_rank FROM p1
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p2
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p3
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p4)
         SELECT query_id, id AS vec_id, rel AS cosine_sim, score AS mmr_score,
                CAST(mmr_rank AS BIGINT) AS mmr_rank
         FROM sel ORDER BY query_id, mmr_rank"""),

    // Hybrid retrieval: BM25 top-20 and dense-cosine top-20 over the
    // embedding-indexed document subset, fused with reciprocal rank
    // fusion (1/(60+rank), tag-sorted sum), final top-10 per query. Rank
    // positions are all that cross the fusion boundary — no score
    // calibration.
    Query("q121_hybrid_rrf", (s, dir) => {
      // The documents⋈embeddings join feeds FOUR independent consumers
      // (bm25 stats pass, bm25 scoring pass, the dense half, and the
      // corpus-derived query frame, which every operator's bounded-check/
      // vocab/broadcast action re-executes). Materialize the join once —
      // guide §3.3/§5: when a composed query re-executes a join per
      // action, pin the intermediate instead of paying the join 4×. The
      // pin is a plan leaf, so downstream plans do not re-analyze the
      // join subtree per action (§3.3 "materialising an intermediate
      // truncates the plan").
      val corpus = Checkpoints.pin(t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id")))
      val qdocs = corpus.filter(col("doc_id") < 4)
      val lex = graft.ops.Retrieval.bm25TopK(
        corpus.select("doc_id", "text"), "doc_id", "text",
        qdocs.select(col("doc_id").as("query_id"),
          col("text").as("query_text")),
        "query_id", "query_text", k = 20)
      val dense = Similarity.topKJoin(
        corpus.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        qdocs.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        k = 20)
      graft.ops.Retrieval.rrfFuse(
          Seq(("bm25", lex.select("query_id", "doc_id", "rank")),
            ("dense", dense.select("query_id", "doc_id", "rank"))),
          "doc_id", k = 10)
        .orderBy("query_id", "rank")
    },
      // Hybrid-retrieval replay: q107's BM25 chain and q53's dense chain,
      // both over the embedding-indexed subset with the 4 query docs'
      // text/vector, then the RRF sum over the tag-sorted contribution list.
      s"""WITH corpus AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         t AS (SELECT doc_id, $toks AS tk FROM corpus),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT doc_id AS query_id, text AS qtext
           FROM corpus WHERE doc_id < 4),
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
         lex AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank
             FROM sc) WHERE rank <= 20),
         qe AS (SELECT doc_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM corpus WHERE doc_id < 4),
         ce AS (SELECT doc_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM corpus),
         sims AS (SELECT qe.query_id, ce.doc_id,
             CASE WHEN ce.vn * qe.qn > 0 THEN
               list_sum(list_transform(range(1, len(ce.embedding) + 1),
                 i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(qe.qv[i] AS DOUBLE)))
                 / (ce.vn * qe.qn)
             ELSE 0.0 END AS sim
           FROM ce CROSS JOIN qe),
         dense AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, doc_id) AS rank
             FROM sims) WHERE rank <= 20),
         allr AS (
           SELECT query_id, doc_id, 'bm25' AS src, rank FROM lex
           UNION ALL
           SELECT query_id, doc_id, 'dense' AS src, rank FROM dense),
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
         ORDER BY query_id, rank"""),

    // Retrieval-quality evaluation: label-relevance nDCG@10 of EXACT
    // cosine retrieval (leave-one-in) — the measured floor the
    // approximate indexes (q20/q99/q108/q114) are held to, the dense
    // mirror of q128's dedup-tuning sweep.
    Query("q135_retrieval_ndcg", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Retrieval.ndcgReport(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
        .orderBy("query_id")
    },
      // nDCG replay: q19's cosine arithmetic per query, direct non-self
      // ranking (the k+1-then-drop-self pool always contains the self hit,
      // so the two formulations coincide), both DCG folds in rank order.
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 8),
         e AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en
           FROM embeddings),
         s AS (
           SELECT q.query_id, q.ql, e.vec_id, e.label,
             CASE WHEN e.en * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (e.en * q.qn)
             ELSE 0.0 END AS sim
           FROM e, q WHERE e.vec_id <> q.query_id),
         r AS (SELECT query_id, ql, label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, vec_id) AS rr
               FROM s),
         top AS (SELECT query_id, ql, rr,
                   CAST(label = ql AS BIGINT) AS g FROM r WHERE rr <= 10),
         lc AS (SELECT label AS ql, count(*) AS nl FROM embeddings
                GROUP BY label),
         f AS (SELECT query_id, ql, CAST(sum(g) AS BIGINT) AS hits,
                 list_sort(list(struct_pack(r := rr, g := g))) AS rg
               FROM top GROUP BY query_id, ql),
         d AS (SELECT query_id, coalesce(lc.nl, 1) - 1 AS n_rel, hits,
                 list_sum(list_transform(rg,
                   x -> CAST(x.g AS DOUBLE) / log2(x.r + 1))) AS dcg_raw,
                 coalesce(list_sum(list_transform(
                   range(1, least(10, coalesce(lc.nl, 1) - 1) + 1),
                   r -> 1.0 / log2(r + 1))), 0.0) AS idcg_raw
               FROM f LEFT JOIN lc USING (ql))
         SELECT query_id, n_rel, hits,
                round(dcg_raw, 6) AS dcg, round(idcg_raw, 6) AS idcg,
                CASE WHEN idcg_raw > 0 THEN round(dcg_raw / idcg_raw, 6) END
                  AS ndcg
         FROM d ORDER BY query_id"""))

}
