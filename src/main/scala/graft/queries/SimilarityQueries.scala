package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Checkpoints, Dedup, Similarity}
import Query.t
import SharedSql.ivfAssignCtes

/** Vector similarity: exact and IVF top-k, LSH pairs, kNN joins,
  * semantic dedup, product/scalar quantization and IVF drift.
  */
object SimilarityQueries {

  lazy val queries: Seq[Query] = Seq(
    // Similarity: exact cosine top-k for one query vector
    Query("q19_topk_cosine", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0)
      Similarity.topKForQuery(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
    },
      // Top-10 SELECTION is by unrounded sim (mirrors Spark's limit before the
      // rounded projection); the final presented ORDER is by the rounded value
      // so 4-decimal ties sort identically on both sides.
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT vec_id,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM embeddings, q),
         topk AS (
           SELECT vec_id, round(sim, 4) AS cosine_sim
           FROM s ORDER BY sim DESC, vec_id LIMIT 10)
         SELECT vec_id, cosine_sim FROM topk
         ORDER BY cosine_sim DESC, vec_id"""),

    // Similarity: IVF approximate top-k. Centroids are a deterministic md5
    // hash-sample of ~nlist=32 vectors — the threshold is integer-derived
    // from the exact corpus count on both sides, so the DuckDB oracle
    // reproduces the full index build + probe exactly at any scale factor,
    // and the centroid broadcast stays bounded by nlist (not the corpus).
    Query("q20_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0)
      // Pinned: the assignment feeds the probe (IVF index build is a
      // one-time cost amortized over queries).
      val assigned = Checkpoints.pin(
        Similarity.ivfAssign(emb, "vec_id", "embedding", nlist = 32))
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.ivfTopKForQuery(assigned, centroids, "vec_id", "embedding",
          q, 10, nprobe = 4)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
    },
      // Full IVF reproduction: same deterministic centroid sample (md5-prefix
      // threshold integer-derived from nlist=32 over the exact corpus count —
      // identical arithmetic to Similarity.sampleThreshold), same
      // nearest-centroid assignment (ties by centroid_id), same nprobe=4
      // probe, same top-10 selection by unrounded sim, final order by the
      // rounded value to match the Spark-side sort.
      s"""WITH q AS (SELECT embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id = 0),
         $ivfAssignCtes,
         probed AS (
           SELECT centroid_id
           FROM c, q
           ORDER BY (CASE WHEN q.qn * c.cn > 0 THEN
               list_sum(list_transform(range(1, len(c.cvec) + 1),
                 i -> CAST(c.cvec[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (q.qn * c.cn)
             ELSE 0.0 END) DESC, centroid_id
           LIMIT 4),
         topk AS (
           SELECT a.vec_id,
             CASE WHEN q.qn * a.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (q.qn * a.vn)
             ELSE 0.0 END AS sim
           FROM assigned a JOIN probed USING (centroid_id), q
           ORDER BY sim DESC, a.vec_id
           LIMIT 10)
         SELECT vec_id, round(sim, 4) AS cosine_sim FROM topk
         ORDER BY round(sim, 4) DESC, vec_id"""),

    // Similarity: LSH-bucketed embedding near-dup pairs. The hyperplane
    // count grows with the corpus (expected bucket population ≤ 32, an
    // integer-exact formula the oracle mirrors), so in-bucket verify cost
    // stays linear in the corpus instead of O(n²/2^bits) at fixed bits.
    Query("q21_lsh_embedding_pairs", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.lshBitsFor(emb.count(), targetBucketSize = 32)
      Similarity.lshNearNeighbors(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.3, bits = bits)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    },
      // LSH reproduction: identical seeded hyperplanes as literals (16 —
      // enough for any verify-scale corpus; the prefix in use is selected by
      // nbits, computed from the corpus count with the same integer formula
      // as Similarity.lshBitsFor — smallest b in [4,24] with 2^b * 32 >= n);
      // bucket = OR of sign bits; in-bucket pairs verified by exact cosine
      // ≥ 0.3.
      s"""WITH planes(pi, pv) AS (VALUES
           $lshPlaneValues),
         nb AS (
           SELECT coalesce(min(b), 24) AS nbits
           FROM (SELECT unnest(range(4, 25)) AS b),
                (SELECT count(*) AS n FROM embeddings) c
           WHERE (CAST(1 AS BIGINT) << b) * 32 >= c.n),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         bk AS (
           SELECT e.vec_id,
             sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.pv[i])) >= 0
                 THEN (CAST(1 AS BIGINT) << p.pi) ELSE 0 END) AS bucket
           FROM e CROSS JOIN planes p, nb WHERE p.pi < nb.nbits
           GROUP BY e.vec_id),
         bck AS (SELECT e.vec_id, e.embedding, e.vn, bk.bucket
                 FROM e JOIN bk USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END AS cosine_sim
           FROM bck a JOIN bck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT DISTINCT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
         FROM pairs WHERE cosine_sim >= 0.3
         ORDER BY id_a, id_b"""),

    // Embedding near-dup pairs via IVF cells (data-adaptive complement to
    // q21's hyperplane LSH): same deterministic index build as q20, exact
    // cosine verified within cells only.
    Query("q47_ivf_cell_pairs", (s, dir) => {
      Similarity.ivfCellNearNeighbors(t(s, dir, "embeddings"), "vec_id", "embedding",
          nlist = 32, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    },
      // Same IVF index build as q20; exact cosine within cells only.
      s"""WITH $ivfAssignCtes,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END AS cosine_sim
           FROM assigned a JOIN assigned b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
         FROM pairs WHERE cosine_sim >= 0.3
         ORDER BY id_a, id_b"""),

    // Batch k-NN join (retrieval eval / hard-negative mining): exact top-5
    // corpus neighbours for each of 5 query vectors — one corpus scan,
    // two-phase partial top-k (shuffle carries k×partitions rows per query).
    Query("q53_knn_join", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.topKJoin(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // Per-query exact top-k: selection by unrounded sim (ties by vec_id),
      // presented rounded; rank is the per-query row_number.
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         s AS (
           SELECT q.query_id, e.vec_id,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (e.vn * q.qn)
             ELSE 0.0 END AS sim
           FROM e CROSS JOIN q),
         r AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // IVF-probed k-NN join: the scale path for query sets too big to
    // broadcast — only the nlist-bounded centroid set broadcasts (query
    // routing), and the routed queries join the assignment on centroid_id
    // (never a BroadcastNestedLoopJoin of the corpus side). Same
    // deterministic index build as q20, so the oracle reproduces
    // routing + probe + dedupe + ranking exactly.
    Query("q72_ivf_knn_join", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val assigned = Checkpoints.pin(
        Similarity.ivfAssign(emb, "vec_id", "embedding", nlist = 32))
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.topKJoinIvf(assigned, centroids, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 4)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // IVF k-NN join reproduction: same index CTEs as q20, per-query
      // top-nprobe routing (ties by centroid_id), candidate dedupe by
      // (query, vector) max, per-query row_number ranking by unrounded sim
      // with ties by vec_id — identical arithmetic to topKJoinIvf.
      s"""WITH $ivfAssignCtes,
         qs AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         routed AS (
           SELECT query_id, qv, qn, centroid_id FROM (
             SELECT qs.query_id, qs.qv, qs.qn, c.centroid_id,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 (CASE WHEN qs.qn * c.cn > 0 THEN
                    list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qs.qv[i] AS DOUBLE))) / (qs.qn * c.cn)
                  ELSE 0.0 END) DESC, c.centroid_id) AS r
             FROM qs CROSS JOIN c)
           WHERE r <= 4),
         cand AS (
           SELECT rt.query_id, a.vec_id,
             max(CASE WHEN rt.qn * a.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(rt.qv[i] AS DOUBLE))) / (rt.qn * a.vn)
             ELSE 0.0 END) AS sim
           FROM assigned a JOIN routed rt USING (centroid_id)
           GROUP BY rt.query_id, a.vec_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           FROM cand)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // Semantic (embedding-cosine) dedup end-to-end: IVF-celled cosine
    // pairs (q47) → connected components (q51's operator) → kept vector
    // list. The SemDeDup shape: candidate generation is cell-bounded
    // (never all-pairs), clustering is edge-sized, and the deliverable is
    // the surviving corpus — all three stages one composed plan.
    Query("q73_semantic_dedup_keep", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.ivfCellNearNeighbors(emb, "vec_id", "embedding",
        nlist = 32, threshold = 0.3)
      Dedup.keepList(emb.select("vec_id"), "vec_id",
          Dedup.duplicateClusters(pairs))
        .orderBy("vec_id")
    },
      // Semantic dedup reproduction: q47's cell-bounded cosine pairs feed
      // the q51 recursive closure; kept vectors are the non-dropped ids.
      s"""WITH RECURSIVE $ivfAssignCtes,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
           WHERE (CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END) >= 0.3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         ORDER BY vec_id"""),

    // PQ/ADC approximate k-NN: 8-subspace × exactly-16-codeword product
    // quantization (codebook = the 16 smallest-(md5, id) vectors — a
    // configuration constant at any corpus size), packed-long codes, ADC
    // candidate scan (per-row table-lookup sum — no vector bytes), exact
    // cosine re-rank of the top 20 per query. The full two-stage PQ search
    // re-derived in SQL by the oracle.
    Query("q99_pq_adc_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8,
        targetKs = 16)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      Similarity.pqTopK(enc, emb, "vec_id", "embedding", cb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // The full PQ/ADC pipeline re-derived: md5-sampled codebook rows
      // (code ids = ascending sampled-id positions), per-subspace argmin-L2
      // encoding, per-query distance tables, j-ordered list_sum ADC
      // distances (bit-matching the packed-code expression's sequential
      // sum), top-20 shortlist by (adist, id), exact-cosine re-rank to 5.
      """WITH cbsrc AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, embedding
           FROM (SELECT vec_id, embedding FROM embeddings
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                 LIMIT 16) t),
         cb AS (
           SELECT j, code_id,
             list_transform(embedding[j*8+1 : j*8+8],
               x -> CAST(x AS DOUBLE)) AS sub
           FROM cbsrc CROSS JOIN range(0, 8) r(j)),
         vsub AS (
           SELECT vec_id, j,
             list_transform(embedding[j*8+1 : j*8+8],
               x -> CAST(x AS DOUBLE)) AS sub
           FROM embeddings CROSS JOIN range(0, 8) r(j)),
         enc1 AS (
           SELECT vec_id, j, code_id FROM (
             SELECT v.vec_id, v.j, c.code_id,
               row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
                 list_sum(list_transform(range(1, 9),
                   t -> (v.sub[t] - c.sub[t]) * (v.sub[t] - c.sub[t]))),
                 c.code_id) AS r
             FROM vsub v JOIN cb c USING (j))
           WHERE r = 1),
         encl AS (
           SELECT vec_id, list(code_id ORDER BY j) AS codes
           FROM enc1 GROUP BY vec_id),
         qsub AS (SELECT vec_id AS query_id, j, sub FROM vsub WHERE vec_id < 5),
         qd AS (
           SELECT q.query_id, q.j, c.code_id,
             list_sum(list_transform(range(1, 9),
               t -> (q.sub[t] - c.sub[t]) * (q.sub[t] - c.sub[t]))) AS d
           FROM qsub q JOIN cb c USING (j)),
         qtab AS (
           SELECT query_id, j, list(d ORDER BY code_id) AS tab
           FROM qd GROUP BY query_id, j),
         qtabs AS (
           SELECT query_id, list(tab ORDER BY j) AS tabs
           FROM qtab GROUP BY query_id),
         cand AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adist, vec_id) AS r
           FROM (SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, 9),
                     j -> q.tabs[j][e.codes[j] + 1])) AS adist
                 FROM encl e CROSS JOIN qtabs q)),
         short AS (SELECT query_id, vec_id FROM cand WHERE r <= 20),
         scored AS (
           SELECT query_id, vec_id,
             CASE WHEN en * qn > 0 THEN dp / (en * qn) ELSE 0.0 END AS sim
           FROM (
             SELECT sh.query_id, sh.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) *
                      CAST(q.embedding[i] AS DOUBLE))) AS dp,
               sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en,
               sqrt(list_sum(list_transform(q.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
             FROM short sh
               JOIN embeddings e ON sh.vec_id = e.vec_id
               JOIN embeddings q ON sh.query_id = q.vec_id)),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // Matryoshka prefix-dim retrieval: candidates by cosine over the first
    // 16 of 64 components (4× fewer bytes scanned per vector), exact
    // full-dim re-rank of the top 20 — the MRL-style two-stage search,
    // fully re-derived in SQL by the oracle.
    Query("q100_prefix_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.prefixTopKJoin(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          prefixDim = 16, k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // Matryoshka two-stage search: prefix-16 cosine shortlist of 20 by
      // (prefix sim desc, id), then exact full-dim cosine re-rank to 5.
      """WITH pre AS (
           SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS pv
           FROM embeddings),
         pren AS (
           SELECT vec_id, pv,
             sqrt(list_sum(list_transform(pv, x -> x * x))) AS pn
           FROM pre),
         q AS (SELECT vec_id AS query_id, pv AS qpv, pn AS qpn
           FROM pren WHERE vec_id < 5),
         cand AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY psim DESC, vec_id) AS r
           FROM (SELECT q.query_id, v.vec_id,
                   CASE WHEN v.pn * q.qpn > 0 THEN
                     list_sum(list_transform(range(1, 17),
                       i -> v.pv[i] * q.qpv[i])) / (v.pn * q.qpn)
                   ELSE 0.0 END AS psim
                 FROM pren v CROSS JOIN q)),
         short AS (SELECT query_id, vec_id FROM cand WHERE r <= 20),
         scored AS (
           SELECT query_id, vec_id,
             CASE WHEN en * qn > 0 THEN dp / (en * qn) ELSE 0.0 END AS sim
           FROM (
             SELECT sh.query_id, sh.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) *
                      CAST(qe.embedding[i] AS DOUBLE))) AS dp,
               sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en,
               sqrt(list_sum(list_transform(qe.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
             FROM short sh
               JOIN embeddings e ON sh.vec_id = e.vec_id
               JOIN embeddings qe ON sh.query_id = qe.vec_id)),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // Hard-negative mining for contrastive training: per query, the top-5
    // most-similar vectors with a DIFFERENT label — the mismatch filter
    // runs in the scan stage, before the bounded top-k.
    Query("q106_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("vec_id"), col("label"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // q53's exact ranking restricted to label-mismatched candidates.
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id, embedding, label,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         s AS (
           SELECT q.query_id, e.vec_id, CAST(e.label AS BIGINT) AS label,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (e.vn * q.qn)
             ELSE 0.0 END AS sim
           FROM e CROSS JOIN q WHERE e.label IS DISTINCT FROM q.qlabel),
         r AS (
           SELECT query_id, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, vec_id, label, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // Scalar (int8) quantization two-stage k-NN: per-dimension min/max
    // codes, midpoint-reconstructed approximate cosine candidates, exact
    // re-rank — the middle rung between raw float32 and q99's PQ.
    Query("q108_sq8_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = Similarity.sqParams(emb, "embedding")
      val enc = Similarity.sqEncode(emb, "vec_id", "embedding", p)
      Similarity.sqTopK(enc, emb, "vec_id", "embedding", p,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // Scalar-quantization search re-derived: per-dim min/max, floor-bucket
      // int8 codes, midpoint reconstruction, approximate-cosine shortlist of
      // 20, exact cosine re-rank — every stage the same IEEE double
      // expression as the Spark plan.
      """WITH p AS (SELECT j,
             min(CAST(embedding[j] AS DOUBLE)) AS mn,
             max(CAST(embedding[j] AS DOUBLE)) AS mx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS j) r GROUP BY j),
         ps AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
           FROM p),
         enc AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               CAST(greatest(0.0, least(255.0,
                 floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                   / (mxs[i] - mns[i]) * 256.0))) AS INT)
             ELSE 0 END) AS sq
           FROM embeddings, ps),
         rec AS (SELECT vec_id, list_transform(range(1, 65), i ->
             mns[i] + (CAST(sq[i] AS DOUBLE) + 0.5) * (mxs[i] - mns[i]) / 256.0)
             AS rv
           FROM enc, ps),
         rn AS (SELECT vec_id, rv,
             sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnorm FROM rec),
         q AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         approx AS (SELECT q.query_id, r.vec_id,
             CASE WHEN r.rnorm * q.qn > 0 THEN
               list_sum(list_transform(range(1, 65),
                 i -> r.rv[i] * CAST(q.qv[i] AS DOUBLE))) / (r.rnorm * q.qn)
             ELSE 0.0 END AS asim
           FROM rn r CROSS JOIN q),
         shortlist AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY asim DESC, vec_id) AS rr FROM approx) WHERE rr <= 20),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         fin AS (SELECT s.query_id, s.vec_id,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (e.vn * q.qn)
             ELSE 0.0 END AS cosine_sim
           FROM shortlist s JOIN e USING (vec_id) JOIN q USING (query_id)),
         r2 AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id) AS rank
           FROM fin)
         SELECT query_id, vec_id, round(cosine_sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r2 WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // IVF + int8 SQ composed index (the FAISS IVF32,SQ8 shape): route to
    // 4 of 32 cells, scan only probed cells' codes, shortlist 20 by
    // reconstruction cosine, exact re-rank to top-5. The oracle composes
    // q72's assignment chain with q108's quantization chain.
    Query("q114_ivf_sq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = Similarity.sqParams(emb, "embedding")
      val index = Similarity.ivfSqIndex(emb, "vec_id", "embedding",
        nlist = 32, p)
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.ivfSqTopK(index, centroids, emb, "vec_id", "embedding", p,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nprobe = 4, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    },
      // q72's IVF assignment chain composed with q108's SQ chain: routed
      // queries scan only probed cells' reconstructed codes, shortlist 20,
      // exact re-rank to 5.
      s"""WITH $ivfAssignCtes,
         p AS (SELECT j,
             min(CAST(embedding[j] AS DOUBLE)) AS mn,
             max(CAST(embedding[j] AS DOUBLE)) AS mx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS j) r GROUP BY j),
         ps AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
           FROM p),
         enc AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               CAST(greatest(0.0, least(255.0,
                 floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                   / (mxs[i] - mns[i]) * 256.0))) AS INT)
             ELSE 0 END) AS sq
           FROM embeddings, ps),
         rec AS (SELECT vec_id, list_transform(range(1, 65), i ->
             mns[i] + (CAST(sq[i] AS DOUBLE) + 0.5) * (mxs[i] - mns[i]) / 256.0)
             AS rv
           FROM enc, ps),
         rn AS (SELECT vec_id, rv,
             sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnorm FROM rec),
         qs AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         routed AS (
           SELECT query_id, qv, qn, centroid_id FROM (
             SELECT qs.query_id, qs.qv, qs.qn, c.centroid_id,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 (CASE WHEN qs.qn * c.cn > 0 THEN
                    list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qs.qv[i] AS DOUBLE))) / (qs.qn * c.cn)
                  ELSE 0.0 END) DESC, c.centroid_id) AS r
             FROM qs CROSS JOIN c)
           WHERE r <= 4),
         approx AS (
           SELECT rt.query_id, a.vec_id,
             max(CASE WHEN rt.qn * rn.rnorm > 0 THEN
               list_sum(list_transform(range(1, 65),
                 i -> rn.rv[i] * CAST(rt.qv[i] AS DOUBLE))) / (rt.qn * rn.rnorm)
             ELSE 0.0 END) AS asim
           FROM assigned a
           JOIN routed rt USING (centroid_id)
           JOIN rn USING (vec_id)
           GROUP BY rt.query_id, a.vec_id),
         shortlist AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY asim DESC, vec_id) AS rr FROM approx) WHERE rr <= 20),
         fin AS (SELECT s.query_id, s.vec_id,
             CASE WHEN v.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(v.embedding) + 1),
                 i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (v.vn * q.qn)
             ELSE 0.0 END AS cosine_sim
           FROM shortlist s JOIN v USING (vec_id) JOIN qs q USING (query_id)),
         r2 AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id) AS rank
           FROM fin)
         SELECT query_id, vec_id, round(cosine_sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r2 WHERE rank <= 5
         ORDER BY query_id, rank"""),

    // IVF index maintenance signal: per-cell member count + angular
    // displacement (integer ppm of cosine distance) between each PINNED
    // centroid and its cell's current member mean — the drift report
    // that tells a streaming-grown index (q82) when its build-time
    // geometry no longer fits and ivfRecluster should run. Member means
    // quantize per-dimension to integer micro-units BEFORE summing, so
    // the corpus-order fold is exact in both engines; centroid set is
    // q82's own (hash-sampled, 32 target cells).
    Query("q149_ivf_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        nlist = 32)
      Similarity.ivfDriftReport(assigned, centroids, "embedding")
        .orderBy("centroid_id")
    },
      // Drift report over q82's assignment: per-dim member sums quantized
      // to integer micro-units first (floor(v*1e6) as BIGINT — the
      // corpus-order fold is exact), then one fixed-order dot/norm per
      // cell against the pinned centroid, 1-ppm grid.
      s"""WITH $ivfAssignCtes,
         mexp AS (SELECT centroid_id,
                         unnest(range(1, len(embedding) + 1)) AS i,
                         embedding
                  FROM assigned),
         mq AS (SELECT centroid_id, CAST(i AS INTEGER) AS i,
                  CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * 1000000) AS BIGINT) AS q
                FROM mexp),
         msum AS (SELECT centroid_id, i, CAST(sum(q) AS BIGINT) AS s
                  FROM mq GROUP BY centroid_id, i),
         mvec AS (SELECT centroid_id, list(CAST(s AS DOUBLE) ORDER BY i)
                    AS svec
                  FROM msum GROUP BY centroid_id),
         cnt AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members
                 FROM assigned GROUP BY centroid_id)
         SELECT c.centroid_id,
                coalesce(cnt.n_members, 0) AS n_members,
                CASE WHEN mvec.svec IS NOT NULL
                       AND c.cn * sqrt(list_sum(list_transform(mvec.svec,
                             x -> x * x))) > 0
                  THEN CAST(floor((1 - list_sum(list_transform(
                         range(1, len(c.cvec) + 1),
                         j -> CAST(c.cvec[j] AS DOUBLE) * mvec.svec[j]))
                       / (c.cn * sqrt(list_sum(list_transform(mvec.svec,
                            x -> x * x))))) * 1000000 + 0.5) AS BIGINT)
                END AS drift_ppm
         FROM c LEFT JOIN cnt USING (centroid_id)
                LEFT JOIN mvec USING (centroid_id)
         ORDER BY centroid_id"""))

  /** The exact seeded hyperplanes q21 buckets with (dim 64, seed 42),
    * rendered as DuckDB VALUES rows of (plane index, DOUBLE[] literal) —
    * Double.toString round-trips bit-exactly through DuckDB's parser.
    * All 16 possible planes are emitted; because seeded hyperplanes for a
    * smaller bit count are a prefix of those for a larger one, the oracle
    * filters to `pi < nbits` with nbits computed from the corpus count by
    * the same integer formula as [[Similarity.lshBitsFor]].
    */
  private val lshPlaneValues: String =
    Similarity.hyperplanes(dim = 64, bits = 16, seed = 42L).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n           ")
}
