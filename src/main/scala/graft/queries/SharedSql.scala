package graft.queries

/** DuckDB fragments that the oracles of more than one family share. */
private[queries] object SharedSql {

  /** DuckDB token list matching TextFunctions.tokens. */
  val toks =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)"""

  /** Shared oracle CTE prefix reproducing the MinHash banding (t → shingle
    * sets → 8-hash signatures → 4 band buckets); [[minhashVerifiedCtes]]
    * appends the self-join candidates + Jaccard verification, q78 appends
    * the cross-corpus candidate restriction instead.
    */
  lazy val minhashBandedCtes: String = minhashBandedCtesFrom("documents")

  /** [[minhashBandedCtes]] over an arbitrary source relation carrying
    * (doc_id, text) — q120 bands an updated snapshot CTE instead of the
    * base table.
    */
  def minhashBandedCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id, $toks AS tk FROM $src),
         s AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(tk) - 3 + 2),
                   i -> array_to_string(tk[i:i+2], ' '))) AS sh
               FROM t WHERE len(tk) >= 3),
         sig AS (SELECT doc_id, sh,
             [list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('4:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('5:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('6:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('7:' || x)), 'min')] AS sg
           FROM s),
         banded AS (
           SELECT doc_id, sh, b.band,
                  sg[b.band * 2 + 1] || '|' || sg[b.band * 2 + 2] AS band_sig
           FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b)"""

  lazy val minhashVerifiedCtes: String =
    s"""$minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
         verified AS (
           SELECT c.id_a, c.id_b,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.id_a
           JOIN s sb ON sb.doc_id = c.id_b)"""

  /** Shared oracle CTE chain reproducing the deterministic IVF index build
    * (q20 probe / q47 cell pairs): hash-sampled centroids at nlist=32
    * ([[graft.ops.Similarity.sampleThreshold]] arithmetic), per-vector norms,
    * nearest-centroid assignment with ties by centroid_id.
    */
  val ivfAssignCtes: String =
    """c AS (SELECT vec_id AS centroid_id, embedding AS cvec,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
           FROM embeddings
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 3) <
             (SELECT lpad(to_hex(CAST(least(4095, greatest(1,
                round(32 * 4096.0 / count(*)))) AS BIGINT)), 3, '0')
              FROM embeddings)),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         scored AS (
           SELECT v.vec_id, v.embedding, v.vn, c.centroid_id,
             CASE WHEN v.vn * c.cn > 0 THEN
               list_sum(list_transform(range(1, len(v.embedding) + 1),
                 i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) / (v.vn * c.cn)
             ELSE 0.0 END AS sim
           FROM v CROSS JOIN c),
         assigned AS (
           SELECT vec_id, embedding, vn, centroid_id
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, centroid_id) AS r FROM scored)
           WHERE r = 1)"""
}
