package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.TextFunctions.tokens

/** Keyword retrieval over a document corpus — the sparse (lexical) half of
  * a retrieval stack next to [[Similarity]]'s dense half. BM25 is the
  * scoring function every production keyword index (Lucene, Elasticsearch,
  * Tantivy) defaults to; here it is one declarative plan over the corpus,
  * so it runs where the data already lives instead of round-tripping
  * through an external search cluster.
  */
object Retrieval {

  /** BM25 top-k documents per query.
    *
    * Scoring follows the Lucene form: for each query term t present in
    * doc d, `idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`
    * with `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))` (never negative),
    * summed over the query's DISTINCT terms. Ties in the final ranking
    * break by ascending doc id on the 6-dp-rounded score, so the ranking
    * is reproducible across engines.
    *
    * Scale shape: ONE corpus scan, which shuffles nothing corpus-sized.
    * The scan tokenizes each doc once and posexplodes its DISTINCT
    * query-matched terms, each carrying a row-locally computed occurrence
    * count; that (doc, dl, pos, term, tf) frame — docs × query-vocab
    * bounded, the full corpus vocabulary never materializes — persists
    * and feeds BOTH the statistics aggregate (≤ |query vocabulary| + 1
    * groups; map-side partials make the shuffle a few rows per partition)
    * and the scoring join, so the tokenize+filter+explode work runs once
    * instead of once per pass and the scoring side's (doc, term) tf
    * aggregation exchange disappears.
    * The scoring join broadcasts the (query, term, idf) table; the corpus
    * side never shuffles on the skewed term key. Per-(query, doc) partial
    * scores fold over the term-sorted list (float sums add in identical
    * order on any engine and partitioning), and the per-query top-k is the
    * O(k)-state bounded `CollectTopK` aggregate — executor memory is
    * O(k × queries) at any corpus size.
    *
    * CONTRACTS (ADVICE r16): (1) `idCol` must be UNIQUE per document —
    * the ranking/tie-break semantics already assume it, and the fused
    * per-row tf means duplicate-id rows contribute separate (then summed)
    * per-term scores rather than one merged tf. (2) The fused corpus pass
    * PINS one row per (doc, matched term) — matchless docs included —
    * for the lifetime of the returned frame.
    *
    * Returns (query_id, idCol, score, rank ≤ k).
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Similarity.requireQuerySideBounded(queries, "bm25TopK",
      "chunk the query set and union bounded bm25TopK calls (the corpus " +
        "side already streams; only the query vocabulary collects)")
    val spark = docs.sparkSession
    // Tokenization is the expensive per-row work here.
    val spread = Skew.spreadIfUnderSplit(docs.select(col(idCol), col(textCol)), col(idCol))
    // The query VOCABULARY collects to the driver: it is query-set-sized
    // by the same contract that lets the scoring join broadcast it
    // (queries ≪ corpus). Bounded by construction, like the IVF centroid
    // collect. Only term STRINGS collect — query ids stay in the plan, so
    // any id type (long, string, UUID) works unchanged.
    val qterms = queries
      .select(col(qIdCol).as("query_id"),
        explode(array_distinct(tokens(col(qTextCol)))).as("__t"))
    // Secondary bound on the collected vocabulary itself (a few huge
    // query documents can blow past what the row cap implies): it is
    // broadcast into two corpus-side filters below. A blown vocabulary
    // never reaches the driver — at most cap + 1 rows land before the
    // require below rejects the call.
    val vocabCap = DriverCollect.cap(spark, "spark.graft.maxQueryVocab",
      1000000L, "a vocabulary that large cannot be broadcast anyway; set " +
        "<= 0 to disable the check instead")
    val collected = DriverCollect.upTo(qterms.select("__t").distinct(), vocabCap)
    require(collected.isDefined,
      s"bm25TopK: the query vocabulary (${vocabCap + 1} distinct terms) " +
        s"exceeds spark.graft.maxQueryVocab=$vocabCap; it is broadcast " +
        "into every corpus task. Chunk the query set into bounded " +
        "bm25TopK calls or raise spark.graft.maxQueryVocab.")
    val qtermSet = collected.get.map(_.getString(0)).toSeq
    // ONE corpus pass shared by statistics and scoring (the stats collect
    // and the scoring join are separate actions whose exchanges cannot be
    // reused across jobs, so before this fusion the corpus was tokenized,
    // filtered and exploded TWICE — the second pass pure recompute — and
    // the scoring side additionally paid a (doc, term) exchange to turn
    // occurrences into tf counts). Per doc, ONE row-local expression
    // builds the DISTINCT matched terms each with its occurrence count
    // (O(occurrences × distinct matched terms) per doc — query-length
    // bounded); posexplode_outer keeps matchless docs (their length still
    // counts toward avgdl) and pins each doc's __dl to its FIRST emitted
    // row (__p null for matchless docs, __p = 0 for the first matched
    // term), so Σ __tok across groups ≡ Σ dl and the first-row count ≡ N
    // — no extra corpus scan for either (docs.count() would re-execute
    // the whole upstream plan, including q121's documents-embeddings
    // join, just for one number). The pinned frame is docs ×
    // query-vocab bounded — the same size class the scoring aggregate
    // shuffles anyway.
    // ONE tokenize per doc: the token array and the matched-term array
    // each materialize in their own projection (CollapseProject keeps a
    // non-cheap expression referenced more than once out-of-line, so the
    // split/filter work is NOT re-inlined into every consumer); dl,
    // distinct matched terms and per-term tf all derive from those
    // arrays. The pre-fusion shape tokenized every doc four times —
    // tokenCount + filtered explode, in each of the two corpus passes.
    val toks = spread.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val withM = toks.select(col(idCol),
      // == tokenCount(text): size of the full token array (int, 0 for
      // null/empty), without re-splitting the text
      coalesce(size(col("__toks")), lit(0)).as("__dl"),
      filter(col("__toks"), t => t.isInCollection(qtermSet)).as("__mt"))
    val exploded = Checkpoints.pin(withM.select(col(idCol), col("__dl"),
        posexplode_outer(transform(array_distinct(col("__mt")),
          t => struct(t.as("t"),
            size(filter(col("__mt"), x => x === t)).cast("long").as("tf"))))
          .as(Seq("__p", "__m")))
      .select(col(idCol), col("__dl"), col("__p"),
        col("__m.t").as("__t"), col("__m.tf").as("__tf")))
    // Corpus statistics in ONE narrow aggregate with ≤ |query vocabulary|
    // + 1 groups; map-side partials collapse every partition to ≤ |qvocab|
    // + 1 rows before the shuffle. Each (doc, term) appears exactly once
    // (the explode list is distinct terms), so count(1) is df.
    val statRows = exploded
      .groupBy(col("__t").as("__qt"))
      .agg(count(lit(1)).cast("double").as("__df"),
        sum(when(col("__p").isNull || col("__p") === 0, col("__dl"))
          .otherwise(lit(0L))).as("__tok"),
        sum(when(col("__p").isNull || col("__p") === 0, lit(1L))
          .otherwise(lit(0L))).as("__nd"))
      .collect()
    val dfByTerm = statRows.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val n = statRows.map(r => if (r.isNullAt(3)) 0L else r.getLong(3))
      .sum.toDouble
    val avgdl = statRows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2))
      .sum.toDouble / n
    // Scoring term table: (doc, matched term, tf, dl) off the SAME
    // persisted pass — tf was computed row-locally in the scan, so the
    // pre-fusion (doc, term) aggregation exchange is gone entirely; the
    // first shuffle the scoring side pays is the (query, doc) fold.
    val terms = exploded.filter(col("__t").isNotNull)
      .select(col(idCol), col("__t"), col("__tf"), col("__dl"))
    // (query, term, df): the query-side frame joined to the LOCAL df
    // table — idf still evaluates inside the plan with the same log()
    // expression as before, so the numeric path the oracle replays is
    // unchanged.
    import spark.implicits._
    val qidf = qterms
      .join(broadcast(dfByTerm.toSeq.toDF("__t", "__df")), Seq("__t"))
      .select(col("query_id"), col("__t"),
        log(lit(1.0) + (lit(n) - col("__df") + 0.5) / (col("__df") + 0.5))
          .as("__idf"),
        lit(avgdl).as("__avgdl"))
    val contrib = terms.join(broadcast(qidf), Seq("__t"))
      .select(col("query_id"), col(idCol), col("__t"),
        (col("__idf") * (col("__tf") * (k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1.0) - b +
            lit(b) * col("__dl").cast("double") / col("__avgdl"))))
          .as("__s"))
    // Fold the per-term contributions over the term-sorted list: the float
    // sum adds identical terms in identical order on any engine/partition
    // layout (the q86 portability pattern). Matched-term lists are bounded
    // by the query length.
    val scored = contrib
      .groupBy(col("query_id"), col(idCol))
      .agg(sort_array(collect_list(struct(col("__t"), col("__s")))).as("__ts"))
      .select(col("query_id"), col(idCol),
        round(aggregate(col("__ts"), lit(0.0),
          (acc, x) => acc + x.getField("__s")), 6).as("score"))
    topKEmit(scored, "score", idCol, k)
  }

  /** Shared per-query top-k emission: bounded `CollectTopK` over the
    * (negated score, id) struct, re-sorted and position-exploded to
    * (query_id, id, score, rank). ONE definition for [[bm25TopK]] and
    * [[rrfFuse]] so their ranking/tie-break semantics cannot drift; the
    * id keeps its source type (no silent numeric cast — string/UUID ids
    * rank fine under the struct's natural ordering).
    */
  private def topKEmit(scored: DataFrame, scoreCol: String, idCol: String,
      k: Int): DataFrame = {
    val item = struct((-col(scoreCol)).as("negscore"), col(idCol).as("did"))
    scored.groupBy("query_id")
      .agg(array_sort(ColumnBridge.collectTopK(item, k, reverse = true))
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__x")))
      .select(col("query_id"), col("__x.did").as(idCol),
        (-col("__x.negscore")).as(scoreCol),
        (col("__i") + 1).cast("long").as("rank"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: each input ranking
    * contributes `1 / (rrfK + rank)` for every (query, doc) it ranked,
    * fused score = the sum, final ranking by (score desc, id asc). Rank
    * positions are all that transfer, so BM25 scores and cosine
    * similarities never need calibration against each other — the reason
    * RRF is the default fusion in production hybrid search.
    *
    * Each ranking arrives as a (tag, DataFrame) with (query_id, idCol,
    * rank) columns; tags must be unique (they order the contribution sum).
    * Determinism: `1/(rrfK + rank)` is one IEEE division of exact
    * integers-as-doubles, contributions fold over the tag-sorted list
    * (identical add order on any engine/partitioning — the q86 pattern),
    * and the fused score publishes at 6 dp.
    *
    * Scale shape: one union of the (already small, ≤ k×queries-row)
    * ranking frames, one hash aggregate on (query, id), and the per-query
    * top-k is the O(k)-state bounded `CollectTopK` aggregate.
    */
  def rrfFuse(
      rankings: Seq[(String, DataFrame)],
      idCol: String,
      k: Int,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rankings.map(_._1).distinct.length == rankings.length,
      "ranking tags must be unique")
    require(k >= 1, s"k must be >= 1, got $k")
    val tagged = rankings.map { case (tag, df) =>
      df.select(col("query_id"), col(idCol), lit(tag).as("__src"),
        (lit(1.0) / (lit(rrfK).cast("double") + col("rank").cast("double")))
          .as("__c"))
    }.reduce(_ unionByName _)
    val scored = tagged
      .groupBy(col("query_id"), col(idCol))
      .agg(sort_array(collect_list(struct(col("__src"), col("__c")))).as("__cs"))
      .select(col("query_id"), col(idCol),
        round(aggregate(col("__cs"), lit(0.0),
          (acc, x) => acc + x.getField("__c")), 6).as("rrf_score"))
    topKEmit(scored, "rrf_score", idCol, k)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): per query, greedily select `k` of the top-`m` cosine candidates
    * maximizing `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the
    * diversity-aware final stage of a retrieval stack, so near-duplicate
    * hits don't crowd out the result page (or the RAG context window).
    *
    * Determinism/portability: vectors pre-normalize to unit length (one
    * IEEE division per component — exact-rounded, engine-identical), every
    * relevance/pairwise similarity/MMR score rounds to 6 dp before any
    * comparison, and ties break by ascending id — so an external engine
    * replaying the greedy loop selects the identical sequence. Pass a `λ`
    * whose `1−λ` is decimal-exact in binary (0.5, 0.25, 0.75) when an
    * external oracle must reproduce scores: `1−0.7` is
    * `0.30000000000000004` in IEEE, not any engine's literal `0.3`.
    *
    * Scale shape: relevance is the [[Similarity]] brute-force scan against
    * the BROADCAST query set; the per-query top-m shortlist is the
    * O(m)-state bounded `CollectTopK` aggregate (map-side partials
    * included) carrying each candidate's unit vector; the greedy loop then
    * runs as ONE row-local higher-order expression over the m-element
    * array — k×m score evaluations per query row, never a join. Executor
    * state is O(m × dim) per query at any corpus size.
    *
    * Returns (query_id, idCol, cosine_sim, mmr_score, mmr_rank ≤ k).
    */
  def mmrRerank(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      m: Int,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= k, s"m must be >= k ($k), got $m")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0, 1], got $lambda")
    Similarity.requireQuerySideBounded(queries, "mmrRerank",
      "topKJoinIvf for the candidate recall, then mmrRerank per bounded " +
        "query chunk")
    import graft.ops.Similarity.{dot, norm}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(Seq[org.apache.spark.sql.types.DataType](IntegerType, LongType)
        .contains(embeddings.schema(idCol).dataType),
      s"mmrRerank requires an integral id column (the greedy tie-break " +
        s"negates ids); got ${embeddings.schema(idCol).dataType} — " +
        "derive a numeric surrogate id first")
    def unit(v: Column): Column = {
      val n = norm(v)
      when(n > 0, transform(v, x => x.cast("double") / n))
        .otherwise(transform(v, _ => lit(0.0)))
    }
    // NULL vectors are excluded on BOTH sides: unit(NULL) is NULL, the
    // dot then nulls __rel, and NULL negrel sorts FIRST in the shortlist
    // struct ordering — null-vector docs would preferentially displace
    // real candidates from the top-m (topKJoin guards the same case)
    val e = embeddings.select(col(idCol).cast("long").as("__id"),
      unit(col(vecCol)).as("__uv")) // integral by the require above
      .filter(col("__uv").isNotNull)
    val q = queries.select(col(qIdCol).as("query_id"),
      unit(col(qVecCol)).as("__quv"))
      .filter(col("__quv").isNotNull)
    val scored = e.crossJoin(broadcast(q))
      .select(col("query_id"), col("__id"),
        round(dot(col("__uv"), col("__quv")), 6).as("__rel"), col("__uv"))
    val item = struct((-col("__rel")).as("negrel"), col("__id").as("id"),
      col("__uv").as("uv"))
    val cands = scored.groupBy("query_id")
      .agg(transform(
        array_sort(ColumnBridge.collectTopK(item, m, reverse = true)),
        t => struct(t.getField("id").as("id"), (-t.getField("negrel")).as("rel"),
          t.getField("uv").as("uv"))).as("__cands"))
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0) - lam
    // Greedy selection as a left fold over k steps. The accumulator
    // carries BOTH the picks and the remaining candidates, each candidate
    // holding its RUNNING max-similarity to the picks so far — so each
    // step dots every remaining candidate against only the NEWEST pick:
    // O(k·m) dot products per query, where re-deriving max-sim against
    // the whole pick list each step (the first formulation) was O(k²·m).
    // Value-identical: the running max over rounded dots equals the
    // array_max over the same rounded dots (max is order-insensitive;
    // `greatest` skips the NULL initial, and scoring coalesces a
    // never-updated NULL to the same 0.0 the empty-pick-list case used).
    // Ties still break to the lowest id via the negid struct field; a
    // query with fewer than k candidates stops growing.
    val emptySel = array().cast(
      "array<struct<id:bigint,rel:double,score:double,uv:array<double>>>")
    val acc0 = struct(
      emptySel.as("sel"),
      transform(col("__cands"), c => struct(
        c.getField("id").as("id"), c.getField("rel").as("rel"),
        c.getField("uv").as("uv"),
        lit(null).cast("double").as("msim"))).as("rem"))
    val stepped = aggregate(
      sequence(lit(1), lit(k)),
      acc0,
      (acc, _) => {
        val rem = acc.getField("rem")
        val withScore = transform(rem, c => {
          val score = round(lam * c.getField("rel") -
            oneMinusLam * coalesce(c.getField("msim"), lit(0.0)), 6)
          struct(score.as("score"), (-c.getField("id")).as("negid"), c.as("c"))
        })
        val best = array_max(withScore)
        val picked = best.getField("c")
        val newSel = concat(acc.getField("sel"), array(struct(
          picked.getField("id").as("id"),
          picked.getField("rel").as("rel"),
          best.getField("score").as("score"),
          picked.getField("uv").as("uv"))))
        val newRem = transform(
          filter(rem, c => c.getField("id") =!= picked.getField("id")),
          c => struct(
            c.getField("id").as("id"), c.getField("rel").as("rel"),
            c.getField("uv").as("uv"),
            greatest(c.getField("msim"),
              round(dot(c.getField("uv"), picked.getField("uv")), 6))
              .as("msim")))
        when(size(rem) > 0,
          struct(newSel.as("sel"), newRem.as("rem"))).otherwise(acc)
      })
    cands
      .select(col("query_id"),
        posexplode(stepped.getField("sel")).as(Seq("__i", "__s")))
      .select(col("query_id"),
        // cast back to the SOURCE id type (lossless: the require admits
        // only integral ids) — topKEmit's no-silent-widening contract
        col("__s.id").cast(embeddings.schema(idCol).dataType).as(idCol),
        col("__s.rel").as("cosine_sim"), col("__s.score").as("mmr_score"),
        (col("__i") + 1).cast("long").as("mmr_rank"))
  }

  /** Retrieval-quality evaluation: label-relevance nDCG@k of exact-cosine
    * retrieval over a labeled embedding corpus — the measured half of the
    * retrieval-tuning loop, next to [[graft.ops.Dedup.lshQualityReport]]'s
    * dedup-tuning sweep: before swapping in an approximate index (IVF, PQ,
    * LSH), record what EXACT dense retrieval scores on labeled data, then
    * hold the approximate variants to it.
    *
    * Relevance is binary label agreement: a retrieved item gains 1 iff it
    * carries the query's label. Queries are assumed drawn FROM the corpus
    * (the standard leave-one-in eval): the query itself is excluded from
    * its ranking and from `n_rel`. Per query:
    * `dcg = Σ_{r≤k} gain_r / log2(r+1)`, `idcg` the same sum over
    * `min(k, n_rel)` perfect gains, `ndcg = dcg/idcg` (NULL when the
    * query's label has no other members). Both folds run in rank order —
    * engine-portable float sums (the q84/q86 discipline).
    *
    * Scale shape: rides [[Similarity.topKJoin]] (broadcast query set,
    * bounded top-k aggregate, corpus never shuffles), then label lookup
    * joins the (queries × k)-row ranking as the BROADCAST side against
    * the corpus — one corpus scan, no corpus shuffle; label totals are a
    * label-cardinality-bounded aggregate.
    */
  def ndcgReport(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k+1 then drop the self-hit wherever it ranked and close the gap.
    val nbrs = Similarity.topKJoin(corpus, idCol, vecCol,
        queries, qIdCol, qVecCol, k + 1)
      .filter(col(idCol) =!= col("query_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val ranked = nbrs.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col(idCol), col("__r"))
    val qlab = queries.select(col(qIdCol).as("query_id"),
      col(labelCol).as("__ql"))
    val labCounts = corpus.groupBy(col(labelCol).as("__ql"))
      .agg(count(lit(1)).as("__nl"))
    val gained = corpus.select(col(idCol), col(labelCol).as("__dl"))
      .join(broadcast(ranked), Seq(idCol))
      .join(broadcast(qlab), Seq("query_id"))
      // coalesce: a NULL label (doc or query side) is a non-match, not a
      // NULL that poisons the rank-ordered dcg fold into NULLing the
      // whole query's score (sum skips nulls, the fold does not — hits
      // and dcg would silently disagree); SQL CASE in the oracle already
      // lands NULL = x in the ELSE 0 branch, so this aligns the engines
      .withColumn("__g",
        coalesce((col("__dl") === col("__ql")).cast("long"), lit(0L)))
    gained
      .groupBy(col("query_id"), col("__ql"))
      .agg(sum("__g").as("hits"),
        sort_array(collect_list(struct(col("__r"), col("__g")))).as("rg"))
      .join(broadcast(labCounts), Seq("__ql"), "left")
      .withColumn("n_rel", coalesce(col("__nl"), lit(1L)) - 1)
      .withColumn("__dcg", aggregate(col("rg"), lit(0.0), (acc, x) =>
        acc + x.getField("__g").cast("double") /
          log2(x.getField("__r").cast("double") + 1)))
      .withColumn("__idcg",
        when(least(lit(k.toLong), col("n_rel")) > 0,
          aggregate(sequence(lit(1L), least(lit(k.toLong), col("n_rel"))),
            lit(0.0), (acc, r) => acc + lit(1.0) / log2(r.cast("double") + 1)))
          .otherwise(lit(0.0)))
      .select(col("query_id"), col("n_rel"), col("hits"),
        round(col("__dcg"), 6).as("dcg"), round(col("__idcg"), 6).as("idcg"),
        when(col("__idcg") > 0, round(col("__dcg") / col("__idcg"), 6))
          .as("ndcg"))
  }
}
