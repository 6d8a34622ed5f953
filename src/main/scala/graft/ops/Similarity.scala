package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.VecDot

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one pass, no shuffle for
  * a single query; one self-join for all-pairs). The scale paths are
  * IVF (inverted-file: cluster by nearest centroid, probe a few cells) and
  * random-hyperplane LSH bucketing — both bound the candidate set so the
  * 100 TB case never pays the O(n²) cross join.
  *
  * Vector arithmetic uses the codegen'd [[graft.functions.VecDot]]
  * expression; per-vector norms are projected once behind an exchange
  * barrier so pair-level evaluation does only one dot product (Catalyst's
  * CollapseProject would otherwise inline the whole norm computation into
  * every join predicate evaluation).
  */
object Similarity {

  /** Dot product (codegen). */
  def dot(a: Column, b: Column): Column = VecDot.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(VecDot.dot(a, a))

  /** Cosine similarity (0 when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  private def parallelism(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Bounded per-group top-k over `(negsim, id)` structs via Spark's
    * `CollectTopK` typed aggregate: every aggregation level — map-side
    * partials included — holds a k-element bounded priority queue, so
    * memory per group is O(k) and the shuffle carries ≤ k rows per
    * partition per group. (The previous `collect_list`-then-sort shape
    * buffered the WHOLE partition per group before truncating — memory
    * linear in partition size, the kind of buffer that works at test scale
    * and OOMs an executor at 100 TB.) `reverse = true` keeps the smallest
    * elements under the struct's natural (negsim, id) ordering = highest
    * similarity with ascending-id tie-break; the k-element result is
    * re-sorted ascending so downstream `posexplode` ranks identically to
    * the old sort-based path.
    */
  private def boundedTopK(item: Column, k: Int): Column =
    array_sort(ColumnBridge.collectTopK(item, k, reverse = true))

  /** Project (id, vec, norm), spreading UNDER-SPLIT inputs behind a
    * repartition barrier (a small/single parquet file arrives as one
    * input split and would serialize the whole scoring pipeline onto one
    * task — the bm25TopK spread discipline). A properly-split corpus
    * passes through untouched: the unconditional barrier this replaces
    * was a full-corpus shuffle of the vector payload per call — linear
    * in data size for zero benefit at the 100 TB posture, where the scan
    * is already thousands of splits (RetrievalLadderProbe measured the
    * dense ndcg/topKJoin shuffle dropping ~linear-in-corpus → flat).
    * `forceBarrier` keeps the exchange for callers that fan the frame
    * into BOTH sides of a self-join: ReuseExchange then scans the corpus
    * once where a barrier-less plan would re-inline the scan + norm per
    * branch.
    */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      forceBarrier: Boolean = false): DataFrame = {
    val base = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__norm"))
    if (forceBarrier) base.repartition(parallelism(df), col(idCol))
    else Skew.spreadIfUnderSplit(base, col(idCol))
  }

  /** Fail-loud guardrail for every path whose QUERY side is collected to
    * the driver or broadcast to every task (topKJoin, hardNegatives,
    * prefixTopKJoin, pqTopK, sqTopK, mmrRerank, bm25TopK). These are
    * correct only under the queries ≪ corpus contract; misused with a
    * corpus-sized "query" set they OOM the driver/executors instead of
    * erroring. The check is a `limit(cap + 1).count()` — NOTE this runs an
    * EAGER Spark job at operator-construction time, a deliberate laziness
    * exception for these seven operators. The limit early-exits a plain
    * scan, but when the query frame sits behind a shuffle or aggregate the
    * limit cannot push below it, so the check re-executes that lineage
    * (and again at action time unless the caller persisted it) — still
    * bounded output, but not free. Callers composing an expensive query
    * lineage should persist it first or set the cap ≤ 0.
    *
    * Streaming query frames are SKIPPED (an eager count on a streaming
    * Dataset throws AnalysisException); the streaming entry points
    * enforce their own bounds per micro-batch.
    *
    * Configurable via session conf `spark.graft.maxBroadcastQueries`
    * (default 100000 rows); ≤ 0 disables the check. The error names the
    * operator's scale path so the fix is in the message.
    */
  private[ops] def requireQuerySideBounded(
      queries: DataFrame, op: String, scalePath: String): Unit = {
    if (queries.isStreaming) return
    val cap = queries.sparkSession.conf
      .getOption("spark.graft.maxBroadcastQueries")
      .getOrElse("100000").toLong
    if (cap > 0) {
      require(cap < Int.MaxValue,
        s"spark.graft.maxBroadcastQueries=$cap: a cap that large cannot " +
          "be broadcast anyway; set <= 0 to disable the check instead")
      val seen = queries.limit(cap.toInt + 1).count()
      require(seen <= cap,
        s"$op: the query side has more than " +
          s"spark.graft.maxBroadcastQueries=$cap rows, but this path " +
          "collects/broadcasts the whole query set (valid only while " +
          s"queries are much smaller than the corpus). Use the scale path — " +
          s"$scalePath — or raise spark.graft.maxBroadcastQueries.")
    }
  }

  /** Exact top-k neighbours of one query vector: a single scan, a partial
    * top-k per partition, and a k-row final sort — no shuffle of the data.
    */
  def topKForQuery(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val qn = math.sqrt(query.map(v => v.toDouble * v.toDouble).sum)
    embeddings
      .select(col(idCol),
        when(lit(qn) * norm(col(vecCol)) > 0,
          dot(col(vecCol), q) / (lit(qn) * norm(col(vecCol))))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact all-pairs top-k: self-join then windowed rank. Quadratic —
    * correctness baseline and the in-bucket verifier for the ANN paths.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // forceBarrier: base feeds BOTH join sides — the exchange lets
    // ReuseExchange scan the corpus once instead of once per branch
    val base = withNorm(embeddings, idCol, vecCol, forceBarrier = true)
    val a = base.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("__norm").as("na"))
    val b = base.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("__norm").as("nb"))
    val sims = a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .otherwise(lit(0.0)).as("cosine_sim"))
    val w = Window.partitionBy("id_a").orderBy(col("cosine_sim").desc, col("id_b").asc)
    sims.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic random hyperplanes (seeded) for LSH bucketing. Public so
    * an external oracle can embed the exact plane values as literals.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Hyperplane count that keeps expected LSH bucket population ≤
    * `targetBucketSize`: the smallest `b` in [minBits, maxBits] with
    * `2^b × targetBucketSize ≥ n` (⇔ `b ≥ log₂(n / target)`). Integer-exact
    * — no floating log — so an external oracle computes the identical value:
    * `min b FROM range(minBits, maxBits+1) WHERE (1 << b) * target >= n`.
    * Because seeded [[hyperplanes]] for a smaller bit count are a prefix of
    * those for a larger one, growing `bits` with the corpus only appends
    * planes. In-bucket verify cost is then O(n × targetBucketSize) total,
    * independent of corpus size, instead of O(n²/2^bits) for fixed bits.
    */
  def lshBitsFor(
      n: Long,
      targetBucketSize: Long = 64,
      minBits: Int = 4,
      maxBits: Int = 24): Int =
    (minBits to maxBits).find(b => (1L << b) * targetBucketSize >= n)
      .getOrElse(maxBits)

  /** Sign-bit LSH bucket id of a vector against `bits` seeded hyperplanes. */
  def lshBucket(vecCol: Column, dim: Int, bits: Int = 8, seed: Long = 42L): Column =
    hyperplanes(dim, bits, seed).zipWithIndex.map { case (h, i) =>
      val hc = array(h.map(lit): _*)
      when(dot(vecCol, hc) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate near-neighbour pairs: vectors sharing a
    * sign-bit bucket are verified with exact cosine ≥ threshold. One shuffle
    * on the bucket id; bucket population ~n/2^bits keeps the in-bucket
    * quadratic term bounded; the bucketed projection sits behind an exchange
    * so both self-join branches reuse one computation (ReuseExchange).
    *
    * `maxBucket` (0 = unlimited) is the skew guard: the n/2^bits expected
    * population assumes near-uniform sign bits, but a CORRELATED corpus
    * (embeddings cluster — that is why near-dup search works at all) can
    * concentrate a large fraction of vectors into a handful of buckets,
    * and one overfull bucket turns the in-bucket self-join quadratic (a
    * single straggler task sorting billions of pairs). Capping drops
    * buckets above the population cap from PAIR GENERATION entirely — the
    * same move as the ngram index's stop-gram df-cut: an overfull bucket
    * is the hyperplane family failing to discriminate, so its pairs are
    * dominated by low-similarity noise; the documented recall trade is
    * that true pairs whose every shared bucket is overfull are missed
    * (raise `bits` or union with [[ivfCellNearNeighbors]]).
    *
    * ID CONTRACT: `idCol` values must be unique — pair emission relies on
    * `id_a < id_b` alone (no distinct; one sits behind every shuffle this
    * operator would otherwise need), so duplicate ids emit duplicate
    * (id_a, id_b) rows.
    */
  def lshNearNeighbors(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.8,
      bits: Int = 8,
      seed: Long = 42L,
      maxBucket: Long = 0L): DataFrame = {
    val all = embeddings
      .select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), dim, bits, seed).as("bucket"),
        norm(col(vecCol)).as("__norm"))
      .repartition(parallelism(embeddings), col("bucket"))
    val bucketed =
      if (maxBucket <= 0L) all
      else {
        // One extra aggregate on the SAME partitioning (no added shuffle);
        // the population frame is bucket-count-sized, broadcast for the
        // semi filter.
        val small = all.groupBy("bucket").agg(count(lit(1)).as("__pop"))
          .filter(col("__pop") <= maxBucket).select("bucket")
        all.join(broadcast(small), Seq("bucket"))
      }
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("__norm").as("na"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("__norm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
    // no distinct: each vector has exactly ONE bucket, so the bucket
    // equi-join with id_a < id_b already emits each pair at most once —
    // a distinct here would re-shuffle the entire surviving pair set
    // for nothing (ivfCellNearNeighbors, the same shape, never had one)
  }

  /** Deterministic hash-sample predicate: true for ~`fraction` of ids.
    * Compares the first 3 hex chars of `md5(id)` against a threshold
    * (fraction in 4096ths) — a pure per-row expression, identical in any
    * engine with md5 (so DuckDB oracles can reproduce the selection), with
    * no global sort, no `count()` action, and no window. A fraction high
    * enough to round to 4096/4096 selects everything (the 3-char prefix
    * comparison cannot express that, so it short-circuits to `true`).
    */
  def hashSample(idCol: Column, fraction: Double): Column = {
    // fraction == 0 keeps NOTHING (a blanket clamp to 1/4096 silently
    // leaked ~0.024% of a stratum the caller meant to exclude), but a
    // POSITIVE fraction below the 1/4096 grid must not silently round to
    // an empty selection either (round(5e-5 * 4096) = 0 kept nothing with
    // no signal) — positive fractions clamp UP to the finest expressible
    // cut, 1/4096, overselecting rather than zeroing. Count-based
    // sampling that needs an exact "at least one" uses
    // sampleThreshold/hashSampleByThreshold.
    if (fraction <= 0.0) lit(false)
    else {
      val thr = math.min(4096L, math.max(1L, math.round(fraction * 4096)))
      if (thr >= 4096L) lit(true)
      else hashSampleByThreshold(idCol, thr)
    }
  }

  /** md5-prefix predicate with an explicit threshold in 4096ths (valid range
    * 1..4095). Exposed so callers deriving the threshold from a corpus count
    * ([[sampleThreshold]]) use the exact same predicate an external oracle
    * can reproduce: `substr(md5(id), 1, 3) < lpad(to_hex(thr), 3, '0')`.
    */
  def hashSampleByThreshold(idCol: Column, thr: Long): Column = {
    require(thr >= 1 && thr <= 4095, s"threshold $thr outside 1..4095")
    substring(md5(idCol.cast("string")), 1, 3) < lit(f"$thr%03x")
  }

  /** Threshold (in 4096ths) selecting ~`target` of `n` ids, clamped to
    * [1, 4095]. Integer-exact: an oracle computes the identical value as
    * `least(4095, greatest(1, round(target * 4096.0 / n)))`.
    */
  def sampleThreshold(target: Long, n: Long): Long =
    math.min(4095L, math.max(1L, math.round(target.toDouble * 4096 / math.max(1L, n))))

  /** Nearest-centroid assignment: broadcast the centroid set, score every
    * (vector, centroid) pair, keep the argmax per vector. The window is
    * PARTITIONED by vector id — each partition holds one vector's centroid
    * scores, so the argmax parallelizes across the corpus.
    */
  /** Nearest-centroid assignment.
    *
    * `replicas = 1` (the standard build): the centroid table is
    * nlist-BOUNDED by construction, so it rides INSIDE the plan — the
    * [[graft.functions.NearestCentroid]] codegen expression computes the
    * argmax-cosine id in one tight-loop projection. No cross join, no
    * aggregate, no sort, no extra rows: the declarative alternatives all
    * degrade at corpus scale (a `row_number` window externally sorts the
    * n × nlist scored stream — a measured spill-everything straggler at
    * 1M × 1024 — and `max_by` keyed by a `(sim, -cid)` struct has a
    * non-mutable buffer, so HashAggregateExec rejects it and the plan
    * falls back to sort-based aggregation of the same stream). The
    * nlist-row `collect` here is the same bounded materialization the
    * broadcast performed, one step earlier.
    *
    * `replicas > 1` (multi-assignment recall lever) keeps the broadcast
    * cross join + window path: it runs at index-BUILD time and needs the
    * top-`replicas` rows, not one value per row.
    */
  /** Collect a (centroid_id, centroid_vec) frame to the driver-side table
    * [[graft.functions.NearestCentroid.assign]] embeds in the plan —
    * nlist-bounded by the IVF contract. Hoist this OUT of any per-batch
    * loop: the collect is a Spark job, and a streaming ingest that calls
    * it per trigger pays one centroid job per micro-batch for a table
    * that never changes mid-stream.
    */
  private def collectCentroidTable(centroids: DataFrame): Seq[(Long, Array[Double])] =
    centroids.select(col("centroid_id").cast("long"), col("centroid_vec"))
      .collect()
      .map { r =>
        val vs = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
        }.toArray
        (r.getLong(0), vs)
      }.toSeq

  /** Is this id type losslessly representable as the Long the
    * [[graft.functions.NearestCentroid]] codegen table requires? A string
    * or decimal centroid id (seeds ARE corpus rows, and corpora carry
    * UUID ids) must take the window path instead — `cast("long")` on a
    * string id yields NULL and the driver-side collect would NPE. */
  private def integralIdType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  private def assignToNearest(
      base: DataFrame, // (idCol, vecCol, __norm)
      centroids: DataFrame, // (centroid_id, centroid_vec, __cnorm)
      idCol: String,
      vecCol: String,
      replicas: Int = 1): DataFrame = {
    if (replicas == 1 &&
        integralIdType(centroids.schema("centroid_id").dataType)) {
      base.select(col(idCol), col(vecCol),
        graft.functions.NearestCentroid.assign(col(vecCol),
          collectCentroidTable(centroids)).as("centroid_id"))
    } else {
      val scored = base
        .crossJoin(broadcast(centroids))
        .withColumn("sim",
          when(col("__norm") * col("__cnorm") > 0,
            dot(col(vecCol), col("centroid_vec")) / (col("__norm") * col("__cnorm")))
            .otherwise(lit(0.0)))
      val best = Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("centroid_id").asc)
      scored.withColumn("__r", row_number().over(best)).filter(col("__r") <= replicas)
        .select(col(idCol), col(vecCol), col("centroid_id"))
    }
  }

  /** IVF index: centroids are a deterministic md5 hash-sample of ~`nlist`
    * corpus vectors ([[sampleThreshold]] over an exact corpus count); each
    * vector is assigned to its nearest centroid. Returns the assignment
    * frame (id, vec, centroid_id).
    *
    * Scale shape: the centroid COUNT is the parameter — the broadcast in
    * [[assignToNearest]] is bounded by `nlist × vector bytes` no matter how
    * big the corpus gets, and the build cost is one broadcast-join pass of
    * `n × nlist` dot products (linear in the corpus, unlike a
    * fraction-based sample whose centroid set — and therefore broadcast and
    * build cost — would grow with the corpus). Cell population is
    * `~n / nlist`; size `nlist` like any IVF index (≈√n for balanced
    * build/probe cost) and refine with [[ivfKMeans]]. The one `count()`
    * action is the index-build job's own (a columnar metadata count, paid
    * once per index build, not per probe).
    */
  def ivfAssign(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 1024,
      replicas: Int = 1): DataFrame =
    assignToNearest(withNorm(embeddings, idCol, vecCol),
      hashSeedCentroids(embeddings, idCol, vecCol, nlist), idCol, vecCol,
      replicas)

  /** The md5-threshold seed centroid frame shared by [[ivfAssign]] and
    * [[ivfKMeans]]'s cold start (one definition so the two paths cannot
    * drift, and so ivfKMeans can assign against its already-pinned
    * normed base instead of re-scanning the corpus). */
  private def hashSeedCentroids(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int): DataFrame = {
    val thr = sampleThreshold(nlist.toLong, embeddings.count())
    embeddings
      .filter(hashSampleByThreshold(col(idCol), thr))
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"),
        norm(col(vecCol)).as("__cnorm"))
  }

  /** k-means||-style seeding: hash-sample an OVERSAMPLED candidate set
    * (`oversample × nlist` vectors — a configuration constant, never
    * corpus-proportional), weight each candidate by its corpus member count
    * (ONE linear broadcast-assign pass), then reduce the candidates to
    * `nlist` seeds with a LOCAL weighted spherical k-means on the driver —
    * the same shape MLlib's k-means|| uses: corpus touched only by linear
    * passes, the quadratic seeding work confined to the candidate set.
    * Deterministic throughout (md5 sampling, farthest-point init by
    * weighted distance, fixed local iteration count).
    *
    * Returns a centroid frame (centroid_id = 0..nlist-1, centroid_vec,
    * __cnorm) ready for [[assignToNearest]].
    */
  private def kmeansParallelSeeds(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      oversample: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val thr = sampleThreshold(oversample.toLong * nlist, embeddings.count())
    val candFrame = embeddings
      .filter(hashSampleByThreshold(col(idCol), thr))
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"),
        norm(col(vecCol)).as("__cnorm"))
    // Candidate member counts: one linear corpus pass against the
    // broadcast candidate set.
    val weights = assignToNearest(withNorm(embeddings, idCol, vecCol),
        candFrame, idCol, vecCol)
      .groupBy("centroid_id").agg(count(lit(1)).as("__w"))
    val cands: Array[(Array[Double], Double)] = candFrame
      .join(weights, Seq("centroid_id"), "left")
      .orderBy("centroid_id")
      .collect()
      .map(r => (r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
      }.toArray,
        if (r.isNullAt(3)) 0.0 else r.getLong(3).toDouble))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den > 0) d / den else 0.0
    }
    // Loud, diagnosable failure instead of an opaque empty.maxBy: a tiny
    // corpus can hash every id past the sample threshold (the same guard
    // pqCodebook carries on the identical condition).
    require(cands.nonEmpty,
      s"k-means|| seeding sampled 0 candidates (threshold $thr/4096 over " +
        s"${oversample}x$nlist target) — corpus too small for this " +
        "nlist/oversample; lower nlist or seed with ivfAssign")
    val k = math.min(nlist, cands.length)
    // Farthest-point init, weighted: start from the heaviest candidate,
    // then greedily add the candidate maximizing weight × (1 - nearest cos).
    val seeds = scala.collection.mutable.ArrayBuffer(
      cands.maxBy(_._2)._1.clone())
    val minDist = cands.map(c => 1.0 - cos(c._1, seeds(0)))
    while (seeds.length < k) {
      var best = -1; var bestScore = -1.0
      var i = 0
      while (i < cands.length) {
        val s = cands(i)._2 * minDist(i)
        if (s > bestScore) { bestScore = s; best = i }
        i += 1
      }
      seeds += cands(best)._1.clone()
      var j = 0
      while (j < cands.length) {
        val d = 1.0 - cos(cands(j)._1, seeds.last)
        if (d < minDist(j)) minDist(j) = d
        j += 1
      }
    }
    // Local weighted Lloyd over the candidates (spherical: cosine argmax,
    // weighted-mean recompute; cosine is centroid-scale-invariant).
    var centers = seeds.toArray
    for (_ <- 1 to 10) {
      val sums = Array.fill(centers.length)(new Array[Double](centers(0).length))
      val ws = new Array[Double](centers.length)
      cands.foreach { case (v, w) =>
        var bi = 0; var bs = -2.0
        var ci = 0
        while (ci < centers.length) {
          val s = cos(v, centers(ci)); if (s > bs) { bs = s; bi = ci }; ci += 1
        }
        var d = 0
        while (d < v.length) { sums(bi)(d) += w * v(d); d += 1 }
        ws(bi) += w
      }
      centers = centers.indices.map { ci =>
        if (ws(ci) > 0) sums(ci).map(_ / ws(ci)) else centers(ci)
      }.toArray
    }
    import spark.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("centroid_id", "centroid_vec")
      .withColumn("__cnorm", norm(col("centroid_vec")))
  }

  /** Lloyd-iteration refinement of seeded IVF centroids. Seeding is either
    * the deterministic hash-sample ([[ivfAssign]]'s, `oversample = 1`) or
    * the k-means||-style oversampled local reduction
    * ([[kmeansParallelSeeds]], `oversample > 1` — better-spread seeds,
    * measurably higher probe recall on near-uniform corpora). Each
    * iteration recomputes every centroid as the elementwise mean of its
    * members (posexplode → per-(centroid, dim) avg — two shuffles of n×dim
    * scalar rows, map-side combined) and reassigns.
    *
    * @return (assignment frame (id, vec, centroid_id),
    *          centroid frame (centroid_id, centroid_vec))
    */
  def ivfKMeans(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 1024,
      iterations: Int = 2,
      oversample: Int = 1,
      replicas: Int = 1): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val base = Checkpoints.pin(withNorm(embeddings, idCol, vecCol))
    // both seed paths assign against the PINNED base — calling
    // ivfAssign here would rebuild withNorm(embeddings) from scratch
    // (a full corpus scan + repartition) while base sits unused
    val assigned =
      if (oversample <= 1) assignToNearest(base,
        hashSeedCentroids(embeddings, idCol, vecCol, nlist), idCol, vecCol)
      else assignToNearest(base,
        kmeansParallelSeeds(embeddings, idCol, vecCol, nlist, oversample),
        idCol, vecCol)
    lloydRefine(base, assigned, idCol, vecCol, iterations, replicas)
  }

  /** The shared Lloyd loop: refine an initial (id, vec, centroid_id)
    * assignment over a pinned normed base for `iterations` rounds,
    * then apply replica indexing and materialize. Consumes `base`
    * (releases it). Used by [[ivfKMeans]] (cold start from seeds) and
    * [[ivfRecluster]] (warm start from an existing index's assignment).
    */
  private def lloydRefine(
      base: DataFrame,
      initial: DataFrame,
      idCol: String,
      vecCol: String,
      iterations: Int,
      replicas: Int): (DataFrame, DataFrame) = {
    var assigned = initial
    var centroids: DataFrame = null
    var prevCheckpoint: DataFrame = null
    var prevCentroids: DataFrame = null
    (1 to iterations).foreach { _ =>
      // Lineage truncation per Lloyd iteration: the chain grows linearly
      // (single reference), but truncating keeps plan depth O(1) for any
      // iteration count (same discipline as duplicateClusters) — and the
      // superseded iteration's blocks are released once the new one is
      // materialized, so in-flight storage is one assignment frame.
      assigned = Checkpoints.truncate(assigned)
      if (prevCheckpoint != null) Checkpoints.release(prevCheckpoint)
      prevCheckpoint = assigned
      val members = assigned.select(col("centroid_id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      // The centroid table is truncated to its own (nlist-sized, tiny)
      // leaf so nothing downstream — the next assignment, the returned
      // centroid frame — references the corpus-sized assignment frame it
      // was averaged from. Without this the LAST iteration's assignment
      // checkpoint could never be released (the returned centroids' plan
      // kept it alive), leaking one corpus-sized frame per k-means build
      // into executor storage — waste that compounds in a long-lived
      // session doing periodic ivfRecluster rebalances.
      centroids = Checkpoints.truncate(members
        .groupBy("centroid_id", "__pos")
        .agg(avg(col("__v")).as("__m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__pm"))
        .select(col("centroid_id"),
          transform(col("__pm"), x => x.getField("__m")).as("centroid_vec"))
        .withColumn("__cnorm", norm(col("centroid_vec"))))
      if (prevCentroids != null) Checkpoints.release(prevCentroids)
      prevCentroids = centroids
      assigned = assignToNearest(base, centroids, idCol, vecCol)
    }
    // Multi-assignment ("spilled"/replica indexing, the standard IVF
    // recall lever): after refinement, index each vector under its top
    // `replicas` centroids. A neighbour is then found when ANY of its
    // cells is probed — recall rises steeply at fixed nprobe for
    // `replicas ×` index bytes (still nlist-bounded, never quadratic).
    // Lloyd means above always use the primary assignment only.
    if (replicas > 1)
      assigned = assignToNearest(base, centroids, idCol, vecCol, replicas)
    // Materialize the final assignment before releasing the pinned base
    // so the iterations' reuse is realized.
    // The final assignment's plan reads only `base` and the centroid
    // LEAF, so the last iteration's assignment checkpoint releases too —
    // nothing corpus-sized survives this call but the result itself.
    val out = Checkpoints.pin(assigned)
    out.count()
    if (prevCheckpoint != null) Checkpoints.release(prevCheckpoint)
    Checkpoints.release(base)
    (out, centroids.select("centroid_id", "centroid_vec"))
  }

  /** Batch k-NN join: exact top-k corpus neighbours for EVERY query row —
    * the retrieval-eval / hard-negative-mining shape. The query side is
    * broadcast (queries ≪ corpus); the corpus scans ONCE; top-k is the
    * [[boundedTopK]] aggregate — map-side partials hold a k-element
    * bounded queue per query, so executor memory is O(k × queries) and the
    * shuffle carries ≤ `k × partitions` rows per query, never the scored
    * corpus. Rank ties break by ascending neighbour id at every level
    * (the queue orders on (-sim, id)).
    */
  def topKJoin(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int): DataFrame = {
    requireQuerySideBounded(queries, "topKJoin",
      "topKJoinIvf (routes queries to IVF cells; only the bounded " +
        "centroid set broadcasts)")
    val e = withNorm(embeddings, idCol, vecCol)
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      norm(col(qVecCol)).as("__qn"))
    val scored = e.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
    val item = struct((-col("cosine_sim")).as("negsim"), col(idCol).as("nid"))
    scored
      .groupBy("query_id")
      .agg(boundedTopK(item, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.nid").as(idCol),
        (-col("__t.negsim")).as("cosine_sim"), (col("__i") + 1).as("rank"))
  }

  /** IVF-probed batch k-NN join — the scale path for query sets too big to
    * broadcast ([[topKJoin]] broadcasts the query side; here only the
    * nlist-BOUNDED centroid set is broadcast). Each query routes to its
    * `nprobe` nearest cells (per-query top-nprobe over the broadcast
    * centroids — the routing table is queries × nprobe rows), then the
    * routed queries join the assignment on `centroid_id`: a key-equi join
    * two shuffled sides co-partition on, never a BroadcastNestedLoopJoin
    * of a corpus-sized side — and against a [[saveIvfIndex]]
    * cell-partitioned index the scan prunes to the probed cells. Per-query
    * top-k reuses [[topKJoin]]'s [[boundedTopK]] aggregate (O(k) memory
    * per query at every level; the shuffle carries ≤ k × partitions rows
    * per query, not the scored candidates).
    * Approximate with the standard IVF dials: `nprobe`, and replica
    * assignment at build time ([[ivfKMeans]]'s `replicas` — replica
    * candidates collapse to one row per (query, id) before ranking).
    */
  def topKJoinIvf(
      assigned: DataFrame,
      centroids: DataFrame, // (centroid_id, centroid_vec)
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      norm(col(qVecCol)).as("__qn"))
    val c = centroids.select(col("centroid_id"), col("centroid_vec"),
      norm(col("centroid_vec")).as("__cnorm"))
    val routeW = Window.partitionBy("query_id")
      .orderBy(col("__csim").desc, col("centroid_id").asc)
    val routed = q.crossJoin(broadcast(c))
      .select(col("query_id"), col("__qv"), col("__qn"), col("centroid_id"),
        when(col("__qn") * col("__cnorm") > 0,
          dot(col("__qv"), col("centroid_vec")) / (col("__qn") * col("__cnorm")))
          .otherwise(lit(0.0)).as("__csim"))
      .withColumn("__r", row_number().over(routeW))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("centroid_id"))
    val members = assigned.select(col("centroid_id"), col(idCol), col(vecCol),
      norm(col(vecCol)).as("__norm"))
    val candidates = members.join(routed, Seq("centroid_id"))
      .select(col("query_id"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      // Replica-assigned vectors can sit in several probed cells of the
      // same query; collapse before ranking (max is a no-op dedupe —
      // the score is identical).
      .groupBy(col("query_id"), col(idCol))
      .agg(max(col("cosine_sim")).as("cosine_sim"))
    val item = struct((-col("cosine_sim")).as("negsim"), col(idCol).as("nid"))
    candidates
      .groupBy("query_id")
      .agg(boundedTopK(item, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.nid").as(idCol),
        (-col("__t.negsim")).as("cosine_sim"), (col("__i") + 1).as("rank"))
  }

  /** Embedding-cosine near-duplicate pairs at scale via IVF cells: assign
    * every vector to its nearest of `nlist` hash-sampled centroids (one
    * broadcast pass, [[ivfAssign]]), then verify exact cosine only WITHIN
    * cells. Complements [[lshNearNeighbors]]: centroids are data-adaptive
    * (they follow corpus density) where hyperplane buckets are oblivious.
    * One shuffle on `centroid_id`; in-cell verify cost is
    * O(n × n/nlist) dot products total — size `nlist ≈ n / targetCellSize`
    * to hold per-cell work constant. Approximate by construction: a pair
    * straddling a cell boundary is missed (the standard IVF recall trade —
    * raise `nlist` less aggressively, or union with [[lshNearNeighbors]]).
    */
  def ivfCellNearNeighbors(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 1024,
      threshold: Double = 0.8): DataFrame = {
    // Pinned: the assignment feeds both self-join branches, and the
    // self-join's attribute deduplication defeats ReuseExchange.
    val assigned = Checkpoints.pin(ivfAssign(embeddings, idCol, vecCol, nlist)
      .withColumn("__norm", norm(col(vecCol))))
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("va"), col("__norm").as("na"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("vb"), col("__norm").as("nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("na") * col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Persist an IVF index for reuse across sessions — the build cost
    * amortizes over probes. The assignment is PARTITIONED BY centroid_id,
    * so a probe's `join(broadcast(probed), "centroid_id")` prunes the scan
    * to the `nprobe` probed cell directories: at 100 TB the probe reads
    * `nprobe/nlist` of the index bytes, not the corpus.
    */
  def saveIvfIndex(assigned: DataFrame, centroids: DataFrame, path: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/assigned")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted IVF index: (assignment, centroids). The cell
    * partition column reads back as int by directory-name inference;
    * restore the long centroid ids the builders emit.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/assigned")
      .withColumn("centroid_id", col("centroid_id").cast("long")),
      spark.read.parquet(s"$path/centroids"))

  /** Drift report for an IVF index whose centroids were pinned while the
    * index grew (the [[streamingIvfIngest]] contract): per cell, the
    * member count and the angular displacement between the PINNED
    * centroid and the CURRENT member mean, in integer ppm of cosine
    * distance (`floor((1 − cos) · 1e6 + 0.5)`). Rising displacement (or
    * a lopsided count distribution) is the signal that ingest has
    * drifted from the build-time geometry and probes are paying recall
    * for it — the trigger for [[ivfRecluster]] / [[rebalanceIvfIndex]].
    *
    * Engine-exact by the Lloyd-mean trick: member vectors quantize to
    * integer micro-units per dimension FIRST (`floor(v·1e6)` as Long),
    * so the corpus-order summation is exact integer arithmetic in any
    * engine, and cosine is scale-invariant so the un-divided integer sum
    * vector stands in for the mean. The single float op left is the
    * final fixed-order dot/norm over one nlist-sized row pair — the
    * same 1-ppm-grid argument as [[withCosts]]. Scale shape: one
    * posexplode aggregate over the assignment (n×dim scalar rows,
    * map-side combined — exactly the Lloyd step's plan) plus a
    * centroid-sized join; nothing corpus-sized shuffles wider.
    *
    * Cells that lost every member (or never had one) report
    * `n_members = 0` with NULL displacement. */
  def ivfDriftReport(
      assigned: DataFrame,
      centroids: DataFrame, // (centroid_id, centroid_vec)
      vecCol: String): DataFrame = {
    // ONE corpus pass carries both the per-dimension integer sums and
    // the member count (a separate count aggregate would re-read the
    // whole assignment just to count rows). posexplode_outer keeps
    // empty/NULL-vector members visible as a NULL-pos row, so the count
    // is exact for every member while the NULL-pos group stays out of
    // the sum vector: n_members = members seen at dimension 0 plus
    // members with no dimensions at all.
    val sums = assigned
      .select(col("centroid_id"),
        posexplode_outer(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("centroid_id", "__pos")
      .agg(sum(floor(col("__v").cast("double") * lit(1000000.0)).cast("long"))
        .as("__s"),
        count(lit(1)).as("__c"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(when(col("__pos").isNotNull,
          struct(col("__pos"), col("__s"))))).as("__pm"),
        sum(when(col("__pos") === 0 || col("__pos").isNull, col("__c"))
          .otherwise(lit(0L))).as("n_members"))
      .select(col("centroid_id"), col("n_members"),
        transform(col("__pm"), x => x.getField("__s").cast("double"))
          .as("__svec"))
    val cvecD = transform(col("centroid_vec"), x => x.cast("double"))
    val dotCS = aggregate(zip_with(cvecD, col("__svec"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val den = sqrt(aggregate(transform(cvecD, x => x * x),
        lit(0.0), (acc, x) => acc + x)) *
      sqrt(aggregate(transform(col("__svec"), x => x * x),
        lit(0.0), (acc, x) => acc + x))
    centroids.select(col("centroid_id"), col("centroid_vec"))
      .join(sums, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        when(col("__svec").isNotNull && den > 0,
          floor((lit(1.0) - dotCS / den) * lit(1000000.0) + lit(0.5))
            .cast("long"))
          .as("drift_ppm"))
  }

  /** Recluster-and-reassign: refresh a grown index's cell geometry by
    * warm-starting the [[ivfKMeans]] Lloyd loop from the CURRENT
    * assignment (so the new centroids start as each cell's member mean
    * and move from there) and reassigning every vector. The offline
    * rebuild move [[streamingIvfIngest]]'s pinned-geometry contract
    * defers to: run it when [[ivfDriftReport]] says the geometry no
    * longer fits the data. Same cost shape as `iterations` Lloyd rounds
    * of a fresh build — linear corpus passes against broadcast
    * centroids — with none of the seeding work. Cells EMPTY at recluster
    * time are dropped (a Lloyd mean cannot be formed for them), so nlist
    * is preserved for non-empty cells only — the probe's drifted-ingest
    * scenario keeps all cells populated, but a fully-evacuated geometry
    * should rebuild from scratch with [[ivfKMeans]] instead.
    */
  def ivfRecluster(
      assigned: DataFrame, // (id, vec, centroid_id) — primary assignment
      idCol: String,
      vecCol: String,
      iterations: Int = 2,
      replicas: Int = 1): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val base = Checkpoints.pin(withNorm(
      assigned.select(col(idCol), col(vecCol)), idCol, vecCol))
    lloydRefine(base, assigned.select(col(idCol), col(vecCol),
      col("centroid_id")), idCol, vecCol, iterations, replicas)
  }

  /** [[ivfRecluster]] for a PERSISTED index: load `path`, recluster, and
    * save the rebuilt index (same [[saveIvfIndex]] layout, probe-ready)
    * to `outPath`. The rebuild is offline maintenance on a live probe
    * path, so it lands in a NEW directory and the caller flips readers
    * over (or renames) once it is complete — never a half-rewritten
    * index in place. Replica indexing of the ORIGINAL build is not
    * preserved automatically; pass the build's `replicas`. */
  def rebalanceIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      outPath: String,
      iterations: Int = 2,
      replicas: Int = 1): Unit = {
    val (assigned, centroids) = loadIvfIndex(spark, path)
    val idCol = assigned.columns
      .filterNot(c => c == "centroid_id" || c.startsWith("__")).head
    val vecCol = assigned.columns
      .filterNot(c => c == "centroid_id" || c == idCol ||
        c.startsWith("__")).head
    // Replica builds store a vector once per cell, and the saved layout
    // does not record WHICH copy was the primary (nearest-centroid)
    // assignment — so recompute it: dedupe to one row per vector (any
    // copy; the vectors are identical) and re-assign against the stored
    // centroids. A min-centroid-id pick would warm-start the Lloyd means
    // from arbitrary replica memberships — systematically skewed cell
    // means on the first refinement round.
    val one = assigned
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("centroid_id"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(vecCol))
    val primary = assignToNearest(
      withNorm(one, idCol, vecCol),
      centroids.select(col("centroid_id"), col("centroid_vec"),
        norm(col("centroid_vec")).as("__cnorm")),
      idCol, vecCol)
    val (reassigned, newCentroids) =
      ivfRecluster(primary, idCol, vecCol, iterations, replicas)
    saveIvfIndex(reassigned.select(col(idCol), col(vecCol),
      col("centroid_id")), newCentroids, outPath)
    Checkpoints.release(reassigned)
  }

  /** Streaming IVF index ingest: embedding vectors arrive in micro-batches
    * and each batch pays only its own work — assign the new vectors to the
    * FIXED centroid set (the nlist-bounded [[graft.functions.NearestCentroid]]
    * codegen projection; no shuffle of the batch) and append them to the
    * persisted index's `centroid_id=` cell partitions. The index stays
    * probe-ready between batches with the exact [[saveIvfIndex]] layout:
    * [[ivfTopKForQuery]]/[[loadIvfIndex]] work unchanged, and a probe still
    * reads only its `nprobe` cell directories.
    *
    * Centroids are pinned at build time (they define the cell geometry —
    * re-deriving them per batch would re-cell the whole index); the
    * continuous-ingest contract is "assignments accumulate, geometry is an
    * offline rebuild", the same as any production IVF service. Returns the
    * accumulated assignment after draining available input.
    *
    * Sink discipline ([[KeyedState]]): each batch appends one file per
    * touched cell and any cell exceeding the file threshold is compacted
    * in place, so the per-cell listing a probe pays stays bounded across
    * unbounded ingest; the append is fenced by [[Upsert.applyBatchOnce]]
    * so a checkpoint-recovery replay cannot double-insert vectors.
    */
  def streamingIvfIngest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      vecCol: String,
      centroids: DataFrame, // (centroid_id, centroid_vec)
      indexDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 0,
      compactAfterFiles: Int = 32,
      statePartitions: Int = 0): DataFrame = {
    centroids.select(col("centroid_id"), col("centroid_vec"))
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    // ONE centroid collect for the whole stream (the geometry is frozen by
    // contract), not one per micro-batch.
    val centTable = collectCentroidTable(centroids)
    val schema = spark.read.parquet(s"$dir/$glob").schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val tuned = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader
    // Scoped shuffle width for the whole drain: callers size it to their
    // batch volume via `statePartitions`; unset keeps the session width
    // (KeyedState.withStatePartitionsFor — cluster-safe). (The staged
    // cell append's task count is the explicit parallelism(batch)
    // argument, unaffected.)
    KeyedState.withStatePartitionsFor(spark, statePartitions) {
    val q = tuned.parquet(dir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // No withNorm barrier: a micro-batch is already partitioned by
        // arrival, and the replicas=1 assignment is one codegen
        // projection over the pre-collected centroid table. Single
        // consumer (the staged append) — no persist, no pre-actions: the
        // batch costs exactly one Spark job.
        val assigned = batch.select(col(idCol), col(vecCol),
          graft.functions.NearestCentroid.assign(col(vecCol), centTable)
            .as("centroid_id"))
        // The cell append is non-idempotent: fence checkpoint-recovery
        // replays of an already-applied batch (else recovered batches
        // duplicate every vector in their cells). ONLY the append sits
        // inside the fence — compaction is idempotent and must not
        // reopen it by crashing mid-rewrite.
        var touched: Seq[String] = Nil
        Upsert.applyBatchOnce(spark, s"$indexDir/_applied", batchId) {
          // Keyed-state discipline (KeyedState): one file per touched
          // cell per batch — the index is PROBED partition-pruned on
          // centroid_id, so its per-cell file listing must stay bounded
          // across batches (the compaction below). The publish reports
          // the touched cells, so compaction candidates cost no extra
          // Spark job (the old per-batch distinct-collect).
          touched = KeyedState.appendPartitionedAtomic(assigned,
            s"$indexDir/assigned", "centroid_id", parallelism(batch),
            batchId)
        }
        // Injected-crash point (test-only, see [[Failpoint]]): the cell
        // append landed and its fence marker is written, but the
        // checkpoint commit has not — on restart Spark replays this
        // batch and the fence must skip the append (else every vector
        // in the batch duplicates in its cell).
        Failpoint.hit(spark, "ivf_post_fence", batchId)
        KeyedState.compactPartitions(spark, s"$indexDir/assigned",
          "centroid_id", touched, compactAfterFiles)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    }
    // Partition-directory values read back as int by inference; restore
    // the assignment's long centroid ids.
    // Heal a compaction swap a previous run's crash may have interrupted
    // (no-op normally), then read the accumulated assignment back.
    KeyedState.repairPartitions(spark, s"$indexDir/assigned")
    spark.read.parquet(s"$indexDir/assigned")
      .withColumn("centroid_id", col("centroid_id").cast("long"))
  }

  /** IVF approximate top-k for one query: probe the `nprobe` nearest
    * centroids' cells only. Candidate set is the probed cells, not the
    * corpus — the standard recall/cost dial.
    */
  def ivfTopKForQuery(
      assigned: DataFrame,
      centroids: DataFrame, // (centroid_id, centroid_vec)
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val qn = math.sqrt(query.map(v => v.toDouble * v.toDouble).sum)
    def cosTo(c: Column): Column = {
      val denom = lit(qn) * sqrt(dot(c, c))
      when(denom > 0, dot(c, q) / denom).otherwise(lit(0.0))
    }
    val probed = centroids
      .select(col("centroid_id"), cosTo(col("centroid_vec")).as("csim"))
      .orderBy(col("csim").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select("centroid_id")
    assigned.join(broadcast(probed), "centroid_id")
      .select(col(idCol), cosTo(col(vecCol)).as("cosine_sim"))
      // Replica-assigned indexes list a vector in several cells; collapse
      // to one candidate row per id (same score — max is a no-op dedupe).
      .groupBy(idCol).agg(max(col("cosine_sim")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Hard-negative mining: for every query, the top-k most-similar corpus
    * vectors with a DIFFERENT label — the contrastive-training data miner
    * (similar-but-wrong examples are the negatives that teach an embedding
    * model its decision boundary). [[topKJoin]]'s shape with a label
    * mismatch filter BEFORE ranking: the corpus scans once against the
    * broadcast queries, the filter runs inside the scan stage, and the
    * per-query top-k is the O(k)-state bounded aggregate.
    *
    * Returns (query_id, idCol, labelCol, cosine_sim, rank ≤ k).
    */
  def hardNegatives(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      qLabelCol: String,
      k: Int): DataFrame = {
    requireQuerySideBounded(queries, "hardNegatives",
      "topKJoinIvf over label-filtered assignments (IVF-routed k-NN, " +
        "bounded broadcast)")
    val e = embeddings.select(col(idCol), col(vecCol), col(labelCol),
      norm(col(vecCol)).as("__norm"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      col(qLabelCol).as("__qlabel"), norm(col(qVecCol)).as("__qn"))
    // NULL-safe label mismatch: a plain =!= evaluates to NULL whenever
    // either label is NULL, silently dropping every corpus row for a
    // NULL-labeled query (zero negatives, no error) and excluding
    // unlabeled corpus vectors from all mining. <=> semantics instead:
    // NULL vs X is a mismatch (a valid negative), NULL vs NULL is a match.
    val scored = e.crossJoin(broadcast(q))
      .filter(!(col(labelCol) <=> col("__qlabel")))
      .select(col("query_id"), col(idCol), col(labelCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
    // ids/labels keep their source types: a silent cast("long") nulls
    // string ids/labels for every row, and the struct orders any type
    val item = struct((-col("cosine_sim")).as("negsim"),
      col(idCol).as("nid"), col(labelCol).as("nlabel"))
    scored
      .groupBy("query_id")
      .agg(boundedTopK(item, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.nid").as(idCol),
        col("__t.nlabel").as(labelCol),
        (-col("__t.negsim")).as("cosine_sim"), (col("__i") + 1).as("rank"))
  }

  /** PQ codebook: `m` per-subspace codebooks, each the sub-vectors of the
    * same EXACTLY-`targetKs` deterministically sampled corpus vectors (the
    * `targetKs` smallest by `(md5(id), id)` — [[Sampling.hashSampleExact]]'s
    * order, a pure function of ids any engine reproduces). Codeword ids are
    * 0-based positions in ascending sampled-id order. `books(j)(c)(t)` is
    * subspace j, codeword c, component t; floats widen exactly to double.
    *
    * Exact-N selection rather than the md5-THRESHOLD predicate the IVF
    * build uses: the 3-hex-char threshold cannot select fewer than
    * ~n/4096 rows, so a threshold-sampled codebook would GROW with the
    * corpus (measured: ks=228 at 1M vectors for targetKs=16) and overflow
    * the packed-long budget — the codebook must be a configuration
    * constant. TakeOrderedAndProject keeps the selection scan-shaped (per-
    * partition partial top-ks, no global sort).
    *
    * Sampled codebooks are the deterministic baseline (what the oracle can
    * check); Lloyd-refining them per subspace ([[pqRefine]]) is the same
    * local step [[ivfKMeans]] applies to IVF centroids and changes nothing
    * about the plan shapes downstream. The collect here is the bounded
    * codebook materialization — ks × dim doubles, a configuration
    * constant.
    */
  case class PqCodebook(m: Int, subDim: Int, books: Array[Array[Array[Double]]]) {
    def ks: Int = books(0).length
  }

  def pqCodebook(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      targetKs: Int = 16): PqCodebook = {
    // the CANONICAL exact-n sampler, not a re-spelling of its order — a
    // future tie-break/hash tweak there must move the codebook with it
    val sampled = Sampling.hashSampleExact(
        embeddings.select(col(idCol), col(vecCol)), idCol, targetKs)
      .orderBy(col(idCol))
      .collect()
      .map(_.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
      }.toArray)
    require(sampled.nonEmpty, "PQ codebook sample selected no vectors")
    val dim = sampled.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      sampled.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
    }
    PqCodebook(m, subDim, books)
  }

  /** Encode a corpus against a [[PqCodebook]]: (idCol, pq_code) with the
    * packed-long code from [[graft.functions.PqEncodePacked]] — scan →
    * project, 8 bytes per vector in the output. This is the table a
    * billion-vector deployment persists instead of raw vectors for the
    * candidate-generation scan.
    */
  def pqEncode(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cb: PqCodebook): DataFrame =
    embeddings.select(col(idCol),
      graft.functions.PqEncodePacked.encode(col(vecCol), cb.books).as("pq_code"))

  /** PQ/ADC batch k-NN: approximate candidates from the 8-byte codes, then
    * exact cosine re-rank of the top `rerank` per query — the standard
    * two-stage PQ search. Per query, a distance TABLE (m × ks squared-L2
    * entries against the bounded codebook) is computed once driver-side
    * (queries are a bounded set by the same contract under which
    * [[topKJoin]] broadcasts them) and broadcast; the corpus-side scan is
    * then ONE table-lookup-sum per row ([[graft.functions.PqAdcDist]]) over
    * the packed codes — no vector arithmetic and no vector bytes in the
    * candidate scan at all. Candidate top-`rerank` per query uses the
    * O(rerank)-state [[boundedTopK]] aggregate; only the ≤ rerank × queries
    * surviving ids join back to the corpus for true-cosine re-ranking (a
    * broadcast-able side by construction), ranked by a queries-bounded
    * window.
    *
    * Returns (query_id, idCol, cosine_sim, rank ≤ k). Approximate with the
    * PQ dials: m/ks (code size vs fidelity) and `rerank` (recall vs
    * re-rank cost).
    */
  /** Lloyd-refine a [[PqCodebook]] per subspace — the same local k-means
    * step [[ivfKMeans]] applies to IVF centroids, here run independently in
    * each of the m subspaces: assign every vector's j-th sub-vector to its
    * nearest codeword (the [[pqEncode]] expression — one linear codegen
    * pass), average the members per (subspace, codeword), repeat. Empty
    * codewords keep their previous position (standard k-means practice).
    *
    * Refined codebooks are NOT oracle-reproducible (the iteration is the
    * point); the deterministic sampled codebook stays the checkable
    * baseline, exactly as ivfAssign/ivfKMeans split. Scale shape per
    * iteration: one encode pass, then a posexplode to (j, code, component)
    * keyed partial-avg — m × subDim = dim small rows per vector, map-side
    * combined down to an m × ks × subDim result collected to the driver
    * (the bounded codebook, by construction).
    */
  def pqRefine(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      cb: PqCodebook,
      iterations: Int): PqCodebook = {
    var books = cb.books.map(_.map(_.clone()))
    var it = 0
    while (it < iterations) {
      val current = PqCodebook(cb.m, cb.subDim, books)
      val assigned = embeddings.select(col(vecCol).as("__v"),
        graft.functions.PqEncodePacked.encode(col(vecCol), books).as("__code"))
      val ksL = current.ks.toLong
      // exact Long divisors ks^j (float pow loses ulps once ks^j nears
      // 2^53, mis-decoding the top subspaces' codewords)
      val divisors = Array.iterate(1L, cb.m)(_ * ksL)
        .mkString("array(", "L,", "L)")
      val parts = assigned
        .select(col("__v"), posexplode(expr(
          s"transform(sequence(0, ${cb.m - 1}), " +
            s"j -> (__code div element_at($divisors, j + 1)) % $ksL)"))
          .as(Seq("__j", "__c")))
        .select(col("__j"), col("__c"),
          posexplode(slice(col("__v"), col("__j") * cb.subDim + 1, lit(cb.subDim)))
            .as(Seq("__t", "__x")))
        .groupBy("__j", "__c", "__t")
        .agg(avg(col("__x").cast("double")).as("__mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      parts.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
      }
      books = next
      it += 1
    }
    PqCodebook(cb.m, cb.subDim, books)
  }

  /** Matryoshka prefix-dim retrieval: candidate generation by cosine over
    * only the FIRST `prefixDim` components (MRL-style embeddings order
    * information by prefix, so a 16-of-64 prefix scan reads 4× fewer bytes
    * per vector), then exact full-dim re-rank of the top `rerank` per
    * query. The same two-stage shape as [[pqTopK]] with a different
    * candidate representation: `slice` is a codegen'd built-in, the
    * prefix top-`rerank` uses the O(rerank)-state [[boundedTopK]]
    * aggregate, and only rerank × queries ids join back for the full-dim
    * re-rank.
    *
    * Returns (query_id, idCol, cosine_sim, rank ≤ k).
    */
  def prefixTopKJoin(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      prefixDim: Int,
      k: Int,
      rerank: Int): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    requireQuerySideBounded(queries, "prefixTopKJoin",
      "topKJoinIvf on the prefix space (IVF-routed k-NN, bounded broadcast)")
    val pre = slice(col(vecCol), 1, prefixDim)
    val e = embeddings.select(col(idCol), pre.as("__pv"),
      norm(pre).as("__pn"))
    val qpre = slice(col(qVecCol), 1, prefixDim)
    val q = queries.select(col(qIdCol).as("query_id"), qpre.as("__qpv"),
      norm(qpre).as("__qpn"))
    val scored = e.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        when(col("__pn") * col("__qpn") > 0,
          dot(col("__pv"), col("__qpv")) / (col("__pn") * col("__qpn")))
          .otherwise(lit(0.0)).as("__psim"))
    val item = struct((-col("__psim")).as("negsim"), col(idCol).as("nid"))
    val shortlist = scored
      .groupBy("query_id")
      .agg(boundedTopK(item, rerank).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t.nid").as(idCol))
    val full = embeddings.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("__norm"))
    val qfull = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).as("__qv"), norm(col(qVecCol)).as("__qn"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    full.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qfull), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  def pqTopK(
      encoded: DataFrame, // (idCol, pq_code)
      embeddings: DataFrame, // (idCol, vecCol) — re-rank side
      idCol: String,
      vecCol: String,
      cb: PqCodebook,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      rerank: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    requireQuerySideBounded(queries, "pqTopK",
      "topKJoinIvf over the raw vectors, or partition the query set and " +
        "loop bounded panels")
    // The driver-side panel keys queries by their STRING form (total for
    // any id type — a silent cast("long") nulls string ids and the
    // collect NPEs, the line-level trap this module documents elsewhere);
    // the typed id joins back onto the bounded result at the end, so the
    // output query_id keeps the source type like every sibling topK.
    val qRows = queries
      .select(col(qIdCol).cast("string"), col(qVecCol)).collect()
      .map { r =>
        val qv = r.getSeq[Any](1).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
        }.toArray
        val dtab = Array.tabulate(cb.m) { j =>
          cb.books(j).map { cw =>
            var s = 0.0
            var t = 0
            while (t < cb.subDim) {
              val d = qv(j * cb.subDim + t) - cw(t)
              s += d * d
              t += 1
            }
            s
          }
        }
        (r.getString(0), qv.map(_.toFloat), dtab)
      }.toSeq
    val qdf = qRows.toDF("__qid", "__qv", "__dtab")
    val cand = encoded
      .crossJoin(broadcast(qdf.select(col("__qid"), col("__dtab"))))
      .select(col("__qid"), col(idCol),
        graft.functions.PqAdcDist.adist(col("pq_code"), col("__dtab")).as("__adist"))
    val item = struct(col("__adist").as("adist"), col(idCol).as("nid"))
    val shortlist = cand
      .groupBy("__qid")
      .agg(boundedTopK(item, rerank).as("__top"))
      .select(col("__qid"), explode(col("__top")).as("__t"))
      .select(col("__qid"), col("__t.nid").as(idCol))
    val e = embeddings.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__norm"))
    val rankW = Window.partitionBy("__qid")
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    e.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qdf.select(col("__qid"), col("__qv"),
        norm(col("__qv")).as("__qn"))), Seq("__qid"))
      .select(col("__qid"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      // restore the SOURCE-typed query id (bounded panel, broadcast)
      .join(broadcast(queries
        .select(col(qIdCol).as("query_id"),
          col(qIdCol).cast("string").as("__qid")).distinct()), Seq("__qid"))
      .select(col("query_id"), col(idCol), col("cosine_sim"), col("rank"))
  }

  /** Per-dimension scalar-quantization parameters: corpus min/max of each
    * component. One map-side-combined aggregate pass (state is dim-bounded
    * — 64 doubles per partition), collected as the bounded parameter
    * block, exactly the [[PqCodebook]] materialization contract.
    */
  case class SqParams(mins: Array[Double], maxs: Array[Double]) {
    def dim: Int = mins.length
  }

  def sqParams(embeddings: DataFrame, vecCol: String): SqParams = {
    val rows = embeddings
      .select(posexplode(col(vecCol)).as(Seq("__j", "__x")))
      .groupBy("__j")
      .agg(min(col("__x").cast("double")).as("mn"),
        max(col("__x").cast("double")).as("mx"))
      .orderBy("__j")
      .collect()
    SqParams(rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Scalar (int8) quantization encode: each component maps to
    * `floor((x - mn_j) / (mx_j - mn_j) * 256)` clamped to [0, 255]
    * (degenerate dimensions with mn = mx encode as 0) — 1 byte per
    * component instead of 4, the middle rung of the compression ladder
    * between raw vectors and [[pqEncode]]'s 1 byte per 8 components.
    * `floor` (not round) keeps the bucket rule reproducible on any engine:
    * both sides compute the same IEEE double expression, so the only
    * boundary cases are exact integers, which floor identically. Scan →
    * project, no shuffle.
    */
  def sqEncode(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      p: SqParams): DataFrame =
    embeddings.select(col(idCol), sqEncodeExpr(col(vecCol), p).as("sq_code"))

  private def sqEncodeExpr(vec: Column, p: SqParams): Column = {
    val mnA = lit(p.mins)
    val mxA = lit(p.maxs)
    transform(vec, (x, i) => {
      val mn = element_at(mnA, (i + 1).cast("int"))
      val mx = element_at(mxA, (i + 1).cast("int"))
      // clamp BOTH ends: params fitted on one corpus may encode new or
      // streamed vectors whose components fall outside [mn, mx], and the
      // documented byte-range contract is [0, 255], not "negative below
      // range"
      when(mx > mn,
        greatest(lit(0.0),
          least(lit(255.0), floor((x.cast("double") - mn) / (mx - mn) * 256.0)))
          .cast("int"))
        .otherwise(lit(0))
    })
  }

  /** Midpoint reconstruction of an [[sqEncode]]d vector:
    * `mn_j + (code + 0.5) * (mx_j - mn_j) / 256`.
    */
  private def sqRecon(codes: Column, p: SqParams): Column = {
    val mnA = lit(p.mins)
    val mxA = lit(p.maxs)
    transform(codes, (c, i) => {
      val mn = element_at(mnA, (i + 1).cast("int"))
      val mx = element_at(mxA, (i + 1).cast("int"))
      mn + (c.cast("double") + 0.5) * (mx - mn) / 256.0
    })
  }

  /** IVF + SQ composed index: the [[ivfAssign]] cell assignment with the
    * int8 codes stored IN the cell rows — one scan-stage projection, no
    * join (the vector encodes as it assigns). This is the FAISS
    * `IVF<nlist>,SQ8` production shape: routing prunes to nprobe/nlist of
    * the corpus, the in-cell scan reads 1-byte-per-component codes, and
    * only the shortlist touches raw vectors. Persist with
    * [[saveIvfIndex]]'s partitioned layout for probe-time cell pruning.
    * Returns (centroid_id, idCol, sq_code).
    */
  def ivfSqIndex(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      p: SqParams,
      replicas: Int = 1): DataFrame =
    ivfAssign(embeddings, idCol, vecCol, nlist, replicas)
      .select(col("centroid_id"), col(idCol),
        sqEncodeExpr(col(vecCol), p).as("sq_code"))

  /** Two-stage search over an [[ivfSqIndex]]: route each query to its
    * `nprobe` nearest centroids (broadcast, nlist-bounded), scan ONLY the
    * probed cells' int8 codes for approximate midpoint-reconstruction
    * cosine, shortlist `rerank` per query with the O(rerank)-state
    * [[boundedTopK]] aggregate, and re-rank the shortlist with exact
    * cosine against the raw vectors. Returns
    * (query_id, idCol, cosine_sim, rank ≤ k).
    */
  def ivfSqTopK(
      index: DataFrame, // (centroid_id, idCol, sq_code)
      centroids: DataFrame, // (centroid_id, centroid_vec)
      embeddings: DataFrame, // exact re-rank side
      idCol: String,
      vecCol: String,
      p: SqParams,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nprobe: Int,
      rerank: Int): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      norm(col(qVecCol)).as("__qn"))
    val c = centroids.select(col("centroid_id"), col("centroid_vec"),
      norm(col("centroid_vec")).as("__cnorm"))
    val routeW = Window.partitionBy("query_id")
      .orderBy(col("__csim").desc, col("centroid_id").asc)
    val routed = q.crossJoin(broadcast(c))
      .select(col("query_id"), col("__qv"), col("__qn"), col("centroid_id"),
        when(col("__qn") * col("__cnorm") > 0,
          dot(col("__qv"), col("centroid_vec")) / (col("__qn") * col("__cnorm")))
          .otherwise(lit(0.0)).as("__csim"))
      .withColumn("__r", row_number().over(routeW))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("centroid_id"))
    val members = index.select(col("centroid_id"), col(idCol),
        sqRecon(col("sq_code"), p).as("__rv"))
      .select(col("centroid_id"), col(idCol), col("__rv"),
        norm(col("__rv")).as("__rn"))
    val approx = members.join(routed, Seq("centroid_id"))
      .select(col("query_id"), col(idCol),
        when(col("__rn") * col("__qn") > 0,
          dot(col("__rv"), col("__qv")) / (col("__rn") * col("__qn")))
          .otherwise(lit(0.0)).as("__asim"))
      // replica-assigned ids can appear in several probed cells; the score
      // is identical, max is a dedupe
      .groupBy(col("query_id"), col(idCol))
      .agg(max(col("__asim")).as("__asim"))
    val item = struct((-col("__asim")).as("negsim"),
      col(idCol).as("nid"))
    val shortlist = approx
      .groupBy("query_id")
      .agg(boundedTopK(item, rerank).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t.nid").as(idCol))
    val full = embeddings.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("__norm"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    full.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** Scalar-quantized two-stage k-NN: approximate candidates by cosine
    * over the midpoint-RECONSTRUCTED int8 codes, exact full-precision
    * re-rank of the top `rerank` per query — [[pqTopK]]'s shape with the
    * SQ representation (4× smaller candidate scan than raw float32, far
    * higher fidelity than PQ's 32×). Candidate top-`rerank` is the
    * O(rerank)-state [[boundedTopK]] aggregate; only rerank × queries ids
    * join back (broadcast-able by construction) for the true-cosine
    * ranking. Returns (query_id, idCol, cosine_sim, rank ≤ k).
    */
  def sqTopK(
      encoded: DataFrame, // (idCol, sq_code)
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      p: SqParams,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      rerank: Int): DataFrame = {
    requireQuerySideBounded(queries, "sqTopK",
      "topKJoinIvf over the raw vectors (IVF-routed k-NN, bounded broadcast)")
    val recon = sqRecon(col("sq_code"), p)
    val e = encoded.select(col(idCol), recon.as("__rv"))
      .select(col(idCol), col("__rv"), norm(col("__rv")).as("__rn"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      norm(col(qVecCol)).as("__qn"))
    val cand = e.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        when(col("__rn") * col("__qn") > 0,
          dot(col("__rv"), col("__qv")) / (col("__rn") * col("__qn")))
          .otherwise(lit(0.0)).as("__asim"))
    val item = struct((-col("__asim")).as("negsim"),
      col(idCol).as("nid"))
    val shortlist = cand
      .groupBy("query_id")
      .agg(boundedTopK(item, rerank).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t.nid").as(idCol))
    val full = embeddings.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("__norm"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    full.join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        when(col("__norm") * col("__qn") > 0,
          dot(col(vecCol), col("__qv")) / (col("__norm") * col("__qn")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
  }

  /** Per-label mean vector (class prototype) — the centroid table a
    * nearest-centroid classifier, a SemDeDup-style per-class audit, or a
    * prototype-based few-shot retriever consumes.
    *
    * Scale shape: vectors explode to (label, dim_index, component) rows —
    * a shuffle balanced across `labels × dim` keys regardless of label
    * skew — and the per-(label, dim) means reassemble into ordered arrays
    * with a dim-bounded `collect_list`. Per-group state is one dim-length
    * list; the corpus never collects.
    */
  def labelCentroids(
      embeddings: DataFrame,
      labelCol: String,
      vecCol: String): DataFrame = {
    embeddings
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy(col("label"), col("__i"))
      .agg(avg(col("__x").cast("double")).as("__m"),
        count(lit(1)).as("__n"))
      .groupBy(col("label"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__i"), col("__m")))),
          s => s.getField("__m")).as("centroid"),
        max(col("__n")).as("n_vectors"))
  }

  /** Nearest-centroid prediction: assign every vector to the label whose
    * [[labelCentroids]] prototype is most cosine-similar (ties to the
    * lowest label), and report the label × predicted confusion counts —
    * the self-consistency audit of an embedding space's class structure
    * (a label whose members scatter to other prototypes is noisy or
    * duplicated).
    *
    * Scale shape: the centroid table is bounded by the label domain and
    * broadcasts; prediction is a per-row argmax over the broadcast
    * prototypes inside the scan stage (same shape as
    * [[graft.functions.NearestCentroid]]'s IVF assignment), and the
    * confusion aggregate shuffles only (label, predicted) pairs.
    */
  def centroidConfusion(
      embeddings: DataFrame,
      labelCol: String,
      vecCol: String): DataFrame = {
    // Label centroids collect to the driver (bounded by the label domain,
    // the IVF-centroid-collect contract) and unroll into ONE per-row
    // least() over (−cosine, label) structs — the argmax runs inside the
    // scan stage with no per-row shuffle, exactly the documented shape;
    // min of (−sim, label) = highest similarity, ties to the LOWEST label.
    val cents = labelCentroids(embeddings, labelCol, vecCol)
      .select(col("label"), col("centroid"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "centroidConfusion needs at least one label")
    val scored = cents.map { case (lbl, vec) =>
      val cvec = array(vec.map(lit): _*)
      struct((-cosine(col(vecCol), cvec)).as("ns"), lit(lbl).as("p"))
    }
    val best = if (scored.length == 1) scored.head else least(scored: _*)
    embeddings
      .select(col(labelCol).as("label"), best.getField("p").as("predicted"))
      .groupBy("label", "predicted")
      .agg(count(lit(1)).as("n"))
  }
}
