package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.streaming.Drain

/** Deduplication operators for large-scale corpus curation: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale posture: every variant avoids the O(n²) cross join. Exact dedup
  * shuffles on a 128-bit content hash (not the document body). MinHash/LSH
  * shuffles once on (band, signature) buckets; SimHash buckets by signature
  * chunks (pigeonhole: d hamming-distant pairs share a chunk when chunks >
  * d); n-gram Jaccard joins on an inverted shingle index with
  * document-frequency pruning. Candidate verification happens only within
  * buckets.
  */
object Dedup {

  /** Exact dedup: one representative (min `idCol`) per identical `textCol`.
    * GroupBy is on md5(normalized text) so the shuffle key is 16 bytes, not
    * the document; returns (fingerprint, doc count, representative id).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Streaming form of [[exactGroups]]: the identical fingerprint
    * aggregation as a Structured Streaming query over a parquet directory,
    * complete-mode into a memory sink (batch ≡ stream by construction —
    * same deterministic aggregate). At cluster scale the memory sink
    * becomes a parquet/Delta sink in update mode and the streaming state is
    * one (count, min) pair per distinct fingerprint — the continuous-ingest
    * path for corpus dedup, where each micro-batch folds new documents into
    * the running duplicate groups instead of re-scanning the corpus.
    */
  def streamingExactGroups(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      textCol: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$glob").schema
    val agg = Drain.files(spark, dir, glob, schema)
      .groupBy(contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
    // State stores sized to the smoke's state volume, not the session's
    // shuffle width (measured 32 stores ≈ +0.45 s/batch of pure commit
    // overhead on toy state).
    Drain.toMemory(spark, agg, "exact_groups", "complete",
      Drain.smokeStatePartitions)
  }

  /** Production-shape streaming dedup sink: the [[streamingExactGroups]]
    * aggregate in UPDATE output mode, writing through `foreachBatch` into a
    * keyed parquet sink ([[Upsert.upsertKeyedParquet]]). Update mode emits
    * only the fingerprints a micro-batch CHANGED — per-batch sink work is
    * proportional to changed keys and their hash buckets, not the full
    * running state that complete mode re-emits every trigger; streaming
    * state stays one (count, min) pair per distinct fingerprint. This is
    * the 100 TB continuous-ingest contract; the complete-mode memory-sink
    * form remains the oracle/test harness. Returns the sink contents after
    * draining available input. `maxFilesPerTrigger` > 0 bounds each
    * micro-batch (and lets tests prove multi-batch behavior).
    *
    * Replay-safe: the sink's fenced writes resume a crashed batch and its
    * `__pub/b<id>` witness skips a published one, so a restart from
    * `checkpointDir` converges to the uninterrupted result. The witnesses
    * name this checkpoint's batch ids: `sinkDir` belongs to ONE
    * `checkpointDir`, and a new checkpoint needs a new sink dir.
    */
  def streamingExactGroupsUpdate(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      textCol: String,
      sinkDir: String,
      checkpointDir: String,
      nBuckets: Int = 64,
      maxFilesPerTrigger: Int = 0,
      statePartitions: Int = 0): DataFrame = {
    // the sink's __bucket= partition dirs are pmod(hash, nBuckets): a
    // re-run with a drifted count would merge against the wrong buckets
    KeyedState.stampParams(spark, sinkDir, Map("nBuckets" -> nBuckets))
    val schema = spark.read.parquet(s"$dir/$glob").schema
    val agg = Drain.files(spark, dir, glob, schema, maxFilesPerTrigger)
      .groupBy(contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
    // State stores + foreachBatch shuffle width: callers size it to their
    // state volume via `statePartitions`; unset (0) keeps the session
    // width — cluster-safe (see Drain.foreachBatch).
    Drain.foreachBatch(agg, checkpointDir, statePartitions,
        outputMode = "update") { (batch, batchId) =>
      Upsert.upsertKeyedParquet(batch, sinkDir, Seq("fingerprint"),
        nBuckets, batchId)
    }
    // empty-input streams never create the sink (the upsert writer
    // early-returns on empty batches) — that's an empty result, not an error
    Upsert.readKeyedParquet(spark, sinkDir, agg.schema)
  }

  /** Exact dedup keeping whole rows: first row (by `idCol`) per identical
    * normalized text.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(contentFingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Connected components over a near-duplicate PAIR list: (id, cluster_id)
    * where cluster_id is the minimum id in the component. The post-pass
    * that turns pairwise near-dup output ([[minHashNearDuplicates]],
    * [[simHashNearDuplicates]], …) into keep/drop decisions — keep each
    * cluster's minimum, drop the rest — so transitive duplicates
    * (A≈B, B≈C, A̸≈C) collapse to ONE survivor, not two.
    *
    * Min-label propagation WITH pointer doubling: each round first joins
    * labels across edges and keeps the per-node minimum (one hop of
    * propagation), then shortcuts every label through the previous
    * round's label table (`label := label(label)`). The shortcut roughly
    * doubles each node's distance-to-root per round (d → 2d+1), so even a
    * worst-case PATH component of diameter d converges in O(log d)
    * rounds — a 10k-node chain closes in ~12 rounds where plain
    * propagation needs 10k. Dense near-dup cliques still close in 1–2
    * rounds; the log bound is what makes a >1M-edge chained corpus safe
    * instead of a hard `maxIterations` failure. Each round is two hash
    * joins (edge propagation + shortcut against the checkpointed previous
    * labels — a leaf, so the second reference costs no recompute) plus
    * one aggregate of the EDGE list; no corpus-sized state. The
    * convergence check rides the iteration's own checkpoint: each update
    * carries its previous label, so "any label changed?" is a filter over
    * the just-materialized partitions — no extra join or recompute per
    * iteration, one cheap scan action (offline index-build cadence).
    *
    * Each iteration's labels are checkpointed ([[Checkpoints.truncate]]):
    * the update plan references the previous labels TWICE (propagation
    * join + convergence check), so without lineage truncation the logical
    * plan doubles per iteration — planning cost, not data, becomes the
    * bottleneck (and the driver can OOM just materializing the plan string
    * when a downstream operator builds on the result). Checkpointed
    * partitions make each iteration's plan O(1) deep; superseded
    * iterations release their storage immediately, and a session with a
    * reliable checkpoint dir configured (`sc.setCheckpointDir`) gets
    * fault-tolerant checkpoints automatically — the cluster posture.
    */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIterations: Int = 50,
      localEdgeLimit: Long = 1000000L): DataFrame =
    duplicateClustersWithRounds(pairs, idA, idB, maxIterations,
      localEdgeLimit)._1

  /** [[duplicateClusters]] plus the number of distributed rounds it took
    * to converge (0 on the driver-local fast path) — exposed so specs can
    * assert the pointer-doubling log-rounds bound, not just the answer.
    */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIterations: Int = 50,
      localEdgeLimit: Long = 1000000L): (DataFrame, Int) = {
    // Symmetrize with a single-scan explode, NOT a self-union: a union
    // references the pairs plan twice, and when pairs is an unmaterialized
    // near-dup pipeline (banded candidates + two verification joins) the
    // whole pipeline executes once PER BRANCH — the internal pins make
    // the second pass cheaper, not free. One scan, each row emitting both
    // directions, halves the dominant cost of every cluster-building
    // caller (q51/q73/q105/q113/q117/q120).
    val edges = Checkpoints.truncate(pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    // Two-phase auto-switch (the broadcast-join instinct applied to the
    // closure): near-dup edge lists are usually a small fraction of the
    // corpus, and each distributed iteration prices a join + aggregate +
    // checkpoint at a scheduler round trip. Within `localEdgeLimit` the
    // materialized edge list collects once and a driver-local union-find
    // produces the identical min-label components (differential-tested in
    // DedupSimilaritySpec); beyond it — or for non-long ids — the
    // distributed O(diameter) iteration below runs unchanged. 0 disables.
    //
    // Driver-memory bound of the 1M default: one extra count() job plus
    // ≤1M collected (long, long) tuples (~16 MB) and a ≤2M-entry boxed
    // HashMap — worst case ~150 MB transient, safe on any driver sized
    // for Spark at all. This is why the default is ON here while the
    // analogous bpeTrainMerges localVocabLimit defaults OFF: an edge
    // tuple's width is fixed and known a priori, a vocab row carries an
    // unbounded symbol array, so only the caller can bound that collect.
    if (localEdgeLimit > 0 &&
        edges.schema("src").dataType ==
          org.apache.spark.sql.types.LongType &&
        edges.count() <= localEdgeLimit) {
      import pairs.sparkSession.implicits._
      val es = edges.as[(Long, Long)].collect()
      Checkpoints.release(edges)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keys.foreach { id =>
        val r = find(id)
        minOf.update(r, math.min(minOf.getOrElse(r, Long.MaxValue), id))
      }
      return (parent.keys.toSeq.map(id => (id, minOf(find(id))))
        .toDF("id", "cluster_id"), 0)
    }
    var checkpointed = Checkpoints.truncate(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var labels = checkpointed
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("minn"))
      val propagated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("minn"), col("label"))).as("label"),
          col("label").as("old"))
      // Pointer doubling: shortcut each node's label through the PREVIOUS
      // round's label table (label := label(label)). The lookup target is
      // the already-checkpointed `labels` leaf, so the extra reference is
      // one hash join with no recompute; labels remain ids inside the
      // same component (label(u) is a component member, and its previous
      // label is too), so the min-id fixpoint is unchanged — only the
      // round count drops from O(diameter) to O(log diameter).
      val updated = Checkpoints.truncate(propagated
        .join(
          labels.select(col("label").as("__hop"), col("id").as("label")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__hop"), col("label"))).as("label"),
          col("old")))
      converged = updated.filter(col("label") < col("old")).isEmpty
      // The new labels are materialized (truncate is eager) and the
      // convergence check has run — the superseded iteration's blocks can
      // go now, so in-flight storage stays O(1) labels frames for ANY
      // iteration count instead of O(iterations).
      Checkpoints.release(checkpointed)
      checkpointed = updated
      labels = updated.select("id", "label")
      iter += 1
    }
    Checkpoints.release(edges)
    // Non-convergence must be LOUD: returning partially-propagated labels
    // would split one true component into several clusters and keepList
    // would keep multiple copies of the same duplicate chain with no
    // indication anything went wrong. Under pointer doubling the reach
    // after k rounds is ~2^k hops, so the default cap of 50 covers any
    // physically realizable component — hitting it means the input is
    // pathological (or maxIterations was lowered), not merely large.
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIterations " +
          "iterations (component diameter exceeds 2^cap under pointer " +
          "doubling — pathological input); raise maxIterations")
    (labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** The final dedup decision over [[duplicateClusters]] output: drop every
    * non-minimum member of each near-dup cluster; rows in no cluster pass
    * through. One broadcast-able anti join (the drop list is the clustered
    * non-minima — near-dup clusters are a small fraction of a corpus).
    */
  def keepList(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    df.join(
      clusters.filter(col("id") =!= col("cluster_id")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Canonical-selection variant of [[keepList]]: each near-dup cluster
    * keeps its best member by `scoreCol` (highest score; ties to the
    * lowest id) instead of the arbitrary minimum id — the production
    * policy ("keep the longest / highest-quality copy") a release
    * pipeline actually wants. Rows in no cluster pass through.
    *
    * Scale shape: scores join onto the cluster table (cluster rows are a
    * small fraction of the corpus), then TWO hash aggregates pick winners
    * — max score per cluster, then min id among the score-tied — rather
    * than one `max_by` keyed by a struct (whose non-mutable buffer kicks
    * the plan out of HashAggregateExec into sort-based aggregation, the
    * [[graft.functions.NearestCentroid]] lesson). The drop list is the
    * clustered non-winners; one anti join back onto the corpus.
    */
  def keepListBy(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val scored = clusters
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val best = scored.groupBy("cluster_id").agg(max(col("__s")).as("__mx"))
    // Null-safe winner equality: in a cluster whose scores are ALL NULL,
    // max() is NULL and a plain === drops every member — the anti join
    // below would then delete the whole cluster from the corpus (total
    // data loss for that document group). <=> keeps all-NULL clusters'
    // members as ties and the min-id aggregate keeps exactly one, while
    // NULL-scored members of a scored cluster still lose to the max.
    val winners = scored.join(best, "cluster_id")
      .filter(col("__s") <=> col("__mx"))
      .groupBy("cluster_id").agg(min(col("id")).as("id"))
      .select(col("id"))
    val dropIds = clusters.select("id")
      .join(winners, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Exact repeated-SPAN dedup (the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" substring recipe, tiled): fixed-
    * length character windows (`spanLen` chars every `stride`) are hashed
    * corpus-wide; every window content occurring more than once — across
    * documents OR repeated inside one — keeps only its first occurrence
    * (minimum `(doc, pos)`) and every other occurrence's character range
    * is EXCISED from its document. Overlapping excisions merge. This
    * removes duplicated passages embedded in otherwise-unique documents —
    * the mass that document-level dedup ([[exactDedup]], MinHash) cannot
    * see. Returns (idCol, clean text, n_chars_removed).
    *
    * Scale shape: the window pass is a generator explode in the scan
    * stage; the occurrence table shuffles (id, pos, 16-byte md5) — never
    * window text. Duplicated-window groups come from one hash aggregate
    * (count + min-(doc,pos) keeper); occurrences join back on the hash to
    * mark non-keepers (both sides already keyed — one co-partitioned
    * shuffle). Marked ranges collect per document (bounded by
    * len/stride, the document-bounded state contract of
    * [[Curation.assembleSequences]]) and ONE in-row fold excises them
    * cursor-wise, so reassembly never shuffles. Window-hash state is the
    * corpus's distinct-window table — the same footprint as the exact-
    * dedup fingerprint table, partitionable on the hash at any scale.
    */
  def repeatedSpanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int,
      stride: Int): DataFrame = {
    require(spanLen >= 1 && stride >= 1,
      s"spanLen/stride must be >= 1, got $spanLen/$stride")
    // Spread before BOTH per-row passes: the window explode+md5 here and
    // the excision fold in [[exciseMarkedRanges]].
    val spreadDocs = Skew.spreadIfUnderSplit(docs, col(idCol))
    val occ = spreadDocs
      .filter(length(col(textCol)) >= spanLen)
      .select(col(idCol),
        explode(sequence(lit(0), length(col(textCol)) - spanLen,
          lit(stride))).as("__pos"),
        col(textCol))
      .select(col(idCol), col("__pos"),
        md5(col(textCol).substr(col("__pos") + 1, lit(spanLen))).as("__h"))
    // Keeper selection and exclusion compare the id AS-IS: a cast to
    // long nulls out string/UUID ids, and the three-valued filter then
    // silently drops every occurrence — excision becomes a total no-op.
    // struct min orders any orderable id type. The comparison itself is
    // NULL-SAFE (<=>): a NULL doc id sorts first in the struct min, so
    // the keeper's kid can legitimately be NULL, and === against it
    // would evaluate to NULL — filter() silently keeping duplicated
    // spans un-excised in every other document at that position.
    val dupGroups = occ
      .groupBy("__h")
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol).as("kid"),
          col("__pos").as("kpos"))).as("__keep"))
      .filter(col("__n") >= 2)
      .select(col("__h"), col("__keep"))
    val marked = occ.join(dupGroups, "__h")
      .filter(!(col(idCol) <=> col("__keep.kid") &&
        col("__pos") <=> col("__keep.kpos")))
      .select(col(idCol), col("__pos").as("__s"),
        (col("__pos") + spanLen).as("__e"))
    exciseMarkedRanges(spreadDocs, idCol, textCol, marked)
  }

  /** Shared excision tail of [[repeatedSpanDedup]] and
    * [[Curation.excisePassages]]: given `(idCol, __s, __e)` character
    * ranges to remove, collect them per document (bounded by len/stride)
    * and cut them out with ONE in-row cursor fold — overlapping and
    * adjacent ranges merge naturally (the cursor only moves forward), and
    * reassembly never shuffles. Documents with no marked ranges pass
    * through. Returns (idCol, clean_text, n_chars_removed).
    */
  private[ops] def exciseMarkedRanges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      marked: DataFrame): DataFrame = {
    val ranges = marked
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e"))))
        .as("__rs"))
    val zero = struct(lit(0).as("cur"), lit("").as("acc"))
    // Both outputs come from ONE evaluation of the cursor fold: the
    // finish lambda emits (clean_text, n_chars_removed) together, and the
    // explode(array(..)) generator is the project-collapse barrier — the
    // earlier two-output projection re-inlined the whole interpreted fold
    // per output column, doubling the hottest per-row work.
    val resExpr = aggregate(col("__rs"), zero,
      (st, r) => struct(
        greatest(st.getField("cur"), r.getField("__e")).as("cur"),
        concat(st.getField("acc"),
          col(textCol).substr(st.getField("cur") + 1,
            greatest(lit(0), r.getField("__s") - st.getField("cur"))))
          .as("acc")),
      st => {
        val clean = concat(st.getField("acc"),
          col(textCol).substr(st.getField("cur") + 1,
            greatest(lit(0), length(col(textCol)) - st.getField("cur"))))
        struct(clean.as("ct"),
          (length(col(textCol)) - length(clean)).cast("long").as("nr"))
      })
    docs.join(ranges, Seq(idCol), "left_outer")
      .select(col(idCol),
        explode(array(when(col("__rs").isNull,
            struct(col(textCol).as("ct"), lit(0L).as("nr")))
          .otherwise(resExpr))).as("__r"))
      .select(col(idCol), col("__r.ct").as("clean_text"),
        col("__r.nr").as("n_chars_removed"))
  }

  /** One-row dedup audit card over a [[duplicateClusters]] table: corpus
    * size, how many documents sit in a near-dup cluster, how many clusters
    * there are, how many documents canonical selection will drop
    * (clustered − clusters), the largest cluster (the signal that a
    * boilerplate template or mirror site slipped past exact dedup), and
    * the dropped fraction — the release-notes block next to
    * [[Curation.corpusStats]].
    *
    * Scale: aggregates run over the cluster table (a small fraction of the
    * corpus — ids only) plus one corpus count; the three one-row frames
    * cross-join for free.
    */
  def auditCard(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame): DataFrame = {
    val corpus = docs.agg(count(lit(1)).as("n_docs"))
    val flat = clusters.agg(
      count(lit(1)).as("n_clustered"),
      countDistinct(col("cluster_id")).as("n_clusters"))
    val biggest = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("__sz"))
      .agg(coalesce(max(col("__sz")), lit(0L)).as("max_cluster_size"))
    corpus.crossJoin(flat).crossJoin(biggest)
      .select(col("n_docs"), col("n_clustered"), col("n_clusters"),
        (col("n_clustered") - col("n_clusters")).as("n_dropped"),
        col("max_cluster_size"),
        round((col("n_clustered") - col("n_clusters")).cast("double") /
          col("n_docs"), 6).as("dropped_frac"))
  }

  /** LSH quality report: precision/recall of the MinHash BANDING candidate
    * set against exact shingle-set Jaccard ground truth, per threshold —
    * the table that makes (numHashes, bands) tuning self-contained: pick
    * the cheapest banding whose recall at YOUR dedup threshold is
    * acceptable, instead of trusting the 1−(1−s^r)^b curve on faith.
    *
    * One row per threshold: how many pairs truly have J ≥ t (`n_true`),
    * the banding's θ-independent candidate count (`n_cand`), the
    * candidates among the true pairs (`tp`), and precision (tp/n_cand) /
    * recall (tp/n_true, NULL when no true pairs).
    *
    * SCALE: this is an EVALUATION operator — ground truth is exact
    * Jaccard over every pair sharing ≥1 shingle (inverted-index join,
    * no df cut: a capped index would silently inflate recall), which is
    * the quadratic blow-up LSH exists to avoid. Run it on a sample of
    * the corpus to tune parameters, never on the full 100 TB.
    */
  def lshQualityReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholds: Seq[Double],
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3): DataFrame = {
    require(thresholds.nonEmpty, "lshQualityReport needs thresholds")
    val sets = Checkpoints.pin(shingleSets(df, idCol, textCol, shingleLen))
    val sigs = sets.select(col(idCol), minHashOfShingles(col("sh"), numHashes).as("sig"))
    // Referenced twice (tp join + count); pinned so the banded self-join
    // prices once.
    val cand = Checkpoints.pin(bandedCandidates(sigs, idCol, numHashes, bands))
    val inv = sets.select(col(idCol).as("__id"), explode(col("sh")).as("__g"))
    val common = inv.as("a").join(inv.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("__c"))
    val sizes = sets.select(col(idCol).as("__id"), size(col("sh")).as("__n"))
    val truth = common
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__c").cast("double") / (col("__na") + col("__nb") - col("__c"))).as("__j"))
    val th = df.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    // truth × thresholds is |truth| × |thresholds| rows of three numbers —
    // tiny next to the inverted-index join that produced truth.
    val trueAt = truth.crossJoin(th).filter(col("__j") >= col("threshold"))
    val tpAt = trueAt.join(cand, Seq("id_a", "id_b"))
      .groupBy("threshold").agg(count(lit(1)).as("tp"))
    val nTrueAt = trueAt.groupBy("threshold").agg(count(lit(1)).as("n_true"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    th.join(nTrueAt, Seq("threshold"), "left")
      .join(tpAt, Seq("threshold"), "left")
      .crossJoin(nCand)
      .select(col("threshold"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        col("n_cand"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        when(col("n_cand") === 0, lit(null).cast("double"))
          .otherwise(round(coalesce(col("tp"), lit(0L)).cast("double") /
            col("n_cand"), 6)).as("precision"),
        when(coalesce(col("n_true"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(round(coalesce(col("tp"), lit(0L)).cast("double") /
            col("n_true"), 6)).as("recall"))
  }

  /** MinHash signature: `numHashes` per-document minima of hashed shingles.
    * Hash family j is `md5(j || ':' || shingle)` and the minimum is
    * lexicographic — engine-portable (md5 strings compare identically
    * everywhere), deterministic, and UDF-free.
    *
    * Returns (idCol, sig) where sig is array<string> of length numHashes;
    * documents with no shingles get null minima and are dropped.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      shingleLen: Int = 3): DataFrame =
    shingleSets(df, idCol, textCol, shingleLen)
      .select(col(idCol), minHashOfShingles(col("sh"), numHashes).as("sig"))

  /** Per-document distinct shingle sets. The shingle array is computed once
    * and placed BEHIND an exchange barrier: Catalyst's CollapseProject would
    * otherwise inline the tokenize+shingle expression into every downstream
    * reference (8 hash passes, filters, both sides of self-joins) and
    * higher-order-function lambdas are interpreted — the inlining multiplies
    * real work, not just expression-tree size. The repartition also spreads
    * a single-file parquet scan across the executor threads.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(idCol),
        graft.functions.HashExpressions.shingleSet(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
      .repartition(p, col(idCol))
  }

  /** Tight-loop custom expression; semantically identical to
    * `array((0 until k).map(j => array_min(transform(sh, s => md5(j||":"||s)))))`
    * but one row-level call instead of k interpreted array passes.
    */
  private def minHashOfShingles(sh: Column, numHashes: Int): Column =
    graft.functions.HashExpressions.minHashSig(sh, numHashes)

  /** LSH banding over MinHash signatures: documents sharing any band's full
    * signature become candidate near-duplicate pairs (a < b). One shuffle on
    * (band, band signature); bucket sizes bounded by real collision rates.
    */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3): DataFrame =
    bandedCandidates(
      minHashSignatures(df, idCol, textCol, numHashes, shingleLen),
      idCol, numHashes, bands)

  /** (id, band, band_sig) projection of a signature frame: each document
    * emits one row per band carrying that band's concatenated signature
    * rows. Callers pass `sigs` PINNED: the pin is a MATERIALIZATION
    * BARRIER keeping the (expensive) signature expression from being
    * inlined per band reference by CollapseProject — the historical
    * barrier was a `repartition(p, id)`, but every caller reaches here
    * with the shingle frame ALREADY id-partitioned (shingleSets' spread),
    * so that barrier paid a second full-corpus exchange on the same key
    * purely for its optimization-fence side effect (guide §2.4: remove
    * shuffles the data layout already provides). The pin is narrow
    * (id + signature).
    */
  private def bandProjection(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map { b =>
        concat_ws("|", slice(col("sig"), b * rows + 1, rows))
      }: _*)).as(Seq("band", "band_sig")))
  }

  private def bandedCandidates(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, maxBucket: Long = 0L): DataFrame = {
    // Pin the banded projection: self-join attribute deduplication
    // defeats ReuseExchange, so without it the md5 signature pass runs
    // once per join branch.
    val banded = Checkpoints.pin(
      bandProjection(Checkpoints.pin(sigs), idCol, numHashes, bands))
    // Skew guard (same shape as Similarity.lshEmbeddingPairs): a band
    // bucket holding m documents emits m²/2 candidates — an exact-dup
    // mega-cluster (the classic corpus pathology) turns one bucket
    // quadratic. Buckets above maxBucket are anti-joined out; the hot
    // list is small by construction (it IS the pathological tail).
    val pruned =
      if (maxBucket <= 0L) banded
      else {
        val hot = banded.groupBy("band", "band_sig")
          .agg(count(lit(1)).as("__pop"))
          .filter(col("__pop") > maxBucket).select("band", "band_sig")
        banded.join(broadcast(hot), Seq("band", "band_sig"), "left_anti")
      }
    val a = pruned.as("a")
    val b = pruned.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** MinHash near-dup pairs verified by true token-set Jaccard ≥ threshold.
    * Verification joins the (small) candidate set back to token sets —
    * only candidates pay the set-comparison cost.
    *
    * `maxBucket` (0 = unlimited) drops band buckets holding more than that
    * many documents before candidate generation — the guard against
    * exact-duplicate mega-clusters going quadratic inside one bucket. Run
    * [[exactDedup]] first (the cheap operator that removes those clusters
    * wholesale); the cap then only clips pathological residue, and a pair
    * sharing any un-capped band is still found.
    */
  def minHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3,
      maxBucket: Long = 0L): DataFrame = {
    // Shingle sets computed once and pinned: they feed the signature
    // pass and both verification joins, and self-join attribute dedup
    // prevents exchange reuse across those branches.
    val sets = Checkpoints.pin(shingleSets(df, idCol, textCol, shingleLen))
    val sigs = sets
      .select(col(idCol), minHashOfShingles(col("sh"), numHashes).as("sig"))
    val candidates = bandedCandidates(sigs, idCol, numHashes, bands, maxBucket)
    verifyJaccard(candidates
        .join(sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b"),
        threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact shingle-Jaccard verification shared by EVERY banded-candidate
    * path (batch, streaming, cross-corpus): expects `sh_a`/`sh_b` shingle
    * columns, appends `jaccard`, applies the threshold. One definition so
    * a future guard or rounding change cannot drift between the forms. */
  private def verifyJaccard(cand: DataFrame, threshold: Double): DataFrame =
    cand
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)

  /** Hash bucket for the keyed streaming state dirs: a pure function of
    * the key columns, so a probe by key touches exactly one bucket. */
  // Keyed-state discipline (hash-bucket partition dirs, one-file appends,
  // threshold compaction) — shared with the streaming IVF index via
  // [[KeyedState]]; these wrappers fix the `__bucket` column name.
  private def stateBucket(keys: Seq[String], nBuckets: Int): Column =
    KeyedState.bucketColumn(keys, nBuckets).as("__bucket")

  private def touchedBuckets(buckets: DataFrame): Seq[Any] =
    KeyedState.touchedValues(buckets)

  /** Read only the given hash buckets of a `__bucket=K`-partitioned state
    * dir — partition pruning at the scan, so probe cost follows the
    * touched buckets, not the accumulated state size. */
  private def readStateBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, buckets: Seq[Any],
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    // Explicit bucket dirs + basePath instead of a root read with an isin
    // filter: partition DISCOVERY then lists only the touched dirs, not
    // all nStateBuckets of them; the explicit schema (data columns + the
    // __bucket partition column Spark appends last) skips the read's
    // footer-inference job. Both were per-batch protocol costs the idle
    // probe charged to every probe read, independent of batch size.
    // one root listing finds which touched buckets EXIST (a batch can
    // touch a bucket no prior batch wrote; an explicit read of a missing
    // dir would throw where the old isin filter just matched nothing)
    val fs = KeyedState.fsOf(spark, path)
    val present = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .collect { case st if st.getPath.getName.startsWith("__bucket=") =>
        st.getPath.getName.stripPrefix("__bucket=") }.toSet
    val touched = buckets.map(String.valueOf).distinct.filter(present)
    if (touched.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
    val schema = dataSchema.add("__bucket",
      org.apache.spark.sql.types.IntegerType)
    // A bulk batch touching MOST buckets reads the root (1 qualification
    // + discovery over dirs it needs anyway); a trickle batch touching a
    // few reads those dirs explicitly (discovery never lists the idle
    // buckets — the idle-probe regime this read is priced for).
    val base =
      if (touched.size * 2 >= present.size)
        spark.read.schema(schema).parquet(path)
          .filter(col("__bucket").isin(buckets: _*))
      else
        spark.read.schema(schema).option("basePath", path)
          .parquet(touched.map(b => s"$path/__bucket=$b"): _*)
    base.drop("__bucket")
  }

  /** Returns the bucket values this batch actually published into (Nil on
    * a replay skip) — the caller's compaction-candidate list. */
  private def appendStateBuckets(df: DataFrame, path: String,
      keys: Seq[String], nBuckets: Int, batchId: Long): Seq[String] =
    KeyedState.appendPartitionedAtomic(
      df.withColumn("__bucket", stateBucket(keys, nBuckets)),
      path, "__bucket", nBuckets, batchId)

  private def compactStateBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, buckets: Seq[Any], maxFiles: Int): Unit =
    if (buckets.nonEmpty)
      KeyedState.compactPartitions(spark, path, "__bucket", buckets, maxFiles)

  /** Streaming incremental MinHash near-dedup: documents arrive in
    * micro-batches and each batch pays only ITS OWN work — shingle + sign +
    * band the new docs, probe the accumulated band index for cross-batch
    * candidates, verify true Jaccard, and append the new docs' banding and
    * shingle sets to the index. After draining, the pairs sink holds
    * exactly [[minHashNearDuplicates]] of the full corpus (every pair is
    * discovered exactly once: in the batch where its LATER document
    * arrives), independent of how the corpus was split into batches.
    *
    * State shape at scale: the band index is (id, band, band_sig) —
    * `bands × corpus` rows of fixed width; the shingle store is the
    * per-doc token-shingle sets the verifier needs — the same data a
    * batch re-dedup would re-derive from the corpus each run, persisted
    * once and appended incrementally instead. Both stores are HASH-BUCKET
    * PARTITIONED (`__bucket=K` dirs, `nStateBuckets` of them — the
    * [[Upsert.upsertKeyedParquet]] discipline): the band index by its
    * join key (band, band_sig), the shingle store by doc id. Each batch
    * probes ONLY the buckets its own keys hash into — partition pruning
    * at the scan, so cross-batch candidate cost follows the batch's key
    * spread, not the accumulated index size, and the verifier reads only
    * the shingle buckets holding actual candidate ids (for a trickle
    * batch that is a handful of buckets out of `nStateBuckets`, however
    * large the corpus has grown). Appends write one file per touched
    * bucket per batch; any touched bucket that accumulates more than
    * `compactAfterFiles` files is rewritten in place (amortized: at one
    * file/bucket/batch, ≤ one index rewrite per `compactAfterFiles`
    * batches), so the sink's file listing stays O(nStateBuckets).
    * Both stores are append-only in CONTENT (docs never update), and all
    * three writes are KeyedState's staged appends: each skips a replayed
    * batch its `__pub` witness marks published, so a checkpoint-recovery
    * replay — of a fully or a partially applied batch — appends nothing
    * twice. The witnesses name this checkpoint's batch ids: `stateDir`
    * belongs to ONE `checkpointDir`.
    */
  def streamingMinHashNearDuplicates(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      textCol: String,
      stateDir: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3,
      maxFilesPerTrigger: Int = 0,
      nStateBuckets: Int = 32,
      compactAfterFiles: Int = 32,
      statePartitions: Int = 0): DataFrame = {
    val bandedDir = s"$stateDir/banded"
    val shinglesDir = s"$stateDir/shingles"
    val pairsDir = s"$stateDir/pairs"
    // Layout parameters are baked into the stored bytes (bucket dirs are
    // pmod(hash, nStateBuckets); band signatures depend on numHashes/
    // bands/shingleLen) — a re-run with a drifted value would silently
    // probe nonexistent buckets / compare unmatchable signatures and
    // MISS cross-batch pairs. Stamp-and-require instead.
    KeyedState.stampParams(spark, stateDir, Map(
      "nStateBuckets" -> nStateBuckets, "numHashes" -> numHashes,
      "bands" -> bands, "shingleLen" -> shingleLen,
      "threshold" -> threshold))
    val schema = spark.read.parquet(s"$dir/$glob").schema
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    // Scoped shuffle width for the whole drain: no SS state store here,
    // but every foreachBatch-internal shuffle (band self-join, candidate
    // distinct, verify joins) runs at this width. Callers size it to
    // their batch/state volume via `statePartitions`; unset keeps the
    // session width (Drain.foreachBatch).
    Drain.foreachBatch(Drain.files(spark, dir, glob, schema, maxFilesPerTrigger),
        checkpointDir, statePartitions) { (batch, batchId) =>
      // Heal any compaction swap a previous run's crash interrupted
      // BEFORE this batch probes the stores (one `exists` each when
      // clean — see KeyedState's crash-safety protocol).
      KeyedState.repairPartitions(spark, bandedDir)
      KeyedState.repairPartitions(spark, shinglesDir)
      KeyedState.repairFlat(spark, pairsDir)
      // Every pin this batch makes is released at the end of the batch.
      val sets = Checkpoints.pin(shingleSets(batch, idCol, textCol, shingleLen))
      val sigs = Checkpoints.pin(
        sets.select(col(idCol), minHashOfShingles(col("sh"), numHashes).as("sig")))
      val banded = Checkpoints.pin(bandProjection(sigs, idCol, numHashes, bands))
      // Within-batch candidates: the batch's own band self-collisions.
      val within = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_sig") === col("b.band_sig") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_new"), col(s"b.$idCol").as("id_other"))
      // Cross-batch candidates: probe ONLY the band-index buckets this
      // batch's (band, band_sig) keys hash into — the bucket is a pure
      // function of the join key, so every possible collision lives in
      // a touched bucket and the pruned probe is exactly equivalent to
      // a full-index join. (Bucket computation is skipped entirely on
      // the first batch — there is no index to probe yet.)
      val hasIndex = exists(bandedDir)
      val bandBuckets = if (hasIndex) touchedBuckets(
        banded.select(stateBucket(Seq("band", "band_sig"), nStateBuckets)))
      else Nil
      val cross = if (bandBuckets.nonEmpty) Some(
        banded.withColumnRenamed(idCol, "id_new").join(
          readStateBuckets(spark, bandedDir, bandBuckets, banded.schema)
            .withColumnRenamed(idCol, "id_other"),
          Seq("band", "band_sig"))
          .select("id_new", "id_other"))
      else None
      // The id inequality is belt-and-braces for the self-pair case: if
      // the band index already holds this batch's bands (a replay after
      // the band append published), the cross probe would pair each
      // doc with itself at jaccard 1.0.
      val candRaw = cross.fold(within)(within.unionByName(_))
        .filter(col("id_new") =!= col("id_other"))
        .distinct()
      // The verifier needs shingle sets only for docs that actually
      // appear as candidates: batch docs come from `sets` (in memory);
      // prior docs from the id-bucketed shingle store, pruned to the
      // buckets the candidate id_others hash into. Pin + bucket
      // collect only when a store exists to prune (from the second
      // batch on) — candidates are consumed twice then and are small
      // by LSH construction.
      val hasShingles = exists(shinglesDir)
      val cand = if (hasShingles) Checkpoints.pin(candRaw) else candRaw
      val shBuckets = if (hasShingles) touchedBuckets(
        cand.select(stateBucket(Seq("id_other"), nStateBuckets)))
      else Nil
      // Anti-join the store against the batch's own ids: normally a
      // no-op (the store holds only PRIOR batches), but on a replay
      // whose shingle append already landed, the batch's
      // docs would otherwise appear on BOTH sides of the union and
      // every candidate row would verify twice.
      val others = if (shBuckets.nonEmpty)
        sets.unionByName(
          readStateBuckets(spark, shinglesDir, shBuckets, sets.schema)
            .join(sets.select(idCol), Seq(idCol), "left_anti"))
      else sets
      val verified = verifyJaccard(cand
          .join(sets.select(col(idCol).as("id_new"), col("sh").as("sh_a")), "id_new")
          .join(others.select(col(idCol).as("id_other"), col("sh").as("sh_b")), "id_other"),
          threshold)
        .select(least(col("id_new"), col("id_other")).as("id_a"),
          greatest(col("id_new"), col("id_other")).as("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        // The candidate distinct() is ORIENTED (id_new, id_other): when
        // a replayed batch's bands already sit in the index, a within-
        // batch pair surfaces both as (a,b) from the self-join and as
        // (b,a) from the cross probe, and only HERE — after the
        // least/greatest normalization — do the two collapse. Without
        // this a replay would append duplicate pairs rows.
        .distinct()
      // The verified-pairs plan has exactly ONE consumer (the staged
      // append below — the append's old pre-write isEmpty guard is
      // gone; emptiness is detected from the staged output), so it is
      // NOT checkpointed: the staged write computes the candidate +
      // jaccard-verify joins once, directly over the pinned
      // sets/banded/cand frames. A duplicate-free batch stages one
      // 0-row schema file, which reads back as the empty pair set.
      // The three sink writes are mutually independent (pairs, band
      // index, shingle store — the next batch reads the indexes only
      // after this foreachBatch returns). The pairs write runs FIRST,
      // sequentially: its verified plan materializes the sets/banded
      // caches, so the two index appends that then overlap as
      // concurrent jobs are pure cache reads (launching all three
      // together would race the first batch's cache materialization
      // across threads — duplicated shingle/signature compute). Index
      // appends still happen AFTER candidate generation: a doc never
      // pairs with itself, and the next batch sees this one's state.
      // Each append lands one file per touched bucket; oversized
      // buckets are compacted in place so the listing stays
      // O(nStateBuckets). (Compaction scans bucket DIRS, not data — a
      // driver fs listing over ≤ nStateBuckets dirs per store; nothing
      // fires until some bucket accumulates compactAfterFiles files.)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // Replay: a crash after SOME (or all) writes published replays
      // the whole batch — candidate generation is re-derivation (the
      // store anti-join, id inequality, and post-normalization distinct
      // above make the replayed pairs identical even against a
      // half-appended index) — and each staged append skips itself when
      // its `__pub` witness shows it already published, so nothing
      // double-appends. A crash INSIDE one write's own job commit is
      // closed too: the staged append writes to a fenced sibling dir and
      // publishes by per-file atomic renames, so a torn commit never
      // lands partial files in the live tree.
      def pairsWrite(): Unit =
        // one file: the verified-pairs frame is small (candidates that
        // survived the jaccard cut) but inherits the verify plan's
        // partitioning — without it every batch appends up to
        // shuffle-partitions files; with it, one.
        try KeyedState.appendFlatAtomic(verified, pairsDir, 1, batchId)
        finally Checkpoints.release(cand)
      // Each index append returns the bucket values it published — the
      // compaction-candidate list (only a bucket that just gained a file
      // can newly cross the compaction threshold; sweeping ALL
      // nStateBuckets dirs per batch was 2×nStateBuckets listings of
      // mostly-idle dirs). On a replay skip the list is Nil and
      // compaction waits for the next real append — opportunistic by
      // the documented contract.
      def bandedWrite(): Seq[String] =
        appendStateBuckets(banded, bandedDir, Seq("band", "band_sig"),
          nStateBuckets, batchId)
      def shinglesWrite(): Seq[String] =
        appendStateBuckets(sets, shinglesDir, Seq(idCol), nStateBuckets,
          batchId)
      // Injected-crash point "minhash_mid_writes" (test-only, see
      // [[Failpoint]]): the index appends publish WITH their witnesses,
      // the pairs append does not — the partial-batch crash the
      // replay-safe regeneration above exists for, produced through a
      // genuinely failing query rather than a hand-edited state dir.
      // Writes run sequentially here so the crash state is
      // deterministic; the production path below is untouched.
      if (Failpoint.armed(spark, "minhash_mid_writes", batchId)) {
        bandedWrite(); shinglesWrite()
        Checkpoints.release(cand)
        Failpoint.hit(spark, "minhash_mid_writes", batchId)
      }
      pairsWrite() // sequential: materializes the sets/banded caches
      val (pubBanded, pubShingles) = {
        val b = Future(bandedWrite())
        val s = Future(shinglesWrite())
        import scala.concurrent.duration.Duration.Inf
        (Await.result(b, Inf), Await.result(s, Inf))
      }
      // Compaction runs AFTER the appends published: it is idempotent
      // and content-preserving, so re-running it on replay is free.
      // Crash safety of the rewrites themselves (and healing of
      // interrupted swaps) lives in KeyedState's staged-swap + repair
      // protocol.
      KeyedState.compactFlat(spark, pairsDir, compactAfterFiles)
      compactStateBuckets(spark, bandedDir, pubBanded, compactAfterFiles)
      compactStateBuckets(spark, shinglesDir, pubShingles,
        compactAfterFiles)
      Seq(sets, sigs, banded).foreach(Checkpoints.release)
      // Injected-crash point "minhash_post_writes" (test-only): every
      // state write published with its witness, but the checkpoint
      // commit has not — on restart Spark replays the batch and every
      // staged append must skip its already-published write.
      Failpoint.hit(spark, "minhash_post_writes", batchId)
    }
    // A crash in a PREVIOUS invocation may have interrupted the pairs
    // compaction with no new batch arriving to heal it — repair before
    // the final read (no-op normally).
    KeyedState.repairFlat(spark, pairsDir)
    if (exists(pairsDir)) spark.read.parquet(pairsDir)
    else {
      // A duplicate-free corpus must still yield the pairs schema so
      // callers can select/orderBy id_a without special-casing.
      val idType = schema(schema.fieldIndex(idCol)).dataType
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id_a", idType),
          org.apache.spark.sql.types.StructField("id_b", idType),
          org.apache.spark.sql.types.StructField("jaccard",
            org.apache.spark.sql.types.DoubleType))))
    }
  }

  /** Cross-corpus MinHash near-dup pairs: corpus documents whose token-
    * shingle Jaccard against some REFERENCE document meets `threshold` —
    * the "dedup the new crawl against the existing corpus" step of
    * incremental corpus assembly, and the fuzzy complement of exact
    * n-gram decontamination ([[Curation.decontaminate]]).
    *
    * Scale shape: each side bands independently (one signature pass per
    * corpus), candidates come from the (band, band_sig) equi-join of
    * corpus buckets against reference buckets — never corpus × reference —
    * and only candidates pay true-Jaccard verification. Both sides use the
    * same md5 hash family, so a persisted reference banding is reusable
    * across successive crawls (the reference pass is paid once, not per
    * increment). Returns (corpus_id, ref_id, jaccard).
    */
  def crossCorpusNearDuplicates(
      corpus: DataFrame,
      corpusIdCol: String,
      reference: DataFrame,
      refIdCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3): DataFrame = {
    // Shingle sets are pinned because each feeds its signature pass AND
    // the verification join; the two sides are distinct frames, so unlike
    // the self-join path the candidate join itself needs no extra barrier.
    val corpusSets = Checkpoints.pin(shingleSets(corpus, corpusIdCol, textCol, shingleLen))
    val refSets = Checkpoints.pin(shingleSets(reference, refIdCol, textCol, shingleLen))
    def sigsOf(sets: DataFrame, id: String): DataFrame = Checkpoints.pin(
      sets.select(col(id), minHashOfShingles(col("sh"), numHashes).as("sig")))
    val bandedCorpus =
      bandProjection(sigsOf(corpusSets, corpusIdCol), corpusIdCol, numHashes, bands)
        .withColumnRenamed(corpusIdCol, "corpus_id")
    val bandedRef =
      bandProjection(sigsOf(refSets, refIdCol), refIdCol, numHashes, bands)
        .withColumnRenamed(refIdCol, "ref_id")
    verifyJaccard(bandedCorpus.join(bandedRef, Seq("band", "band_sig"))
        .select("corpus_id", "ref_id").distinct()
        .join(corpusSets.select(col(corpusIdCol).as("corpus_id"), col("sh").as("sh_a")),
          "corpus_id")
        .join(refSets.select(col(refIdCol).as("ref_id"), col("sh").as("sh_b")),
          "ref_id"),
        threshold)
      .select(col("corpus_id"), col("ref_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash of the token stream: bit b is set when the
    * frequency-weighted sum over tokens of ±1 — according to bit (b%4) of
    * hex digit b/4 of md5(token) — is positive. md5-derived bits keep the
    * signature engine-portable (a SQL oracle reproduces it exactly); the
    * fold itself is one tight row-level loop in
    * [[graft.functions.HashExpressions.SimHash64]].
    */
  def simHash(text: Column): Column =
    graft.functions.HashExpressions.simHash64(tokens(text))

  /** SimHash near-dup candidates: pairs whose signatures share at least one
    * of `chunks` equal 16-bit chunks (pigeonhole guarantee: any pair within
    * hamming distance < chunks shares one), verified by true hamming
    * distance ≤ maxHamming.
    */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    // chunks = 1 would compute mask (1L << 64) − 1 = 0 (Scala shifts mod
    // 64): every document lands in ONE bucket and the self-join silently
    // becomes the full O(n²) cross product the header promises to avoid.
    // (chunks ≤ maxHamming is allowed: recall is then the documented
    // shared-chunk HEURISTIC, not the pigeonhole guarantee — callers use
    // loose maxHamming values deliberately.)
    require(chunks >= 2 && chunks <= 64,
      s"chunks must be in [2, 64], got $chunks")
    val width = 64 / chunks
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Barrier between the (expensive, interpreted) simhash fold and the
    // chunk projection that references it once per chunk; the self-join
    // branches share the downstream exchange via ReuseExchange.
    val sigs = df
      .select(col(idCol), simHash(col(textCol)).as("sim"))
      .repartition(p, col(idCol))
    val chunked = Checkpoints.pin(sigs.select(col(idCol), col("sim"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("sim"), c * width).bitwiseAND((1L << width) - 1)
      }: _*)).as(Seq("chunk", "chunk_val"))))
    val a = chunked.as("a")
    val b = chunked.as("b")
    val hamming = {
      val x = col("a.sim").bitwiseXOR(col("b.sim"))
      bit_count(x)
    }
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** n-gram Jaccard near-dup pairs via an inverted shingle index: explode
    * distinct n-grams, self-join on the n-gram, count shared grams, compute
    * |∩| / (|A| + |B| - |∩|). `maxDocFreq` prunes stop-shingles that would
    * otherwise blow up the index join (standard df-cut).
    *
    * `gramFraction` (default 1.0 = every gram) is the index-size dial for
    * corpus scale: keep only grams whose md5 prefix falls under the
    * fraction — the deterministic hash-sample from [[Sampling]], applied
    * to the GRAM value, so the same grams survive in every document and
    * the similarity is computed consistently over the sampled gram
    * universe (identical documents still score 1.0 at any fraction; the
    * metric becomes an estimate of the full-universe value with variance
    * ~1/(fraction × grams-per-doc)). The char-8-gram index is ~6–7× the
    * word-gram index per byte of text — this is the documented way to buy
    * it back (fraction 0.25 ⇒ a quarter of the index, shuffle, and join
    * work). External engines reproduce the selection exactly (md5 prefix
    * compare — the q50 oracle pattern).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      threshold: Double = 0.5,
      maxDocFreq: Long = 1000,
      gramFraction: Double = 1.0): DataFrame =
    ngramIndexPairs(df, idCol, textCol, n, threshold, maxDocFreq,
      jaccard = true, gramFraction = gramFraction)

  /** Near-CONTAINMENT pairs: overlap coefficient |∩| / min(|A|, |B|) ≥
    * threshold over character n-gram sets. Catches a document embedded
    * inside a larger one (quote pages, wrapper boilerplate around a copied
    * article) — pairs Jaccard misses because the size asymmetry dilutes
    * |∪|. Same inverted-index + df-pruning shape as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      threshold: Double = 0.8,
      maxDocFreq: Long = 1000,
      gramFraction: Double = 1.0): DataFrame =
    ngramIndexPairs(df, idCol, textCol, n, threshold, maxDocFreq,
      jaccard = false, gramFraction = gramFraction)

  private def ngramIndexPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Long,
      jaccard: Boolean,
      gramFraction: Double = 1.0): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Normalize once per row behind a barrier, then explode the grams; no
    // md5/regex work remains below the barrier, so branch recomputation of
    // the exploded index is cheap and ReuseExchange shares the shuffles.
    //
    // Gram representation: at fraction 1.0 the index carries 64-BIT GRAM
    // HASHES ([[graft.functions.HashExpressions.NgramHashSet]]) — the
    // explode, pin, df-cut aggregate and gram self-join move fixed-width
    // longs, not n-char strings (only ids and set-size ratios are output).
    // Join identity is the hash (see its collision note); CurationPropertySpec
    // "ngramJaccardPairs (hashed gram index) ≡ naive jaccard with df pruning"
    // and "ngramHashSet distinctness ≡ ngramSet (incl. non-ASCII text)" guard
    // it. The fractional-sampling path keeps STRING grams: its hash-sample
    // selection is the gram's md5 (the q50 oracle pattern), which external
    // engines replay on the gram text.
    val normed = df
      .select(col(idCol), normalized(col(textCol)).as("__norm"))
      .repartition(p, col(idCol))
    val grams = Checkpoints.pin(if (gramFraction >= 1.0)
      normed.select(col(idCol),
        explode(graft.functions.HashExpressions.ngramHashSet(col("__norm"), n))
          .as("gram"))
    else
      normed.select(col(idCol),
          explode(graft.functions.HashExpressions.ngramSet(col("__norm"), n))
            .as("gram"))
        .filter(Similarity.hashSample(col("gram"), gramFraction)))
    // Anti-join against the (small) stop-shingle list: broadcasting the few
    // over-frequent grams scales; broadcasting the full index would not.
    val stopGrams = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("gram")
    // Pinned: feeds the size aggregate and both sides of the gram
    // self-join.
    val pruned = Checkpoints.pin(grams.join(broadcast(stopGrams), Seq("gram"), "left_anti"))
    val sizes = pruned.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val common = pruned.as("a")
      .join(pruned.as("b"),
        col("a.gram") === col("b.gram") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("common"))
    val joined = common
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_grams", "na"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
    val (metric, name) =
      if (jaccard)
        (col("common").cast("double") / (col("na") + col("nb") - col("common")),
          "jaccard")
      else
        (col("common").cast("double") / least(col("na"), col("nb")), "overlap")
    joined
      .withColumn(name, metric)
      .filter(col(name) >= threshold)
      .select(col("id_a"), col("id_b"), round(col(name), 6).as(name))
  }
}
