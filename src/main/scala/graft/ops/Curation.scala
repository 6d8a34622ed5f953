package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, cross-document
  * boilerplate removal, and sequence packing.
  *
  * Scale posture mirrors [[Dedup]]: no O(n²) joins, shuffle keys are
  * 16-byte md5 fingerprints (never document bodies), small derived sets
  * (benchmark n-grams, boilerplate segments) are broadcast, and row-level
  * work is either codegen'd built-ins or the tight-loop expressions from
  * [[graft.functions.HashExpressions]] — no UDFs anywhere.
  */
object Curation {

  /** Per-document benchmark-overlap report: how many distinct word n-grams
    * of each document also occur in an evaluation benchmark — the standard
    * "n-gram decontamination" check run before training (matching the
    * published recipes: exact word-13-gram collision against the eval set;
    * `n` is the dial).
    *
    * Returns (idCol, n_grams, matched_grams, contaminated) — one row per
    * input document, `contaminated = matched_grams >= minMatches` (docs
    * shorter than `n` tokens have n_grams = 0 and are never contaminated).
    *
    * Scale shape: the benchmark's distinct-gram fingerprint set is tiny
    * relative to the corpus (eval sets are MBs where the corpus is TBs), so
    * it ships with the plan as a sorted fp-pair array (bounded collect,
    * `spark.graft.maxBenchGrams`) and the whole report is ONE codegen row
    * pass over the docs scan ([[graft.functions.HashExpressions.GramMatchStats]])
    * — zero joins, zero shuffles. See [[contaminationAgainst]]'s doc for
    * the full plan rationale and the eager-job caveat.
    */
  def contaminationReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minMatches: Int = 1): DataFrame =
    contaminationAgainst(docs, idCol, textCol,
      benchGramFingerprints(bench, benchTextCol, n), n, minMatches)

  /** A benchmark's distinct gram fingerprints — the broadcast side shared
    * by both report forms, [[saveBenchmarkIndex]], and the streaming
    * variants. */
  private def benchGramFingerprints(
      bench: DataFrame, benchTextCol: String, n: Int): DataFrame = bench
    .select(graft.functions.HashExpressions.shingleSet(col(benchTextCol), n).as("__sh"))
    .select(explode(col("__sh")).as("__gram"))
    .select(md5(col("__gram")).as("__fp"))
    .distinct()

  /** The shared report body: corpus grams against a prepared benchmark
    * fingerprint frame. ONE definition so the raw-text and persisted-index
    * forms cannot drift.
    *
    * Scale shape (round 13): every output is DOCUMENT-LOCAL given the
    * benchmark gram set, and the previous plan already forced that set to
    * broadcast — so collecting it (bounded, `spark.graft.maxBenchGrams`)
    * adds no new memory constraint while deleting the plan's one
    * corpus-scale exchange: the (id, gram-array) repartition the size
    * aggregate and the match semi-join both read (the composed-chain
    * ladder's dominant stage — q63.decon 9.0 GB shuffle / 125 s at 8M
    * docs). The whole report is now ONE codegen row pass
    * ([[graft.functions.HashExpressions.GramMatchStats]]: distinct
    * k-shingles, md5-match against the sorted bench fp pairs shipped with
    * the plan) — zero joins, zero exchanges, identical tokenization
    * (shared [[graft.functions.HashExpressions.shingleSetEval]] loop)
    * and identical md5-equality semantics.
    *
    * Runs ONE eager Spark job at call time (the bounded bench-gram
    * collect) — the [[Similarity]] query-side-bound laziness exception.
    * A REFERENCE side too big for any broadcast is the structurally
    * different problem [[noveltyReport]] solves (both sides shuffle on
    * fingerprints, anti-join); the cap's error message points there.
    */
  /** Bounded collect of a benchmark fingerprint frame into the sorted
    * (hi, lo) pair array the row-local match passes ship with the plan —
    * shared by [[contaminationAgainst]] and [[decontaminate]]. One eager
    * Spark job; fail-loud past `spark.graft.maxBenchGrams`. */
  private def benchFpArray(
      spark: org.apache.spark.sql.SparkSession,
      benchGrams: DataFrame): Array[Long] = {
    val cap = spark.conf
      .getOption("spark.graft.maxBenchGrams").getOrElse("2000000").toLong
    require(cap <= 0 || cap < Int.MaxValue,
      s"spark.graft.maxBenchGrams=$cap: a gram set that large cannot " +
        "ship with the plan anyway; set <= 0 to disable the cap")
    val rows =
      (if (cap > 0) benchGrams.select("__fp").limit(cap.toInt + 1)
       else benchGrams.select("__fp"))
        .collect().map(_.getString(0))
    require(cap <= 0 || rows.length <= cap,
      s"contamination check: the benchmark gram set exceeds " +
        s"spark.graft.maxBenchGrams=$cap fingerprints; it ships to every " +
        "task, so this path is valid only while the benchmark is much " +
        "smaller than the corpus. For a corpus-scale REFERENCE side use " +
        "noveltyReport (both sides shuffle on fingerprints), or raise " +
        "the cap.")
    graft.functions.HashExpressions.sortedFpPairsFromHex(rows)
  }

  private def contaminationAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchGrams: DataFrame,
      n: Int,
      minMatches: Int): DataFrame = {
    val fps = benchFpArray(docs.sparkSession, benchGrams)
    val stats =
      graft.functions.HashExpressions.gramMatchStats(col(textCol), n, fps)
    docs.select(col(idCol), stats.as("__s"))
      .select(col(idCol),
        coalesce(col("__s.n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("__s.matched_grams"), lit(0L)).as("matched_grams"),
        (coalesce(col("__s.matched_grams"), lit(0L)) >= minMatches)
          .as("contaminated"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus: what
    * fraction of each document's distinct word n-grams the reference has
    * never seen — the memorization/near-duplication audit run when
    * deciding whether a crawl increment adds information or re-serves the
    * existing corpus (high novelty = genuinely new text; near-zero
    * novelty = already covered, a dedup candidate the MinHash pipeline
    * may have missed across paraphrase boundaries at small n).
    *
    * The structural difference from [[contaminationReport]]: the
    * reference side is CORPUS-scale (a benchmark is MBs; the seen corpus
    * is TBs), so its distinct-gram set cannot broadcast — both sides
    * shuffle on 16-byte md5 gram fingerprints into ONE left join that
    * marks each gram seen/unseen, and one aggregate carries both per-doc
    * counts, the shape that stays balanced at any corpus ratio.
    * Gram extraction is the [[graft.functions.HashExpressions.ShingleSet]]
    * tight loop on both sides.
    *
    * Returns `(idCol, n_grams, novel_grams, novelty_ppm)` —
    * `novelty_ppm = floor(novel/n_grams·10⁶ + 0.5)` (the q139 tie-proof
    * discipline), NULL for docs with no n-grams.
    */
  def noveltyReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      refTextCol: String,
      n: Int = 3): DataFrame = {
    def grams(df: DataFrame, textC: String, cols: Column*): DataFrame = df
      .select(cols :+
        graft.functions.HashExpressions.shingleSet(col(textC), n).as("__sh"): _*)
      .select(cols :+ explode(col("__sh")).as("__gram"): _*)
      .select(cols :+ md5(col("__gram")).as("__fp"): _*)
    // BOTH per-doc counts come out of ONE pass over the exploded gram
    // frame: a LEFT join against the reference fps marks each gram seen/
    // unseen (refGrams is distinct, so no row duplication) and a single
    // groupBy(id) carries total + unseen together. The earlier shape
    // anti-joined for the novel count and ran a SECOND corpus-scale
    // groupBy(id) for the totals, which forced a persist of the
    // ~gram-multiplied corpus frame (two consumers) plus a second join
    // back on the id — a cache dependency of corpus × n_grams bytes that
    // cannot exist at real scale (NoveltyVariantProbe adjudicates the
    // shapes; the left-join rows into the aggregate map-side-combine to
    // the same O(docs) exchange the anti-join's subset did).
    val docGrams = grams(docs, textCol, col(idCol))
    val refGrams = grams(ref, refTextCol).select("__fp").distinct()
    val perDoc = docGrams
      .join(refGrams.withColumn("__seen", lit(1)), Seq("__fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__seen").isNull, 1)).as("novel_grams"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
      // round-half-up ppm in pure Long arithmetic (the fertilityReport
      // discipline): engine-exact by construction, not by two engines
      // mirroring one IEEE expression
      .select(col(idCol), col("n_grams"), col("novel_grams"),
        when(col("n_grams") > 0, expr(
          "(novel_grams div n_grams) * 1000000L" +
            " + (2L * (novel_grams % n_grams) * 1000000L + n_grams)" +
            " div (2L * n_grams)")).as("novelty_ppm"))
  }

  /** Persist a benchmark's distinct gram fingerprints — the
    * decontamination index. Building it scans the benchmark once; probing
    * ([[contaminationReportWithIndex]]) then costs one broadcast of the
    * stored fingerprints per ingest batch, never re-shingling the
    * benchmark. Mirrors [[Similarity.saveIvfIndex]]: build once, amortize
    * over every batch/probe.
    */
  def saveBenchmarkIndex(
      bench: DataFrame,
      benchTextCol: String,
      n: Int,
      path: String): Unit = {
    benchGramFingerprints(bench, benchTextCol, n)
      .write.mode("overwrite").parquet(path)
    // Stamp the gram width the fingerprints were built with: probing an
    // n=8 index with n=13 doc grams can never match and would read as a
    // clean corpus — the reader refuses the mismatch loudly instead.
    import bench.sparkSession.implicits._
    Seq(n).toDF("n").write.mode("overwrite").parquet(s"$path/_gram_n")
  }

  /** [[contaminationReport]] against a persisted benchmark index
    * ([[saveBenchmarkIndex]]) instead of raw benchmark text. Same result
    * frame; the benchmark side is a parquet scan of fingerprints.
    */
  def contaminationReportWithIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      n: Int = 13,
      minMatches: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexPath/_gram_n")
    // The stamp is REQUIRED, not optional: saveBenchmarkIndex writes it
    // after the fingerprint data, so a build that died between the two
    // leaves an index that LOOKS complete — treating the missing stamp as
    // "skip the check" would let an n-mismatched probe read as a clean
    // corpus, exactly the silent failure the stamp exists to make loud.
    require(metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(metaPath),
      s"benchmark index at $indexPath has no _gram_n stamp — either it " +
        "was not built by saveBenchmarkIndex, or the build died before " +
        "stamping; rebuild the index")
    val indexN = spark.read.parquet(metaPath.toString).head().getInt(0)
    require(indexN == n,
      s"benchmark index at $indexPath was built with n=$indexN grams; " +
        s"probing with n=$n would silently report zero contamination")
    contaminationAgainst(docs, idCol, textCol,
      spark.read.parquet(indexPath), n, minMatches)
  }

  /** Streaming form of the contamination check: the same gram-collision
    * count over documents arriving through `readStream`, returning the
    * BLOCKLIST (doc_id, matched_grams) of contaminated documents — the
    * frame a continuous-ingest pipeline anti-joins at write time. The
    * benchmark side is STATIC and bounded by contract, so — exactly as
    * the batch form — its fingerprints ship with the plan inside the
    * row-local [[graft.functions.HashExpressions.GramMatchStats]] pass:
    * each micro-batch is a STATELESS projection + filter (append mode),
    * zero joins, zero shuffles, no aggregate state to re-emit per
    * trigger. The pre-round-13 shape re-broadcast the bench grams into a
    * stream-static join every micro-batch and held a complete-mode
    * count whose FULL state re-emitted per trigger — O(matched docs)
    * per batch. Matched counts are per arriving row (a document arrives
    * whole); keyed last-write semantics for re-ingested ids live in
    * [[streamingContaminationBlocklistUpdate]]. Batch ≡ stream by
    * construction and oracle-gated against the batch formulation.
    */
  def streamingContaminationBlocklist(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minMatches: Int = 1,
      streamFilter: Column = lit(true),
      queryName: String = "graft_streaming_contamination"): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$glob").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir)
      .filter(streamFilter)
    // One eager bounded collect at construction (the batch form's
    // contract); the fp array then rides the plan into every micro-batch
    // — nothing static re-executes per trigger.
    val fps = benchFpArray(spark, benchGramFingerprints(bench, benchTextCol, n))
    val matched = stream
      .select(col(idCol),
        coalesce(
          graft.functions.HashExpressions.gramMatchStats(col(textCol), n, fps)
            .getField("matched_grams"),
          lit(0L)).as("matched_grams"))
      // only matched docs reach the sink — the same bound the old
      // inner-join shape gave the complete-mode table
      .filter(col("matched_grams") >= 1L)
    val q = matched.writeStream.outputMode("append")
      // memory sink → RAM-backed WAL (durability-class match; see
      // KeyedState.ephemeralCheckpointDir)
      .option("checkpointLocation",
        graft.ops.KeyedState.ephemeralCheckpointDir("graft-contam-ckpt"))
      .format("memory").queryName(queryName).start()
    try {
      q.processAllAvailable()
      spark.table(queryName).filter(col("matched_grams") >= minMatches)
    } finally q.stop()
  }

  /** Production-shape variant of [[streamingContaminationBlocklist]]: the
    * same stateless row-local match pass, written through `foreachBatch`
    * into a keyed parquet sink ([[graft.ops.Upsert.upsertKeyedParquet]])
    * — each micro-batch upserts only the matched documents it carries,
    * and a RE-INGESTED document id overwrites its previous count (keyed
    * last-write semantics: a re-crawled document's contamination is a
    * property of its CURRENT text, where the old aggregate shape would
    * have summed stale and fresh matches). The `minMatches` cut applies
    * on read-back (the sink keeps raw counts). Returns the blocklist
    * after draining available input. Replay-safe: the row-local pass is
    * deterministic, so a crash-replayed batch upserts identical values.
    */
  def streamingContaminationBlocklistUpdate(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: String,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      sinkDir: String,
      checkpointDir: String,
      n: Int = 13,
      minMatches: Int = 1,
      nBuckets: Int = 64,
      maxFilesPerTrigger: Int = 0,
      statePartitions: Int = 0): DataFrame = {
    // sink buckets are pmod(hash, nBuckets) and the accumulated counts
    // are n-gram-width-specific: drifted re-run parameters would merge
    // against wrong buckets / mix incomparable counts — stamp-and-require
    graft.ops.KeyedState.stampParams(spark, sinkDir,
      Map("nBuckets" -> nBuckets, "n" -> n))
    val schema = spark.read.parquet(s"$dir/$glob").schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val tuned = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader
    // One eager bounded collect at construction; the fp array rides the
    // plan (see streamingContaminationBlocklist).
    val fps = benchFpArray(spark, benchGramFingerprints(bench, benchTextCol, n))
    val matched = tuned.parquet(dir)
      .select(col(idCol),
        coalesce(
          graft.functions.HashExpressions.gramMatchStats(col(textCol), n, fps)
            .getField("matched_grams"),
          lit(0L)).as("matched_grams"))
      .filter(col("matched_grams") >= 1L)
    // Scoped shuffle width for the drain: callers size the upsert's
    // internal shuffles via `statePartitions`; unset keeps the session
    // width (KeyedState.withStatePartitionsFor — cluster-safe).
    graft.ops.KeyedState.withStatePartitionsFor(spark, statePartitions) {
      val q = matched.writeStream.outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.Upsert.upsertKeyedParquet(batch, sinkDir, Seq(idCol), nBuckets)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // an UNCONTAMINATED corpus never creates the sink (the upsert writer
    // early-returns on every empty batch) — the expected clean outcome,
    // which must read back as an empty blocklist, not PATH_NOT_FOUND
    graft.ops.Upsert.readKeyedParquet(spark, sinkDir, matched.schema)
      .filter(col("matched_grams") >= minMatches)
  }

  /** Drop benchmark-contaminated documents: rows of `docs` whose
    * [[contaminationReport]] flag would be false. "Not contaminated" is the
    * report's row-local match statistic compared to `minMatches`, so the
    * operator is a pure filter over the docs scan — zero joins, zero
    * shuffles (the inline comment records the measured anti-join it
    * replaced). Same eager bounded bench-gram collect as the report.
    */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      minMatches: Int = 1): DataFrame = {
    // "Not contaminated" is the same ROW-LOCAL statistic the report
    // computes, so this is a pure filter over the docs scan — no
    // anti-join. The previous shape joined docs against the
    // contaminated-id frame, which planned as a sort-merge join (the
    // filter's pre-AQE size estimate is corpus-scale) and shuffled the
    // whole corpus on the id (measured 592 MB at 2M docs for a
    // zero-exchange-able stage). NULL text has no grams → kept, as the
    // left anti join did.
    val fps = benchFpArray(docs.sparkSession,
      benchGramFingerprints(bench, benchTextCol, n))
    docs.filter(
      coalesce(
        graft.functions.HashExpressions.gramMatchStats(col(textCol), n, fps)
          .getField("matched_grams"),
        lit(0L)) < minMatches)
  }

  /** Remove boilerplate segments — segments (split on a literal separator)
    * that repeat across ≥ `minDocs` DISTINCT documents (headers, footers,
    * cookie banners, license blurbs). Per-document repetition is preserved;
    * only corpus-wide repeats are dropped. Returns (idCol, cleaned text) for
    * EVERY input document — a document made entirely of boilerplate keeps an
    * empty string.
    *
    * Scale shape (broadcast-boiler): per-document DISTINCT segment
    * fingerprints are computed row-locally in one codegen pass
    * ([[graft.functions.HashExpressions.DistinctSegmentFps]]), so the ONLY
    * shuffle is the document-frequency count over bare 16-byte fps with
    * map-side partials — no corpus-scale (id, segment) exchange exists
    * anywhere. The boiler set (df ≥ minDocs, bounded by construction:
    * total segment occurrences / minDocs) is collected bounded
    * (`limit(cap + 1)`, conf `spark.graft.maxBoilerSegments`, default
    * 2000000 ≈ 32 MB of fp pairs; ≤ 0 disables) and each document is
    * rewritten row-locally against the sorted fp-pair array
    * ([[graft.functions.HashExpressions.StripBoilerplate]]) — the output
    * plan is a pure projection over the docs scan: zero joins, zero
    * exchanges. The round-12 composed-chain ladder showed the previous
    * shape's shared segment exchange read twice (df count + anti-join
    * reassembly, ~12 GB/4M docs) as the library's largest single stage;
    * this shape eliminates both reads.
    *
    * NOTE: runs its boiler job eagerly at call time (the df count +
    * bounded boiler collect; with the cell pre-filter active, a cheap
    * cell-count pass first — see [[boilerFps]]) — a deliberate laziness
    * exception, like [[Similarity]]'s query-side bound. A corpus whose
    * boiler set genuinely exceeds the cap fails loud naming the unbounded
    * path: [[stripBoilerplateShuffle]], which keeps the anti-join plan
    * and never collects.
    */
  def stripBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      separator: String = "\n",
      minDocs: Long = 10): DataFrame =
    stripBoilerplate(docs, idCol, textCol, separator, Left(minDocs))

  /** [[stripBoilerplate]] with the threshold as `Left(absolute df)` or
    * `Right(fraction of the corpus)`. The fraction form derives the cut
    * inside the boiler-collect job — a 1-row `count(*) × fraction`
    * aggregate cross-joined into the df filter — multiplying as an exact
    * decimal, so `df >= n × 0.8` agrees with SQL decimal arithmetic at
    * integer boundaries rather than inheriting double rounding.
    */
  def stripBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      separator: String,
      minDocs: Either[Long, Double]): DataFrame = {
    val spark = docs.sparkSession
    val boiler = boilerFps(docs, textCol, separator, minDocs)
    val cap = spark.conf
      .getOption("spark.graft.maxBoilerSegments").getOrElse("2000000").toLong
    require(cap <= 0 || cap < Int.MaxValue,
      s"spark.graft.maxBoilerSegments=$cap: a boiler set that large " +
        "cannot ship with the plan anyway; set <= 0 to disable the cap " +
        "and use stripBoilerplateShuffle instead")
    // bound BEFORE collecting: at most cap + 1 fps ever reach the driver
    val rows =
      (if (cap > 0) boiler.limit(cap.toInt + 1) else boiler)
        .collect().map(_.getAs[Array[Byte]](0))
    require(cap <= 0 || rows.length <= cap,
      s"stripBoilerplate: more than spark.graft.maxBoilerSegments=$cap " +
        s"distinct segments meet the boilerplate threshold; that set is " +
        "shipped to every task, so this path is valid only while it is " +
        "small. Use stripBoilerplateShuffle (anti-join plan, never " +
        "collects), raise the threshold, or raise the cap.")
    val fps = graft.functions.HashExpressions.sortedFpPairs(rows)
    docs.select(col(idCol),
      coalesce(
        graft.functions.HashExpressions
          .stripBoilerplate(col(textCol), separator, fps),
        lit("")).as("text_clean"))
  }

  /** The (fp) frame of segments meeting the boilerplate threshold — the
    * narrow df-count job both strip paths share conceptually: per-doc
    * distinct fps row-locally, explode bare fps, one map-side-combined
    * count shuffle.
    *
    * CELL PRE-FILTER (round 14): on a mostly-distinct corpus the exact df
    * count shuffles every distinct fp once per map partition (the 8M-doc
    * ladder's one super-linear TIME cell: 7.3 GB of fps crossing the
    * single-box page-cache wall) even though almost no segment can reach
    * `minDocs`. A first pass therefore counts occurrences into
    * `spark.graft.stripPrefilterCells` hash cells (`pmod(xxhash64(fp),
    * cells)` — 8-byte keys, map-side partials bounded at ≤ cells rows per
    * task), and only fps whose CELL total reaches the threshold enter the
    * exact count. EXACTNESS IS UNCHANGED: a cell's total is the sum of
    * the dfs of every fp hashing into it, so cellTotal ≥ df(fp) for each
    * member — the survivor cells are a SUPERSET of any true boiler fp's
    * cell, and hash collisions only add false candidates, which the exact
    * second-pass count rejects. The surviving-cell count is bounded by
    * totalOccurrences / threshold (a high threshold ⇒ a handful of
    * cells), collected bounded (`spark.graft.stripPrefilterMaxCells`) and
    * shipped as a row-local InSet filter ahead of the exact shuffle. The
    * pre-filter degrades, never breaks: survivors over the cap, a
    * threshold below `spark.graft.stripPrefilterMinDocs` (default 16 —
    * near-singleton cuts keep too many cells to pay for the second
    * scan), or `stripPrefilterCells <= 0` all fall back to the previous
    * single-pass exact count; zero survivors short-circuits to an empty
    * boiler set without a second scan. Cost when active: one extra
    * corpus scan + a cell-count shuffle bounded by tasks × cells rows —
    * at the 8M rung that trades the 7.3 GB fp exchange for ~hundreds of
    * MB (StripBoilerplateProbe's prefilter arms, PLANS.md).
    */
  private def boilerFps(
      docs: DataFrame,
      textCol: String,
      separator: String,
      minDocs: Either[Long, Double]): DataFrame = {
    val spark = docs.sparkSession
    def conf(k: String, d: Long): Long =
      spark.conf.getOption(k).map(_.toLong).getOrElse(d)
    val fps = docs.select(explode(graft.functions.HashExpressions
      .distinctSegmentFps(col(textCol), separator)).as("__fp"))
    // the exact df ≥ threshold cut, shared by both the filtered and the
    // fallback plans; Right keeps the in-plan DECIMAL comparison
    // (0.8 -> DECIMAL "0.8", not the slightly-larger nearest double)
    def cut(from: DataFrame): DataFrame = {
      val dfCounts = from.groupBy("__fp").agg(count(lit(1)).as("__df"))
      (minDocs match {
        case Left(n) => dfCounts.filter(col("__df") >= n)
        case Right(f) =>
          val frac = lit(java.math.BigDecimal.valueOf(f))
          val thr = docs.agg((count(lit(1)) * frac).as("__thr"))
          dfCounts.crossJoin(broadcast(thr)).filter(col("__df") >= col("__thr"))
      }).select("__fp")
    }
    val cells = conf("spark.graft.stripPrefilterCells", 1L << 20)
    val minThr = conf("spark.graft.stripPrefilterMinDocs", 16L)
    // Left thresholds below the floor can't pay for the second scan;
    // Right thresholds are corpus-relative (the absolute cut grows with
    // the data — exactly where the pre-filter matters) and stay in-plan,
    // costing no extra count job.
    val tooLow = minDocs match {
      case Left(n) => n < minThr
      case Right(f) => f <= 0.0
    }
    if (cells <= 0 || tooLow) return cut(fps)
    val cellOf = pmod(xxhash64(col("__fp")), lit(cells))
    val cellCounts = fps.groupBy(cellOf.as("__cell"))
      .agg(count(lit(1)).as("__cc"))
    val surviving = (minDocs match {
      case Left(n) => cellCounts.filter(col("__cc") >= n)
      case Right(f) =>
        val frac = lit(java.math.BigDecimal.valueOf(f))
        val thr = docs.agg((count(lit(1)) * frac).as("__thr"))
        // floor semantics are safe here: any cell cut ≤ the exact
        // threshold keeps the survivor set a superset
        cellCounts.crossJoin(broadcast(thr)).filter(col("__cc") >= col("__thr"))
    }).select("__cell")
    val maxCells = conf("spark.graft.stripPrefilterMaxCells", 1L << 16)
    // bounded collect: at most maxCells + 1 cell ids reach the driver
    val survivors = surviving.limit(maxCells.toInt + 1)
      .collect().map(_.getLong(0))
    if (survivors.isEmpty)
      // no cell total reaches the threshold ⇒ no fp can ⇒ empty boiler
      // set, second scan skipped entirely
      cut(fps.limit(0))
    else if (survivors.length > maxCells)
      // low-threshold corpus where the pre-filter cannot help — exact
      // single-pass plan, unchanged semantics
      cut(fps)
    else
      // row-local InSet membership ahead of the exact count shuffle
      cut(fps.filter(cellOf.isin(survivors.map(Long.box): _*)))
  }

  /** The pre-round-13 [[stripBoilerplate]] plan, kept as the unbounded
    * fallback: the boiler stop-list stays IN the plan as a broadcast
    * anti-join and reassembly is a groupBy(id) over a shared segment
    * exchange — nothing ever collects, so an adversarial corpus whose
    * boiler set exceeds any broadcast bound still works (at the cost the
    * composed-chain ladder measured: the corpus-scale segment exchange
    * is read twice).
    */
  def stripBoilerplateShuffle(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      separator: String,
      minDocs: Either[Long, Double]): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // NOT persisted: the df count and the anti-join branch both sit on
    // the same repartition exchange (ReusedExchange computes the segment
    // explosion once); caching this corpus-scale (id, pos, seg, fp) frame
    // instead was the composed-chain probe's q63.strip super-linearity —
    // the cache's storage pressure, not the operator (see
    // contaminationAgainst's measured adjudication of the same shape).
    val segs = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(separator)))
          .as(Seq("__pos", "__seg")))
      .repartition(p, col(idCol))
      .withColumn("__fp", md5(col("__seg")))
    // Document frequency over DISTINCT (doc, segment) — a segment repeated
    // within one document counts once.
    val dfCounts = segs.select(col(idCol), col("__fp")).distinct()
      .groupBy("__fp").agg(count(lit(1)).as("__df"))
    val boiler = (minDocs match {
      case Left(n) => dfCounts.filter(col("__df") >= n)
      case Right(f) =>
        // Double.toString-exact decimal (0.8 -> DECIMAL "0.8", not the
        // slightly-larger nearest double), multiplied into the corpus count.
        val frac = lit(java.math.BigDecimal.valueOf(f))
        val thr = docs.agg((count(lit(1)) * frac).as("__thr"))
        dfCounts.crossJoin(broadcast(thr)).filter(col("__df") >= col("__thr"))
    }).select("__fp")
    val kept = segs.join(broadcast(boiler), Seq("__fp"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          x => x.getField("__seg")),
        separator).as("__clean"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__clean"), lit("")).as("text_clean"))
  }

  /** Remove WITHIN-document repetition: segments repeated inside one
    * document keep only their first occurrence (the per-document
    * complement of [[stripBoilerplate]]'s corpus-wide cut — dedupe a
    * page's repeated nav rows without touching cross-document content).
    * Returns (idCol, text_clean) for every input document.
    *
    * Scale shape: a pure per-row rewrite — split, first-occurrence filter,
    * rejoin — entirely inside the scan stage via built-in higher-order
    * functions (array_position finds the first index of each segment), no
    * shuffle at all.
    */
  def dedupeSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      separator: String = "\n"): DataFrame = {
    val segs = split(col(textCol), java.util.regex.Pattern.quote(separator))
    // First-occurrence keep as ONE fold building the seen-list in order:
    // the earlier filter-with-array_position formulation re-embedded the
    // raw split() inside the HOF lambda, so every element evaluation
    // re-split the whole text (O(segments × text_len) re-splits per row —
    // the interpreted-lambda blowup this file engineers around
    // elsewhere). The fold's comparisons are string equalities over the
    // accumulator only, and `segs` is evaluated once as the fold input.
    val kept = aggregate(segs, array().cast("array<string>"),
      (acc, s) => when(array_contains(acc, s), acc)
        .otherwise(concat(acc, array(s))))
    docs.select(col(idCol),
      when(col(textCol).isNull, lit(null))
        .otherwise(array_join(kept, separator))
        .as("text_clean"))
  }

  /** Per-document repetition signals (the Gopher-recipe repetition filters):
    * duplicate-segment fraction and most-common-word-bigram fraction.
    * Returns (idCol, n_segments, n_distinct_segments, dup_segment_frac,
    * n_bigrams, top_bigram_count, top_bigram_frac); documents with no
    * segments/bigrams report 0 counts and 0.0 fractions.
    *
    * Scale shape: every signal is document-local, so the whole report is a
    * single scan-stage projection — one codegen row pass
    * ([[graft.functions.HashExpressions.RepetitionStats]]) computing all
    * four counts per document, zero shuffle, nothing corpus-scale in
    * flight. The inline comment below records the two measured losing
    * shapes (explode + two shuffles; interpreted HOF lambdas).
    */
  def repetitionReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      separator: String = "\n"): DataFrame = {
    // Every signal is PER DOCUMENT, so the whole report is a scan-stage
    // projection — no explode, no shuffle, nothing corpus-scale in
    // flight. Two prior shapes both lose: the original exploded segments
    // AND bigrams through two groupBy shuffles (~50× the corpus row
    // count through the exchange — the composed-chain probe's
    // q77.quality top-rung cliff, 46/66/198 s at 1M/2M/4M docs), and a
    // higher-order-function rewrite was 2× slower still (HOF lambdas are
    // interpreted per element — the TextFunctions caveat). The signals
    // come from ONE tight row-level pass instead
    // ([[graft.functions.HashExpressions.RepetitionStats]], codegen'd
    // like the module's other hot-path expressions).
    val s = repetitionSignalCols(textCol, separator)
    docs.select(col(idCol),
      s("n_segments").as("n_segments"),
      s("n_distinct_segments").as("n_distinct_segments"),
      s("dup_segment_frac").as("dup_segment_frac"),
      s("n_bigrams").as("n_bigrams"),
      s("top_bigram_count").as("top_bigram_count"),
      s("top_bigram_frac").as("top_bigram_frac"))
  }

  /** The row-local repetition signal columns, ONE definition shared by
    * [[repetitionReport]] and [[qualityFilter]] so the two cannot drift.
    * NULL text → all-zero counts INSIDE the expression (it is
    * non-nullable), so every field reference here is UNCONDITIONAL and
    * codegen subexpression elimination evaluates the row pass once —
    * the previous per-field `when(isNull(text), 0)` guards made each
    * reference conditional, which CSE skips, re-running the pass per
    * signal. */
  private def repetitionSignalCols(
      textCol: String, separator: String): Map[String, Column] = {
    val stats =
      graft.functions.HashExpressions.repetitionStats(col(textCol), separator)
    val nSegs = stats.getField("n_segments")
    val nDistinct = stats.getField("n_distinct_segments")
    val nBigrams = stats.getField("n_bigrams")
    val top = stats.getField("top_bigram_count")
    Map(
      "n_segments" -> nSegs,
      "n_distinct_segments" -> nDistinct,
      "n_bigrams" -> nBigrams,
      "top_bigram_count" -> top,
      "dup_segment_frac" ->
        when(nSegs > 0,
          round(lit(1.0) - nDistinct.cast("double") / nSegs, 6))
          .otherwise(lit(0.0)),
      "top_bigram_frac" ->
        when(nBigrams > 0,
          round(top.cast("double") / nBigrams, 6))
          .otherwise(lit(0.0)))
  }

  /** Gopher-style rule-based document filter (Rae et al. 2021 §A1.1.2, the
    * standard pre-training quality gate): each document gets its row-local
    * signals (token count, mean word length, punctuation and stopword
    * ratios) plus the corpus-free repetition signals from
    * [[repetitionReport]], a `keep` verdict, and the FIRST failed rule's
    * name as `reason` (null when kept) — so the drop ledger is auditable
    * per rule, not a silent row count.
    *
    * Plan shape at scale: EVERY signal — text counts and repetition alike
    * — is a codegen'd row-local expression, so the whole filter is one
    * scan-stage projection: zero joins, zero shuffles (the inline comment
    * records the measured 1:1-join shape it replaced). Thresholds are
    * compared against the ROUNDED (6-dp) signal values that the output
    * itself carries, so an external oracle reproduces keep/reason exactly
    * from the published columns.
    */
  def qualityFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Long = 16L,
      maxTokens: Long = 100000L,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxPunctRatio: Double = 0.25,
      minStopwordRatio: Double = 0.01,
      maxDupSegmentFrac: Double = 0.30,
      maxTopBigramFrac: Double = 0.18,
      separator: String = "\n"): DataFrame = {
    // Every signal is row-local, so the whole filter is ONE scan-stage
    // projection — the previous shape joined two per-doc projections 1:1
    // on the id, a pure plan tax (two corpus exchanges + a join for
    // columns computable side by side in the same select; the 8M ladder
    // charged it 186 MB of shuffle and it was q77's dominant stage).
    // The text counts come from the codegen [[HashExpressions.TextStats]]
    // pass, NOT the TextFunctions HOF compositions: one interpreted
    // (CodegenFallback) lambda in a Project evicts the WHOLE projection
    // from whole-stage codegen — merging the HOF signals with
    // RepetitionStats measured 8.96 → 20.6 s at 2M docs until both moved
    // to codegen expressions. The ratio arithmetic below keeps the exact
    // casts/divisions/rounding of the composable forms, so float results
    // (and oracle hashes) are unchanged.
    val ts = graft.functions.HashExpressions
      .textStats(col(textCol), graft.functions.TextFunctions.enStopwords)
    val nTok = ts.getField("n_tokens")
    val nChars = ts.getField("n_chars")
    val rep = repetitionSignalCols(textCol, separator)
    val signals = docs
      .select(col(idCol),
        nTok.as("n_tokens"),
        when(nTok > 0,
          round(ts.getField("sum_word_len").cast("double") / nTok, 6))
          .otherwise(lit(0.0)).as("mean_word_len"),
        when(nChars > 0,
          round(ts.getField("n_punct").cast("double") / nChars, 6))
          .otherwise(lit(0.0)).as("punct_ratio"),
        when(nTok > 0,
          round(ts.getField("n_stopwords").cast("double") / nTok, 6))
          .otherwise(lit(0.0)).as("stopword_ratio"),
        rep("dup_segment_frac").as("dup_segment_frac"),
        rep("top_bigram_frac").as("top_bigram_frac"))
    // First-failed-rule semantics: the when-chain order IS the audit order.
    val reason = when(col("n_tokens") < minTokens, lit("too_few_tokens"))
      .when(col("n_tokens") > maxTokens, lit("too_many_tokens"))
      .when(col("mean_word_len") < minMeanWordLen ||
        col("mean_word_len") > maxMeanWordLen, lit("word_length"))
      .when(col("punct_ratio") > maxPunctRatio, lit("punctuation"))
      .when(col("stopword_ratio") < minStopwordRatio, lit("stopwords"))
      .when(col("dup_segment_frac") > maxDupSegmentFrac, lit("repeated_segments"))
      .when(col("top_bigram_frac") > maxTopBigramFrac, lit("repeated_bigrams"))
      .otherwise(lit(null).cast("string"))
    signals
      .withColumn("reason", reason)
      .withColumn("keep", col("reason").isNull)
  }

  /** Streaming form of [[assembleSequences]]: rows arrive in micro-batches
    * and each key's element list ACCUMULATES in a merge-mode keyed parquet
    * sink ([[Upsert.mergeKeyedParquet]] — per batch, only the touched hash
    * buckets are read, the new elements sorted-merge into the stored list,
    * and those buckets rewrite). After draining, the rendered output
    * equals the batch operator on the full input, independent of the
    * batch split — elements carry their (order, tie) inside the stored
    * struct list, so late arrivals re-sort into place.
    *
    * Per-key state is that key's element list (the same bound as the
    * batch collect); per-batch work is batch-sized + touched buckets,
    * never sink-sized. Takes a pre-built streaming frame so callers
    * compose source specifics (schemas, nanos timestamps, file triggers).
    */
  def streamingAssembleSequences(
      stream: DataFrame,
      keyCol: String,
      orderCol: String,
      tieCol: String,
      valueCol: String,
      sep: String,
      sinkDir: String,
      checkpointDir: String,
      nBuckets: Int = 64,
      statePartitions: Int = 0): DataFrame = {
    val spark = stream.sparkSession
    // the merge sink's __bucket= layout is pmod(key, nBuckets)
    graft.ops.KeyedState.stampParams(spark, sinkDir,
      Map("nBuckets" -> nBuckets))
    // Scoped shuffle width for the drain: callers size the per-batch
    // groupBy + merge via `statePartitions`; unset keeps the session
    // width (KeyedState.withStatePartitionsFor — cluster-safe).
    graft.ops.KeyedState.withStatePartitionsFor(spark, statePartitions) {
      val q = stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // The merge sink accumulates, so a checkpoint-recovery replay of
          // an already-applied batch would concatenate its elements twice.
          Upsert.applyBatchOnce(spark, s"$sinkDir/_applied", batchId) {
            val agg = batch.groupBy(col(keyCol))
              .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
                col(tieCol).as("t"), col(valueCol).cast("string").as("v"))))
                .as("items"))
            Upsert.mergeKeyedParquet(agg, sinkDir, Seq(keyCol),
              Map("items" -> ((old: Column, nw: Column) =>
                array_sort(concat(old, nw)))), nBuckets, batchId)
          }
          // Injected-crash point (test-only, see [[graft.ops.Failpoint]]):
          // merge applied + fence marker written, checkpoint commit not —
          // the replayed batch must be skipped or each key's items
          // concatenate twice.
          Failpoint.hit(spark, "assemble_post_fence", batchId)
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // a drained stream that delivered no rows never creates the sink (the
    // merge writer early-returns on empty batches) — read that back as an
    // empty result, not PATH_NOT_FOUND; the expected sink schema is the
    // batch aggregate applied to a rowless frame of the stream's schema
    // (schema-only, no job)
    val sinkSchema = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"),
        col(tieCol).as("t"), col(valueCol).cast("string").as("v"))))
        .as("items"))
      .schema
    Upsert.readKeyedParquet(spark, sinkDir, sinkSchema)
      .select(col(keyCol), size(col("items")).cast("long").as("n_items"),
        array_join(transform(col("items"), x => x.getField("v")), sep)
          .as("sequence"))
  }

  /** Per-document unigram surprisal in bits/token, self-scored against the
    * corpus's own token distribution — the oracle-able proxy for LM-based
    * quality filtering (CCNet-style: low bits ≈ stereotyped boilerplate,
    * high bits ≈ rare-token soup; both tails are curation candidates, the
    * middle is natural prose). `bits_per_token = −Σ n_d(t)·log2(c(t)/N) /
    * n_d` over the document's tokens.
    *
    * Scale shape: one (doc, token) aggregate, one vocabulary aggregate
    * (zipf-bounded — millions of rows at web scale, broadcastable), then
    * one per-doc aggregate whose state is the doc's DISTINCT-token list.
    * `broadcastVocab = false` drops the broadcast hint so the vocabulary
    * join shuffles instead — the correct (slow, not OOM) path when the
    * distinct-token count outgrows executor memory. The surprisal fold
    * runs over the token-sorted (token, n_d, c) list, so both engines
    * add identical terms in identical order (the q84 determinism
    * discipline).
    */
  def unigramBitsPerToken(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      broadcastVocab: Boolean = true): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    // Each consumer re-runs the tokenize+explode rather than deriving the
    // vocabulary from a persisted (doc, token) table: MEASURED at sf0.1,
    // the derive-and-cache variant ran 2.2x SLOWER (the (doc, tok) shuffle
    // is wider than the direct vocab aggregate, and the cache
    // materialization outweighs the columnar re-scans it saves).
    val perDocTok = tok.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("nd"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum("c").as("total"))
    val scored = perDocTok
      .join(if (broadcastVocab) broadcast(vocab) else vocab, "tok")
      .groupBy(col(idCol))
      .agg(sum("nd").as("n_tokens"),
        sort_array(collect_list(struct(col("tok"), col("nd"), col("c"))))
          .as("tc"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_tokens"),
        round(-aggregate(col("tc"), lit(0.0), (acc, x) =>
          acc + x.getField("nd") *
            log2(x.getField("c").cast("double") / col("total"))) /
          col("n_tokens"), 6).as("bits_per_token"))
    // Per-doc-report discipline (as the sibling reports in this file):
    // token-less documents (empty/NULL text) report n_tokens = 0 with
    // NULL bits instead of silently vanishing — a quality gate joining
    // this report must see every corpus id.
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("bits_per_token"))
  }

  /** CCNet-style LM quality bucketing: train an interpolated bigram model
    * on a REFERENCE slice (the "target domain" corpus — e.g. a vetted
    * source), score every document's cross-entropy under it, and assign
    * head/middle/tail buckets by fixed thresholds. This is the published
    * CCNet recipe with the KenLM 5-gram model replaced by an oracle-able
    * bigram model: per bigram position,
    * `p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·(c(w2)+1)/(T+V)`
    * (conditional ML term, zero when `w1` is unseen as a left word, backed
    * off to a Laplace unigram), and
    * `bits = −Σ log2 p / n_bigrams`. Low bits = the reference model finds
    * the document predictable (head); high bits = rare-token soup (tail);
    * docs with fewer than two tokens carry NULL bits and the `unscored`
    * bucket.
    *
    * Scale shape: the model is two zipf-bounded aggregates over the
    * REFERENCE slice only (pair counts + left-word totals + unigram
    * counts); scoring joins each document's distinct-bigram rows against
    * them — broadcast when the model fits (`broadcastModel`), plain
    * shuffled joins otherwise (the slow-not-OOM dial shared with
    * [[unigramBitsPerToken]]). The per-doc fold runs over the
    * (w1,w2)-sorted term list so both engines add identical IEEE terms in
    * identical order (the q84/q86 determinism discipline).
    */
  def bigramLmQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      refTextCol: String,
      lambda: Double = 0.9,
      headBits: Double = 8.0,
      tailBits: Double = 12.0,
      broadcastModel: Boolean = true): DataFrame = {
    // Adjacent-token pairs in one pass: zip t[0..n-2] with t[1..n-1].
    // (element_at inside a transform would re-inline the tokenizer per
    // element — O(len²) in the scan projection; slice+zip_with is O(len).)
    def bigrams(textC: Column): Column = {
      val t = tokens(textC)
      val m = greatest(size(t) - 1, lit(0))
      zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val hint: DataFrame => DataFrame =
      if (broadcastModel) broadcast(_) else identity

    // Model (reference slice only): pair counts, left-word totals, Laplace
    // unigram counts + the (T, V) normalizer row.
    val refTok = ref.select(explode(tokens(col(refTextCol))).as("tok"))
    val uni = refTok.groupBy("tok").agg(count(lit(1)).as("cu"))
    val norm = uni.agg(sum("cu").as("total"), count(lit(1)).as("vsz"))
    val pairs = ref.select(explode(bigrams(col(refTextCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))

    // Per-doc distinct-bigram multiplicities, joined to the model.
    val docBg = docs
      .select(col(idCol), explode(bigrams(col(textCol))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("nd"))
    val scoredTerms = docBg
      .join(hint(c12), Seq("w1", "w2"), "left")
      .join(hint(c1), Seq("w1"), "left")
      .join(hint(uni.withColumnRenamed("tok", "w2")), Seq("w2"), "left")
      .select(col(idCol), col("w1"), col("w2"), col("nd"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("cu"), lit(0L)).as("cu"))

    val oneMinus = 1.0 - lambda
    val folded = scoredTerms
      .groupBy(col(idCol))
      .agg(sum("nd").as("n_bigrams"),
        sort_array(collect_list(struct(col("w1"), col("w2"), col("nd"),
          col("c12"), col("c1"), col("cu")))).as("tc"))
      .crossJoin(broadcast(norm))
      .select(col(idCol), col("n_bigrams"),
        round(-aggregate(col("tc"), lit(0.0), (acc, x) => {
          val cond = when(x.getField("c1") > 0,
            lit(lambda) * x.getField("c12").cast("double") /
              x.getField("c1").cast("double")).otherwise(lit(0.0))
          val backoff = lit(oneMinus) *
            (x.getField("cu").cast("double") + lit(1.0)) /
            (col("total").cast("double") + col("vsz").cast("double"))
          acc + x.getField("nd") * log2(cond + backoff)
        }) / col("n_bigrams"), 6).as("bits_per_bigram"))

    // Every input doc appears: sub-2-token docs carry NULL bits/`unscored`.
    docs.select(col(idCol))
      .join(folded, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("bits_per_bigram"),
        when(col("bits_per_bigram").isNull, lit("unscored"))
          .when(col("bits_per_bigram") < headBits, lit("head"))
          .when(col("bits_per_bigram") < tailBits, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Per-key ordered sequence assembly: collapse each key's rows into ONE
    * training example — the event-history / conversation-thread / session-
    * transcript construction step of behavioral training-data assembly.
    * Rows order by `(orderCol, tieCol)` INSIDE the collected list
    * (`array_sort` over structs), so the sequence is deterministic under
    * any partitioning or arrival order. Returns
    * `(keyCol, n_items, sequence)`.
    *
    * Scale: one shuffle on the key; per-group state is that key's rows —
    * histories are key-bounded, not corpus-bounded. The skewed key (a bot
    * account with millions of events) is this operator's real risk:
    * `maxItems > 0` caps each key to its FIRST maxItems rows before
    * collection (rank window + filter), bounding both the emitted example
    * and the collect buffer.
    */
  def assembleSequences(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      tieCol: String,
      valueCol: String,
      sep: String = " ",
      maxItems: Int = 0): DataFrame = {
    val pre = if (maxItems > 0) {
      val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol), col(tieCol))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxItems).drop("__rn")
    } else df
    pre.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_items"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(orderCol).as("o"),
              col(tieCol).as("t"), col(valueCol).cast("string").as("v")))),
            x => x.getField("v")),
          sep).as("sequence"))
  }

  /** Adjacent character-pair frequencies over the corpus's words — the
    * corpus-diagnostic APPROXIMATION of what byte-pair-encoding training's
    * first merge decision reads. It is deliberately not identical to
    * [[bpeTrainMerges]]' candidate table: the trainer counts pairs over
    * the word's symbol sequence INCLUDING the end-of-word sentinel (so
    * `(e, </w>)` competes) and admits 1-char words, while this statistic
    * counts only in-word character pairs — on a corpus where a
    * word-final pair dominates, the trainer's first merge can differ
    * from this table's top row. Use the trainer's own merge table for
    * the actual decision; use this for the human-readable corpus
    * character profile. Two generator explodes inside the
    * scan stage (words, then in-word pairs), one map-side-combined hash
    * aggregate on the pair, and a partial top-k merge
    * (TakeOrderedAndProject) — the corpus shuffles only pair-count
    * partials, never rows, at any scale.
    */
  def bpePairCounts(
      docs: DataFrame,
      textCol: String,
      k: Int = 100): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(posexplode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
        .as(Seq("__i", "pair")))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Per-document character-bigram entropy (bits): the information-theoretic
    * repetitiveness signal — lorem-ipsum spam, keyword stuffing and
    * generator loops score low; natural prose scores high. Complements the
    * exact-repeat fractions of [[repetitionReport]] (which see nothing when
    * the repetition isn't verbatim).
    *
    * Engine-portable determinism: entropy is computed as
    * `log2(n) − Σ c·log2(c) / n` folded over the (gram, count) list SORTED
    * by gram — both engines add the identical terms in the identical order,
    * so the 6-dp-rounded value is reproducible. Shape: one generator
    * explode, one (doc, gram) hash aggregate, one per-doc aggregate whose
    * state is the doc's distinct-bigram list (alphabet-bounded:
    * ≤ charset², not document-length-sized).
    */
  def charEntropyReport(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // ONE codegen'd row-level pass ([[graft.functions.HashExpressions
    // .CharBigramEntropy]]): the original composable formulation exploded
    // one row per character and shuffled them twice ((doc, gram) count +
    // per-doc fold) — a corpus-CHARACTER-count shuffle. The per-doc gram
    // alphabet is bounded, so the state fits the row; the report is now a
    // pure projection with zero shuffles (7.7 s → sub-second at the 400k
    // probe). The expression replays the old fold's float arithmetic
    // term-for-term (UTF-8-byte-order grams, StrictMath log2), so results
    // — and the DuckDB oracle — are bit-identical. The repartition
    // remains only to spread under-split single-file scans.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    // Every document gets a report row (the per-doc-report discipline this
    // file states elsewhere: audits count report rows against corpus rows,
    // and anti-joins must not misclassify absent ids): documents too short
    // to have a bigram (length < 2, empty, NULL) report n = 0 with NULL
    // entropy instead of silently vanishing from the report.
    docs
      .select(col(idCol), lower(col(textCol)).as("__t"))
      .repartition(p, col(idCol))
      .select(col(idCol),
        when(length(col("__t")) >= 2,
          graft.functions.HashExpressions.charBigramEntropy(col("__t")))
          .as("__e"))
      .select(col(idCol), coalesce(col("__e.n"), lit(0L)).as("n"),
        round(col("__e.bigram_entropy"), 6).as("bigram_entropy"))
  }

  /** Robust per-stratum outlier report over an integer-valued document
    * signal: modified z-score (Iglewicz–Hoaglin, `0.6745 × (x − median) /
    * MAD`) with `|z| > zCut` flagging — median/MAD instead of mean/stddev
    * so a corpus whose tail IS the anomaly doesn't hide it by inflating
    * its own yardstick. The distribution-shift / ingest-anomaly audit of a
    * curation pipeline ("this crawl's documents are suddenly 10× longer").
    *
    * `value` should be integer-valued (lengths, token counts): medians of
    * integers are exact halves, so the statistic is bit-identical across
    * engines and an external oracle reproduces the flags exactly (`zCut`
    * is honored to 4 decimals by the exact comparison). A zero MAD (over
    * half the stratum shares one value) yields a null z and no flag —
    * degenerate strata don't flag everything else.
    *
    * Scale shape: two aggregation passes (median, then MAD) with map-side
    * partial aggregation; the per-stratum tables broadcast back, so the
    * corpus never shuffles. Spark's exact `percentile` buffers per-group
    * (value → count) maps — memory is DISTINCT-value-sized (bounded for
    * integer signals like lengths), not row-count-sized; swap in
    * `percentile_approx` above ~1e7 distinct values per stratum.
    */
  def outlierReport(
      docs: DataFrame,
      idCol: String,
      strataCol: String,
      value: Column,
      valueName: String = "value",
      zCut: Double = 3.5): DataFrame = {
    val base = docs.select(col(idCol), col(strataCol),
      value.cast("double").as(valueName))
    val med = base.groupBy(strataCol)
      .agg(percentile(col(valueName), lit(0.5)).as("med"))
    // null-safe stratum joins: rows with a NULL stratum (a missing
    // language/source tag — precisely the anomalies this report exists
    // to surface) must flow through, not vanish at an equi-join
    def joinStrata(l: DataFrame, r: DataFrame): DataFrame =
      l.join(broadcast(r.withColumnRenamed(strataCol, "__rs")),
          col(strataCol) <=> col("__rs"))
        .drop("__rs")
    val withMed = joinStrata(base, med)
    val mad = withMed.groupBy(strataCol)
      .agg(percentile(abs(col(valueName) - col("med")), lit(0.5)).as("mad"))
    // The FLAG is integer-exact: 0.6745·|v−med| > zCut·mad, with the
    // half-exact med/mad doubled into integers and the constants scaled to
    // 4 decimals — no float comparison, no rounding-tie flips between
    // engines (a 6-dp rounding of z itself DID flip between Spark and
    // DuckDB on an exact .5 boundary; exact-half inputs make such ties
    // common, not rare). The z column keeps the human-readable magnitude.
    val d2 = (col(valueName) * 2 - col("med") * 2).cast("long")
    val mad2 = (col("mad") * 2).cast("long")
    val zScaled = math.round(zCut * 10000)
    joinStrata(withMed, mad)
      .withColumn("robust_z",
        when(col("mad") > 0,
          round(lit(0.6745) * (col(valueName) - col("med")) / col("mad"), 6)))
      // coalesce: a NULL value makes the comparison null, and downstream
      // filter(is_outlier) counts need a real boolean, not a third state
      .withColumn("is_outlier",
        coalesce(when(col("mad") > 0, abs(d2) * 6745L > mad2 * zScaled)
          .otherwise(lit(false)), lit(false)))
      .select(col(idCol), col(strataCol), col(valueName), col("med"),
        col("mad"), col("robust_z"), col("is_outlier"))
  }

  /** Scrub common PII shapes (emails, long digit runs / phone numbers, IPv4
    * addresses) from a text column, replacing each with a typed placeholder.
    * A pure per-row codegen'd `regexp_replace` chain — no shuffle, no UDF;
    * patterns stay within the regex subset shared by Java and RE2 so an
    * external SQL oracle applies the identical rewrite.
    *
    * The phone rule is deliberately RECALL-biased: it spans space/paren/
    * dash separators, so adjacent independent numbers in prose ("2021
    * 2022 2023", enumerated lists) collapse into one `<PHONE>` — in a
    * PII scrub a false redaction costs a few training tokens where a
    * missed phone number leaks PII. That dialect-safe asymmetry is not
    * expressible more precisely without lookarounds (RE2 has none), and
    * it is also why [[defaultRedactions]]' NUMBER rule ([0-9]{7,}) is
    * narrower: that surface is a caller-tunable policy where precision
    * is the caller's choice; this one is the fixed safe default.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, piiEmailRe, "<EMAIL>")
    val ip = regexp_replace(email, piiIpv4Re, "<IP>")
    regexp_replace(ip, "\\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>")
  }

  // The email/IPv4 rules shared by [[redactPii]] and [[defaultRedactions]]
  // — ONE definition each so the two scrub surfaces cannot drift (the
  // unanchored IPv4 variant redactPii once carried matched MID-NUMBER:
  // 'v1.222.333.4445' lost its inner digits as a fake <IP>).
  private val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiIpv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Corpus vocabulary: the `k` most frequent tokens with counts,
    * deterministically tie-broken by token — the frequency table a
    * tokenizer-training / vocab-pruning step starts from. One map-side
    * combined hash aggregate over exploded tokens, then a partial top-k
    * per partition merged on the driver (Spark plans orderBy+limit as
    * TakeOrderedAndProject — no global sort shuffle of the vocabulary).
    */
  def vocabulary(
      docs: DataFrame,
      textCol: String,
      k: Int = 100): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  /** Overlapping token-window chunks (the retrieval-corpus shape: embed
    * chunks, not documents). Chunk `i` covers tokens
    * `[i·stride, i·stride + chunkTokens)`; `stride < chunkTokens` gives
    * overlap so no span falls on a chunk boundary unseen. Returns
    * (idCol, chunk_id, chunk_text, n_tokens); empty/null documents yield
    * no chunks.
    *
    * Scale shape: a generator inside the scan stage — `explode` of the
    * stride positions, then a cheap array slice per chunk (the token
    * array is computed once per document, carried as an attribute through
    * the generate). No shuffle.
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 256,
      stride: Int = 192): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))).as("__start"))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__toks")) - col("__start"))
          .cast("long").as("n_tokens"))
  }

  /** Data-mixture card: document and token counts per stratum (e.g.
    * source × language) with corpus fractions — the table a dataset
    * release publishes and a mixing step ([[Sampling.stratifiedHashSample]]
    * / [[Sampling.weightedRepeat]]) is tuned against. One hash aggregate;
    * the grand totals for the fractions ride a broadcast of the (tiny)
    * stratum aggregate, never a second corpus scan.
    */
  def mixtureReport(
      docs: DataFrame,
      textCol: String,
      strataCols: Seq[String]): DataFrame = {
    val perStratum = docs
      .groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol))).as("n_tokens"))
    val totals = perStratum.agg(
      sum(col("n_docs")).as("__td"), sum(col("n_tokens")).as("__tt"))
    perStratum.crossJoin(broadcast(totals))
      .select(strataCols.map(col) ++ Seq(
        col("n_docs"), col("n_tokens"),
        round(col("n_docs") / col("__td"), 6).as("doc_frac"),
        round(col("n_tokens") / col("__tt"), 6).as("token_frac")): _*)
  }

  /** Top-k characteristic terms per document by TF-IDF (keyword
    * extraction / topic hints). `idf = ln((N+1)/(df+1))` with N the corpus
    * document count and df the term's document frequency; ties break by
    * token ascending. Returns (idCol, token, tfidf, rank).
    *
    * Scale shape: one shuffle for per-(doc, token) term frequencies; the
    * df count map-side-combines down to vocabulary size per partition and
    * the resulting vocabulary-sized df table is BROADCAST into the scoring
    * join — the corpus-sized (doc, token) frame never shuffles on the
    * skewed token key (stop words appear in every document). An optional
    * df-cut (`maxDfShare`, the [[graft.ops.Dedup.ngramJaccardPairs]]
    * stop-list pattern) drops tokens present in more than that share of
    * documents BEFORE scoring; the cut is never silent — use
    * [[tfidfTopTermsWithStopList]] to get the dropped tokens alongside the
    * scores. Set `broadcastDf = false` to fall back to the shuffle join
    * when the vocabulary itself is too large to broadcast. The per-doc
    * top-k window partitions by document id, so ranking parallelizes
    * across the corpus. The one `count()` is the corpus size N, a
    * columnar metadata read.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxDfShare: Double = 1.0,
      broadcastDf: Boolean = true): DataFrame =
    tfidfTopTermsWithStopList(docs, idCol, textCol, k, maxDfShare, broadcastDf)._1

  /** [[tfidfTopTerms]] plus the df-cut report: returns (top-k terms,
    * stop list) where the stop list is every (token, df) the `maxDfShare`
    * cut removed from scoring — empty at the default share of 1.0.
    */
  def tfidfTopTermsWithStopList(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxDfShare: Double = 1.0,
      broadcastDf: Boolean = true): (DataFrame, DataFrame) = {
    val n = docs.count()
    val terms = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token")
      .agg(count(lit(1)).as("__tf"))
    val dfreqAll = terms.groupBy("token")
      .agg(count(lit(1)).as("__df"))
    val dfCut = lit(maxDfShare) * lit(n.toDouble)
    val stopList = dfreqAll.filter(col("__df") > dfCut)
      .select(col("token"), col("__df").as("df"))
    val dfreq = dfreqAll.filter(col("__df") <= dfCut)
    // Inner join on the (possibly cut) df table both scores and drops stop
    // tokens in one pass; the broadcast keeps the corpus side in place.
    val dfSide = if (broadcastDf) broadcast(dfreq) else dfreq
    val scored = terms.join(dfSide, "token")
      .withColumn("tfidf",
        col("__tf") * log((lit(n) + 1).cast("double") / (col("__df") + 1)))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("token").asc)
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), round(col("tfidf"), 6).as("tfidf"),
        col("rank").cast("long").as("rank"))
    (top, stopList)
  }

  /** One-row corpus card: document count, token counts (whitespace + BPE
    * estimate), and distinct-content count — the summary block a dataset
    * release publishes. A single map-side-combined aggregate pass; the
    * distinct-content term aggregates over 16-byte fingerprints, not
    * bodies.
    */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol))).as("n_tokens"),
      sum(bpeTokenCountEstimate(col(textCol))).as("n_bpe_tokens"),
      countDistinct(contentFingerprint(col(textCol))).as("n_unique_docs"))

  /** Distribution-drift report between a REFERENCE corpus slice and a
    * CURRENT one: per fixed bucket of `valueCol`, both counts and
    * fractions plus the population-stability-index term
    * `(cur − ref) · ln(cur/ref)` — the release gate that catches "this
    * crawl increment shifted the length/quality distribution" before
    * training does. Σ psi_term is the classic PSI (< 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted).
    *
    * Buckets are CALLER-FIXED edges, not quantiles: drift monitoring
    * compares against a frozen reference binning, and fixed edges keep
    * the whole report integer-exact up to the final fraction arithmetic
    * (engine-portable; an external oracle reproduces it bit-for-bit).
    * Bucket i covers [edges(i), edges(i+1)); values below the first edge
    * or ≥ the last fall into open end buckets. Fractions carry a ½-count
    * continuity correction (`(n + 0.5) / (N + 0.5·B)`) so an empty bucket
    * on either side stays finite — the standard PSI smoothing.
    *
    * Scale shape: each side is one map-side-combined aggregate over its
    * bucket expression (output is B rows); the join of two B-row frames is
    * free. Neither corpus shuffles.
    */
  def driftReport(
      reference: DataFrame,
      current: DataFrame,
      valueCol: String,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      "edges must be non-empty, strictly increasing")
    val nBuckets = edges.size + 1
    // bucket = number of edges <= value: a codegen'd when-chain, no UDF.
    def bucketOf(v: Column): Column =
      edges.zipWithIndex.foldRight(lit(edges.size)) { case ((e, i), rest) =>
        when(v < e, lit(i)).otherwise(rest)
      }
    // NULL/NaN values are EXCLUDED from the histogram: under the when-
    // chain every `v < e` comparison is falsy for them, so unfiltered
    // they would all silently land in the top open-end bucket and fake a
    // "distribution shifted high" PSI verdict.
    def side(df: DataFrame, name: String): DataFrame =
      df.select(col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull && !isnan(col("__v")))
        .select(bucketOf(col("__v")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(s"${name}_n"))
    val buckets = reference.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as("bucket"))
    val joined = buckets
      .join(side(reference, "ref"), Seq("bucket"), "left")
      .join(side(current, "cur"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val refTotal = sum(col("ref_n")).over()
    val curTotal = sum(col("cur_n")).over()
    // The totals window is over B rows (the bucket table), not the corpus —
    // a single-partition window here is B≈10 rows, not a scale hazard.
    val refFrac = (col("ref_n") + lit(0.5)) / (refTotal + lit(0.5 * nBuckets))
    val curFrac = (col("cur_n") + lit(0.5)) / (curTotal + lit(0.5 * nBuckets))
    joined
      .withColumn("lo", element_at(
        array((Double.NegativeInfinity +: edges).map(lit): _*), col("bucket") + 1))
      .withColumn("hi", element_at(
        array((edges :+ Double.PositiveInfinity).map(lit): _*), col("bucket") + 1))
      .withColumn("ref_frac", round(refFrac, 6))
      .withColumn("cur_frac", round(curFrac, 6))
      .withColumn("psi_term",
        round((curFrac - refFrac) * log(curFrac / refFrac), 6))
      .select("bucket", "lo", "hi", "ref_n", "cur_n", "ref_frac", "cur_frac",
        "psi_term")
  }

  /** Fixed-edge ECDF score calibration: map a raw per-row metric (quality
    * score, length, perplexity) to its approximate corpus percentile via
    * a FIXED bucket grid — the deterministic, scan-shaped alternative to
    * rank-based normalization (an exact global rank is a corpus sort;
    * a sketch quantile is partition-order-dependent). Scores calibrated
    * this way compare ACROSS heterogeneous sources, which is what a
    * mixed-corpus quality threshold actually needs.
    *
    * `pct = (count_below_bucket + frac_within × bucket_count) / N` with
    * linear interpolation inside bounded buckets; the two unbounded end
    * buckets use the midpoint convention (frac = 0.5) — documented bias,
    * bounded by the end buckets' mass (size the grid so the tails are
    * thin). Rows exactly on an edge belong to the upper bucket, so the
    * mapping is continuous at edges (frac 0 there).
    *
    * Scale shape: ONE bucket-count aggregate (B rows), an ordered fold
    * over that B-row frame (same metadata-scale justification as
    * [[driftReport]]'s totals window), broadcast back into a pure
    * projection — the corpus is scanned once and never shuffled.
    *
    * The percentile publishes as `pct_ppm` (parts-per-million, long):
    * `floor(p·10⁶ + 0.5)` is pure IEEE double arithmetic — bit-identical
    * on any engine computing the same `p` — where a decimal `round(p, 6)`
    * hits engine-specific tie behavior exactly when values/edges are
    * integral and the rational `p` terminates near the 6th decimal (the
    * q80 robust_z lesson).
    */
  def quantileNormalize(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      "edges must be non-empty, strictly increasing")
    def bucketOf(v: Column): Column =
      edges.zipWithIndex.foldRight(lit(edges.size)) { case ((e, i), rest) =>
        when(v < e, lit(i)).otherwise(rest)
      }
    val v = col(valueCol).cast("double")
    // NULL/NaN rows keep a NULL percentile (and stay out of the counts)
    // instead of silently bucketing at the top open end — the driftReport
    // discipline.
    val valid = v.isNotNull && !isnan(v)
    val counts = df.filter(valid).select(bucketOf(v).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    // Exclusive cumulative + total over the B-row bucket frame.
    val bw = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = counts
      .withColumn("cb", coalesce(sum(col("n")).over(bw), lit(0L)))
      .withColumn("nn", sum(col("n")).over())
    val lo = element_at(
      array((Double.NegativeInfinity +: edges).map(lit): _*), col("bucket") + 1)
    val hi = element_at(
      array((edges :+ Double.PositiveInfinity).map(lit): _*), col("bucket") + 1)
    df.select(col(idCol), col(valueCol),
        when(valid, bucketOf(v)).as("bucket"), v.as("__v"))
      .join(broadcast(cum), Seq("bucket"), "left")
      .withColumn("__frac",
        when(lo === lit(Double.NegativeInfinity) ||
            hi === lit(Double.PositiveInfinity), lit(0.5))
          .otherwise((col("__v") - lo) / (hi - lo)))
      .select(col(idCol), col(valueCol), col("bucket"),
        floor((col("cb") + col("__frac") * col("n")) / col("nn")
          * lit(1000000.0) + lit(0.5)).cast("long").as("pct_ppm"))
  }

  /** Concat-and-chunk sequence packing: documents are concatenated in
    * `idCol` order WITHIN each shard and cut into fixed `seqLen`-token
    * training sequences; a document token-interval [start, end) overlaps
    * sequences floor(start/L) … floor((end-1)/L). Returns one row per
    * (document × overlapped sequence): (shardCol, idCol, start_tok,
    * end_tok, seq_id) with offsets and sequence ids local to the shard.
    * Zero-token documents contribute nothing and are omitted.
    *
    * Scale shape: packing needs a prefix sum, which needs an order — the
    * scale-honest design is per-SHARD packing (shard = source file / dump /
    * partition key), one window per shard rather than one global window: the
    * sort is distributed across shards and no single partition sees more
    * than a shard's rows. This is how production packing runs — global
    * document order across a 100 TB corpus is neither needed nor meaningful
    * for training; determinism within a shard is.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      nTokensCol: Column,
      shardCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(shardCol), col(idCol), nTokensCol.cast("long").as("__n"))
      .withColumn("end_tok", sum(col("__n")).over(w))
      .withColumn("start_tok", col("end_tok") - col("__n"))
      .filter(col("__n") > 0)
      .select(col(shardCol), col(idCol), col("start_tok"), col("end_tok"),
        explode(sequence(
          floor(col("start_tok") / seqLen),
          floor((col("end_tok") - 1) / seqLen))).as("seq_id"))
  }

  /** BPE merge training: learn the first `numMerges` byte-pair-encoding
    * merges from the corpus — the iterative continuation of
    * [[bpePairCounts]] (which scores only the FIRST merge decision).
    * Returns the learned merge table (rank, left, right, n) in learning
    * order, the artifact a tokenizer trainer ships.
    *
    * The classic algorithm runs on the word-FREQUENCY table, not the
    * corpus: one linear corpus pass aggregates (word, freq) — after that,
    * every merge iteration touches only the vocabulary (bounded by
    * distinct words, millions of rows at 100 TB corpus scale — still
    * distributed here, never collected). Per iteration: adjacent-pair
    * counts weighted by word freq (one vocab-sized hash aggregate), the
    * argmax pair (count desc, then pair lexicographic — deterministic)
    * via a 1-row TakeOrderedAndProject, then a left-to-right
    * non-overlapping rewrite of each word's symbol array by an
    * `aggregate` fold (sequential by definition — greedy BPE merging IS a
    * left-to-right scan). The vocab frame is eagerly checkpointed each
    * iteration so the plan stays O(1)-deep across merges, and superseded
    * iterations release their storage (the [[Checkpoints]] discipline
    * shared with [[graft.ops.Dedup.duplicateClusters]]).
    *
    * Words are char-split with an appended `endOfWord` symbol (the
    * Sennrich-style word-boundary marker), so merges never cross words.
    *
    * `localVocabLimit` enables the PRODUCTION two-phase shape: real
    * tokenizer training runs thousands of merges, and a per-merge Spark
    * job cadence prices each one at a scheduler round trip. The word-
    * frequency table a 100 TB corpus aggregates to is vocabulary-sized —
    * when its distinct-word count is within the limit, the merge loop
    * runs driver-locally over the collected (freq, symbols) table with
    * bit-identical semantics (differential-tested), turning 30k merges
    * from 30k jobs into one collect plus an in-memory loop. 0 (the
    * default) never collects — the fully-distributed iteration remains
    * for vocabularies beyond single-node memory.
    */
  def bpeTrainMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      endOfWord: String = "</w>",
      localVocabLimit: Long = 0L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    val freqsPlan = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val charSplit = freqsPlan.select(col("freq"), concat(
      expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
      array(lit(endOfWord))).as("syms"))
    var vocab: DataFrame = null
    if (localVocabLimit > 0L) {
      // The corpus-dominant frequency aggregate runs ONCE: materialized
      // via truncate, then either collected (local path) or char-split
      // from the materialized rows (distributed fallback) — never
      // recomputed from the raw corpus for the size check.
      val freqs = Checkpoints.truncate(freqsPlan)
      if (freqs.count() <= localVocabLimit) {
        import spark.implicits._
        // Code-POINT split (what Spark's substr does), not UTF-16 units.
        val vocabL = freqs.as[(String, Long)].collect().map { case (w, f) =>
          val syms = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < w.length) {
            val cp = w.codePointAt(i)
            syms += new String(Character.toChars(cp))
            i += Character.charCount(cp)
          }
          syms += endOfWord
          (f, syms.toArray)
        }
        Checkpoints.release(freqs)
        return localBpeTrain(spark, vocabL, numMerges)
      }
      // Vocabulary outgrew the limit: char-split the already-materialized
      // frequency table and continue distributed.
      vocab = Checkpoints.truncate(freqs.select(col("freq"), concat(
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        array(lit(endOfWord))).as("syms")))
      Checkpoints.release(freqs)
    } else {
      vocab = Checkpoints.truncate(charSplit)
    }
    val merges = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    var rank = 1
    while (rank <= numMerges) {
      // The size guard matters: a fully-merged single-symbol word would
      // make `sequence(1, 0)` — which Spark evaluates as the DESCENDING
      // [1, 0], not empty — and element_at(syms, 2) then throws.
      val best = vocab
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
             t -> struct(element_at(syms, t) AS l,
                         element_at(syms, t + 1) AS r))"""))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) { rank = numMerges + 1 }
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, n))
        // Greedy non-overlapping rewrite: fold the symbol list left to
        // right, emitting the merged symbol and skipping its right half
        // when (l, r) matches — "aaa" under (a,a) becomes ["aa", "a"].
        val prev = vocab
        vocab = prev
          .withColumn("syms", expr(
            s"""aggregate(sequence(1, size(syms)),
                named_struct('out', cast(array() AS array<string>), 'skip', false),
                (acc, i) -> IF(acc.skip,
                  named_struct('out', acc.out, 'skip', false),
                  IF(i < size(syms)
                       AND element_at(syms, i) = ${sqlLit(l)}
                       AND element_at(syms, i + 1) = ${sqlLit(r)},
                    named_struct('out',
                      concat(acc.out, array(${sqlLit(l + r)})), 'skip', true),
                    named_struct('out',
                      concat(acc.out, array(element_at(syms, i))), 'skip', false))),
                acc -> acc.out)"""))
        vocab = Checkpoints.truncate(vocab)
        // The rewrite is materialized; the superseded vocab's blocks can
        // go — in-flight storage stays one vocab frame for any merge count.
        Checkpoints.release(prev)
        rank += 1
      }
    }
    // The merge table is driver-collected; the last vocab frame is dead.
    Checkpoints.release(vocab)
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** Driver-local merge loop over a collected (freq, symbols) vocabulary —
    * the same argmax (count desc, then (left, right) lexicographic by
    * UTF-8 codepoints, matching Spark's binary string ordering) and the
    * same greedy left-to-right non-overlapping rewrite as the distributed
    * iteration; [[CurationSpec]] proves the two paths bit-identical.
    */
  private def localBpeTrain(
      spark: org.apache.spark.sql.SparkSession,
      vocab0: Array[(Long, Array[String])],
      numMerges: Int): DataFrame = {
    var vocab = vocab0
    val merges = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (f, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // Argmax under (count desc, left, right) with UTF-8 BYTE ordering
        // for the strings — Spark compares UTF8String bytes, and Java's
        // String ordering diverges from it outside the BMP.
        def cmpUtf8(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          val better = best == null || {
            val c = java.lang.Long.compare(kv._2, best._2)
            c > 0 || (c == 0 && {
              val cl = cmpUtf8(kv._1._1, best._1._1)
              cl < 0 || (cl == 0 && cmpUtf8(kv._1._2, best._1._2) < 0)
            })
          }
          if (better) best = kv
        }
        val ((l, r), n) = best
        merges += ((rank, l, r, n))
        vocab = vocab.map { case (f, syms) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (f, out.toArray)
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** Single-quoted SQL string literal with escaping (symbols can contain
    * quotes or backslashes once merges concatenate arbitrary text chars)
    * — injection-load-bearing for the generated merge SQL.
    */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** BPE ENCODING with a learned merge table — the apply half of
    * [[bpeTrainMerges]]: replay the merges in rank order over each word's
    * symbol array (char split + `endOfWord`), each merge the same greedy
    * left-to-right non-overlapping rewrite the trainer used, so a word
    * segments exactly as it did at training time. Returns (idCol,
    * bpe_tokens, n_bpe_tokens) — the real tokenizer-applied counts the
    * `ceil(len/4)` heuristic in [[corpusStats]] approximates.
    *
    * Scale shape: segmentation is a pure function of the WORD, so the
    * corpus tokenizes once and each DISTINCT word encodes exactly once
    * (vocab-sized work — millions of rows at 100 TB, not trillions); the
    * (word, tokens) table then joins back (broadcast under
    * `broadcastVocab`, shuffle otherwise — the [[unigramBitsPerToken]]
    * dial) and per-document sequences reassemble from a sorted
    * position-struct collect. The merge table itself rides in the encode
    * expression as an array literal — it is a tokenizer configuration
    * constant (30–50k entries in production), and the per-word fold is
    * O(merges × word length).
    */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      endOfWord: String = "</w>",
      broadcastVocab: Boolean = true): DataFrame = {
    require(merges.nonEmpty, "bpeEncode needs at least one merge")
    val mergesArr = "array(" + merges.map { case (l, r) =>
      s"named_struct('l', ${sqlLit(l)}, 'r', ${sqlLit(r)}, 'm', ${sqlLit(l + r)})"
    }.mkString(", ") + ")"
    // Outer fold: merges in rank order. Inner fold: the bpeTrainMerges
    // greedy rewrite, parameterized by the outer lambda's merge struct.
    val encodeExpr = expr(
      s"""aggregate(
            $mergesArr,
            concat(transform(sequence(1, length(w)), i -> substr(w, i, 1)),
                   array(${sqlLit(endOfWord)})),
            (syms, mg) -> aggregate(sequence(1, size(syms)),
              named_struct('out', cast(array() AS array<string>), 'skip', false),
              (acc, i) -> IF(acc.skip,
                named_struct('out', acc.out, 'skip', false),
                IF(i < size(syms)
                     AND element_at(syms, i) = mg.l
                     AND element_at(syms, i + 1) = mg.r,
                  named_struct('out', concat(acc.out, array(mg.m)), 'skip', true),
                  named_struct('out', concat(acc.out, array(element_at(syms, i))),
                    'skip', false))),
              acc -> acc.out))""")
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), encodeExpr.as("__toks"))
    val positioned = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "w")))
      .join(if (broadcastVocab) broadcast(vocab) else vocab, "w")
    val encoded = positioned
      .groupBy(idCol)
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("__pos"), col("__toks")))),
        x => x.getField("__toks"))).as("bpe_tokens"))
      .select(col(idCol), col("bpe_tokens"),
        size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"))
    // Token-less documents still get a row (empty tokens, count 0).
    docs.select(col(idCol)).join(encoded, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("bpe_tokens"), array().cast("array<string>")).as("bpe_tokens"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Tokenizer-evaluation report: per group (typically language), the
    * FERTILITY (BPE tokens per whitespace word) and COMPRESSION
    * (characters per BPE token) of a trained merge table over a corpus —
    * the two numbers a multilingual tokenizer is judged by (a vocabulary
    * trained on English alone shows its bias as high fertility on every
    * other language), and the denominator side of any tokens-per-byte
    * cost model for a 100 TB pretraining run.
    *
    * `charsCol` supplies the per-doc character count (use a precomputed
    * metadata column when the corpus carries one — it usually does — so
    * the report never re-scans text for lengths).
    *
    * Scale shape: rides [[bpeEncode]]'s distinct-word vocabulary encode
    * (each distinct word folds the merge table once, documents join the
    * result), then ONE group-count aggregate; ratios are single divisions
    * of exact long sums — no float-fold-order hazard anywhere.
    */
  def tokenizerFertilityReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      charsCol: Column,
      merges: Seq[(String, String)],
      broadcastVocab: Boolean = true): DataFrame = {
    val enc = bpeEncode(docs, idCol, textCol, merges,
        broadcastVocab = broadcastVocab)
      .select(col(idCol), col("n_bpe_tokens"))
    docs.select(col(idCol), col(groupCol),
        size(tokens(col(textCol))).cast("long").as("__nw"),
        charsCol.cast("long").as("__nc"))
      .join(enc, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("__nw").as("n_words"),
        sum("__nc").as("n_chars"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6))
          .as("fertility"),
        when(col("n_bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
          .as("chars_per_token"))
  }

  /** T5-style span-corruption example construction: turn each document
    * into a `(input_text, target_text)` denoising pair — masked spans
    * replaced by sentinel tokens in the input, emitted after their
    * sentinel in the target. The objective-construction step that turns a
    * curated corpus into actual seq2seq training examples.
    *
    * The masking is BLOCK-STRATIFIED rather than i.i.d.-per-position:
    * tokens partition into `blockSize`-token blocks, and each block
    * independently masks its first `1 + (h÷4096) mod maxSpan` tokens with
    * probability `maskNum/4096`, both decisions read off one md5 of
    * `(id, block)`. Stratification keeps every decision a pure function
    * of `(id, block)` — no sequential scan state, so the construction is
    * embarrassingly parallel AND exactly replayable by the SQL oracle
    * (T5's i.i.d. span sampling needs a running span count; the
    * stratified variant trades a slightly more regular mask layout for
    * that). Sentinels are numbered by block index (`<extra_id_B>`) —
    * deterministic without a masked-ordinal prefix scan.
    *
    * Scale shape: ONE shuffle groups each document's tokens (the same
    * discipline as [[assembleSequences]]/[[bpeEncode]]); per-block work
    * touches ≤ `blockSize` tokens, per-doc reassembly folds the sorted
    * block list. Row-local alternatives re-evaluate the tokenizer per
    * block (HOF lambdas re-evaluate captured subtrees) — O(n²/B) per doc;
    * this shape is O(n log B).
    */
  def spanCorruption(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockSize: Int = 4,
      maskNum: Int = 1024,
      maxSpan: Int = 3): DataFrame = {
    require(blockSize >= 1 && maxSpan >= 1 && maxSpan <= blockSize,
      s"need 1 <= maxSpan <= blockSize, got span=$maxSpan block=$blockSize")
    require(maskNum >= 0 && maskNum <= 4096,
      s"maskNum is a probability in 4096ths (0..4096), got $maskNum — " +
        "values outside the grid silently mask everything or nothing")
    val tok = docs
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
      .withColumn("__b", floor(col("__pos") / blockSize).cast("long"))
    val blocks = tok
      .groupBy(col(idCol), col("__b"))
      .agg(transform(sort_array(collect_list(struct(col("__pos"), col("__w")))),
        x => x.getField("__w")).as("bt"))
      .withColumn("__h",
        conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
          col("__b").cast("string"))), 1, 4), 16, 10).cast("long"))
      .withColumn("__masked", pmod(col("__h"), lit(4096L)) < lit(maskNum.toLong))
      .withColumn("__span",
        (lit(1L) + pmod(call_function("div", col("__h"), lit(4096L)),
          lit(maxSpan.toLong))).cast("int"))
      .withColumn("__sent",
        concat(lit("<extra_id_"), col("__b").cast("string"), lit(">")))
      .select(col(idCol), col("__b"),
        size(col("bt")).cast("long").as("__nt"),
        when(col("__masked"),
          concat(array(col("__sent")),
            slice(col("bt"), col("__span") + 1, lit(blockSize))))
          .otherwise(col("bt")).as("inp"),
        when(col("__masked"),
          concat(array(col("__sent")), slice(col("bt"), lit(1), col("__span"))))
          .otherwise(array().cast("array<string>")).as("tgt"),
        when(col("__masked"), least(col("__span").cast("long"),
          size(col("bt")).cast("long"))).otherwise(lit(0L)).as("nm"))
    val assembled = blocks
      .groupBy(col(idCol))
      .agg(sum("__nt").as("n_tokens"), sum("nm").as("n_masked_tokens"),
        sort_array(collect_list(struct(col("__b"), col("inp"), col("tgt"))))
          .as("parts"))
      .select(col(idCol), col("n_tokens"), col("n_masked_tokens"),
        array_join(flatten(transform(col("parts"), x => x.getField("inp"))), " ")
          .as("input_text"),
        array_join(flatten(transform(col("parts"), x => x.getField("tgt"))), " ")
          .as("target_text"))
    docs.select(col(idCol)).join(assembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_masked_tokens"), lit(0L)).as("n_masked_tokens"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as `added` (new snapshot only), `removed` (old only),
    * `changed` (both, different content fingerprint) or `unchanged` —
    * the audit table an incremental ingest publishes with each refresh
    * (what changed between crawl N and crawl N+1, feeding incremental
    * re-dedup/re-decontamination of only the added∪changed slice).
    *
    * Returns (idCol, status, old_fp, new_fp) — fingerprints are md5 hex of
    * the text (null on the side the id is absent from).
    *
    * Scale shape: fingerprints are computed in the scan stage BEFORE the
    * join, so the shuffle carries (id, 32-char fp) pairs — never document
    * bodies; the full-outer join shuffles both sides on the id (free under
    * id-bucketed storage, [[graft.pipeline.JobStore.writeBucketed]]). One
    * shuffle, output linear in the union of ids.
    */
  def snapshotDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // Presence is tracked with explicit markers, NOT fingerprint
    // nullness: md5(null) is null, so a null-text doc present only in
    // the OLD snapshot would read as "added" (the exact opposite of
    // "removed") if absence were inferred from old_fp being null. The
    // fingerprint compare is null-safe for the same reason (two null
    // texts are "unchanged", null vs text is "changed").
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("old_fp"),
      lit(true).as("__in_old"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("new_fp"),
      lit(true).as("__in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("old_fp") <=> col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Surgical span-level decontamination: EXCISE every corpus character
    * range that reproduces a benchmark passage, instead of dropping whole
    * documents the way [[decontaminate]] does — the scalpel for the long
    * web page that quotes one eval question but is otherwise good
    * training data. Corpus windows (`spanLen` chars every `stride`) are
    * matched against ALL benchmark windows (stride 1 on the benchmark
    * side, so a copied passage is caught at any alignment); matching
    * ranges merge and cut out via [[Dedup.exciseMarkedRanges]]'s fold.
    * Returns (idCol, clean_text, n_chars_removed).
    *
    * Coverage contract: a verbatim benchmark passage of ≥ spanLen + stride
    * − 1 chars is guaranteed to have a matching corpus window; excision
    * can leave up to stride − 1 contaminated chars at each passage edge
    * (tiled approximation of the suffix-array exact recipe — stride 1 on
    * the corpus side restores exactness at stride× the window count).
    *
    * Scale shape: benchmark window fingerprints are benchmark-sized ×
    * spanLen and BROADCAST (the [[contaminationReport]] contract); the
    * corpus window pass is a generator explode in the scan stage
    * semi-joined against the broadcast set — the corpus never shuffles to
    * find matches, only the marked ranges (id, pos ints) move.
    */
  def excisePassages(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      spanLen: Int,
      stride: Int): DataFrame = {
    require(spanLen >= 1 && stride >= 1,
      s"spanLen/stride must be >= 1, got $spanLen/$stride")
    val benchH = bench
      .filter(length(col(benchTextCol)) >= spanLen)
      .select(explode(sequence(lit(0), length(col(benchTextCol)) - spanLen,
        lit(1))).as("__bp"), col(benchTextCol))
      .select(md5(col(benchTextCol).substr(col("__bp") + 1, lit(spanLen)))
        .as("__h"))
      .distinct()
    // Spread before both per-row passes, as in repeatedSpanDedup.
    val spreadDocs = Skew.spreadIfUnderSplit(docs, col(idCol))
    val marked = spreadDocs
      .filter(length(col(textCol)) >= spanLen)
      .select(col(idCol),
        explode(sequence(lit(0), length(col(textCol)) - spanLen,
          lit(stride))).as("__pos"),
        col(textCol))
      .select(col(idCol), col("__pos"),
        md5(col(textCol).substr(col("__pos") + 1, lit(spanLen))).as("__h"))
      .join(broadcast(benchH), Seq("__h"), "left_semi")
      .select(col(idCol), col("__pos").as("__s"),
        (col("__pos") + spanLen).as("__e"))
    Dedup.exciseMarkedRanges(spreadDocs, idCol, textCol, marked)
  }

  /** DSIR-style importance weights: score every document by how much more
    * likely its tokens are under the TARGET distribution (the rows
    * matching `targetPred` — e.g. a trusted high-quality stratum) than
    * under the raw corpus distribution — the data-selection recipe of Xie
    * et al.'s "Data Selection for Language Models via Importance
    * Resampling" reduced to unigram bag-of-words features. Per document:
    * `log_ratio_per_token = (1/n) Σ_tok nd · (ln p_target(tok) −
    * ln p_raw(tok))` with add-one-smoothed unigram estimates
    * `p(tok) = (c + 1)/(T + V)` over the RAW corpus vocabulary (V = raw
    * distinct-token count; target counts of unseen tokens are 0, smoothing
    * keeps them finite). High scores ≈ target-like documents; resample the
    * corpus ∝ exp(weight) or keep the top slice.
    *
    * Scale shape: the tokenize pass aggregates to per-(doc, token) counts
    * once; the two vocabulary tables (raw + target counts, vocabulary-
    * sized) left-join onto it — broadcast by default, shuffle join under
    * `broadcastVocab = false` for web-scale vocabularies (the
    * [[unigramBitsPerToken]] dial). The per-doc fold runs over the
    * token-SORTED count list so the float sum adds identical terms in
    * identical order on any engine and partitioning. Returns
    * (idCol, n_tokens, log_ratio_per_token).
    */
  def importanceWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      broadcastVocab: Boolean = true): DataFrame = {
    val tok = docs.select(col(idCol), targetPred.as("__tgt"),
      explode(tokens(col(textCol))).as("tok"))
    val perDocTok = tok.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("nd"))
    // One vocabulary pass carries both distributions: raw count + target
    // count per token (conditional aggregation, no second scan). The
    // consumers deliberately re-run the tokenize (see unigramBitsPerToken:
    // the derive-from-cached-(doc,tok) variant measured 2.2x slower).
    val vocab = tok.groupBy("tok").agg(
      count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = vocab.agg(
      sum("cr").cast("double").as("tr"),
      sum("ct").cast("double").as("tt"),
      count(lit(1)).cast("double").as("v"))
    perDocTok.join(if (broadcastVocab) broadcast(vocab) else vocab, "tok")
      .groupBy(col(idCol))
      .agg(sum("nd").as("n_tokens"),
        sort_array(collect_list(struct(col("tok"), col("nd"), col("cr"),
          col("ct")))).as("tc"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_tokens"),
        // + 0.0 folds a rounded -0.0 (a balanced doc whose ratio sum is an
        // infinitesimal negative) to +0.0 — engines format the two zeros
        // differently.
        (round(aggregate(col("tc"), lit(0.0), (acc, x) =>
          acc + x.getField("nd") *
            (log((x.getField("ct").cast("double") + 1.0) / (col("tt") + col("v"))) -
              log((x.getField("cr").cast("double") + 1.0) / (col("tr") + col("v"))))) /
          col("n_tokens"), 6) + lit(0.0)).as("log_ratio_per_token"))
  }

  /** Linear quality-classifier gate: the margin of a fixed linear model
    * over [[qualityFilter]]'s published signal columns — the shape of a
    * fastText/logistic quality classifier (as used by the CCNet/LLaMA
    * data pipelines) with the training externalized: weights arrive as
    * data, scoring is one in-plan expression. `margin = bias + Σ w_i·x_i`
    * in the FIXED order (n_tokens, mean_word_len, punct_ratio,
    * stopword_ratio, dup_segment_frac, top_bigram_frac); `keep ⇔ margin ≥
    * 0` (= sigmoid(margin) ≥ 0.5 without evaluating exp — the margin form
    * keeps the oracle engine-portable, multiply/add only). Signals enter
    * at their published 6-dp rounding, so the score is reproducible from
    * the audit columns alone. Returns the signal columns plus
    * (margin, keep).
    *
    * The margin publishes at `roundTo` = 8 decimals, where the EXACT
    * decimal sum terminates for ≤2-dp weights over the 6-dp signals: a
    * rounding point on which the decimal terminates has no half-way
    * cases, so engines with different round-half conventions (Spark's
    * BigDecimal HALF_UP vs DuckDB's double rounding, which disagree
    * within 1 ulp of a .5 boundary — measured on this very operator at
    * 6 dp, where short-decimal weights times 6-dp signals make exact
    * .5 boundaries structurally COMMON, not a 1e-6 fluke) produce
    * bit-identical doubles. Callers with ≥3-dp weights should raise
    * `roundTo` to where their products terminate.
    *
    * Scale: [[qualityFilter]]'s signal pass (one tokenize + the q59
    * repetition aggregate) plus a row-local projection — nothing new
    * shuffles.
    */
  def qualityMargin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Double],
      bias: Double,
      separator: String = "\n",
      roundTo: Int = 8): DataFrame = {
    require(weights.length == 6,
      s"qualityMargin expects 6 weights (n_tokens, mean_word_len, " +
        s"punct_ratio, stopword_ratio, dup_segment_frac, top_bigram_frac), " +
        s"got ${weights.length}")
    val signals = qualityFilter(docs, idCol, textCol, separator = separator)
      .drop("reason", "keep")
    val cols = Seq("n_tokens", "mean_word_len", "punct_ratio",
      "stopword_ratio", "dup_segment_frac", "top_bigram_frac")
    val margin = cols.zip(weights).foldLeft(lit(bias)) {
      case (acc, (c, w)) => acc + lit(w) * col(c).cast("double")
    }
    signals
      .withColumn("margin", round(margin, roundTo))
      .withColumn("keep", col("margin") >= 0)
  }

  /** Pattern redaction with an audit trail — [[redactPii]] generalized to
    * a caller-supplied policy: each (name, regex, replacement) rule
    * rewrites every match to its replacement token and reports how many
    * spans it rewrote, applied in rule order (later rules see earlier
    * rules' output, so the counts are exactly the spans each rule actually
    * replaced — what a release-compliance report needs, where
    * [[redactPii]] only returns the scrubbed text). The policy arrives as
    * data; the defaults cover the usual trio (email addresses, dotted IPv4
    * literals, long digit runs).
    *
    * Regexes must stay in the Java ∩ RE2 common dialect (character
    * classes, bounded repeats, `\b` word boundaries — no backreferences or
    * lookaround) so an external engine reproduces the rewrite exactly;
    * replacements must be literal (no `$n` group references).
    *
    * Returns (idCol, textCol redacted, one `n_<name>` count per rule,
    * n_redactions total).
    *
    * Scale: a pure per-row projection in the scan stage — no shuffle, no
    * UDF; `regexp_replace`/`regexp_extract_all` are codegen built-ins and
    * the rule list is compiled once per task by Spark's regex expression
    * cache.
    */
  def redactPatterns(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rules: Seq[(String, String, String)] = defaultRedactions): DataFrame = {
    require(rules.nonEmpty, "redactPatterns needs at least one rule")
    require(rules.map(_._1).distinct.length == rules.length,
      "redaction rule names must be unique")
    val redacted = rules.foldLeft(docs.select(col(idCol), col(textCol))) {
      case (df, (name, re, repl)) =>
        df.withColumn(s"n_$name",
            size(regexp_extract_all(col(textCol), lit(re), lit(0))))
          .withColumn(textCol, regexp_replace(col(textCol), re, repl))
    }
    redacted.withColumn("n_redactions",
      rules.map(r => col(s"n_${r._1}")).reduce(_ + _))
  }

  /** The default [[redactPatterns]] policy: email addresses, dotted IPv4
    * literals, then 7+-digit runs (emails first so their digits are not
    * half-eaten by the number rule; IPv4 octets are dot-separated, so the
    * digit-run rule never fires inside an already-redacted address).
    */
  val defaultRedactions: Seq[(String, String, String)] = Seq(
    ("email", piiEmailRe, "<EMAIL>"),
    ("ip", piiIpv4Re, "<IP>"),
    ("number", "[0-9]{7,}", "<NUM>"))
}
