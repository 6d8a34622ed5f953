package graft.examples

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{Checkpoints, Curation, Dedup, Sampling, Similarity}

/** Scale probe: one suite of operators timed over a ladder of synthetic
  * corpus sizes beyond the sf0.1 test data. A stage whose time grows
  * faster than the corpus between rungs is super-linear; PLANS.md cites
  * runs.
  *
  * Usage: `sbt "runMain graft.examples.ScaleProbe <suite> [sizesCsv] [args]"`
  *
  *  - `vectors [sizes] [dim]` — exact, k-NN, IVF, LSH, PQ and prefix
  *    retrieval over hash-derived embeddings (default 100000, dim 64).
  *  - `curation [sizes] [wordsPerDoc]` — every curation operator on its
  *    own, then the composed q63 chain with and without its stage barrier
  *    (default 100000 docs of 50 words).
  *  - `chain [sizes] [barrierSize]` — the q63 and q77 chains stage by
  *    stage, each stage reading its materialized input, then the q63
  *    barrier arms at `barrierSize` (default 1M,2M,4M,8M; barrier at the
  *    largest).
  *  - `dedup-stream [bulkSizes] [trickle] [nTrickle]` — streaming MinHash
  *    near-dedup: a bulk first micro-batch, then `nTrickle` batches of
  *    `trickle` docs, once at `nStateBuckets` 1 (every probe reads the
  *    whole state) and once at 64 (default 1000000, 20000, 6).
  *
  * Environment: `SPARK_GRAFT_CPUS` (cores, default all),
  * `SPARK_GRAFT_CONF` (extra session confs, as for `graft.Verify`) and
  * `SPARK_GRAFT_VOCAB` (word space of the document corpora, default
  * 60466176: nearly every word unique, the adversarial case for
  * distinct-keyed aggregates; e.g. 50000 approaches natural text's
  * saturating vocabulary).
  *
  * Output: one JSON line per (suite, stage, size) with the minimum wall
  * seconds over the repeats and the stage's rows; over several sizes, a
  * growth-ratio table. Every timed run sets the job description
  * `<suite>/<stage>/<size>/rep<i>`, so with Spark's event log switched on
  * through `SPARK_GRAFT_CONF`, `python3 tools/eventlog.py <log>` gives
  * each run's jobs and shuffle bytes, and each streaming query's
  * per-micro-batch trigger seconds (queries in the order the stream
  * stages ran). Never run it next to sbt or tests: the minimum over
  * repeats cannot reject sustained contention.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: ScaleProbe vectors|curation|chain|dedup-stream [sizesCsv] [args]"
    val suite = args.headOption.getOrElse(sys.error(usage))
    val sizes = args.lift(1).map(_.split(",").map(_.trim.toLong).toSeq)
    val extra = args.drop(2)
    def arg(i: Int, default: Long): Long = extra.lift(i).fold(default)(_.toLong)
    val vocab = sys.env.getOrElse("SPARK_GRAFT_VOCAB", "60466176").toLong
    val spark = graft.Verify.session(Runtime.getRuntime.availableProcessors.toString)
    spark.sparkContext.setLogLevel("WARN")
    val t = new Timer(spark, suite)

    // Untimed warmup at 1/20 of the smallest rung: the first measured rung
    // otherwise absorbs all codegen/JIT cost (q63.strip once read 34 s at
    // the first rung against 11 s at the next, larger one).
    def ladder(default: Seq[Long], warmup: Boolean)(perSize: Long => Unit): Seq[Long] = {
      val ns = sizes.getOrElse(default)
      val warm = if (warmup) Seq(math.max(1000L, ns.min / 20)) else Nil
      (warm ++ ns).zipWithIndex.foreach { case (n, i) =>
        t.recording = i >= warm.size
        sizedPartitions(spark, n)
        perSize(n)
      }
      ns
    }
    suite match {
      case "vectors" =>
        ladder(Seq(100000L), warmup = true)(vectors(spark, t, _, arg(0, 64).toInt))
      case "curation" =>
        ladder(Seq(100000L), warmup = true) { n =>
          curation(t, n, documents(spark, n, arg(0, 50).toInt, 64, vocab))
        }
      case "chain" =>
        val ns = ladder(Seq(1000000L, 2000000L, 4000000L, 8000000L), warmup = true) { n =>
          chain(t, n, documents(spark, n, 50, 4, vocab))
        }
        val n = arg(0, ns.max)
        sizedPartitions(spark, n)
        q63Arms(t, n, t.hold(documents(spark, n, 50, 4, vocab)))
      case "dedup-stream" =>
        // No warmup: the per-batch trigger times show it in the first
        // trickle batches, and the last trickle batch is the steady state.
        ladder(Seq(1000000L), warmup = false)(
          dedupStream(spark, t, _, arg(0, 20000), arg(1, 6).toInt))
      case _ => sys.error(usage)
    }
    t.growthTable()
    spark.stop()
  }

  /** Shuffle partitions scale with the data so rows per partition stay
    * ~constant (≈31k docs, ~10 MB of text, per partition). At a fixed
    * width the distinct-heavy aggregates' per-partition hash state grows
    * with the corpus, crosses the in-memory threshold and spills — a
    * super-linear time that measures the misconfiguration, not the
    * operator (q63.strip once read 21.6 s at 2M docs, 98.8 s at 4M, on 32
    * partitions).
    */
  private def sizedPartitions(spark: SparkSession, n: Long): Unit =
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(spark.sparkContext.defaultParallelism.toLong, n / 31250).toString)

  /** Times stages under one discipline: every run starts from storage that
    * holds only the suite's held frames and a settled JVM; each stage runs
    * `reps` times (arms of one comparison alternate, so drift hits both)
    * and reports its minimum, the uncontended cost of a deterministic
    * stage — one sample let a GC pause or a cache-population race pass
    * for super-linearity (growth ratios 0.18–2.89 for stages linear by
    * construction).
    */
  private final class Timer(spark: SparkSession, suite: String) {
    var recording = true
    private val held = mutable.ArrayBuffer.empty[DataFrame]
    private val seconds = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Long, Double]]

    /** Pin `df` for later stages, materialized outside any clock. */
    def hold(df: DataFrame): DataFrame = {
      val p = Checkpoints.pin(df.repartition(spark.sparkContext.defaultParallelism))
      held += p
      p.count()
      p
    }

    def release(df: DataFrame): Unit = { held -= df; Checkpoints.release(df) }

    private def isolate(): Unit = {
      spark.catalog.clearCache()
      val keep = held.map(_.queryExecution.analyzed).collect {
        case p: InMemoryRelation => p.cacheBuilder.cachedColumnBuffers.id
      }.toSet
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
      System.gc(); Thread.sleep(50)
    }

    /** Time each arm `reps` times, alternating; record each arm's minimum.
      * Bodies are by name so an operator's eager planning jobs run inside
      * the clock. */
    def time(size: Long, reps: Int = 2)(arms: (String, () => Long)*): Unit = {
      val runs = for (rep <- 1 to reps; (stage, body) <- arms) yield {
        isolate()
        spark.sparkContext.setJobDescription(
          if (recording) s"$suite/$stage/$size/rep$rep" else s"$suite/warmup")
        val t0 = System.nanoTime()
        val rows = try body() finally spark.sparkContext.setJobDescription(null)
        (stage, (System.nanoTime() - t0) / 1e9, rows)
      }
      if (recording) arms.foreach { case (stage, _) =>
        val mine = runs.filter(_._1 == stage)
        val s = mine.map(_._2).min
        seconds.getOrElseUpdate(stage, mutable.LinkedHashMap.empty) += size -> s
        println(f"""{"suite": "$suite", "stage": "$stage", "size": $size, """ +
          f""""seconds": $s%.3f, "rows": ${mine.head._3}}""")
      }
    }

    def stage(name: String, size: Long, reps: Int = 2)(body: => Long): Unit =
      time(size, reps)(name -> (() => body))

    /** Time building `mk` and materializing it as a held pin (each repeat
      * drops the previous one's), and return the last repeat's pin. */
    def materialize(name: String, size: Long)(mk: => DataFrame): DataFrame = {
      var last: Option[DataFrame] = None
      stage(name, size) {
        last.foreach(release)
        val p = Checkpoints.pin(mk)
        held += p
        last = Some(p)
        p.count()
      }
      last.get
    }

    /** Seconds per stage and size, with each rung's growth ratio against
      * the size ratio (ratio ≈ size ratio: linear; ≫: super-linear). */
    def growthTable(): Unit = {
      val sizes = seconds.values.flatMap(_.keys).toSeq.distinct.sorted
      if (sizes.size > 1) {
        def ratios(xs: Seq[Double]) = xs.sliding(2).map(w => f"${w(1) / w(0)}%.2f").mkString("/")
        println(s"\n$suite: seconds per size; growth ratio per rung " +
          s"(sizes ${ratios(sizes.map(_.toDouble))})")
        for ((stage, bySize) <- seconds) {
          val ts = sizes.map(bySize.getOrElse(_, Double.NaN))
          println(stage.padTo(28, ' ') + ts.map(s => f"$s%12.2f").mkString + "   " + ratios(ts))
        }
      }
    }
  }

  // ---- generators: deterministic (hash-derived, no RNG) so runs compare ----

  /** Row content seed: every 100th row repeats its predecessor, so the
    * dedup paths see a ~1% duplicate rate rather than none. */
  private val contentId: Column =
    when(pmod(col("id"), lit(100)) === 99, col("id") - 1).otherwise(col("id"))

  /** `dim` hash-derived components near-uniform in [-1, 1], so hyperplane
    * sign bits spread LSH buckets the way the n/2^bits sizing assumes (a
    * sin(id·i) corpus was correlated across rows and probed the skew guard
    * instead of the operator). */
  def embeddings(spark: SparkSession, n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((1 to dim).map(i =>
        ((pmod(xxhash64(contentId * lit(1000003L) + lit(i)), lit(2001L)) -
          lit(1000L)) / lit(1000.0)).cast("float")): _*).as("embedding"))

  /** The embedding of row `id` (Spark's xxhash64 seed is 42). */
  private def embeddingOf(id: Long, dim: Int): Seq[Float] = (1 to dim).map(i =>
    ((Math.floorMod(XXH64.hashLong(id * 1000003L + i, 42L), 2001L) - 1000L) / 1000.0).toFloat)

  /** Documents of `wordsPerDoc` hash-derived base-36 words (~6 bytes each)
    * from a space of `vocab` words, in `sources` sources `src<k>`. Natural
    * character n-gram diversity (a digit-only variant concentrated dfs
    * mid-range, the gram index's worst case) and no degenerate shingle
    * collisions to blow up LSH buckets quadratically. */
  def documents(spark: SparkSession, n: Long, wordsPerDoc: Int, sources: Int,
      vocab: Long): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("src"), (col("id") % sources).cast("string")).as("source"),
      array_join(transform(sequence(lit(1), lit(wordsPerDoc)),
        i => conv(pmod(xxhash64(contentId * lit(1000003L) + i),
          lit(vocab)).cast("string"), 10, 36)), " ").as("text"))

  /** Streaming documents `[from, until)`: 25 words from a per-doc seed plus
    * 3 doc-unique words, so same-seed docs sit at Jaccard ≈ 0.9 and others
    * at ≈ 0. Every 1997th doc past `bulk` reuses a bulk doc's seed: a small,
    * cross-batch candidate set, like a crawl increment. */
  def streamDocuments(spark: SparkSession, from: Long, until: Long, bulk: Long): DataFrame = {
    val seed = when(col("id") >= bulk && col("id") % 1997 === 0, col("id") % (bulk / 2))
      .otherwise(col("id"))
    def words(k: Int, key: Column, salt: Int) = transform(sequence(lit(1), lit(k)),
      j => conv(pmod(xxhash64(key, j + salt), lit(1679616L)), 10, 36))
    spark.range(from, until).select(col("id").as("doc_id"),
      array_join(concat(words(25, seed, 0), words(3, col("id"), 100)), " ").as("text"))
  }

  // ---- suites ----

  private def vectors(spark: SparkSession, t: Timer, n: Long, dim: Int): Unit = {
    val emb = t.hold(embeddings(spark, n, dim))
    val queries = emb.filter(col("vec_id") < 8)
    val q = embeddingOf(7L, dim) // in-distribution by construction
    t.stage("exact_top10", n)(
      Similarity.topKForQuery(emb, "vec_id", "embedding", q, 10).collect().length.toLong)
    t.stage("knn_join_8x10", n)(Similarity.topKJoin(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 10).collect().length.toLong)
    // nlist grows ~√n, then plateaus at a fixed index configuration (the
    // broadcast bound): past ~1M vectors the build is linear in n.
    val nlist = math.min(1024, math.max(32, math.sqrt(n.toDouble).toInt))
    t.stage("ivf_build_probe", n) {
      val assigned = Checkpoints.pin(Similarity.ivfAssign(emb, "vec_id", "embedding", nlist))
      assigned.count()
      val thr = Similarity.sampleThreshold(nlist.toLong, n)
      val centroids = emb.filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val hits = Similarity.ivfTopKForQuery(assigned, centroids, "vec_id", "embedding",
        q, 10, nprobe = 8).collect().length
      Checkpoints.release(assigned)
      hits.toLong
    }
    t.stage("lsh_pairs", n)(Similarity.lshNearNeighbors(emb, "vec_id", "embedding", dim,
      threshold = 0.9, bits = Similarity.lshBitsFor(n, targetBucketSize = 32),
      maxBucket = 256).count())
    // Codebook: a bounded collect; encode: one codegen argmin pass over the
    // corpus (the slope to watch); ADC search scans 8-byte codes only.
    t.stage("pq_encode_search", n) {
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8, targetKs = 16)
      val enc = Checkpoints.pin(Similarity.pqEncode(emb, "vec_id", "embedding", cb))
      enc.count()
      val hits = Similarity.pqTopK(enc, emb, "vec_id", "embedding", cb,
        queries, "vec_id", "embedding", k = 10, rerank = 100).collect().length
      Checkpoints.release(enc)
      hits.toLong
    }
    t.stage("prefix16_top10", n)(Similarity.prefixTopKJoin(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", prefixDim = 16, k = 10, rerank = 100)
      .collect().length.toLong)
    t.release(emb)
  }

  private def curation(t: Timer, n: Long, corpus: DataFrame): Unit = {
    val docs = t.hold(corpus)
    val (odd, even) = (docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0))
    t.stage("exact_dedup_groups", n)(Dedup.exactGroups(docs, "doc_id", "text").count())
    t.stage("minhash_signatures", n)(readAll(Dedup.minHashSignatures(docs, "doc_id", "text")))
    t.stage("minhash_pairs", n)(Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      threshold = 0.8, numHashes = 16, bands = 4, shingleLen = 3).count())
    t.stage("ngram_jaccard_pairs", n)(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 8, threshold = 0.8, maxDocFreq = 100).count())
    t.stage("ngram_jaccard_pairs_sampled", n)(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 8, threshold = 0.8, maxDocFreq = 100, gramFraction = 0.25).count())
    t.stage("contamination", n)(Curation.contaminationReport(
        docs.filter(col("doc_id") >= 1000), "doc_id", "text",
        docs.filter(col("doc_id") < 1000), "text", n = 6)
      .filter(col("contaminated")).count())
    t.stage("boilerplate_strip", n)(Curation.stripBoilerplate(docs, "doc_id", "text",
      separator = " ", minDocs = n / 10).count())
    t.stage("repetition", n)(
      readAll(Curation.repetitionReport(docs, "doc_id", "text", separator = " ")))
    t.stage("pii_redaction", n)(readAll(docs.select(Curation.redactPii(col("text")))))
    t.stage("pack_sequences", n)(Curation.packSequences(docs, "doc_id",
      TextFunctions.tokenCount(col("text")), "source", seqLen = 2048).count())
    t.stage("segment_dedup", n)(
      readAll(Curation.dedupeSegments(docs, "doc_id", "text", separator = " ")))
    t.stage("vocabulary_top100", n)(Curation.vocabulary(docs, "text", k = 100).count())
    t.stage("chunking", n)(Curation.chunkDocuments(docs, "doc_id", "text",
      chunkTokens = 32, stride = 24).count())
    t.stage("cross_corpus_near_dup", n)(Dedup.crossCorpusNearDuplicates(
      odd, "doc_id", even, "doc_id", "text", threshold = 0.8, numHashes = 16, bands = 4).count())
    t.stage("top_per_group", n)(Sampling.topPerGroup(
      docs.withColumn("score", length(col("text")).cast("double")),
      "doc_id", "source", "score", k = 10).count())
    t.stage("outlier_report", n)(Curation.outlierReport(docs, "doc_id", "source",
      length(col("text")), "n_chars").count())
    t.stage("char_entropy", n)(readAll(Curation.charEntropyReport(docs, "doc_id", "text")))
    t.stage("bpe_pair_counts", n)(Curation.bpePairCounts(docs, "text", k = 100).count())
    q63Arms(t, n, docs)
    t.release(docs)
  }

  /** Rows of `df`, read through a hash of every column: a bare `count()`
    * of a row-local projection lets Catalyst prune the operator away. */
  private def readAll(df: DataFrame): Long =
    df.agg(count(lit(1)), sum(hash(col("*")).cast("long"))).head().getLong(0)

  // The q63 chain (strip → exact dedup → decontaminate against the first
  // 1000 docs → pack), one function per step.
  private def q63Strip(docs: DataFrame): DataFrame =
    Curation.stripBoilerplate(docs, "doc_id", "text", separator = " ", minDocs = Right(0.8))
  private def q63Dedup(stripped: DataFrame): DataFrame =
    Dedup.exactDedup(stripped, "doc_id", "text_clean")
  private def q63Decon(deduped: DataFrame, docs: DataFrame): DataFrame =
    Curation.decontaminate(deduped.filter(col("doc_id") >= 1000), "doc_id", "text_clean",
      docs.filter(col("doc_id") < 1000), "text", n = 6)
  private def q63Pack(decon: DataFrame, docs: DataFrame): Long =
    Curation.packSequences(decon.join(docs.select("doc_id", "source"), "doc_id"),
      "doc_id", TextFunctions.tokenCount(col("text_clean")), "source", seqLen = 2048).count()

  /** The composed q63 chain as one job, with a materialized barrier on the
    * deduped stage (the in-memory form of writing the stage table) and
    * without one (whatever branches downstream recomputes strip → dedup);
    * the two arms alternate. */
  private def q63Arms(t: Timer, n: Long, docs: DataFrame): Unit = {
    def composed(barrier: Boolean): Long = {
      val deduped = q63Dedup(q63Strip(docs))
      if (!barrier) q63Pack(q63Decon(deduped, docs), docs)
      else {
        val pinned = Checkpoints.pin(deduped)
        pinned.count()
        try q63Pack(q63Decon(pinned, docs), docs) finally Checkpoints.release(pinned)
      }
    }
    t.time(n)("q63.composed.barrier" -> (() => composed(true)),
      "q63.composed.recompute" -> (() => composed(false)))
  }

  private def chain(t: Timer, n: Long, corpus: DataFrame): Unit = {
    val docs = t.hold(corpus)
    val stripped = t.materialize("q63.strip", n)(q63Strip(docs))
    val deduped = t.materialize("q63.dedup", n)(q63Dedup(stripped))
    val decon = t.materialize("q63.decon", n)(q63Decon(deduped, docs))
    t.stage("q63.pack", n)(q63Pack(decon, docs))
    Seq(stripped, deduped, decon).foreach(t.release)

    val kept = t.materialize("q77.quality", n)(Curation.qualityFilter(docs, "doc_id", "text",
        minStopwordRatio = 0.0, maxDupSegmentFrac = 0.95, separator = " ")
      .filter(col("keep"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "n_tokens"))
    val mixed = t.materialize("q77.mix", n)(Sampling.sampleToTokenBudget(kept, "doc_id",
      "source", "n_tokens", budget = n * 50 / 100, // ~1% of corpus tokens
      weights = (0 until 4).map(s => s"src$s" -> 0.25)))
    t.stage("q77.pack", n)(Curation.packSequences(mixed, "doc_id", col("n_tokens"),
      "source", seqLen = 2048).count())
    Seq(kept, mixed, docs).foreach(t.release)
  }

  /** One drain per state layout over identical files and batch
    * boundaries. Source files are written untimed, one file per intended
    * micro-batch in arrival order (the file source takes files by
    * modification time), the bulk as 4 files. */
  private def dedupStream(spark: SparkSession, t: Timer, bulk: Long, trickle: Long,
      nTrickle: Int): Unit =
    for (nb <- Seq(1, 64)) {
      val base = java.nio.file.Files.createTempDirectory("graft-scale-stream").toString
      val src = s"$base/docs"
      val batches = (0L, bulk, 4) +: (0 until nTrickle).map { b =>
        (bulk + b * trickle, bulk + (b + 1) * trickle, 1) }
      for ((from, until, files) <- batches) {
        streamDocuments(spark, from, until, bulk).coalesce(files)
          .write.mode("append").parquet(src)
        Thread.sleep(50)
      }
      // One run: each drain is itself a sequence of measured batches.
      t.stage(s"stream.nb$nb", bulk, reps = 1)(Dedup.streamingMinHashNearDuplicates(
        spark, src, "*.parquet", "doc_id", "text",
        stateDir = s"$base/state", checkpointDir = s"$base/ckpt",
        threshold = 0.7, maxFilesPerTrigger = 1, nStateBuckets = nb).count())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
}
