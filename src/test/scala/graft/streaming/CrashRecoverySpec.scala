package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Curation, Dedup, Failpoint, Similarity, Upsert}

/** Kill-and-restart integration probes for the keyed streaming sinks.
  *
  * The earlier replay specs simulate recovery by hand-editing state dirs
  * after a CLEAN run; these instead crash the query WHILE IT RUNS — a
  * [[Failpoint]] throws inside `foreachBatch` after the state writes land
  * but before Structured Streaming commits the micro-batch — and then
  * restart from the SAME checkpoint, so the batch replay travels Spark's
  * own recovery path. Exactly-once is proven by equality with an
  * uninterrupted run on separate directories.
  */
class CrashRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-crash-recovery-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Run `body`, assert it failed because of the INJECTED crash (not an
    * incidental error), then disarm the failpoint. */
  private def crashes(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[Failpoint.InjectedCrash]),
      s"expected the injected crash, got: $e")
    spark.conf.unset("spark.graft.test.failpoint")
  }

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox jumps over the lazy cat"),
    (4L, "completely different text about spark engines and shuffles"),
    (5L, "THE  QUICK   Brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  test("minhash stream killed after all state writes, before the batch " +
      "commit: restart replays through the checkpoint, pairs exactly-once") {
    val base = graft.TestScratch.dir("graft-crash-mh-post")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    def run(tag: String) = Dedup.streamingMinHashNearDuplicates(spark,
        s"$base/docs.parquet", "*.parquet", "doc_id", "text",
        stateDir = s"$base/state$tag", checkpointDir = s"$base/ckpt$tag",
        threshold = 0.4, maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val golden = run("_golden")
    assert(golden.nonEmpty)
    // crash mid-stream on the SECOND micro-batch, after every write and
    // its witness
    spark.conf.set("spark.graft.test.failpoint", "minhash_post_writes:1")
    crashes(run(""))
    // restart from the same checkpoint: batch 1 replays, witnesses skip
    assert(run("") == golden)
    val raw = spark.read.parquet(s"$base/state/pairs")
    assert(raw.count() == raw.distinct().count() && raw.count() == golden.size)
  }

  test("minhash stream killed mid-batch (index appends landed, pairs " +
      "write did not): replay regenerates identical pairs, no double appends") {
    val base = graft.TestScratch.dir("graft-crash-mh-mid")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    def run(tag: String) = Dedup.streamingMinHashNearDuplicates(spark,
        s"$base/docs.parquet", "*.parquet", "doc_id", "text",
        stateDir = s"$base/state$tag", checkpointDir = s"$base/ckpt$tag",
        threshold = 0.4, maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val golden = run("_golden")
    spark.conf.set("spark.graft.test.failpoint", "minhash_mid_writes:1")
    crashes(run(""))
    assert(run("") == golden)
    // the replayed batch's docs sat in the index during regeneration; the
    // anti-join/orientation guards must leave zero duplicate state rows
    for (store <- Seq("banded", "shingles")) {
      val s = spark.read.parquet(s"$base/state/$store")
      assert(s.count() == s.distinct().count(), s"duplicate rows in $store")
    }
    val raw = spark.read.parquet(s"$base/state/pairs")
    assert(raw.count() == raw.distinct().count() && raw.count() == golden.size)
  }

  test("IVF ingest killed between the fenced append and the batch commit: " +
      "restart does not duplicate cell members") {
    val base = graft.TestScratch.dir("graft-crash-ivf")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.repartition(3).write.mode("overwrite").parquet(s"$base/emb.parquet")
    val thr = Similarity.sampleThreshold(8L, emb.count())
    val centroids = emb
      .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid_vec"))
    def run(tag: String) = Similarity.streamingIvfIngest(spark,
        s"$base/emb.parquet", "*.parquet", "vec_id", "embedding", centroids,
        indexDir = s"$base/index$tag", checkpointDir = s"$base/ckpt$tag",
        maxFilesPerTrigger = 1)
      .select("vec_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val golden = run("_golden")
    spark.conf.set("spark.graft.test.failpoint", "ivf_post_fence:1")
    crashes(run(""))
    assert(run("") == golden)
    // set equality would mask duplicates; the index must also hold
    // exactly one row per vector
    assert(spark.read.parquet(s"$base/index/assigned").count() == emb.count())
  }

  test("IVF ingest killed INSIDE the staged append (staged write fenced, " +
      "nothing published): restart resumes publication exactly-once") {
    val base = graft.TestScratch.dir("graft-crash-ivf-staged")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.repartition(3).write.mode("overwrite").parquet(s"$base/emb.parquet")
    val thr = Similarity.sampleThreshold(8L, emb.count())
    val centroids = emb
      .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid_vec"))
    def run(tag: String) = Similarity.streamingIvfIngest(spark,
        s"$base/emb.parquet", "*.parquet", "vec_id", "embedding", centroids,
        indexDir = s"$base/index$tag", checkpointDir = s"$base/ckpt$tag",
        maxFilesPerTrigger = 1)
      .select("vec_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val golden = run("_golden")
    // the torn-commit-equivalent window: the batch's data files are all
    // staged and fenced, but NONE are in the live tree and no `__pub`
    // witness exists — a bare append could not survive this point
    spark.conf.set("spark.graft.test.failpoint", "staged_post_fence:1")
    crashes(run(""))
    // the fenced staged dir must exist with its batch unpublished
    val stagedLeft = new java.io.File(s"$base/index")
      .listFiles().map(_.getName).exists(_.startsWith("assigned__staged_b"))
    assert(stagedLeft, "the injected crash must leave a fenced staged dir")
    assert(run("") == golden)
    assert(spark.read.parquet(s"$base/index/assigned").count() == emb.count())
    // publication resumed and cleaned up: no staged dirs remain
    assert(!new java.io.File(s"$base/index").listFiles()
      .map(_.getName).exists(_.contains("__staged_b")))
  }

  test("minhash pairs append killed INSIDE the flat staged write (fenced, " +
      "unpublished): restart resumes publication, pairs exactly-once") {
    val base = graft.TestScratch.dir("graft-crash-mh-flat")
    // every doc near-identical: any micro-batch after the first pairs its
    // docs against the already-indexed ones, so the batch-1 pairs append
    // is deterministically non-empty and the armed failpoint must fire
    val similar = (1L to 6L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog number " + (i % 2)))
      .toDF("doc_id", "text")
    similar.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    def run(tag: String) = Dedup.streamingMinHashNearDuplicates(spark,
        s"$base/docs.parquet", "*.parquet", "doc_id", "text",
        stateDir = s"$base/state$tag", checkpointDir = s"$base/ckpt$tag",
        threshold = 0.4, maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val golden = run("_golden")
    assert(golden.nonEmpty)
    // the flat-append torn-commit window: the batch's single pairs file is
    // staged and fenced but NOT in the live tree, and its `__pub` witness
    // was never written — a bare append could not survive here
    spark.conf.set("spark.graft.test.failpoint", "staged_post_fence_flat:1")
    crashes(run(""))
    val stagedLeft = new java.io.File(s"$base/state")
      .listFiles().map(_.getName).exists(_.startsWith("pairs__staged_b"))
    assert(stagedLeft, "the injected crash must leave a fenced staged dir")
    assert(run("") == golden)
    // publication resumed exactly once and the staged dir was cleaned up
    val raw = spark.read.parquet(s"$base/state/pairs")
    assert(raw.count() == raw.distinct().count() && raw.count() == golden.size)
    assert(!new java.io.File(s"$base/state").listFiles()
      .map(_.getName).exists(_.contains("__staged_b")))
  }

  test("minhash stream killed INSIDE the pairs compaction swap (merged " +
      "file live, preserved copy under __old): restart heals via " +
      "repairFlat, pairs exactly-once") {
    val base = graft.TestScratch.dir("graft-crash-mh-compact")
    val similar = (1L to 6L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog number " + (i % 2)))
      .toDF("doc_id", "text")
    similar.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    // compactAfterFiles = 1: the pairs sink compacts as soon as it holds
    // two files, so the FIRST compaction runs (and crashes) at batch 1
    def run(tag: String) = Dedup.streamingMinHashNearDuplicates(spark,
        s"$base/docs.parquet", "*.parquet", "doc_id", "text",
        stateDir = s"$base/state$tag", checkpointDir = s"$base/ckpt$tag",
        threshold = 0.4, maxFilesPerTrigger = 1, compactAfterFiles = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val golden = run("_golden")
    assert(golden.nonEmpty)
    spark.conf.set("spark.graft.test.failpoint", "compact_flat_mid_manifest:0")
    crashes(run(""))
    // the preserved copy must exist — the compacted rows are never
    // "nowhere" (merged file live, original under __old)
    assert(new java.io.File(s"$base/state/pairs__compact_old").exists(),
      "mid-compaction crash must leave the preserved copy")
    assert(run("") == golden)
    val raw = spark.read.parquet(s"$base/state/pairs")
    assert(raw.count() == raw.distinct().count() && raw.count() == golden.size)
    assert(!new java.io.File(s"$base/state/pairs__compact_old").exists())
  }

  /** The replace-by-key dedup sink over `docs` in three single-file
    * micro-batches: a stateful UPDATE-mode aggregate, so every replayed
    * batch must still commit its state stores. */
  private def exactGroupsRun(base: String, tag: String) =
    Dedup.streamingExactGroupsUpdate(spark,
        s"$base/docs.parquet", "*.parquet", "doc_id", "text",
        sinkDir = s"$base/sink$tag", checkpointDir = s"$base/ckpt$tag",
        nBuckets = 4, maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet

  test("replace-by-key dedup sink killed MID-SWAP (a bucket preserved " +
      "under __old, new content not yet in): restart heals and converges") {
    val base = graft.TestScratch.dir("graft-crash-exact")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    val golden = exactGroupsRun(base, "_golden")
    assert(golden.nonEmpty)
    // batch 0 fills the fresh sink; the first warm batch's swap (batch 1)
    // crashes between preserving a live bucket and renaming the staged
    // one in — the exact window where Spark's dynamic partition
    // overwrite loses the bucket outright
    spark.conf.set("spark.graft.test.failpoint", "replace_mid_swap:1")
    crashes(exactGroupsRun(base, ""))
    // the preserved copy must exist — the crashed bucket's rows are
    // never "nowhere"
    assert(new java.io.File(s"$base/sink__compact_old").exists(),
      "mid-swap crash must leave the preserved bucket copy")
    // restart: repair heals, the replayed batch resumes its fenced swap,
    // results converge
    assert(exactGroupsRun(base, "") == golden)
    assert(!new java.io.File(s"$base/sink__compact_old").exists())
  }

  test("replace-by-key dedup sink killed after its combined write is " +
      "fenced, before any swap: restart resumes the swap, and a call " +
      "with a published batch id runs no Spark job") {
    val base = graft.TestScratch.dir("graft-crash-exact-fence")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    val golden = exactGroupsRun(base, "_golden")
    assert(golden.nonEmpty)
    // batch 1's combined buckets are staged + fenced, nothing swapped,
    // and Structured Streaming has not committed the batch
    spark.conf.set("spark.graft.test.failpoint", "replace_post_fence:1")
    crashes(exactGroupsRun(base, ""))
    assert(new java.io.File(s"$base/sink__staged_b1/_FENCE").exists(),
      "the injected crash must leave a fenced staged write")
    assert(exactGroupsRun(base, "") == golden)
    assert(!new java.io.File(base).listFiles().map(_.getName)
      .exists(n => n.contains("__staged_b") || n.contains("__batch_b")))
    // batch 1 is published: calling the sink with its id again (a replay
    // after a lost checkpoint commit) must be a no-op that runs no job,
    // whatever frame it is handed
    val sink = s"$base/sink"
    def contents = Upsert.readKeyedParquet(spark, sink).collect().toSet
    val before = contents
    val replay = Seq(("not-a-fingerprint", 9L, 9L))
      .toDF("fingerprint", "n_docs", "keep_id")
    val jobs = graft.JobCount.during(spark) {
      Upsert.upsertKeyedParquet(replay, sink, Seq("fingerprint"),
        nBuckets = 4, batchId = 1L)
    }
    assert(jobs.isEmpty, s"a published batch ran ${jobs.size} job(s): $jobs")
    assert(contents == before)
  }

  test("replace-by-key dedup sink killed after its batch staging is " +
      "fenced: restart reuses the staging and converges") {
    val base = graft.TestScratch.dir("graft-crash-exact-batchstage")
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    val golden = exactGroupsRun(base, "_golden")
    spark.conf.set("spark.graft.test.failpoint", "batch_stage_post_fence:1")
    crashes(exactGroupsRun(base, ""))
    assert(new java.io.File(s"$base/sink__batch_b1/_FENCE").exists(),
      "the injected crash must leave a fenced staged batch")
    assert(exactGroupsRun(base, "") == golden)
    assert(!new java.io.File(s"$base/sink__batch_b1").exists())
  }

  private def assembleRows(base: String): Unit =
    (1L to 60L).map(i => (i % 5, i, i * 7 % 13, "e" + (i % 4)))
      .toDF("user_id", "ord", "tie", "ev")
      .repartition(3).write.mode("overwrite").parquet(s"$base/rows.parquet")

  private def assembleRun(base: String, tag: String) = {
    val schema = spark.read.parquet(s"$base/rows.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/rows.parquet")
    Curation.streamingAssembleSequences(stream,
        "user_id", "ord", "tie", "ev", sep = ">",
        sinkDir = s"$base/sink$tag", checkpointDir = s"$base/ckpt$tag",
        nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
  }

  test("merge sink killed AFTER the staged merge is fenced, before any " +
      "swap: the replay resumes the swap without re-running the merge — " +
      "items concatenate exactly once") {
    val base = graft.TestScratch.dir("graft-crash-asm-fence")
    assembleRows(base)
    val golden = assembleRun(base, "_golden")
    assert(golden.nonEmpty && golden.forall(_._2 == 12))
    // batch 1's merged buckets are all staged + fenced, nothing swapped,
    // no `__pub` witness: a replay that re-executed the merge against the
    // half-new state would double-apply; the fence forces a pure resume
    spark.conf.set("spark.graft.test.failpoint", "replace_post_fence:1")
    crashes(assembleRun(base, ""))
    assert(new java.io.File(s"$base/sink__staged_b1").exists() &&
      new java.io.File(s"$base/sink__staged_b1/_FENCE").exists(),
      "the injected crash must leave a fenced staged merge")
    assert(assembleRun(base, "") == golden)
    assert(!new java.io.File(base).listFiles()
      .map(_.getName).exists(_.contains("__staged_b")))
  }

  test("merge sink killed after the BATCH staging is fenced, before the " +
      "merge runs: the replay reuses the staged batch — no batch-plan " +
      "re-execution, items concatenate exactly once") {
    val base = graft.TestScratch.dir("graft-crash-asm-batchstage")
    assembleRows(base)
    val golden = assembleRun(base, "_golden")
    assert(golden.nonEmpty && golden.forall(_._2 == 12))
    // batch 1's OUTPUT is staged to the sink__batch_b1 sibling and fenced,
    // but the merge against live state never ran: the replay must resume
    // from the staged output (the fence forbids re-executing the batch
    // plan) and apply the merge exactly once
    spark.conf.set("spark.graft.test.failpoint", "batch_stage_post_fence:1")
    crashes(assembleRun(base, ""))
    assert(new java.io.File(s"$base/sink__batch_b1").exists() &&
      new java.io.File(s"$base/sink__batch_b1/_FENCE").exists(),
      "the injected crash must leave a fenced staged batch")
    assert(assembleRun(base, "") == golden)
    // batch staging cleaned up after publication
    assert(!new java.io.File(base).listFiles()
      .map(_.getName).exists(_.contains("__batch_b")))
  }

  test("merge sink killed MID-SWAP (bucket preserved, staged not yet in): " +
      "restart heals and resumes, items concatenate exactly once") {
    val base = graft.TestScratch.dir("graft-crash-asm-swap")
    assembleRows(base)
    val golden = assembleRun(base, "_golden")
    spark.conf.set("spark.graft.test.failpoint", "replace_mid_swap:1")
    crashes(assembleRun(base, ""))
    assert(assembleRun(base, "") == golden)
    assert(!new java.io.File(s"$base/sink__compact_old").exists())
  }

  test("marker retention under kill-and-restart: with a tiny retention " +
      "window, pruning sweeps run mid-stream and a replay AT the sweep " +
      "boundary still skips — marker dirs stay bounded") {
    val base = graft.TestScratch.dir("graft-crash-retention")
    // 8 single-file micro-batches so the 2-batch retention cadence sweeps
    // three times (b2, b4, b6) within one run
    for (b <- 0 until 8) {
      (1L to 16L).map(i => ((b * 16 + i) % 5, b * 16 + i, i % 13, "e" + (i % 4)))
        .toDF("user_id", "ord", "tie", "ev")
        .coalesce(1).write.mode("append").parquet(s"$base/rows.parquet")
      Thread.sleep(30) // distinct mtimes → deterministic batch order
    }
    def run(tag: String) = {
      val schema = spark.read.parquet(s"$base/rows.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$base/rows.parquet")
      graft.ops.Curation.streamingAssembleSequences(stream,
          "user_id", "ord", "tie", "ev", sep = ">",
          sinkDir = s"$base/sink$tag", checkpointDir = s"$base/ckpt$tag",
          nBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    spark.conf.set("spark.graft.markerRetentionBatches", "2")
    try {
      val golden = run("_golden")
      assert(golden.nonEmpty)
      // kill after batch 6 fully applied (its `__pub` witness written, the
      // checkpoint commit lost) — batch 6 is ON the sweep cadence, so the
      // replay's own entry sweep runs before the witness check
      spark.conf.set("spark.graft.test.failpoint", "assemble_post_fence:6")
      crashes(run(""))
      assert(run("") == golden)
      // retention held: one witness per batch would be 8; the window is
      // 2, so at most ~2 windows' worth survive
      // exclude the local FS's .crc checksum siblings — they track their
      // marker 1:1 (fs.delete removes both) and don't exist on HDFS/S3
      val pub = new java.io.File(s"$base/sink__pub").listFiles()
        .count(!_.getName.startsWith("."))
      assert(pub > 0 && pub <= 4, s"__pub markers not pruned: $pub")
      // the witness is the one marker family
      assert(!new java.io.File(s"$base/sink/_applied").exists())
    } finally spark.conf.unset("spark.graft.markerRetentionBatches")
  }

  test("sequence-assembly merge sink killed between the fenced merge and " +
      "the batch commit: items concatenate exactly once") {
    val base = graft.TestScratch.dir("graft-crash-asm")
    val rows = (1L to 60L).map(i => (i % 5, i, i * 7 % 13, "e" + (i % 4)))
      .toDF("user_id", "ord", "tie", "ev")
    rows.repartition(3).write.mode("overwrite").parquet(s"$base/rows.parquet")
    val schema = spark.read.parquet(s"$base/rows.parquet").schema
    def stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/rows.parquet")
    def run(tag: String) = Curation.streamingAssembleSequences(stream,
        "user_id", "ord", "tie", "ev", sep = ">",
        sinkDir = s"$base/sink$tag", checkpointDir = s"$base/ckpt$tag",
        nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val golden = run("_golden")
    assert(golden.nonEmpty && golden.forall(_._2 == 12))
    spark.conf.set("spark.graft.test.failpoint", "assemble_post_fence:1")
    crashes(run(""))
    // a double-applied merge would show 24-element sequences here
    assert(run("") == golden)
  }

  test("the minhash, IVF and assembly streams keep one marker family: no " +
      "_applied or per-write marker dir, every batch's witness under __pub") {
    val base = graft.TestScratch.dir("graft-one-marker-family")
    // three single-file micro-batches per stream
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/docs.parquet")
    Dedup.streamingMinHashNearDuplicates(spark, s"$base/docs.parquet",
      "*.parquet", "doc_id", "text", stateDir = s"$base/mh",
      checkpointDir = s"$base/mh_ckpt", threshold = 0.4,
      maxFilesPerTrigger = 1).collect()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.repartition(3).write.mode("overwrite").parquet(s"$base/emb.parquet")
    val centroids = emb
      .filter(Similarity.hashSampleByThreshold(col("vec_id"),
        Similarity.sampleThreshold(8L, emb.count())))
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid_vec"))
    Similarity.streamingIvfIngest(spark, s"$base/emb.parquet", "*.parquet",
      "vec_id", "embedding", centroids, indexDir = s"$base/ivf",
      checkpointDir = s"$base/ivf_ckpt", maxFilesPerTrigger = 1).collect()
    assembleRows(base)
    assembleRun(base, "")
    def dirsUnder(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Nil
      else f +: f.listFiles().toSeq.flatMap(dirsUnder)
    val strays = dirsUnder(new java.io.File(base)).map(_.getName)
      .filter(n => n == "_applied" || n.matches("_.+_w"))
    assert(strays.isEmpty, s"marker dirs beside the __pub witnesses: $strays")
    // exclude the local FS's .crc checksum siblings
    def witnesses(dir: String) = new java.io.File(s"$base/$dir").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    for (pub <- Seq("mh/pairs__pub", "mh/banded__pub", "mh/shingles__pub",
        "ivf/assigned__pub", "sink__pub"))
      assert(witnesses(pub) == Set("b0", "b1", "b2"), pub)
  }
}
