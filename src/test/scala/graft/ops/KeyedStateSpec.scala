package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The keyed-state compaction swap protocol: interrupted swaps are
  * healed losslessly, completed compactions bound the file listing.
  */
class KeyedStateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-keyedstate-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def writeBucketed(path: String, times: Int): Unit =
    for (b <- 1 to times)
      KeyedState.appendPartitionedAtomic(
        (0L until 40L).toDF("k")
          .withColumn("__bucket", KeyedState.bucketColumn(Seq("k"), 4)),
        path, "__bucket", 4, b.toLong)

  test("compactPartitions bounds per-partition files; rows preserved") {
    val base = graft.TestScratch.dir("graft-ks-compact")
    val p = s"$base/store"
    writeBucketed(p, 5) // 5 files per bucket
    val before = spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
    KeyedState.compactPartitions(spark, p, "__bucket", 0 until 4, maxFiles = 2)
    val after = spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
    assert(after == before)
    for (b <- 0 until 4) {
      val n = new java.io.File(s"$p/__bucket=$b").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"bucket $b holds $n files after compaction")
    }
    // stage/old siblings cleaned up
    assert(!new java.io.File(p + "__compact_tmp").exists())
    assert(!new java.io.File(p + "__compact_old").exists())
  }

  test("compactPartitions and compactFlat start no localCheckpoint job; " +
      "a compaction never hits the replace's mid-swap crash point") {
    // both rewrites stage into a sibling dir and finish reading before any
    // rename, so neither snapshots its input
    val p = graft.TestScratch.dir("graft-ks-nosnap") + "/store"
    writeBucketed(p, 3)
    // the partition swap is shared with the replace, whose crash point
    // must never fire in a compaction
    spark.conf.set("spark.graft.test.failpoint", "replace_mid_swap:0")
    val partJobs = try graft.JobCount.during(spark) {
      KeyedState.compactPartitions(spark, p, "__bucket", 0 until 4, maxFiles = 2)
    } finally spark.conf.unset("spark.graft.test.failpoint")
    val f = graft.TestScratch.dir("graft-ks-nosnap-flat") + "/pairs"
    for (i <- 1 to 3)
      (1L to 5L).map(_ + 10L * i).toDF("v").coalesce(1).write.mode("append").parquet(f)
    val flatJobs = graft.JobCount.during(spark) {
      KeyedState.compactFlat(spark, f, maxFiles = 1)
    }
    assert(partJobs.nonEmpty && flatJobs.nonEmpty)
    assert(!(partJobs ++ flatJobs).exists(_.contains("localCheckpoint")),
      s"compactPartitions: $partJobs; compactFlat: $flatJobs")
    assert(spark.read.parquet(p).count() == 120 && spark.read.parquet(f).count() == 15)
  }

  test("repairPartitions restores a swap interrupted between the renames") {
    val base = graft.TestScratch.dir("graft-ks-repair")
    val p = s"$base/store"
    writeBucketed(p, 2)
    val before = spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
    // simulate the crash window: bucket 1 preserved under __old, live dir
    // gone, stale staged copy lying around
    val old = new java.io.File(p + "__compact_old"); old.mkdirs()
    assert(new java.io.File(s"$p/__bucket=1")
      .renameTo(new java.io.File(old, "__bucket=1")))
    new java.io.File(p + "__compact_tmp").mkdirs()
    KeyedState.repairPartitions(spark, p)
    val after = spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
    assert(after == before)
    assert(!old.exists() && !new java.io.File(p + "__compact_tmp").exists())
    // idempotent when clean
    KeyedState.repairPartitions(spark, p)
    assert(spark.read.parquet(p).count() == before.size)
  }

  test("repairFlat restores a flat-sink swap interrupted between the renames") {
    val base = graft.TestScratch.dir("graft-ks-flat")
    val p = s"$base/pairs"
    (1L to 10L).toDF("v").coalesce(1).write.parquet(p)
    val before = spark.read.parquet(p).orderBy("v").collect().toSeq
    // crash window: live dir renamed away, compacted copy not yet in place
    assert(new java.io.File(p).renameTo(new java.io.File(p + "__compact_old")))
    KeyedState.repairFlat(spark, p)
    assert(spark.read.parquet(p).orderBy("v").collect().toSeq == before)
    // completed compaction bounds the listing
    for (_ <- 1 to 4)
      (1L to 5L).toDF("v").coalesce(1).write.mode("append").parquet(p)
    val rows = spark.read.parquet(p).count()
    KeyedState.compactFlat(spark, p, maxFiles = 2)
    assert(spark.read.parquet(p).count() == rows)
    assert(new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet")) <= 2)
  }

  test("compactFlat is generation-tiered: big generations move by " +
      "rename, only small files rewrite") {
    val base = graft.TestScratch.dir("graft-ks-tiered")
    val p = s"$base/pairs"
    // one big generation (1000 rows) + 4 small appends (5 rows each)
    (1L to 1000L).toDF("v").coalesce(1).write.parquet(p)
    for (i <- 1 to 4)
      (1L to 5L).map(_ + 1000 * i).toDF("v")
        .coalesce(1).write.mode("append").parquet(p)
    val genFile = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val rows = spark.read.parquet(p).count()
    KeyedState.compactFlat(spark, p, maxFiles = 3)
    // rows intact, count back under the threshold
    assert(spark.read.parquet(p).count() == rows)
    val after = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(after.length <= 3)
    // the big generation is byte-identical and SAME NAME — moved by
    // rename, never absorbed into the rewrite (the doubling rule: 1000
    // rows > the 20 merged small rows)
    val kept = after.find(_.getName == genFile.getName)
    assert(kept.isDefined, "prior generation was rewritten, not kept")
    assert(kept.get.length == genFile.length)
    // no manifest or sibling dirs left behind
    assert(!after.exists(_.getName == "_KEPT"))
    assert(!new java.io.File(p + "__compact_old").exists())
    assert(!new java.io.File(p + "__compact_tmp").exists())
  }

  test("compactFlat converges to ONE file at maxFiles = 1 (no kept slot)") {
    val base = graft.TestScratch.dir("graft-ks-one")
    val p = s"$base/pairs"
    // one big generation + small appends: with maxFiles = 1 there is no
    // kept slot, so EVERYTHING must merge — the tiered selection that
    // kept the big generation left 2 files > maxFiles forever, and every
    // later call rewrote the small file again without converging.
    (1L to 1000L).toDF("v").coalesce(1).write.parquet(p)
    for (i <- 1 to 3)
      (1L to 5L).map(_ + 1000 * i).toDF("v")
        .coalesce(1).write.mode("append").parquet(p)
    val rows = spark.read.parquet(p).count()
    KeyedState.compactFlat(spark, p, maxFiles = 1)
    val after = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(after.length == 1, s"expected 1 file, got ${after.length}")
    assert(spark.read.parquet(p).count() == rows)
  }

  test("repairFlat resumes a tiered swap interrupted mid-rename " +
      "(manifest present, generations split across live and __old)") {
    val base = graft.TestScratch.dir("graft-ks-tiered-crash")
    val p = s"$base/pairs"
    (1L to 1000L).toDF("v").coalesce(1).write.parquet(p)
    for (i <- 1 to 4)
      (1L to 5L).map(_ + 1000 * i).toDF("v")
        .coalesce(1).write.mode("append").parquet(p)
    val before = spark.read.parquet(p).orderBy("v").collect().toSeq
    // simulate: stage already swapped in (merged file present), live
    // renamed to __old, manifest names the kept generation, but the
    // kept-file rename never ran
    val genName = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length).getName
    val smallRows = spark.read.parquet(
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .filterNot(_.getName == genName).map(_.getPath): _*)
      .collect().map(_.getLong(0)).toSeq
    val old = new java.io.File(p + "__compact_old")
    assert(new java.io.File(p).renameTo(old))
    smallRows.toDF("v").coalesce(1).write.parquet(p)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(p, "_KEPT"), (genName + "\n").getBytes)
    KeyedState.repairFlat(spark, p)
    assert(spark.read.parquet(p).orderBy("v").collect().toSeq == before)
    assert(!old.exists())
    assert(!new java.io.File(p, "_KEPT").exists())
    // idempotent when clean
    KeyedState.repairFlat(spark, p)
    assert(spark.read.parquet(p).count() == before.size)
  }

  test("stampParams: numerically equal params match whatever literal " +
      "form the caller used; drifted params still fail") {
    val p = graft.TestScratch.dir("graft-stamp") + "/state"
    KeyedState.stampParams(spark, p,
      Map("threshold" -> 1e-4, "ratio" -> 0.5f, "n" -> 32))
    // same numbers, different renderings/types — must NOT fail
    KeyedState.stampParams(spark, p,
      Map("threshold" -> 0.0001, "ratio" -> 0.5, "n" -> 32))
    // a genuinely different value still fails loud
    val err = intercept[IllegalArgumentException] {
      KeyedState.stampParams(spark, p,
        Map("threshold" -> 0.0002, "ratio" -> 0.5, "n" -> 32))
    }
    assert(err.getMessage.contains("parameters"))
    // the stamp file appeared atomically (no leftover temp files)
    val files = new java.io.File(p).listFiles().map(_.getName)
    assert(files.contains("_PARAMS") && !files.exists(_.contains(".tmp.")))
  }

  // ---- staged-swap atomic appends: every crash window replays to the
  // same final state -----------------------------------------------------

  private def rowsOf(path: String): Set[Long] =
    spark.read.parquet(path).select("k").as[Long].collect().toSet

  private def liveFiles(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).map(_.getName)
      .filter(_.endsWith(".parquet"))
  }

  private def batchDf(lo: Long, hi: Long) =
    (lo until hi).toDF("k")
      .withColumn("__bucket", KeyedState.bucketColumn(Seq("k"), 4))

  test("appendPartitionedAtomic: clean appends publish batch-prefixed " +
      "files; re-running an already-published batch is a no-op") {
    val p = graft.TestScratch.dir("graft-ks-atomic") + "/store"
    KeyedState.appendPartitionedAtomic(batchDf(0, 40), p, "__bucket", 4, 0L)
    KeyedState.appendPartitionedAtomic(batchDf(40, 80), p, "__bucket", 4, 1L)
    assert(rowsOf(p) == (0L until 80L).toSet)
    assert(liveFiles(p).forall(n => n.startsWith("b0_") || n.startsWith("b1_")))
    assert(!new java.io.File(p + "__staged_b0").exists())
    // the post-publication replay window (crash after staged delete,
    // before the caller's marker): the live prefix is the witness
    KeyedState.appendPartitionedAtomic(batchDf(40, 80), p, "__bucket", 4, 1L)
    assert(spark.read.parquet(p).count() == 80)
  }

  test("appendPartitionedAtomic: an unfenced staged dir (crash inside the " +
      "staged write) is discarded and rewritten") {
    val p = graft.TestScratch.dir("graft-ks-atomic-torn") + "/store"
    KeyedState.appendPartitionedAtomic(batchDf(0, 40), p, "__bucket", 4, 0L)
    // simulate a torn staged write for batch 1: data, no _FENCE
    val staged = new java.io.File(p + "__staged_b1")
    batchDf(40, 60).write.parquet(staged.getPath + "/raw")
    // replay of batch 1 discards the torn attempt and appends cleanly
    KeyedState.appendPartitionedAtomic(batchDf(40, 80), p, "__bucket", 4, 1L)
    assert(rowsOf(p) == (0L until 80L).toSet)
    assert(!staged.exists())
  }

  test("appendPartitionedAtomic: a fenced staged dir (crash before/mid " +
      "publication) resumes publication without duplicating moved files") {
    val p = graft.TestScratch.dir("graft-ks-atomic-fenced") + "/store"
    KeyedState.appendPartitionedAtomic(batchDf(0, 40), p, "__bucket", 4, 0L)
    val before = rowsOf(p)
    // build a REAL fenced staged dir by arming the in-protocol failpoint:
    // the staged write completes, the fence lands, publication never runs
    spark.conf.set("spark.graft.test.failpoint", "staged_post_fence:1")
    try intercept[Failpoint.InjectedCrash] {
      KeyedState.appendPartitionedAtomic(batchDf(40, 80), p, "__bucket", 4, 1L)
    } finally spark.conf.unset("spark.graft.test.failpoint")
    val staged = new java.io.File(p + "__staged_b1")
    assert(staged.exists() && new java.io.File(staged, "_FENCE").exists())
    assert(rowsOf(p) == before, "nothing may publish before the fence replay")
    // hand-move ONE staged file to the mid-publication point, then replay
    val one = staged.listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.getName.startsWith("part-")).head
    val destDir = new java.io.File(p, one.getParentFile.getName)
    destDir.mkdirs()
    assert(one.renameTo(new java.io.File(destDir, s"b1_${one.getName}")))
    KeyedState.appendPartitionedAtomic(batchDf(40, 80), p, "__bucket", 4, 1L)
    assert(rowsOf(p) == (0L until 80L).toSet)
    assert(!staged.exists())
    assert(spark.read.parquet(p).count() == 80, "no duplicate rows")
  }

  test("appendFlatAtomic: same protocol for flat dirs") {
    val p = graft.TestScratch.dir("graft-ks-atomic-flat") + "/pairs"
    val df0 = (0L until 10L).toDF("k")
    KeyedState.appendFlatAtomic(df0, p, 1, 0L)
    KeyedState.appendFlatAtomic((10L until 20L).toDF("k"), p, 1, 1L)
    assert(rowsOf(p) == (0L until 20L).toSet)
    // already-published replay is a no-op
    KeyedState.appendFlatAtomic(df0, p, 1, 0L)
    assert(spark.read.parquet(p).count() == 20)
    assert(liveFiles(p).size == 2) // one coalesced file per batch
  }

  // ---- replace-partition swaps (the keyed upsert/merge sink writes) ----

  test("replacePartitionsAtomic: a mid-swap crash is healed losslessly") {
    val p = graft.TestScratch.dir("graft-ks-swap") + "/store"
    writeBucketed(p, 1) // batch 1; the replacement is batch 2
    val before = spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
    val replacement = batchDf(100, 140)
    spark.conf.set("spark.graft.test.failpoint", "replace_mid_swap:2")
    try intercept[Failpoint.InjectedCrash] {
      KeyedState.replacePartitionsAtomic(replacement, p, "__bucket", 4, 2L)
    } finally spark.conf.unset("spark.graft.test.failpoint")
    // the crashed bucket's rows exist under __old, never nowhere
    assert(new java.io.File(p + "__compact_old").exists())
    KeyedState.repairPartitions(spark, p)
    assert(spark.read.parquet(p).orderBy("k", "__bucket").collect().toSeq
      == before, "repair must restore the pre-swap content exactly")
    // the replay resumes the fenced swap and completes the replacement
    KeyedState.replacePartitionsAtomic(replacement, p, "__bucket", 4, 2L)
    assert(rowsOf(p) == (100L until 140L).toSet)
    assert(!new java.io.File(p + "__compact_old").exists())
    assert(!new java.io.File(p + "__staged_b2").exists())
  }

  test("replacePartitionsAtomic: a fenced staged write resumes the swap " +
      "on replay without re-executing the frame; the __pub marker makes " +
      "a post-publication replay a no-op") {
    val p = graft.TestScratch.dir("graft-ks-replace") + "/store"
    writeBucketed(p, 1)
    val b2 = batchDf(100, 140)
    spark.conf.set("spark.graft.test.failpoint", "replace_post_fence:2")
    try intercept[Failpoint.InjectedCrash] {
      KeyedState.replacePartitionsAtomic(b2, p, "__bucket", 4, 2L)
    } finally spark.conf.unset("spark.graft.test.failpoint")
    // staged + fenced, nothing swapped: live still holds the old rows
    assert(new java.io.File(p + "__staged_b2/_FENCE").exists())
    assert(rowsOf(p) == (0L until 40L).toSet)
    // replay with a DIFFERENT frame: the fence must force a pure resume
    // of the staged content (the new frame's plan is never executed)
    KeyedState.replacePartitionsAtomic(batchDf(900, 910), p, "__bucket", 4, 2L)
    assert(rowsOf(p) == (100L until 140L).toSet,
      "resume must publish the FENCED content, not re-run the merge")
    assert(new java.io.File(p + "__pub/b2").exists())
    // post-publication replay: marker short-circuits, content unchanged
    KeyedState.replacePartitionsAtomic(batchDf(900, 910), p, "__bucket", 4, 2L)
    assert(rowsOf(p) == (100L until 140L).toSet)
    assert(!new java.io.File(p + "__staged_b2").exists())
  }

  test("stampParams: non-finite doubles stamp and re-verify instead of " +
      "crashing in BigDecimal rendering") {
    val p = graft.TestScratch.dir("graft-stamp-nonfinite") + "/state"
    KeyedState.stampParams(spark, p,
      Map("cut" -> Double.PositiveInfinity, "bad" -> Double.NaN))
    // identical non-finite params re-verify clean
    KeyedState.stampParams(spark, p,
      Map("cut" -> Double.PositiveInfinity, "bad" -> Double.NaN))
    // a finite drift against a non-finite stamp still fails loud
    val err = intercept[IllegalArgumentException] {
      KeyedState.stampParams(spark, p,
        Map("cut" -> 1.5, "bad" -> Double.NaN))
    }
    assert(err.getMessage.contains("parameters"))
  }

  test("compactFlat killed mid-manifest-rename by the injected failpoint: " +
      "repairFlat resumes the remaining generation renames losslessly") {
    val base = graft.TestScratch.dir("graft-ks-tiered-fp")
    val p = s"$base/pairs"
    // TWO kept generations (1000 + 500 rows) + 3 smalls: the failpoint
    // fires after the FIRST kept rename, so the second generation is
    // still under __old with the manifest naming both — the exact
    // mid-manifest window (the hand-edited test above simulates it; this
    // one produces it through the real crashing code path)
    (1L to 1000L).toDF("v").coalesce(1).write.parquet(p)
    (2001L to 2500L).toDF("v").coalesce(1).write.mode("append").parquet(p)
    for (i <- 1 to 3)
      (1L to 5L).map(_ + 3000L * i).toDF("v")
        .coalesce(1).write.mode("append").parquet(p)
    val before = spark.read.parquet(p).orderBy("v").collect().toSeq
    spark.conf.set("spark.graft.test.failpoint", "compact_flat_mid_manifest:0")
    val e = intercept[Throwable](KeyedState.compactFlat(spark, p, maxFiles = 4))
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[Failpoint.InjectedCrash]),
      s"expected the injected crash, got: $e")
    spark.conf.unset("spark.graft.test.failpoint")
    // crash state: merged file live with the manifest, preserved copy
    // (holding the pending generation) under __old
    assert(new java.io.File(p, "_KEPT").exists(),
      "the crash must land with the manifest still in the live dir")
    assert(new java.io.File(p + "__compact_old").exists())
    KeyedState.repairFlat(spark, p)
    assert(spark.read.parquet(p).orderBy("v").collect().toSeq == before)
    assert(!new java.io.File(p, "_KEPT").exists())
    assert(!new java.io.File(p + "__compact_old").exists())
    // a fresh compaction on the healed dir converges under the threshold
    KeyedState.compactFlat(spark, p, maxFiles = 4)
    assert(spark.read.parquet(p).count() == before.size)
    assert(new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet")) <= 4)
  }

  test("pruneBatchMarkers deletes only b<id> markers at or below the " +
      "floor, leaves non-marker names alone") {
    val base = graft.TestScratch.dir("graft-ks-prune")
    val dir = java.nio.file.Paths.get(s"$base/sink__pub")
    java.nio.file.Files.createDirectories(dir)
    for (i <- 0 to 9) java.nio.file.Files.createFile(dir.resolve(s"b$i"))
    // non-marker residents a sweep must never touch (`batch_3` included:
    // `b<id>` is the one marker naming)
    for (n <- Seq("_FENCE", "bogus", "b12x", "batch_3"))
      java.nio.file.Files.createFile(dir.resolve(n))
    val n = KeyedState.pruneBatchMarkers(spark, dir.toString, floor = 5L)
    assert(n == 6, s"expected 6 deletions (b0-b5), got $n")
    val left = java.nio.file.Files.list(dir).iterator()
    val names = scala.collection.mutable.Set.empty[String]
    while (left.hasNext) names += left.next().getFileName.toString
    assert(names == Set("b6", "b7", "b8", "b9", "_FENCE", "bogus", "b12x",
      "batch_3"), names.toString)
    // missing dir is a no-op
    assert(KeyedState.pruneBatchMarkers(spark, s"$base/nothere", 99L) == 0)
  }

  test("marker retention sweeps fire on the cadence and keep the " +
      "retention window: __pub witness dirs stay bounded over 200 batches " +
      "and a replay at the retention boundary still skips") {
    val base = graft.TestScratch.dir("graft-ks-retention")
    val sink = s"$base/sink"
    val markers = java.nio.file.Paths.get(sink + "__pub")
    var applied = 0
    // the staged writers' fence, without their Spark writes: sweep on
    // the cadence, skip a batch whose witness exists, else apply it and
    // write its witness
    def publishOnce(b: Long): Unit = {
      KeyedState.maybePruneMarkers(spark, markers.toString, b)
      if (!KeyedState.isPublished(spark, sink, b)) {
        applied += 1
        java.nio.file.Files.createDirectories(markers)
        java.nio.file.Files.createFile(markers.resolve(s"b$b"))
      }
    }
    spark.conf.set("spark.graft.markerRetentionBatches", "16")
    try {
      for (b <- 0L until 200L) publishOnce(b)
      assert(applied == 200)
      val count = java.nio.file.Files.list(markers).count()
      // last sweep at b=192 pruned ≤176; markers 177..199 live = 23
      assert(count <= 2 * 16, s"marker dir grew unbounded: $count files")
      assert(count >= 16, s"retention window violated: only $count markers " +
        "kept — a replay inside the window would re-apply")
      // the deepest replay recovery can deliver is the last batch; far
      // inside the window, so the fence still skips it
      publishOnce(199L)
      assert(applied == 200, "replay of the last batch must be skipped")
      // and the boundary batch of the retention window itself still skips
      publishOnce(184L)
      assert(applied == 200, "replay within the retention window must skip")
    } finally spark.conf.unset("spark.graft.markerRetentionBatches")
  }
}
