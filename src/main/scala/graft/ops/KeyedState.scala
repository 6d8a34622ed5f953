package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The keyed streaming-state discipline shared by every foreachBatch sink
  * that accumulates partitioned parquet state ([[Dedup]]'s band index and
  * shingle store, [[Similarity.streamingIvfIngest]]'s cell index). This
  * object only stores sinks: the streams that feed them are read, scoped
  * and drained by [[graft.streaming.Drain]].
  *
  *   - state lives in `path/<partCol>=<value>/` partition dirs, keyed so
  *     a probe by key prunes the scan to its own partitions;
  *   - each batch appends ONE file per touched partition (an explicit
  *     repartition count before the dynamic-partition write — a bare
  *     `repartition(col)` re-plans under AQE and measured 3× slower);
  *   - any touched partition that accumulates more than `maxFiles`
  *     parquet files is rewritten down to one file, so the sink's file
  *     listing stays O(partitions) however many batches arrive — at one
  *     appended file per partition per batch the rewrite fires at most
  *     once per `maxFiles` batches per partition, bounding the amortized
  *     cost.
  *
  * Compaction decisions are driver fs LISTINGS (≤ one `listStatus` per
  * candidate partition), never data reads; nothing fires until some
  * partition crosses the threshold.
  *
  * REPLAY SAFETY: every streaming write goes through one of the staged
  * writers below ([[appendPartitionedAtomic]], [[appendFlatAtomic]],
  * [[replacePartitionsAtomic]], [[combineBucketsAtomic]]), and each takes
  * the one fenced [[stage]] step: it skips a batch whose
  * `<path>__pub/b<id>` witness exists, so a checkpoint-recovery replay
  * of a published batch writes nothing, and reuses a fenced stage
  * instead of re-running the batch plan. The witness is the one replay
  * fence, written in one place ([[stageAndPublish]]), and callers carry
  * no markers of their own.
  *
  * CRASH SAFETY: compaction must never be the operation that loses
  * accumulated state — the appends it rewrites are fenced by the
  * witnesses, so a lost row cannot be re-derived. Both compactors
  * therefore stage the rewrite into a SIBLING dir and swap with renames,
  * keeping a restorable copy of the original until the swap completes;
  * [[repairPartitions]]/[[repairFlat]] heal any interruption (called at
  * the start of every compaction, and cheap enough — one `exists` when
  * clean — for sinks to call before their final read). At every instant
  * the original rows exist under the live path or under the `__old`
  * sibling, never nowhere. (Stage/old dirs are siblings, NOT inside the
  * partitioned root: a stray `<partCol>=K__old` dir inside the root
  * would break partition-value inference for every read.)
  */
object KeyedState {

  /** Hash bucket for key columns: a pure function of the key, so a probe
    * by key touches exactly one bucket and bucket-pruned joins are
    * exactly equivalent to full-state joins. */
  def bucketColumn(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")

  // ---- the staged-write protocol ------------------------------------------
  //
  // A bare mode("append") cannot be replayed: a crash INSIDE the parquet
  // job commit (FileOutputCommitter moves task outputs into the live dir
  // file by file) lands SOME of the batch's files, and the replayed batch
  // then appends a full second copy next to the partial first; a crash
  // after the commit replays a full second copy outright. Every streaming
  // write therefore takes one [[stage]] step: the batch writes to a
  // SIBLING staged dir (a crash inside THAT job commit touches only the
  // staged dir, which the replay deletes) and a `_FENCE` file marks the
  // staged write complete. Publication then moves the staged output into
  // the live tree — per-file renames under batch-prefixed names for the
  // appends, per-partition swaps for the replaces — and only after every
  // move lands does [[stageAndPublish]] write the `<path>__pub/b<id>`
  // witness. Every crash point replays to the same final state:
  //
  //   - crash before `_FENCE` (incl. inside the staged job commit):
  //     replay deletes the unfenced staged dir and rewrites;
  //   - crash mid-publication: the fenced staged dir survives, replay
  //     resumes moving whatever remains;
  //   - crash after publication, before the witness: replay finds a
  //     fenced staged dir with nothing left to move, moves nothing,
  //     writes the witness, cleans up;
  //   - crash after the witness (before the staged-dir delete, or any
  //     time before Structured Streaming commits the batch): the witness
  //     proves publication completed, so replay just drops any staged
  //     leftovers and writes nothing.
  //
  // The witness is ONE driver `exists` call per batch — a listing of the
  // live tree for `b<batchId>_`-prefixed files would grow with
  // accumulated state (partitions × files per partition). Witnesses
  // accumulate one empty file per published batch, pruned by the
  // retention sweep below.
  //
  // Staged/witness dirs are SIBLINGS of the live root
  // (`<path>__staged_b<id>`, `<path>__batch_b<id>`, `<path>__pub`), never
  // inside it — a stray non-partition dir inside a partitioned root
  // breaks partition-value inference for every read (the compactor
  // discipline above).

  private def stagedDir(path: String, batchId: Long): Path =
    new Path(path + s"__staged_b$batchId")

  private def batchStage(path: String, batchId: Long): Path =
    new Path(path + s"__batch_b$batchId")

  private def pubMarker(path: String, batchId: Long): Path =
    new Path(path + "__pub", s"b$batchId")

  private def dataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath)
      else if (st.getPath.getName.startsWith("part-")) Seq(st)
      else Seq.empty
    }

  /** Has batch `batchId` already published into `path`? (its `__pub/b<id>`
    * completed-publication witness) */
  private[ops] def isPublished(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    fsOf(spark, path).exists(pubMarker(path, batchId))

  /** The one fenced stage step of every staged write: stage batch
    * `batchId` of the sink at `path` into the sibling `dir` by `write`.
    *
    *   - published (the batch's witness exists): a leftover `dir` is
    *     deleted and nothing is written;
    *   - fenced (`dir` holds `_FENCE` from an earlier attempt): the stage
    *     is reused, never rewritten;
    *   - otherwise a torn `dir` is deleted and `write` stages afresh — the
    *     only Spark job, with deliberately NO pre-write `isEmpty` action:
    *     a stage holding no data file is dropped, so an empty batch costs
    *     the one write job it was already paying. A non-empty stage gets
    *     its `_FENCE`, then the writer's test-only crash point
    *     ([[Failpoint]] `failpoint`: staged and fenced, nothing published
    *     — the torn-commit window a bare write cannot survive).
    *
    * A published or fenced step runs no write, so inside a micro-batch it
    * runs `df` once into Spark's no-op sink ([[drainInMicroBatch]]).
    * Returns whether `dir` now holds a fenced stage to publish. */
  private def stage(df: DataFrame, path: String, dir: Path, batchId: Long,
      failpoint: String)(write: String => Unit): Boolean = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val fence = new Path(dir, "_FENCE")
    val published = isPublished(spark, path, batchId)
    if (published || fs.exists(fence)) {
      if (published) fs.delete(dir, true)
      drainInMicroBatch(df)
      return !published
    }
    fs.delete(dir, true) // an unfenced partial stage from a crash
    write(dir.toString)
    if (dataFiles(fs, dir).isEmpty) { fs.delete(dir, true); return false }
    fs.create(fence, true).close()
    Failpoint.hit(spark, failpoint, batchId)
    true
  }

  /** Run `df` once into Spark's no-op sink when called inside a streaming
    * micro-batch. A replay that finds its batch already staged, fenced or
    * published writes nothing, but Structured Streaming commits a stateful
    * query's state stores only when the `foreachBatch` frame executes, and
    * fails the batch otherwise (`STATE_STORE_COMMIT_VALIDATION_FAILED`).
    * Outside a stream there is no state to commit, and nothing runs. */
  private def drainInMicroBatch(df: DataFrame): Unit =
    if (df.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY) != null)
      df.write.format("noop").mode("overwrite").save()

  /** The witnessed writers' shared body: sweep old witnesses, take the
    * [[stage]] step on `<path>__staged_b<id>`, and when it holds a fenced
    * stage, `publish` it into the live tree (idempotent: a resumed
    * publication moves whatever remains), then write the batch's `__pub`
    * witness — the one place it is written, only after every move landed
    * — and drop the stage. Returns `publish`'s result; None when there
    * was nothing to publish. */
  private def stageAndPublish[A](df: DataFrame, path: String, batchId: Long,
      failpoint: String)(write: String => Unit)(
      publish: (FileSystem, Path) => A): Option[A] = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val staged = stagedDir(path, batchId)
    // cadenced retention sweep of this sink's publication witnesses
    // (old witnesses only — the current batch's is never at the floor)
    maybePruneMarkers(spark, path + "__pub", batchId)
    if (!stage(df, path, staged, batchId, failpoint)(write)) return None
    val published = publish(fs, staged)
    val marker = pubMarker(path, batchId)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(staged, true)
    Some(published)
  }

  /** Write `df` into `out` partitioned by `partCol`, one file per touched
    * value: an explicit repartition count before the dynamic-partition
    * write (`numTasks` bounds the task count; each value lands wholly in
    * one task). */
  private def writePartitioned(df: DataFrame, partCol: String,
      numTasks: Int)(out: String): Unit =
    df.repartition(numTasks, col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(out)

  /** The staged appends' publication: move every remaining staged data
    * file into the live tree under its batch-prefixed name (collision-
    * proof across batches), preserving the partition subdir. Each rename
    * is atomic, so a staged file exists in exactly one of the two dirs at
    * every instant. Returns the partition VALUES whose dirs received
    * files — the caller's compaction-candidate list for free (a resumed
    * publication reports only the remainder, which under-reports
    * candidates harmlessly — compaction is opportunistic). */
  private def moveStaged(path: String, batchId: Long)(fs: FileSystem,
      staged: Path): Seq[String] = {
    // listStatus returns QUALIFIED paths (scheme + authority); qualify the
    // root too or the flat-dir parent comparison below never matches
    val stagedQ = fs.makeQualified(staged)
    val live = new Path(path)
    val touched = collection.mutable.LinkedHashSet.empty[String]
    for (st <- dataFiles(fs, staged)) {
      val rel = st.getPath.getParent
      val destDir =
        if (rel == stagedQ) live
        else {
          touched += rel.getName.split("=", 2).last
          new Path(live, rel.getName) // one partition level (partCol=v)
        }
      fs.mkdirs(destDir)
      val dest = new Path(destDir, s"b${batchId}_${st.getPath.getName}")
      if (fs.exists(dest)) fs.delete(st.getPath, false)
      else fs.rename(st.getPath, dest)
    }
    touched.toSeq
  }

  /** Append into `path/<partCol>=<v>/` dirs through the staged-write
    * protocol, one file per touched partition value ([[writePartitioned]]):
    * exactly once per `batchId` under crashes anywhere, including inside
    * the write's own job commit and after publication. Returns the
    * partition values this batch published into (the caller's
    * compaction-candidate list, costing no extra Spark job; empty on a
    * replay skip — compaction candidates are best-effort by design). */
  def appendPartitionedAtomic(df: DataFrame, path: String, partCol: String,
      numTasks: Int, batchId: Long): Seq[String] =
    stageAndPublish(df, path, batchId, "staged_post_fence")(
      writePartitioned(df, partCol, numTasks))(moveStaged(path, batchId))
      .getOrElse(Nil)

  /** [[appendPartitionedAtomic]] for FLAT (unpartitioned) append dirs,
    * shuffled down to `numFiles` output files per batch. `repartition`,
    * NOT `coalesce`: the incoming frame is typically a small RESULT of an
    * expensive parallel plan (q81's verified pairs), and coalesce(1)
    * would collapse that whole upstream computation into one task — the
    * tiny final shuffle keeps it parallel. An empty frame may still stage
    * one 0-row file (Spark preserves the schema of flat writes) — it
    * publishes harmlessly and later compaction absorbs it. */
  def appendFlatAtomic(df: DataFrame, path: String, numFiles: Int,
      batchId: Long): Unit = {
    stageAndPublish(df, path, batchId, "staged_post_fence_flat") {
      out => df.repartition(numFiles).write.mode("overwrite").parquet(out)
    }(moveStaged(path, batchId))
    ()
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- marker retention --------------------------------------------------
  //
  // The `__pub/b<id>` publication witnesses grow one empty file per batch
  // forever. Each CHECK is O(1) (`exists`), so this is not a scale-killer,
  // but a month-long production stream accumulates millions of tiny files
  // in that dir. Structured Streaming's recovery contract only
  // re-delivers the batches at or after the checkpoint's last committed
  // batch (depth 1 in practice), so witnesses far below the current batch
  // can never be consulted again. Every `markerRetention` batches the
  // staged writers sweep their own `__pub` dir, deleting witnesses with
  // id ≤ batchId − markerRetention — one `listStatus` per sweep,
  // amortized O(1) files per batch, and the dir's live size stays ≤ ~2×
  // the retention window.

  /** Batches between marker-retention sweeps (and the number of trailing
    * batches whose markers are always kept — vastly more than any replay
    * can reach back). Tests shrink it via the session conf to exercise
    * pruning + replay-at-the-boundary in a handful of batches. */
  private[ops] def markerRetention(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.markerRetentionBatches")
      .map(_.toLong).getOrElse(64L)

  /** Delete per-batch `b<id>` markers in `markerDir` whose batch id is at
    * or below `floor`. Missing dir is a no-op; non-marker names are left
    * alone. Returns markers deleted. */
  def pruneBatchMarkers(spark: SparkSession, markerDir: String,
      floor: Long): Int = {
    val fs = fsOf(spark, markerDir)
    val dir = new Path(markerDir)
    if (floor < 0 || !fs.exists(dir)) return 0
    var n = 0
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val id = if (name.startsWith("b")) name.stripPrefix("b") else ""
      if (id.nonEmpty && id.forall(_.isDigit) && id.toLong <= floor) {
        fs.delete(st.getPath, true)
        n += 1
      }
    }
    n
  }

  /** Retention hook shared by the staged writers: every `markerRetention`
    * batches, sweep `markerDir` with floor = batchId − retention. */
  private[ops] def maybePruneMarkers(spark: SparkSession, markerDir: String,
      batchId: Long): Unit = {
    val every = markerRetention(spark)
    if (every > 0 && batchId > 0 && batchId % every == 0)
      pruneBatchMarkers(spark, markerDir, batchId - every)
  }

  // ---- replace-partition swaps (the keyed upsert/merge sinks) -----------
  //
  // Spark's dynamic partition overwrite commits by DELETING each existing
  // partition dir and renaming the staged one in — two separate driver fs
  // operations with no healing protocol. A crash between them loses the
  // partition's accumulated state outright: the combined rows existed
  // only in the in-flight job, and the batch replay can re-deliver the
  // BATCH but not the prior state it was combined with. The replace
  // below stages the new partition contents to a sibling, then swaps
  // each partition via the compaction protocol ([[swapStagedDirs]]), so
  // at every instant a partition's rows exist under the live path or the
  // `__old` sibling, never nowhere; [[repairPartitions]] heals any
  // interruption. Because the write target is the stage sibling, the
  // caller may compute the new contents FROM the live path without a
  // localCheckpoint barrier — read path and write path only meet at the
  // (driver-side, healed) swap.

  /** Replace `df`'s `partCol=v` partitions of `path` through the
    * staged-write protocol. The double-apply hazard is a replay that
    * RECOMPUTES the new contents against partially-new state (an
    * accumulate-merge key's list would concatenate the batch twice); the
    * fence closes it: once the staged write completes and `_FENCE` lands,
    * a replay never re-executes `df`'s plan — it RESUMES the swap from
    * the staged dirs (df is lazy; the resume path never triggers its
    * job), and the `__pub` witness marks a completed swap exactly as in
    * the staged appends. Crash table as in [[appendPartitionedAtomic]],
    * with the partition swap (healed by [[repairPartitions]], which runs
    * first) in place of per-file publication. */
  def replacePartitionsAtomic(df: DataFrame, path: String, partCol: String,
      numTasks: Int, batchId: Long): Unit = {
    repairPartitions(df.sparkSession, path)
    replaceStaged(df, path, batchId)(writePartitioned(df, partCol, numTasks))
  }

  /** The replace writes' [[stageAndPublish]]: publication is the
    * partition swap, whose `replace_mid_swap` crash point fires after the
    * FIRST partition's preserve — the worst window (live copy moved
    * aside, new content not yet in). */
  private def replaceStaged(df: DataFrame, path: String, batchId: Long)(
      write: String => Unit): Unit = {
    stageAndPublish(df, path, batchId, "replace_post_fence")(write) {
      (fs, staged) => swapStagedDirs(fs, staged, path)(
        Failpoint.hit(df.sparkSession, "replace_mid_swap", batchId))
    }
    ()
  }

  /** The one write of the keyed parquet sinks ([[Upsert.upsertKeyedParquet]],
    * [[Upsert.mergeKeyedParquet]]). The sink is partitioned by
    * `__bucket = pmod(xxhash64(keys), nBuckets)`; `combine(existing,
    * batch)` computes the new contents of the buckets the batch touches
    * from their live rows and the batch's rows (both with `__bucket` last,
    * read with the batch's schema — so a combine must keep each column's
    * type).
    *
    *   - A FRESH sink combines against nothing: the batch is the new
    *     content, replaced in directly; the stage step's no-data-file
    *     check is the emptiness guard. Never a direct append: a torn
    *     first write replayed into the warm path would combine the batch
    *     with its own partial rows.
    *   - A WARM sink needs the batch twice: once to learn which buckets it
    *     touches (so the live read prunes to them) and once as combine
    *     input. It stages the batch's OUTPUT to `<path>__batch_b<id>`
    *     first — a fenced [[stage]] step of its own, the ONLY execution of
    *     the batch plan — reads the touched buckets off the staged
    *     partition dirs (no extra Spark action), and combines two parquet
    *     reads ([[readBuckets]] of the live sink + the staged batch), so
    *     the replace never re-runs the batch plan.
    *
    * Both paths write through the replace's fenced stage, so a crash at
    * ANY point — including inside a staged write's job commit or
    * mid-swap — replays to exactly-once: a fenced or published replace
    * resumes or skips before anything else runs, a fenced batch staging
    * is reused, and the batch staging is dropped once the replace
    * published. */
  def combineBucketsAtomic(updates: DataFrame, path: String, keys: Seq[String],
      nBuckets: Int, batchId: Long)(
      combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = updates.sparkSession
    val withBucket = updates.withColumn("__bucket", bucketColumn(keys, nBuckets))
    def write(df: DataFrame): String => Unit =
      writePartitioned(df, "__bucket", nBuckets)
    val batchDir = batchStage(path, batchId)
    // heal any interrupted swap before anything lists or reads the sink
    repairPartitions(spark, path)
    replaceStaged(withBucket, path, batchId) { out =>
      if (!hasData(spark, path)) write(withBucket)(out)
      else if (stage(withBucket, path, batchDir, batchId,
          "batch_stage_post_fence")(write(withBucket))) {
        val touched = fsOf(spark, path).listStatus(batchDir).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bucket="))
          .map(_.getPath.getName.stripPrefix("__bucket="))
        val dataSchema = StructType(withBucket.schema.filterNot(_.name == "__bucket"))
        val batchRows = spark.read.schema(dataSchema.add("__bucket", IntegerType))
          .parquet(batchDir.toString)
        // __bucket is a pure function of the keys, so every combine keeps
        // it correct by construction; the replace writes one file per
        // touched bucket
        write(combine(readBuckets(spark, path, touched, dataSchema), batchRows))(out)
      }
    }
    fsOf(spark, path).delete(batchDir, true)
  }

  /** Read only the given hash buckets of a `__bucket=K`-partitioned state
    * dir, as `dataSchema` plus the `__bucket` column last — partition
    * pruning at the scan, so probe cost follows the touched buckets, not
    * the accumulated state size. The explicit schema skips the read's
    * footer-inference job. */
  private[ops] def readBuckets(spark: SparkSession, path: String,
      buckets: Seq[Any], dataSchema: StructType): DataFrame = {
    val schema = dataSchema.add("__bucket", IntegerType)
    // one root listing finds which touched buckets EXIST (a batch can
    // touch a bucket no prior batch wrote; an explicit read of a missing
    // dir would throw where a root read's filter just matches nothing)
    val present = fsOf(spark, path).listStatus(new Path(path))
      .collect { case st if st.getPath.getName.startsWith("__bucket=") =>
        st.getPath.getName.stripPrefix("__bucket=") }.toSet
    val touched = buckets.map(String.valueOf).distinct.filter(present)
    if (touched.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // A bulk batch touching MOST buckets reads the root (1 qualification
    // + discovery over dirs it needs anyway); a trickle batch touching a
    // few reads those dirs explicitly (partition discovery never lists
    // the idle buckets — the idle-probe regime this read is priced for).
    else if (touched.size * 2 >= present.size)
      spark.read.schema(schema).parquet(path)
        .filter(col("__bucket").isin(touched.map(_.toInt): _*))
    else
      spark.read.schema(schema).option("basePath", path)
        .parquet(touched.map(b => s"$path/__bucket=$b"): _*)
  }

  /** Swap every `partCol=v` dir under `stage` into the live tree:
    * preserve live under `__old`, rename staged in, drop the preserved
    * copy — per partition, resumable (a staged dir disappears exactly
    * when its swap lands, so re-runs process whatever remains), healed at
    * any interruption by [[repairPartitions]]. `afterFirstPreserve` runs
    * once, after the first partition's preserve (the replace's crash
    * point). */
  private def swapStagedDirs(fs: FileSystem, stage: Path, path: String)(
      afterFirstPreserve: => Unit): Unit = {
    if (!fs.exists(stage)) return
    val old = oldRoot(path)
    val parts = fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    if (parts.nonEmpty) { fs.mkdirs(old); fs.mkdirs(new Path(path)) }
    var first = true
    parts.foreach { st =>
      val name = st.getPath.getName
      val live = new Path(path, name)
      if (fs.exists(live)) fs.rename(live, new Path(old, name))
      if (first) { afterFirstPreserve; first = false }
      fs.rename(st.getPath, live)
      fs.delete(new Path(old, name), true)
    }
    fs.delete(old, true)
  }

  private def stageRoot(path: String) = new Path(path + "__compact_tmp")
  private def oldRoot(path: String) = new Path(path + "__compact_old")

  /** Heal an interrupted partition swap ([[swapStagedDirs]]: a
    * [[compactPartitions]] rewrite or a [[replacePartitionsAtomic]] /
    * [[combineBucketsAtomic]] replace): any partition dir preserved under
    * the `__old` sibling whose live dir is MISSING was caught between the
    * two renames — restore it; one whose live dir exists was already
    * swapped — drop the preserved copy. One `exists` call when there is
    * nothing to heal. A replace's own stage survives the repair: its
    * fenced replay resumes the swap. */
  def repairPartitions(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val old = oldRoot(path)
    if (!fs.exists(old)) return
    fs.listStatus(old).foreach { st =>
      val live = new Path(path, st.getPath.getName)
      if (!fs.exists(live)) fs.rename(st.getPath, live)
      else fs.delete(st.getPath, true)
    }
    fs.delete(old, true)
    fs.delete(stageRoot(path), true)
  }

  /** Rewrite any of the given partition values whose parquet-file count
    * exceeds `maxFiles` down to one file each. The compacted copy is
    * staged to a sibling dir — the read of the live partitions completes
    * before anything renames, so it needs no snapshot — then swapped in by
    * [[swapStagedDirs]]: a crash at any point leaves the original rows
    * restorable by [[repairPartitions]] (which also runs first, healing
    * any earlier interruption). */
  def compactPartitions(spark: SparkSession, path: String, partCol: String,
      values: Seq[Any], maxFiles: Int): Unit = {
    repairPartitions(spark, path)
    val fs = fsOf(spark, path)
    val oversized = values.filter { v =>
      val dir = new Path(s"$path/$partCol=$v")
      fs.exists(dir) && fs.listStatus(dir)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles
    }
    if (oversized.isEmpty) return
    val stage = stageRoot(path)
    fs.delete(stage, true)
    writePartitioned(spark.read.parquet(path).filter(col(partCol).isin(oversized: _*)),
      partCol, oversized.size)(stage.toString)
    swapStagedDirs(fs, stage, path)(())
    fs.delete(stage, true)
  }

  /** Distinct partition values present in a one-column frame — one
    * collect, bounded by the partition count. */
  def touchedValues(values: DataFrame): Seq[Any] =
    values.distinct().collect().map(_.get(0)).toSeq

  /** Name of the kept-files manifest a tiered [[compactFlat]] stages with
    * its merged file. Underscore-prefixed so Spark's parquet reader
    * treats it as metadata and never lists it as data. */
  private val keptManifest = "_KEPT"

  /** Does this sink/state dir hold any DATA — a `__bucket=` partition dir
    * or a bare parquet file? Mere existence is not it: the `_PARAMS`
    * stamp creates the directory before any batch writes, and treating
    * that as "data present" flips writers into their merge path against a
    * frame schema inference cannot build. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val nm = st.getPath.getName
      nm.contains("=") || nm.endsWith(".parquet")
    }
  }

  /** Canonical stamp rendering for one parameter value: numeric types
    * render as plain decimal strings (no exponent, no trailing zeros, via
    * BigDecimal), so the SAME number always produces the SAME line
    * however the caller spelled it — `1e-4` and `0.0001` both render
    * `0.0001`, `0.5f` and `0.5` both render `0.5` (floats widen to the
    * double they exactly are; genuinely different values like `0.1f` vs
    * `0.1` stay distinct, as they must — the stored bytes differ). A
    * toString rendering instead varies with literal form and spuriously
    * fails the equality require below. */
  private def renderParam(v: Any): String = v match {
    // non-finite doubles have no BigDecimal form (BigDecimal(NaN) throws
    // NumberFormatException); render them the way toString always did so
    // a caller stamping a non-finite threshold round-trips instead of
    // crashing with an unrelated-looking numeric error
    case d: Double if d.isNaN || d.isInfinite => String.valueOf(d)
    case d: Double =>
      BigDecimal(d).bigDecimal.stripTrailingZeros.toPlainString
    case f: Float => renderParam(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case other => String.valueOf(other)
  }

  /** Layout-parameter stamp for a persistent keyed state/sink dir: the
    * first run writes `_PARAMS` (sorted `k=v` lines); every later run
    * REQUIRES equality. Bucket counts, signature widths, band counts and
    * gram lengths are baked into the stored bytes — a re-run with a
    * drifted value doesn't error, it silently probes nonexistent buckets
    * or compares unmatchable signatures (missed pairs, corrupt merges).
    * Same discipline as the benchmark index's `_gram_n` stamp; the
    * underscore name keeps it out of Spark's data listing, and bucketed
    * dirs compact per partition so the root stamp survives compaction. */
  def stampParams(spark: SparkSession, path: String,
      params: Map[String, Any]): Unit = {
    val fs = fsOf(spark, path)
    val stamp = new Path(path, "_PARAMS")
    val rendered = params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${renderParam(v)}" }.mkString("", "\n", "\n")
    if (fs.exists(stamp)) {
      val in = fs.open(stamp)
      val existing =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(existing == rendered,
        s"state dir $path was built with parameters:\n${existing.trim}\n" +
          s"but this run uses:\n${rendered.trim}\n— mismatched layout " +
          "parameters silently corrupt probes and merges; rebuild the " +
          "state dir or restore the original parameters")
    } else {
      fs.mkdirs(new Path(path))
      // temp-file + rename: two concurrent FIRST runs otherwise race
      // check-then-create and one could read a half-written stamp; the
      // rename makes the stamp appear atomically (losing a same-params
      // race is harmless — the rename simply overwrites with identical
      // bytes, and differing params fail the require on the next call).
      val tmp = new Path(path,
        s"._PARAMS.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(rendered.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, stamp)) {
        // a concurrent run won the rename: fall through to the equality
        // check against whatever landed
        fs.delete(tmp, false)
      }
      // Verify by re-read REGARDLESS of the rename's return value:
      // HDFS-style rename refuses an existing destination (returns false
      // → the branch above), but RawLocalFileSystem maps to POSIX rename,
      // which silently OVERWRITES and returns true — two racing first
      // runs with different params would both "succeed" last-writer-wins
      // and neither would ever compare. One small re-read makes the
      // equality check independent of the filesystem's rename-onto-
      // existing semantics.
      val in = fs.open(stamp)
      val landed =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(landed == rendered,
        s"state dir $path was concurrently stamped with parameters:\n" +
          s"${landed.trim}\nbut this run uses:\n${rendered.trim}")
    }
  }

  /** Heal an interrupted [[compactFlat]] swap. Two crash shapes:
    *
    *   - `__old` preserved, live dir MISSING: caught between the two
    *     renames — restore the preserved copy (nothing of the new state
    *     was visible yet).
    *   - `__old` preserved AND live dir present: the staged dir already
    *     swapped in. Under the tiered protocol the live dir holds the
    *     merged file plus a `_KEPT` manifest naming the untouched
    *     generation files still being moved over from `__old` — resume
    *     those metadata renames (idempotent: each name lives in exactly
    *     one of the two dirs) and only then drop `__old`. No manifest
    *     (legacy whole-dir swap) means the live dir is already complete.
    */
  def repairFlat(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val old = oldRoot(path)
    if (!fs.exists(old)) return
    val live = new Path(path)
    if (!fs.exists(live)) fs.rename(old, live)
    else {
      val manifest = new Path(live, keptManifest)
      if (fs.exists(manifest)) {
        val in = fs.open(manifest)
        val names =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
        names.foreach { n =>
          val src = new Path(old, n)
          if (fs.exists(src)) fs.rename(src, new Path(live, n))
        }
        fs.delete(old, true)
        fs.delete(manifest, false)
      } else fs.delete(old, true)
    }
    fs.delete(stageRoot(path), true)
  }

  /** Rewrite a FLAT (unpartitioned) append sink down to at most
    * `maxFiles` files (one fresh merge + up to `maxFiles − 1` kept
    * generations) once its parquet-file count exceeds
    * `maxFiles` — for append-only OUTPUT dirs (e.g. a streaming query's
    * accumulated result rows) that gain one file per batch and are read
    * in full at the end, where the keyed layouts above don't apply. The
    * decision is one driver `listStatus`; the rewrite stages to a
    * sibling dir and swaps via preserve-rename / stage-rename /
    * drop-preserved, so a crash at any point leaves the original
    * restorable by [[repairFlat]] (which also runs first).
    *
    * GENERATION-TIERED: only the SMALLEST files merge — at minimum the
    * `n − (maxFiles − 1)` needed to land back under the threshold, then
    * greedily absorbing each next-smallest file whose size is at most
    * the running sum (the size-doubling rule). Files that stay out of
    * the merge — prior compacted generations — move into the new live
    * dir by pure metadata RENAME, never a data rewrite, so a byte is
    * rewritten only when its generation gets absorbed by an
    * equal-or-larger pile: O(log n) rewrites per byte over a stream's
    * lifetime, where the old rewrite-everything policy was quadratic in
    * accumulated output. Swap order: merged file (+ `_KEPT` manifest
    * naming the generations) is staged; live renames to `__old`
    * (complete copy preserved); stage renames to live; kept generations
    * rename `__old` → live one by one; `__old` (now only the absorbed
    * smalls) and the manifest are dropped. A crash at ANY point is
    * healed by [[repairFlat]]: before the stage swap the preserved copy
    * restores wholesale; after it the manifest says exactly which
    * renames remain, and each file exists in exactly one of the two
    * dirs. A tiered merge always produces one file (the generation
    * unit). */
  def compactFlat(spark: SparkSession, path: String, maxFiles: Int): Unit = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    repairFlat(spark, path)
    val p = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) return
    val parquet = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(st => (st.getLen, st.getPath.getName))
    if (parquet.length <= maxFiles) return
    // merge the smallest `mustMerge` files (lands the count back under
    // maxFiles: 1 merged file + at most maxFiles - 1 kept generations),
    // then keep absorbing the next-smallest while it is no larger than
    // the pile built so far — the size-doubling rule that bounds
    // per-byte rewrites to O(log n) over the sink's lifetime.
    // maxFiles = 1 merges EVERYTHING (mustMerge = n): with no kept slot
    // available, anything less would leave 2 files, and every later call
    // would rewrite the small file again without ever converging.
    val mustMerge = parquet.length - math.max(0, maxFiles - 1)
    var sum = parquet.take(mustMerge).map(_.getLen).sum
    val m = parquet.take(mustMerge) ++
      parquet.drop(mustMerge).takeWhile { st =>
        val take = st.getLen <= sum
        if (take) sum += st.getLen
        take
      }
    val kept = parquet.map(_.getPath.getName)
      .filterNot(m.map(_.getPath.getName).toSet).toSeq
    // the merge is written to the sibling stage and completes before
    // any rename, so it reads the live files directly (no snapshot)
    val stage = stageRoot(path)
    fs.delete(stage, true)
    spark.read.parquet(m.map(_.getPath.toString): _*)
      .coalesce(1).write.parquet(stage.toString)
    if (kept.nonEmpty) {
      val out = fs.create(new Path(stage, keptManifest), true)
      try out.write((kept.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    val old = oldRoot(path)
    fs.delete(old, true)
    fs.rename(p, old)
    fs.rename(stage, p)
    // Injected-crash point (test-only, [[Failpoint]]): the merged file is
    // live, the preserved copy sits under `__old`, and the kept-
    // generation renames are pending (after the first when there are
    // any) — the window [[repairFlat]]'s manifest-resume branch heals.
    if (kept.isEmpty) Failpoint.hit(spark, "compact_flat_mid_manifest", 0L)
    var firstKept = true
    kept.foreach { n =>
      fs.rename(new Path(old, n), new Path(p, n))
      if (firstKept) {
        Failpoint.hit(spark, "compact_flat_mid_manifest", 0L)
        firstKept = false
      }
    }
    fs.delete(old, true)
    fs.delete(new Path(p, keptManifest), false)
  }
}
