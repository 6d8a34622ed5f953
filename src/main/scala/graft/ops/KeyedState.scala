package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._

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
  * REPLAY SAFETY: every streaming write goes through one of the fenced
  * staged writers below ([[appendPartitionedAtomic]], [[appendFlatAtomic]],
  * [[replacePartitionsAtomic]]). Each skips a batch whose
  * `<path>__pub/b<id>` witness exists, so a checkpoint-recovery replay
  * of a published batch writes nothing; the witness is the one replay
  * fence, and callers carry no markers of their own.
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

  // ---- staged-swap batch appends ---------------------------------------
  //
  // A bare mode("append") cannot be replayed: a crash INSIDE the parquet
  // job commit (FileOutputCommitter moves task outputs into the live dir
  // file by file) lands SOME of the batch's files, and the replayed batch
  // then appends a full second copy next to the partial first; a crash
  // after the commit replays a full second copy outright. The staged
  // appends close both: the batch writes to a
  // SIBLING staged dir (a crash inside THAT job commit touches only the
  // staged dir, which the replay deletes), a `_FENCE` file marks the
  // staged write complete, publication moves each staged file into the
  // live dir under a batch-prefixed name (collision-proof across
  // batches), and a per-batch marker under the `<path>__pub` sibling
  // records completed publication. Each per-file rename is atomic, so at
  // every instant a staged file exists in exactly one of the two dirs,
  // and every crash point replays to the same final state:
  //
  //   - crash before `_FENCE` (incl. inside the staged job commit):
  //     replay deletes the unfenced staged dir and rewrites;
  //   - crash mid-publication: the fenced staged dir survives, replay
  //     resumes moving whatever files remain;
  //   - crash after publication, before the `__pub` marker: replay finds
  //     a fenced staged dir with no data files left, moves nothing,
  //     writes the marker, cleans up;
  //   - crash after the marker (before the staged-dir delete, or any
  //     time before Structured Streaming commits the batch): the
  //     `__pub/b<batchId>` marker proves publication completed (it is
  //     written only after every staged file moved), so replay just drops
  //     any staged leftovers and returns without re-appending.
  //
  // The marker is ONE driver `exists` call per batch — a listing of the
  // live tree for `b<batchId>_`-prefixed files would grow with
  // accumulated state (partitions × files per partition). Markers
  // accumulate one empty file per published batch, pruned by the
  // retention sweep below.
  //
  // Staged/marker dirs are SIBLINGS of the live root
  // (`<path>__staged_b<id>`, `<path>__pub`), never inside it — a stray
  // non-partition dir inside a partitioned root breaks partition-value
  // inference for every read (the compactor discipline above).

  private def stagedDir(path: String, batchId: Long): Path =
    new Path(path + s"__staged_b$batchId")

  private def pubMarker(path: String, batchId: Long): Path =
    new Path(path + "__pub", s"b$batchId")

  private def dataFiles(fs: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath)
      else if (st.getPath.getName.startsWith("part-")) Seq(st)
      else Seq.empty
    }

  /** Move every remaining staged data file into the live tree under its
    * batch-prefixed name, preserving the partition subdir, write the
    * batch's `__pub` marker (the completed-publication witness — written
    * only after every file moved), then drop the staged dir. Idempotent:
    * re-runs move whatever is left. Returns the partition VALUES whose
    * dirs received files — the caller's compaction-candidate list for
    * free (the publish walks exactly the touched dirs; a resumed
    * publication reports only the remainder, which under-reports
    * candidates harmlessly — compaction is opportunistic). */
  private def publishStaged(fs: FileSystem, staged: Path, live: Path,
      path: String, batchId: Long): Seq[String] = {
    // listStatus returns QUALIFIED paths (scheme + authority); qualify the
    // root too or the flat-dir parent comparison below never matches
    val stagedQ = fs.makeQualified(staged)
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
    val marker = pubMarker(path, batchId)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(staged, true)
    touched.toSeq
  }

  /** Shared body of the two staged appends: `write` stages the frame
    * into `staged` (the only Spark job — there is deliberately NO
    * pre-write `isEmpty` action: emptiness is detected from the staged
    * output's data-file listing instead, so an empty batch costs the one
    * write job it was already paying, not two). A staged write that
    * produced no data files (empty partitioned frame) is dropped without
    * publication — publishing nothing would leave no witness, and the
    * replayed empty write is a no-op anyway. Returns the published
    * partition values ([[publishStaged]]); Nil on the skip paths. */
  private def stagedAppend(spark: SparkSession, path: String, batchId: Long,
      failpoint: String)(write: String => Unit): Seq[String] = {
    val fs = fsOf(spark, path)
    val staged = stagedDir(path, batchId)
    val live = new Path(path)
    val fence = new Path(staged, "_FENCE")
    // cadenced retention sweep of this sink's publication witnesses
    // (old markers only — the current batch's is never at the floor)
    maybePruneMarkers(spark, path + "__pub", batchId)
    if (fs.exists(pubMarker(path, batchId))) {
      // already fully published (a replay whose crash landed after the
      // marker — before the staged delete or the checkpoint commit)
      if (fs.exists(staged)) fs.delete(staged, true)
      return Nil
    }
    if (fs.exists(staged) && fs.exists(fence))
      return publishStaged(fs, staged, live, path, batchId)
    if (fs.exists(staged)) fs.delete(staged, true) // unfenced partial write
    write(staged.toString)
    if (dataFiles(fs, staged).isEmpty) { fs.delete(staged, true); return Nil }
    fs.create(fence, true).close()
    // Injected-crash point (test-only, [[Failpoint]]): the staged write
    // is complete and fenced but NOTHING is published — the torn-commit
    // window a bare append cannot survive. CrashRecoverySpec kills a
    // stream here and proves the checkpoint replay resumes publication.
    Failpoint.hit(spark, failpoint, batchId)
    publishStaged(fs, staged, live, path, batchId)
  }

  /** Append into `path/<partCol>=<v>/` dirs under the staged-swap
    * protocol, one file per touched partition value (`numTasks` bounds
    * the write's task count; each value lands wholly in one task):
    * exactly once per `batchId` under crashes anywhere, including inside
    * the write's own job commit and after publication. Returns the
    * partition values this batch published into (the caller's
    * compaction-candidate list, costing no extra Spark job; empty on a
    * replay skip — compaction candidates are best-effort by design). */
  def appendPartitionedAtomic(df: DataFrame, path: String, partCol: String,
      numTasks: Int, batchId: Long): Seq[String] =
    stagedAppend(df.sparkSession, path, batchId, "staged_post_fence") { out =>
      df.repartition(numTasks, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(out)
    }

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
    stagedAppend(df.sparkSession, path, batchId, "staged_post_fence_flat") {
      out => df.repartition(numFiles).write.mode("overwrite").parquet(out)
    }
    ()
  }

  private[ops] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- micro-batch staging (the affected-bucket source) ------------------
  //
  // A keyed sink ([[Upsert.upsertKeyedParquet]], [[Upsert.mergeKeyedParquet]])
  // needs the micro-batch twice on a WARM sink: once to learn which
  // buckets it touches (so the existing-state read prunes to those
  // partitions) and once as combine input. Staging the batch's OUTPUT to
  // a sibling dir makes the plan execute exactly once — the affected
  // buckets fall out of the staged partition-dir listing, and the combine
  // re-reads the staged parquet, paying a roundtrip of the batch's small
  // output instead of a second execution of its plan. The staging is
  // fenced like the staged appends above, so a replay reuses it and never
  // re-executes the batch plan against half-written state.

  private[ops] def batchStage(path: String, batchId: Long): Path =
    new Path(path + s"__batch_b$batchId")

  /** Stage the micro-batch frame into the `<path>__batch_b<id>` sibling,
    * partitioned by `partCol` (one file per touched partition value), and
    * return the touched partition VALUES read off the staged dirs. Empty
    * batches stage no data files → the dir is dropped and Nil returned
    * (the caller's emptiness guard, costing no extra action). A `_FENCE`
    * file marks the staging complete; a replay of `batchId` REUSES a
    * fenced staging instead of re-executing the plan (draining the frame
    * inside a micro-batch, [[drainInMicroBatch]]), and deletes an
    * unfenced (torn) one before writing again. */
  private[ops] def stageMicroBatch(df: DataFrame, path: String,
      partCol: String, numTasks: Int, batchId: Long): Seq[String] = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val dir = batchStage(path, batchId)
    val fence = new Path(dir, "_FENCE")
    if (!(fs.exists(fence) && fs.exists(dir))) {
      fs.delete(dir, true) // unfenced partial staging from a crash
      df.repartition(numTasks, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(dir.toString)
      if (dataFiles(fs, dir).isEmpty) { fs.delete(dir, true); return Nil }
      fs.create(fence, true).close()
      // Injected-crash point (test-only, [[Failpoint]]): batch staged
      // and fenced, combine not yet computed — the replay must combine
      // the staged rows, never a second execution of the batch plan, and
      // apply them exactly once.
      Failpoint.hit(spark, "batch_stage_post_fence", batchId)
    } else drainInMicroBatch(df)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .map(_.getPath.getName.split("=", 2).last)
  }

  /** Run `df` once into Spark's no-op sink when called inside a streaming
    * micro-batch. A replay that finds its batch already staged, fenced or
    * published writes nothing, but Structured Streaming commits a stateful
    * query's state stores only when the `foreachBatch` frame executes, and
    * fails the batch otherwise (`STATE_STORE_COMMIT_VALIDATION_FAILED`).
    * Outside a stream there is no state to commit, and nothing runs. */
  private[ops] def drainInMicroBatch(df: DataFrame): Unit =
    if (df.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY) != null)
      df.write.format("noop").mode("overwrite").save()

  /** Drop the staged micro-batch dir once its batch is fully published. */
  private[ops] def dropBatchStage(spark: SparkSession, path: String,
      batchId: Long): Unit = {
    val fs = fsOf(spark, path)
    val dir = batchStage(path, batchId)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Has batch `batchId`'s replace-swap already published into `path`?
    * (the `__pub/b<id>` completed-publication witness) */
  private[ops] def isPublished(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    fsOf(spark, path).exists(pubMarker(path, batchId))

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

  /** Is batch `batchId`'s replace-swap staged write complete (fenced) but
    * not yet published? A replay at this point must resume the swap
    * WITHOUT recomputing its content — not even a batch re-staging. */
  private[ops] def isReplaceFenced(spark: SparkSession, path: String,
      batchId: Long): Boolean = {
    val fs = fsOf(spark, path)
    val staged = stagedDir(path, batchId)
    fs.exists(new Path(staged, "_FENCE")) && fs.exists(staged)
  }

  // ---- replace-partition swaps (the keyed upsert/merge sinks) -----------
  //
  // Spark's dynamic partition overwrite commits by DELETING each existing
  // partition dir and renaming the staged one in — two separate driver fs
  // operations with no healing protocol. A crash between them loses the
  // partition's accumulated state outright: the combined rows existed
  // only in the in-flight job, and the batch replay can re-deliver the
  // BATCH but not the prior state it was combined with. The swap below
  // stages the new partition contents to a sibling, then swaps each
  // partition via the compaction protocol (preserve live under `__old` →
  // rename staged in → drop preserved), so at every instant a partition's
  // rows exist under the live path or the `__old` sibling, never nowhere;
  // [[repairPartitions]] heals any interruption. Because the write target
  // is the stage sibling, the caller may compute the new contents FROM
  // the live path without a localCheckpoint barrier — read path and write
  // path only meet at the (driver-side, healed) swap.

  /** Replace `df`'s `partCol=v` partitions of `path` under the staged-batch
    * fence protocol — the one write of both keyed sinks
    * ([[Upsert.upsertKeyedParquet]], [[Upsert.mergeKeyedParquet]]). The
    * double-apply hazard is a replay that RECOMPUTES the new contents
    * against partially-new state (an accumulate-merge key's list would
    * concatenate the batch twice); the fence closes it: once the staged
    * write completes and `_FENCE` lands, a replay never re-executes `df`'s
    * plan — it RESUMES the swap from the staged dirs (df is lazy; the
    * resume path never triggers its job), and the `__pub` marker
    * witnesses a completed swap exactly as in the staged appends. Crash
    * table mirrors [[appendPartitionedAtomic]], with preserve-rename
    * (healed by [[repairPartitions]], which runs first) in place of
    * per-file publication. */
  def replacePartitionsAtomic(df: DataFrame, path: String, partCol: String,
      numTasks: Int, batchId: Long): Unit = {
    val spark = df.sparkSession
    repairPartitions(spark, path)
    val fs = fsOf(spark, path)
    val staged = stagedDir(path, batchId)
    val fence = new Path(staged, "_FENCE")
    // cadenced retention sweep of this sink's publication witnesses
    maybePruneMarkers(spark, path + "__pub", batchId)
    if (fs.exists(pubMarker(path, batchId))) {
      if (fs.exists(staged)) fs.delete(staged, true)
      return
    }
    if (!(fs.exists(staged) && fs.exists(fence))) {
      if (fs.exists(staged)) fs.delete(staged, true) // unfenced partial write
      df.repartition(numTasks, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(staged.toString)
      if (dataFiles(fs, staged).isEmpty) { fs.delete(staged, true); return }
      fs.create(fence, true).close()
      // Injected-crash point (test-only): staged write fenced, nothing
      // swapped — the replay must resume the swap WITHOUT re-running the
      // merge plan (CrashRecoverySpec kills a stream here).
      Failpoint.hit(spark, "replace_post_fence", batchId)
    }
    swapStagedDirs(spark, fs, staged, path, batchId)
    val marker = pubMarker(path, batchId)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(staged, true)
  }

  /** Swap every `partCol=v` dir under `stage` into the live tree:
    * preserve live under `__old`, rename staged in, drop the preserved
    * copy — per partition, resumable (a staged dir disappears exactly
    * when its swap lands, so re-runs process whatever remains), healed at
    * any interruption by [[repairPartitions]]. The `replace_mid_swap`
    * failpoint fires after the FIRST partition's preserve — the worst
    * window (live copy moved aside, new content not yet in). */
  private def swapStagedDirs(spark: SparkSession, fs: FileSystem,
      stage: Path, path: String, batchId: Long): Unit = {
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
      if (first) { Failpoint.hit(spark, "replace_mid_swap", batchId); first = false }
      fs.rename(st.getPath, live)
      fs.delete(new Path(old, name), true)
    }
    fs.delete(old, true)
  }

  private def stageRoot(path: String) = new Path(path + "__compact_tmp")
  private def oldRoot(path: String) = new Path(path + "__compact_old")

  /** Heal an interrupted [[compactPartitions]] swap: any partition dir
    * preserved under the `__old` sibling whose live dir is MISSING was
    * caught between the two renames — restore it; one whose live dir
    * exists was already swapped — drop the preserved copy. One `exists`
    * call when there is nothing to heal. */
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
    * staged to a sibling dir, then each partition swaps via
    * preserve-rename / stage-rename / drop-preserved — a crash at any
    * point leaves the original rows restorable by [[repairPartitions]]
    * (which also runs first, healing any earlier interruption). */
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
    val old = oldRoot(path)
    fs.delete(stage, true)
    val rows = spark.read.parquet(path)
      .filter(col(partCol).isin(oversized: _*))
      .repartition(oversized.size, col(partCol))
      .localCheckpoint(true)
    try rows.write.partitionBy(partCol).parquet(stage.toString)
    finally Checkpoints.release(rows)
    fs.mkdirs(old)
    oversized.foreach { v =>
      val name = s"$partCol=$v"
      val staged = new Path(stage, name)
      val live = new Path(path, name)
      if (fs.exists(staged)) {
        // preserve, swap, drop — original restorable until the swap lands
        if (fs.exists(live)) fs.rename(live, new Path(old, name))
        fs.rename(staged, live)
        fs.delete(new Path(old, name), true)
      }
    }
    fs.delete(old, true)
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

  /** Layout-parameter stamp for a persistent keyed state/sink dir: the
    * first run writes `_PARAMS` (sorted `k=v` lines); every later run
    * REQUIRES equality. Bucket counts, signature widths, band counts and
    * gram lengths are baked into the stored bytes — a re-run with a
    * drifted value doesn't error, it silently probes nonexistent buckets
    * or compares unmatchable signatures (missed pairs, corrupt merges).
    * Same discipline as the benchmark index's `_gram_n` stamp; the
    * underscore name keeps it out of Spark's data listing, and bucketed
    * dirs compact per partition so the root stamp survives compaction. */
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
    val rows = spark.read
      .parquet(m.map(_.getPath.toString): _*).localCheckpoint(true)
    val stage = stageRoot(path)
    try {
      fs.delete(stage, true)
      rows.coalesce(1).write.parquet(stage.toString)
    } finally Checkpoints.release(rows)
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
