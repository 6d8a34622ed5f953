package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based upsert rewrites.
  *
  * The reference leans on MySQL's `INSERT ... ON DUPLICATE KEY UPDATE`
  * (`/root/reference/src/groovy/haplorec/util/Sql.groovy:373-408`) with two
  * modes: `'discard'` (keep the existing row) and `'update'` (new row wins).
  * Spark has no unique-key enforcement, so both become join/window rewrites
  * executed as one shuffle on the key columns; the anti-join of `discard`
  * broadcasts when the new side is small, and AQE handles skewed keys.
  */
object Upsert {

  /** New rows whose key already exists are discarded (`Sql.groovy:394-398`).
    * Duplicate keys *within* `newRows` keep one arbitrary-but-deterministic
    * row (lowest by `tieBreak`, defaulting to the key itself).
    */
  def discard(
      existing: DataFrame,
      newRows: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val order = (if (tieBreak.nonEmpty) tieBreak else keys).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val dedupedNew = newRows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    existing.unionByName(dedupedNew.join(existing, keys, "left_anti"))
  }

  /** New rows replace existing rows with the same key (`Sql.groovy:399-404`
    * `'update'` mode).
    */
  def update(
      existing: DataFrame,
      newRows: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val order = (if (tieBreak.nonEmpty) tieBreak else keys).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val dedupedNew = newRows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    existing.join(dedupedNew, keys, "left_anti").unionByName(dedupedNew)
  }

  /** Caller-supplied update clause — the reference's third `onDuplicateKey`
    * mode (`Sql.groovy:399-408`): a closure generating the
    * `ON DUPLICATE KEY UPDATE` SQL from the old-row and new-row aliases.
    * Spark-native form: per-column merge functions of (existing value,
    * incoming value); columns without a merge function keep the existing
    * value. Existing rows with no incoming match pass through; incoming
    * rows with no existing match insert as-is.
    *
    * ONE full-outer join on the keys — each input referenced exactly once
    * in the plan. The previous left-join ∪ anti-join shape referenced
    * BOTH inputs twice, so every consumer paid two scans of the existing
    * state and two executions of the incoming subtree per action (for a
    * keyed merge sink that is two touched-bucket scans per batch, and it
    * is what made the direct merge arm a triple execution of the batch
    * plan). USING-join key coalescing keeps key columns single; unmatched
    * sides are told apart by the non-nullable presence markers, exactly
    * the old shape's `__matched` discipline.
    */
  def merge(
      existing: DataFrame,
      newRows: DataFrame,
      keys: Seq[String],
      mergeCols: Map[String, (Column, Column) => Column],
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val order = (if (tieBreak.nonEmpty) tieBreak else keys).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val dedupedNew = newRows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val nonKey = existing.columns.filterNot(keys.contains).toSeq
    val oldAliased = existing.select(
      (keys.map(col) :+ lit(1).as("__in_old")) ++
        nonKey.map(c => col(c).as(s"__old_$c")): _*)
    val newAliased = dedupedNew.select(
      (keys.map(col) :+ lit(1).as("__in_new")) ++
        nonKey.map(c => col(c).as(s"__new_$c")): _*)
    oldAliased.join(newAliased, keys, "full_outer")
      .select(keys.map(col) ++ nonKey.map { c =>
        val merged = mergeCols.get(c)
          .map(f => f(col(s"__old_$c"), col(s"__new_$c")))
          .getOrElse(col(s"__old_$c"))
        when(col("__in_old").isNotNull && col("__in_new").isNotNull, merged)
          .when(col("__in_old").isNotNull, col(s"__old_$c"))
          .otherwise(col(s"__new_$c")).as(c)
      }: _*)
  }

  /** Replace-by-key into a bucket-partitioned parquet directory — the
    * keyed sink a `foreachBatch` streaming query in UPDATE output mode
    * writes through (plain parquet has no native merge). The sink is
    * partitioned by `pmod(xxhash64(keys), nBuckets)`; each call stages
    * the micro-batch's output (one plan execution), reads ONLY the hash
    * buckets the staged batch touches, anti-joins out superseded rows,
    * and swaps just those bucket partitions via the healed
    * preserve-rename protocol. Per-call work is proportional to
    * touched-bucket size, not sink size; size `nBuckets` so one bucket ≪
    * executor memory at the target scale.
    */
  def upsertKeyedParquet(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      nBuckets: Int = 64): Unit = {
    val spark = updates.sparkSession
    // Heal any swap a previous crash interrupted BEFORE anything lists or
    // reads the sink (one `exists` when clean): hasData and the merge
    // must see every bucket's rows, preserved or live.
    KeyedState.repairPartitions(spark, path)
    // the shared keyed-state bucket hash — Upsert-written sinks and
    // KeyedState-probed state must bucket bit-identically
    val bucketOf = KeyedState.bucketColumn(keys, nBuckets)
    val withBucket = updates.withColumn("__bucket", bucketOf)
    // A FRESH sink needs no bucket pruning and no emptiness guard (an
    // empty partitioned append creates no data files, so the sink stays
    // "fresh" for the next batch and the schema-aware reader returns
    // empty) — the batch plan executes exactly ONCE, in the append.
    if (!KeyedState.hasData(spark, path)) {
      // a crash between a previous swap and dropBatchStage can leave the
      // unfenced `__batch` sibling behind; the warm path reclaims it by
      // re-staging, but a sink that went back to fresh (e.g. truncated
      // externally) would otherwise retain a stale full batch copy
      KeyedState.dropBatchStage(spark, path, None)
      freshAppend(withBucket, path, nBuckets); return
    }
    // WARM sink: stage the micro-batch's OUTPUT first — the ONLY
    // execution of the batch plan — and read the affected buckets off
    // the staged partition dirs (no extra Spark action; the same trick
    // that replaced the isEmpty pre-job). The merge below then reads two
    // parquet sources (staged batch + touched live buckets), so the swap
    // write never re-executes the batch aggregate. Round 14's pruned
    // key-hash distinct still re-ran the aggregate once per batch; the
    // staging roundtrip costs IO proportional to the batch's (small)
    // output instead (PLANS.md, round-15 "Warm keyed-sink single-execution
    // rewrite", attributes the difference).
    val affected = KeyedState
      .stageMicroBatch(withBucket, path, "__bucket", nBuckets, None)
    if (affected.isEmpty) return // empty batch: nothing staged, no-op
    // explicit schema: the staged layout is exactly the batch's schema
    // (Spark appends the partition column last on read) — passing it
    // skips the read's footer-inference job, one fewer job per batch
    val batchRows = spark.read
      .schema(stagedSchema(withBucket))
      .parquet(KeyedState.batchStage(path, None).toString)
    val existing = spark.read.parquet(path)
      .filter(col("__bucket").isin(affected.map(_.toInt): _*))
    val merged = existing
      .join(batchRows.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(batchRows.select(existing.columns.map(col): _*))
    // One file per touched bucket: co-locate each bucket in one task.
    // Without the repartition the write inherits the batch's partitioning
    // and every task emits a file for every bucket it happens to hold —
    // up to tasks × buckets one-row fragments per batch (measured ~1500
    // files for a 1,500-key first batch), and the sink's read-back pays
    // that listing forever. K buckets ⇒ K well-sized files, listing O(K).
    // swapPartitions (stage sibling + preserve-rename per bucket) instead
    // of Spark's dynamic partition overwrite, whose delete-then-rename
    // job commit can LOSE a bucket's accumulated state if crashed between
    // the two — a window replay tolerance cannot absorb (the merged rows
    // existed nowhere else). Replays at any crash point re-stage and
    // re-merge; replace semantics are idempotent per key.
    KeyedState.swapPartitions(spark, path, "__bucket",
      merged.repartition(nBuckets, col("__bucket")))
    KeyedState.dropBatchStage(spark, path, None)
  }

  /** Read-back schema of a staged micro-batch: the batch's own columns
    * with the `__bucket` partition column moved last (where a partitioned
    * parquet read appends it). */
  private def stagedSchema(withBucket: DataFrame)
      : org.apache.spark.sql.types.StructType = {
    val s = withBucket.schema
    org.apache.spark.sql.types.StructType(
      s.filterNot(_.name == "__bucket") :+ s("__bucket"))
  }

  /** First write into a data-less sink: a direct partitioned append, one
    * file per touched bucket. mode APPEND, not overwrite: on a data-less
    * sink the two create the same files, but overwrite first DELETES the
    * whole directory — including the caller's `_PARAMS` layout stamp (and
    * any `_applied` markers a caller placed inside the root), so a later
    * run with a drifted nBuckets would silently re-stamp instead of
    * failing loud.
    *
    * A torn first write does NOT simply "replay to the same state":
    * a crash inside the append's job commit can leave committed task
    * outputs under `path/_temporary` with no partition dir published
    * (hasData stays false, so the replay takes this same path), and
    * FileOutputCommitter's commitJob merges ALL committed task dirs under
    * the shared `_temporary/0` — the replayed job would publish the
    * crashed attempt's partial files next to its own rows: duplicate keys
    * a replace-by-key sink never supersedes, because the swap/merge path
    * only runs once the sink has data. Dropping the stale attempt dir
    * first closes the window (the old whole-directory overwrite closed it
    * only incidentally). */
  private def freshAppend(withBucket: DataFrame, path: String,
      nBuckets: Int): Unit = {
    val spark = withBucket.sparkSession
    KeyedState.fsOf(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path, "_temporary"), true)
    withBucket.repartition(nBuckets, col("__bucket"))
      .write.mode("append").partitionBy("__bucket").parquet(path)
  }

  /** MERGE-by-key into a bucket-partitioned parquet directory: like
    * [[upsertKeyedParquet]] but combining matched rows with the caller's
    * per-column merge functions ([[merge]] semantics) instead of
    * replacing them — the sink shape for streaming state that ACCUMULATES
    * per key (running lists, counters) rather than superseding. Same
    * bucket discipline: only the hash buckets the incoming keys touch are
    * read and rewritten, so per-call work is proportional to
    * touched-bucket size, not sink size.
    *
    * NOT idempotent at the SEMANTIC level: re-merging the same batch
    * accumulates its elements into each key's state a second time.
    * Streaming callers must still wrap the call in [[applyBatchOnce]] to
    * skip whole-batch replays cheaply; within a batch, the write goes
    * through [[KeyedState.replacePartitionsAtomic]] (`batchId` names the
    * staged dir), so a crash at ANY point — including inside the staged
    * write's job commit or mid-swap — replays to exactly-once: once the
    * staged merge is fenced, a replay resumes the swap without
    * re-executing the merge plan, and the `__pub` marker witnesses
    * completion.
    */
  def mergeKeyedParquet(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      mergeCols: Map[String, (Column, Column) => Column],
      nBuckets: Int,
      batchId: Long): Unit = {
    val spark = updates.sparkSession
    // heal any interrupted swap before anything lists or reads the sink
    KeyedState.repairPartitions(spark, path)
    if (KeyedState.isPublished(spark, path, batchId)) {
      // crash landed after the `__pub` witness, before cleanup or the
      // caller's replay marker: everything is in the sink — drop any
      // leftover staged dirs and return without a single Spark job
      KeyedState.dropReplaceStage(spark, path, batchId)
      KeyedState.dropBatchStage(spark, path, Some(batchId))
      return
    }
    // the shared keyed-state bucket hash — Upsert-written sinks and
    // KeyedState-probed state must bucket bit-identically
    val bucketOf = KeyedState.bucketColumn(keys, nBuckets)
    val withBucket = updates.withColumn("__bucket", bucketOf)
    if (KeyedState.isReplaceFenced(spark, path, batchId)) {
      // the combined swap already fenced on a previous attempt: resume it
      // without executing ANY plan (withBucket stays lazy — the fenced
      // branch of the atomic replace only moves files), then drop the
      // batch staging this attempt no longer needs
      KeyedState.replacePartitionsAtomic(withBucket, path, "__bucket",
        nBuckets, batchId)
      KeyedState.dropBatchStage(spark, path, Some(batchId))
      return
    }
    if (!KeyedState.hasData(spark, path)) {
      // A FRESH sink merges against nothing: the batch plan executes
      // exactly once, inside the fenced staged write (whose no-data-files
      // detection IS the emptiness guard). ALWAYS the fenced atomic
      // swap — even batch 0: a torn fresh write replayed into the merge
      // path would double-apply its own partial rows (replace semantics
      // would supersede; merge semantics concatenate).
      KeyedState.replacePartitionsAtomic(withBucket, path, "__bucket",
        nBuckets, batchId)
      return
    }
    // WARM sink: two arms, size-chosen per batch (VERDICT r15 #4).
    //
    // STAGED arm (the r15 shape, and the default): stage the micro-
    // batch's OUTPUT first under its own fence — the ONLY execution of
    // the batch plan — and read the affected buckets off the staged
    // partition dirs. The combined merge then reads two parquet sources
    // (staged batch + touched live buckets), so the fenced swap write
    // never re-executes the batch aggregate. Cost: an IO roundtrip of
    // the batch's output (write + read back) — at toy scale, where the
    // batch output rivals the touched live state, that roundtrip was a
    // measured +0.2–0.3 s/batch over the direct shape.
    //
    // DIRECT arm (the r14 shape, kept as the cheaper path when the
    // batch OUTPUT outweighs the touched-bucket scan): derive affected
    // buckets from a pruned distinct-collect (first plan execution),
    // then let the fenced merge write re-execute the batch plan
    // (second). Correct for DETERMINISTIC batch plans — the two
    // executions must bucket identically, or the swap could replace a
    // bucket the discovery pass never scanned (losing its state); auto
    // mode therefore only flips to direct on measured sizes, and
    // `spark.graft.mergeStaging` pins `always`/`direct` explicitly.
    //
    // AUTO choice: staged until a staged batch MEASURES its output ≥ the
    // touched live bytes (sizes from the driver listings the protocol
    // already pays, recorded per sink path in-JVM); then direct, with a
    // staged refresh every `spark.graft.mergeStagingProbeEvery` batches
    // (default 8) so a sink whose regime shifts back is re-measured. A
    // restart clears the stats → staged-first, the safe default.
    val mode = spark.conf.getOption("spark.graft.mergeStaging")
      .getOrElse("auto")
    require(Seq("auto", "always", "direct").contains(mode),
      s"spark.graft.mergeStaging=$mode: expected auto|always|direct")
    val probeEvery = spark.conf
      .getOption("spark.graft.mergeStagingProbeEvery").map(_.toLong)
      .getOrElse(8L)
    val useDirect = mode match {
      case "direct" => true
      case "always" => false
      case _ =>
        // a fenced staged batch from a crashed earlier attempt must be
        // consumed by the staged arm (resuming it is strictly cheaper
        // than re-executing the plan twice, and dropping it would waste
        // the fence's exactly-once guarantee)
        !KeyedState.hasFencedBatchStage(spark, path, batchId) &&
          (probeEvery <= 0 || batchId % probeEvery != 0) &&
          Option(mergeArmStats.get(path)).exists(s => s.stagedBytes >= s.liveBytes)
    }
    if (useDirect) {
      // pruned discovery: only the bucket column survives the aggregate,
      // bounded by nBuckets rows
      val affected = withBucket.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (affected.isEmpty) return
      val existing = spark.read.parquet(path)
        .filter(col("__bucket").isin(affected: _*))
      val combined = merge(existing,
        withBucket.select(existing.columns.map(col): _*), keys, mergeCols)
      KeyedState.replacePartitionsAtomic(combined, path, "__bucket",
        nBuckets, batchId)
      return
    }
    val affected = KeyedState
      .stageMicroBatch(withBucket, path, "__bucket", nBuckets, Some(batchId))
    if (affected.isEmpty) return // empty batch: nothing staged, no-op
    // explicit schema skips the read's footer-inference job (see
    // upsertKeyedParquet)
    val batchRows = spark.read
      .schema(stagedSchema(withBucket))
      .parquet(KeyedState.batchStage(path, Some(batchId)).toString)
    val existing = spark.read.parquet(path)
      .filter(col("__bucket").isin(affected.map(_.toInt): _*))
    // __bucket is a pure function of the keys, so the merge keeps the
    // existing value for matches and the incoming one for inserts —
    // both correct by construction.
    val combined = merge(existing,
      batchRows.select(existing.columns.map(col): _*), keys, mergeCols)
    // refresh the arm-choice stats while both trees exist: staged-output
    // vs touched-live bytes, two bounded driver listings (≤ nBuckets +
    // |affected| dirs — O(touched partitions), the envelope's own order)
    mergeArmStats.put(path, MergeArmStats(
      KeyedState.dirBytes(spark, KeyedState.batchStage(path, Some(batchId)).toString),
      affected.map(v => KeyedState.dirBytes(spark, s"$path/__bucket=$v")).sum))
    // (replacePartitionsAtomic repartitions to one task per bucket — the
    // one-file-per-touched-bucket discipline upsertKeyedParquet documents)
    KeyedState.replacePartitionsAtomic(combined, path, "__bucket",
      nBuckets, batchId)
    KeyedState.dropBatchStage(spark, path, Some(batchId))
  }

  /** Last staged-arm measurement per merge-sink path: the batch output's
    * staged bytes vs the touched live buckets' bytes. In-JVM only — a
    * restart forgets and the sink re-measures from the staged-first
    * default. */
  private final case class MergeArmStats(stagedBytes: Long, liveBytes: Long)
  private val mergeArmStats =
    new java.util.concurrent.ConcurrentHashMap[String, MergeArmStats]()

  /** Read a [[upsertKeyedParquet]] sink back as a plain table (healing
    * any swap a crash interrupted first — one `exists` when clean). */
  def readKeyedParquet(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    KeyedState.repairPartitions(spark, path)
    spark.read.parquet(path).drop("__bucket")
  }

  /** [[readKeyedParquet]] for sinks that may legitimately be EMPTY: the
    * upsert/merge writers early-return on all-empty batches without ever
    * creating `path`, so a stream whose aggregate produced nothing (an
    * uncontaminated corpus, an all-filtered source) leaves no directory —
    * the common clean case, not an error. Missing path ⇒ an empty frame
    * with `schemaIfEmpty` (the caller's aggregate schema) instead of
    * PATH_NOT_FOUND. */
  def readKeyedParquet(spark: org.apache.spark.sql.SparkSession, path: String,
      schemaIfEmpty: org.apache.spark.sql.types.StructType): DataFrame = {
    // "has data" = a partition dir or a bare parquet file (KeyedState's
    // shared predicate): the _PARAMS stamp and _applied replay markers
    // create the dir before any batch writes, and a data-less dir fails
    // schema inference on read.
    KeyedState.repairPartitions(spark, path)
    if (!KeyedState.hasData(spark, path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaIfEmpty)
    else spark.read.parquet(path).drop("__bucket")
  }

  /** Replay guard for non-idempotent `foreachBatch` sinks: run `body` only
    * if micro-batch `batchId` has not already been applied, recording a
    * marker file under `markerDir` afterwards. `foreachBatch` documents
    * that a batch may be re-delivered after checkpoint recovery; replace-
    * by-key sinks ([[upsertKeyedParquet]]) tolerate that, but append sinks
    * and accumulate-merge sinks ([[mergeKeyedParquet]]) would double-apply
    * the batch (duplicate appended rows / elements concatenated into each
    * key's list twice). The marker is written after `body` completes, so a
    * crash MID-batch still replays — the guard closes the common recovery
    * case (batch fully applied, checkpoint commit lost). For the replay to
    * be exactly-once under a crash INSIDE `body`'s own write commit, pair
    * it with the staged batch writes
    * ([[KeyedState.appendPartitionedAtomic]]/[[KeyedState.appendFlatAtomic]]
    * for appends, [[KeyedState.replacePartitionsAtomic]] for keyed merges
    * — as every streaming sink in this library does): they absorb a torn
    * job commit AND recognize their own completed publication, so any
    * crash point replays to the same final state.
    */
  def applyBatchOnce(
      spark: org.apache.spark.sql.SparkSession,
      markerDir: String,
      batchId: Long)(body: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/batch_$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cadenced retention sweep: markers far enough below this batch can
    // never be consulted again (recovery replays reach back at most one
    // batch), but on a long-lived stream they'd accumulate one file per
    // batch forever — see [[KeyedState.pruneBatchMarkers]]
    KeyedState.maybePruneMarkers(spark, markerDir, batchId)
    if (!fs.exists(marker)) {
      body
      fs.mkdirs(marker)
    }
  }
}
