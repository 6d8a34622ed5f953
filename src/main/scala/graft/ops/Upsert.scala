package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
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
    * Duplicate keys *within* `newRows` keep one row ([[oneRowPerKey]]).
    */
  def discard(
      existing: DataFrame,
      newRows: DataFrame,
      keys: Seq[String],
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val dedupedNew = oneRowPerKey(newRows, keys, tieBreak)
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
    val dedupedNew = oneRowPerKey(newRows, keys, tieBreak)
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
    * keyed merge sink that is two touched-bucket scans per batch).
    * USING-join key coalescing keeps key columns single; unmatched
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
    val dedupedNew = oneRowPerKey(newRows, keys, tieBreak)
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

  /** The one row per key of `rows` that the three upsert modes keep: the
    * lowest by `tieBreak` when given; otherwise the lowest by every
    * non-key column whose type can be ordered, so the kept row is the
    * same whatever the input's partitioning or shuffle order (ordering by
    * the key alone ties every duplicate). */
  private def oneRowPerKey(rows: DataFrame, keys: Seq[String],
      tieBreak: Seq[String]): DataFrame = {
    val order =
      if (tieBreak.nonEmpty) tieBreak
      else keys ++ rows.schema
        .filter(f => !keys.contains(f.name) && RowOrdering.isOrderable(f.dataType))
        .map(_.name)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Replace-by-key into a bucket-partitioned parquet directory — the
    * keyed sink a `foreachBatch` streaming query in UPDATE output mode
    * writes through (plain parquet has no native merge). Each touched
    * bucket keeps its rows whose key the batch does not carry, plus every
    * batch row. Written by [[writeKeyedParquet]], the protocol it shares
    * with [[mergeKeyedParquet]]: per-call work is proportional to
    * touched-bucket size, not sink size, and a replay of `batchId` at any
    * crash point converges to the same sink. The sink directory belongs to
    * ONE streaming checkpoint: its `__pub/b<id>` witnesses name that
    * checkpoint's batch ids, so a second checkpoint writing the same
    * directory would have its batches skipped as already published.
    */
  def upsertKeyedParquet(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      nBuckets: Int,
      batchId: Long): Unit =
    writeKeyedParquet(updates, path, keys, nBuckets, batchId) {
      (existing, batch) =>
        existing
          .join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(batch)
    }

  /** MERGE-by-key into a bucket-partitioned parquet directory: like
    * [[upsertKeyedParquet]] but combining matched rows with the caller's
    * per-column merge functions ([[merge]] semantics) instead of
    * replacing them — the sink shape for streaming state that ACCUMULATES
    * per key (running lists, counters) rather than superseding.
    *
    * NOT idempotent at the SEMANTIC level: re-merging the same batch
    * accumulates its elements into each key's state a second time.
    * [[writeKeyedParquet]]'s fences make the replay of a `batchId` at ANY
    * crash point — including after the batch fully published — apply it
    * exactly once, so streaming callers need no fence of their own.
    */
  def mergeKeyedParquet(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      mergeCols: Map[String, (Column, Column) => Column],
      nBuckets: Int,
      batchId: Long): Unit =
    writeKeyedParquet(updates, path, keys, nBuckets, batchId) {
      (existing, batch) => merge(existing, batch, keys, mergeCols)
    }

  /** The one write protocol of the keyed parquet sinks. The sink is
    * partitioned by `pmod(xxhash64(keys), nBuckets)`; `combine(existing,
    * batch)` computes the new contents of the buckets the batch touches
    * from their live rows and the batch's rows (both with `__bucket`, in
    * the sink's column order).
    *
    *   - A FRESH sink combines against nothing: the batch is the new
    *     content, written by [[KeyedState.replacePartitionsAtomic]], whose
    *     no-data-files check is the emptiness guard. The batch plan runs
    *     once, inside the staged write. Never a direct append: a torn
    *     first write replayed into the warm path would combine the batch
    *     with its own partial rows.
    *   - A WARM sink stages the batch's OUTPUT first, under its own fence
    *     — the ONLY execution of the batch plan — and reads the touched
    *     buckets off the staged partition dirs (no extra Spark action).
    *     The combine then reads two parquet sources (staged batch +
    *     touched live buckets), so the fenced swap write never re-runs
    *     the batch plan.
    *
    * Every write goes through [[KeyedState.replacePartitionsAtomic]]
    * (`batchId` names the staged dirs), so a crash at ANY point —
    * including inside a staged write's job commit or mid-swap — replays
    * to exactly-once: a fenced batch staging is reused, a fenced combine
    * resumes its swap without running any plan, and the `__pub` witness
    * marks the batch done. Inside a streaming micro-batch those replay
    * paths still run the batch frame once into Spark's no-op sink
    * ([[KeyedState.drainInMicroBatch]]), which a stateful upstream needs
    * to commit its state stores.
    */
  private def writeKeyedParquet(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      nBuckets: Int,
      batchId: Long)(combine: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = updates.sparkSession
    // heal any interrupted swap before anything lists or reads the sink
    KeyedState.repairPartitions(spark, path)
    // the shared keyed-state bucket hash — Upsert-written sinks and
    // KeyedState-probed state must bucket bit-identically
    val withBucket = updates
      .withColumn("__bucket", KeyedState.bucketColumn(keys, nBuckets))
    if (KeyedState.isPublished(spark, path, batchId) ||
        KeyedState.isReplaceFenced(spark, path, batchId)) {
      // a previous attempt fenced or published this batch's combined
      // write: the atomic replace resumes the swap (or, once published,
      // only drops leftovers) without recomputing the combine —
      // withBucket stays lazy, that branch only moves files — then the
      // batch staging this attempt no longer needs is dropped
      KeyedState.replacePartitionsAtomic(withBucket, path, "__bucket",
        nBuckets, batchId)
      KeyedState.dropBatchStage(spark, path, batchId)
      KeyedState.drainInMicroBatch(updates)
      return
    }
    if (!KeyedState.hasData(spark, path)) {
      KeyedState.replacePartitionsAtomic(withBucket, path, "__bucket",
        nBuckets, batchId)
      return
    }
    val affected = KeyedState
      .stageMicroBatch(withBucket, path, "__bucket", nBuckets, batchId)
    if (affected.isEmpty) return // empty batch: nothing staged, no-op
    // explicit schema: the staged layout is exactly the batch's schema
    // (Spark appends the partition column last on read) — passing it
    // skips the read's footer-inference job, one fewer job per batch
    val batchRows = spark.read
      .schema(stagedSchema(withBucket))
      .parquet(KeyedState.batchStage(path, batchId).toString)
    val existing = spark.read.parquet(path)
      .filter(col("__bucket").isin(affected.map(_.toInt): _*))
    // __bucket is a pure function of the keys, so every combine keeps it
    // correct by construction. replacePartitionsAtomic repartitions to one
    // task per bucket: one file per touched bucket, where the batch's own
    // partitioning would leave up to tasks × buckets fragments that every
    // later read-back pays to list.
    KeyedState.replacePartitionsAtomic(
      combine(existing, batchRows.select(existing.columns.map(col): _*)),
      path, "__bucket", nBuckets, batchId)
    KeyedState.dropBatchStage(spark, path, batchId)
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
    // shared predicate): the _PARAMS stamp creates the dir before any
    // batch writes, and a data-less dir fails schema inference on read.
    KeyedState.repairPartitions(spark, path)
    if (!KeyedState.hasData(spark, path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaIfEmpty)
    else spark.read.parquet(path).drop("__bucket")
  }
}
