package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The one way a streaming twin reads its input and drains its query.
  *
  *   - [[files]] is the file source: parquet files matching a glob inside
  *     a watched directory, optionally bounded per micro-batch.
  *   - [[toMemory]] drains into a memory sink and returns the rows: the
  *     oracle/harness form (q25, q46, q61, the EventsStream smokes).
  *   - [[foreachBatch]] drains through a durable per-batch function: the
  *     keyed parquet sinks of `graft.ops` (q81, q82, q88 and the update
  *     twins), whose checkpoint is their crash-recovery story.
  *
  * Both drains start the query, process everything available, and stop
  * it inside one scope of the state/shuffle width ([[withStatePartitions]]),
  * so only the drained query keeps the scoped width.
  */
object Drain {

  /** The `SPARK_GRAFT_STATE_PARTITIONS` dial, the determinism sweeps'
    * axis: when set it overrides every drain's width. Lazy and trimmed,
    * so a malformed value fails only the drains that consume it. */
  private lazy val stateEnv: Option[Int] =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.trim.toInt)

  /** State-partition count for the single-node streaming smokes. A
    * streaming query pins its state-store count from
    * `spark.sql.shuffle.partitions` at FIRST start, and every
    * HDFSBackedStateStore pays a fixed commit/maintenance cost PER
    * MICRO-BATCH regardless of how few rows it holds (PLANS.md, round-9
    * q140/q88 adjudication: 32 stores on 14k state rows cost ~7–9 s of
    * summed commit time vs ~0.6 s across 8; wall 3.3 → 1.5 s);
    * foreachBatch sinks additionally shuffle every internal join on the
    * session count. Smokes size stores to their state volume (8), the
    * same rule a cluster deployment applies upward (state rows ÷ target
    * rows-per-store) — not a test-only shortcut.
    */
  lazy val smokeStatePartitions: Int = stateEnv.getOrElse(8)

  /** The one file source: `dir` watched for parquet files matching `glob`
    * (the streaming file source requires a directory), read with the
    * caller's probed `schema`. `maxFilesPerTrigger` > 0 bounds each
    * micro-batch, so a split input drains as several batches.
    */
  def files(spark: SparkSession, dir: String, glob: String,
      schema: StructType, maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val bounded = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader
    bounded.parquet(dir)
  }

  /** Drain `stream` into a memory sink and return its rows. The sink's
    * temp view has a per-call UUID name and is dropped before returning,
    * failed drains included, so no view and no buffered rows outlive the
    * returned frame. The frame is resolved from the view first: its
    * analyzed plan holds the sink itself, which plans as a local scan of
    * the buffered rows, so returning starts no job and makes no hold.
    *
    * The WAL is RAM-backed ([[ephemeralCheckpointDir]]): a memory sink is
    * non-durable by construction, so its offset/commit log gains nothing
    * from disk durability. `statePartitions` <= 0 keeps the session width.
    */
  def toMemory(spark: SparkSession, stream: DataFrame, prefix: String,
      outputMode: String, statePartitions: Int): DataFrame = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      run(spark, stream.writeStream.outputMode(outputMode).format("memory")
        .queryName(name), ephemeralCheckpointDir(s"graft-$prefix-ckpt"),
        statePartitions)
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Drain `stream` through `fn`, called once per micro-batch with the
    * batch and its id, checkpointed at the caller's durable
    * `checkpointDir` (a restart from it replays the uncommitted batch, so
    * `fn` must be replay-safe). `statePartitions` > 0 scopes the state
    * stores and every shuffle inside `fn` to that width; <= 0 keeps the
    * session width, the cluster-safe default.
    */
  def foreachBatch(stream: DataFrame, checkpointDir: String,
      statePartitions: Int, outputMode: String = "append")(
      fn: (DataFrame, Long) => Unit): Unit =
    run(stream.sparkSession,
      stream.writeStream.outputMode(outputMode).foreachBatch(fn),
      checkpointDir, statePartitions)

  private def run(spark: SparkSession, writer: DataStreamWriter[Row],
      checkpointDir: String, statePartitions: Int): Unit =
    withStatePartitions(spark, statePartitions) {
      val q = writer.option("checkpointLocation", checkpointDir).start()
      try q.processAllAvailable()
      finally q.stop()
    }

  /** Run `body` (which starts AND drains a streaming query) with
    * `spark.sql.shuffle.partitions` scoped to `requested` (> 0; callers
    * size it to their state volume, rows ÷ target rows-per-store) or to
    * the session width (<= 0), the env dial overriding both; the session
    * value is restored after. Only the streaming query keeps the scoped
    * count (pinned at start); batch plans built later are unaffected.
    * Safe because the query completes inside the scope (single-threaded
    * session use).
    */
  private def withStatePartitions[A](spark: SparkSession, requested: Int)(
      body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val resolved = stateEnv.getOrElse(if (requested > 0) requested else prev.toInt)
    spark.conf.set("spark.sql.shuffle.partitions", resolved.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val ephemeralDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      ephemeralDirs.forEach { f =>
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case _: Throwable => () }
      }
    }))
  }

  /** Scratch checkpoint dir for MEMORY-SINK drains, RAM-backed
    * (`/dev/shm`) when available, else `java.io.tmpdir`. Rationale (the
    * same durability-class matching [[graft.ops.Checkpoints.truncate]]
    * applies to lineage): a memory sink's buffered rows die with the
    * session, so its query's offset/commit WAL gains nothing from disk
    * durability, yet the per-batch WAL writes were 17% of the measured
    * micro-batch setup floor (OPTIMIZATION_r17.md §6: full 0.522 s min vs
    * 0.444 s with a RAM checkpoint). Durable drains ([[foreachBatch]])
    * keep their caller-provided checkpoint dirs — their WAL IS the
    * crash-recovery story (CrashRecoverySpec). Dirs are deleted on JVM
    * exit.
    */
  def ephemeralCheckpointDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    // SPARK_GRAFT_EPHEMERAL_CKPT=disk pins the WAL to java.io.tmpdir —
    // the A/B + determinism-sweep axis for this choice.
    val useShm = !sys.env.get("SPARK_GRAFT_EPHEMERAL_CKPT").contains("disk")
    val base =
      if (useShm && shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val p = java.nio.file.Files.createTempDirectory(base, prefix)
    ephemeralDirs.add(p.toFile)
    p.toString
  }
}
