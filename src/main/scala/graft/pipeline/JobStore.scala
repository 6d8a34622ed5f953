package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Job-scoped stage-table storage.
  *
  * The reference materializes every stage into MySQL tables keyed by
  * `job_id`, and re-running a job deletes its prior rows first
  * (`Pipeline.groovy:554-576` — idempotent overwrite-by-job). The
  * Spark-native equivalent: stage tables are parquet datasets partitioned by
  * `job_id`, written with dynamic partition overwrite — re-running job N
  * replaces exactly partition `job_id=N` and leaves other jobs untouched.
  *
  * Partitioning by job_id also gives partition pruning on every job-scoped
  * read (the reference threads `job_id = :job_id` into every stage query;
  * here the scan skips other jobs' files entirely).
  */
final class JobStore(root: String) {

  private def path(table: String): String = s"$root/$table"

  /** Write (or re-write) one job's rows of a stage table. Dynamic overwrite
    * is this write's own option, so the session's other partitioned
    * overwrites keep their mode.
    */
  def writeJob(df: DataFrame, table: String, jobId: Long): Unit = {
    val withJob =
      if (df.columns.contains("job_id")) df
      else df.withColumn("job_id", lit(jobId))
    withJob
      .filter(col("job_id") === jobId)
      .write
      .partitionBy("job_id")
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path(table))
  }

  /** Append one job's rows into an existing stage table WITHOUT replacing
    * the job's prior rows — the reference's `selectAs('existing')` mode
    * (`Sql.groovy:437,443-445`: `INSERT INTO existing (cols) SELECT ...`).
    * Key-duplicate policy stays the caller's concern, exactly as in the
    * reference (compose with [[graft.ops.Upsert]] before writing when
    * `onDuplicateKey` semantics are wanted).
    */
  def appendJob(df: DataFrame, table: String, jobId: Long): Unit = {
    val withJob =
      if (df.columns.contains("job_id")) df
      else df.withColumn("job_id", lit(jobId))
    withJob
      .filter(col("job_id") === jobId)
      .write
      .partitionBy("job_id")
      .mode(SaveMode.Append)
      .parquet(path(table))
  }

  /** Read a stage table; `jobId` prunes to one partition. The partition
    * column comes back as long regardless of partition-value inference.
    */
  def read(spark: SparkSession, table: String, jobId: Option[Long] = None): DataFrame = {
    val df = spark.read.parquet(path(table))
      .withColumn("job_id", col("job_id").cast("long"))
    jobId.map(id => df.filter(col("job_id") === id)).getOrElse(df)
  }

  private def bucketedName(table: String, jobId: Long): String =
    s"graft_${table}_job_$jobId".toLowerCase

  /** Write one job's rows as a BUCKETED stage table (catalog-backed parquet,
    * hash-bucketed and sorted by `bucketCols`). Every downstream stage that
    * groups or joins on the bucket columns then reads pre-partitioned data —
    * the per-stage (job, patient, gene) Exchange disappears because the scan
    * reports `HashPartitioning(bucketCols, numBuckets)`.
    *
    * One catalog table per (stage table, job) keeps the reference's
    * idempotent overwrite-by-job (`Pipeline.groovy:554-576`): re-running job
    * N overwrites exactly its own table. Spark cannot dynamically overwrite
    * a single partition of a bucketed table, so job-per-table is the
    * Spark-native equivalent of the reference's `DELETE ... WHERE job_id`.
    */
  def writeJobBucketed(
      df: DataFrame,
      table: String,
      jobId: Long,
      bucketCols: Seq[String] = Seq("patient_id"),
      numBuckets: Int = 32): Unit = {
    val withJob =
      if (df.columns.contains("job_id")) df
      else df.withColumn("job_id", lit(jobId))
    withJob
      .filter(col("job_id") === jobId)
      .write
      .format("parquet")
      .option("path", s"${path(table)}__bucketed/job_$jobId")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(SaveMode.Overwrite)
      .saveAsTable(bucketedName(table, jobId))
  }

  /** Read one job's bucketed stage table (see [[writeJobBucketed]]). */
  def readBucketed(spark: SparkSession, table: String, jobId: Long): DataFrame =
    spark.table(bucketedName(table, jobId))

  /** Persist every stage frame of a finished job. */
  def writeAll(stages: Map[String, DataFrame], jobId: Long): Unit =
    stages.foreach { case (alias, df) =>
      Schemas.defaultTables.get(alias).foreach(table => writeJob(df, table, jobId))
    }
}
