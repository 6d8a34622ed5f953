package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Keyed parquet sink discipline: replace/merge semantics across batches
  * AND the file layout the sink leaves behind. The layout assertion is the
  * point — a streaming sink is read back every batch, so a write that
  * fragments (one file per task per bucket) makes every later batch pay
  * the listing; both sink writers must leave exactly one data file per
  * touched bucket regardless of the batch's incoming partitioning.
  */
class UpsertSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-upsert-sink-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tempDir(): Path = {
    val d = graft.TestScratch.path("graft-upsert-sink-spec")
    d.toFile.deleteOnExit()
    d
  }

  /** parquet data files per __bucket=N partition dir. */
  private def filesPerBucket(path: String): Map[String, Int] = {
    val root = Paths.get(path)
    val buckets = Files.list(root).iterator()
    val out = scala.collection.mutable.Map[String, Int]()
    while (buckets.hasNext) {
      val b = buckets.next()
      val name = b.getFileName.toString
      if (name.startsWith("__bucket=")) {
        val n = Files.list(b).iterator()
        var c = 0
        while (n.hasNext) { if (n.next().getFileName.toString.endsWith(".parquet")) c += 1 }
        out(name) = c
      }
    }
    out.toMap
  }

  test("upsertKeyedParquet: replace-by-key across batches, one file per bucket") {
    val dir = tempDir().resolve("sink").toString
    val nBuckets = 8
    // Batch 1: 500 keys spread over many input partitions — the
    // fragmentation trigger (tasks x buckets files without the repartition).
    val b1 = spark.range(500).repartition(16)
      .select(col("id").as("k"), lit("v1").as("v"))
    Upsert.upsertKeyedParquet(b1, dir, Seq("k"), nBuckets, batchId = 0L)
    val f1 = filesPerBucket(dir)
    assert(f1.nonEmpty && f1.values.forall(_ == 1),
      s"expected exactly 1 file per bucket after batch 1, got $f1")

    // Batch 2: updates half the keys, inserts 100 new ones.
    val b2 = spark.range(250).select(col("id").as("k"), lit("v2").as("v"))
      .union(spark.range(500, 600).select(col("id").as("k"), lit("v2").as("v")))
      .repartition(16)
    Upsert.upsertKeyedParquet(b2, dir, Seq("k"), nBuckets, batchId = 1L)
    val f2 = filesPerBucket(dir)
    assert(f2.values.forall(_ == 1),
      s"expected exactly 1 file per bucket after batch 2, got $f2")

    val got = Upsert.readKeyedParquet(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 600)
    assert(got(0L) == "v2" && got(249L) == "v2", "updated keys take the new value")
    assert(got(250L) == "v1" && got(499L) == "v1", "untouched keys keep the old value")
    assert(got(599L) == "v2", "inserted keys present")
  }

  test("fresh-sink write preserves the _PARAMS layout stamp (and markers) " +
      "in the sink root") {
    // Regression: the fresh-sink fast path briefly wrote mode("overwrite")
    // to the sink ROOT, which deletes everything already in it — including
    // the caller's `_PARAMS` layout stamp, so a later run with a drifted
    // bucket count would silently re-stamp instead of failing loud.
    val dir = tempDir().resolve("stamped").toString
    KeyedState.stampParams(spark, dir, Map("nBuckets" -> 8))
    val b1 = spark.range(100).select(col("id").as("k"), lit("v").as("v"))
    Upsert.upsertKeyedParquet(b1, dir, Seq("k"), nBuckets = 8, batchId = 0L)
    assert(Files.exists(Paths.get(dir, "_PARAMS")),
      "_PARAMS must survive the first (fresh-sink) batch write")
    // the drift protection must still hold after data landed
    val ex = intercept[IllegalArgumentException] {
      KeyedState.stampParams(spark, dir, Map("nBuckets" -> 16))
    }
    assert(ex.getMessage.contains("nBuckets"))
    // same params re-stamp fine
    KeyedState.stampParams(spark, dir, Map("nBuckets" -> 8))
  }

  test("fresh-sink replay with a stale _temporary attempt does not publish " +
      "the crashed write's partial task outputs") {
    // A first write that crashes INSIDE its job commit can leave committed
    // task dirs under `path/_temporary/0` with no partition dir published:
    // hasData stays false, the replay takes the fresh path again, and
    // FileOutputCommitter's commitJob merges ALL committed task dirs under
    // the shared `_temporary/0` — publishing the crashed attempt's partial
    // rows next to the replayed batch's. The fresh write must never commit
    // the stale attempt dir (it stages into a sibling and swaps the
    // buckets in).
    val base = tempDir()
    val dir = base.resolve("sink").toString
    // forge the crashed attempt: a real parquet file holding a CONFLICTING
    // value for key 0, placed where a committed task of the torn first
    // write would have left it
    val forge = base.resolve("forge").toString
    Seq((0L, "stale")).toDF("k", "v")
      .coalesce(1).write.parquet(forge)
    val partFile = Files.list(Paths.get(forge)).iterator()
    var staleSrc: Path = null
    while (partFile.hasNext) {
      val p = partFile.next()
      if (p.getFileName.toString.endsWith(".parquet")) staleSrc = p
    }
    val taskDir = Paths.get(dir, "_temporary", "0", "task_fake_m_000000", "__bucket=3")
    Files.createDirectories(taskDir)
    Files.copy(staleSrc, taskDir.resolve(staleSrc.getFileName))

    val batch = spark.range(100).select(col("id").as("k"), lit("live").as("v"))
    Upsert.upsertKeyedParquet(batch, dir, Seq("k"), nBuckets = 8, batchId = 0L)
    val got = Upsert.readKeyedParquet(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 100, s"expected 100 rows, got ${got.length} — " +
      "the stale attempt's partial output leaked into the sink")
    assert(got.toMap.apply(0L) == "live")
  }

  test("warm-sink upsert executes the batch plan exactly once per batch") {
    val dir = tempDir().resolve("once").toString
    // warm the sink
    val b0 = spark.range(50).select(col("id").as("k"), lit(0L).as("v"))
    Upsert.upsertKeyedParquet(b0, dir, Seq("k"), nBuckets = 8, batchId = 0L)
    // batch whose plan counts its own row evaluations; nondeterministic so
    // Catalyst neither collapses nor re-derives it across plan fragments
    val execs = spark.sparkContext.longAccumulator("upsert-plan-execs")
    val counted = udf { (k: Long) => execs.add(1L); k }.asNondeterministic()
    val b1 = spark.range(30)
      .select(counted(col("id")).as("k"), lit(1L).as("v"))
    Upsert.upsertKeyedParquet(b1, dir, Seq("k"), nBuckets = 8, batchId = 1L)
    assert(execs.value == 30L,
      s"batch plan row evaluations: expected 30 (one execution), got " +
        s"${execs.value} — the warm path re-executed the micro-batch plan")
    val got = Upsert.readKeyedParquet(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 50 && got(0L) == 1L && got(29L) == 1L && got(30L) == 0L)
  }

  test("a warm upsert batch reads its touched buckets without a schema-" +
      "inference job") {
    val dir = tempDir().resolve("no-infer").toString
    val b0 = spark.range(200).select(col("id").as("k"), lit("v0").as("v"))
    Upsert.upsertKeyedParquet(b0, dir, Seq("k"), nBuckets = 8, batchId = 0L)
    val b1 = spark.range(10).select(col("id").as("k"), lit("v1").as("v"))
    val jobs = graft.JobCount.during(spark) {
      Upsert.upsertKeyedParquet(b1, dir, Seq("k"), nBuckets = 8, batchId = 1L)
    }
    // Both writes of a warm batch shuffle first, so adaptive execution
    // names their jobs after its query stages; a job named `parquet at`
    // the call site is a read's footer inference.
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.startsWith("parquet at")), jobs.mkString("\n"))
    val got = Upsert.readKeyedParquet(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 200 && got(9L) == "v1" && got(10L) == "v0")
  }

  test("warm-sink merge (staged arm) executes the batch plan exactly " +
      "once per batch") {
    val dir = tempDir().resolve("merge-once").toString
    val mergeCols = Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      "n" -> ((old, nw) => old + nw))
    val b0 = Seq(("a", 1L), ("b", 2L)).toDF("k", "n")
    Upsert.mergeKeyedParquet(b0, dir, Seq("k"), mergeCols, nBuckets = 4, batchId = 0L)
    val execs = spark.sparkContext.longAccumulator("merge-plan-execs")
    val counted = udf { (k: String) => execs.add(1L); k }.asNondeterministic()
    val b1 = Seq(("a", 10L), ("c", 5L)).toDF("k0", "n")
      .select(counted(col("k0")).as("k"), col("n"))
    Upsert.mergeKeyedParquet(b1, dir, Seq("k"), mergeCols, nBuckets = 4, batchId = 1L)
    assert(execs.value == 2L,
      s"batch plan row evaluations: expected 2 (one execution), got " +
        s"${execs.value} — the warm merge path re-executed the micro-batch plan")
    val got = Upsert.readKeyedParquet(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 11L, "b" -> 2L, "c" -> 5L))
    // the staged batch sibling is cleaned up after publication
    assert(!Files.exists(Paths.get(dir + "__batch_b1")))
  }

  test("mergeKeyedParquet: accumulate semantics, one file per bucket") {
    val dir = tempDir().resolve("merge").toString
    val nBuckets = 4
    val mergeCols = Map[String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
      "n" -> ((old, nw) => old + nw))
    val b1 = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "n").repartition(6)
    Upsert.mergeKeyedParquet(b1, dir, Seq("k"), mergeCols, nBuckets, batchId = 0L)
    val b2 = Seq(("a", 10L), ("d", 4L)).toDF("k", "n").repartition(6)
    Upsert.mergeKeyedParquet(b2, dir, Seq("k"), mergeCols, nBuckets, batchId = 1L)
    assert(filesPerBucket(dir).values.forall(_ == 1))
    val got = Upsert.readKeyedParquet(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 11L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
  }
}
