package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.scalatest.funsuite.AnyFunSuite

/** `Checkpoints.pin`: a lazy columnar-cache leaf outside the session's
  * cache manager — persist's statistics, a plan leaf, and freed by the
  * context cleaner once the frame is unreachable.
  */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pin-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def frame: DataFrame =
    spark.range(0, 5000, 1, 4).selectExpr("id", "cast(id % 97 as string) AS s")

  /** Poll GC until `done`, or fail after `seconds`. */
  private def gcUntil(seconds: Int)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!done && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(done, s"not freed within $seconds s of GC polling")
  }

  test("a pin is a plan leaf") {
    val pinned = Checkpoints.pin(frame.filter("id % 2 = 0"))
    assert(pinned.queryExecution.analyzed.isInstanceOf[LeafNode])
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LeafNode])
    assert(pinned.count() === 2500)
  }

  test("a materialized pin carries the same statistics as persist") {
    spark.catalog.clearCache()
    val pinned = Checkpoints.pin(frame)
    assert(pinned.count() === 5000)
    val persisted = frame.persist()
    assert(persisted.count() === 5000)
    val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(persisted.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .get.cachedRepresentation.stats
    val stats = pinned.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes === cached.sizeInBytes)
    assert(stats.rowCount === cached.rowCount)
    assert(stats.rowCount === Some(BigInt(5000)))
    persisted.unpersist(blocking = true)
  }

  test("a pin is not registered in the cache manager") {
    spark.catalog.clearCache()
    val pinned = Checkpoints.pin(frame)
    pinned.count()
    assert(cacheManagerEmpty)
  }

  /** Materializes one pin and returns only its RDD ids, so no reference to
    * the frame outlives the call. */
  private def materializeOnePin(): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = Checkpoints.pin(frame)
    assert(pinned.count() === 5000)
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  test("a dropped pin leaves getPersistentRDDs after GC") {
    val mine = materializeOnePin()
    assert(mine.size === 1)
    gcUntil(60)(spark.sparkContext.getPersistentRDDs.keySet.intersect(mine).isEmpty)
  }

  test("release drops a pin's blocks now and the pin recomputes on reuse") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = Checkpoints.pin(frame)
    val expected = pinned.orderBy("id").collect().toSeq
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    Checkpoints.release(pinned)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(pinned.orderBy("id").collect().toSeq === expected)
  }

  test("streaming minhash releases every per-batch pin (5 micro-batches)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val base = graft.TestScratch.dir("graft-mh-pins")
    (1L to 40L).map { i =>
      (i, s"shared opening words for every document then topic ${i % 8} tail $i")
    }.toDF("doc_id", "text")
      .repartition(5).write.parquet(s"$base/documents.parquet")
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val baseline = sc.getPersistentRDDs.size
    val pairs = Dedup.streamingMinHashNearDuplicates(spark,
        s"$base/documents.parquet", "*.parquet", "doc_id", "text",
        stateDir = s"$base/state", checkpointDir = s"$base/ckpt",
        threshold = 0.7, maxFilesPerTrigger = 1)
      .count()
    assert(pairs > 0)
    val batches = new java.io.File(s"$base/ckpt/commits").listFiles()
      .count(_.getName.forall(_.isDigit))
    assert(batches === 5)
    assert(cacheManagerEmpty, "a micro-batch left a cache-manager entry")
    gcUntil(60)(sc.getPersistentRDDs.size <= baseline)
  }
}
