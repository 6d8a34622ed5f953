package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, TestScratch}

/** `Skew.spreadIfUnderSplit` decides from the physical plan: an under-split
  * scan, also behind a broadcast join or a pin, gets one
  * `repartition(defaultParallelism, keys)` exchange; anything already placed
  * (a well-split scan, a shuffle, a pin of a shuffle) passes through; and
  * building a plan that spreads runs no Spark job.
  */
class SpreadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-spread-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def p: Int = spark.sparkContext.defaultParallelism

  /** 40 documents with an embedding, written as `files` parquet files. */
  private def parquetDocs(files: Int): DataFrame = {
    val dir = TestScratch.dir("graft-spread-") + "/docs"
    (1 to 40).map { i =>
      (i.toLong, s"doc $i says the same words again and again " * 3,
        Seq(i.toFloat, (i % 7).toFloat, 1f))
    }.toDF("doc_id", "text", "vec").repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val oneSplit = parquetDocs(1)
  // Fresh frames per use: a frame that has been executed once keeps its
  // finished adaptive plan, which would hide a check that runs it.
  private def aggregated = oneSplit.groupBy("doc_id")
    .agg(first("text").as("text"), first("vec").as("vec"))
  private def pinned = Checkpoints.pin(aggregated)

  /** The shuffle exchanges `df`'s own plan adds, as (key names, partitions). */
  private def exchanges(df: DataFrame): Seq[(Seq[String], Int)] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case HashPartitioning(keys, n) => (keys.collect { case a: Attribute => a.name }, n)
        case other => (Nil, other.numPartitions)
      }
    }

  test("an under-split scan, driver-resident frame, pin or broadcast join gets one keyed exchange") {
    assert(oneSplit.inputFiles.length == 1)
    val local = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(local.queryExecution.executedPlan.execute().getNumPartitions < p)
    // the streamed side of a broadcast join keeps its scan's splits, and so
    // does a pin whose own plan has no shuffle
    val joined = oneSplit.join(broadcast(local.select(col("doc_id"), col("text").as("t"))),
      "doc_id")
    for (in <- Seq(oneSplit, local, joined, Checkpoints.pin(joined))) {
      assert(exchanges(in).isEmpty)
      assert(exchanges(Skew.spreadIfUnderSplit(in, col("doc_id"))) == Seq((Seq("doc_id"), p)))
    }
  }

  test("a well-split scan, an aggregated input and a pinned input pass through") {
    val wellSplit = parquetDocs(p)
    assert(wellSplit.inputFiles.length == p)
    for (in <- Seq(wellSplit, spark.range(0, 100, 1, p).toDF("doc_id"), aggregated, pinned))
      assert(Skew.spreadIfUnderSplit(in, col("doc_id")) eq in, in.queryExecution.executedPlan)
    // the decision reads a copy of the scan: the node that executes has not
    // yet listed its files, so it reports them to the query that runs it
    val scan = wellSplit.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.map(_.metrics("numFiles").value) == Some(0L))
  }

  test("building a spread site or resolving foreign keys runs no Spark job") {
    // topKJoin's query-side size guard is an eager count by design, not a
    // spread, so it is switched off here. bm25TopK and q77's builder run
    // their own eager collects (corpus statistics, the mixture gate); the
    // spread they call is the bare `spreadIfUnderSplit` row.
    spark.conf.set("spark.graft.maxBroadcastQueries", "0")
    try {
      val qvecs = Seq((1L, Seq(1f, 0f, 0f))).toDF("qid", "qvec")
      val bench = Seq("the same words again and again").toDF("text")
      val sites: Seq[(String, DataFrame => Any)] = Seq(
        "spreadIfUnderSplit" -> (d => Skew.spreadIfUnderSplit(d, col("doc_id"))),
        "repeatedSpanDedup" -> (d => Dedup.repeatedSpanDedup(d, "doc_id", "text", 12, 4)),
        "excisePassages" -> (d =>
          Curation.excisePassages(d, "doc_id", "text", bench, "text", 12, 4)),
        "topKJoin (withNorm)" -> (d =>
          Similarity.topKJoin(d, "doc_id", "vec", qvecs, "qid", "qvec", 3)),
        "resolveForeignKeys" -> (d => Ingest.resolveForeignKeys(
          d.select(col("text")), d.select("doc_id", "text"), Seq("text"), "text_id")))
      val inputs = Seq[(String, () => DataFrame)](
        "scan" -> (() => oneSplit), "aggregated" -> (() => aggregated), "pinned" -> (() => pinned),
        "pinned scan" -> (() => Checkpoints.pin(oneSplit)))
      val ran = for ((site, build) <- sites; (kind, input) <- inputs) yield {
        val in = input()
        s"$site($kind)" -> JobCount.during(spark)(build(in)).size
      }
      assert(ran.filter(_._2 > 0) == Nil)
    } finally spark.conf.unset("spark.graft.maxBroadcastQueries")
  }
}
