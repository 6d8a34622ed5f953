package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One drain: a memory-sink twin returns its rows with no query left
  * running and no view left behind, and the rows still equal its batch
  * form after the view is gone.
  */
class DrainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-drain-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** A session of its own: views the other suites made must not hide one
    * a drain leaves behind. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.2f" // sums accumulate in engine-dependent order
      case v => String.valueOf(v)
    }.mkString("|")).toSet

  /** Run `drain` in `s`, check it left no running query and no view, and
    * return its frame. */
  private def drained(s: SparkSession)(drain: => DataFrame): DataFrame = {
    val before = s.catalog.listTables().collect().map(_.name).toSet
    val df = drain
    assert(s.streams.active.isEmpty)
    val left = s.catalog.listTables().collect().map(_.name).toSet -- before
    assert(left.isEmpty, s"views left behind: $left")
    df
  }

  test("Dedup.streamingExactGroups leaves nothing running and no view behind") {
    val s = fresh()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val groups = drained(s)(graft.ops.Dedup.streamingExactGroups(s, dir,
      "documents.parquet", "doc_id", "text"))
    assert(rows(groups) == rows(graft.ops.Dedup.exactGroups(docs, "doc_id", "text")))
  }

  test("Curation.streamingContaminationBlocklist leaves nothing running and no view behind") {
    val s = fresh()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter(col("doc_id") < 10)
    val blocklist = drained(s)(graft.ops.Curation.streamingContaminationBlocklist(
      s, dir, "documents.parquet", "doc_id", "text", bench, "text", n = 6,
      streamFilter = col("doc_id") >= 10))
    val contaminated = graft.ops.Curation.contaminationReport(
        docs.filter(col("doc_id") >= 10), "doc_id", "text", bench, "text", n = 6)
      .filter(col("contaminated"))
      .collect().map(r => s"${r.getLong(0)}|${r.getLong(2)}").toSet
    assert(rows(blocklist) == contaminated)
    assert(contaminated.nonEmpty)
  }

  test("EventsStream.runStreamingSmoke leaves nothing running and no view behind") {
    val s = fresh()
    val windowed = drained(s)(EventsStream.runStreamingSmoke(s, dir))
    val batch = EventsStream.windowedCounts(
      EventsStream.readEvents(s, s"$dir/events.parquet"))
    assert(rows(windowed) == rows(batch))
    assert(rows(batch).nonEmpty)
  }

  test("Drain.toMemory returns its rows without starting a job") {
    val s = fresh()
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    def events = Drain.files(s, dir, "events.parquet", schema = Some(schema))
    // The same micro-batches collected by hand: the jobs the drain runs
    // before it returns.
    val batches = graft.JobCount.during(s) {
      Drain.foreachBatch(events, graft.TestScratch.dir("graft-drain-ckpt"), 0) {
        (batch, _) => batch.collect()
      }
    }
    var out: DataFrame = null
    val jobs = graft.JobCount.during(s) {
      out = Drain.toMemory(s, events, "drain_spec", "append", 0)
    }
    assert(batches.nonEmpty)
    assert(jobs == batches)
    assert(out.count() == s.read.parquet(path).count())
  }
}
