package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extension tests: the same windowed aggregation must agree
  * between batch and Structured Streaming execution, and stateful
  * sessionization must agree with its batch window formulation.
  */
class EventsStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case null => ""
      case d: Double => f"$d%.2f" // sums accumulate in engine-dependent order
      case v => v.toString
    }.mkString("|")).toSet

  test("readEventsStream starts on an empty directory (files arrive later)") {
    val empty = graft.TestScratch.path("graft-empty-events")
    try {
      val stream = EventsStream.readEventsStream(spark, empty.toString)
      assert(stream.isStreaming)
      assert(stream.schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
    } finally java.nio.file.Files.deleteIfExists(empty)
  }

  test("reading a micros-encoded events file leaves the session's nanosAsLong conf alone") {
    // A fresh session: the other tests' reads must not decide the value.
    val session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "UTC")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = session.conf.getOption(key)
    val base = graft.TestScratch.dir("graft-events-micros")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")
    session.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1L, ts, 7L, "click", 1.5, null)),
        EventsStream.eventSchema)
      .write.parquet(s"$base/events.parquet")
    val read = EventsStream.readEvents(session, s"$base/events.parquet")
    assert(session.conf.getOption(key) == before)
    val streamed = EventsStream.readEventsStream(session,
      s"$base/events.parquet", "*.parquet")
    assert(session.conf.getOption(key) == before)
    // the restored conf still reads the file: micros need no legacy decode
    assert(read.select("event_id", "ts").collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, ts)))
    assert(streamed.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("windowed counts: streaming memory-sink result equals batch result") {
    val batch = EventsStream.windowedCounts(
      EventsStream.readEvents(spark, s"$dir/events.parquet"))
    val streamed = EventsStream.runStreamingSmoke(spark, dir)
    assert(canon(streamed) == canon(batch))
    assert(batch.count() > 0)
  }

  test("streaming funnel report equals the batch funnel report") {
    val steps = Seq("signup", "click", "purchase")
    val batch = graft.ops.EventAnalytics.funnelReport(
      EventsStream.readEvents(spark, s"$dir/events.parquet"),
      "event_type", "ts", "event_id", "user_id", steps)
    val streamed = EventsStream.runFunnelStreamingSmoke(spark, dir, steps)
    assert(canon(streamed) == canon(batch))
    assert(batch.count() === 3)
  }

  test("streaming cohort retention equals the batch retention triangle") {
    val batch = graft.ops.EventAnalytics.cohortRetention(
      EventsStream.readEvents(spark, s"$dir/events.parquet"), "ts", "user_id")
    val streamed = EventsStream.runCohortStreamingSmoke(spark, dir)
    assert(canon(streamed) == canon(batch))
    assert(batch.count() > 0)
  }

  test("streaming SCD2 closed versions equal the batch build's closed subset") {
    import org.apache.spark.sql.functions._
    val batchClosed = graft.ops.TemporalJoins.scd2Build(
        EventsStream.readEvents(spark, s"$dir/events.parquet")
          .filter(col("event_type") === "view")
          .withColumn("tier", floor(col("value") / 10).cast("long")),
        Seq("user_id"), "ts", "event_id", Seq("tier"))
      .filter(col("valid_to").isNotNull)
      .select("user_id", "tier", "valid_from", "valid_to", "version")
    val streamed = EventsStream.runScd2StreamingSmoke(spark, dir,
      Seq("tier" -> floor(col("value") / 10).cast("long")),
      "tier BIGINT", col("event_type") === "view")
    assert(canon(streamed) == canon(batchClosed))
    assert(batchClosed.count() > 0)
  }

  test("stream-stream interval join equals the batch interval join") {
    val events = EventsStream.readEvents(spark, s"$dir/events.parquet")
    val batch = EventsStream.intervalJoinBatch(events, "click", "purchase")
      .select("user_id", "left_id", "right_id", "left_ts", "right_ts", "right_value")

    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventsStream.Event].collect().toSeq
    val lMem = MemoryStream[EventsStream.Event]
    val rMem = MemoryStream[EventsStream.Event]
    lMem.addData(rows)
    rMem.addData(rows)
    val joined = EventsStream.intervalJoinStream(
      lMem.toDF(), rMem.toDF(), "click", "purchase")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("interval_join_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("interval_join_out")
    assert(canon(streamed) == canon(batch))
    assert(batch.count() > 0)
  }

  test("enrichWithDim keeps the event key when both sides name it identically") {
    import spark.implicits._
    val events = Seq((1L, 10L), (2L, 99L)).toDF("event_id", "user_id")
    val dim = Seq((10L, "gold")).toDF("user_id", "tier")
    val got = EventsStream.enrichWithDim(events, dim, "user_id", "user_id")
    // a name-based drop would remove BOTH user_id columns
    assert(got.columns.toSeq == Seq("event_id", "user_id", "tier"))
    assert(got.orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      .toSeq == Seq((1L, 10L, Some("gold")), (2L, 99L, None)))
  }

  test("stream-static enrichment join equals the batch join") {
    val events = EventsStream.readEvents(spark, s"$dir/events.parquet")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    val cols = Seq("event_id", "user_id", "event_type", "c_mktsegment")
    val batch = EventsStream.enrichWithDim(events, dim, "user_id", "c_custkey")
      .select(cols.head, cols.tail: _*)

    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventsStream.Event]
    mem.addData(events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventsStream.Event].collect().toSeq)
    val q = EventsStream.enrichWithDim(mem.toDF(), dim, "user_id", "c_custkey")
      .select(cols.head, cols.tail: _*)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try q.processAllAvailable()
    finally q.stop()
    assert(canon(spark.table("enrich_out")) == canon(batch))
    assert(batch.count() > 0)
  }

  test("sessionize: watermark-admitted out-of-order event merges without moving bounds backward") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(t), u, "x", 1.0)
    val mem = MemoryStream[EventsStream.Event]
    // Batch 1: user 1 session [12:00, 14:00] (gap 2h); user 2's 14:30
    // event drives the 1h watermark to 13:30 at batch end.
    mem.addData(Seq(ev(1, "2024-01-01 12:00:00", 1),
      ev(2, "2024-01-01 14:00:00", 1), ev(3, "2024-01-01 14:30:00", 2)))
    val sessions = EventsStream.sessionize(spark, mem.toDF(),
      gapMs = 2 * 60 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_ooo").start()
    try {
      q.processAllAvailable()
      // Batch 2: user 1 at 13:45 — above the 13:30 watermark but BEFORE
      // the session's current end. Must merge WITHOUT regressing the end
      // (the old unconditional `end = t` set it back to 13:45).
      mem.addData(Seq(ev(4, "2024-01-01 13:45:00", 1)))
      q.processAllAvailable()
      // flush: close everything
      mem.addData(Seq(ev(9, "2030-01-01 00:00:00", -1L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_ooo").filter($"user_id" === 1L)
      .select("session_start", "session_end", "n_events")
      .collect().map(r => (r.getTimestamp(0).toString,
        r.getTimestamp(1).toString, r.getInt(2))).toSeq
    assert(got == Seq(("2024-01-01 12:00:00.0", "2024-01-01 14:00:00.0", 3)))
  }

  test("sessionize: same-batch late-era events merge with each other " +
      "and can bridge into the current session") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(t), u, "x", 1.0)
    val mem = MemoryStream[EventsStream.Event]
    // Batch 1 (gap 10 min, watermark 1 h): users 1 and 2 each open a
    // session at 12:00; the watermark lands at 11:00.
    mem.addData(Seq(ev(1, "2024-01-01 12:00:00", 1),
      ev(2, "2024-01-01 12:00:00", 2)))
    val sessions = EventsStream.sessionize(spark, mem.toDF(),
      gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_late").start()
    try {
      q.processAllAvailable()
      // Batch 2, user 1: 11:05 and 11:10 are both >gap before the open
      // session's 12:00 start but within a gap of EACH OTHER — they must
      // close as ONE two-event session (previously two singletons);
      // 11:45 is its own late era (35 min after 11:10).
      // Batch 2, user 2: 11:44 goes late, then 11:52 bridges the open
      // session (pulling its start down to 11:52) — now the late session
      // ends within a gap of the current start, so ALL THREE events and
      // the original 12:00 must chain into one session [11:44, 12:00],
      // exactly what the batch gap-window formulation computes.
      mem.addData(Seq(ev(3, "2024-01-01 11:05:00", 1),
        ev(4, "2024-01-01 11:10:00", 1), ev(5, "2024-01-01 11:45:00", 1),
        ev(6, "2024-01-01 11:44:00", 2), ev(7, "2024-01-01 11:52:00", 2)))
      q.processAllAvailable()
      mem.addData(Seq(ev(9, "2030-01-01 00:00:00", -1L)))
      q.processAllAvailable()
    } finally q.stop()
    def got(u: Long) = spark.table("sessions_late")
      .filter($"user_id" === u)
      .select("session_start", "session_end", "n_events")
      .collect().map(r => (r.getTimestamp(0).toString.substring(11, 16),
        r.getTimestamp(1).toString.substring(11, 16), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(got(1L) == Seq(("11:05", "11:10", 2), ("11:45", "11:45", 1),
      ("12:00", "12:00", 1)))
    assert(got(2L) == Seq(("11:44", "12:00", 3)))
  }

  test("sessionize: an after-gap event must not orphan an open late-era " +
      "session that bridges the session it closes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(t), u, "x", 1.0)
    val mem = MemoryStream[EventsStream.Event]
    mem.addData(Seq(ev(1, "2024-01-01 12:00:00", 1)))
    val sessions = EventsStream.sessionize(spark, mem.toDF(),
      gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_orphan").start()
    try {
      q.processAllAvailable()
      // 11:45 opens a late era; 11:52 bridges the open 12:00 session
      // (start pulled to 11:52, within a gap of the late end); 12:30 is
      // after-gap. Batch semantics: {11:45, 11:52, 12:00} are ONE
      // session — the close triggered by 12:30 must not emit
      // [11:52, 12:00] with the late era unresolved.
      mem.addData(Seq(ev(2, "2024-01-01 11:45:00", 1),
        ev(3, "2024-01-01 11:52:00", 1), ev(4, "2024-01-01 12:30:00", 1)))
      q.processAllAvailable()
      mem.addData(Seq(ev(9, "2030-01-01 00:00:00", -1L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_orphan").filter($"user_id" === 1L)
      .select("session_start", "session_end", "n_events")
      .collect().map(r => (r.getTimestamp(0).toString.substring(11, 16),
        r.getTimestamp(1).toString.substring(11, 16), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("11:45", "12:00", 3), ("12:30", "12:30", 1)))
  }

  test("sessionize: late-era events split across micro-batches still " +
      "merge (sessions close only when the watermark proves them closed)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, u: Long) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(t), u, "x", 1.0)
    val mem = MemoryStream[EventsStream.Event]
    // 12:00 sets the watermark to 11:00 (1 h delay).
    mem.addData(Seq(ev(1, "2024-01-01 12:00:00", 1)))
    val sessions = EventsStream.sessionize(spark, mem.toDF(),
      gapMs = 10 * 60 * 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_xbatch").start()
    try {
      q.processAllAvailable()
      // Two admissible late-era events, ONE PER BATCH, within a gap of
      // each other. A state that closes late sessions at batch end emits
      // two singletons; batch semantics (and this operator) merge them.
      mem.addData(Seq(ev(2, "2024-01-01 11:05:00", 1)))
      q.processAllAvailable()
      mem.addData(Seq(ev(3, "2024-01-01 11:10:00", 1)))
      q.processAllAvailable()
      mem.addData(Seq(ev(9, "2030-01-01 00:00:00", -1L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_xbatch").filter($"user_id" === 1L)
      .select("session_start", "session_end", "n_events")
      .collect().map(r => (r.getTimestamp(0).toString.substring(11, 16),
        r.getTimestamp(1).toString.substring(11, 16), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(("11:05", "11:10", 2), ("12:00", "12:00", 1)))
  }

  test("stateful sessionization equals batch gap-window formulation") {
    val events = EventsStream.readEvents(spark, s"$dir/events.parquet")
    val batch = EventsStream.sessionizeBatch(events)

    // Drive flatMapGroupsWithState over the same data via a memory stream.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventsStream.Event]
    val rows = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventsStream.Event].collect()
    mem.addData(rows.toSeq)
    val sessions = EventsStream.sessionize(spark, mem.toDF())
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // Push watermark far past the data so all sessions close, then finalize.
      mem.addData(EventsStream.Event(-1L,
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessions_out")
      .filter($"user_id" =!= -1L)
    assert(canon(streamed) == canon(batch))
    assert(batch.count() > 0)
  }

  test("slidingCounts: every event lands in exactly length/slide windows") {
    import spark.implicits._
    val evs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), 1L, "click", 2.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 2L, "click", 3.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 3L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventsStream.slidingCounts(evs, "1 hour", "15 minutes")
      .orderBy("window_start", "event_type").collect()
    // 4 windows per event (60/15); the two clicks share one window set
    // member: starts 9:30..10:15 for e1, 9:45..10:15 for shared coverage.
    assert(got.map(_.getAs[Long]("n_events")).sum == 3L * 4L)
    // e1 (10:07) windows start at 9:15? no: starts s with s <= ts < s+1h,
    // s in 15-min grid: 9:15 < 10:07 ... exact: 9:15,9:30,9:45,10:00.
    val e1 = got.filter(r => r.getString(2) == "click" &&
      r.getTimestamp(0).toString.startsWith("2024-01-01 09:15"))
    assert(e1.length == 1 && e1.head.getAs[Long]("n_events") == 1L)
    // A window covering both clicks: 10:00-11:00.
    val both = got.filter(r => r.getString(2) == "click" &&
      r.getTimestamp(0).toString.startsWith("2024-01-01 10:00"))
    assert(both.length == 1 && both.head.getAs[Long]("n_events") == 2L &&
      both.head.getAs[Double]("total_value") == 5.0)
  }
}
