package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming ingestion for the events table: watermarked windowed
  * aggregation plus stateful sessionization.
  *
  * The reference engine is batch-only (SURVEY §2.9); this is the extension
  * surface for continuous ingest. The same transforms run identically over
  * `read` (batch backfill) and [[Drain.files]] (live) — the usual lambda-free
  * kappa posture.
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** [[eventSchema]] with the `ts` field re-typed — the one knob the three
    * physical encodings differ by (INT64 nanos ⇒ LongType, wall-time
    * micros ⇒ TimestampNTZType). One definition so adding a field to
    * eventSchema cannot desync the per-encoding variants. */
  private def schemaWithTs(dt: DataType): StructType = StructType(
    eventSchema.fields.map {
      case f if f.name == "ts" => StructField("ts", dt)
      case f => f
    })

  /** Read an events parquet robustly across the three physical encodings the
    * fixture has shipped with: INT64 nanosecond timestamps, microsecond
    * TIMESTAMP without timezone, and plain UTC-adjusted TIMESTAMP (see
    * [[decodeTs]]). Downstream code always sees `TimestampType` so
    * `unix_millis`/`unix_micros` and watermarks work.
    */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    decodeTs(probeTs(spark)(spark.read.parquet(path))(_.schema("ts").dataType))

  /** Streaming flavour of [[readEvents]]: watches `dir` for files matching
    * `glob` through [[Drain.files]]. The streaming file source needs a
    * declared schema, so the footer of whatever is already in `dir` is
    * probed with a batch read to pick the right decode.
    */
  def readEventsStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame = {
    // A stream may start on an empty directory (files arrive later); the
    // probe then has no footer to read and the CURRENT fixture encoding
    // (microsecond TIMESTAMP, read as TimestampType) is assumed — a
    // legacy nanos-int64 file arriving later under that assumption would
    // fail the stream; seed the directory with one file when watching a
    // nanos-era source. Only the empty/unreadable-path analysis errors
    // take that fallback (logged): any other AnalysisException — corrupt
    // footer, a file without a ts column — is a real read error and
    // surfaces HERE, not as a confusing decode failure mid-stream.
    val probed = probeTs(spark) {
      try spark.read.option("pathGlobFilter", glob).parquet(dir)
        .schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              (e.getCondition.contains("UNABLE_TO_INFER_SCHEMA") ||
                e.getCondition.contains("PATH_NOT_FOUND")) =>
          println(s"[EventsStream] no readable '$glob' in $dir yet " +
            s"(${e.getCondition}); assuming current micros-TIMESTAMP encoding")
          TimestampType
      }
    }(identity)
    val tsType = probed match {
      case LongType | TimestampNTZType => probed
      case _ => TimestampType
    }
    decodeTs(Drain.files(spark, dir, glob, schema = Some(schemaWithTs(tsType))))
  }

  /** Run `probe` (a footer read) with `spark.sql.legacy.parquet.nanosAsLong`
    * on: Spark's parquet reader has no nanosecond timestamp type, and
    * without the conf an INT64-nanos column fails analysis with "Illegal
    * Parquet type". The conf stays set only when the probed `ts` type is
    * `LongType` (INT64 nanos): parquet readers consult it again at
    * EXECUTION, and a stream at every trigger. For every other encoding
    * the caller's value is restored, so reading an ordinary events file
    * leaves the session as it was.
    */
  private def probeTs[A](spark: SparkSession)(probe: => A)(ts: A => DataType): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getAll.get(key) // None: unset, so unset it again
    spark.conf.set(key, "true")
    var nanos = false
    try { val a = probe; nanos = ts(a) == LongType; a }
    finally if (!nanos) prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `events` with its `ts` column decoded to `TimestampType`, whichever
    * encoding it carries: INT64 nanos surfaced as long (floored to micros),
    * microsecond TIMESTAMP_NTZ (normalized to instant micros, identity
    * under the UTC session zone), or TIMESTAMP (as is). Batch and stream
    * frames alike.
    */
  private def decodeTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType =>
        // FLOOR division, not `div` (truncation toward zero): a pre-epoch
        // nanos value like -1500 ns must decode to -2 us, the same
        // floorDiv discipline toMicros documents. (ts - pmod(ts, 1000))
        // is an exact multiple of 1000, so the remaining div is exact.
        events.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        // Cast interprets the wall time in the session zone; sessions here
        // run with spark.sql.session.timeZone=UTC, so this reads the stored
        // micros as UTC instants — the same values the nanos path produced.
        events.withColumn("ts", col("ts").cast(TimestampType))
      case _ => events
    }

  /** Tumbling-window per-type aggregation; watermark bounds state. Works on
    * either a streaming or batch frame with the events schema.
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Sliding-window aggregation — the overlapping-window member of the
    * streaming-shape family next to [[windowedCounts]] (tumbling) and
    * [[sessionizeBatch]] (session): each event contributes to
    * `length/slide` overlapping windows (Spark's `window()` generator
    * emits them inline in the scan — the row multiplication happens
    * BEFORE the one hash aggregate on (window, type), so shuffle volume
    * is O(groups), not O(events × overlap)). Works identically on a
    * stream (add a watermark upstream) — the same generator+aggregate is
    * incrementally maintained there.
    */
  def slidingCounts(events: DataFrame, length: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), length, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)
  case class SessionState(start: Long, end: Long, n: Int, total: Double)
  case class SessionList(open: List[SessionState])

  /** Epoch-microsecond conversion shared by every stateful operator in this
    * file (sessionize, funnelStream, scd2Stream). State keeps epoch
    * MICROseconds (`Timestamp.getTime` alone would drop the
    * sub-millisecond part the parquet timestamps carry); `floorDiv`/
    * `floorMod` keep the arithmetic correct for pre-epoch instants, where
    * truncating division flips the sub-second sign.
    */
  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Stateful sessionization: per-user sessions closed after `gapMs` of
    * inactivity, via `flatMapGroupsWithState` with event-time timeout.
    *
    * The state is the user's LIST of open sessions, and a session closes
    * only when the watermark PROVES no admissible event can still bridge
    * it (`end + gap < watermark`: every event the stream still admits has
    * `ts >= watermark`, so its distance to this session's end exceeds the
    * gap). That single rule makes the operator equal to the batch
    * gap-window formulation ([[sessionizeBatch]]) for EVERY
    * watermark-admitted event, however late and however split across
    * micro-batches — the earlier single-open-session state closed
    * "late era" sessions at batch end, which a later batch's
    * still-admissible event could have bridged. The list stays tiny by
    * construction: open sessions all end within a gap of
    * `[watermark - gap, max event time seen]`, so its length is bounded
    * by (watermark delay + clock skew) / gap, independent of corpus size
    * (1 h delay / 30 min gap ⇒ ≤ ~3, plus one per far-future outlier).
    *
    * DRAIN REQUIREMENT: the close rule is strict (`end + gap <
    * watermark`), so sessions still open when the watermark stops
    * advancing — i.e. at end of input — are WITHHELD, not emitted: the
    * stream cannot yet prove them closed. Batch-vs-stream equivalence
    * therefore holds only for a drained consumer: append a far-future
    * sentinel event (any user id, `ts` past every real event by more
    * than the watermark delay + gap) to push the watermark past the last
    * open session before the final read, as the specs do. A consumer
    * comparing an UN-drained stream against [[sessionizeBatch]] will see
    * the trailing open sessions missing.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import spark.implicits._
    val gapUs = gapMs * 1000L
    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionList]): Iterator[Session] = {
      // Events become [t, t] singleton intervals next to the open
      // sessions; one sorted interval-merge fold is the whole semantics
      // (identical to the batch formulation's gap rule). Sorting by
      // (start, end, n) keeps the fold deterministic when an event ties
      // a session boundary.
      val incoming = rows.map { e =>
        val t = toMicros(e.ts); SessionState(t, t, 1, e.value)
      }.toVector
      val all = (state.getOption.map(_.open).getOrElse(Nil) ++ incoming)
        .sortBy(s => (s.start, s.end, s.n))
      val merged = all.foldLeft(List.empty[SessionState]) {
        case (acc @ cur :: rest, nxt) if nxt.start - cur.end <= gapUs =>
          SessionState(cur.start, math.max(cur.end, nxt.end),
            cur.n + nxt.n, cur.total + nxt.total) :: rest
        case (acc, nxt) => nxt :: acc
      }.reverse
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (closable, open) = merged.partition(_.end + gapUs < wmUs)
      if (open.isEmpty) state.remove()
      else {
        state.update(SessionList(open))
        // fire when the earliest open session becomes provably closed;
        // clamp past the current watermark (ms truncation of the micro-
        // second end can land the natural instant ON the watermark,
        // which Spark rejects — the clamped timer just fires on the next
        // watermark advance instead)
        state.setTimeoutTimestamp(
          math.max(open.map(_.end).min / 1000L + gapMs,
            state.getCurrentWatermarkMs() + 1L))
      }
      closable.iterator.map(s =>
        Session(userId, fromMicros(s.start), fromMicros(s.end), s.n, s.total))
    }
    events.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  case class FunnelEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String)
  case class FunnelState(step: Int, lastTsUs: Long, seen: Long)
  case class FunnelProgress(user_id: Long, steps_completed: Int)

  /** Streaming ordered funnel: per-user chain position maintained in
    * `mapGroupsWithState` (Update mode), one progress row per user per
    * micro-batch it advances in. Greedy semantics match
    * [[graft.ops.EventAnalytics.funnelReport]] exactly — step 1 matches
    * the user's first step-1 event, each later step the first step-i
    * event STRICTLY after the matched predecessor — so draining the sink
    * and keeping each user's MAX progress (the chain position is
    * monotone) reproduces the batch report bit-for-bit when events
    * arrive time-ordered across batches (any order within a batch: each
    * invocation sorts its group's new events). The same one-shuffle
    * shape as [[sessionize]]; per-user state is three scalars (chain
    * position, last-matched timestamp, events-seen cap counter), so
    * state size is users × ~20 bytes at any event rate.
    */
  def funnelStream(
      spark: SparkSession,
      events: DataFrame,
      steps: Seq[String],
      maxEventsPerUser: Long = 10000L): DataFrame = {
    import spark.implicits._
    require(steps.nonEmpty, "funnelStream needs at least one step")
    val nSteps = steps.size
    val stepOf = steps.toArray
    def fn(userId: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): FunnelProgress = {
      val sorted = rows.toVector.sortBy(e => (toMicros(e.ts), e.event_id))
      var cur = state.getOption.getOrElse(FunnelState(0, Long.MinValue, 0L))
      sorted.foreach { e =>
        // Same rank cap as the batch funnelReport's slice(..., 1, max):
        // under in-order arrival the first `maxEventsPerUser` step events
        // seen here ARE the batch slice, so the two stay bit-identical
        // even for pathological keys.
        if (cur.seen < maxEventsPerUser) {
          val advance = cur.step < nSteps && e.event_type == stepOf(cur.step) &&
            (cur.step == 0 || toMicros(e.ts) > cur.lastTsUs)
          cur =
            if (advance) FunnelState(cur.step + 1, toMicros(e.ts), cur.seen + 1)
            else FunnelState(cur.step, cur.lastTsUs, cur.seen + 1)
        }
      }
      state.update(cur)
      FunnelProgress(userId, cur.step)
    }
    events.filter(col("event_type").isin(steps: _*))
      .select("event_id", "ts", "user_id", "event_type").as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Drive [[funnelStream]] over the events parquet into a memory sink and
    * fold the drained per-user progress into the batch report shape
    * ([[graft.ops.EventAnalytics.funnelReportFromSteps]]): max progress
    * per user (monotone), then the per-step count/conversion rows.
    */
  def runFunnelStreamingSmoke(
      spark: SparkSession,
      dir: String,
      steps: Seq[String],
      filter: Column = lit(true)): DataFrame = {
    val stream = readEventsStream(spark, dir).filter(filter)
    val drained = Drain.toMemory(spark, funnelStream(spark, stream, steps),
      "events_funnel", "update", Drain.smokeStatePartitions)
    graft.ops.EventAnalytics.funnelReportFromSteps(
      drained.groupBy("user_id")
        .agg(max(col("steps_completed")).as("steps_completed")),
      "steps_completed", steps)
  }

  case class CohortEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class CohortState(cohortDay: Int, weekDays: Set[Int])
  case class CohortWeeks(user_id: Long, cohort_week: java.sql.Date,
      weeks: Seq[java.sql.Date], n_weeks: Int)

  /** Streaming cohort state: per-user Monday-truncated first-event week
    * plus the distinct active-week set, in `mapGroupsWithState` (Update
    * mode). State is the user's set of epoch-day ints — bounded by weeks
    * OBSERVED, not events, so a year of activity is ≤ 53 ints regardless
    * of event rate. Week truncation matches the batch
    * `date_trunc('week', ts)` under the UTC session zone, so draining the
    * sink (latest row per user — the week set only grows) into
    * [[graft.ops.EventAnalytics.cohortRetentionFromWeeks]] reproduces the
    * batch triangle bit-for-bit when events arrive time-ordered across
    * batches (any order within one).
    */
  def cohortStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    def mondayEpochDay(t: java.sql.Timestamp): Int = {
      val ld = t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      ld.minusDays(ld.getDayOfWeek.getValue - 1).toEpochDay.toInt
    }
    def fn(userId: Long, rows: Iterator[CohortEvent],
        state: GroupState[CohortState]): CohortWeeks = {
      val days = rows.map(e => mondayEpochDay(e.ts)).toSet
      val cur = state.getOption match {
        case Some(s) => CohortState(math.min(s.cohortDay, days.min),
          s.weekDays ++ days)
        case None => CohortState(days.min, days)
      }
      state.update(cur)
      CohortWeeks(userId,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(cur.cohortDay)),
        cur.weekDays.toSeq.sorted
          .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))),
        cur.weekDays.size)
    }
    events.select("event_id", "ts", "user_id").as[CohortEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Drive [[cohortStream]] into a memory sink and fold the drained
    * per-user week sets into the batch retention triangle: the week set
    * only grows, so each user's row with the most weeks is its final
    * state.
    */
  def runCohortStreamingSmoke(
      spark: SparkSession,
      dir: String,
      filter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = readEventsStream(spark, dir).filter(filter)
    val drained = Drain.toMemory(spark, cohortStream(spark, stream),
      "events_cohort", "update", Drain.smokeStatePartitions)
    val latest = drained
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("n_weeks").desc)))
      .filter(col("__rn") === 1)
      .select("cohort_week", "weeks")
    graft.ops.EventAnalytics.cohortRetentionFromWeeks(latest)
  }

  case class ScdEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      attrs: String)
  case class ScdState(attrs: String, validFromUs: Long, version: Int)
  case class ScdClosed(user_id: Long, attrs: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      version: Int)

  /** Streaming SCD2 maintenance — the CDC shape of
    * [[graft.ops.TemporalJoins.scd2Build]]: each key's CURRENT version
    * (attribute fingerprint, valid_from, ordinal) lives in
    * `flatMapGroupsWithState`; an arriving change CLOSES the current
    * version, which is emitted exactly once — so the sink accumulates the
    * closed-version history incrementally and a dimension table stays
    * maintainable from a change stream without daily rebuilds (at 100 TB
    * the rebuild, not the query, is what hurts). The still-open versions
    * are the in-flight state by definition and are not emitted (they are
    * not final); batch `scd2Build` over the same events produces the
    * identical closed set plus those opens — proved in
    * `EventsStreamSpec`.
    *
    * Attributes ride as canonical JSON (`to_json(struct(attrCols))` with
    * `ignoreNullFields=false`, so null transitions are visible to the
    * equality) — the state is (string, long, int) per KEY regardless of
    * attribute width, and consumers re-derive typed columns with
    * `from_json`. Same time-ordered-across-batches contract as
    * [[funnelStream]]/[[cohortStream]]; any order within a batch.
    */
  def scd2Stream(
      spark: SparkSession,
      events: DataFrame,
      attrCols: Seq[String]): DataFrame = {
    import spark.implicits._
    require(attrCols.nonEmpty, "scd2Stream needs attribute columns")
    def fn(userId: Long, rows: Iterator[ScdEvent],
        state: GroupState[ScdState]): Iterator[ScdClosed] = {
      val sorted = rows.toVector.sortBy(e => (toMicros(e.ts), e.event_id))
      var closed = Vector.empty[ScdClosed]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = toMicros(e.ts)
        cur match {
          case Some(s) if s.attrs == e.attrs => () // unchanged: collapses
          case Some(s) =>
            closed :+= ScdClosed(userId, s.attrs, fromMicros(s.validFromUs),
              fromMicros(t), s.version)
            cur = Some(ScdState(e.attrs, t, s.version + 1))
          case None =>
            cur = Some(ScdState(e.attrs, t, 1))
        }
      }
      cur.foreach(state.update)
      closed.iterator
    }
    // microsecond timestampFormat: to_json's default renders timestamps
    // at MILLIsecond precision, so two attr values distinct only below
    // the millisecond would fingerprint equal and the version change the
    // batch build detects (typed null-safe equality) would be silently
    // collapsed here
    val attrsJson = to_json(struct(attrCols.map(col): _*),
      Map("ignoreNullFields" -> "false",
        "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
    events
      .select(col("event_id"), col("ts"), col("user_id"),
        attrsJson.as("attrs"))
      .as[ScdEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Drive [[scd2Stream]] into a memory sink: returns the accumulated
    * closed-version history with `attrSchema`-typed attribute columns
    * restored from the JSON fingerprint.
    */
  def runScd2StreamingSmoke(
      spark: SparkSession,
      dir: String,
      attrExprs: Seq[(String, Column)],
      attrSchema: String,
      filter: Column = lit(true)): DataFrame = {
    var stream = readEventsStream(spark, dir).filter(filter)
    attrExprs.foreach { case (n, c) => stream = stream.withColumn(n, c) }
    Drain.toMemory(spark, scd2Stream(spark, stream, attrExprs.map(_._1)),
        "events_scd2", "update", Drain.smokeStatePartitions)
      .select(col("user_id"),
        // the matching microsecond timestampFormat — see scd2Stream's
        // attrsJson (round-trip must not truncate what the fingerprint
        // preserved)
        from_json(col("attrs"), StructType.fromDDL(attrSchema),
          Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("__a"),
        col("valid_from"), col("valid_to"), col("version"))
      .select(col("user_id"), col("__a.*"), col("valid_from"),
        col("valid_to"), col("version"))
  }

  /** Batch-equivalent sessionization (same gap semantics) for backfill and
    * for the DuckDB-oracle check: window lag + cumulative session ids —
    * pure SQL shape, one shuffle on user_id.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val marked = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // MICROsecond gap comparison, exactly like the streaming state's
        // gapUs arithmetic: unix_millis truncates the sub-millisecond
        // part the fixture timestamps carry, and a pair of events
        // straddling the gap by < 1 ms would merge here while the stream
        // splits them — breaking the documented batch ≡ stream contract
        // on boundary-adjacent events.
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) >
            gapMs * 1000L, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"), sum(col("value")).as("total_value"))
      .drop("session_seq")
  }

  /** Batch interval join — the batch shape of a stream-stream join: for
    * each `leftType` event, the `rightType` events of the same user with
    * `right.ts ∈ (left.ts, left.ts + withinMs]`. Equi join on user_id with
    * a time-range residual: one shuffle on user_id at any scale (AQE
    * handles user skew); the range residual evaluates in micro-exact
    * integer arithmetic so an external oracle using timestamp intervals
    * agrees bit-for-bit.
    */
  def intervalJoinBatch(
      events: DataFrame,
      leftType: String,
      rightType: String,
      withinMs: Long = 30 * 60 * 1000L): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("right_id"), col("user_id"),
        col("ts").as("right_ts"), col("value").as("right_value"))
    l.join(r, Seq("user_id"))
      .filter(col("right_ts") > col("left_ts") &&
        unix_micros(col("right_ts")) <= unix_micros(col("left_ts")) + withinMs * 1000L)
  }

  /** Stream-stream interval join with watermarks on both sides: the join
    * condition bounds right relative to left, so state for either side is
    * dropped once the watermark passes `withinMs` — bounded state at any
    * input rate. Same semantics as [[intervalJoinBatch]] (proved
    * batch ≡ stream in `EventsStreamSpec`).
    */
  def intervalJoinStream(
      leftEvents: DataFrame,
      rightEvents: DataFrame,
      leftType: String,
      rightType: String,
      withinMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour"): DataFrame = {
    val l = leftEvents.filter(col("event_type") === leftType)
      .select(col("event_id").as("left_id"), col("user_id").as("left_user"),
        col("ts").as("left_ts"))
      .withWatermark("left_ts", watermark)
    val r = rightEvents.filter(col("event_type") === rightType)
      .select(col("event_id").as("right_id"), col("user_id").as("right_user"),
        col("ts").as("right_ts"), col("value").as("right_value"))
      .withWatermark("right_ts", watermark)
    l.join(r,
        col("left_user") === col("right_user") &&
          col("right_ts") > col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"INTERVAL $withinMs MILLISECONDS"))
      .select(col("left_user").as("user_id"), col("left_id"), col("right_id"),
        col("left_ts"), col("right_ts"), col("right_value"))
  }

  /** Stream-static enrichment join: the events stream against a static
    * dimension frame. Works identically on a batch frame (the kappa
    * posture); in streaming mode Spark re-plans the static side per
    * micro-batch and broadcasts it when small — no streaming state at all
    * (unlike stream-stream joins), so this is the scale-free way to attach
    * dimension attributes to a 100 TB/day event stream.
    */
  def enrichWithDim(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String,
      dimKey: String): DataFrame =
    // drop the DIM side's key by Column reference: a name-based drop
    // removes every column with that name, so eventKey == dimKey would
    // silently drop the event's own key too
    events.join(dim, events(eventKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Streaming smoke: drive the events parquet through [[Drain.files]] into a
    * memory sink; returns collected windowed counts.
    */
  def runStreamingSmoke(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(spark, windowedCounts(readEventsStream(spark, dir)),
      "events_windowed", "complete", Drain.smokeStatePartitions)

  /** Streaming smoke for [[slidingCounts]] — the kappa twin of the batch
    * sliding-window report: the same generator+aggregate maintained
    * incrementally; state is one row per open (window, type) group,
    * bounded by the watermark horizon × overlap factor, never by events.
    * (Round 16 measured and REJECTED a pre-aggregate repartition spread
    * of the single-split source: the extra raw-event shuffle + the
    * driver-side split probe cost ~+0.4 s/run against a ~0.3 s
    * single-task explode stage — the batch under-split barrier does not
    * transfer to micro-batches this small.)
    */
  def runStreamingSlidingSmoke(spark: SparkSession, dir: String): DataFrame =
    Drain.toMemory(spark, slidingCounts(readEventsStream(spark, dir)),
      "events_sliding", "complete", Drain.smokeStatePartitions)
}
