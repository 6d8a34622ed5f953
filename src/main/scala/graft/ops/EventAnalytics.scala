package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch event-stream analytics: ordered-funnel conversion and cohort
  * retention — the two aggregate reports every behavioral/event warehouse
  * runs daily, expressed so each costs ONE shuffle on the user key.
  *
  * Reference scope: the reference engine has no event analytics (its
  * `events` are genomics pipeline stages); these extend the engine for the
  * training-data/product-analytics side of the corpus the same way the
  * dedup/curation operators do, and each is gated by a closed-form SQL
  * oracle (chained-min funnel, per-user week sets).
  */
object EventAnalytics {

  /** Ordered funnel: for each user, greedily advance through `steps`
    * (event types) in order — step 1 matches the user's first step-1
    * event, each later step matches the first step-i event STRICTLY after
    * the matched step-(i-1) event. Returns one row per step:
    * `(step, event_type, n_users, frac_of_first)` where `n_users` counts
    * users whose chain reached that step and `frac_of_first` is the
    * conversion from step 1 (step 1 row reads 1.0), rounded to 6 dp.
    *
    * The greedy first-match chain is provably the chained-min SQL funnel
    * (`s_i = min ts of step-i events with ts > s_{i-1}`): both pick the
    * earliest qualifying event at each step — which is what the oracle
    * re-derives.
    *
    * Scale shape (default, `maxEventsPerUser` ≤ 0): the chained-min form
    * directly — ONE shuffle of the pruned (user, ts, type) rows reused by
    * `s` codegen'd min-aggregate passes, no per-user collection (see
    * [[funnelReportMinChain]]). Passing `maxEventsPerUser` > 0 selects
    * the bounded-collection path instead: each user's earliest k step
    * events fold row-locally — truncation SEMANTICS for pathological
    * keys, at the cost of k-element priority-queue aggregation
    * ([[funnelReportCollected]]).
    */
  def funnelReport(
      events: DataFrame,
      typeCol: String,
      timeCol: String,
      tieCol: String,
      userCol: String,
      steps: Seq[String],
      maxEventsPerUser: Int = 0): DataFrame = {
    require(steps.nonEmpty, "funnelReport needs at least one step")
    if (maxEventsPerUser <= 0)
      return funnelReportMinChain(events, typeCol, timeCol, userCol, steps)
    funnelReportCollected(events, typeCol, timeCol, tieCol, userCol, steps,
      maxEventsPerUser)
  }

  /** EXACT funnel via chained conditional minima — the default path
    * (round 15). The greedy fold over time-ordered events advances step i
    * on the EARLIEST step-i event strictly after step i−1's time, so the
    * whole funnel is `t_i = min(ts | type = step_i AND ts > t_{i−1})` —
    * no per-user event collection at all. The round-15 event scale ladder
    * (PLANS.md) found the collected shape's real scale cost: a 10k-element
    * priority queue per user per aggregation level (ObjectHashAggregate,
    * interpreted, GC-heavy — 7–100 s at 4M events where this shape runs in
    * ~2 s, with first-run allocation cliffs the flat shuffle bytes
    * disproved as data effects).
    *
    * Plan shape: ONE raw shuffle of the pruned (user, ts, type) rows —
    * the explicit repartition below, executed once and reused by every
    * pass (identical subtree ⇒ ReuseExchange) — then s codegen'd
    * min-aggregate passes and user-co-partitioned joins that introduce
    * no further exchanges. Null user ids are excluded (SQL join
    * semantics, matching the chained-min SQL oracle); the capped path
    * excludes them identically, so both documented-equivalent paths
    * report the same n_users on data containing unattributed events.
    */
  private def funnelReportMinChain(
      events: DataFrame,
      typeCol: String,
      timeCol: String,
      userCol: String,
      steps: Seq[String]): DataFrame = {
    val nPart =
      events.sparkSession.sessionState.conf.numShufflePartitions
    val relevant = events
      .filter(col(typeCol).isin(steps: _*) && col(timeCol).isNotNull &&
        col(userCol).isNotNull)
      .select(col(userCol), col(timeCol).as("__ts"), col(typeCol).as("__et"))
    val r = relevant.repartition(nPart, col(userCol))
    // t(i): users reaching step i, with that step's chain time
    val ts = new scala.collection.mutable.ArrayBuffer[DataFrame]
    ts += r.filter(col("__et") === steps.head)
      .groupBy(col(userCol)).agg(min(col("__ts")).as("__t1"))
    for (i <- 2 to steps.size)
      ts += r.filter(col("__et") === steps(i - 1))
        .join(ts(i - 2).select(col(userCol), col(s"__t${i - 1}")), userCol)
        .filter(col("__ts") > col(s"__t${i - 1}"))
        .groupBy(col(userCol)).agg(min(col("__ts")).as(s"__t$i"))
    // steps_completed = highest i whose t(i) holds the user (membership
    // is monotone: reaching i implies reaching i−1)
    val perUser = (2 to steps.size).foldLeft(
        ts(0).select(col(userCol), lit(1).as("__s1"))) { (acc, i) =>
      acc.join(ts(i - 1).select(col(userCol), lit(1).as(s"__s$i")),
        Seq(userCol), "left")
    }.select(col(userCol),
      (1 to steps.size).map(i => coalesce(col(s"__s$i"), lit(0)))
        .reduce(_ + _).as("steps_completed"))
    funnelReportFromSteps(perUser, "steps_completed", steps)
  }

  /** The bounded-collection funnel — retained behind an explicit
    * `maxEventsPerUser` for callers that WANT the truncation semantics
    * (consider only each user's earliest k events; the streaming twin
    * bounds its per-user state the same way). A pathological key costs
    * O(k) buffer at every aggregation level, but the k-element priority
    * queues are object-aggregation work the min-chain path avoids —
    * prefer the default unless truncation is the point.
    */
  private def funnelReportCollected(
      events: DataFrame,
      typeCol: String,
      timeCol: String,
      tieCol: String,
      userCol: String,
      steps: Seq[String],
      maxEventsPerUser: Int): DataFrame = {
    val nSteps = steps.size
    val stepArr = array(steps.map(lit): _*)
    // NULL event times cannot order in a funnel: unfiltered, a NULL-ts
    // step-1 event sorts FIRST, greedily consumes step 1, and every later
    // `ts > NULL` comparison is NULL — the user freezes at step 1 where
    // the oracle's NULL-skipping min(ts) chains them through. Dropping
    // the rows is exactly the oracle's semantics. NULL user ids are
    // excluded for the same reason the min-chain path excludes them
    // (SQL join/group semantics would otherwise make the two documented-
    // equivalent paths disagree on n_users for unattributed events).
    val relevant = events.filter(col(typeCol).isin(steps: _*) &&
        col(timeCol).isNotNull && col(userCol).isNotNull)
      .select(col(userCol), col(timeCol).as("__ts"), col(tieCol).as("__tie"),
        col(typeCol).as("__et"))
    val perUser = relevant
      .groupBy(col(userCol))
      // Bounded top-k aggregate, NOT collect_list-then-slice: CollectTopK
      // holds a k-element priority queue at every aggregation level (map-
      // side partials included), so a pathological key costs O(k) buffer
      // — a full collect_list would materialize the whole key's events
      // before the cap and is exactly the skew OOM the cap exists to
      // prevent. reverse=true keeps the SMALLEST k under the struct's
      // natural (ts, tie, type) order; the re-sort makes the fold see the
      // identical prefix the sorted-list slice produced.
      .agg(array_sort(
        org.apache.spark.sql.graftbridge.ColumnBridge.collectTopK(
          struct(col("__ts"), col("__tie"), col("__et")),
          maxEventsPerUser, reverse = true)).as("evs"))
      .select(col(userCol),
        aggregate(col("evs"),
          // the accumulator's null literal takes the INPUT time type —
          // a hardcoded timestamp failed analysis for the epoch-long
          // timeCol shape the docstring's generic API admits
          struct(lit(0).as("step"),
            lit(null).cast(events.schema(timeCol).dataType).as("last_ts")),
          (acc, x) => {
            val step = acc.getField("step")
            val advance = step < nSteps &&
              x.getField("__et") === element_at(stepArr, step + 1) &&
              (step === 0 || x.getField("__ts") > acc.getField("last_ts"))
            when(advance, struct((step + 1).as("step"),
              x.getField("__ts").as("last_ts"))).otherwise(acc)
          }).getField("step").as("steps_completed"))
    funnelReportFromSteps(perUser, "steps_completed", steps)
  }

  /** The per-step report half of [[funnelReport]], published separately so
    * a STREAMING per-user funnel state ([[graft.streaming.EventsStream
    * .funnelStream]]) can drain into the identical report: takes a
    * `(user, stepsCol)` frame of chain positions and produces
    * `(step, event_type, n_users, frac_of_first)`.
    *
    * Scale shape: one aggregate over the user-sized frame onto an
    * `nSteps`-row dimension (theta join on a broadcast `nSteps`-row
    * range — bounded), then the 1-row first-step count broadcasts back.
    */
  def funnelReportFromSteps(
      perUserSteps: DataFrame,
      stepsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelReportFromSteps needs at least one step")
    val nSteps = steps.size
    val stepArr = array(steps.map(lit): _*)
    val counts = perUserSteps
      .groupBy(col(stepsCol).as("steps_completed"))
      .agg(count(lit(1)).as("n"))
    // Left join from the step dimension so a step nobody reached still
    // reports n_users = 0 (the oracle's empty-CTE count does the same).
    val reached = perUserSteps.sparkSession.range(1, nSteps + 1).toDF("step")
      .join(counts, col("steps_completed") >= col("step"), "left")
      .groupBy(col("step")).agg(coalesce(sum("n"), lit(0L)).as("n_users"))
    val first = reached.filter(col("step") === 1)
      .select(col("n_users").as("__first"))
    reached.crossJoin(broadcast(first))
      .select(col("step").cast("int").as("step"),
        element_at(stepArr, col("step").cast("int")).as("event_type"),
        col("n_users"),
        // guard the empty-funnel 0/0: Spark division yields NaN where
        // the oracle's SQL division yields NULL — publish NULL in both
        when(col("__first") > 0,
          round(col("n_users").cast("double") / col("__first"), 6))
          .as("frac_of_first"))
      .orderBy("step")
  }

  /** Cohort retention: cohort each user by the Monday-truncated week of
    * their FIRST event, mark every week they were active, and count users
    * per `(cohort_week, week_offset)` cell — the classic retention
    * triangle. Weeks are DATEs and `week_offset` is the integer-exact day
    * difference over 7 (aligned weeks, so always a whole number).
    *
    * Scale shape: ONE shuffle groups each user's events; `min(ts)` and the
    * distinct active-week set compute in the same aggregate (per-user
    * state is the bounded week set, not the event list). The exploded
    * (user, week) rows then aggregate on the (cohort_week, offset)
    * dimension — a tiny frame at any corpus size.
    */
  def cohortRetention(
      events: DataFrame,
      timeCol: String,
      userCol: String): DataFrame = {
    // DATE weeks, not timestamp weeks: ENGINE-VERSION-proof (some SQL
    // engines return DATE from date_trunc('week'), some TIMESTAMP). The
    // truncation itself happens in the SESSION time zone — this library
    // pins spark.sql.session.timeZone=UTC (Bench/Verify/specs), and the
    // streaming twin cohortStream truncates at ZoneOffset.UTC, so batch ≡
    // stream holds under that precondition; a consumer running another
    // session zone shifts boundary events into different cohort weeks.
    val week = date_trunc("week", col(timeCol)).cast("date")
    val perUser = events
      .select(col(userCol), week.as("__wk"))
      .groupBy(col(userCol))
      .agg(min(col("__wk")).as("cohort_week"),
        collect_set(col("__wk")).as("weeks"))
    cohortRetentionFromWeeks(perUser)
  }

  /** The triangle half of [[cohortRetention]], published separately so a
    * STREAMING per-user week-set state ([[graft.streaming.EventsStream
    * .cohortStream]]) can drain into the identical report: takes a
    * `(cohort_week DATE, weeks array<DATE>)` frame (one row per user) and
    * produces `(cohort_week, week_offset, n_users)`.
    */
  def cohortRetentionFromWeeks(perUserWeeks: DataFrame): DataFrame =
    perUserWeeks
      .select(col("cohort_week"), explode(col("weeks")).as("active_week"))
      .groupBy(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")

  /** Watermark late-data audit: replay an event log in ARRIVAL order and
    * count, per event-time hour, how many events a streaming job with
    * watermark delay `delayUs` would have dropped — the sizing study run
    * BEFORE picking a production watermark (too tight silently loses data;
    * too loose holds state). An event is late iff its event time is more
    * than `delayUs` behind the maximum event time among all STRICTLY
    * EARLIER arrivals (exactly Spark's watermark frontier, which advances
    * on batch boundaries at the latest — this audit is the per-event
    * tightest case).
    *
    * The running prev-max over arrival order is
    * [[PrefixScan.runningMaxExclusive]] bucketed by `batchUs`-wide
    * arrival micro-batches — a distributed prefix scan whose only ordered
    * pass is over the O(#batches) bucket summaries (metadata scale: a
    * year of 1-minute batches is ~526k tiny rows), never over events, and
    * whose decomposition is exact (bucket-width invariance is
    * spec-asserted).
    *
    * Returns `(window_start, n, n_late, late_frac, max_lag_us)` per
    * event-time hour: `late_frac` rounded to 6 dp, `max_lag_us` the worst
    * observed frontier lag (how far behind the running max an event's time
    * was), NULL for an hour with no laggards.
    */
  def lateDataAudit(
      events: DataFrame,
      arrivalUsCol: String,
      tieCol: String,
      tsCol: String,
      delayUs: Long,
      batchUs: Long = 60L * 1000000L): DataFrame = {
    // NULL event times have no hour and can never be counted late (every
    // comparison against the frontier is NULL): unfiltered they surfaced
    // as a phantom NULL-keyed window_start row
    val base = events.filter(col(tsCol).isNotNull).select(
      col(arrivalUsCol).cast("long").as("__arr"),
      col(tieCol).as("__tie"),
      col(tsCol).as("__ts"),
      unix_micros(col(tsCol)).as("__tsu"))
    // The frontier is [[PrefixScan.runningMaxExclusive]] bucketed by
    // `batchUs`-wide arrival micro-batches (NULL = first arrival overall).
    PrefixScan.runningMaxExclusive(base, "__arr", "__tie", "__tsu",
        floor(col("__arr") / lit(batchUs)), "__wm")
      .withColumn("__late",
        col("__wm").isNotNull && col("__tsu") < col("__wm") - lit(delayUs))
      .groupBy(date_trunc("hour", col("__ts")).as("window_start"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("__wm").isNotNull && col("__wm") > col("__tsu"),
          col("__wm") - col("__tsu"))).as("max_lag_us"))
      .withColumn("late_frac",
        round(col("n_late").cast("double") / col("n"), 6))
      .select(col("window_start"), col("n"), col("n_late"), col("late_frac"),
        col("max_lag_us"))
      // ordered like the sibling reports (funnel/cohort): an hour-keyed
      // audit read without an explicit sort must not flake across runs
      .orderBy("window_start")
  }
}
