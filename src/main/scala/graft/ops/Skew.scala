package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{CodegenSupport, FileSourceScanExec, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys at cluster scale.
  *
  * AQE's skew-join splitting handles most cases at runtime; these are the
  * explicit construction-time techniques for the two places it can't help:
  * single-key aggregation hot spots (two-phase salted aggregation) and
  * broadcast-ineligible skewed joins (key salting with replication).
  *
  * In this engine the natural use is gene-popularity skew in the
  * per-(patient, gene) grouping (SURVEY §7.4 item 6): tiny groups, but a
  * hot gene can own a partition at 1000× data.
  */
object Skew {

  /** Spread an under-split scan: when fewer input splits than the default
    * parallelism feed `df`'s output partitions, hash-repartition it on
    * `keys` to that parallelism, else return it untouched. One or a few
    * splits would serialize the per-row work after them onto that many
    * tasks (sf0.1: 0.7–3.4 s single-task stages in tokenization, span
    * hashing and grouped collection). The decision reads the plan and
    * runs nothing.
    */
  def spreadIfUnderSplit(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (splitsOf(df.queryExecution.executedPlan, p) < p) df.repartition(p, keys: _*) else df
  }

  /** Input splits feeding `plan`'s output partitions; `p` once a shuffle
    * placed them, 0 for a broadcast side. Pins, adaptive plans and query
    * stages count through the plans they wrap; an unknown leaf counts as
    * placed. A scan's splits are known on the driver; the file scan is
    * copied so the executing node still reports its listing metrics.
    */
  private def splitsOf(plan: SparkPlan, p: Int): Int = plan match {
    case _: ShuffleExchangeLike => p
    case _: BroadcastExchangeLike => 0
    case reused: ReusedExchangeExec => splitsOf(reused.child, p)
    case adaptive: AdaptiveSparkPlanExec => splitsOf(adaptive.executedPlan, p)
    case stage: QueryStageExec => splitsOf(stage.plan, p)
    case pinned: InMemoryTableScanExec => splitsOf(pinned.relation.cachedPlan, p)
    case scan: FileSourceScanExec => scan.copy().inputRDD.partitions.length
    case scan: LeafExecNode with CodegenSupport => scan.inputRDDs().map(_.partitions.length).sum
    case _: LeafExecNode => p
    case node => node.children.map(splitsOf(_, p)).sum
  }

  /** Two-phase salted aggregation: group by (keys, salt) first — spreading a
    * hot key over `saltBuckets` partial groups — then merge partials by the
    * real keys. `aggs` must be algebraic (re-aggregable): the caller supplies
    * the partial aggregate and the merge aggregate per output column.
    *
    * Example (count):
    * {{{
    *   saltedAggregate(df, Seq("k"), 16,
    *     partial = Seq(count(lit(1)).as("c")),
    *     merge = Seq(sum(col("c")).as("c")))
    * }}}
    */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      partial: Seq[Column],
      merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Salted join against a skewed build side: the probe side's hot keys are
    * split over `saltBuckets` sub-keys; the (smaller) build side is
    * replicated once per bucket. Equi-join semantics preserved; shuffle
    * partitions for a hot key shrink by `saltBuckets`.
    */
  def saltedJoin(
      probe: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      joinType: String = "inner"): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val replicatedBuild = build.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    saltedProbe
      .join(replicatedBuild, keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Key-skew diagnostics: the measurement that decides WHETHER to reach
    * for [[saltedAggregate]]/[[saltedJoin]] (or trust AQE) — per hot key,
    * its row count, corpus share, and the salt-bucket count that would
    * bring its salted sub-groups back to the average key's size
    * (`ceil(count / avg) = ceil(count·n_keys / total)`, computed in
    * doubles — see the overflow note at the expression). A key with
    * `salt_buckets = 1` doesn't need salting;
    * the report's top entry IS the partition that stalls a 1000-executor
    * stage.
    *
    * Scale shape: one map-side-combined count aggregate on the key, a
    * 1-row totals aggregate broadcast back, and a bounded top-k sort —
    * the corpus shuffles only count partials. Share ships as floor-ppm
    * (the tie-proof discipline).
    */
  def skewReport(
      df: DataFrame,
      keyCol: String,
      topK: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum("n").as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n"),
        // round-half-up ppm in pure Long arithmetic (engine-exact; safe
        // while total < ~4.6e12 rows — 2·(n mod total)·10⁶ stays in Long)
        expr("(n div __total) * 1000000L" +
          " + (2L * (n % __total) * 1000000L + __total) div (2L * __total)")
          .as("share_ppm"),
        // ceil(n·n_keys/total) via doubles: the integer form
        // div(n·n_keys + total − 1, total) overflows Long on the extreme
        // corpora this diagnostic targets (a ~1e9-row hot key in a
        // ~1e10-distinct-key table puts n·n_keys past 2^63 and the salt
        // factor goes negative). Exactness is not needed for a sizing
        // hint; doubles keep the value sane at any scale.
        ceil(col("n").cast("double") * col("__nkeys") / col("__total"))
          .cast("long").as("salt_buckets"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topK)
  }
}
