package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.util.sketch.BloomFilter

/** Sketch-based pruning for cluster-scale joins.
  *
  * The 100 TB problem: joining a huge fact table against a selective
  * dimension shuffles the whole fact side even though most rows find no
  * match. A Bloom filter of the dimension keys — built distributed
  * (per-partition sketches merged), broadcast once — drops non-matching
  * fact rows AT THE SCAN, before the shuffle. False positives only cost a
  * little extra shuffle volume; the join itself stays exact, so results
  * are bit-identical to the unpruned join (which is what the q39 oracle
  * checks). This is the manual form of Spark's runtime row-group filtering,
  * usable where AQE's automatic injection doesn't reach (non-equi
  * residuals, pre-aggregated inputs, reused sketches across queries).
  */
object Sketches {

  /** Distributed Bloom filter of `keyCol` (per-partition sketches,
    * tree-merged; integral keys hash as longs, strings as UTF-8 bytes).
    *
    * @param expectedItems sizing hint; negative means "count the frame"
    *                      (one columnar count job, fine for an explicit
    *                      build step)
    */
  def bloomFilterFor(
      df: DataFrame,
      keyCol: String,
      expectedItems: Long = -1L,
      fpp: Double = 0.03): BloomFilter = {
    val n = if (expectedItems > 0) expectedItems else math.max(1L, df.count())
    df.stat.bloomFilter(keyCol, n, fpp)
  }

  /** Keep only rows whose key MIGHT be in the sketch (no false negatives:
    * every true match survives). The predicate is a broadcast probe —
    * no shuffle, evaluated inside the scan stage.
    */
  def bloomPrune(big: DataFrame, keyCol: String, bloom: BloomFilter): DataFrame = {
    val bc = big.sparkSession.sparkContext.broadcast(bloom)
    big.schema(keyCol).dataType match {
      case StringType =>
        val p = udf((s: String) => s != null && bc.value.mightContainString(s))
        big.filter(p(col(keyCol)))
      case _ =>
        val p = udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
        big.filter(p(col(keyCol).cast("long")))
    }
  }

  /** Bloom-pruned equi join: sketch the (selective) dimension's keys, prune
    * the fact side, then join exactly. Result ≡ `big.join(dim, cond)`;
    * the pruned side ships `|matches| + fpp × |big|` rows to the shuffle
    * instead of `|big|`.
    */
  def bloomPrunedJoin(
      big: DataFrame,
      dim: DataFrame,
      bigKey: String,
      dimKey: String,
      expectedItems: Long = -1L,
      fpp: Double = 0.03): DataFrame = {
    val bloom = bloomFilterFor(dim, dimKey, expectedItems, fpp)
    val pruned = bloomPrune(big, bigKey, bloom)
    if (bigKey == dimKey) pruned.join(dim, bigKey)
    else pruned.join(dim, col(bigKey) === col(dimKey))
  }

  /** Approximate distinct count (HyperLogLog++) — the constant-memory
    * answer to COUNT(DISTINCT) over 100 TB. `rsd` is the target relative
    * standard deviation (Spark default 0.05).
    */
  def approxDistinct(df: DataFrame, keyCol: String, rsd: Double = 0.05): Long =
    df.select(approx_count_distinct(col(keyCol), rsd).as("n"))
      .collect()(0).getLong(0)

  /** Approximate quantiles via the Greenwald-Khanna sketch — single pass,
    * bounded memory, mergeable across partitions.
    */
  def approxQuantiles(
      df: DataFrame,
      valueCol: String,
      probabilities: Array[Double],
      relativeError: Double = 0.01): Array[Double] =
    df.stat.approxQuantile(valueCol, probabilities, relativeError)
}
