package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The bounded driver collect behind every `spark.graft.*` cap on a set
  * that reaches the driver and then ships with the plan (benchmark grams,
  * boiler segments, pre-filter cells, query vocabulary, query rows).
  */
private[ops] object DriverCollect {

  /** The session's `key` cap, `default` when unset; ≤ 0 means no cap. A
    * cap at or past `Int.MaxValue` fails as `s"$key=$cap: $tooLarge"`: a
    * set that large could not ship with the plan anyway.
    */
  def cap(spark: SparkSession, key: String, default: Long,
      tooLarge: String): Long = {
    val cap = spark.conf.getOption(key).map(_.toLong).getOrElse(default)
    require(cap <= 0 || cap < Int.MaxValue, s"$key=$cap: $tooLarge")
    cap
  }

  /** `df`'s rows, or `None` when it has more than `cap` of them. The limit
    * sits inside the collecting plan, so at most cap + 1 rows ever reach
    * the driver. `cap` ≤ 0 collects everything.
    */
  def upTo(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) Some(df.collect())
    else Some(df.limit(cap.toInt + 1).collect()).filter(_.length <= cap)
}
