package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf

/** Bridge into Spark's `private[sql]` columnar-cache construction, needed
  * by `graft.ops.Checkpoints.pin`. Lives under the `org.apache.spark.sql`
  * package solely for access; no Spark internals are modified.
  */
object PinBridge {

  /** `df` over an [[InMemoryRelation]] leaf built exactly as
    * `CacheManager.cacheQuery` builds one (same session config overrides,
    * same normalized plan, the session's default cache storage level), but
    * never registered with the session's cache manager.
    */
  def pin(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val off = Seq(SQLConf.AUTO_BUCKETED_SCAN_ENABLED) ++
      (if (session.sessionState.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
      else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val built = SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    val relation = built.withActive {
      InMemoryRelation(session.sessionState.conf.defaultCacheStorageLevel,
        built.sessionState.executePlan(ds.queryExecution.normalized), None)
    }
    Dataset.ofRows(session, relation)
  }
}
