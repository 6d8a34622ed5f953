package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.PinBridge

/** The one way a reused or barrier frame is held. Three verbs:
  *
  *  - [[pin]] — reuse or barrier, KEEPS lineage. The frame becomes a lazy
  *    columnar-cache leaf: computed once by the first action that reads
  *    it, carrying real post-materialization statistics (broadcast
  *    decisions see its true size), and an optimizer fence (nothing is
  *    inlined or pushed through it). Lost blocks recompute from lineage.
  *    The leaf is not registered in the session's cache manager, so
  *    Spark's context cleaner frees its blocks once the frame is
  *    unreachable, without any release call.
  *  - [[truncate]] — iterative loops, CUTS lineage. Each iteration's
  *    plan references the previous frame; without a cut the plan (and
  *    its planning cost) grows per iteration. The frame is materialized
  *    eagerly and replaced by an RDD leaf: reliable (`checkpoint()`) when
  *    the SparkContext has a checkpoint dir (the cluster posture, where
  *    executor loss must not kill a half-finished build), otherwise
  *    executor-storage (`localCheckpoint()`).
  *  - [[release]] — drop a frame's storage now rather than at the next
  *    GC: loops release each superseded iteration so in-flight storage
  *    stays one frame deep.
  */
private[graft] object Checkpoints {

  /** Hold `df` for reuse as a lazy, recoverable, self-freeing leaf. */
  def pin(df: DataFrame): DataFrame = PinBridge.pin(df)

  /** Materialize `df` and truncate its lineage to a leaf. Reliable
    * (checkpoint-dir) when the SparkContext has one set, local otherwise.
    */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Release the storage behind a [[pin]]ned or [[truncate]]d frame. No-op
    * for other frames.
    *
    * A released pin stays usable (a later action recomputes it). A
    * released truncation does not: it has no lineage, so call sites
    * release it only after the frame that replaces it is materialized AND
    * every plan still to be executed reads the replacement. For RELIABLE
    * checkpoints the files are deleted too — Spark's context cleaner does
    * not delete reliable checkpoint data under default config
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` is false), so
    * without this a thousand-iteration loop would fill the checkpoint dir
    * with one full frame copy per iteration.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case pinned: InMemoryRelation => pinned.cacheBuilder.clearCache(blocking = false)
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      case _ => ()
    }
}
