package graft.ops

import org.apache.spark.sql.SparkSession

/** Test-only crash injection for the streaming keyed sinks' recovery
  * probes.
  *
  * The sinks' exactly-once story rests on one replay fence (the staged
  * writers' `__pub/b<id>` publication witnesses, [[KeyedState]]) plus
  * replay-safe regeneration, and the riskiest window is a crash AFTER the
  * state writes land but BEFORE Structured Streaming commits the
  * micro-batch to its checkpoint — on restart Spark re-delivers the batch
  * and the witnesses must absorb it.
  * Simulating that window by hand-editing state dirs only tests the
  * simulation; these failpoints instead throw INSIDE `foreachBatch`, so
  * the query genuinely fails mid-stream and the restart genuinely runs
  * Spark's own checkpoint-recovery replay.
  *
  * Armed via session conf `spark.graft.test.failpoint` =
  * `"<name>:<batchId>"`; a production run never sets the conf, so every
  * [[hit]] is one branch on an absent conf entry — no cost, no behavior
  * change. One arm fires one crash: specs disarm (unset) before the
  * restart.
  */
object Failpoint {

  /** Distinct type so specs assert they caught the INJECTED failure, not
    * an incidental one. */
  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  def armed(spark: SparkSession, name: String, batchId: Long): Boolean =
    spark.conf.getOption("spark.graft.test.failpoint")
      .contains(s"$name:$batchId")

  /** Throw [[InjectedCrash]] iff the failpoint `name` is armed for this
    * `batchId`; no-op otherwise. */
  def hit(spark: SparkSession, name: String, batchId: Long): Unit =
    if (armed(spark, name, batchId))
      throw new InjectedCrash(
        s"injected crash at failpoint $name, batch $batchId")
}
