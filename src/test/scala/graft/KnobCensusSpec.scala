package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every option the engine reads by name: the `spark.graft.*` session conf
  * keys and the `SPARK_GRAFT_*` environment variables spelled as string
  * literals in the main sources, examples included. The census is checked
  * in, so an option added or removed fails this spec until the list
  * changes with it, in the same diff.
  */
class KnobCensusSpec extends AnyFunSuite {

  private val knob = """"(spark\.graft\.[A-Za-z0-9_.]+|SPARK_GRAFT_[A-Z0-9_]+)"""".r

  private val census = Set(
    "spark.graft.markerRetentionBatches",
    "spark.graft.maxBenchGrams",
    "spark.graft.maxBoilerSegments",
    "spark.graft.maxBroadcastQueries",
    "spark.graft.maxQueryVocab",
    "spark.graft.stripPrefilterCells",
    "spark.graft.stripPrefilterMaxCells",
    "spark.graft.stripPrefilterMinDocs",
    "spark.graft.test.failpoint",
    "SPARK_GRAFT_BENCH_ATTEMPTS",
    "SPARK_GRAFT_BENCH_DETAIL",
    "SPARK_GRAFT_BENCH_LOAD_GATE",
    "SPARK_GRAFT_BENCH_LOAD_WAIT",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_PROBE_GATE",
    "SPARK_GRAFT_BENCH_PROBE_WAIT",
    "SPARK_GRAFT_BENCH_REPEATS",
    "SPARK_GRAFT_BENCH_RETRY_BUDGET",
    "SPARK_GRAFT_BENCH_RETRY_DRIFT",
    "SPARK_GRAFT_BENCH_TAG",
    "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_EPHEMERAL_CKPT",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_STATE_PARTITIONS",
    "SPARK_GRAFT_VERIFY_TWICE",
    "SPARK_GRAFT_VOCAB")

  test("the options the main sources read by name are the checked-in census") {
    val main = new java.io.File("src/main")
    val found = HoldSitesSpec.codeHits(knob, withExamples = true, main)
      .flatMap(_._2).flatMap { case (l, _) => knob.findAllMatchIn(l).map(_.group(1)) }
      .toSet
    assert(found -- census == Set.empty, "options not in the census (add each " +
      "to the list, and say why it is needed):\n" + (found -- census).toSeq.sorted.mkString("\n"))
    assert(census -- found == Set.empty, "census options no source reads " +
      "(drop them from the list):\n" + (census -- found).toSeq.sorted.mkString("\n"))
  }
}
