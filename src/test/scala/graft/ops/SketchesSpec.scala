package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sketch-based join pruning: no false negatives, real candidate
  * reduction, and exactness of the pruned join.
  */
class SketchesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sketches-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("bloom prune: every true match survives, most non-matches drop") {
    val big = (1L to 10000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val dim = (1L to 10000L by 100).map(i => (i, s"dim$i")).toDF("k", "name") // 100 keys
    val bloom = Sketches.bloomFilterFor(dim, "k", fpp = 0.01)
    val pruned = Sketches.bloomPrune(big, "k", bloom)
    val prunedKeys = pruned.select("k").as[Long].collect().toSet
    val dimKeys = dim.select("k").as[Long].collect().toSet
    assert(dimKeys.subsetOf(prunedKeys), "bloom dropped a true match")
    // at fpp=1% over 10k rows, expect ~100 matches + ~100 false positives
    assert(prunedKeys.size < 1000, s"pruning too weak: ${prunedKeys.size} of 10000")
  }

  test("bloom-pruned join is exactly the plain join (long and string keys)") {
    val big = (1L to 5000L).map(i => (i, i % 7)).toDF("k", "v")
    val dim = Seq((14L, "a"), (700L, "b"), (4999L, "c")).toDF("k", "name")
    val plain = big.join(dim, "k").collect().map(_.toString).sorted
    val pruned = Sketches.bloomPrunedJoin(big, dim, "k", "k")
      .collect().map(_.toString).sorted
    assert(pruned.toSeq == plain.toSeq)

    val bigS = (1 to 2000).map(i => (s"key$i", i)).toDF("s", "v")
    val dimS = Seq(("key5", 1), ("key1999", 2)).toDF("s", "w")
    val plainS = bigS.join(dimS, "s").collect().map(_.toString).sorted
    val prunedS = Sketches.bloomPrunedJoin(bigS, dimS, "s", "s")
      .collect().map(_.toString).sorted
    assert(prunedS.toSeq == plainS.toSeq)
  }

  test("approx sketches: HLL distinct and GK quantiles within tolerance") {
    val df = (1L to 20000L).map(i => (i % 1000, i.toDouble)).toDF("k", "x")
    val approx = Sketches.approxDistinct(df, "k")
    assert(math.abs(approx - 1000L) <= 100, s"HLL estimate $approx off >10%")
    val Array(p50) = Sketches.approxQuantiles(df, "x", Array(0.5))
    assert(math.abs(p50 - 10000.0) <= 500, s"median estimate $p50 off")
  }
}
