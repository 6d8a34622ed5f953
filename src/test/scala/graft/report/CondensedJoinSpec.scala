package graft.report

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import CondensedJoin._

/** Duplicate blanking over rows that tie on every ordering column. */
class CondensedJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-condensed-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fully tied rows: every duplicate group shows its columns on the same first row") {
    import spark.implicits._
    // 1 x 12 x 3 identical join rows, spread over several partitions: they
    // tie on every order snapshot, and each group's window sees them all
    // under one duplicate key.
    val a = Seq((1L, "x")).toDF("k", "x")
    val b = Seq.fill(12)((1L, "y")).toDF("k", "y").repartition(4)
    val c = Seq.fill(3)((1L, "z")).toDF("k", "z").repartition(3)
    val spec = Spec(
      select = Seq("a" -> Seq("x"), "b" -> Seq("y"), "c" -> Seq("z")),
      root = "a",
      joins = Seq(
        Join("b", "left", _ => col2("a", "k") === col2("b", "k")),
        Join("c", "left", _ => col2("a", "k") === col2("c", "k"))),
      duplicateKey = Map(
        "a" -> Seq(Own("k")),
        "b" -> Seq(Own("y")),
        "c" -> Seq(Own("z"))))
    val rows = condensed(spec, Map("a" -> a, "b" -> b, "c" -> c)).collect().toSeq
    assert(rows.size === 36)
    assert(rows.head === Row("x", "y", "z"))
    assert(rows.tail.forall(_.toSeq.forall(_ == null)),
      rows.filter(_.toSeq.exists(_ != null)).mkString("\n"))
  }
}
