package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level tests ported from the reference's SqlTest / RowTest
  * semantics (`/root/reference/test/groovy/haplorec/test/util/SqlTest.groovy`,
  * `RowTest.groovy`).
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("selectWhereSubsetOf: A's set contained in B's set") {
    // A: rule sets; B: observation sets
    val a = Seq((10L, "x", "p"), (10L, "y", "q"), (20L, "z", "r"))
      .toDF("rule_id", "k1", "k2")
    val b = Seq(
      ("alice", "x", "p"), ("alice", "y", "q"), ("alice", "w", "w"), // superset of rule 10
      ("bob", "x", "p"), // strict subset of rule 10
      ("carol", "z", "r")) // exactly rule 20
      .toDF("who", "k1", "k2")
    val got = SetContainment.selectWhereSubsetOf(
      a, b, Seq("k1", "k2"), Seq("rule_id"), Seq("who"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "alice"), (20L, "carol")))
  }

  test("selectWhereEitherSubsetOf: containment in either direction") {
    val a = Seq((1L, "x"), (1L, "y"), (2L, "x")).toDF("ra", "k")
    val b = Seq(("m", "x"), ("n", "x"), ("n", "y"), ("n", "z")).toDF("rb", "k")
    val got = SetContainment.selectWhereEitherSubsetOf(
      a, b, Seq("k"), Seq("ra"), Seq("rb"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // rule1 {x,y} ⊆ n {x,y,z}; m {x} ⊆ rule1 {x,y}; rule2 {x} ⊆ m and ⊆ n
    assert(got == Set((1L, "m"), (1L, "n"), (2L, "m"), (2L, "n")))
  }

  test("groupedRowsToColumns: pairs, null padding, ordering, bad groups") {
    import GroupedRowsToColumns._
    val df = Seq(
      (1, "b"), (1, "a"), // pair, ordered -> (a, b)
      (2, "c"), // singleton -> (c, null)
      (3, "x"), (3, "y"), (3, "z")) // bad group of 3
      .toDF("g", "v")
    val (good, bad) = GroupedRowsToColumns(
      df,
      groupBy = Seq("g"),
      columnMap = Seq(Passthrough("g", "g"), Spread("v", Seq("v1", "v2"))),
      orderRowsBy = Seq("v"))
    val goodRows = good.collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(goodRows == Set((1, "a", Some("b")), (2, "c", None)))
    val badRows = bad.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(badRows == Set((3, "x"), (3, "y"), (3, "z")))
  }

  test("groupedRowsToColumns: caller-controlled fill order (SqlTest.groovy:86-96)") {
    import GroupedRowsToColumns._
    // Reference: columnMap ['x':'x', 'y':['y2','y1']] fills y2 BEFORE y1, so
    // a size-1 group leaves y1 null over y2: [1] -> [1, null, 2].
    val df = Seq((1, "2")).toDF("x", "y")
    val (good, _) = GroupedRowsToColumns(
      df,
      groupBy = Seq("x"),
      columnMap = Seq(Passthrough("x", "x"), Spread("y", Seq("y2", "y1"))),
      orderRowsBy = Seq("y"))
    assert(good.columns.toSeq == Seq("x", "y2", "y1"))
    val r = good.collect()(0)
    assert(r.getInt(0) == 1 && r.getString(1) == "2" && r.isNullAt(2))
  }

  test("upsert discard keeps existing, update replaces") {
    val existing = Seq(("k1", "old1"), ("k2", "old2")).toDF("k", "v")
    val incoming = Seq(("k2", "new2"), ("k3", "new3")).toDF("k", "v")
    val discarded = Upsert.discard(existing, incoming, Seq("k"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(discarded == Set(("k1", "old1"), ("k2", "old2"), ("k3", "new3")))
    val updated = Upsert.update(existing, incoming, Seq("k"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(updated == Set(("k1", "old1"), ("k2", "new2"), ("k3", "new3")))
  }

  test("upsert merge: caller-supplied update clause (Sql.groovy:399-408)") {
    import org.apache.spark.sql.functions._
    val existing = Seq(("k1", 10, "a"), ("k2", 20, "b")).toDF("k", "n", "tag")
    val incoming = Seq(("k2", 5, "B"), ("k3", 7, "c")).toDF("k", "n", "tag")
    // clause: n = old.n + new.n; tag keeps the existing value (not listed)
    val got = Upsert.merge(existing, incoming, Seq("k"),
        mergeCols = Map("n" -> ((old, nu) => old + nu)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(("k1", 10, "a"), ("k2", 25, "b"), ("k3", 7, "c")))
    // duplicate incoming keys collapse to one row before merging
    val dupNew = Seq(("k1", 1, "x"), ("k1", 2, "y")).toDF("k", "n", "tag")
    val merged = Upsert.merge(existing, dupNew, Seq("k"),
        mergeCols = Map("n" -> ((old, nu) => nu)), tieBreak = Seq("n"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(merged == Set(("k1", 1), ("k2", 20)))
  }

  test("noDuplicates: multi-group blanking, shared columns survive via any group") {
    // Reference example (Row.groovy:11-34): groups A=[a->[a,b]], B=[b->[b,c]]
    // rows [a:1,b:2,c:3], [a:1,b:3,c:3], [a:1,b:3,c:4]
    // expect [a:1,b:2,c:3], [b:3,c:3], [:]
    val df = Seq((1, 1, 2, 3), (2, 1, 3, 3), (3, 1, 3, 4)).toDF("ord", "a", "b", "c")
    val got = RowOps.noDuplicates(df,
      Seq(
        RowOps.DupGroup("A", Seq("a"), Seq("a", "b")),
        RowOps.DupGroup("B", Seq("b"), Seq("b", "c"))),
      ordering = Seq("ord"))
      .orderBy("ord")
      .collect()
      .map(r => (Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .toList
    assert(got == List(
      (Some(1), Some(2), Some(3)),
      (None, Some(3), Some(3)),
      (None, None, None)))
  }

  test("collapse: staircase merge of non-overlapping sparse rows") {
    // Reference: collapse([[a:1],[b:1],[c:1]]) == [[a:1,b:1,c:1]] (Row.groovy:112-118)
    val rows = Iterator(Map[String, Any]("a" -> 1), Map[String, Any]("b" -> 1),
      Map[String, Any]("c" -> 1))
    assert(RowOps.collapse(rows).toList ==
      List(Map("a" -> 1, "b" -> 1, "c" -> 1)))
    // Overlap forces a flush
    val rows2 = Iterator(Map[String, Any]("a" -> 1), Map[String, Any]("b" -> 2),
      Map[String, Any]("a" -> 3))
    assert(RowOps.collapse(rows2).toList ==
      List(Map("a" -> 1, "b" -> 2), Map("a" -> 3)))
  }

  test("collapseByGroup: 1M-row multi-patient report collapses distributed, never on the driver") {
    import org.apache.spark.sql.functions._
    // 10k patients × 100 ordered rows alternating sparse columns a / b:
    // within each patient, consecutive (a-only, b-only) rows merge pairwise.
    val df = spark.range(1000000)
      .select((col("id") % 10000).as("patient"),
        expr("id div 10000").as("seq"), col("id"))
      .select(col("patient"), col("seq"),
        when(col("seq") % 2 === 0,
          concat(lit("a"), col("id").cast("string"))).as("a"),
        when(col("seq") % 2 === 1,
          concat(lit("b"), col("id").cast("string"))).as("b"))
    val out = RowOps.collapseByGroup(df, Seq("patient"), Seq("seq"))
    assert(out.columns.toSeq == Seq("patient", "a", "b")) // ordering col dropped
    assert(out.count() == 500000L)
    assert(out.filter(col("a").isNull || col("b").isNull).count() == 0)
    // per-group staircase semantics: patient 0's first pair is rows
    // id=0 (seq 0, a="a0") and id=10000 (seq 1, b="b10000")
    val p0 = out.filter(col("patient") === 0)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(p0.size == 50 && p0.contains(("a0", "b10000")))
    // the plan is a shuffle on patient + per-partition iterators — no
    // driver-side toLocalIterator anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(patient"))
  }

  test("sparseRows guard: driver-side report iteration aborts past the row cap") {
    import org.apache.spark.sql.functions._
    val big = spark.range(100).select(col("id").as("a"))
    val it = RowOps.sparseRows(big, maxDriverRows = 10)
    intercept[IllegalStateException] { it.size }
  }

  test("sparseRows reads a multi-partition frame without a job per partition") {
    val df = spark.range(0, 64, 1, 16).toDF("a")
    val sc = spark.sparkContext
    val group = "ops-spec-sparse-rows"
    sc.setJobGroup(group, "sparseRows job count")
    val rows = try RowOps.sparseRows(df).toVector finally sc.clearJobGroup()
    assert(rows.map(_("a")) == (0L until 64L))
    // One bounded collect: its limit scan grows 1 → 4 → rest partitions,
    // where a per-partition read would take 16 jobs.
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    assert(jobs <= 3, s"$jobs jobs for 16 partitions")
  }
}
