package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salting utilities + SQL-surface registration of custom expressions. */
class SkewFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-skew-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("salted aggregate equals plain aggregate") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i.toDouble))
      .toDF("k", "v")
    val salted = Skew.saltedAggregate(df, Seq("k"), 8,
      partial = Seq(count(lit(1)).as("c"), sum($"v").as("s")),
      merge = Seq(sum($"c").as("c"), sum($"s").as("s")))
    val plain = df.groupBy("k").agg(count(lit(1)).as("c"), sum($"v").as("s"))
    val a = salted.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val b = plain.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("salted join equals plain join") {
    val probe = (1 to 500).map(i => (if (i % 5 == 0) "hot" else s"k$i", i)).toDF("k", "v")
    val build = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "tag")
    val salted = Skew.saltedJoin(probe, build, Seq("k"), 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val plain = probe.join(build, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain && salted.nonEmpty)
  }

  test("GraftExtensions injects the same functions via SparkSessionExtensions") {
    // A fresh session (same SparkContext) constructed with the extensions
    // entry point — the spark.sql.extensions deployment path.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions()(_))
        .getOrCreate()
      val row = extended.sql(
        "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect().head
      assert(row.getDouble(0) == 11.0)
      // Both paths expose the same scalar names: what the extensions add
      // to a plain session equals what register adds to one.
      def names(s: SparkSession): Set[String] =
        s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
      val plain = names(spark.newSession())
      val registered = spark.newSession()
      graft.functions.GraftFunctions.register(registered)
      val viaExtensions = names(extended) -- plain
      assert(viaExtensions == names(registered) -- plain)
      assert(viaExtensions.size == 12)
      assert(extended.sql("SELECT size(tokens('A b  c')) AS n").collect().head.getInt(0) == 3)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("custom expressions reachable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), "the quick brown fox jumps"))
      .toDF("a", "b", "text").createOrReplaceTempView("vecs")
    val row = spark.sql(
      """SELECT vec_dot(a, b) AS d,
                size(minhash_sig(shingle_set(text, 3), 4)) AS nsig,
                simhash64(split(text, ' ')) AS sh,
                size(ngram_set(text, 4)) AS ngrams
         FROM vecs""").collect().head
    assert(row.getDouble(0) == 11.0)
    assert(row.getInt(1) == 4)
    assert(row.getLong(2) != 0L)
    assert(row.getInt(3) > 0)
  }

  test("skewReport: hot key gets the salt factor that rebalances it") {
    // 4 keys: a=60, b=20, c=15, d=5 -> total 100, avg 25.
    val rows = Seq.fill(60)("a") ++ Seq.fill(20)("b") ++
      Seq.fill(15)("c") ++ Seq.fill(5)("d")
    val got = Skew.skewReport(rows.toDF("k"), "k", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 3)
    // a: share 60%, salt ceil(60/25) = 3; b: ceil(20/25) = 1 (no salting).
    assert(got(0) == (("a", 60L, 600000L, 3L)))
    assert(got(1) == (("b", 20L, 200000L, 1L)))
    assert(got(2) == (("c", 15L, 150000L, 1L)))
  }
}
