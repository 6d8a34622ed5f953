package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Randomized differential checks: each distributed operator is compared
  * against a straightforward in-memory Scala reimplementation of the
  * reference semantics on seeded random inputs — correctness evidence
  * independent of both the fixed DuckDB oracles and the hand-picked spec
  * fixtures. Seeds are fixed, so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-property-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def trials(n: Int)(body: scala.util.Random => Unit): Unit =
    (1 to n).foreach(seed => body(new scala.util.Random(seed)))

  test("selectWhereSubsetOf ≡ naive subset semantics (random relations)") {
    trials(12) { rnd =>
      val aRows = List.fill(24)((s"a${rnd.nextInt(5)}", rnd.nextInt(6))).distinct
      val bRows = List.fill(24)((s"b${rnd.nextInt(5)}", rnd.nextInt(6))).distinct
      val got = SetContainment.selectWhereSubsetOf(
          aRows.toDF("ga", "v"), bRows.toDF("gb", "v"),
          Seq("v"), Seq("ga"), Seq("gb"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val aSets = aRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val bSets = bRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val expected = (for {
        (ga, sa) <- aSets; (gb, sb) <- bSets if sa.subsetOf(sb)
      } yield (ga, gb)).toSet
      assert(got == expected, s"seed-dependent input: A=$aRows B=$bRows")
    }
  }

  test("groupedRowsToColumns ≡ naive pivot incl. bad-group routing") {
    import GroupedRowsToColumns._
    trials(12) { rnd =>
      val rows = List.fill(20)((rnd.nextInt(6), rnd.nextInt(21))).distinct
      val (good, bad) = GroupedRowsToColumns(rows.toDF("g", "y"),
        groupBy = Seq("g"),
        columnMap = Seq(Passthrough("g", "g"), Spread("y", Seq("y1", "y2"))),
        orderRowsBy = Seq("y"))
      val gotGood = good.collect()
        .map(r => (r.getInt(0),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
      val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      val expGood = groups.collect { case (g, ys) if ys.size <= 2 =>
        (g, ys.headOption, ys.drop(1).headOption)
      }.toSet
      assert(gotGood == expGood, s"input: $rows")
      val gotBad = bad.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val expBad = groups.filter(_._2.size > 2).flatMap { case (g, ys) =>
        ys.map(y => (g, y))
      }.toSet
      assert(gotBad == expBad, s"input: $rows")
    }
  }

  test("noDuplicates ≡ naive first-occurrence blanking (random rows)") {
    trials(12) { rnd =>
      val rows = List.tabulate(18)(i => (i, rnd.nextInt(5), rnd.nextInt(6)))
      val got = RowOps.noDuplicates(rows.toDF("ord", "k", "v"),
          Seq(RowOps.DupGroup("g", Seq("k"), Seq("k", "v"))), Seq("ord"))
        .collect().map(r => (r.getInt(0),
          if (r.isNullAt(1)) None else Some(r.getInt(1)),
          if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
      val firstOrd = rows.groupBy(_._2).view.mapValues(_.map(_._1).min)
      val expected = rows.map { case (ord, k, v) =>
        if (firstOrd(k) == ord) (ord, Some(k), Some(v)) else (ord, None, None)
      }.toSet
      assert(got == expected, s"input: $rows")
    }
  }

  test("noDuplicates ≡ naive one-pass blanking (shared columns, null keys, ties, 16 partitions)") {
    // A shows k1 that C keys on; A and B share v2, A and C share v1.
    val groups = Seq(
      RowOps.DupGroup("A", Seq("k1", "k2"), Seq("k1", "v1", "v2")),
      RowOps.DupGroup("B", Seq("k2", "k3"), Seq("v2", "v3")),
      RowOps.DupGroup("C", Seq("k1"), Seq("v1", "k3")))
    val cols = Seq("o1", "o2", "seq", "k1", "k2", "k3", "v1", "v2", "v3")
    trials(10) { rnd =>
      def maybe(n: Int): Option[Int] = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(n))
      // o1/o2 tie often (o2 may be null); seq, the last order column, is unique
      val rows = rnd.shuffle((0 until 40).toList).map(seq => (rnd.nextInt(2), maybe(2), seq,
        rnd.nextInt(3), maybe(3), maybe(3), rnd.nextInt(9), maybe(9), rnd.nextInt(9)))
      val got = RowOps.noDuplicates(rows.toDF(cols: _*).repartition(16), groups,
          Seq("o1", "o2", "seq"))
        .collect().map(r => cols.indices.map(i => Option(r.get(i)))).toList
      val at = cols.zipWithIndex.toMap
      val seen = groups.map(_ => scala.collection.mutable.Set.empty[Seq[Option[Any]]])
      val expected = rows.sortBy(r => (r._1, r._2, r._3)).map { t =>
        val r = t.productIterator.map {
          case o: Option[_] => o
          case v => Some(v)
        }.toIndexedSeq
        val first = groups.zip(seen).map { case (g, s) => s.add(g.duplicateKey.map(c => r(at(c)))) }
        cols.indices.map { i =>
          val by = groups.indices.filter(g => groups(g).columnsToShow.contains(cols(i)))
          if (by.isEmpty || by.exists(first)) r(i) else None
        }
      }
      assert(got == expected, s"input: $rows")
    }
  }

  test("duplicateClusters ≡ naive union-find (random edge lists)") {
    trials(10) { rnd =>
      val edges = List.fill(15)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (edges.nonEmpty) {
        val got = Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.groupBy(find).flatMap { case (_, members) =>
          val m = members.min
          members.map(_ -> m)
        }
        assert(got == expected, s"edges: $edges")
      }
    }
  }

  test("upsert merge ≡ naive keyed merge (random tables)") {
    trials(12) { rnd =>
      val ex = List.fill(10)((s"k${rnd.nextInt(6)}", rnd.nextInt(50)))
        .distinctBy(_._1)
      val nu = List.fill(10)((s"k${rnd.nextInt(6)}", rnd.nextInt(50)))
        .distinctBy(_._1)
      val got = Upsert.merge(ex.toDF("k", "n"), nu.toDF("k", "n"), Seq("k"),
          mergeCols = Map("n" -> ((o, n) => o + n)))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      val nuMap = nu.toMap
      val exMap = ex.toMap
      val expected =
        ex.map { case (k, v) => (k, nuMap.get(k).map(_ + v).getOrElse(v)) } ++
          nu.filterNot(t => exMap.contains(t._1))
      assert(got == expected.toSet, s"ex=$ex nu=$nu")
    }
  }
}
