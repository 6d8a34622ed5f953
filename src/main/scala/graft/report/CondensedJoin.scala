package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.RowOps

/** Spec-driven multi-table left-join report with duplicate-group suppression
  * ("condensed join").
  *
  * Reference: `/root/reference/src/groovy/haplorec/util/sql/Report.groovy:38-171`.
  * The reference assembles one SQL string selecting every column of every
  * table, relies on unspecified fetch order, and condenses rows in a
  * driver-side iterator chain. Here the join/dup-suppression/projection run
  * distributed with an explicit deterministic ORDER BY (fixing the
  * reference's acknowledged ordering hole, `sql/Report.groovy:90-93`), and
  * only the order-dependent staircase collapse touches the driver — report
  * output is human-readable scale by construction.
  *
  * Columns are namespaced `table__column` (the reference uses
  * `table.column`).
  */
object CondensedJoin {

  /** One duplicate-key component: a column of the group's own table or of
    * another table in the join.
    */
  sealed trait KeyPart
  final case class Own(column: String) extends KeyPart
  final case class Foreign(table: String, column: String) extends KeyPart

  /** One join step: `table` joined with `joinType` on either USING columns
    * (paired against any previously-joined table's namespaced column) or an
    * explicit condition over namespaced columns.
    */
  final case class Join(
      table: String,
      joinType: String,
      condition: Seq[(String, String)] => Column)

  /** Report spec.
    *
    * @param select       table -> visible columns, in output order
    * @param root         the table every join hangs off (no join clause)
    * @param joins        ordered join steps
    * @param duplicateKey per select-table duplicate key; defaults to all of
    *                     the table's columns when absent
    */
  final case class Spec(
      select: Seq[(String, Seq[String])],
      root: String,
      joins: Seq[Join],
      duplicateKey: Map[String, Seq[KeyPart]] = Map.empty)

  def col2(table: String, column: String): Column = col(s"${table}__$column")
  def name2(table: String, column: String): String = s"${table}__$column"

  /** The standard USING-style join condition: each column pairs against
    * the LAST previously-joined table that exposes it (the reference
    * report chains join each stage against the nearest upstream stage).
    */
  def usingOn(have: Seq[(String, String)], table: String,
      cols: Seq[String]): Column =
    cols.map { c =>
      val (lt, _) = have.findLast { case (_, lc) => lc == c }
        .getOrElse(throw new IllegalArgumentException(
          s"no source for USING column $c"))
      col2(lt, c) === col2(table, c)
    }.reduce(_ && _)

  /** Run the join + windowed duplicate suppression + projection. Returns the
    * condensed frame with namespaced columns in select order, ordered
    * deterministically (header-order columns, nulls last within each).
    */
  def condensed(spec: Spec, tables: Map[String, DataFrame]): DataFrame = {
    // One projection per table, not a withColumnRenamed fold: each fold
    // step nests another Project, and the analyzer re-walks the whole
    // tree per level — at 9 tables × up to 8 columns the report paid
    // measurable driver analysis time for plans the optimizer collapses
    // anyway (guide §1.2 per-task → §5 driver work).
    def prefixed(table: String): DataFrame = {
      val df = tables(table)
      df.select(df.columns.map(c => col(c).as(name2(table, c))): _*)
    }

    var joined = prefixed(spec.root)
    var have: Seq[(String, String)] = tables(spec.root).columns.map(c => (spec.root, c))
    spec.joins.foreach { j =>
      val right = prefixed(j.table)
      joined = joined.join(right, j.condition(have), j.joinType)
      have = have ++ tables(j.table).columns.map(c => (j.table, c))
    }

    // Deterministic report order: all output-header columns ascending nulls
    // first — clusters parent rows before their children, which is what the
    // staircase collapse needs.
    val headerCols = spec.select.flatMap { case (t, cs) => cs.map(c => name2(t, c)) }
    val dupAllCols = spec.select.flatMap { case (t, _) =>
      spec.duplicateKey.getOrElse(t, Nil).collect {
        case Own(c) => name2(t, c)
        case Foreign(ft, c) => name2(ft, c)
      }
    }
    val ordNames = (dupAllCols ++ headerCols).distinct
    // Stable row order is fixed BEFORE duplicate-blanking (the reference
    // blanks later duplicates of the fetch order; re-sorting after blanking
    // would push nulled rows ahead of their dense first occurrence). The
    // order is carried as SNAPSHOTS of the ordering columns (`__ordN`
    // copies taken before blanking): the first-occurrence windows and the
    // final sort order by the snapshots' pre-blank values, which is exactly
    // the order a dense id assigned in orderCols order would give. Rows
    // tying on every ordering column are identical in every OUTPUT column
    // (orderCols covers the full header and all duplicate keys it
    // displays), but each group's window would otherwise pick its own
    // "first" among them — one tied row could keep group A's columns and
    // another group B's. The last snapshot, `__ordTie`, is one
    // `monotonically_increasing_id()` taken here, before any window: it
    // makes the order total, so every window and the final sort agree on
    // which tied row comes first. The historical materialized dense id
    // (range-partitioned zipWithIndex) cost a RangePartitioner sample job,
    // a zipWithIndex partition-count job, one extra full exchange of the
    // joined frame and an RDD round trip out of codegen PER REPORT — pure
    // action churn at report scale and a strict superset of the shuffles
    // the snapshots need at any scale.
    val snapNames = ordNames.indices.map(i => s"__ord$i")
    val ordered = joined.select(
      joined.columns.map(col) ++
        ordNames.zip(snapNames).map { case (c, s) => col(c).as(s) } :+
        monotonically_increasing_id().as("__ordTie"): _*)
    val orderNames = snapNames :+ "__ordTie"

    val groups = spec.select.map { case (t, visible) =>
      val key = spec.duplicateKey.get(t) match {
        case Some(parts) => parts.map {
          case Own(c) => name2(t, c)
          case Foreign(ft, c) => name2(ft, c)
        }
        case None => tables(t).columns.toSeq.map(c => name2(t, c))
      }
      RowOps.DupGroup(t.replace(".", "_"), key, visible.map(c => name2(t, c)))
    }
    val deduped = RowOps.noDuplicates(ordered, groups, orderNames)

    deduped
      .orderBy(orderNames.map(c => col(c).asc_nulls_first): _*)
      .select(headerCols.map(col): _*)
  }

  /** Driver-side staircase collapse with the reference's canCollapse rule
    * (`sql/Report.groovy:94-141`): rows merge when either is empty, their
    * non-null columns don't overlap, AND the current row's first column comes
    * after the accumulated row's last column in header order.
    */
  def collapseRows(df: DataFrame): Iterator[Map[String, Any]] = {
    val header = df.columns.toVector
    val idx = header.zipWithIndex.toMap
    RowOps.collapse(
      RowOps.sparseRows(df),
      canCollapse = (acc, next) => {
        if (acc.isEmpty || next.isEmpty) true
        else if (acc.keySet.intersect(next.keySet).nonEmpty) false
        else {
          val firstNext = next.keys.map(idx).min
          val lastAcc = acc.keys.map(idx).max
          firstNext > lastAcc
        }
      })
  }

  /** Render collapsed rows as a DSV (header + rows; nulls/missing → "").
    * Reference: `Row.asDSV` (`Row.groovy:235-305`).
    */
  def toDsv(header: Seq[String], rows: Iterator[Map[String, Any]],
      sep: String = "\t"): String = {
    val sb = new StringBuilder
    sb.append(header.mkString(sep)).append('\n')
    rows.foreach { r =>
      sb.append(header.map(h => r.get(h).map(_.toString).getOrElse("")).mkString(sep))
        .append('\n')
    }
    sb.toString
  }
}
