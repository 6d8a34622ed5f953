package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sort-based group-to-columns pivot: collapse each group of rows into one
  * row, spreading the i-th row's value of a "spread" column into the i-th
  * target column.
  *
  * Reference semantics: `/root/reference/src/groovy/haplorec/util/Sql.groovy:230-335`
  * (`groupedRowsToColumns`): rows are grouped on `groupBy`, ordered within the
  * group by `orderRowsBy`; passthrough columns take the first row's value;
  * groups larger than the widest spread mapping are routed to a "bad groups"
  * output instead of being pivoted; short groups pad with nulls.
  *
  * The reference streams pre-sorted rows through the driver; here it is a
  * single hash aggregate (`collect_list` of small structs + `sort_array`) —
  * one shuffle on the group key, no global sort, safe at scale because group
  * sizes are bounded by the spread width (oversized groups are diverted, and
  * group cardinality in all uses is per-entity tiny).
  */
object GroupedRowsToColumns {

  /** Mapping from a source column to its target column(s): `Passthrough`
    * copies the first row's value; `Spread` maps row i to target(i).
    */
  sealed trait ColumnMapping { def source: String }
  final case class Passthrough(source: String, target: String) extends ColumnMapping
  final case class Spread(source: String, targets: Seq[String]) extends ColumnMapping

  /** Pivot `df`.
    *
    * @param groupBy     group-identity columns
    * @param columnMap   per-source-column mapping
    * @param orderRowsBy order of rows within a group (decides which value
    *                    lands in target 1 vs target 2); defaults to the
    *                    spread source columns
    * @return (pivoted rows, bad groups) — bad groups are the original rows of
    *         groups wider than the spread allows (reference `Sql.groovy:278-298`
    *         routes them to a callback and does NOT insert them)
    */
  def apply(
      df: DataFrame,
      groupBy: Seq[String],
      columnMap: Seq[ColumnMapping],
      orderRowsBy: Seq[String] = Nil
  ): (DataFrame, DataFrame) = {
    val spreads = columnMap.collect { case s: Spread => s }
    val maxGroupSize = if (spreads.isEmpty) 1 else spreads.map(_.targets.size).max
    val orderCols =
      if (orderRowsBy.nonEmpty) orderRowsBy else spreads.map(_.source)

    // Carried per row: order columns first (so sort_array orders the group
    // by them), then every non-groupBy source column.
    val carried = (orderCols ++ columnMap.map(_.source).filterNot(orderCols.contains))
      .filterNot(groupBy.contains)
      .distinct
    val rowsCol = "__rows"
    // Spread on the GROUP KEY: collect_list has no map-side reduction, so
    // the groupBy reuses this exchange instead of adding one.
    val grouped = Skew.spreadIfUnderSplit(df, groupBy.map(col): _*)
      .groupBy(groupBy.map(col): _*)
      .agg(sort_array(collect_list(struct(carried.map(col): _*))).as(rowsCol))

    val sizeOk = size(col(rowsCol)) <= maxGroupSize

    def sourceValue(m: ColumnMapping, i: Int): Column =
      if (groupBy.contains(m.source)) col(m.source)
      else {
        // i-th row's value, null-padded past the end (ANSI-safe guard).
        when(size(col(rowsCol)) > i, col(rowsCol).getItem(i).getField(m.source))
      }

    val outCols: Seq[Column] = columnMap.flatMap {
      case Passthrough(src, tgt) => Seq(sourceValue(Passthrough(src, tgt), 0).as(tgt))
      case Spread(src, targets) =>
        targets.zipWithIndex.map { case (t, i) => sourceValue(Spread(src, targets), i).as(t) }
    }

    val good = grouped.filter(sizeOk).select(outCols: _*)
    val bad = grouped
      .filter(!sizeOk)
      .select((groupBy.map(col) :+ explode(col(rowsCol)).as("__row")): _*)
      .select(groupBy.map(col) ++ carried.map(c => col(s"__row.$c").as(c)): _*)
    (good, bad)
  }
}
