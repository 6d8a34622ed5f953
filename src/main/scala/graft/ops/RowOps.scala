package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Report-shaping row operators.
  *
  * The reference implements these as order-dependent driver-side iterator
  * transforms (`/root/reference/src/groovy/haplorec/util/Row.groovy`). Here:
  * `noDuplicates` is re-expressed as window-based first-occurrence detection
  * (distributed, one shuffle per distinct duplicate key); `collapse` is
  * inherently sequential over the final ordered report and runs on the driver
  * over one bounded collect (reports are per-job human-readable scale).
  */
object RowOps {

  /** One column group for [[noDuplicates]]: rows keep `columnsToShow` only on
    * the first occurrence of their `duplicateKey` value.
    * Reference: `Row.groovy:8-64`.
    */
  final case class DupGroup(name: String, duplicateKey: Seq[String], columnsToShow: Seq[String])

  /** Blank out repeated column groups: within each group `g`, a row's
    * `columnsToShow` survive only on the first occurrence of the row's
    * `duplicateKey` values (first per `ordering`, which must match the
    * report's output order — the reference relies on SQL fetch order, we make
    * it explicit).
    */
  def noDuplicates(df: DataFrame, groups: Seq[DupGroup], ordering: Seq[String]): DataFrame = {
    val orderCols = ordering.map(col)
    // First-occurrence flags are computed per group from the ORIGINAL columns;
    // a column shown by ANY group containing it survives (reference builds
    // rows additively across groups, `Row.groovy:46-60`). Flags land in ONE
    // projection and the blanking + flag-drop in ONE more (not per-column
    // withColumn/drop folds, whose nested Projects the analyzer re-walks
    // per level — measurable driver time at report plan width).
    val flagged = df.select(
      col("*") +: groups.map { g =>
        val w = Window.partitionBy(g.duplicateKey.map(col): _*).orderBy(orderCols: _*)
        (row_number().over(w) === 1).as(s"__show_${g.name}")
      }: _*)
    val shownBy: Map[String, Seq[String]] = groups
      .flatMap(g => g.columnsToShow.map(_ -> g.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    flagged.select(df.columns.map { c =>
      shownBy.get(c) match {
        case Some(gs) =>
          val anyShown = gs.map(n => col(s"__show_$n")).reduce(_ || _)
          when(anyShown, col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Driver-side staircase collapse of consecutive sparse rows
    * (`Row.groovy:109-185`): merge a run of rows whose non-null column sets
    * don't overlap into one dense row; emit when the next row would overwrite.
    *
    * @param rows        ordered report rows as (column -> present value) maps
    * @param canCollapse whether `next` may merge into `acc` (default: no
    *                    common columns)
    */
  def collapse(
      rows: Iterator[Map[String, Any]],
      canCollapse: (Map[String, Any], Map[String, Any]) => Boolean =
        (acc, next) => acc.keySet.intersect(next.keySet).isEmpty,
      merge: (Map[String, Any], Map[String, Any]) => Map[String, Any] = _ ++ _
  ): Iterator[Map[String, Any]] = new Iterator[Map[String, Any]] {
    private var acc: Option[Map[String, Any]] = None
    private var pending: Option[Map[String, Any]] = None
    private def advance(): Unit = {
      while (pending.isEmpty && rows.hasNext) {
        val row = rows.next()
        acc match {
          case None => acc = Some(row)
          case Some(a) =>
            if (canCollapse(a, row)) acc = Some(merge(a, row))
            else { pending = Some(a); acc = Some(row) }
        }
      }
      if (pending.isEmpty && !rows.hasNext && acc.nonEmpty) {
        pending = acc; acc = None
      }
    }
    def hasNext: Boolean = { advance(); pending.nonEmpty }
    def next(): Map[String, Any] = {
      advance()
      val r = pending.get; pending = None; r
    }
  }

  /** Convert a DataFrame's ordered output into sparse maps (null cells
    * dropped) for [[collapse]]; the rows reach the driver in one bounded
    * collect when the iterator is first asked for a row.
    *
    * Guarded: the driver path is for per-job human-readable reports. A frame
    * past `maxDriverRows` rows aborts with a pointer to [[collapseByGroup]]
    * (the distributed form) instead of silently feeding the driver an
    * unbounded frame; at most `maxDriverRows` + 1 rows are ever collected
    * (≤ 0: no cap, as for every [[DriverCollect]] read).
    */
  def sparseRows(df: DataFrame, maxDriverRows: Long = 1000000L): Iterator[Map[String, Any]] = {
    val cols = df.columns
    Iterator.single(()).flatMap { _ =>
      DriverCollect.upTo(df, maxDriverRows).getOrElse(
        throw new IllegalStateException(
          s"report exceeds $maxDriverRows driver-side rows; collapse per group " +
            "with RowOps.collapseByGroup (distributed) instead"))
    }.map { r =>
      cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> r.get(i)
      }.toMap
    }
  }

  /** Distributed [[collapse]]: the staircase runs independently WITHIN each
    * `groupCols` group (per job/patient), so no group's report — let alone
    * the whole frame — ever materializes on the driver. One shuffle on the
    * group key; rows sort within partitions by (group, ordering) and a
    * per-partition iterator applies the identical staircase to each group
    * run. Semantics per group equal [[collapse]] over that group's rows in
    * `ordering`. Group columns are excluded from the overlap rule (constant
    * within a group, they would block every merge); ordering columns are
    * likewise excluded and DROPPED from the output — a merged row spans
    * several order positions, exactly as the whole-report path drops its
    * `__ord` before collapsing.
    *
    * The reference's collapse is whole-report sequential
    * (`Row.groovy:109-185`); reports there are single-patient scale. This is
    * the many-patient form: a 100 TB multi-tenant report collapses with
    * per-group parallelism, then writes through [[graft.io.DsvWriter]]'s
    * distributed path.
    */
  def collapseByGroup(
      df: DataFrame,
      groupCols: Seq[String],
      ordering: Seq[String],
      canCollapse: (Map[String, Any], Map[String, Any]) => Boolean =
        (acc, next) => acc.keySet.intersect(next.keySet).isEmpty,
      merge: (Map[String, Any], Map[String, Any]) => Map[String, Any] = _ ++ _
  ): DataFrame = {
    val schema = df.schema
    val gSet = groupCols.toSet
    val oSet = ordering.toSet -- gSet
    val outFields = schema.fields.filter(f => !oSet(f.name)).toVector
    val outCols = outFields.map(_.name)
    val valueIdx = df.columns.zipWithIndex.collect {
      case (c, i) if !gSet(c) && !oSet(c) => c -> i
    }.toVector
    val groupIdx = groupCols.map(c => c -> schema.fieldIndex(c)).toVector
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(outFields))
    df.repartition(groupCols.map(col): _*)
      .sortWithinPartitions((groupCols ++ ordering).map(col): _*)
      .mapPartitions { it =>
        val maps = it.map { r =>
          val key = groupIdx.map { case (c, i) => c -> r.get(i) }.toMap
          val sparse = valueIdx.collect {
            case (c, i) if !r.isNullAt(i) => c -> r.get(i)
          }.toMap
          sparse + ("__group" -> key)
        }
        collapse(
          maps,
          canCollapse = (a, n) =>
            a("__group") == n("__group") &&
              canCollapse(a - "__group", n - "__group"),
          merge = (a, n) =>
            merge(a - "__group", n - "__group") + ("__group" -> a("__group")))
          .map { m =>
            val key = m("__group").asInstanceOf[Map[String, Any]]
            Row.fromSeq(outCols.map(c =>
              if (gSet(c)) key(c) else m.getOrElse(c, null)))
          }
      }
  }
}
