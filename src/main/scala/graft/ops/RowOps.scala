package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Report-shaping row operators.
  *
  * The reference implements these as order-dependent driver-side iterator
  * transforms (`/root/reference/src/groovy/haplorec/util/Row.groovy`). Here:
  * `noDuplicates` is one sort plus one streaming first-occurrence pass on a
  * single partition (reports are per-job human-readable scale, and every
  * engine consumer collects them); `collapse` is inherently sequential over
  * the final ordered report and runs on the driver over one bounded collect.
  */
object RowOps {

  /** One column group for [[noDuplicates]]: rows keep `columnsToShow` only on
    * the first occurrence of their `duplicateKey` value. `name` labels the
    * group. Reference: `Row.groovy:8-64`.
    */
  final case class DupGroup(name: String, duplicateKey: Seq[String], columnsToShow: Seq[String])

  /** Blank out repeated column groups: within each group `g`, a row's
    * `columnsToShow` survive only on the first occurrence of the row's
    * `duplicateKey` values (first per `ordering`, ascending nulls first,
    * which must match the report's output order — the reference relies on
    * SQL fetch order, we make it explicit). A column shown by ANY group
    * containing it survives (the reference builds rows additively across
    * groups, `Row.groovy:46-60`).
    *
    * One sort, one pass: the frame is coalesced to one partition (no
    * exchange), sorted by `ordering`, and a single streaming pass keeps one
    * seen-set of key values per group. The result is that one partition in
    * `ordering` order. Rows tying on every ordering column reach every group
    * in the same order, so all groups agree on which of them comes first.
    * Key values match as Spark groups them: nulls equal, NaN equals NaN,
    * binary by content.
    */
  def noDuplicates(df: DataFrame, groups: Seq[DupGroup], ordering: Seq[String]): DataFrame = {
    val schema = df.schema
    val keys: Array[Array[Int]] = groups.map(_.duplicateKey.map(schema.fieldIndex).toArray).toArray
    // per column, the groups that show it; a column no group shows is kept
    val shownBy: Array[Array[Int]] = schema.fieldNames.map(c =>
      groups.indices.filter(g => groups(g).columnsToShow.contains(c)).toArray)
    val out = StructType(schema.fields.zip(shownBy).map { case (f, gs) =>
      if (gs.isEmpty) f else f.copy(nullable = true)
    })
    df.coalesce(1)
      .sortWithinPartitions(ordering.map(col): _*)
      .mapPartitions { rows =>
        val seen = Array.fill(keys.length)(mutable.HashSet.empty[Seq[Any]])
        rows.map { r =>
          val first = keys.indices.map(g =>
            seen(g).add(keys(g).toSeq.map(i => groupingValue(r.get(i)))))
          Row.fromSeq(shownBy.indices.map { i =>
            val gs = shownBy(i)
            if (gs.isEmpty || gs.exists(first)) r.get(i) else null
          })
        }
      }(Encoders.row(out))
  }

  private case object NaNKey

  /** A key cell as Spark's grouping compares it. */
  private def groupingValue(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double if d.isNaN => NaNKey
    case f: Float if f.isNaN => NaNKey
    case other => other
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
