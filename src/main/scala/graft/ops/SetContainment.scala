package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-containment ("relational division") join.
  *
  * Models set relations between two tables A and B where rows sharing a
  * group key constitute one set of `setCols` tuples:
  * {{{
  *   A(aKeys..., setCols...)   // aKeys -> { (setCols) }
  *   B(bKeys..., setCols...)   // bKeys -> { (setCols) }
  * }}}
  * Reference semantics: `/root/reference/src/groovy/haplorec/util/Sql.groovy:103-228`
  * (count-based intersection with per-group set sizes). The reference builds
  * correlated scalar COUNT subqueries; here the decorrelated form is three
  * shuffles — `A⋈B` on setCols, a hash aggregate per key pair, and hash
  * aggregates per side for set sizes — all of which Catalyst executes with
  * partial aggregation and (for the typically-small rule side) broadcast
  * joins. At cluster scale the only full shuffle is on `setCols`, which is
  * exactly the join key — no extra exchange is introduced.
  */
object SetContainment {

  /** Containment predicate: given (intersection size, |a|, |b|) columns,
    * decide which (aKey, bKey) pairs to keep.
    */
  type Predicate = (Column, Column, Column) => Column

  /** |a ∩ b| = |a|  — A's set is a subset of B's set (`Sql.groovy:220-228`). */
  val subsetPred: Predicate = (inter, a, _) => inter === a

  /** |a ∩ b| = least(|a|, |b|) — either side contains the other
    * (`Sql.groovy:198-207`).
    */
  val eitherSubsetPred: Predicate = (inter, a, b) => inter === least(a, b)

  private val InterCol = "__group_count"
  private val SizeA = "__size_a"
  private val SizeB = "__size_b"

  /** Generic set-containment join.
    *
    * @param a          table A, the small "rule" side; always broadcast,
    *                   which keeps the size join off the shuffle path
    * @param b          table B
    * @param setCols    columns forming the set elements (same names both sides)
    * @param aGroupBy   columns of A identifying one set
    * @param bGroupBy   columns of B identifying one set
    * @param select     output columns (from aGroupBy ++ bGroupBy); default all
    * @param pred       containment predicate
    * @return distinct rows of `select` for qualifying (aGroup, bGroup) pairs
    */
  def containment(
      a: DataFrame,
      b: DataFrame,
      setCols: Seq[String],
      aGroupBy: Seq[String],
      bGroupBy: Seq[String],
      select: Seq[String] = Nil,
      pred: Predicate = subsetPred
  ): DataFrame = {
    require(aGroupBy.nonEmpty && bGroupBy.nonEmpty, "both group-bys required")
    val outCols = if (select.nonEmpty) select else aGroupBy ++ bGroupBy

    val keyCols = aGroupBy ++ bGroupBy
    val inter = b
      .join(broadcast(a), setCols)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(InterCol))

    val needB = pred ne subsetPred
    val sizeA = broadcast(a.groupBy(aGroupBy.map(col): _*).agg(count(lit(1)).as(SizeA)))

    val withSizes0 = inter.join(sizeA, aGroupBy)
    val withSizes =
      if (needB)
        withSizes0.join(
          b.groupBy(bGroupBy.map(col): _*).agg(count(lit(1)).as(SizeB)),
          bGroupBy)
      else withSizes0.withColumn(SizeB, lit(null).cast("long"))

    withSizes
      .filter(pred(col(InterCol), col(SizeA), col(SizeB)))
      .select(outCols.map(col): _*)
      .distinct()
  }

  /** A ⊆ B: keep (aGroup, bGroup) pairs where A's whole set appears in B's.
    * Reference: `Sql.groovy:220-228` (`selectWhereSubsetOf`).
    */
  def selectWhereSubsetOf(
      a: DataFrame,
      b: DataFrame,
      setCols: Seq[String],
      aGroupBy: Seq[String],
      bGroupBy: Seq[String],
      select: Seq[String] = Nil
  ): DataFrame =
    containment(a, b, setCols, aGroupBy, bGroupBy, select, subsetPred)

  /** A ⊆ B or B ⊆ A. Reference: `Sql.groovy:198-207`. */
  def selectWhereEitherSubsetOf(
      a: DataFrame,
      b: DataFrame,
      setCols: Seq[String],
      aGroupBy: Seq[String],
      bGroupBy: Seq[String],
      select: Seq[String] = Nil
  ): DataFrame =
    containment(a, b, setCols, aGroupBy, bGroupBy, select, eitherSubsetPred)
}
