package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSV serialization, the reference's output format
  * (`/root/reference/src/groovy/haplorec/util/Row.groovy:235-305`): header
  * from the schema, configurable separator, nulls rendered as `''`.
  *
  * The distributed path writes one CSV part per partition (cluster scale);
  * `single` coalesces for a human-readable report file.
  */
object DsvWriter {

  def write(df: DataFrame, path: String, sep: String = "\t",
      header: Boolean = true, single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write
      .option("sep", sep)
      .option("header", header.toString)
      .option("nullValue", "")
      .option("emptyValue", "")
      .mode("overwrite")
      .csv(path)
  }

  /** Render projected columns as one DSV line per row, fully distributed
    * (the engine-side form of `Row.asDSV`, `Row.groovy:235-305`): values
    * cast to string, nulls encoded as `''` (the reference's null encoding),
    * joined by `sep`. Each value is null-coalesced BEFORE `concat_ws` —
    * `concat_ws` alone SKIPS null elements, which would shift later fields
    * left and break field positions.
    */
  def dsvLine(cols: Seq[Column], sep: String = "\t"): Column =
    concat_ws(sep, cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** Render a small frame to a DSV string on the driver (reports). */
  def renderString(df: DataFrame, sep: String = "\t"): String = {
    val cols = df.columns
    val sb = new StringBuilder(cols.mkString(sep)).append('\n')
    df.collect().foreach { r =>
      sb.append(cols.indices.map(i =>
        if (r.isNullAt(i)) "" else r.get(i).toString).mkString(sep)).append('\n')
    }
    sb.toString
  }
}
