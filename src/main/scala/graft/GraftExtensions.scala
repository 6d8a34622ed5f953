package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session-extensions entry point: makes the engine's custom Catalyst
  * expressions available in ANY session via standard Spark wiring —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * It injects every scalar function of [[GraftFunctions.scalars]], the
  * table that [[graft.functions.GraftFunctions.register]] also registers
  * imperatively for an existing session; `register` additionally adds the
  * TABLE functions (graft_subset_join,
  * graft_either_subset_join, graft_asof_join) — those resolve view names
  * through the session catalog, so they live on the imperative path,
  * where a session exists. No custom Rule/SparkStrategy is injected —
  * the engine's operators compose from built-in plans (SURVEY §4);
  * scalar expressions are the only extension point the semantics
  * require.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.scalars.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.build))
    }
}
