package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide registration entry point:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions … }}}
  *
  * injects every eKuiper-named function (GraftFunctions.registrations)
  * into each new session's FunctionRegistry — the idiomatic alternative
  * to calling GraftFunctions.registerAll(spark) per session. Functions
  * are Expression builders (codegen), not UDFs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.registrations.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        b))
    }
}
