package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: inject every graft-native function at
  * session build time —
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or, in code, on the session builder
  * .withExtensions(new GraftExtensions())
  * }}}
  *
  * This is the cluster-deployment story for the engine's SQL surface:
  * unlike [[Catalog.registerFunctions]] (which patches one existing
  * session), an injected function exists in every session the cluster
  * creates — including JDBC/Thrift and Spark Connect sessions that never
  * run user Scala code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    Catalog.nativeFunctions.foreach { case (name, builder) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name),
        builder))
    }
}
