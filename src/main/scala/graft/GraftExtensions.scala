package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: how every graft session gets
  * [[GraftFunctions.all]]. [[GraftSession.local]] sets it, Spark hands it
  * to each `newSession()` fork, and no query installs functions itself.
  * A session built elsewhere sets it the same way:
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  * then `SELECT cosine_sim(a.embedding, b.embedding) FROM ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), builder))
    }
}
