package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to pure-SQL users without touching session internals. It
  * injects the same function table [[GraftFunctions.register]] installs.
  *
  * Usage:
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
