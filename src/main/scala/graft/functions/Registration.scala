package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Register-once session functions. Operators call `register` on every
  * query; re-registering an unchanged builder replaces it with itself
  * and logs a warning each time, so a name the session already has (from
  * an earlier call or [[graft.GraftExtensions]]) is left as it is. */
object Registration {
  private def missing(s: SparkSession, name: String): Boolean =
    !s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  def ensure(s: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    if (missing(s, name))
      s.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")

  /** [[ensure]] for a stateless scalar UDF. */
  def ensureUdf(s: SparkSession, name: String, f: UserDefinedFunction): Unit =
    if (missing(s, name)) s.udf.register(name, f)
}
