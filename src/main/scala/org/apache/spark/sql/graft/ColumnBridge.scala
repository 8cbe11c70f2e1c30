package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** Column ⇄ Expression bridge. Spark 4 hides the converters behind
  * `private[sql]`; this accessor lives in the sql namespace solely to
  * re-export them for the engine's custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The function builder Spark's `UDFRegistration.register(name, f)`
    * installs in a session's registry, for injection through
    * `SparkSessionExtensions` instead: a udaf builds a `ScalaAggregator`
    * named `name`, a scalar udf a `ScalaUDF` carrying `name`, so plans
    * and their printed function names are those of a registered udf. A
    * scalar udf with typed inputs refuses a call with the wrong number
    * of arguments at analysis, as a registered Scala closure does.
    */
  def udfBuilder(name: String, f: UserDefinedFunction): Seq[Expression] => Expression =
    f.withName(name) match {
      case a: UserDefinedAggregator[_, _, _] => children => ScalaAggregator(a, children)
      case s: SparkUserDefinedFunction => children => {
        val arity = s.inputEncoders.size
        if (arity > 0 && children.size != arity)
          throw QueryCompilationErrors.wrongNumArgsError(
            name, Seq(arity.toString), children.size)
        UserDefinedFunctionUtils.toScalaUDF(s, children)
      }
    }
}
