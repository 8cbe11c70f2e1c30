package graft.aggregates

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And, Cast, CreateArray, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BoolOr
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** retention(c1, ..., cN) (reference AggregateFunctionRetention.h: the
  * state is the set of conditions that EVER fired in the group; r[0] = c1
  * fired, r[i] = c1 fired AND c(i+1) fired), returned as 0/1 ints ready to
  * be summed across groups. Lowers to one bool_or per condition combined
  * in a CreateArray, a single native hash-aggregate pass. The SQL
  * spelling (`ClickHouseAliases` "retention") and the Column form both
  * build this expression.
  */
object RetentionAgg {

  def lower(conds: Seq[Expression]): Expression = {
    val evs = conds.map(c => BoolOr(Cast(c, BooleanType)).toAggregateExpression())
    CreateArray(
      Cast(evs.head, IntegerType) +:
        evs.tail.map(e => Cast(And(evs.head, e), IntegerType)))
  }

  /** Column form: retention(cond1, cond2, ...). */
  def retention(conds: Column*): Column =
    ColumnBridge.column(lower(conds.map(ColumnBridge.expression)))
}
