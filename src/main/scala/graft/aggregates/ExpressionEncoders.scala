package graft.aggregates

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Output encoders shared by the `udaf(Aggregator)` forms, derived once. */
private[aggregates] object ExpressionEncoders {
  val seqLong: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  val mapStringDouble: Encoder[Map[String, Double]] = ExpressionEncoder[Map[String, Double]]()
}
