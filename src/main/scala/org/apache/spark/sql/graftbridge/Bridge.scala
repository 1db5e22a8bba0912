package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column <-> Expression converters so
  * graft's custom Catalyst expressions can surface as `Column`s. Lives in
  * an `org.apache.spark.sql` subpackage purely for access; contains no
  * Spark-internal logic.
  */
/** Input-type declaration for graft expressions: `AbstractDataType` /
  * `TypeCollection` are private[sql], so this bridge trait maps a
  * public `Seq[Seq[DataType]]` (outer = argument position, inner =
  * accepted alternatives) onto ExpectsInputTypes.
  */
trait GraftExpectsInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  def acceptedTypes: Seq[Seq[org.apache.spark.sql.types.DataType]]
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    acceptedTypes.map {
      case Seq(one) => one
      case many => org.apache.spark.sql.types.TypeCollection(many: _*)
    }
}

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute an already-analyzed logical plan as a DataFrame
    * (Dataset.ofRows is private[sql]) — the hook optimizer rules use
    * for bounded eager statistics jobs (a 1-row aggregate shaping a
    * big lazy plan).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
