package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column/Expression plumbing for the graft
  * engine's native Catalyst expressions (Spark 4 moved Column to a
  * ColumnNode facade; `classic.ExpressionUtils` is the sanctioned internal
  * converter), and into `private[spark]` block removal. Lives in this
  * package solely for access; contains no logic.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `rdd.unpersist` without its per-RDD warning for a local checkpoint. */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
