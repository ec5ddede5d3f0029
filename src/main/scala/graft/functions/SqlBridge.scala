package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made `ExpressionUtils` (and the
  * Column(expr) constructor) `private[sql]`; a library-side object inside
  * the `org.apache.spark.sql` namespace is the standard extension-point
  * pattern for wiring custom Catalyst expressions into the public Column
  * API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on an ALREADY-RUNNING session (extensions only
    * apply at session construction); sessionState is private[sql].
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** The session's Hadoop conf (SQL-conf overrides applied), broadcast
    * the way Spark's own file scans ship it to their tasks.
    */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.util.SerializableConfiguration.broadcast(spark.sparkContext,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf())

  /** Drop an RDD's blocks, as `ContextCleaner` does for a collected RDD:
    * unlike `RDD.unpersist`, no "was locally checkpointed" WARN.
    */
  def releaseBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
