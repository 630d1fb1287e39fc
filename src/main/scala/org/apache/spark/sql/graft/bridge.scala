package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ catalyst Expression bridge. Spark 4 made these converters
 * `private[sql]`; extension libraries conventionally expose them through a
 * shim in an `org.apache.spark.sql` subpackage.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an RDD of InternalRow without external-row conversion. */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Reliable-checkpoint file backing a `df.checkpoint()` result, if it has
   *  been materialized: the checkpointed Dataset's plan is a `LogicalRDD`
   *  (`private[sql]`) over the checkpointed RDD. Lets callers that manage a
   *  checkpoint directory delete a round's files as soon as the next round
   *  is durable, instead of letting maxIter snapshots accumulate. */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile)

  /** Exact save/restore of `SparkContext.checkpointDir`: the public
   *  `setCheckpointDir` always appends a fresh UUID subdirectory and mkdirs
   *  it, so "restoring" a saved value through it would nest one level deeper
   *  (and create a directory) per round trip. The underlying var is
   *  `private[spark]`, which this package can reach. */
  def rawCheckpointDir(sc: org.apache.spark.SparkContext): Option[String] =
    sc.checkpointDir

  def restoreCheckpointDir(sc: org.apache.spark.SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
