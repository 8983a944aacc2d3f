package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made the classic converters `private[sql]`, so this one
  * object lives inside Spark's package namespace to re-export them to
  * graft (the standard extension-library idiom for custom Catalyst
  * expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** RDD ids a checkpointed Dataset actually holds (its plan's
    * LogicalRDD leaves). Iterative operators release the SUPERSEDED
    * generation's blocks with exactly these ids — deriving them from
    * the Dataset itself instead of diffing the SparkContext-global
    * getPersistentRDDs keyset around the checkpoint call, which could
    * capture (and later unpersist) an unrelated RDD persisted by a
    * concurrent job in a shared session (advisor round 12).
    * LogicalRDD is private[sql]; this bridge lives inside Spark's
    * namespace for the same reason the expression converters do. */
  def checkpointRddIds(ds: org.apache.spark.sql.Dataset[_]): Set[Int] =
    ds.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  /** Blocks until every queued listener event is delivered, so a
    * listener's counters are complete when read (listenerBus is
    * private[spark]). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether Spark's file index skips a listed name (`_`/`.` prefixes
    * and `._COPYING_`, but not the parquet summary files), so a
    * driver-side pick sees the leaves Spark sees (HadoopFSUtils is
    * private[spark]). */
  def hiddenByFileIndex(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema a file-source relation reports for an inferred data
    * schema: every field nullable (StructType.asNullable is
    * private[spark]). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Spark's DIVIDE_BY_ZERO error, as an ANSI-mode Divide raises it
    * (QueryExecutionErrors is private[sql]). */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
