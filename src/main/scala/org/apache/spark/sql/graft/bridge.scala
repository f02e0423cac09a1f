package org.apache.spark.sql.graft

import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** Bridge into Spark's package-private Column↔Expression conversions
  * (Spark 4 moved `Column` to sql-api; constructing one from a Catalyst
  * `Expression` goes through `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]` — hence this file lives under the spark package,
  * the standard pattern used by Spark-native libraries). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private lazy val writers = ThreadUtils.newDaemonCachedThreadPool("graft-write")

  /** Run `body` on a pooled daemon thread that carries the calling
    * thread's active session and local properties (job group, streaming
    * query tags, scheduler pool) — Spark's own capture for the
    * concurrent jobs of one logical operation. */
  def async[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      writers)(body)
}
