package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/** Thin accessor for `private[sql]`/`private[spark]` Spark internals the
  * graft extension layer needs: Column <-> Expression conversion, runtime
  * function registration, session cloning, and reads of the driver's
  * status store (the job and stage record Spark's own UI shows). Lives under
  * org.apache.spark.sql (the standard pattern for Spark extension
  * libraries) and contains no logic of its own. */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new session with a copy of `spark`'s confs, temp views and
    * functions: what it sets or registers stays out of `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** The JVM's running SparkContext, if any. */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** Block until every listener event posted so far has been handled,
    * so the status store holds every job started before the call. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the jobs the status store holds, in any state. */
  def jobIds(sc: SparkContext): Seq[Int] = sc.statusStore.jobsList(null).map(_.jobId)
}
