package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Spark 4 made several extension seams private[sql]; this bridge (in
  * the sql package, the standard extension-library idiom) exposes the
  * ones graft needs: Expression↔Column conversion for the native
  * expressions, DataFrame-from-LogicalPlan for the custom operators,
  * live-session strategy/rule injection, and a listener-bus drain. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Release the storage behind a cached-or-checkpointed DataFrame.
    *
    * `Dataset.unpersist` only drops `persist()` cache entries; a
    * `localCheckpoint()`ed frame's blocks belong to the materialized
    * RDD inside its `LogicalRDD` leaf, which unpersist never touches —
    * so an eviction hook that only calls unpersist leaks those blocks
    * for the session lifetime (ADVICE r10). This walks the analyzed
    * plan, unpersists every `LogicalRDD`'s backing RDD (covering the
    * checkpoint case), and still calls plain unpersist for the
    * persist() case. Safe on evicted frames: nothing re-reads them. */
  def releaseStorage(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ =>
    }
    df.unpersist(blocking = false)
  }

  /** Block until every event posted so far has reached every listener
    * (the bus is asynchronous; `listenerBus` is private[spark]). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Idempotently add a planner strategy to an already-built session. */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently add an optimizer rule to an already-built session. */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
