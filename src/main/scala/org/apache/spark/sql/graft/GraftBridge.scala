package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into `private[sql]` planner API — the standard pattern
  * for Spark extension libraries that construct DataFrames from custom
  * logical plans — and the `private[spark]` listener-bus drain.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Globally-unique id of this session (classic-impl accessor — the
    * sql-api trait doesn't re-export it). */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until the listener bus has delivered every event posted so
    * far. A finished action has posted all its task-end and job-end
    * events, so counters read after this drain are exact; Spark's bound
    * is 10 s, after which it throws `TimeoutException`. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
