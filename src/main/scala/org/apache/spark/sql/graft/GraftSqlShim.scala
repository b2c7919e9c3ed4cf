package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` / `private[spark]` seams graft needs (the
  * same shim every serious Spark storage extension ships): running an
  * already-analyzed LogicalPlan as a DataFrame (a MERGE's USING source is
  * an arbitrary resolved query — re-parsing its SQL text would be both
  * lossy and unsound), wrapping a catalyst Expression back into a
  * user-level Column, setting engine defaults on the live SparkConf, and
  * reading the code generator's compile counter. Lives in a subpackage of
  * org.apache.spark.sql solely for access; nothing in Spark is modified or
  * overridden. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Re-wrap a streaming micro-batch over its materialized rows: a v1
    * Sink's `addBatch` DataFrame is backed by an IncrementalExecution and
    * cannot be fed to batch writers directly — the standard v1-sink
    * re-wrap (the same move Spark's own v1 sinks make). */
  def asBatchDataFrame(spark: SparkSession, data: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        data.queryExecution.toRdd, data.schema, isStreaming = false)

  /** Set each `(key, value)` on the live SparkContext's conf unless the key
    * is already set there — a user-set value always wins. Takes effect for
    * every session whose shared state is built afterwards (the shared state
    * clones the context's conf), which is why [[graft.GraftExtensions]]
    * calls it: extensions are applied after the context exists and before
    * the session's shared state does. No-op without an active context. */
  def setConfDefaults(defaults: Seq[(String, String)]): Unit =
    SparkContext.getActive.foreach { sc =>
      defaults.foreach { case (k, v) => sc.conf.setIfMissing(k, v) }
    }

  /** Janino compilations this JVM has run so far (the code generator's
    * cache misses; a cache hit compiles nothing). Diff two reads to count
    * the compilations of the work in between. */
  def codegenCompilations(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
