package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters —
  * the standard technique for third-party Catalyst extensions (same
  * access path Spark's own connectors use). No Spark internals are
  * modified; this only re-exports two converters.
  */
object GraftBridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom logical plan as a DataFrame (runs the analyzer). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Hadoop configuration a write of this session runs under: the
    * context's, overlaid with the session's SQL settings. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Unload every cached state-store provider and stop the maintenance
    * thread (they restart lazily on the next streaming query). Each
    * terminated streaming run leaves its providers — with their
    * in-memory version maps — in the executor-side cache until a
    * maintenance cycle notices they are inactive; a benchmark that
    * constructs hundreds of short streams in one JVM accumulates them
    * as pure heap ballast + GC noise. Harness-only: correctness never
    * depends on the cache (state reloads from the checkpoint).
    */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
