package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into Spark's classic (non-Connect) internals: Column <->
 * Catalyst Expression, and access to the session's FunctionRegistry. Lives
 * under `org.apache.spark.sql` so `private[sql]` members are reachable —
 * the same pattern public Spark extension libraries use.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a SQL temp function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)

  /** A DataFrame over rows already in Catalyst form: the LocalRelation
    * `spark.createDataFrame` builds from external rows, without its
    * serial conversion. */
  def localDataFrame(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `df` in at most `n` partitions without a shuffle, its rows in the
    * same order: each output partition is a contiguous run of input
    * partitions. `Dataset.coalesce` may interleave them once some inputs
    * have preferred locations (cached or checkpointed blocks). */
  def coalesceInOrder(df: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    val impl = org.apache.spark.sql.classic.ClassicConversions.castToImpl(df)
    impl.sparkSession.internalCreateDataFrame(
      impl.queryExecution.toRdd.coalesce(n, shuffle = false, Some(InOrderCoalescer)), df.schema)
  }

  private object InOrderCoalescer extends org.apache.spark.rdd.PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: org.apache.spark.rdd.RDD[_]): Array[org.apache.spark.rdd.PartitionGroup] = {
      val parts = parent.partitions
      val groups = math.max(1, math.min(maxPartitions, parts.length))
      Array.tabulate(groups) { g =>
        val group = new org.apache.spark.rdd.PartitionGroup()
        group.partitions ++= parts.slice((g.toLong * parts.length / groups).toInt,
          ((g + 1).toLong * parts.length / groups).toInt)
        group
      }
    }
  }

  /** Block until the SparkContext's listener bus has drained, so a
    * per-run shuffle-metric counter read after a job is race-free
    * against asynchronously delivered stage-completed events
    * (ADVICE r16: the probes' fixed 300 ms sleep was a guess). */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Idempotently add a planner strategy to the session. */
  def ensureStrategy(spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val impl = org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
    if (!impl.experimental.extraStrategies.contains(s))
      impl.experimental.extraStrategies = impl.experimental.extraStrategies :+ s
  }
}
