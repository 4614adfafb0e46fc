package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: `Column <-> catalyst Expression` converters
  * are `private[sql]` in Spark 4, so custom native expressions (the usual
  * extension mechanism — same trick as Sedona/Frameless) need a one-liner
  * inside the sql package; so do a few session, plan and execution
  * helpers below.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a catalyst-native SQL function on a LIVE session (the
    * FunctionRegistry is `private[sql]`; new sessions should prefer
    * `spark.sql.extensions=graft.plans.GraftExtensions`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** DataFrame over a raw logical plan (`Dataset.ofRows` is
    * `private[sql]`) — lets an optimizer rule price a side of a join with
    * a small stats sub-query (the adaptive-grid rewrite). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Globally-unique id of a session (`sessionUUID` is `private[sql]`) —
    * cache keys that must never collide across sessions use this instead
    * of identity hash codes (which can recur after GC). */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** A bounded collect that keeps what it computed: ONE SQL execution,
    * reported to listeners as `collect` (so observe() metrics and plan
    * listeners see it like any action), runs `df` into an RDD persisted
    * MEMORY_AND_DISK and brings at most `n` of its rows to the driver.
    * Returns those rows and a DataFrame over the persisted RDD, which
    * reads the stored partitions and computes, once, any partition the
    * bounded take left unread (it keeps the lineage, so no recompute of
    * the shuffle stages the take ran). The caller drops the blocks with
    * `rdd.unpersist` on the returned plan's `LogicalRDD`. `Dataset
    * .persist` would give the same reuse, but a plan reading a cached
    * relation under AQE first runs a whole job to materialize it, and
    * `withAction`, the helper behind `collect` and `localCheckpoint`, is
    * private. */
  def takeAndKeep(df: org.apache.spark.sql.DataFrame, n: Int)
      : (Array[org.apache.spark.sql.catalyst.InternalRow], org.apache.spark.sql.DataFrame) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val (kept, rows) =
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
        val rdd = qe.executedPlan.execute().map(_.copy())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (rdd, rdd.take(n))
      }
    (rows, org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(kept, ds, isStreaming = false)))
  }

  /** Drain the async listener bus (`listenerBus` is `private[spark]`) —
    * test assertions over QueryExecutionListener-captured plans need the
    * in-flight events delivered before checking. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
