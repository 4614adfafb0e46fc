package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, LogicalRDD, SQLExecution}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

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

  /** The run behind [[graft.plans.DriverPath.place]], which describes it:
    * ONE SQL execution of `df`, reported to listeners as `collect` (a
    * `Dataset.persist` would add a job under AQE, and `withAction` is
    * private). Returns `df`'s rows if their UnsafeRow bytes total at most
    * `budget`, else a DataFrame over what the run computed, and the RDD it
    * persisted, if any (unpersisted here if the run fails). The rows are
    * read from the stored blocks, block by block (draining each releases
    * its read lock); a missing block (a lost executor) returns the
    * DataFrame, which recomputes it. */
  def collectKept(df: DataFrame, budget: Long): (Either[Array[InternalRow], DataFrame], Option[RDD[_]]) = {
    def bytes(r: InternalRow): Long = r.asInstanceOf[UnsafeRow].getSizeInBytes.toLong
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan match {
        case local: LocalTableScanExec =>
          val rows = local.executeCollect()
          (if (rows.iterator.map(bytes).sum <= budget) Left(rows) else Right(df), None)
        case plan =>
          val rdd = plan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
          val total = try ds.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(bytes).sum).sum
            catch { case e: Throwable => rdd.unpersist(false); throw e }
          val blocks = org.apache.spark.SparkEnv.get.blockManager
          val stored = Array.newBuilder[InternalRow]
          val complete = total <= budget && rdd.partitions.indices.forall { p =>
            blocks.get[InternalRow](RDDBlockId(rdd.id, p))
              .map(_.data.foreach(r => stored += r.asInstanceOf[InternalRow])).nonEmpty
          }
          (if (complete) Left(stored.result())
           else Right(classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))),
            Some(rdd))
      }
    }
  }

  /** `RDD.aggregate` over `df`'s internal rows as ONE SQL execution,
    * reported to listeners as `name` like any action: each task folds its
    * partition into a copy of `zero` with `seqOp`, and the driver merges
    * task results with `combOp` as they arrive, so it never holds more
    * than its running result and the task results in flight. The rows
    * `seqOp` sees are reused buffers: copy any it keeps. */
  def aggregate[U: scala.reflect.ClassTag](df: org.apache.spark.sql.DataFrame, name: String)(zero: U)(
      seqOp: (U, org.apache.spark.sql.catalyst.InternalRow) => U, combOp: (U, U) => U): U = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.execute().aggregate(zero)(seqOp, combOp)
    }
  }

  /** A DataFrame over driver-side internal rows of `schema` (a local
    * relation, as `createDataFrame` builds from external rows), with the
    * schema's nullability kept. */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
                 schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Drain the async listener bus (`listenerBus` is `private[spark]`) —
    * test assertions over QueryExecutionListener-captured plans need the
    * in-flight events delivered before checking. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
