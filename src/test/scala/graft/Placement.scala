package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aiming `spark.sql.autoBroadcastJoinThreshold` at what
  * [[graft.plans.DriverPath.place]] measures, to pin an operator's path. */
object Placement {

  /** The UnsafeRow bytes of `side`'s rows: the sum `place` compares with
    * the threshold. Runs `side` (outside any work a spec counts). */
  def bytes(side: DataFrame): Long =
    side.queryExecution.toRdd
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getSizeInBytes.toLong)
      .fold(0L)(_ + _)

  /** Runs `f` with the threshold at `threshold` (None: as it is), and
    * restores the previous setting after. */
  def withThreshold[T](spark: SparkSession, threshold: Option[Long])(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    threshold.foreach(t => spark.conf.set(key, t.toString))
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
