package graft.plans

import org.apache.spark.sql.DataFrame

/** The one test behind every operator's driver path
  * ([[graft.ops.DedupPipeline]], [[graft.join.SpatialJoin]]'s kNN rounds and
  * intersects filter): the estimate Spark itself uses before it collects a
  * relation to the driver for a broadcast join. Sharing it keeps the path
  * choice from drifting between operators. */
object DriverPath {

  /** True when the session's `spark.sql.autoBroadcastJoinThreshold` is ≥ 0
    * and `df`'s optimized-plan `sizeInBytes` is at or below it; a threshold
    * of −1 is always false and optimizes nothing. */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    val threshold = qe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && qe.optimizedPlan.stats.sizeInBytes <= threshold
  }
}
