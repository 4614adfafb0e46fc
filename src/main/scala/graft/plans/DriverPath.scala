package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Placement: whether an operator with two paths (the kNN rounds and the
  * intersects filter of [[graft.join.SpatialJoin]],
  * [[graft.ops.DedupPipeline]], [[graft.ops.ConnectedComponents]]) runs on
  * the driver or distributed. [[place]] alone decides, so the choice
  * cannot drift between operators.
  *  - Budget: the session's `spark.sql.autoBroadcastJoinThreshold` bytes,
  *    divided by the times an operator counts each row (connected
  *    components count both directions of an edge); the threshold is the
  *    only input. At −1 nothing runs and the path is always distributed.
  *  - Exact bytes: the side runs once and its rows' UnsafeRow sizes are
  *    summed. A plan estimate would not do: it passes a Filter's input size
  *    through, so a few rows filtered out of a large table look as large
  *    as the table.
  *  - One execution, reported as `collect`: a local relation hands over
  *    its rows with no Spark job; any other side runs one job whose tasks
  *    persist their partitions and report only their byte counts, and a
  *    total within the budget is read from the stored blocks with no
  *    further job. The driver never receives more than the budget.
  *  - Kept blocks: the distributed path reads the stored partitions, so
  *    the side is not evaluated twice. They are released before `place`
  *    returns; a lazy result reading them later recomputes them from their
  *    lineage (the same rows, not reused).
  * The run is [[org.apache.spark.sql.graft.bridge.collectKept]]. */
private[graft] object DriverPath {

  /** `driver` of `side`'s rows if they fit, each counted `copies` times,
    * else `distributed` of a DataFrame over them (`side` itself, unrun, at
    * −1); `metrics` adds observe() metrics to the run only. */
  def place[T](side: DataFrame, copies: Int = 1, metrics: DataFrame => DataFrame = identity)(
      driver: Array[InternalRow] => T)(distributed: DataFrame => T): T = {
    val threshold = side.queryExecution.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) distributed(side)
    else {
      val (placed, persisted) = org.apache.spark.sql.graft.bridge.collectKept(metrics(side), threshold / copies)
      try placed.fold(driver, distributed)
      finally persisted.foreach(_.unpersist(false))
    }
  }
}
