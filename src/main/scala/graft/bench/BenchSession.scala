package graft.bench

import org.apache.spark.sql.SparkSession

/** graft.Bench's session settings, for the mains that must see the plans
  * Bench runs: QBench (one query timed) and tools.PlanSnap (its plans
  * printed). Bench builds its own session; BenchSessionSpec reads Bench's
  * `.master`/`.config` lines as text and fails when the ones below differ.
  */
object BenchSession {
  def builder(appName: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${512 * 1024}")
  }
}
