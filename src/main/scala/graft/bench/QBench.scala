package graft.bench
import org.apache.spark.sql.SparkSession
/** Repeated single-query timing under graft.Bench's session config (args:
  * queryName [reps]), so per-query times come from the plan Bench runs. */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${512 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val observed = Observed.register(spark)
    val fn = graft.SparkEntry.queries(name)
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"$name: " + times.map(t => f"$t%.2f").mkString(" "))
    Observed.drain(spark)
    import scala.jdk.CollectionConverters._
    if (!observed.isEmpty)
      println(s"$name observed: " + observed.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    spark.stop()
  }
}
