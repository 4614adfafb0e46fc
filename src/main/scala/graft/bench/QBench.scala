package graft.bench
/** Repeated single-query timing under graft.Bench's session config
  * ([[BenchSession]]; args: queryName [reps]), so per-query times come from
  * the plan Bench runs. */
object QBench {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.builder("graft-qbench").getOrCreate()
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
