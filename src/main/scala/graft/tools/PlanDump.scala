package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostics: print the formatted physical plan of a named SparkEntry
  * query. Usage:
  *   GEOQ_MAIN=graft.tools.PlanDump bin/geoq-spark <queryName> <sfDir>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GEOQ_MASTER", "local[8]"))
      .appName("plan-dump")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      args.toList match {
        case name :: dir :: Nil =>
          graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
        case other =>
          System.err.println(s"usage: PlanDump <queryName> <sfDir> (got $other)")
          sys.exit(2)
      }
    } finally spark.stop()
  }
}
