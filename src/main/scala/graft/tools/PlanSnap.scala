package graft.tools

import graft.bench.BenchSession

/** Formatted physical plans (`explain("formatted")`) of SparkEntry queries,
  * under graft.Bench's session config, so a printed plan is the plan the
  * bench runs. Reads the tables in SPARK_GRAFT_SF_DIR. Usage:
  *   GEOQ_MAIN=graft.tools.PlanSnap bin/geoq-spark [--out <dir> <suffix>] [query...|all]
  * No query or `all` means every query. Plans go to stdout, one header line
  * per query, or with `--out` to <dir>/<query>_<suffix>.txt.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val (out, rest) = args.toList match {
      case "--out" :: dir :: suffix :: tail => (Some((dir, suffix)), tail)
      case "--out" :: _ =>
        System.err.println("usage: PlanSnap [--out <dir> <suffix>] [query...|all]")
        sys.exit(2)
      case tail => (None, tail)
    }
    val names =
      if (rest.isEmpty || rest == List("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else rest
    names.filterNot(graft.SparkEntry.queries.contains).foreach { n =>
      System.err.println(s"PlanSnap: no query named $n")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.builder("graft-plansnap").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      out.foreach { case (dir, _) => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)) }
      for (name <- names) {
        val plan = graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        out match {
          case Some((dir, suffix)) =>
            val file = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
            java.nio.file.Files.writeString(file, plan)
            println(s"wrote $file")
          case None =>
            println(s"==================== $name ====================")
            println(plan)
        }
      }
    } finally spark.stop()
  }
}
