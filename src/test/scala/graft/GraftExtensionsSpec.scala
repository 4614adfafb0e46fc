package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end check of the deployment entry point
  * [[graft.plans.GraftExtensions]]: a session built with the extensions
  * (and nothing else — no `SpatialPlanner.enable`, no `registerSql`)
  * must plan the natural SQL Hamming join and the `NOT EXISTS`
  * decontamination shape as banded equi-joins, in the initial and in the
  * post-AQE executed plan, and return the brute-force rows.
  *
  * `spark.sql.extensions` is read from the SparkContext's conf when a
  * session is created, and the suites share one SparkContext, so the
  * session is built with `withExtensions(new GraftExtensions)` over the
  * shared context — the same `SparkSessionExtensions => Unit` the conf
  * key instantiates. `create()` leaves the default and active sessions
  * (set by the shared base session first) untouched, so no other suite
  * sees the extensions. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    def builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    builder.getOrCreate() // the shared context and default session first
    builder.withExtensions(new graft.plans.GraftExtensions).create()
  }

  private def text(i: Int) = s"words w${i % 9} w${i % 7} w${i % 5}"

  /** 30 distinct texts plus exact copies of six of them under new ids,
    * so the join has planted distance-0 pairs on top of chance ones. */
  private val docs: Seq[(Long, String)] =
    (0 until 30).map(i => (i.toLong, text(i))) ++
      Seq(2, 5, 11, 17, 23, 29).map(i => (100L + i, text(i)))

  private def sh(s: String): Long = graft.Queries.simhash64(s)
  private def near(a: String, b: String): Boolean =
    java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3

  /** Rows of `df`, asserting the initial and the final (post-AQE)
    * executed plans both avoid a nested-loop join. */
  private def bandedRows(df: DataFrame): Seq[org.apache.spark.sql.Row] = {
    def nestedLoop(p: String) =
      p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
    val initial = df.queryExecution.executedPlan.toString
    assert(!nestedLoop(initial), s"initial plan nested-loops:\n$initial")
    val rows = df.collect().toSeq
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("isFinalPlan=true"), s"AQE did not finalize the plan:\n$fin")
    assert(!nestedLoop(fin), s"post-AQE plan nested-loops:\n$fin")
    rows
  }

  test("extensions session: natural simhash64 join plans banded and matches brute force") {
    import spark.implicits._
    docs.toDF("id", "text").createOrReplaceTempView("ext_docs")
    val got = bandedRows(spark.sql(
      """SELECT a.id, b.id FROM ext_docs a JOIN ext_docs b
        |ON bit_count(simhash64(a.text) ^ simhash64(b.text)) <= 3 AND a.id < b.id""".stripMargin))
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val expected = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib && near(ta, tb)
    } yield (ia, ib)).sorted
    assert(expected.size >= 6, "the planted copies must pair up")
    assert(got === expected)
  }

  test("extensions session: NOT EXISTS decontamination plans banded and matches brute force") {
    import spark.implicits._
    docs.toDF("id", "text").createOrReplaceTempView("ext_corpus")
    // three corpus texts leak into the eval set, next to two novel ones
    val evals = Seq(3, 12, 25).map(text) ++ Seq("an unrelated eval line", "another eval text")
    evals.toDF("text").createOrReplaceTempView("ext_eval")
    val got = bandedRows(spark.sql(
      """SELECT t.id FROM ext_corpus t WHERE NOT EXISTS (
        |  SELECT 1 FROM ext_eval e
        |  WHERE bit_count(simhash64(t.text) ^ simhash64(e.text)) <= 3)""".stripMargin))
      .map(_.getLong(0)).sorted
    val expected = docs.collect { case (id, t) if !evals.exists(near(t, _)) => id }.sorted
    assert(expected.nonEmpty && expected.size < docs.size - 2,
      "the fixture must both keep and drop corpus rows")
    assert(got === expected)
  }
}
