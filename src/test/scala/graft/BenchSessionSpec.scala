package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench builds its own session and cannot share a builder, so the
  * copy of its settings in bench.BenchSession (used by QBench and
  * tools.PlanSnap) is checked against Bench's source text. */
class BenchSessionSpec extends AnyFunSuite {
  /** The trimmed lines that set the master, the parallelism and the
    * `.config(...)` entries, in order. */
  private def settings(path: String): Seq[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    src.linesIterator.map(_.trim)
      .filter(l => l.startsWith(".master(") || l.startsWith(".config(") || l.contains("SPARK_GRAFT_CPUS"))
      .toSeq
  }

  test("BenchSession's settings are Bench's, line for line") {
    val bench = settings("src/main/scala/graft/Bench.scala")
    val helper = settings("src/main/scala/graft/bench/BenchSession.scala")
    assert(bench.count(_.startsWith(".config(")) >= 6, bench)
    assert(helper == bench)
  }
}
