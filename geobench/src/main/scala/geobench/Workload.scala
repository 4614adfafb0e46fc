package geobench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Result of one operation: output row count, an output digest that every
  * later pass must reproduce, and (verification pass only) a value the
  * workload's checks inspect. */
final case class Out(rows: Long, digest: String, value: Any = null)

/** One engine call of a pass, run under the given tracer. */
final case class Op(name: String, run: Tracer => Out)

final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload. Inputs are generated from the seed; the engine
  * sees only generated rows and is driven through its public functions.
  * Set-up = `prepare` (generation, image decode + phash verify) + `load`
  * (cache fill) + one warm-up pass. */
trait Workload {
  def name: String
  /** Input rows one pass consumes: the numerator of rows_per_s. */
  def rowsPerPass: Long
  def prepare(spark: SparkSession): Unit
  def load(spark: SparkSession): Unit
  def ops(spark: SparkSession): Seq[Op]
  /** The traced pass: the same engine calls as [[ops]], possibly with
    * extra bookkeeping around them. */
  def tracedOps(spark: SparkSession): Seq[Op] = ops(spark)
  /** Ops whose time at this input size is mostly row work rather than
    * Spark's fixed per-job cost: `scaling_eff` is measured over them. */
  def scalingOps: Set[String]
  /** Seeded output checks over the verification pass; `wrong` perturbs one
    * expected answer so the checks themselves can be tested. */
  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check]
  /** Per-call kernel timings (ns) and counts over this workload's inputs. */
  def probes(tr: Tracer): Map[String, Double]
  /** Layer metrics observed during traced passes (grid bits, band rows...),
    * one map per traced pass. */
  def passMetrics: Map[String, Double] = Map.empty
  /** Called after each traced pass once the listener bus is drained, with
    * the pass still current in `tr`: a workload may add spans derived from
    * the Spark executions that ran inside one engine call. */
  def afterTracedPass(tr: Tracer, stats: SparkStats): Unit = ()
}

object Workload {
  /** Each benchmark workload runs two of the four input families in one
    * pass (NOTES.md gives the reason for two workloads, not four). */
  def apply(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "tiling_spatial_join" =>
      val anchors = new Anchors(seed, if (tiny) 200 else 500)
      new Composite(name, Seq(new Tiling(anchors, tiny), new SpatialJoinWorkload(seed, anchors, tiny)))
    case "geoq_stream_neardup" =>
      new Composite(name, Seq(new GeoqStream(seed, tiny), new NearDup(seed, tiny)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Several workloads run back to back in one pass; op names stay distinct. */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  def rowsPerPass: Long = parts.map(_.rowsPerPass).sum
  def prepare(spark: SparkSession): Unit = parts.foreach(_.prepare(spark))
  def load(spark: SparkSession): Unit = parts.foreach(_.load(spark))
  def ops(spark: SparkSession): Seq[Op] = parts.flatMap(_.ops(spark))
  override def tracedOps(spark: SparkSession): Seq[Op] = parts.flatMap(_.tracedOps(spark))
  def scalingOps: Set[String] = parts.flatMap(_.scalingOps).toSet
  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check] =
    parts.flatMap(_.verify(spark, outs, wrong))
  def probes(tr: Tracer): Map[String, Double] = parts.map(_.probes(tr)).reduce(_ ++ _)
  override def passMetrics: Map[String, Double] = parts.map(_.passMetrics).reduce(_ ++ _)
  override def afterTracedPass(tr: Tracer, stats: SparkStats): Unit = parts.foreach(_.afterTracedPass(tr, stats))
}

object Digest {
  /** Collects `df` and digests its rows in sorted order; the rows are kept
    * as the value for the output checks. For outputs small enough to
    * collect (join pairs, kept ids). */
  def collected(tr: Tracer)(df: => DataFrame): Out = {
    val rows = tr.plan(df).collect()
    Out(rows.length, ofLines(rows.map(_.mkString(" ")).sorted.toSeq), rows)
  }

  def ofLines(lines: Seq[String]): String =
    s"${lines.size}:${scala.util.hashing.MurmurHash3.orderedHash(lines)}"
}

object Probe {
  @volatile private var sink = 0L

  /** Mean ns per call of `f(i)` over i in [0, n), repeated until at least
    * 50 ms are measured; one span per probe. */
  def nsPerCall(tr: Tracer, name: String, n: Int)(f: Int => Any): Double =
    if (n == 0) 0.0
    else tr.span(name) {
      // a reference test keeps each result alive at no cost of its own
      var i = 0
      while (i < n) { if (f(i) == null) sink += 1; i += 1 } // JIT warm-up
      var calls = 0L
      val t0 = System.nanoTime()
      var el = 0L
      while (el < 50000000L) {
        i = 0
        while (i < n) { if (f(i) == null) sink += 1; i += 1 }
        calls += n
        el = System.nanoTime() - t0
      }
      el.toDouble / calls
    }

  /** Mean of `f(i)` over i in [0, n) — per-call output sizes. */
  def mean(n: Int)(f: Int => Double): Double =
    if (n == 0) 0.0 else (0 until n).map(f).sum / n
}

/** Seeded RNG for input generation (splitmix64 stream). */
final class Rng(seed: Long) {
  private var s = seed
  def long(): Long = { s += 1; graft.img.Images.splitmix64(s) }
  def unit(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
  def between(lo: Double, hi: Double): Double = lo + (hi - lo) * unit()
  def int(n: Int): Int = ((long() >>> 1) % n).toInt
}
