package geobench

import graft.img.Images
import graft.join.SimilarityJoin
import graft.ops.{ConnectedComponents, DedupPipeline, Normalize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `neardup`: the table's captions plus one seeded noisy copy of each
  * (the plant of the engine's dedup gate, `Queries.q76DedupPipeline`).
  * Each pass runs `DedupPipeline.run` (normalize → exact-dup collapse →
  * SimHash banded Hamming join → connected components → keeper). The only
  * workload running `join.SimilarityJoin`, `ops.ConnectedComponents` and
  * iterative job rounds.
  *
  * Copies are built so the pipeline must join them to their original:
  * case/punctuation noise (an exact duplicate after normalization) or the
  * caption repeated two or three times (a different text with the same
  * SimHash, found only through the banded join). */
final class NearDup(seed: Long, tiny: Boolean) extends Workload {
  import NearDup._
  val name = "neardup"
  private val captions = if (tiny) 150 else 1200
  private val (docs, planted) = generate(seed, captions)
  private var docDf: DataFrame = _
  private var observed: java.util.Map[String, Long] = _
  private var runEndMs = 0L
  private var bandRows = 0.0

  def rowsPerPass: Long = docs.size.toLong
  def prepare(spark: SparkSession): Unit = ()
  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    docDf = docs.toDF("id", "text").repartition(spark.sparkContext.defaultParallelism).cache()
    docDf.count()
  }

  private def keepers(df: DataFrame): Out = {
    val m = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    Out(m.length, Digest.ofLines(m.map { case (a, b) => s"$a $b" }.toSeq), m.toMap)
  }

  def ops(spark: SparkSession): Seq[Op] = Seq(
    Op("ops.dedup", tr => keepers(tr.plan {
      val df = DedupPipeline.run(docDf, "id", "text", k = 3, metricName = BAND_ROWS)
      runEndMs = System.currentTimeMillis()
      df
    })))

  /** Dedup is iterative driver rounds of small jobs at this size. */
  def scalingOps: Set[String] = Set.empty

  /** The same `DedupPipeline.run` call; the band-row metric is captured. */
  override def tracedOps(spark: SparkSession): Seq[Op] = {
    observed = graft.bench.Observed.register(spark)
    ops(spark)
  }

  /** Splits the pipeline call by the SQL executions the listener saw inside
    * it: the one carrying the SimHash join's observe metric is
    * `join.simhash` (with the edge checkpoint that consumes it); from its
    * end to the pipeline's return is `ops.cc` (connected components'
    * rounds). Normalize and exact-dup collapse stay in the call's
    * `spark.plan` span. */
  override def afterTracedPass(tr: Tracer, stats: SparkStats): Unit = {
    bandRows = Option(observed.get(BAND_ROWS)).map(_.toDouble).getOrElse(0.0)
    val inPass = tr.spans.filter(_.pass == tr.pass)
    for (op <- inPass.filter(_.name == "ops.dedup").lastOption;
         call <- inPass.find(s => s.parent == op.id && s.name == "spark.plan")) {
      val sim = stats.execsWithin(call.startMs, runEndMs).filter(_.plan.contains(BAND_ROWS))
      if (sim.isEmpty) println(s"[$name] no SQL execution carried $BAND_ROWS: join.simhash and ops.cc not split")
      else {
        sim.foreach(x => tr.addSpan("join.simhash", call, x.startMs, x.endMs))
        tr.addSpan("ops.cc", call, sim.map(_.endMs).max, runEndMs)
      }
    }
  }

  override def passMetrics: Map[String, Double] = Map("join.simhash_band_rows" -> bandRows)

  def verify(spark: SparkSession, outs: Map[String, Out], wrong: Boolean): Seq[Check] = {
    val keeper = outs("ops.dedup").value.asInstanceOf[Map[Long, Long]]
    val exp = if (wrong) planted.updated(planted.keys.head, -1L) else planted
    val lost = exp.toSeq.filter { case (copy, orig) => keeper.get(copy) != keeper.get(orig) || !keeper.contains(orig) }
    Seq(
      Check("every input row has a keeper", keeper.size == docs.size, s"${keeper.size} of ${docs.size} rows"),
      Check("every planted duplicate lands with its original", lost.isEmpty,
        s"${lost.size} of ${exp.size} copies split from their original, e.g. ${lost.take(3)}"))
  }

  /** SimHash pair count: the pipeline's pairs never leave it, so the
    * join runs once more after the passes on the fingerprint table
    * `DedupPipeline.run` builds (one SimHash of the normalized text per
    * exact-dup group). Its band rows must equal the pipeline's; the report
    * says so when they do not (the pipeline then changed its join input). */
  def probes(tr: Tracer): Map[String, Double] = {
    val sh = udf((t: String) => graft.Queries.simhash64(t))
    val sims = Normalize.withKey(docDf.select(col("id"), col("text")), "text")
      .withColumn("rep", min(col("id")).over(Window.partitionBy("key_md5")))
      .filter(col("id") === col("rep"))
      .select(col("id"), sh(Normalize.normKey(col("text"))).as("sim"))
    val pairs = tr.span("join.simhash_probe") {
      SimilarityJoin.simhashHammingJoin(sims, k = 3, bits = 64, bands = 4, metricName = PROBE_BAND_ROWS).count()
    }
    graft.bench.Observed.drain(docDf.sparkSession)
    val probeRows = Option(observed.get(PROBE_BAND_ROWS)).map(_.toDouble).getOrElse(0.0)
    if (probeRows != bandRows)
      println(s"[$name] probe band rows $probeRows differ from the pipeline's $bandRows")
    Map("join.simhash_pairs" -> pairs.toDouble,
      "join.simhash_precision" -> (if (probeRows > 0) pairs / probeRows else 0.0))
  }
}

object NearDup {
  val BAND_ROWS = "geobench_band_rows"
  val PROBE_BAND_ROWS = "geobench_probe_band_rows"

  /** Captions of table rows 0..n-1 (ids 0..n-1) and one noisy copy of each
    * (ids n..2n-1, in a seeded order), with the copy → original map. The
    * captions do not depend on the seed: they come from a 20-word
    * vocabulary, so their accidental duplicate and near-duplicate
    * structure (which sets the SimHash candidate count and the
    * components' rounds) would otherwise change the pass cost from seed
    * to seed. */
  def generate(seed: Long, n: Int): (Seq[(Long, String)], Map[Long, Long]) = {
    val r = new Rng(seed * 2897L + 7)
    val originals = (0 until n).map(i => (i.toLong, Images.caption(i)))
    val order = (0 until n).map(i => (r.long(), i)).sorted.map(_._2)
    val copies = order.zipWithIndex.map { case (orig, j) =>
      val text = originals(orig)._2
      val noisy = r.int(3) match {
        case 0 => text.split(' ').map(w => if (r.int(2) == 0) w.toUpperCase else w + ",").mkString("  ")
        case 1 => text + " " + text
        case _ => (text + " " + text + " " + text).toUpperCase
      }
      ((n + j).toLong, noisy, orig.toLong)
    }
    (originals ++ copies.map(c => (c._1, c._2)), copies.map(c => c._1 -> c._3).toMap)
  }
}
