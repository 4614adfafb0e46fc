package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-7 dedup/tokenizer additions: the 64-bit SimHash
  * fingerprint's band-key health (the regression that motivated the
  * mix — a raw poly hash collapsed the two high bands to ONE key,
  * turning "banding" into a full cross product), the BPE merge-chain
  * kernel, and the composed DedupPipeline's transitive-closure
  * semantics on a planted chain (gated end-to-end as q61/q77/q76).
  */
class DedupPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---------------- simhash64 ----------------

  test("simhash64 band keys are diverse on short-token docs (no high-band collapse)") {
    // 2000 synthetic docs of short words — the exact population whose
    // raw-poly fingerprints collapsed bands 1 and 3 to a single key
    val docs = (0 until 2000).map { i =>
      (0 until 30).map(k => s"w${(i * 31 + k * 7919) % 1000}").mkString(" ")
    }
    val sims = docs.map(Queries.simhash64)
    (0 until 4).foreach { b =>
      val keys = sims.map(s => (s >>> (b * 16)) & 0xFFFFL).distinct
      assert(keys.size > 500,
        s"band $b collapsed: only ${keys.size} distinct keys over 2000 docs")
    }
  }

  test("simhash64 near-dup docs stay within small hamming distance") {
    val base = (0 until 30).map(k => s"word$k").mkString(" ")
    val oneEdit = (0 until 30).map(k => if (k == 7) "changed" else s"word$k").mkString(" ")
    val d = java.lang.Long.bitCount(Queries.simhash64(base) ^ Queries.simhash64(oneEdit))
    assert(d <= 16, s"single-word edit moved $d of 64 bits")
    assert(Queries.simhash64(base) == Queries.simhash64(base))
  }

  // ---------------- BPE ----------------

  test("BPE merge chain: rank order, left-to-right non-overlap, marker encoding") {
    import graft.ops.Bpe
    // "the": t+h -> th (rank 0), then th+e -> the (trigram rule)
    assert(Bpe.encodeWord("the") === "|the")
    assert(Bpe.tokenCount("the") === 1L)
    // non-overlap: with the single rule (a,a), "aaa" -> "aa","a" (left-to-right)
    assert(Bpe.encodeWord("aaa", Seq("a" -> "a")) === "|aa|a")
    // marker safety: rule (h,e) must NOT fire inside symbol "th"
    assert(Bpe.encodeWord("the", Seq("t" -> "h", "h" -> "e")) === "|th|e")
    // a word with no applicable merges stays fully split
    assert(Bpe.tokenCount("zzz", Seq("a" -> "b")) === 3L)
    // fixture size is the oracle-replayed contract
    assert(Bpe.MERGES.size === 200)
    // counts are plausible subword compression on running text
    val t = "the standing theory of intercontinental streams"
    assert(Bpe.tokenCount(t) < t.count(_ != ' ') && Bpe.tokenCount(t) >= 7L)
  }

  // ---------------- DedupPipeline ----------------

  test("pipeline collapses exact-normalized dups and transitive near-dup chains") {
    val sp = spark
    import sp.implicits._
    // three reps whose fingerprints chain: a~b and b~c within hamming 3,
    // built by probing real simhash64 values (not assumed): find a base
    // doc and two single-word edits whose distances actually chain
    val words = (0 until 40).map(k => s"token${k}x").toArray
    def doc(edits: Map[Int, String]): String =
      words.indices.map(i => edits.getOrElse(i, words(i))).mkString(" ")
    val base = doc(Map.empty)
    // probe candidate edits for two that chain through base:
    // d(base, e1) <= 3 is rare; instead accept whatever distances arise
    // and assert the CLOSURE property on a constructed exact chain below.
    // Exact-dup layer: noisy twins that normalize to their originals.
    val rows = Seq(
      (0L, base),
      (1L, "  " + base.toUpperCase + " 123!  "), // exact dup of 0 after normalize
      (2L, doc(Map(3 -> "altered"))),
      (3L, "#" + doc(Map(3 -> "altered")) + "?") // exact dup of 2
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupPipeline.run(rows, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(0L), "noisy twin must share its original's keeper")
    assert(out(3L) === out(2L), "noisy twin must share its original's keeper")
    assert(out(0L) === 0L, "keeper is the cluster min id")
    // if the two reps' fingerprints happen to be within 3, ALL four rows
    // share keeper 0; otherwise the groups stay separate — both are
    // consistent; the chain semantics proper are asserted next
    val chained = out(2L) == 0L

    // transitive closure: force a 3-link chain through hamming-0 pairs
    // (identical normalized text CANNOT be used — that's the exact layer —
    // so use punctuation variants that normalize DIFFERENTLY but
    // fingerprint identically is impossible; instead assert closure on
    // the component layer directly)
    val verts = Seq(10L, 11L, 12L, 13L).toDF("id")
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L)).toDF("src", "dst")
    val comp = graft.ops.ConnectedComponents.run(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(10L), s"chain must collapse (chained=$chained)")
  }

  test("pipeline runs in three SQL executions at benchmark size; keepers == driver-side reference") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // the neardup benchmark's shape: 1,200 captions plus one noisy copy of
    // each (case/punctuation noise, or the caption repeated)
    val rnd = new scala.util.Random(11)
    val n = 1200
    val originals = (0 until n).map(i => (i.toLong, graft.img.Images.caption(i)))
    val copies = rnd.shuffle((0 until n).toList).zipWithIndex.map { case (o, j) =>
      val text = originals(o)._2
      val noisy = rnd.nextInt(3) match {
        case 0 => text.split(' ').map(w => if (rnd.nextBoolean()) w.toUpperCase else w + ",").mkString("  ")
        case 1 => text + " " + text
        case _ => (text + " " + text + " " + text).toUpperCase
      }
      ((n + j).toLong, noisy)
    }
    val rows = originals ++ copies
    val docs = rows.toDF("id", "text").repartition(sp.sparkContext.defaultParallelism).cache()
    docs.count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = actions.add(s"failed $funcName")
    }
    org.apache.spark.sql.graft.bridge.waitListenerBus(sp)
    sp.sparkContext.addSparkListener(jobListener)
    sp.listenerManager.register(qeListener)
    val got = try {
      val out = graft.ops.DedupPipeline.run(docs, "id", "text", k = 3).collect()
      org.apache.spark.sql.graft.bridge.waitListenerBus(sp)
      out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally {
      sp.sparkContext.removeSparkListener(jobListener)
      sp.listenerManager.unregister(qeListener)
    }
    // the (id, rep, sim) checkpoint, connected components' bounded collect
    // (which runs the Hamming join) and the caller's collect
    val acts = actions.asScala.toSeq
    assert(acts == Seq("localCheckpoint", "collect", "collect"), acts)
    assert(jobs.get <= 7, s"${jobs.get} jobs")

    // reference on the driver: normalized-key groups, all-pairs hamming
    // <= 3 between group reps, union-find, min id per cluster
    def norm(t: String) =
      t.toLowerCase.replaceAll("[^a-z ]", " ").replaceAll(" +", " ").trim
    val groups = rows.groupBy { case (_, t) => norm(t) }.values.toSeq
    val reps = groups.map(g => (g.map(_._1).min, Queries.simhash64(norm(g.head._2))))
    val parent = scala.collection.mutable.Map(reps.map(r => r._1 -> r._1): _*)
    def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
    for (i <- reps.indices; j <- i + 1 until reps.size
         if java.lang.Long.bitCount(reps(i)._2 ^ reps(j)._2) <= 3) {
      val (a, b) = (find(reps(i)._1), find(reps(j)._1))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val want = groups.flatMap { g =>
      val k = find(g.map(_._1).min)
      g.map { case (id, _) => id -> k }
    }.toMap
    assert(got == want)
    assert(want.values.toSet.size < n, "no near-dup pair joined two groups — weak fixture")
    docs.unpersist()
  }
}
