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

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` set to
    * `threshold` (None: as it is), restoring the previous setting after. */
  private def withThreshold[T](threshold: Option[Long])(f: => T): T =
    Placement.withThreshold(spark, threshold)(f)

  /** Runs `f` with the threshold at −1, which forces DedupPipeline's
    * distributed path and connected components' rounds. */
  private def distributed[T](f: => T): T = withThreshold(Some(-1))(f)

  /** The neardup benchmark's shape: 1,200 captions plus one noisy copy of
    * each (case/punctuation noise, or the caption repeated). */
  private lazy val benchRows: Seq[(Long, String)] = {
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
    originals ++ copies
  }

  /** Keepers on the driver: normalized-key groups, all-pairs hamming
    * <= 3 between group reps, union-find, min id per cluster. */
  private def referenceKeepers(rows: Seq[(Long, String)]): Map[Long, Long] = {
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
    groups.flatMap { g =>
      val k = find(g.map(_._1).min)
      g.map { case (id, _) => id -> k }
    }.toMap
  }

  /** DedupPipeline over the benchmark-shaped fixture: its keepers and the
    * Spark work of running it and collecting the result. `belowInput` sets
    * the broadcast threshold one byte below the bytes of the placed
    * fingerprint rows, so the pipeline runs distributed while its pair
    * list still fits. */
  private def benchRun(belowInput: Boolean): (Map[Long, Long], SparkWork) = {
    val sp = spark
    import sp.implicits._
    val docs = benchRows.toDF("id", "text").repartition(sp.sparkContext.defaultParallelism).cache()
    docs.count()
    val threshold =
      if (belowInput) Some(Placement.bytes(graft.ops.DedupPipeline.fingerprints(docs, "id", "text")) - 1)
      else None
    try {
      val (out, work) = withThreshold(threshold)(
        SparkWork.of(sp)(graft.ops.DedupPipeline.run(docs, "id", "text", k = 3).collect()))
      (out.map(r => r.getLong(0) -> r.getLong(1)).toMap, work)
    } finally docs.unpersist()
  }

  test("pipeline on the driver at benchmark size: one collect inside run plus the caller's; keepers == reference") {
    val (got, work) = benchRun(belowInput = false)
    // the (id, key_md5, sim) collect and the caller's collect
    assert(work.actions == Seq("collect", "collect"), work)
    assert(work.jobs <= 2, work)
    val want = referenceKeepers(benchRows)
    assert(got == want)
    assert(want.values.toSet.size < 1200, "no near-dup pair joined two groups — weak fixture")
  }

  test("distributed pipeline at benchmark size (fingerprints above the threshold): four SQL executions; keepers == reference") {
    val (got, work) = benchRun(belowInput = true)
    // the fingerprints' placement run, the (id, rep, sim) checkpoint over
    // its kept rows, connected components' placement run (which runs the
    // Hamming join) and the caller's collect
    assert(work.actions == Seq("collect", "localCheckpoint", "collect", "collect"), work)
    assert(work.jobs <= 7, work)
    assert(got == referenceKeepers(benchRows))
  }

  /** Runs DedupPipeline on `df` down both paths and checks they agree on
    * rows, schema and the band-row metric; returns the keepers by id. */
  private def bothPaths(df: org.apache.spark.sql.DataFrame, idCol: String = "id",
                        textCol: String = "text"): Map[Any, Any] = {
    val metric = "dedup_spec_band_rows"
    def once() = SparkWork.of(spark) {
      val out = graft.ops.DedupPipeline.run(df, idCol, textCol, k = 3, metricName = metric)
      (out.schema, out.collect().toSeq.sortBy(_.toString))
    }
    val ((schema, rows), work) = once()
    val ((dSchema, dRows), dWork) = distributed(once())
    assert(work.actions == Seq("collect", "collect"), "driver path not taken")
    assert(dWork.actions.headOption.contains("localCheckpoint"), "distributed path not taken")
    assert(schema == dSchema)
    assert(rows == dRows)
    assert(work.metrics.get(metric) == dWork.metrics.get(metric))
    assert(work.metrics.contains(metric))
    rows.map(r => r.get(0) -> r.get(1)).toMap
  }

  /** Single-word edits of one 40-word lowercase base text (letters only,
    * so normalization leaves them as they are) with their fingerprints. */
  private lazy val variants: IndexedSeq[(String, Long)] = {
    def word(i: Int): String = "w" + Integer.toString(i, 26).map(c =>
      if (c.isDigit) ('a' + (c - '0')).toChar else ('a' + 10 + (c - 'a')).toChar)
    val base = (0 until 40).map(word)
    for (pos <- 0 until 40; sub <- 0 until 40) yield {
      val text = base.updated(pos, word(1000 + sub)).mkString(" ")
      (text, Queries.simhash64(text))
    }
  }

  /** A pair of variants at exactly hamming `d`, all differing bits in one
    * 16-bit band or not. */
  private def pairAt(d: Int, oneBand: Boolean): (String, String) = {
    val hits = for (i <- variants.indices.iterator; j <- (i + 1 until variants.size).iterator
      if {
        val x = variants(i)._2 ^ variants(j)._2
        java.lang.Long.bitCount(x) == d &&
          (0 until 4).count(b => ((x >>> (16 * b)) & 0xFFFFL) != 0) == (if (oneBand) 1 else d)
      }) yield (variants(i)._1, variants(j)._1)
    assert(hits.hasNext, s"no variant pair at hamming $d (one band: $oneBand)")
    hits.next()
  }

  test("driver path == distributed path: benchmark fixture, hamming k and k+1, chains, dup groups, Int ids, empty") {
    val sp = spark
    import sp.implicits._
    val bench = bothPaths(benchRows.toDF("id", "text"))
    assert(bench == referenceKeepers(benchRows))

    // pairs at exactly k = 3 join; at k + 1 they do not, whichever bands
    // the differing bits fall in
    for (d <- Seq(3, 4); oneBand <- Seq(true, false)) {
      val (a, b) = pairAt(d, oneBand)
      val got = bothPaths(Seq((7L, a), (3L, b)).toDF("id", "text"))
      assert(got == Map(7L -> (if (d <= 3) 3L else 7L), 3L -> 3L), (d, oneBand))
    }

    // a chain a~b~c with a and c farther than k apart collapses to one keeper
    def dist(x: Int, y: Int) = java.lang.Long.bitCount(variants(x)._2 ^ variants(y)._2)
    val near = variants.indices.map(i => variants.indices.filter(j => j != i && dist(i, j) <= 3))
    val (a, b, c) = (for (j <- variants.indices.iterator; i <- near(j).iterator;
        l <- near(j).iterator if i < l && dist(i, l) > 3)
      yield (variants(i)._1, variants(j)._1, variants(l)._1)).next()
    val chain = bothPaths(Seq((30L, a), (20L, b), (10L, c)).toDF("id", "text"))
    assert(chain.values.toSet == Set(10L), chain)

    // exact-dup groups of three and four whose min id is not their first row
    val groups = bothPaths(Seq((5L, "Red fox jumps"), (2L, "red, fox  JUMPS!"), (9L, "RED FOX JUMPS 7"),
      (40L, "a slow brown dog"), (41L, "A SLOW BROWN DOG"), (17L, "a slow brown dog?"), (33L, "A slow brown dog."))
      .toDF("id", "text"))
    assert(groups == Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 40L -> 17L, 41L -> 17L, 17L -> 17L, 33L -> 17L))

    // an Int id column under another name keeps its name and type
    val ints = bothPaths(Seq((4, "one two three"), (1, "One two three!")).toDF("docKey", "body"), "docKey", "body")
    assert(ints == Map(4 -> 1L, 1 -> 1L))

    assert(bothPaths(Seq.empty[(Long, String)].toDF("id", "text")).isEmpty)
  }

  test("a null text fails the pipeline on both paths") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, Some("a b c")), (2L, None)).toDF("id", "text")
    intercept[Exception](graft.ops.DedupPipeline.run(df, "id", "text").collect())
    intercept[Exception](distributed(graft.ops.DedupPipeline.run(df, "id", "text").collect()))
  }

  test("driverHammingPairs == simhashHammingJoin on random fingerprints with planted near pairs") {
    val sp = spark
    import sp.implicits._
    import graft.join.SimilarityJoin
    val rnd = new scala.util.Random(5)
    for ((bits, k) <- Seq((64, 3), (32, 2))) {
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      val random = (0 until 2000).map(_ => rnd.nextLong() & mask)
      // each planted copy flips 0 to k + 1 random bits of an earlier row
      val planted = (0 until 400).map { _ =>
        val flips = (0 to rnd.nextInt(k + 2)).map(_ => 1L << rnd.nextInt(bits)).foldLeft(0L)(_ | _)
        random(rnd.nextInt(random.size)) ^ (if (rnd.nextBoolean()) flips else 0L)
      }
      val sims = random ++ planted
      val ids = rnd.shuffle(sims.indices.map(_.toLong * 3 + 1).toList).toArray
      val metric = s"driver_pairs_spec_$bits"
      val (want, work) = SparkWork.of(sp)(SimilarityJoin.simhashHammingJoin(
        ids.toSeq.zip(sims).toDF("id", "sim"), k = k, bits = bits, bands = 4, metricName = metric)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      val got = SimilarityJoin.driverHammingPairs(ids, sims.toArray, k, bits = bits, bands = 4)
      assert(got.idA.zip(got.idB).toSet == want && got.idA.length == want.size, bits)
      assert(want.size > 300, s"weak fixture: ${want.size} pairs")
      assert(got.bandRows == work.metrics(metric).getLong(0), bits)
    }
  }
}
