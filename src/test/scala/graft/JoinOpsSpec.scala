package graft

import graft.join.{AsOf, IntervalJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JoinOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof backward join == brute force; inclusive bound; inner vs outer") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 00:05:00")),
      (2L, 10L, ts("2024-01-01 00:10:00")), // EXACTLY at an update time
      (3L, 10L, ts("2024-01-01 00:00:30")), // before any update → unmatched
      (4L, 20L, ts("2024-01-01 02:00:00")),
      (5L, 30L, ts("2024-01-01 01:00:00"))  // user with no updates at all
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 00:01:00"), 100L),
      (10L, ts("2024-01-01 00:10:00"), 101L),
      (10L, ts("2024-01-01 00:30:00"), 102L),
      (20L, ts("2024-01-01 01:00:00"), 200L)
    ).toDF("user_id", "uts", "update_id")

    val got = AsOf.joinBackward(left, right, "user_id", "ts", "uts")
      .select("event_id", "update_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // brute force: rank prior updates per event, keep the latest
    val w = Window.partitionBy("event_id").orderBy(col("uts").desc)
    val brute = left.join(right, Seq("user_id"))
      .filter(col("uts") <= col("ts"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("event_id", "update_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == brute)
    assert(got == Seq((1L, 100L), (2L, 101L), (4L, 200L))) // inclusive ≤ at event 2
    // outer keeps unmatched lefts with null payload
    val outer = AsOf.joinBackward(left, right, "user_id", "ts", "uts", inner = false)
    assert(outer.count() == 5)
    assert(outer.filter(col("update_id").isNull).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L))
    // column collision rejected loudly
    val bad = right.withColumnRenamed("update_id", "ts")
    intercept[IllegalArgumentException](AsOf.joinBackward(left, bad, "user_id", "ts", "uts"))
    // plan shape: NO join operator at all — one window over a union
    val plan = AsOf.joinBackward(left, right, "user_id", "ts", "uts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("interval join == brute force; auto width from stats; pinned width agrees; degenerate intervals") {
    import spark.implicits._
    val base = 1704067200000000L
    val pts = spark.range(2000).select(col("id"),
      timestamp_micros(lit(base) + col("id") * 97000000L).as("t")) // 97 s apart
    val ivs = spark.range(40).select(col("id").as("rid"),
        timestamp_micros(lit(base) + (col("id") * 7919 % 1800).cast("long") * 100000000L).as("start"))
      .withColumn("end", timestamp_micros(
        unix_micros(col("start")) + (col("rid") % 5 + 1) * 600000000L)) // 10-50 min
      // degenerate + inverted rows: must match NOTHING and not explode
      .unionByName(Seq(
        (97L, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00")),
        (98L, ts("2024-01-03 00:00:00"), ts("2024-01-02 00:00:00")))
        .toDF("rid", "start", "end"))
    val got = IntervalJoin.joinPointsInIntervals(pts, ivs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val brute = pts.crossJoin(ivs)
      .filter(col("t") >= col("start") && col("t") < col("end"))
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == brute && got.nonEmpty)
    assert(!got.exists(p => p._2 == 97L || p._2 == 98L))
    // the auto width was published and is the stats-derived power
    val pow = spark.conf.get(IntervalJoin.LAST_POW_KEY).toInt
    assert(pow >= 1 && pow <= 62)
    // pinned widths agree (exact at every granularity; width only moves cost)
    for (p <- Seq(24, 28, 34)) {
      val pinned = IntervalJoin.joinPointsInIntervals(pts, ivs, widthPow = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pinned == got, s"widthPow=$p diverged")
    }
    // formula anchors: ~12 h median → ~4.8 h buckets; tiny intervals clamp
    assert(IntervalJoin.widthPowForLens(4.32e10, 7.56e10) == 34)
    assert(IntervalJoin.widthPowForLens(1.0, 1.0) == 1)
    // plan: equi-join on the bucket key, no nested loop
    val plan = IntervalJoin.joinPointsInIntervals(pts, ivs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__b"), plan)
  }

  test("interval join: a pinned width too fine for the intervals fails loudly, not opaquely") {
    import spark.implicits._
    val pts = Seq((1L, ts("2024-01-01 05:00:00"))).toDF("id", "t")
    val ivs = Seq((1L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")))
      .toDF("rid", "start", "end")
    val e = intercept[Exception] {
      graft.join.IntervalJoin.joinPointsInIntervals(pts, ivs, widthPow = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("IntervalJoin")), e.toString)
  }

  test("simhash hamming join == brute force; pigeonhole candidates are complete") {
    import spark.implicits._
    import graft.join.SimilarityJoin
    // constructed fingerprints at hamming distances 0..6 from a base,
    // plus random-ish values — completeness must hold exactly at k=3
    val base = 0x5A5A5A5AL
    val sims = (Seq(
      (1L, base), (2L, base),                    // hamming 0
      (3L, base ^ 0x1L),                         // 1
      (4L, base ^ 0x80001L),                     // 2, split bands
      (5L, base ^ 0x80000001L),                  // 2, outer bands
      (6L, base ^ 0x01010100L),                  // 3 across three bands
      (7L, base ^ 0x11010100L),                  // 4 — must be excluded
      (8L, base ^ 0xF000000FL)                   // 8 — excluded
    ) ++ (0 until 50).map(i => (100L + i, (i.toLong * 2654435761L) & 0xFFFFFFFFL)))
      .toDF("id", "sim")
    val got = SimilarityJoin.simhashHammingJoin(sims, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val brute = sims.as("a").crossJoin(sims.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("h", bit_count(col("a.sim").bitwiseXOR(col("b.sim"))))
      .filter(col("h") <= 3)
      .select(col("a.id"), col("b.id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == brute)
    assert(got.exists(_._3 == 3) && got.exists(_._3 == 0), "distance spectrum not exercised")
    // doc 7 is hamming-4 from docs 1/2 — no pair among them may appear
    assert(!got.exists(p => (p._1 == 7L || p._2 == 7L) && (p._1 <= 2L || p._2 <= 2L)),
      "hamming-4 pair leaked")
    intercept[IllegalArgumentException](SimilarityJoin.simhashHammingJoin(sims, k = 4))
  }

  test("simhash128 hamming join == brute force at k=7; word mixing reaches every band") {
    import spark.implicits._
    import graft.join.SimilarityJoin
    // constructed (lo, hi) pairs at distances straddling k=7 across BOTH
    // halves, plus real corpus-shaped fingerprints from the kernel
    val bl = 0x5A5A5A5AF0F0F0F0L; val bh = 0x123456789ABCDEF0L
    val planted = Seq(
      (1L, bl, bh), (2L, bl, bh),                         // 0
      (3L, bl ^ 0xFL, bh),                                // 4, lo only
      (4L, bl ^ 0x7L, bh ^ 0xF000000000000000L),          // 7 split halves
      (5L, bl ^ 0xFFL, bh),                               // 8 — excluded
      (6L, bl, bh ^ 0x0101010101010101L))                 // 8 — excluded
    // disjoint per-doc vocabularies → independent fingerprints, so the
    // band-distinctness guard below measures the MIX, not corpus overlap
    val kernel = (0 until 40).map { i =>
      val s = graft.Queries.simhash128((0 until 25).map(t => s"w${i}x$t").mkString(" "))
      (100L + i, s(0), s(1))
    }
    val sims = (planted ++ kernel).toDF("id", "lo", "hi")
    val got = SimilarityJoin.simhash128HammingJoin(sims, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val brute = sims.as("a").crossJoin(sims.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("h", bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
        bit_count(col("a.hi").bitwiseXOR(col("b.hi"))))
      .filter(col("h") <= 7)
      .select(col("a.id"), col("b.id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == brute)
    assert(got.contains((1L, 4L, 7)) && got.contains((2L, 4L, 7)), "k=7 boundary pair missed")
    // 5 and 6 are distance 8 from the BASE (1/2) — excluded there; (3,5)
    // at distance 4 is legitimately present
    assert(!got.exists(p => Set(p._1, p._2).exists(Set(5L, 6L)) &&
      Set(p._1, p._2).exists(Set(1L, 2L))), "hamming-8 pair leaked")
    intercept[IllegalArgumentException](SimilarityJoin.simhash128HammingJoin(sims, k = 8))
    // the round-7 lesson as a guard: EVERY 16-bit band of the kernel's
    // words must see many distinct keys (a raw poly once collapsed the
    // high bands to ONE key = a cross product smuggled through banding)
    for (b <- 0 until 8) {
      val keys = kernel.map { case (_, lo, hi) =>
        ((if (b < 4) lo else hi) >>> ((b % 4) * 16)) & 0xFFFFL
      }.distinct.size
      assert(keys >= 35, s"band $b key collapse: only $keys distinct keys across 40 docs")
    }
  }

  test("exact jaccard join == brute force, including threshold-boundary pairs") {
    import spark.implicits._
    import graft.join.SimilarityJoin
    // sets over a small universe; several pairs sit EXACTLY on the 4/5
    // boundary (9*shared == 4*(na+nb)); unsorted input arrays on purpose
    def set(xs: Long*): Seq[Long] = xs.reverse // unsorted
    val docs = (Seq(
      (1L, set(1, 2, 3, 4, 5, 6, 7, 8, 9)),
      (2L, set(1, 2, 3, 4, 5, 6, 7, 8, 9)),          // J = 1
      (3L, set(1, 2, 3, 4, 5, 6, 7, 8, 10)),         // shared 8, J = 0.8 — boundary: 9*8 = 72 = 4*18 ✓
      (4L, set(1, 2, 3, 4, 5, 6, 7, 10, 11)),        // shared 7 with doc1: below
      (5L, set(20, 21, 22)),
      (6L, set(20, 21, 22, 23))                      // vs 5: shared 3, 9*3=27 < 4*7=28 — just below
    ) ++ (0 until 60).map { i =>
      (100L + i, (0 until 12).map(j => (i * 13 + j * 7) % 97L).distinct)
    }).toDF("id", "shs")
    val got = SimilarityJoin.jaccardJoin(docs, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val sized = docs.select(col("id"), array_distinct(col("shs")).as("s"))
      .withColumn("n", size(col("s")))
    val brute = sized.as("a").crossJoin(sized.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("shared", size(array_intersect(col("a.s"), col("b.s"))))
      .filter(col("shared") * 9 >= (col("a.n") + col("b.n")) * 4)
      .select(col("a.id"), col("b.id"), col("shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got == brute)
    // the boundary pair (1,3) is IN, the just-below pairs are OUT
    assert(got.contains((1L, 3L, 8L)))
    assert(!got.exists(p => p._1 == 5L && p._2 == 6L))
    assert(got.contains((1L, 2L, 9L)))
  }

  test("IntervalJoinRewrite: natural ts-range SQL joins escape the nested loop, results exact") {
    import spark.implicits._
    val parentRulesBefore = spark.experimental.extraOptimizations
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val base = 1704067200000000L
    val pts = s2.range(3000).select(col("id"),
      timestamp_micros(lit(base) + col("id") * 47000000L).as("t")) // TIMESTAMP
    val ptsNtz = pts.withColumn("t", col("t").cast("timestamp_ntz"))
    val ivs = s2.range(30).select(col("id").as("rid"),
        timestamp_micros(lit(base) + (col("id") * 7919 % 1300).cast("long") * 100000000L).as("start"))
      .withColumn("end", timestamp_micros(
        unix_micros(col("start")) + (col("rid") % 5 + 1) * 700000000L))
    def natural(p: org.apache.spark.sql.DataFrame) = p.join(ivs,
      col("t") >= col("start") && col("t") < col("end"))
    // 1) plan: rewritten to the bucket equi-join, no nested loop
    val plan = natural(pts).queryExecution.executedPlan.toString
    assert(plan.contains("__graft_tb"), plan)
    assert(!plan.contains("NestedLoopJoin"), plan)
    // width derived from stats and published
    val pow = s2.conf.get(graft.join.IntervalJoin.LAST_POW_KEY).toInt
    assert(pow >= 1 && pow <= 62)
    // 2) results == rule-free naive join, for TIMESTAMP and TIMESTAMP_NTZ
    val got = natural(pts).select("id", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val gotNtz = natural(ptsNtz).select("id", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // rule-free naive: strip the optimizer rules, then restore
    val saved = s2.experimental.extraOptimizations
    s2.experimental.extraOptimizations = Seq.empty
    val naive =
      try natural(pts).select("id", "rid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      finally s2.experimental.extraOptimizations = saved
    assert(got == naive && got == gotNtz && got.nonEmpty)
    // 3) LEFT SEMI / LEFT ANTI keep their semantics through the rewrite
    val semi = pts.join(ivs, col("t") >= col("start") && col("t") < col("end"), "left_semi")
    assert(semi.queryExecution.executedPlan.toString.contains("__graft_tb"))
    val semiIds = semi.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(semiIds == semiIds.distinct && semiIds == got.map(_._1).distinct.sorted)
    val anti = pts.join(ivs, col("t") >= col("start") && col("t") < col("end"), "left_anti")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(anti == pts.select("id").collect().map(_.getLong(0)).toSeq.diff(semiIds).sorted)
    // 4) a pinned width agrees and is honored
    s2.conf.set(graft.plans.IntervalJoinRewrite.WIDTH_POW_KEY, "26")
    try {
      val pinned = natural(pts).select("id", "rid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(pinned == got)
      assert(s2.conf.get(graft.join.IntervalJoin.LAST_POW_KEY).toInt == 26)
    } finally s2.conf.unset(graft.plans.IntervalJoinRewrite.WIDTH_POW_KEY)
    // 5) enabling on the child must not CHANGE the parent session
    assert(spark.experimental.extraOptimizations.toSeq == parentRulesBefore.toSeq)
  }

  test("IntervalJoinRewrite: an inverted window row matches nothing instead of failing the query") {
    val s2 = spark.newSession()
    graft.plans.SpatialPlanner.enable(s2)
    val base = 1704067200000000L
    val pts = s2.range(2000).select(col("id"),
      timestamp_micros(lit(base) + col("id") * 47000000L).as("t"))
    // window 99 has SWAPPED bounds spanning ~3 years: sequence() would
    // walk it backwards over ~100M one-second buckets and fail the whole
    // query if it reached the explode
    val ivs = s2.range(20).select(col("id").as("rid"),
        timestamp_micros(lit(base) + col("id") * 100000000L).as("start"))
      .withColumn("end", timestamp_micros(unix_micros(col("start")) + 700000000L))
      .union(s2.range(1).select(lit(99L).as("rid"),
        timestamp_micros(lit(base) + 100000000000000L).as("start"),
        timestamp_micros(lit(base)).as("end")))
    val joined = pts.join(ivs, col("t") >= col("start") && col("t") < col("end"))
    assert(joined.queryExecution.executedPlan.toString.contains("__graft_tb"))
    val rids = joined.select("rid").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(!rids.contains(99L) && rids.nonEmpty)
    // the anti join still keeps exactly the points outside every VALID window
    val anti = pts.join(ivs, col("t") >= col("start") && col("t") < col("end"), "left_anti")
    val semiN = pts.join(ivs, col("t") >= col("start") && col("t") < col("end"), "left_semi").count()
    assert(anti.count() == 2000L - semiN && semiN > 0)
  }

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` set to
    * `threshold` (None: the default), restoring the default after. */
  private def withThreshold[T](threshold: Option[Long])(f: => T): T = {
    threshold.foreach(t => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", t.toString))
    try f finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** CC ground truth by union-find; linking the larger root under the
    * smaller keeps every root its set's min id. */
  private def ccTruth(vs: Seq[Long], es: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vs.map(v => (v, find(v))).sorted
  }

  private def ccLabels(vs: Seq[Long], es: Seq[(Long, Long)], maxRounds: Int = 30): Seq[(Long, Long)] = {
    import spark.implicits._
    graft.ops.ConnectedComponents.run(vs.toDF("id"), es.toDF("src", "dst"), maxRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
  }

  test("connected components == ground truth; 200-hop chain converges via pointer doubling; non-convergence throws") {
    // a 200-node CHAIN (the adversarial case for plain min-propagation —
    // one hop per round without the doubling shortcut), two separate
    // clusters, and singletons
    val chain = (0 until 199).map(i => (i.toLong, (i + 1).toLong))
    val edges = chain ++ Seq((500L, 501L), (501L, 502L), (600L, 601L))
    val vertices = (0 to 199).map(_.toLong) ++ Seq(500L, 501L, 502L, 600L, 601L, 700L, 701L)
    val expect = ((0 to 199).map(i => (i.toLong, 0L)) ++
      Seq((500L, 500L), (501L, 500L), (502L, 500L),
        (600L, 600L), (601L, 600L), (700L, 700L), (701L, 701L))).sorted
    // default threshold: labeled on the driver; -1: the pointer-doubling
    // rounds
    for (threshold <- Seq(None, Some(-1L)))
      assert(withThreshold(threshold)(ccLabels(vertices, edges)) == expect, s"threshold $threshold")
    // an insufficient round budget must fail LOUDLY, not return a
    // plausible-but-wrong labeling; the driver path runs no rounds
    withThreshold(Some(-1L)) {
      intercept[IllegalStateException](ccLabels(vertices, edges, maxRounds = 2))
    }
    assert(ccLabels(vertices, edges, maxRounds = 2) == expect)
  }

  test("connected components: each round is one localCheckpoint and no count; labels exact with and without broadcast") {
    import spark.implicits._
    import graft.ops.ConnectedComponents
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // a 16-hop chain, a star entered from its leaves, a reversed pair and
    // two isolated vertices
    val es = (0L until 16L).map(i => (i, i + 1)) ++ (101L to 105L).map(l => (l, 100L)) ++
      Seq((201L, 200L))
    val vs = (0L to 16L) ++ (100L to 105L) ++ Seq(200L, 201L, 300L, 301L)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // (action, the observe() metrics its plan reported)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Set[String])]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        actions.add((funcName, qe.observedMetrics.keySet))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = actions.add((s"failed $funcName", Set.empty))
    }
    /** Labels, per-round changed counts, jobs and SQL actions of one run. */
    def traced(vs: Seq[Long], es: Seq[(Long, Long)]) = {
      val vertices = vs.toDF("id")
      val edges = es.toDF("src", "dst")
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      jobs.set(0); actions.clear()
      val changed = scala.collection.mutable.ArrayBuffer[Long]()
      val out = ConnectedComponents.run(vertices, edges, 30, (_, _, c) => changed += c)
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      val (nJobs, acts) = (jobs.get, actions.asScala.toSeq)
      val labels = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      (labels, changed.toSeq, nJobs, acts)
    }
    // the bounded collect reports both metrics whichever path follows; the
    // round path's edge checkpoint reports the edge count again
    val boundedCollect = ("collect", Set(ConnectedComponents.EDGE_METRIC, ConnectedComponents.METRIC))
    val edgeCk = ("localCheckpoint", Set(ConnectedComponents.EDGE_METRIC))
    val roundCk = ("localCheckpoint", Set(ConnectedComponents.METRIC))
    // label-table bytes (24 a row) fit under `between`; the symmetrized
    // edge list's do not, so it runs rounds with broadcast labels
    val between = vs.size * 24L
    assert(2 * es.size * 24L > between)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      for (threshold <- Seq(None, Some(between), Some(-1L))) withThreshold(threshold) {
        val (labels, changed, nJobs, acts) = traced(vs, es)
        assert(labels == ccTruth(vs, es), s"threshold $threshold")
        if (threshold.isEmpty) {
          // the driver path: the bounded collect is its one execution
          assert(acts == Seq(boundedCollect) && changed.isEmpty, s"$acts $changed")
          assert(nJobs <= 2, s"$nJobs jobs")
        } else {
          val rounds = changed.size
          assert(rounds >= 3 && changed.last == 0L && changed.init.forall(_ > 0L), s"$changed")
          // (the bounded collect, unless -1), the edge checkpoint, then one
          // eager checkpoint per round: no count() or any other action
          val collects = if (threshold.contains(-1L)) Seq.empty else Seq(boundedCollect)
          assert(acts == collects ++ (edgeCk +: Seq.fill(rounds)(roundCk)), s"threshold $threshold: $acts")
          if (threshold.contains(between)) {
            // broadcast labels: at most two jobs of the bounded collect's
            // take, the edge checkpoint's job, round 1's exchange and result
            // jobs, then at most the label broadcast, the exchange and the
            // result job per later round (a lazy checkpoint plus count() ran
            // five or six)
            assert(nJobs <= 2 + 1 + 2 + 3 * (rounds - 1), s"$nJobs jobs in $rounds rounds")
          }
        }
        // no edges: within any threshold but -1 that is the driver path;
        // the rounds converge in one round with nothing changed
        val noEdges = if (threshold.contains(-1L)) Seq(edgeCk, roundCk) else Seq(boundedCollect)
        val noEdgeChanged = if (threshold.contains(-1L)) Seq(0L) else Seq.empty
        // isolated vertices only
        val iso = Seq(7L, 3L, 5L)
        val (isoLabels, isoChanged, _, isoActs) = traced(iso, Seq.empty)
        assert(isoLabels == iso.sorted.map(v => (v, v)) && isoChanged == noEdgeChanged)
        assert(isoActs == noEdges, s"threshold $threshold: $isoActs")
        // empty vertex set: each metric still reports. AQE's empty-relation
        // rule replaces an empty subtree together with any CollectMetrics
        // node inside it, but both metrics sit at the root of their
        // checkpointed plan, above every node the rule can replace, so
        // they are never lost (a missing one fails the run rather than
        // reading as converged)
        val (emptyLabels, emptyChanged, _, emptyActs) = traced(Seq.empty, Seq.empty)
        assert(emptyActs == noEdges, s"threshold $threshold: $emptyActs")
        assert(emptyLabels.isEmpty && emptyChanged == noEdgeChanged)
      }
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("connected components above the collect cap: the edge plan is evaluated once; labels exact") {
    import spark.implicits._
    import graft.ops.ConnectedComponents
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // two chains and a star, spread over four partitions
    val es = (0L until 30L).map(i => (i, i + 1)) ++ (50L until 70L).map(i => (i, i + 1)) ++
      (101L to 110L).map(l => (l, 100L))
    val vs = ((0L to 30L) ++ (50L to 70L) ++ (100L to 110L) ++ Seq(200L, 201L)).distinct
    val evals = spark.sparkContext.longAccumulator("cc edge rows evaluated")
    val counted = udf((v: Long) => { evals.add(1); v })
    val edges = es.toDF("src", "dst").repartition(4)
      .select(counted(col("src")).as("src"), col("dst"))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = actions.add(s"failed $funcName")
    }
    spark.listenerManager.register(qeListener)
    try {
      // cap = edge rows − 1: the collect reads every row and still takes
      // the rounds; cap = 0: it stops after one row and the rounds compute
      // the partitions it left unread
      for (threshold <- Seq((es.size - 1) * 48L, 0L)) withThreshold(Some(threshold)) {
        org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
        evals.reset(); actions.clear()
        var rounds = 0
        val labels = ConnectedComponents.run(vs.toDF("id"), edges, 30, (_, _, _) => rounds += 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
        assert(labels == ccTruth(vs, es), s"threshold $threshold")
        assert(rounds > 0, s"threshold $threshold took the driver path")
        assert(evals.value == es.size.toLong, s"threshold $threshold: ${evals.value} edge-row evaluations")
        val acts = actions.asScala.toSeq
        assert(acts.take(2) == Seq("collect", "localCheckpoint") &&
          acts.drop(2).init.forall(_ == "localCheckpoint") && acts.last == "collect", acts)
      }
    } finally spark.listenerManager.unregister(qeListener)
  }

  test("connected components: driver labeling == round labeling on seeded random graphs") {
    val rnd = new scala.util.Random(0xCC)
    // chains, stars, duplicate and reversed edges over a vertex pool with
    // isolated vertices left over, plus a graph with no edges
    val graphs = (0 until 6).map { g =>
      val vs = (0 until 40 + rnd.nextInt(40)).map(_ => rnd.nextInt(1000).toLong).distinct
      def v() = vs(rnd.nextInt(vs.size))
      val chain = Seq.fill(3 + rnd.nextInt(12))(v()).sliding(2).map(p => (p.head, p.last)).toSeq
      val hub = v()
      val star = Seq.fill(rnd.nextInt(10))((v(), hub))
      val loose = Seq.fill(rnd.nextInt(15))((v(), v()))
      val es = chain ++ star ++ loose
      val dups = es.take(4) ++ es.takeRight(3).map(_.swap)
      (vs, rnd.shuffle(es ++ dups))
    } :+ ((1L to 5L), Seq.empty[(Long, Long)])
    for (((vs, es), g) <- graphs.zipWithIndex) {
      val want = ccTruth(vs, es)
      assert(ccLabels(vs, es) == want, s"graph $g on the driver")
      assert(withThreshold(Some(-1L))(ccLabels(vs, es)) == want, s"graph $g in rounds")
    }
  }

  test("similarity joins: seeded randomized differential vs brute force") {
    import spark.implicits._
    import graft.join.SimilarityJoin
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 0 until 3) {
      // fingerprints clustered around shared bases with 0-6 bit flips —
      // the regime where band boundaries and exact popcounts interact
      val bases = Seq.fill(4)(rnd.nextLong() & 0xFFFFFFFFL)
      val sims = (0 until 80).map { i =>
        var v = bases(rnd.nextInt(4))
        (0 until rnd.nextInt(7)).foreach(_ => v ^= 1L << rnd.nextInt(32))
        (i.toLong, v)
      }.toDF("id", "sim")
      val k = 1 + rnd.nextInt(3)
      val gotH = SimilarityJoin.simhashHammingJoin(sims, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val bruteH = sims.as("a").crossJoin(sims.as("b"))
        .filter(col("a.id") < col("b.id"))
        .withColumn("h", bit_count(col("a.sim").bitwiseXOR(col("b.sim"))))
        .filter(col("h") <= k)
        .select(col("a.id"), col("b.id"), col("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(gotH == bruteH, s"hamming trial=$trial k=$k")
      assert(gotH.nonEmpty, s"hamming trial=$trial produced no pairs — weak fixture")

      // shingle sets: random bases plus mutated near-copies (0-3 edits)
      val baseDocs = (0 until 30).map { i =>
        val sz = 6 + rnd.nextInt(18)
        (i.toLong, Seq.fill(sz)(rnd.nextInt(200).toLong).distinct)
      }
      val copies = (0 until 12).map { j =>
        val (srcId, src) = baseDocs(rnd.nextInt(baseDocs.size))
        val mutated = src.filterNot(_ => rnd.nextInt(10) == 0) ++
          Seq.fill(rnd.nextInt(3))(rnd.nextInt(200).toLong)
        (1000L + j * 100 + srcId, mutated.distinct)
      }
      val docsR = (baseDocs ++ copies).toDF("id", "shs")
      val gotJ = SimilarityJoin.jaccardJoin(docsR, 4, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val sized = docsR.select(col("id"), array_distinct(col("shs")).as("s"))
        .withColumn("n", size(col("s")))
      val bruteJ = sized.as("a").crossJoin(sized.as("b"))
        .filter(col("a.id") < col("b.id"))
        .withColumn("shared", size(array_intersect(col("a.s"), col("b.s"))))
        .filter(col("shared") * 9 >= (col("a.n") + col("b.n")) * 4)
        .select(col("a.id"), col("b.id"), col("shared"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(gotJ == bruteJ, s"jaccard trial=$trial")
      assert(gotJ.nonEmpty, s"jaccard trial=$trial produced no pairs — weak fixture")
    }
  }

  test("interval join: a matching pair appears exactly once even under overlapping intervals") {
    import spark.implicits._
    val pts = Seq((1L, ts("2024-01-01 06:00:00"))).toDF("id", "t")
    val ivs = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      (2L, ts("2024-01-01 05:00:00"), ts("2024-01-01 07:00:00"))
    ).toDF("rid", "start", "end")
    val got = IntervalJoin.joinPointsInIntervals(pts, ivs, widthPow = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 1L), (1L, 2L))) // once per interval, no dupes
  }
}
