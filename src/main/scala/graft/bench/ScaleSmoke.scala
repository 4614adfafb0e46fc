package graft.bench

import graft.join.SpatialJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Order-of-magnitude scale smoke for the core join operators: 10M
  * synthetic points (multiplicative-hash uniform globe — no testdata
  * dependency) against 10k boxes / 1k geofences / 200 kNN queries on
  * local[32]. This is NOT the correctness gate (the sf oracles are) and
  * NOT the north-rule scaling evidence (bench/Scaling is); it answers the
  * "would the plan shapes survive 100× the test scale?" question with a
  * measured run instead of an argument: every join below finishes in
  * seconds at 10M rows because candidates are cell-keyed — a nested-loop
  * or radius-unaware plan would be 10^10-pair territory.
  *
  * Usage: GEOQ_MAIN=graft.bench.ScaleSmoke bin/geoq-spark [nPoints]
  * Prints one JSON line with per-op seconds and rows/sec.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale-smoke")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pts = spark.range(n).repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"),
        (lit(-90.0) + lit(180.0) *
          (((col("id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0))).as("lat"),
        (lit(-180.0) + lit(360.0) *
          (((col("id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0))).as("lon"))
      .cache()
    pts.count() // materialize outside the timers

    // max(1, …) keeps tiny debug runs (n < 1000) from a modulo-by-zero
    // under ANSI mode; they just use every point as a query
    val queries = pts.filter(col("id") % lit(math.max(1L, n / 1000)) === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val knnQs = pts.filter(col("id") % lit(math.max(1L, n / 200)) === 0)
      .select(col("id").as("qid"), col("lon").as("qlon"), col("lat").as("qlat"))
    val boxes = spark.range(10000)
      .select(col("id").as("rid"),
        (lit(-180.0) + lit(359.0) *
          (((col("id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0))).as("minx"),
        (lit(-90.0) + lit(179.0) *
          (((col("id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0))).as("miny"))
      .withColumn("maxx", col("minx") + lit(0.5))
      .withColumn("maxy", col("miny") + lit(0.5))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // the auto-chosen grid per op, published by the join builders — the
    // observability hook a 100 TB operator reads before pinning bits
    def lastBits: Int =
      spark.conf.getOption(SpatialJoin.LAST_BITS_KEY).map(_.toInt).getOrElse(-1)

    val (tBox, nBox) = time(SpatialJoin.joinPointsInBoxes(pts, boxes).count())
    val bBox = lastBits
    val (tDw, nDw) = time(SpatialJoin.dwithinJoin(pts, queries, 50000.0).count())
    val bDw = lastBits
    val (tKnn, nKnn) = time(SpatialJoin.knnGeodesic(pts, knnQs, k = 5).count())
    val bKnn = lastBits
    // planar kNN through the SAME radius-round pattern (the rewrite that
    // retired the fixed-grid crossJoin fallback) — at 10M points a single
    // full-scan escalation would dominate this timer; rounds keep it flat
    val knnPQs = knnQs.withColumnRenamed("qid", "query_id")
    val (tKnnP, nKnnP) = time(SpatialJoin.knn(pts, knnPQs, k = 5).count())
    val bKnnP = lastBits

    // ---- temporal operators at 10M: the as-of lookup (one shuffle +
    // per-key sort, no amplification) and the bucket-keyed interval join
    // 1000 users and an update modulus CO-PRIME to the user modulus
    // (gcd(7, 1000) = 1, so multiples of 7 cover every user residue):
    // nearly every event finds a prior update and the per-key window
    // sorts ~10k rows per user — the real as-of shape, not a mostly-
    // dropped inner join (a modulus sharing factors with the user count
    // silently covers 2% of users; measured before fixing)
    val epoch0 = 1704067200000000L
    val events = pts.select(col("id").as("event_id"),
      (col("id") % 1000).as("user_id"),
      timestamp_micros(lit(epoch0) + (col("id") * 16807 % 2592000) * 1000000L).as("ts"))
    val updates = events.filter(col("event_id") % 7 === 0)
      .select(col("user_id"), col("ts").as("uts"), col("event_id").as("update_id"))
    val (tAsof, nAsof) = time(
      graft.join.AsOf.joinBackward(events, updates, "user_id", "ts", "uts").count())
    val ivals = spark.range(10000).select(col("id").as("rid"),
        timestamp_micros(lit(epoch0) + (col("id") * 7919 % 2500000) * 1000000L).as("start"))
      .withColumn("end", timestamp_micros(
        unix_micros(col("start")) + (col("rid") % 20 + 1) * 900000000L)) // 15 min - 5 h
    val ipts = events.select(col("event_id").as("id"), col("ts").as("t"))
    val (tIv, nIv) = time(
      graft.join.IntervalJoin.joinPointsInIntervals(ipts, ivals).count())
    val ivPow = spark.conf.getOption(graft.join.IntervalJoin.LAST_POW_KEY)
      .map(_.toInt).getOrElse(-1)

    // ---- curation operators at scale: synthetic 30-word docs (pure
    // codegen'd arithmetic — no driver-side text), then decontamination,
    // top-k-per-domain (vs the window form), greedy packing, and exact
    // quantiles, all on the same deterministic derivations the driver
    // gate uses at sf scale
    val docN = math.max(1L, n / 5) // 2M docs at the default 10M points
    // the shared synthetic corpus (SmokeCorpus.docs — one definition for
    // the smoke AND the standalone probes BASELINE.md cross-quotes)
    val docsBig = SmokeCorpus.docs(spark, docN).cache()
    docsBig.count() // materialize outside the timers
    val observed = Observed.register(spark)
    val evalBig = docsBig.filter(col("id") % 1000 === 0)
    val corpusBig = docsBig.filter(col("id") % 1000 =!= 0)
    // n-gram SWEEP n ∈ {3, 8, 13}: the standard contamination audit runs
    // 8–13-grams, not just 3 — per n, report the eval gram cardinality,
    // the MEASURED bloom fill ratio with its fill^K FPR bound, the
    // post-bloom candidate rows (observe metric), and the exact
    // contaminated count, so the fixed 8 KiB sizing is evidenced across
    // the gram-cardinality range rather than claimed at one n
    val hashUdf = udf((s: String) => graft.functions.BloomAgg.hashString(s))
    val decSweep = Seq(3, 8, 13).map { ng =>
      val grams = evalBig.select(
          explode(graft.ops.Decontaminate.wordNgrams(col("text"), ng)).as("g"))
        .distinct().localCheckpoint(true)
      val nGrams = grams.count()
      // mirror the operator's eval-count-driven sizing so the reported
      // fill/FPR describe the filter contaminatedDocs actually probes
      val bitsPow = math.max(graft.functions.BloomAgg.BITS_POW, math.min(24,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nGrams) * 16 - 1)))
      val bloomAgg = udaf(new graft.functions.BloomAggregator(bitsPow),
        org.apache.spark.sql.Encoders.scalaLong)
      val words = grams.agg(bloomAgg(hashUdf(col("g"))).as("w")).head()
      val fillRatio = graft.functions.BloomAgg.fill(
        words.getAs[scala.collection.Seq[Long]]("w").toArray).toDouble /
        (1L << bitsPow)
      val fprBound = math.pow(fillRatio, graft.functions.BloomAgg.K)
      val (tD, nD) = time(graft.ops.Decontaminate.contaminatedDocs(
        corpusBig, evalBig, "id", "text", n = ng,
        metricName = s"smoke_decontam_cand_$ng").count())
      Observed.drain(spark)
      val cand = observed.getOrDefault(s"smoke_decontam_cand_$ng", -1L)
      (ng, nGrams, bitsPow, fillRatio, fprBound, tD, nD, cand)
    }
    val tDec = decSweep.head._6
    val nDec = decSweep.head._7

    // exact 64-bit SimHash Hamming join (k ≤ 3, 4×16-bit pigeonhole
    // bands) over the full synthetic corpus — the q61 scale path. The
    // candidate count is the honest Θ(n²/2^16) price of the EXACT join
    // on a near-uniform fingerprint population; the measurement is the
    // evidence the banded plan (not a nested loop) carries it.
    val sh64 = udf((text: String) => graft.Queries.simhash64(text))
    val simsBig = docsBig.select(col("id"), sh64(col("text")).as("sim"))
    val (tHam, nHam) = time(graft.join.SimilarityJoin.simhashHammingJoin(
      simsBig, k = 3, bits = 64, bands = 4,
      metricName = "smoke_ham_band_rows").count())
    Observed.drain(spark)
    val hamBand = observed.getOrDefault("smoke_ham_band_rows", -1L)
    // the 128-bit rung at the same n: 8×16-bit bands (k ≤ 7) double the
    // per-row band fanout, so on a near-uniform population the candidate
    // count is ~2× the 4-band join's — the honest price of the wider
    // reach; measured here so the trade stays a number, not a claim
    val sh128 = udf((text: String) => graft.Queries.simhash128(text))
    val sims128 = docsBig.select(col("id"), sh128(col("text")).as("s"))
      .select(col("id"), col("s")(0).as("lo"), col("s")(1).as("hi"))
    val (tHam128, nHam128) = time(graft.join.SimilarityJoin.simhash128HammingJoin(
      sims128, k = 7, metricName = "smoke_ham128_band_rows").count())
    Observed.drain(spark)
    val ham128Band = observed.getOrDefault("smoke_ham128_band_rows", -1L)
    // deterministic k-means at the same doc-scale tier (q87's 100× path):
    // 3 Lloyd steps, each ONE pass over the vectors (assignment is a
    // broadcast-centroid row-local UDF; update sums a k×dims aggregate)
    val kmVecs = SmokeCorpus.vectors(spark, docN).cache()
    kmVecs.count() // materialize outside the timer
    val (tKm, nKmClusters) = time(graft.ops.KMeans.fit(
      kmVecs, "vec_id", "embedding", k = 8, iters = 3)
      .select("cluster").distinct().count())
    kmVecs.unpersist()
    // top-k per domain: the bounded-state Aggregator vs the window
    // row_number form. Spark 3.5+'s WindowGroupLimit already bounds the
    // window's shuffle map-side for the rank-filter pattern, so the
    // measured comparison is buffers-vs-rows (≈3× fewer) plus the
    // window's required per-partition sort — report shuffle-read rows
    // for both so the relationship stays measured, not claimed
    val shufRows = new java.util.concurrent.atomic.AtomicLong()
    val shufListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shufRows.addAndGet(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(shufListener)
    val (tTopk, nTopk) = time(graft.ops.TopK.topKByKey(
      docsBig, Seq("domain"), "id",
      graft.ops.Sampling.mix32(col("id")), k = 3).count())
    org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    val topkShuf = shufRows.getAndSet(0L)
    val winForm = docsBig
      .withColumn("h", graft.ops.Sampling.mix32(col("id")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("domain").orderBy(col("h"), col("id"))))
      .filter(col("rank") <= 3)
    val (tTopkWin, nTopkWin) = time(winForm.count())
    org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    val winShuf = shufRows.getAndSet(0L)
    spark.sparkContext.removeSparkListener(shufListener)
    require(nTopk == nTopkWin,
      s"top-k aggregator disagrees with window form: $nTopk vs $nTopkWin")
    // text-curation regexp kernels at scale, same 2M-doc corpus: PII and
    // URLs planted inline per doc (the regexp scan cost is paid on every
    // char either way); aggregates over the OUTPUT columns so column
    // pruning can't skip the replace/extract work being measured
    val piiIn = docsBig.select(col("id"),
      concat(col("text"), lit(" w"), col("id").cast("string"),
        lit("@ex.com 10.1.2.3 +1-23-456 https://WWW.s"),
        (col("id") % 100).cast("string"), lit(".ex"),
        (col("id") % 100).cast("string"), lit(".com/p")).as("text"))
      .cache()
    piiIn.count()
    val (tRedact, redactChars) = time(
      graft.ops.Redact.stats(piiIn, "id", "text")
        .select(sum(length(col("redacted"))).as("s")).head().getLong(0))
    val (tUrl, nApex) = time(
      graft.ops.Urls.domainStats(piiIn, "id", "text").count())
    piiIn.unpersist()
    // the vocab is w0..w999 — normalization strips digits, which would
    // collapse every doc to one key (and one hot group); translate digits
    // to letters so per-doc distinctness survives the normalize chain.
    // Pre-materialize (like piiIn) so the timer sees the kernel, not the
    // input prep, and no other multi-hundred-MB cache is pinned under it
    val normIn = docsBig.select(col("id"),
      translate(col("text"), "0123456789", "abcdefghij").as("text"))
      .cache()
    normIn.count()
    docsBig.unpersist() // last reader done — don't pin it under the timer
    val (tNorm, nNormKeys) = time(
      graft.ops.Normalize.dedup(normIn, "id", "text").count())
    normIn.unpersist()
    val packIn = spark.range(n).select(col("id"),
      (col("id") % 256).as("shard"), (col("id") % 90 + 10).as("tok"))
    val (tPack, nPack) = time(graft.ops.Packing
      .packGreedy(packIn, "id", "shard", "tok", budget = 96L).count())
    val quantIn = spark.range(n)
      .select((col("id") * 2654435761L % 100000000L - 50000000L).as("v"))
    val (tQuant, _) = time(graft.ops.Quantiles.exactQuantiles(
      quantIn, "v", Seq((1L, 100L), (1L, 2L), (99L, 100L)), fanout = 4096).count())

    // ---- connected components at ~n edges: a planted 10k-hop CHAIN
    // (real multi-hop propagation — pointer doubling must close it in
    // ~log₂(10k) rounds, not 10k jobs) + Zipf-sized star clusters
    // (k = ⌊2³²/u⌋ capped at 10⁶ ⇒ P(cluster k) ~ 1/k², with a giant
    // hot cluster carrying ~half the vertices — skewed label traffic).
    // Reports rounds, per-round wall, and PEAK block-manager storage
    // DELTA over the run: the per-round dropCheckpoint hygiene as a
    // measured number instead of a code comment. The rounds run only when
    // the ~2n symmetrized edge rows (24 B each) exceed the broadcast
    // threshold (n above ~220k at the 10 MB default); below it the graph
    // is labeled on the driver and reports 0 rounds.
    val chainLen = 10000L
    val ccEdges = spark.range(chainLen - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
      .unionByName(spark.range(chainLen, n)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("src"),
          (lit(chainLen) + least(
            floor(lit(4294967296.0) /
              (graft.ops.Sampling.mix32(col("id")) + lit(1L))).cast("long"),
            lit(1000000L))).as("dst")))
    def storageBytes: Long = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val ccBase = storageBytes
    val ccRoundSecs = scala.collection.mutable.ArrayBuffer[Double]()
    var ccPeak = 0L
    val ccT0 = System.nanoTime()
    val ccLabels = graft.ops.ConnectedComponents.run(
      spark.range(n).toDF("id"), ccEdges, 30,
      (_, s, _) => { ccRoundSecs += s; ccPeak = math.max(ccPeak, storageBytes - ccBase) })
    // correctness probe, not just a timer: the whole 10k-hop chain must
    // have collapsed to min-id 0 — an unconverged or one-directional
    // propagation fails loudly here
    val chainMax = ccLabels.filter(col("id") < chainLen)
      .agg(max("component")).head().getLong(0)
    val tCc = (System.nanoTime() - ccT0) / 1e9
    require(chainMax == 0L,
      s"10k-hop chain failed to collapse to component 0: max=$chainMax")

    // ---- bucketed-layout payoff: the SAME cell join replayed 3x against
    // plain parquet (shuffles both sides every replay) vs cell-bucketed
    // tables (zero-Exchange co-located SMJ) — the repeated-join regime the
    // q57 layout exists for, now a measured speedup instead of a claim
    val bktBits = 6
    val bktBuckets = 32
    val base = java.nio.file.Files.createTempDirectory("smoke_bkt")
    val withCell = pts.withColumn("cell",
      graft.sources.TableIO.cellKeyCol("lon", "lat", bktBits))
    val sideB = withCell.filter(col("id") % 3 === 0)
    withCell.write.mode("overwrite").parquet(s"$base/plain_a")
    sideB.write.mode("overwrite").parquet(s"$base/plain_b")
    spark.sql("DROP TABLE IF EXISTS smoke_bkt_a")
    spark.sql("DROP TABLE IF EXISTS smoke_bkt_b")
    graft.sources.TableIO.writeBucketedByCell(
      pts, "smoke_bkt_a", s"$base/bkt_a", "lon", "lat", bktBits, bktBuckets)
    graft.sources.TableIO.writeBucketedByCell(
      pts.filter(col("id") % 3 === 0), "smoke_bkt_b", s"$base/bkt_b",
      "lon", "lat", bktBits, bktBuckets)
    // force sort-merge on both variants: at 100 TB neither side broadcasts,
    // and the comparison is Exchange-per-replay vs bucket-co-located SMJ.
    // INTERLEAVE the replays (plain, bucketed, plain, ...) and take per-
    // variant MEDIANS: this host's throughput drifts in minutes-long
    // epochs, and back-to-back blocks hand one variant the bad epoch
    // (measured: the same bucketed replay read 21 s and 65 s in adjacent
    // runs under block timing)
    def replay(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
      a.select("cell").join(b.select("cell").hint("merge"), Seq("cell"))
        .groupBy("cell").agg(count(lit(1))).count()
    val plainTs = scala.collection.mutable.ArrayBuffer[Double]()
    val bktTs = scala.collection.mutable.ArrayBuffer[Double]()
    (1 to 3).foreach { _ =>
      plainTs += time(replay(
        spark.read.parquet(s"$base/plain_a"), spark.read.parquet(s"$base/plain_b")))._1
      bktTs += time(replay(spark.table("smoke_bkt_a"), spark.table("smoke_bkt_b")))._1
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    val tPlain3 = med(plainTs.toSeq) * 3 // 3x-replay total on median pacing
    val tBkt3 = med(bktTs.toSeq) * 3
    // single-cell probe: bucket pruning reads 1 of the 32 buckets
    // (filter-only bucketed scans need auto selection off — TableIOSpec)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val probeCell = spark.table("smoke_bkt_a").select("cell").head().getLong(0)
    val probePlan = spark.table("smoke_bkt_a").filter(col("cell") === probeCell)
      .queryExecution.executedPlan.toString
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val selBuckets = probePlan.linesIterator
      .find(_.contains("SelectedBucketsCount"))
      .flatMap(l => "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(l))
      .map(m => s""""${m.group(1)} out of ${m.group(2)}"""").getOrElse("\"absent\"")
    val bktNoExchange = {
      val p = spark.table("smoke_bkt_a").select("cell")
        .join(spark.table("smoke_bkt_b").select("cell").hint("merge"), Seq("cell"))
        .queryExecution.executedPlan.toString
      !p.contains("Exchange")
    }

    // ---- skew evidence: 80% of the points in ONE hot cell (a city), the
    // rest uniform; plain vs salted join on a box covering the hot spot.
    // Per-task shuffle-read rows show where the hot cell's rows LAND: one
    // task (or AQE-split tasks) in the plain join, ~`salts` tasks salted.
    val taskRecs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Long]]()
    val skewListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          taskRecs.computeIfAbsent(t.stageId,
            (_: Int) => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
            .add(m.shuffleReadMetrics.recordsRead)
      }
    }
    import scala.jdk.CollectionConverters._
    def taskSummary(): (Long, Long) = {
      // the stage that read the most shuffle rows = the join's probe stage
      val stages = taskRecs.asScala.toSeq.map { case (sid, l) => (sid, l.asScala.toVector) }
      if (stages.isEmpty) (0L, 0L)
      else {
        val rows = stages.maxBy(_._2.sum)._2.sorted
        (rows.max, rows((rows.size - 1) / 2))
      }
    }
    val hotN = n / 2
    val skewPts = spark.range(hotN).repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"),
        when(col("id") % 5 =!= 0, // 80% in one ~2 km hot spot (one cell at any grid)
          lit(45.0) + (((col("id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0)) * lit(0.02))
          .otherwise(lit(-90.0) + lit(180.0) *
            (((col("id") * lit(2654435761L)) % lit(4294967296L)) / lit(4294967296.0))).as("lat"),
        when(col("id") % 5 =!= 0,
          lit(10.0) + (((col("id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0)) * lit(0.02))
          .otherwise(lit(-180.0) + lit(360.0) *
            (((col("id") * lit(2246822519L)) % lit(4294967296L)) / lit(4294967296.0))).as("lon"))
      .cache()
    skewPts.count()
    val skewBoxes = spark.range(50)
      .select(col("id").as("rid"),
        (lit(-180.0) + col("id").cast("double") * lit(7.0)).as("minx"),
        (lit(-88.0) + col("id").cast("double") * lit(3.4)).as("miny"))
      .withColumn("maxx", col("minx") + lit(4.0))
      .withColumn("maxy", col("miny") + lit(4.0))
      .unionByName(spark.range(1).select(lit(999L).as("rid"), lit(9.0).as("minx"),
        lit(44.0).as("miny"), lit(12.0).as("maxx"), lit(46.0).as("maxy")))
    // at 100 TB the exploded query side doesn't broadcast — force the
    // shuffled join locally so the per-task skew is the real measurement
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(skewListener)
    val (tSkewPlain, nSkewPlain) =
      time(SpatialJoin.joinPointsInBoxes(skewPts, skewBoxes, bits = 8).count())
    org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    val (plainMax, plainMed) = taskSummary()
    taskRecs.clear()
    val (tSkewSalt, nSkewSalt) =
      time(SpatialJoin.joinPointsInBoxesSalted(skewPts, skewBoxes, bits = 8, salts = 8).count())
    org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    val (saltMax, saltMed) = taskSummary()
    spark.sparkContext.removeSparkListener(skewListener)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    require(nSkewPlain == nSkewSalt,
      s"salted join changed results: $nSkewPlain vs $nSkewSalt")

    def rps(t: Double): Long = (n / math.max(t, 1e-9)).toLong
    println(
      s"""{"metric":"scale_smoke","n_points":$n,"ops":{""" +
        s""""box_join":{"sec":$tBox,"pairs":$nBox,"points_per_sec":${rps(tBox)},"auto_bits":$bBox},""" +
        s""""dwithin_50km_1k_queries":{"sec":$tDw,"pairs":$nDw,"points_per_sec":${rps(tDw)},"auto_bits":$bDw},""" +
        s""""knn_geodesic_k5_200_queries":{"sec":$tKnn,"rows":$nKnn,"points_per_sec":${rps(tKnn)},"auto_bits":$bKnn},""" +
        s""""knn_planar_k5_200_queries":{"sec":$tKnnP,"rows":$nKnnP,"points_per_sec":${rps(tKnnP)},"auto_bits":$bKnnP},""" +
        s""""asof_join_1.4m_updates":{"sec":$tAsof,"rows":$nAsof,"points_per_sec":${rps(tAsof)}},""" +
        s""""interval_join_10k_intervals":{"sec":$tIv,"pairs":$nIv,"points_per_sec":${rps(tIv)},"auto_width_pow":$ivPow},""" +
        s""""decontam_${docN}_docs":{"sec":$tDec,"contaminated":$nDec,"docs_per_sec":${(docN / math.max(tDec, 1e-9)).toLong}},""" +
        s""""decontam_ngram_sweep":[""" + decSweep.map { case (ng, g, bp, fill, fpr, tD, nD, cand) =>
          f"""{"n":$ng,"eval_grams":$g,"bloom_bits_pow":$bp,"bloom_fill":$fill%.4f,"fpr_bound":$fpr%.2e,"sec":$tD%.2f,"contaminated":$nD,"cand_rows":$cand}"""
        }.mkString(",") + "]," +
        s""""simhash_hamming_join_${docN}_docs":{"sec":$tHam,"pairs":$nHam,"band_candidates":$hamBand,"docs_per_sec":${(docN / math.max(tHam, 1e-9)).toLong}},""" +
        s""""simhash128_hamming_join_${docN}_docs":{"sec":$tHam128,"pairs":$nHam128,"band_candidates":$ham128Band,"docs_per_sec":${(docN / math.max(tHam128, 1e-9)).toLong}},""" +
        s""""kmeans_${docN}_vectors":{"sec":$tKm,"clusters":$nKmClusters,"vecs_per_sec":${(docN / math.max(tKm, 1e-9)).toLong}},""" +
        s""""connected_components_${n}_edges":{"sec":$tCc,"rounds":${ccRoundSecs.size},""" +
        s""""round_secs":[${ccRoundSecs.map(s => f"$s%.2f").mkString(",")}],""" +
        s""""peak_storage_delta_mb":${ccPeak / 1048576},"chain_collapsed":true},""" +
        s""""topk_per_domain_${docN}_docs":{"agg_sec":$tTopk,"window_sec":$tTopkWin,"rows":$nTopk,""" +
        s""""agg_shuffle_rows":$topkShuf,"window_shuffle_rows":$winShuf},""" +
        s""""redact_${docN}_docs":{"sec":$tRedact,"chars_out":$redactChars,"docs_per_sec":${(docN / math.max(tRedact, 1e-9)).toLong}},""" +
        s""""norm_dedup_${docN}_docs":{"sec":$tNorm,"distinct_keys":$nNormKeys,"docs_per_sec":${(docN / math.max(tNorm, 1e-9)).toLong}},""" +
        s""""url_domains_${docN}_docs":{"sec":$tUrl,"apex_domains":$nApex,"docs_per_sec":${(docN / math.max(tUrl, 1e-9)).toLong}},""" +
        s""""packing_${n}_rows":{"sec":$tPack,"rows":$nPack,"rows_per_sec":${rps(tPack)}},""" +
        s""""quantiles_${n}_rows":{"sec":$tQuant,"rows_per_sec":${rps(tQuant)}},""" +
        s""""bucketed_replay_3x":{"plain_sec":$tPlain3,"bucketed_sec":$tBkt3,""" +
        s""""bucketed_no_exchange":$bktNoExchange,"single_cell_probe_buckets":$selBuckets},""" +
        s""""skew_hot_cell":{"n_points":$hotN,"plain_sec":$tSkewPlain,"salted_sec":$tSkewSalt,""" +
        s""""pairs":$nSkewPlain,"plain_task_rows_max":$plainMax,"plain_task_rows_median":$plainMed,""" +
        s""""salted_task_rows_max":$saltMax,"salted_task_rows_median":$saltMed}}}""")
    spark.sql("DROP TABLE IF EXISTS smoke_bkt_a")
    spark.sql("DROP TABLE IF EXISTS smoke_bkt_b")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(q => java.nio.file.Files.deleteIfExists(q))
      }
    }
    rmTree(base)
    spark.stop()
  }
}
