package geobench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's main program, one workload per JVM:
  *
  *   1. set-up, repeated SETUP_REPS times (once when tracing): start a
  *      local[P] SparkSession (P = half the host's CPUs), generate the
  *      seeded inputs (image decode and phash verify included), fill the
  *      caches; then WARM_PASSES warm-up passes;
  *   2. output checks on the first warm-up pass; its digests become the
  *      reference every later pass must reproduce;
  *   3. untraced: for the window, timed passes at local[P], each followed
  *      by a timed pass of the workload's scaling ops with P − 1 task slots
  *      held idle (scaling_eff); then a fresh local[1] session: one pass of
  *      every op, whose outputs must match local[P];
  *      traced: untraced and traced (spans + Spark listener) passes
  *      alternate for the window, then kernel probes.
  *
  * Every check and every operation of every pass counts as attempted; an
  * exception or a wrong output counts as failed and is reported with its
  * reason. Writes one JSON result object to `--out`.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, tiny: Boolean = false,
                        expectWrong: Boolean = false, workDir: String = ".bench_build",
                        out: String = "")

  val SETUP_REPS = 3
  /** The first warm-up pass is the reference; the second one lets the JIT
    * get through Spark's planner code, which otherwise leaves the first
    * timed passes up to 1.5x slower. */
  val WARM_PASSES = 2
  /** Timed local[P] passes at least, each followed by a one-slot pass. */
  val MIN_PASSES = 7

  val END_TO_END: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "pass_s_p50" -> "s",
    "scaling_eff" -> "ratio", "setup_s" -> "s", "peak_rss_mb" -> "MB", "ok_frac" -> "ratio")

  val PER_LAYER: Seq[(String, String)] = Seq(
    "index.h3_encode_ns" -> "ns", "index.h3_parent_ns" -> "ns", "index.gh_pyramid_ns" -> "ns",
    "index.gh_cover_ns" -> "ns", "index.gh_cover_cells" -> "count",
    "index.h3_cover_ns" -> "ns", "index.h3_cover_cells" -> "count",
    "core.detect_ns" -> "ns", "core.parse_line_ns" -> "ns",
    "geom.wkt_parse_ns" -> "ns", "geom.json_parse_ns" -> "ns",
    "geom.wkt_write_ns" -> "ns", "geom.json_write_ns" -> "ns", "geom.vincenty_ns" -> "ns",
    "join.box_s" -> "s", "join.dwithin_s" -> "s", "join.knn_s" -> "s", "join.intersects_s" -> "s",
    "join.out_rows" -> "count", "join.grid_bits" -> "count", "join.bits_memo_hit_ratio" -> "ratio",
    "join.simhash_s" -> "s", "join.simhash_band_rows" -> "count", "join.simhash_pairs" -> "count",
    "join.simhash_precision" -> "ratio", "ops.cc_s" -> "s", "ops.cc_jobs" -> "count",
    "img.decode_ns" -> "ns", "img.phash_ns" -> "ns",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s", "spark.task_skew" -> "ratio", "spark.busy_frac" -> "ratio",
    "spark.sched_delay_s" -> "s",
    "layer.bench_self_s" -> "s", "layer.spark_self_s" -> "s", "layer.index_self_s" -> "s",
    "layer.join_self_s" -> "s", "layer.ops_self_s" -> "s",
    "trace.rows_per_s" -> "rows/s", "trace.untraced_rows_per_s" -> "rows/s",
    "trace.overhead_rows_per_s" -> "rows/s", "trace.spans" -> "count",
    "host.control_rate" -> "1/s", "bench.failed_frac" -> "ratio", "bench.passes" -> "count")

  def parse(args: Array[String]): Args = args.toList.grouped(2).foldLeft(Args()) {
    case (a, List("--workload", v)) => a.copy(workload = v)
    case (a, List("--seed", v)) => a.copy(seed = v.toLong)
    case (a, List("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, List("--trace", v)) => a.copy(trace = v == "1")
    case (a, List("--size", v)) => a.copy(tiny = v == "tiny")
    case (a, List("--expect-wrong", v)) => a.copy(expectWrong = v == "1")
    case (a, List("--work-dir", v)) => a.copy(workDir = v)
    case (a, List("--out", v)) => a.copy(out = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Failed / attempted operations and checks, with the reasons. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    val reasons = ArrayBuffer[String]()
    def record(name: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (reasons.size < 20) reasons += s"$name: $detail" }
    }
  }

  private var current: SparkSession = _

  def session(a: Args, cores: Int): SparkSession = {
    stopSession()
    current = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"geobench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/spark-warehouse")
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current
  }

  def stopSession(): Unit = if (current != null) {
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }

  /** Runs every op once; checks each output digest against `ref` when given.
    * Returns the pass wall time and the outputs. */
  def runPass(ops: Seq[Op], tr: Tracer, ref: Map[String, Out], ledger: Ledger,
              phase: String): (Double, Map[String, Out]) = {
    val t0 = System.nanoTime()
    val outs = tr.span("bench.pass") {
      ops.flatMap { op =>
        try {
          val t = System.nanoTime()
          val o = tr.span(op.name)(op.run(tr))
          opSeconds.getOrElseUpdate(s"$phase/${op.name}", ArrayBuffer[Double]()) += (System.nanoTime() - t) / 1e9
          ref match {
            case null => ledger.record(s"$phase/${op.name}", ok = true, "")
            case r => r.get(op.name).filter(_ => o.digest.nonEmpty).foreach { e =>
              ledger.record(s"$phase/${op.name}", o.digest == e.digest,
                s"output digest ${o.digest} differs from reference ${e.digest}")
            }
          }
          Some(op.name -> o)
        } catch {
          case NonFatal(e) =>
            ledger.record(s"$phase/${op.name}", ok = false, e.toString.take(300))
            None
        }
      }.toMap
    }
    ((System.nanoTime() - t0) / 1e9, outs)
  }

  private var passId = 0
  /** Wall seconds of every op run, by phase/op, for the report. */
  private val opSeconds = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  /** Runs `body` while `n` of the session's task slots are held by idle
    * tasks, so the body's jobs run on the slots left over: with n = P − 1
    * they run one task at a time, on the same plans, inputs and JVM state
    * as the full-width passes around them. */
  def withSlotsHeld[T](spark: SparkSession, n: Int)(body: => T): T =
    if (n <= 0) body
    else {
      val release = new CountDownLatch(1)
      SlotHold.release = release
      SlotHold.running.set(0)
      val holder = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.job.description", "geobench slot hold")
        spark.sparkContext.parallelize(0 until n, n).foreach { _ =>
          SlotHold.running.incrementAndGet()
          SlotHold.release.await()
        }
      })
      holder.start()
      val deadline = System.nanoTime() + 30000000000L
      while (SlotHold.running.get < n && System.nanoTime() < deadline) Thread.sleep(1)
      try {
        if (SlotHold.running.get < n) throw new IllegalStateException(s"$n slot-hold tasks did not start")
        body
      } finally {
        release.countDown()
        holder.join()
      }
    }

  def median(v: collection.Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Raw-thread Vincenty calls per second at `threads` threads, no Spark:
    * the CPU the host offered next to this run. */
  def hostControl(threads: Int): Double = {
    val perThread = 400000
    def work(seed: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < perThread) {
        s += graft.geom.Vincenty.distanceRaw(-170.0 + ((seed * 7 + i) % 340), -80.0 + ((seed * 13 + i) % 160), 10.0, 20.0)
        i += 1
      }
      s
    }
    work(99)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { k => val t = new Thread(() => { work(k): Unit }); t.start(); t }
    ts.foreach(_.join())
    threads.toLong * perThread / ((System.nanoTime() - t0) / 1e9)
  }

  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def json(ledger: Ledger, metrics: Seq[(String, String, Double)]): String = {
    val m = metrics.map { case (n, u, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${ledger.failed == 0}, "attempted": ${ledger.attempted}, "failed": ${ledger.failed}, "metrics": {$m}}"""
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val w = Workload(a.workload, a.seed, a.tiny)
    // P: half the host's CPUs, so Spark's task threads, its driver thread
    // and the JVM's GC and JIT threads do not queue for the CPUs a shared
    // host leaves the run (NOTES.md, "Parallelism")
    val cores = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    val ledger = new Ledger
    val off = new Tracer(false)
    val cap = a.seconds * 2 + 10
    def say(s: String): Unit = println(s"[${w.name}] $s")

    // 1. set-up: session start, input generation and decode, cache fill,
    // repeated; rep 1 also pays JVM start. Then one warm-up pass, whose
    // outputs are checked and become the reference digests.
    val reps = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 1 to (if (a.trace) 1 else SETUP_REPS)) {
      val before = if (rep == 1) (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 else 0.0
      val t0 = System.nanoTime()
      spark = session(a, cores)
      w.prepare(spark)
      w.load(spark)
      reps += before + (System.nanoTime() - t0) / 1e9
    }
    val (warm, ref) = runPass(w.ops(spark), off, null, ledger, "warm-up")
    val warmAll = warm +: (2 to WARM_PASSES).map(_ => runPass(w.ops(spark), off, ref, ledger, "warm-up")._1)
    val setup = median(reps) + warmAll.sum
    say(f"set-up ${reps.map(s => f"$s%.2f").mkString(", ")} s + warm-up passes " +
      f"${warmAll.map(s => f"$s%.2f").mkString(", ")} s; " +
      s"local[$cores], ${w.rowsPerPass} rows per pass")

    // 2. output checks
    try w.verify(spark, ref, a.expectWrong).foreach(c => ledger.record(s"check/${c.name}", c.ok, c.detail))
    catch { case NonFatal(e) => ledger.record("check", ok = false, e.toString.take(300)) }
    say(f"peak RSS after set-up ${peakRssMb()}%.0f MB")
    val control = hostControl(cores)
    say(f"host.control_rate $control%.0f Vincenty calls/s at $cores threads")

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        // 3a. untraced: full passes at local[P] alternate with passes of
        // the scaling ops on one slot, so both sides of scaling_eff see the
        // same host epoch and JIT state
        val pPhase = s"local[$cores]"
        val onePhase = s"local[$cores] 1 slot"
        val opsP = w.ops(spark)
        val opsOne = opsP.filter(op => w.scalingOps(op.name))
        val tn = ArrayBuffer[Double]()
        val t1 = ArrayBuffer[Double]()
        val t0 = System.nanoTime()
        def el = (System.nanoTime() - t0) / 1e9
        while ((el < a.seconds || tn.size < MIN_PASSES) && el < cap) {
          tn += runPass(opsP, off, ref, ledger, pPhase)._1
          try t1 += withSlotsHeld(spark, cores - 1)(runPass(opsOne, off, ref, ledger, onePhase)._1)
          catch { case NonFatal(e) => ledger.record(onePhase, ok = false, e.toString.take(300)) }
        }
        // the high-water mark of the local[P] run: the local[1] session
        // that follows only adds the two sessions' overlap, by GC timing
        val rss = peakRssMb()
        say(f"peak RSS after local[$cores] $rss%.0f MB")
        // one pass of every op in a local[1] session checks its outputs
        val s1 = session(a, 1)
        w.load(s1)
        runPass(w.ops(s1), off, ref, ledger, "local[1] check")
        stopSession()
        val rps = w.rowsPerPass / median(tn)
        // scaling over the ops whose time is row work at this size: with
        // Spark's fixed per-job cost in it, the whole pass barely speeds up
        def opTime(phase: String) =
          w.scalingOps.toSeq.map(op => median(opSeconds.getOrElse(s"$phase/$op", ArrayBuffer[Double]()))).sum
        // no percentile above the median has ten passes beyond it at these
        // pass counts, so the median is the only timing reported
        say(f"${tn.size} passes at local[$cores] (p50 ${median(tn)}%.3f s), " +
          f"${t1.size} scaling-op passes on 1 slot (p50 ${median(t1)}%.3f s)")
        val values = Map(
          "rows_per_s" -> rps, "pass_s_p50" -> median(tn),
          "scaling_eff" -> opTime(onePhase) / (cores * opTime(pPhase)), "setup_s" -> setup,
          "peak_rss_mb" -> rss,
          "ok_frac" -> (1.0 - ledger.failed.toDouble / math.max(1L, ledger.attempted)))
        END_TO_END.map { case (n, u) => (n, u, values(n)) }
      } else {
        // 3b. untraced and traced passes alternate, so both see the same
        // host epoch and JIT state; the listener is attached only around
        // traced passes
        val opsU = w.ops(spark)
        val opsT = w.tracedOps(spark)
        val tr = new Tracer(true)
        val stats = new SparkStats
        val hits0 = graft.join.SpatialJoin.BitsMemo.hitCount
        val miss0 = graft.join.SpatialJoin.BitsMemo.missCount
        val untraced = ArrayBuffer[Double]()
        val traced = ArrayBuffer[Double]()
        val perPass = ArrayBuffer[Map[String, Double]]()
        var gc = 0.0
        val t0 = System.nanoTime()
        def el = (System.nanoTime() - t0) / 1e9
        while ((el < a.seconds || traced.size < 5) && el < cap) {
          untraced += runPass(opsU, off, ref, ledger, "untraced")._1
          tr.pass = passId
          passId += 1
          // the untraced pass's last events must not reach the listener
          org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
          spark.sparkContext.addSparkListener(stats)
          val gc0 = gcSeconds()
          traced += runPass(opsT, tr, ref, ledger, "traced")._1
          gc += gcSeconds() - gc0
          org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
          spark.sparkContext.removeSparkListener(stats)
          w.afterTracedPass(tr, stats)
          tr.pass = -1
          perPass += w.passMetrics
        }
        val wall = traced.sum
        val hits = graft.join.SpatialJoin.BitsMemo.hitCount - hits0
        val lookups = hits + graft.join.SpatialJoin.BitsMemo.missCount - miss0
        val probes = w.probes(tr)
        tr.writeJsonl(java.nio.file.Paths.get(a.workDir, "trace", s"${w.name}-seed${a.seed}.spans.jsonl"))
        stopSession()
        val n = traced.size.toDouble
        val spans = tr.spans.filter(_.pass >= 0)
        def spanMedian(name: String): Double = {
          val per = spans.filter(_.name == name).groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
          median(per)
        }
        val planPerPass = spans.filter(_.name == "spark.plan").groupBy(_.pass).values.map(_.map { s =>
          math.max(0.0, s.seconds - stats.jobSecondsWithin(s.startMs, s.endMs))
        }.sum).toSeq
        val ccJobs = spans.filter(_.name == "ops.cc").groupBy(_.pass).values
          .map(_.map(s => stats.jobCountWithin(s.startMs, s.endMs).toDouble).sum).toSeq
        val tasks = stats.tasks.asScala.toSeq
        val skew = {
          val byStage = tasks.groupBy(_.stage).values.filter(_.size >= 2).toSeq
          val weights = byStage.map(_.map(_.durMs).sum.toDouble)
          val ratios = byStage.map { ts => ts.map(_.durMs).max / math.max(1.0, median(ts.map(_.durMs.toDouble))) }
          if (weights.sum == 0) 0.0 else ratios.zip(weights).map { case (r, wt) => r * wt }.sum / weights.sum
        }
        val self = tr.selfSecondsByLayer
        val tracedRps = w.rowsPerPass / median(traced)
        val untracedRps = w.rowsPerPass / median(untraced)
        def passMedian(k: String) = median(perPass.toSeq.flatMap(_.get(k)))
        val values: Map[String, Double] = probes ++
          Seq("join.out_rows", "join.grid_bits", "join.simhash_band_rows").map(k => k -> passMedian(k)) ++ Map(
          "join.box_s" -> spanMedian("join.box"), "join.dwithin_s" -> spanMedian("join.dwithin"),
          "join.knn_s" -> spanMedian("join.knn"), "join.intersects_s" -> spanMedian("join.intersects"),
          "join.bits_memo_hit_ratio" -> (if (lookups > 0) hits.toDouble / lookups else 0.0),
          "join.simhash_s" -> spanMedian("join.simhash"), "ops.cc_s" -> spanMedian("ops.cc"),
          "ops.cc_jobs" -> median(ccJobs),
          "spark.plan_s" -> median(planPerPass),
          "spark.jobs" -> stats.jobs.size / n, "spark.stages" -> stats.stages.get / n,
          "spark.tasks" -> tasks.size / n,
          "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1048576.0 / n,
          "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1048576.0 / n,
          "spark.spill_mb" -> tasks.map(_.spill).sum / 1048576.0 / n,
          "spark.gc_s" -> gc / n, "spark.task_skew" -> skew,
          "spark.busy_frac" -> tasks.map(_.runMs).sum / 1e3 / (wall * cores),
          "spark.sched_delay_s" -> tasks.map(_.delayMs).sum / 1e3 / n,
          "trace.rows_per_s" -> tracedRps, "trace.untraced_rows_per_s" -> untracedRps,
          "trace.overhead_rows_per_s" -> (tracedRps - untracedRps), "trace.spans" -> tr.spans.size.toDouble,
          "host.control_rate" -> control,
          "bench.failed_frac" -> ledger.failed.toDouble / math.max(1L, ledger.attempted),
          "bench.passes" -> (untraced.size + traced.size).toDouble) ++
          self.map { case (layer, s) => s"layer.${layer}_self_s" -> s / n }
        val unknown = values.keySet -- PER_LAYER.map(_._1)
        if (unknown.nonEmpty) say(s"not in the per-layer list: ${unknown.toSeq.sorted.mkString(", ")}")
        PER_LAYER.map { case (k, u) => (k, u, values.getOrElse(k, 0.0)) }
      }

    opSeconds.foreach { case (k, v) =>
      say(f"op $k: median ${median(v)}%.3f s of ${v.size} runs (${v.map(x => f"$x%.2f").mkString(" ")})")
    }
    metrics.foreach { case (k, u, v) => say(s"$k = $v $u") }
    ledger.reasons.foreach(r => say(s"FAILED $r"))
    say(s"${ledger.failed} of ${ledger.attempted} operations and checks failed")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json(ledger, metrics) + "\n")
  }
}

/** State shared with the idle tasks of [[Main.withSlotsHeld]]; they run in
  * this JVM's executor threads (local mode), so they see the same object. */
object SlotHold {
  @volatile var release = new CountDownLatch(0)
  val running = new AtomicInteger(0)
}
