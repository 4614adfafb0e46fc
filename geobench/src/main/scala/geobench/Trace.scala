package geobench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One timed region. `parent` is the enclosing span's id (-1 at the top),
  * `pass` the pass it ran in (-1 outside passes: set-up, kernel probes). */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Layer = the module prefix of the span name (`join.box` → `join`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. The benchmark opens a span around each call it
  * makes into an engine layer; the engine itself is not instrumented. When
  * `on` is false every method is a plain pass-through. */
final class Tracer(val on: Boolean) {
  private val done = ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  var pass: Int = -1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, System.nanoTime(), System.currentTimeMillis()) :: stack
      try f
      finally {
        val (_, _, s0, m0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, parent, pass, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }

  /** Construction + Catalyst planning of one engine call: builds the result
    * and, when tracing, forces the physical plan so planning is charged
    * here and not to the action that follows. */
  def plan[T](f: => T): T = span("spark.plan") {
    val v = f
    if (on) v match {
      case ds: Dataset[_] => ds.queryExecution.executedPlan
      case _ => ()
    }
    v
  }

  /** Self time per layer over the spans of passes `>= 0`: a span's own
    * duration minus its children's. */
  def selfSecondsByLayer: Map[String, Double] = {
    val inPass = done.filter(_.pass >= 0)
    val childSum = inPass.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    inPass.groupBy(_.layer).view
      .mapValues(_.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
  }

  /** Records a span measured by someone else (a Spark SQL execution seen
    * by the listener) as a child of `parent`, in the parent's pass. */
  def addSpan(name: String, parent: Span, startMs: Long, endMs: Long): Unit = if (on) {
    val s0 = parent.startNs + (startMs - parent.startMs) * 1000000L
    done += Span(nextId, name, parent.id, parent.pass, s0,
      s0 + math.max(0L, endMs - startMs) * 1000000L, startMs, endMs)
    nextId += 1
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Spark listener totals over the traced window: jobs, stages, tasks,
  * shuffle and spill bytes, task-time spread and scheduler delay. Jobs
  * and SQL executions keep their wall-clock interval so spans can
  * subtract, or be split by, the work that ran inside them. */
final class SparkStats extends SparkListener {
  import SparkStats.{Exec, Task}
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val stages = new java.util.concurrent.atomic.AtomicInteger()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      def nodes(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
        p.simpleString +: p.children.flatMap(nodes)
      execStart.put(s.executionId, (s.time, (s.physicalPlanDescription +: nodes(s.sparkPlanInfo)).mkString("\n")))
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(execStart.remove(x.executionId)).foreach { case (t, plan) => execs.add(Exec(t, x.time, plan)) }
    case _ =>
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      // the Spark UI's scheduler delay: wall time not spent deserializing,
      // running, serializing the result or fetching it
      val delay = dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      tasks.add(Task(e.stageId, dur, m.executorRunTime, math.max(0L, delay),
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Wall seconds of the jobs that ran entirely inside [startMs, endMs]. */
  def jobSecondsWithin(startMs: Long, endMs: Long): Double = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.filter { case (s, e) => s >= startMs && e <= endMs }
      .map { case (s, e) => (e - s) / 1e3 }.sum
  }

  def jobCountWithin(startMs: Long, endMs: Long): Int = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.count { case (s, _) => s >= startMs && s <= endMs }
  }

  /** SQL executions that ran entirely inside [startMs, endMs], by start. */
  def execsWithin(startMs: Long, endMs: Long): Seq[Exec] = {
    import scala.jdk.CollectionConverters._
    execs.asScala.filter(x => x.startMs >= startMs && x.endMs <= endMs).toSeq.sortBy(_.startMs)
  }
}

object SparkStats {
  final case class Task(stage: Int, durMs: Long, runMs: Long, delayMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)
  /** One SQL execution (one action): its interval and its physical plan text. */
  final case class Exec(startMs: Long, endMs: Long, plan: String)
}
