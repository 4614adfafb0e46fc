package graft

import org.apache.spark.sql.{Row, SparkSession}

/** The Spark work a block ran: the name of every finished QueryExecution
  * action, in order; the SQL executions that ran jobs; the Spark jobs; and
  * the observe() metrics the actions reported, the last value per name. */
final case class SparkWork(actions: Seq[String], executions: Int, jobs: Int,
                           metrics: Map[String, Row]) {
  def counts: (Seq[String], Int, Int) = (actions, executions, jobs)
}

object SparkWork {

  /** Runs `f` and returns its value with the work it ran. Every job must
    * run inside a SQL execution. */
  def of[A](spark: SparkSession)(f: => A): (A, SparkWork) = {
    import scala.jdk.CollectionConverters._
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val metrics = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val sqlListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        executions.add(funcName)
        metrics.putAll(qe.observedMetrics.asJava)
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = executions.add(funcName)
    }
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
    spark.listenerManager.register(sqlListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val out = f
      org.apache.spark.sql.graft.bridge.waitListenerBus(spark)
      val js = jobs.asScala.toSeq
      assert(js.forall(_.nonEmpty), "a job ran outside any SQL execution")
      (out, SparkWork(executions.asScala.toSeq, js.flatten.distinct.size, js.size,
        metrics.asScala.toMap))
    } finally {
      spark.listenerManager.unregister(sqlListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
