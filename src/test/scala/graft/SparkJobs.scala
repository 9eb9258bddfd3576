package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counting the Spark jobs a block runs, for the job-budget specs,
  * and the classes it compiles.
  */
object SparkJobs {

  /** The classes Spark's code generator compiled while `body` ran: the
    * delta of its compile counter, one count per cache miss. The
    * counter is JVM-wide; forked suites run one after another, so
    * only `body` and the threads it starts compile meanwhile.
    */
  def compiles(body: => Unit): Long = {
    def count = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = count
    body
    count - before
  }

  /** One job as a listener saw it: its local properties, its stages
    * and the innermost program frame of its call site ([[siteOf]]) —
    * the job's own, or, for a job Spark submits from one of its
    * threads (a broadcast build, an adaptive query stage), that of the
    * SQL execution it belongs to.
    */
  final case class Job(props: java.util.Properties, site: String,
      stageIds: Seq[Int])

  /** A task that finished successfully: its stage and the bytes of the
    * result it shipped to the driver.
    */
  final case class Task(stageId: Int, resultBytes: Long)

  /** Every job a listener sees, as its local properties. A marker job
    * run after `body` flushes the listener bus: events arrive in
    * order, so once the marker is seen every earlier job has been.
    */
  def during(body: => Unit): Seq[java.util.Properties] =
    jobsDuring(body)._1.map(_.props)

  private def jobsDuring(body: => Unit): (Seq[Job], Seq[Task]) = {
    val sc = TestSpark.spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]
    val tasks = new ConcurrentLinkedQueue[Task]
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqlSites.put(x.executionId, siteOf(x.details))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        val own = siteOf(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.details).getOrElse(""))
        val viaSql = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
          .flatMap(k => Option(props.getProperty(k)))
          .flatMap(id => Option(sqlSites.get(id.toLong))).find(_ != "?")
        seen.add(Job(props, if (own != "?") own else viaSql.getOrElse("?"),
          e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == Success) tasks.add(Task(e.stageId,
          Option(e.taskMetrics).map(_.resultSize).getOrElse(0L)))
    }
    val marker = java.util.UUID.randomUUID.toString
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def done = seen.asScala.exists(_.props.getProperty("graft.spec.marker") == marker)
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "listener bus did not deliver the marker job")
      (seen.asScala.toSeq
        .filter(_.props.getProperty("graft.spec.marker") != marker),
        tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The innermost frame of program code in a job's call site, as
    * `File.scala:line`: the first `graft.` frame that is neither a
    * spec's nor the bounded-collect helper's, so a helper's job is
    * named by its caller. "?" when there is none.
    */
  def siteOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.SparkJobs") &&
        !f.startsWith("graft.streaming.DriverOps") &&
        !f.matches("""graft\.[A-Za-z0-9]+Spec\b.*"""))
      .map(f => f.substring(f.lastIndexOf('(') + 1).stripSuffix(")"))
      .getOrElse("?")

  /** Jobs run on this thread, or on threads it started, while `body`
    * ran: those jobs carry a property no other thread sets.
    */
  def onThisThread(body: => Unit): Int = sitesOnThisThread(body).size

  /** [[onThisThread]], each job named by its call site. */
  def sitesOnThisThread(body: => Unit): Seq[String] =
    tagged(body)._1.map(_.site)

  /** The job-budget check: runs `body`, fails when it ran more than
    * `budget` jobs on this thread — the message names each call site
    * and its count ([[bySite]]) — and returns the sites.
    */
  def withinBudget(what: String, budget: Int)(body: => Unit): Seq[String] = {
    val sites = sitesOnThisThread(body)
    org.scalatest.Assertions.assert(sites.size <= budget,
      s"$what ran ${sites.size} jobs (budget $budget): ${bySite(sites)}")
    sites
  }

  /** Call sites as `File.scala:line ×n`, the most frequent first. */
  def bySite(sites: Seq[String]): String =
    sites.groupBy(identity).toSeq.sortBy(-_._2.size)
      .map { case (k, v) => s"$k ×${v.size}" }.mkString(", ")

  /** The result bytes the tasks of this thread's jobs shipped to the
    * driver while `body` ran, and how many tasks shipped them. Only
    * successful tasks ship a result. A task that finishes after the
    * marker job is not counted: a body that cancels a job waits for
    * its tasks itself.
    */
  def resultBytesOnThisThread(body: => Unit): (Long, Int) = {
    val (jobs, tasks) = tagged(body)
    val stages = jobs.flatMap(_.stageIds).toSet
    val mine = tasks.filter(t => stages.contains(t.stageId))
    (mine.map(_.resultBytes).sum, mine.size)
  }

  private def tagged(body: => Unit): (Seq[Job], Seq[Task]) = {
    val sc = TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val (jobs, tasks) = jobsDuring {
      sc.setLocalProperty("graft.spec.tag", tag)
      try body finally sc.setLocalProperty("graft.spec.tag", null)
    }
    (jobs.filter(_.props.getProperty("graft.spec.tag") == tag), tasks)
  }
}
