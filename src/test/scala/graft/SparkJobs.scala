package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counting the Spark jobs a block runs, for the job-budget specs. */
object SparkJobs {

  /** Every job a listener sees, as its local properties. A marker job
    * run after `body` flushes the listener bus: events arrive in
    * order, so once the marker is seen every earlier job has been.
    */
  def during(body: => Unit): Seq[java.util.Properties] = {
    val sc = TestSpark.spark.sparkContext
    val seen = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    val marker = java.util.UUID.randomUUID.toString
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def done = seen.asScala.exists(_.getProperty("graft.spec.marker") == marker)
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "listener bus did not deliver the marker job")
      seen.asScala.toSeq
        .filter(_.getProperty("graft.spec.marker") != marker)
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs run on this thread while `body` ran: the thread's jobs carry
    * a property no other thread sets.
    */
  def onThisThread(body: => Unit): Int = {
    val sc = TestSpark.spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    during {
      sc.setLocalProperty("graft.spec.tag", tag)
      try body finally sc.setLocalProperty("graft.spec.tag", null)
    }.count(_.getProperty("graft.spec.tag") == tag)
  }
}
