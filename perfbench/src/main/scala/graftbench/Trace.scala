package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, read from the monotonic clock so
  * that intervals never go backwards. Spark's listener events carry
  * epoch milliseconds; both share the epoch origin.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span tracer for one traced pass.
  *
  * Spans nest workload → phase → micro-batch or call → Spark job →
  * stage. The benchmark opens workload, phase and call spans itself;
  * a call span is published to Spark as the local property
  * [[SpanKey]], which every job submitted from that thread carries,
  * including jobs from pool threads the call creates (Spark local
  * properties are inherited by child threads). A streaming job's
  * parent is its micro-batch, named by the `streaming.sql.batchId`
  * property. A job's layer is the repository source file of the
  * innermost program frame in its call site.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final class Span(val id: Long, val name: String, val kind: String,
      val parent: Long, var startUs: Long, var endUs: Long,
      var layer: String = "")

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private def newSpan(name: String, kind: String, parent: Long, startUs: Long,
      endUs: Long = -1L): Span = {
    val s = new Span(ids.incrementAndGet(), name, kind, parent, startUs, endUs)
    spans.put(s.id, s)
    s
  }

  @volatile private var current: Long = 0L // innermost open bench span

  /** The innermost open span; read its times once it has closed. */
  def currentSpan: Span = spans.get(current)

  /** Run `body` as a child span of the innermost open span. Call spans
    * are also published to the jobs `body` submits. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val s = newSpan(name, kind, current, Clock.nowUs)
    val saved = current
    val savedProp = sc.getLocalProperty(SpanKey)
    current = s.id
    if (kind == "call") sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endUs = Clock.nowUs
      current = saved
      if (kind == "call") sc.setLocalProperty(SpanKey, savedProp)
    }
  }

  // micro-batch spans, keyed by (query run, batch id)
  private val batchSpans = new java.util.concurrent.ConcurrentHashMap[(String, Long), Span]()
  private def batchSpan(query: String, batchId: Long): Span =
    batchSpans.computeIfAbsent((query, batchId),
      _ => newSpan(s"batch $batchId", "batch", current, Long.MaxValue))

  // job/stage bookkeeping
  final class Job(val span: Span) { var taskMs: Long = 0L }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqlDetails.put(x.executionId, x.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): Option[String] = Option(p).flatMap(q => Option(q.getProperty(k)))
      val parent = prop(SpanKey).map(_.toLong)
        .orElse(for {
          q <- prop("sql.streaming.queryId")
          b <- prop("streaming.sql.batchId")
        } yield batchSpan(q, b.toLong).id)
        .getOrElse(0L)
      val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val viaSql = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
        .flatMap(id => Option(sqlDetails.get(id.toLong))).getOrElse("")
      val s = newSpan(s"job ${e.jobId}", "job", parent, e.time * 1000L)
      s.layer = layerOf(details).orElse(layerOf(viaSql)).getOrElse("spark")
      jobs.put(e.jobId, new Job(s))
      e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.span.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for {
        j <- Option(stageJob.get(i.stageId)).flatMap(id => Option(jobs.get(id)))
        start <- i.submissionTime
        end <- i.completionTime
      } newSpan(s"stage ${i.stageId}", "stage", j.span.id, start * 1000L, end * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        j.synchronized { j.taskMs += e.taskInfo.duration }
      }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 || batchSpans.containsKey((p.id.toString, p.batchId))) {
        val s = batchSpan(p.id.toString, p.batchId)
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        s.startUs = startUs
        s.endUs = startUs + Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L) * 1000L
      }
    }
  }

  /** All jobs recorded so far, with their task time. */
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.span.id)
  def allSpans: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)
  def spanById(id: Long): Option[Span] = Option(spans.get(id))

  /** Jobs that started inside span `s`. */
  def jobsWithin(s: Span): Seq[Job] =
    allJobs.filter(j => j.span.startUs >= s.startUs && j.span.startUs <= s.endUs)

  /** Jobs whose parent is span `id`. */
  def jobsUnder(id: Long): Seq[Job] = allJobs.filter(_.span.parent == id)

  /** Wall time of span `s` during which none of its jobs ran. */
  def idleUs(s: Span): Long = s.endUs - s.startUs -
    coveredUs(s, jobsUnder(s.id).map(j => (j.span.startUs, j.span.endUs)))

  /** Spans with self time (duration minus the time its children cover),
    * as JSON lines. */
  def toJson: String = {
    val all = allSpans.filter(s => s.endUs >= s.startUs && s.endUs != Long.MaxValue)
    val kids = all.groupBy(_.parent)
    val taskMs = allJobs.map(j => j.span.id -> j.taskMs).toMap
    all.map { s =>
      val self = (s.endUs - s.startUs) -
        coveredUs(s, kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)))
      f"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", """ +
        f""""name": "${s.name}", "layer": "${s.layer}", "start_us": ${s.startUs}, """ +
        f""""end_us": ${s.endUs}, "self_us": $self""" +
        taskMs.get(s.id).map(t => s""", "task_ms": $t""").getOrElse("") + "}"
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Repository source file → layer (repo module). */
  private val Layers: Seq[(String, String)] = Seq(
    "CursorPollSource.scala" -> "sources",
    "PostPipeline.scala" -> "state",
    "StatefulOps.scala" -> "state",
    "EventSink.scala" -> "EventSink",
    "StateTables.scala" -> "StateTables",
    "IngestStream.scala" -> "IngestStream",
    "Dedup.scala" -> "dedup",
    "Clusters.scala" -> "dedup",
    "ClusterMaintain.scala" -> "dedup",
    "ClusterLabels.scala" -> "dedup")

  /** The layer of the innermost program frame (`graft.…`, not the
    * benchmark's own `graftbench.…`) of a call-site stack. */
  def layerOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .map { frame =>
        val file = frame.substring(frame.lastIndexOf('(') + 1).takeWhile(_ != ':')
        Layers.collectFirst { case (f, layer) if f == file => layer }.getOrElse("other")
      }

  /** Length of the union of intervals, clipped to span `s`. */
  def coveredUs(s: Tracer#Span, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, s.startUs), math.min(b, s.endUs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered
  }
}
