package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.schema.RawPost
import graft.sources.CursorPollSource
import graft.state.StatefulOps
import graft.streaming.{EventSink, PostPipeline}

/** The posts pipeline driven through its public entry point:
  * `EventSink.start(PostPipeline.pollPosts(feed, cap))` over a
  * CursorPollSource feed, with `onBatchCommit` stamping each durable
  * commit.
  *
  * @param openLoop pages are written by one generator thread on their
  *   due schedule while the query runs; otherwise the whole feed is
  *   written before the query starts and every page is due at start.
  */
final case class PostsSpec(shape: Gen.PostShape, pagesPerHandle: Int,
    capPagesPerHandle: Int, openLoop: Boolean) {
  def posts: Long = shape.handles.toLong * pagesPerHandle * shape.rowsPerPage
}

/** Everything one pass measured. */
final case class PostsPass(pages: Vector[Stats.Page], batches: Vector[Stats.Batch],
    progress: Vector[StreamingQueryProgress], startUs: Long, genEndUs: Long,
    lateUs: Vector[Long], genS: Double, dir: String, error: Option[Throwable])

object Posts {

  /** Run one pass in `dir` (fresh), leaving its tables for [[verify]].
    * `onCommit` runs on the stream thread after each durable commit.
    */
  def pass(spark: SparkSession, seed: Long, spec: PostsSpec, dir: String,
      onCommit: () => Unit = () => ()): PostsPass = {
    val shape = spec.shape
    val zipf = new Gen.Zipf(math.max(1, shape.pairs), shape.zipfS)
    val feed = s"$dir/feed"
    new File(feed).mkdirs()
    val order = (for (n <- 0 until spec.pagesPerHandle; h <- 0 until shape.handles)
      yield (h, n)).sortBy { case (h, n) => (Gen.pageDueUs(shape, h, n), h) }

    // a backlog is written in full before the query starts
    val g0 = Clock.nowUs
    if (!spec.openLoop) order.foreach { case (h, n) =>
      Gen.writePage(feed, h, n, Gen.pageLines(seed, shape, zipf, h, n))
    }
    val genS = (Clock.nowUs - g0) / 1e6

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    CursorPollSource.resetAdmissions()
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val startUs = Clock.nowUs
    val q = EventSink.start(
      PostPipeline.pollPosts(spark, feed, spec.capPagesPerHandle),
      s"$dir/events", s"$dir/outbox", s"$dir/chk",
      trigger = Trigger.ProcessingTime(0),
      onBatchCommit = (bid, _) => { commits.put(bid, Clock.nowUs); onCommit() })

    // the open-loop generator: one thread, writing each page at its
    // due instant whether or not the query keeps up
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var genErr: Throwable = null
    val t0 = Clock.nowUs + 200000L // first page due 0.2 s after start
    val gen = new Thread(() => try {
      if (spec.openLoop) order.foreach { case (h, n) =>
        val due = t0 + Gen.pageDueUs(shape, h, n)
        val lines = Gen.pageLines(seed, shape, zipf, h, n)
        val waitUs = due - Clock.nowUs
        if (waitUs > 0) Thread.sleep(waitUs / 1000, ((waitUs % 1000) * 1000).toInt)
        Gen.writePage(feed, h, n, lines)
        late.add(Clock.nowUs - due)
      }
    } catch { case t: Throwable => genErr = t }, "graftbench-generator")
    gen.start()

    val error = try {
      gen.join()
      val genEnd = Clock.nowUs
      q.processAllAvailable()
      q.stop()
      Option(genErr).map(e => (e, genEnd)).toLeft(genEnd)
    } catch {
      case t: Throwable =>
        gen.interrupt(); gen.join()
        try q.stop() catch { case _: Throwable => }
        Left((t, Clock.nowUs))
    }
    val genEndUs = error.fold(_._2, identity)

    // progress events trail the commits on the listener bus
    val lastBatch = if (commits.isEmpty) -1L else commits.keySet().asScala.max
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() < deadline &&
        !progress.asScala.exists(_.batchId >= lastBatch)) Thread.sleep(20)
    spark.streams.removeListener(listener)

    val prog = progress.asScala.toVector
    val batches = prog.filter(p => commits.containsKey(p.batchId))
      .groupBy(_.batchId).values.map(_.head).toVector.sortBy(_.batchId)
      .map { p =>
        val end = String.valueOf(p.sources.head.endOffset)
        Stats.Batch(p.batchId, CursorPollSource.CursorOffset.parse(end).cursors,
          CursorPollSource.admissionTimeUs(end).getOrElse(commits.get(p.batchId)),
          commits.get(p.batchId))
      }
    val pages = order.map { case (h, n) =>
      Stats.Page(s"h$h", n,
        if (spec.openLoop) t0 + Gen.pageDueUs(shape, h, n) else startUs,
        shape.rowsPerPage)
    }.toVector
    PostsPass(pages, batches, prog, if (spec.openLoop) t0 else startUs, genEndUs,
      late.asScala.toVector, genS, dir, error.left.toOption.map(_._1))
  }

  /** End-to-end metrics of a pass (see BENCHMARK.json). Throughput is
    * posts committed ÷ (first due → last commit): on a backlog, whose
    * pages are all due at query start, the drain rate. */
  def endToEnd(p: PostsPass): Map[String, Double] = {
    val (joined, _) = Stats.joinPages(p.pages, p.batches)
    val lat = Stats.latencySamples(joined)
    val committed = joined.map(_.page.rows).sum
    val lastCommit = if (p.batches.isEmpty) p.startUs else p.batches.map(_.commitUs).max
    val dataBatches = p.progress.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head)
    Map(
      "latency_p50_s" -> Stats.percentile(lat, 0.50).getOrElse(Double.NaN),
      "latency_p99_s" -> Stats.percentile(lat, 0.99).getOrElse(Double.NaN),
      "throughput_per_s" -> committed / math.max(1e-6, (lastCommit - p.startUs) / 1e6),
      "batch_p50_s" -> Stats.median(dataBatches.map(triggerS).toSeq))
  }

  def triggerS(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue / 1000.0).getOrElse(0.0)

  /** Every generated post of the pass, as the program read them. */
  def generated(seed: Long, spec: PostsSpec): Seq[RawPost] = {
    val zipf = new Gen.Zipf(math.max(1, spec.shape.pairs), spec.shape.zipfS)
    for {
      h <- 0 until spec.shape.handles
      n <- 0 until spec.pagesPerHandle
      line <- Gen.pageLines(seed, spec.shape, zipf, h, n)
    } yield {
      val f = line.split("\t", 9)
      def opt(s: String) = if (s.isEmpty) None else Some(s)
      RawPost(f(0), f(1), f(2), f(8), f(7).toLong, opt(f(3)), opt(f(4)),
        f(5).toBoolean, f(6).toDouble)
    }
  }

  final case class Check(posts: Long, committedPosts: Long, badKeys: Long,
      badOutboxKeys: Long, eventsRows: Long, outboxRows: Long) {
    /** Posts never committed (or counted twice) plus every rejected row. */
    def failed: Long = math.abs(posts - committedPosts) + badKeys + badOutboxKeys
  }

  /** Check the committed tables against a from-scratch batch fold of
    * every generated post through `PostPipeline.toEvidence` and
    * `StatefulOps.upsertEvent`; the fold is independent of how posts
    * were grouped into micro-batches, so it must match on (eventType,
    * evidenceCount, startUs, lastUs) per key. The outbox must hold
    * exactly one row per committed (eventKey, version): versions 1 to
    * the key's committed version, each once.
    */
  def verify(spark: SparkSession, seed: Long, spec: PostsSpec, dir: String): Check = {
    import spark.implicits._
    val posts = generated(seed, spec)
    val evidence = PostPipeline.toEvidence(posts.toDS().toDF()
        .withColumn("ts", timestamp_micros(col("tsUs"))))
      .select("key", "eventType", "evidence", "sentiment")
      .as[StatefulOps.UpsertInput].collect()
    val expected = evidence.groupBy(_.key).map { case (k, rs) =>
      val e = StatefulOps.upsertEvent(k, rs.head.eventType,
        rs.toSeq.map(r => (r.evidence, r.sentiment)), None)
      k -> (e.eventType, e.evidenceCount, e.startUs, e.lastUs)
    }
    val actual = EventSink.eventsTable(spark, s"$dir/events").read()
      .map(_.select("eventKey", "eventType", "evidenceCount", "startUs", "lastUs", "version")
        .as[(String, String, Int, Long, Long, Int)].collect().toSeq)
      .getOrElse(Seq.empty)
    val got = actual.map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val badKeys = (expected.keySet ++ got.keySet).count(k => expected.get(k) != got.get(k)) +
      (actual.size - got.size) // a key committed twice
    val version = actual.map(r => r._1 -> r._6).toMap

    val outbox = new graft.streaming.SnapshotTable(spark, s"$dir/outbox").read()
      .map(_.select(col("eventKey"),
          get_json_object(col("payloadJson"), "$.version").cast("int"))
        .as[(String, Int)].collect().toSeq)
      .getOrElse(Seq.empty)
    val versions = outbox.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    val badOutboxKeys = (versions.keySet ++ version.keySet).count { k =>
      versions.get(k) != version.get(k).map(v => (1 to v).toSeq)
    }
    Check(posts.size.toLong, actual.map(_._3.toLong).sum, badKeys, badOutboxKeys,
      actual.size.toLong, outbox.size.toLong)
  }
}
