package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.aggregates.Evidence
import graft.schema.{EventRow, OutboxEntry, RawPost}
import graft.streaming.{EventSink, SnapshotTable}

/** The sink micro-batch's cost contract: the foreachBatch input gets
  * exactly one action, the sink's reads take the caller's row type
  * instead of a footer inference, and state stores commit changelogs
  * — each without changing what the tables hold.
  */
class SinkBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val t0 = 1700000000L * 1000000L
  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def evRow(key: String, version: Int, ts: Long) =
    EventRow(key, "social", ts, ts, 1,
      Seq(Evidence("x", ts, Map("tweet_id" -> key), "", 1.0)), 0.0, version)

  private def post(id: String, tsUs: Long, symbol: String): RawPost =
    RawPost(id, "x", "kol", "launch!", tsUs, None, Some(symbol),
      isCandidate = true, 0.5)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The session a foreachBatch input carries: Structured Streaming
    * runs a micro-batch without adaptive execution, so no shuffle map
    * stage becomes a job of its own. Batches are RDD-backed like the
    * foreachBatch input, so an empty one still runs its plan.
    */
  private lazy val batchSession: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def processBatch(rows: Seq[EventRow], batchId: Long, root: String,
      maintain: EventSink.EventsMaintain = EventSink.EventsMaintain()): Unit = {
    val s = batchSession
    import s.implicits._
    EventSink.processBatch(s.createDataset(s.sparkContext.parallelize(rows, 2)),
      batchId, s"$root/events", s"$root/outbox", _ => true, 0L, maintain)
  }

  test("processBatch job budget: ≤ 4 with data, 1 empty, 0 replayed") {
    val root = tmp("graft_sink_jobs_")
    // batch 0 lands both tables; batch 1 updates k1 and adds k3, so it
    // pays the prior-bucket read and the outbox read too
    val first = SparkJobs.onThisThread(processBatch(
      Seq(evRow("k1", 1, t0), evRow("k2", 1, t0 + 1)), 0L, root))
    val update = SparkJobs.onThisThread(processBatch(
      Seq(evRow("k1", 2, t0 + 10), evRow("k3", 1, t0 + 11)), 1L, root))
    val empty = SparkJobs.onThisThread(processBatch(Seq.empty, 2L, root))
    val replay = SparkJobs.onThisThread(processBatch(
      Seq(evRow("k1", 2, t0 + 10), evRow("k3", 1, t0 + 11)), 1L, root))
    assert(first <= 4 && update <= 4,
      s"data batches ran $first and $update jobs")
    assert(empty == 1, s"empty batch ran $empty jobs")
    assert(replay == 0, s"replayed batch ran $replay jobs")
    val events = EventSink.eventsTable(spark, s"$root/events")
    assert(events.lastBatchId == 1L)
    assert(events.read().get.count() == 3L)
  }

  /** The posts stream over `src`: one parquet directory per trigger. */
  private def postsSource(s: SparkSession, src: String) = {
    import s.implicits._
    s.readStream.schema(Encoders.product[RawPost].schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*").as[RawPost]
  }

  private def writePosts(src: String, name: String, posts: Seq[RawPost]): Unit = {
    val s = spark
    import s.implicits._
    posts.toDS().coalesce(1).write.parquet(s"$src/$name")
  }

  private val postBatches: Seq[Seq[RawPost]] = Seq(
    Seq(post("p1", t0, "PEPE"), post("p2", t0 + 1000000L, "PEPE"),
      post("p3", t0 + 2000000L, "DOGE")),
    Seq(post("p4", t0 + 3000000L, "PEPE"), post("p5", t0 + 4000000L, "WIF")),
    Seq(post("p6", t0 + 5000000L, "DOGE"), post("p7", t0 + 6000000L, "WIF"),
      post("p8", t0 + 7000000L, "BONK")))

  private def runSink(s: SparkSession, src: String, root: String): StreamingQuery =
    EventSink.start(postsSource(s, src), s"$root/events", s"$root/outbox",
      s"$root/chk")

  test("EventSink.start runs ≤ 4 jobs per data micro-batch") {
    val root = tmp("graft_sink_query_jobs_")
    val src = s"$root/src"
    postBatches.zipWithIndex.foreach { case (b, i) => writePosts(src, s"b$i", b) }
    var q: StreamingQuery = null
    val jobs = SparkJobs.during {
      q = runSink(spark, src, root)
      try q.processAllAvailable() finally q.stop()
    }
    val perBatch = jobs
      .filter(_.getProperty("sql.streaming.queryId") == q.id.toString)
      .groupBy(p => Option(p.getProperty("streaming.sql.batchId")))
      .map { case (b, js) => b -> js.size }
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataBatches.length == postBatches.length,
      s"one data batch per input directory: ${dataBatches.toSeq}")
    dataBatches.foreach { b =>
      val n = perBatch.getOrElse(Some(b.toString), 0)
      assert(n >= 1 && n <= 4, s"batch $b ran $n jobs (per batch: $perBatch)")
    }
    assert(EventSink.eventsTable(spark, s"$root/events").read().get.count() == 4L)
  }

  test("known-schema reads equal the inferred parquet read, nested nullability included") {
    val s = spark
    import s.implicits._
    val root = tmp("graft_sink_schema_")
    processBatch(Seq(evRow("k1", 1, t0), evRow("k2", 1, t0 + 1)), 0L, root)

    // events: the prior-bucket read inside mergeResolve, fed the
    // caller's row type, against spark.read.parquet of the same dirs
    val events = EventSink.eventsTable(s, s"$root/events")
    val priorDirs = StateTestUtil.manifestRefsAndDisk(s"$root/events", 0L)._1
      .toSeq.sorted.map(rel => s"$root/events/$rel")
    val upd = EventSink.mergeEvents(None,
      Seq(evRow("k1", 2, t0 + 10), evRow("k2", 2, t0 + 11)).toDS().toDF())
    var prior: Option[DataFrame] = None
    events.mergeResolve(upd, 1L, Some(upd.schema)) { (p, u) =>
      prior = p
      EventSink.mergeEvents(p, u)
    }
    val inferred = s.read.parquet(priorDirs: _*)
    assert(upd.schema != inferred.schema, "the caller's type is not nullable")
    assert(prior.get.schema == inferred.schema)
    assert(prior.get.collect().toSet == inferred.collect().toSet)
    assert(prior.get.count() == 2L)

    // outbox: the snapshot read with the row type against the same dir
    processBatch(Seq(evRow("k3", 1, t0 + 20)), 1L, root)
    val outbox = new SnapshotTable(s, s"$root/outbox")
    val outboxSchema = Encoders.product[OutboxEntry].schema
    val known = outbox.read(outboxSchema).get
    val plain = s.read.parquet(s"$root/outbox/v_${outbox.latest.get._1}")
    assert(outboxSchema != plain.schema, "the caller's type is not nullable")
    assert(known.schema == plain.schema)
    assert(known.collect().toSet == plain.collect().toSet)
    assert(known.count() == 3L)
  }

  test("after addColumn the known-schema reads return stored values, not the default") {
    val s = spark
    import s.implicits._
    val root = tmp("graft_sink_schema_migrated_")
    processBatch(Seq(evRow("k1", 1, t0)), 0L, root)

    val outbox = new SnapshotTable(s, s"$root/outbox")
    outbox.addColumn("channel", "string", "'none'")
    outbox.commit(outbox.read().get.withColumn("channel", lit("tg")), 1L)
    Seq(outbox.read(), outbox.read(Encoders.product[OutboxEntry].schema))
      .foreach { r =>
        assert(r.get.select("channel").as[String].collect().toSeq == Seq("tg"))
      }

    val events = EventSink.eventsTable(s, s"$root/events")
    events.addColumn("channel", "string", "'none'")
    val carrying = EventSink.mergeEvents(None,
      Seq(evRow("k1", 2, t0 + 10)).toDS().toDF()).withColumn("channel", lit("tg"))
    events.mergeResolve(carrying, 1L)(EventSink.mergeEvents)
    val upd = EventSink.mergeEvents(None,
      Seq(evRow("k2", 1, t0 + 20), evRow("k1", 1, t0)).toDS().toDF())
    var prior: Option[DataFrame] = None
    events.mergeResolve(upd, 2L, Some(upd.schema)) { (p, u) =>
      prior = p
      EventSink.mergeEvents(p, u)
    }
    assert(prior.get.filter($"eventKey" === "k1").select("channel").as[String]
      .collect().toSeq == Seq("tg"))
    val after = events.read().get.select("eventKey", "version", "channel")
      .as[(String, Int, String)].collect().toSet
    assert(after == Set(("k1", 2, "tg"), ("k2", 1, "none")))
  }

  test("an empty batch moves no table and writes no data, but due maintenance still vacuums") {
    val root = tmp("graft_sink_empty_")
    val maintain = EventSink.EventsMaintain(every = 3, vacuumKeepVersions = 1)
    processBatch(Seq(evRow("k1", 1, t0)), 0L, root, maintain)
    processBatch(Seq(evRow("k1", 2, t0 + 10), evRow("k2", 1, t0 + 11)), 1L,
      root, maintain)
    val events = EventSink.eventsTable(spark, s"$root/events")
    val outbox = new SnapshotTable(spark, s"$root/outbox")
    def listing(t: String): Set[String] =
      new File(s"$root/$t").list().toSet.filterNot(_.endsWith(".crc"))
    assert(events.versions == Seq(0L, 1L) && outbox.versions == Seq(0L, 1L))
    val (eventsBefore, outboxBefore) = (events.latest, outbox.latest)
    val (eventsFiles, outboxFiles) = (listing("events"), listing("outbox"))

    // batch 2 is due ((2 + 1) % 3 == 0) and carries no row
    processBatch(Seq.empty, 2L, root, maintain)

    assert(events.latest == eventsBefore && outbox.latest == outboxBefore)
    assert(events.lastBatchId == 1L && outbox.lastBatchId == 1L)
    assert(listing("events").subsetOf(eventsFiles),
      s"new events entries: ${listing("events") -- eventsFiles}")
    assert(listing("outbox").subsetOf(outboxFiles),
      s"new outbox entries: ${listing("outbox") -- outboxFiles}")
    assert(events.versions == Seq(1L), s"events kept ${events.versions}")
    assert(outbox.versions == Seq(1L), s"outbox kept ${outbox.versions}")
    assert(events.read().get.count() == 2L)
  }

  test("a full-snapshot state checkpoint restarts under changelog commits and matches a from-scratch run") {
    val s = spark
    import s.implicits._
    assert(s.conf.get(Changelog) == "true", "changelog commits are the default")
    def stateFiles(root: String): Seq[String] = {
      val state = new File(s"$root/chk/state")
      if (!state.exists) Nil
      else Files.walk(state.toPath).iterator().asScala
        .map(_.getFileName.toString).filter(n => n.endsWith(".zip") ||
          n.endsWith(".changelog")).toSeq
    }
    val upgraded = tmp("graft_sink_upgrade_")
    val src = s"$upgraded/src"
    writePosts(src, "b0", postBatches.head)

    // run 1: the old default, full RocksDB snapshots on every commit
    val off = s.newSession()
    off.conf.set(Changelog, "false")
    val q1 = runSink(off, src, upgraded)
    try q1.processAllAvailable() finally q1.stop()
    val before = stateFiles(upgraded)
    assert(before.exists(_.endsWith(".zip")) &&
      !before.exists(_.endsWith(".changelog")), s"run 1 state files: $before")

    // run 2: the same checkpoint under the new default; the new posts
    // update keys whose state run 1 left behind
    postBatches.zipWithIndex.tail.foreach { case (b, i) => writePosts(src, s"b$i", b) }
    val q2 = runSink(s, src, upgraded)
    try q2.processAllAvailable() finally q2.stop()
    assert(stateFiles(upgraded).exists(_.endsWith(".changelog")),
      "run 2 must commit changelogs")

    val scratch = tmp("graft_sink_scratch_")
    postBatches.zipWithIndex.foreach { case (b, i) =>
      writePosts(s"$scratch/src", s"b$i", b)
    }
    val q3 = runSink(s, s"$scratch/src", scratch)
    try q3.processAllAvailable() finally q3.stop()

    def events(root: String): Set[Row] =
      EventSink.eventsTable(s, s"$root/events").read().get
        .as[EventRow].toDF().collect().toSet
    def outbox(root: String): Set[OutboxEntry] =
      new SnapshotTable(s, s"$root/outbox").read().get.as[OutboxEntry]
        .collect().toSet
    assert(events(upgraded).size == 4)
    assert(events(upgraded) == events(scratch))
    assert(outbox(upgraded).nonEmpty)
    assert(outbox(upgraded) == outbox(scratch))
  }
}
