package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.aggregates.Evidence
import graft.schema._
import graft.state.{OutboxRetry, StatefulOps}
import graft.streaming.{EventSink, PostPipeline, SnapshotTable}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def post(id: String, tsUs: Long, symbol: String = "PEPE",
      text: String = "launch!", sentiment: Double = 0.5): RawPost =
    RawPost(id, "x", "kol", text, tsUs, None, Some(symbol), isCandidate = true,
      sentiment)

  private def drain(q: StreamingQuery): Unit = { q.processAllAvailable() }

  test("streaming dedup + event upsert merges evidence across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[RawPost]
    val q = PostPipeline.eventStream(in.toDS())
      .writeStream.format("memory").queryName("events_out")
      .outputMode("update").start()
    try {
      val t0 = 1700000000L * 1000000L
      in.addData(post("p1", t0), post("p1", t0), post("p2", t0 + 1000000L))
      drain(q)
      in.addData(post("p3", t0 + 2000000L, sentiment = -0.5))
      drain(q)
      val rows = s.sql(
        "SELECT * FROM events_out WHERE version = (SELECT max(version) FROM events_out)")
        .as[EventRow].collect()
      assert(rows.length == 1)
      val ev = rows.head
      assert(ev.evidenceCount == 3, s"p1 dup must collapse: $ev")
      assert(ev.version == 2)
      assert(ev.startUs == t0 && ev.lastUs == t0 + 2000000L)
      assert(ev.lastSentimentScore == -0.5, "latest-wins must use event time")
    } finally q.stop()
  }

  test("signal FSM: delay gate, upgrade, terminal absorption") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[VerdictInput]
    val q = StatefulOps.signalStream(in.toDS())
      .writeStream.format("memory").queryName("sig_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L * 1000000L
      // first sight establishes candidate; immediate upgrade is gated
      in.addData(VerdictInput("k1", "upgrade", 0.9, t0))
      drain(q)
      assert(s.sql("SELECT * FROM sig_out").count() == 0, "delay gate")
      // after the 180s delay the upgrade lands
      in.addData(VerdictInput("k1", "upgrade", 0.9, t0 + 181L * 1000000L))
      drain(q)
      val tr = s.sql("SELECT * FROM sig_out").as[SignalTransition].collect()
      assert(tr.length == 1 && tr.head.toState == "verified")
      // terminal: further verdicts are absorbed
      in.addData(VerdictInput("k1", "downgrade", 0.1, t0 + 400L * 1000000L))
      drain(q)
      assert(s.sql("SELECT * FROM sig_out").count() == 1)
    } finally q.stop()
  }

  test("signal FSM: insufficient emits confidence-0 hold, cooldown blocks retry") {
    val t0 = 1700000000L * 1000000L
    val st0 = StatefulOps.SignalState("candidate", t0, 0L)
    val (st1, out1) = StatefulOps.transition(st0,
      VerdictInput("k", "insufficient", 0.3, t0 + 200L * 1000000L))
    assert(out1.exists(t => t.toState == "candidate" && t.confidence == 0.0))
    // within cooldown: upgrade blocked
    val (st2, out2) = StatefulOps.transition(st1,
      VerdictInput("k", "upgrade", 0.9, t0 + 210L * 1000000L))
    assert(out2.isEmpty && st2.state == "candidate")
    // after cooldown: upgrade lands
    val (st3, out3) = StatefulOps.transition(st2,
      VerdictInput("k", "upgrade", 0.9, t0 + 260L * 1000000L))
    assert(st3.state == "verified" && out3.nonEmpty)
  }

  test("card dedup emits only on version-signature change") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[CardVersion]
    val q = StatefulOps.cardDedupStream(in.toDS())
      .writeStream.format("memory").queryName("cards_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L * 1000000L
      in.addData(
        CardVersion("k1", "candidate", "green", degrade = false, t0),
        CardVersion("k1", "candidate", "green", degrade = false, t0 + 1),
        CardVersion("k1", "verified", "green", degrade = false, t0 + 2))
      drain(q)
      in.addData(CardVersion("k1", "verified", "green", degrade = false, t0 + 3))
      drain(q)
      assert(s.sql("SELECT * FROM cards_out").count() == 2)
    } finally q.stop()
  }

  test("EMA stream matches closed form") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val q = StatefulOps.emaStream(in.toDS(), alpha = 0.3)
      .writeStream.format("memory").queryName("ema_out")
      .outputMode("append").start()
    try {
      in.addData(("k", 1L, 10.0), ("k", 2L, 20.0))
      drain(q)
      in.addData(("k", 3L, 30.0))
      drain(q)
      val got = s.sql("SELECT * FROM ema_out ORDER BY _2")
        .as[(String, Long, Double)].collect().map(_._3)
      val e1 = 10.0
      val e2 = 0.3 * 20 + 0.7 * e1
      val e3 = 0.3 * 30 + 0.7 * e2
      assert(got.toSeq == Seq(e1, e2, e3))
    } finally q.stop()
  }

  test("card dedup state expires after the 1h TTL and the key re-enters") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[CardVersion]
    val q = StatefulOps.cardDedupStream(in.toDS())
      .writeStream.format("memory").queryName("cards_ttl_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L * 1000000L
      val hour = 3600L * 1000000L
      // batch 1: first sighting emits, duplicate suppressed
      in.addData(
        CardVersion("k1", "candidate", "green", degrade = false, t0),
        CardVersion("k1", "candidate", "green", degrade = false, t0 + 1))
      drain(q)
      assert(s.sql("SELECT * FROM cards_ttl_out").count() == 1)
      // batch 2: another key 2h later advances the watermark past k1's
      // 1h timeout -> k1's state is dropped on the following trigger
      in.addData(CardVersion("k2", "candidate", "green", degrade = false,
        t0 + 2 * hour))
      drain(q)
      // batch 3: the SAME signature for k1 now re-emits (state expired,
      // reference Redis-key-expired behavior); without the TTL it
      // would be suppressed forever
      in.addData(CardVersion("k1", "candidate", "green", degrade = false,
        t0 + 2 * hour + 1))
      drain(q)
      val k1 = s.sql("SELECT * FROM cards_ttl_out WHERE eventKey = 'k1'").count()
      assert(k1 == 2, s"expired key must re-emit its signature, got $k1")
    } finally q.stop()
  }

  test("event upsert state expires after TTL and re-enters at version 1") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(String, String, Evidence, Double)]
    // short lateness so the watermark tracks event time closely
    val q = StatefulOps.eventUpsertStream(in.toDS(), lateness = "0 seconds")
      .writeStream.format("memory").queryName("upsert_ttl_out")
      .outputMode("update").start()
    try {
      val t0 = 1700000000L * 1000000L
      val day = 86400L * 1000000L
      def ev(id: String, ts: Long) =
        Evidence("x", ts, Map("tweet_id" -> id), "s", 1.0)
      in.addData(("k1", "social", ev("a", t0), 0.1))
      drain(q)
      // advance the watermark 21 days past k1's horizon via another key
      in.addData(("k2", "social", ev("b", t0 + 35 * day), 0.2))
      drain(q)
      // k1 re-arrives after expiry: state must have been dropped, so
      // this is a FRESH row (version 1, count 1), not version 2
      in.addData(("k1", "social", ev("c", t0 + 36 * day), 0.3))
      drain(q)
      val rows = s.sql(
        "SELECT version, evidenceCount FROM upsert_ttl_out WHERE eventKey='k1' ORDER BY lastUs DESC")
        .collect()
      assert(rows.length == 2)
      assert(rows.head.getInt(0) == 1 && rows.head.getInt(1) == 1,
        s"expired key must re-enter fresh: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("signal FSM state expires after TTL and re-enters as candidate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[VerdictInput]
    val q = StatefulOps.signalStream(in.toDS())
      .writeStream.format("memory").queryName("sig_ttl_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L * 1000000L
      val day = 86400L * 1000000L
      // verify k1 (delay gate satisfied on the second verdict)
      in.addData(VerdictInput("k1", "upgrade", 0.9, t0))
      drain(q)
      in.addData(VerdictInput("k1", "upgrade", 0.9, t0 + 200L * 1000000L))
      drain(q)
      assert(s.sql("SELECT * FROM sig_ttl_out").count() == 1, "verified")
      // 15 days later another key advances the watermark past k1's TTL
      in.addData(VerdictInput("k2", "hold", 0.5, t0 + 15 * day))
      drain(q)
      // k1's terminal state expired: it re-enters as a candidate whose
      // first verdict is delay-gated (no emission), then verifies again
      in.addData(VerdictInput("k1", "upgrade", 0.8, t0 + 16 * day))
      drain(q)
      assert(s.sql("SELECT * FROM sig_ttl_out").count() == 1, "delay gate again")
      in.addData(VerdictInput("k1", "upgrade", 0.8, t0 + 16 * day + 200L * 1000000L))
      drain(q)
      assert(s.sql("SELECT * FROM sig_ttl_out WHERE eventKey='k1'").count() == 2,
        "expired terminal key re-verifies")
    } finally q.stop()
  }

  test("EMA state expires after TTL and the series re-seeds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val q = StatefulOps.emaStream(in.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ema_ttl_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L * 1000000L
      val day = 86400L * 1000000L
      in.addData(("k", t0, 10.0), ("k", t0 + 1, 20.0))
      drain(q)
      // another key 2 days later pushes the watermark past k's 24h TTL
      in.addData(("other", t0 + 2 * day, 1.0))
      drain(q)
      // k re-seeds: the new sample must be emitted AS-IS (ema == x),
      // not folded into the expired 15.0 state
      in.addData(("k", t0 + 2 * day + 1, 40.0))
      drain(q)
      val got = s.sql("SELECT _3 FROM ema_ttl_out WHERE _1 = 'k' ORDER BY _2")
        .collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(10.0, 15.0, 40.0), s"re-seed after expiry: $got")
    } finally q.stop()
  }

  test("outbox retry: backoff, dlq at 20 attempts, recovery") {
    val t0 = 1000000L
    var e = OutboxEntry(1L, "k", "{}", "pending", 0, 0L, "", t0, t0)
    // failure path: attempts increment, backoff caps at 600s
    e = OutboxRetry.step(e, success = false, t0, "boom")
    assert(e.status == "retry" && e.attempt == 1)
    assert(e.nextTryUs == t0 + 2 * 1000000L)
    // not due yet -> step is a no-op
    val unchanged = OutboxRetry.step(e, success = false, t0 + 1, "x")
    assert(unchanged == e)
    // drive to DLQ
    var now = e.nextTryUs
    while (e.status == "retry") {
      e = OutboxRetry.step(e, success = false, now, "boom")
      now = math.max(e.nextTryUs, now + 1)
    }
    assert(e.status == "dlq" && e.attempt == OutboxRetry.MaxAttempts)
    assert(OutboxRetry.backoffSec(15) == 600L, "backoff cap")
    // recovery is age-gated
    val young = OutboxRetry.recover(e, e.updatedUs + 1, minAgeUs = 3600L * 1000000L)
    assert(young.status == "dlq")
    val old = OutboxRetry.recover(e, e.updatedUs + 7200L * 1000000L,
      minAgeUs = 3600L * 1000000L)
    assert(old.status == "retry" && old.attempt == 0)
    // success path
    val done = OutboxRetry.step(old, success = true, old.nextTryUs)
    assert(done.status == "done")
  }

  test("sink e2e: foreachBatch MERGE + outbox over a restarted checkpoint") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_sink_").toString
    val src = s"$root/src"
    val eventsPath = s"$root/events"
    val outboxPath = s"$root/outbox"
    val checkpoint = s"$root/chk"
    new java.io.File(src).mkdirs()

    val t0 = 1700000000L * 1000000L
    def writeBatch(name: String, posts: Seq[RawPost]): Unit =
      posts.toDS().coalesce(1).write.parquet(s"$src/$name")

    // delivery fails PEPE's first attempt (attempt==0), succeeds after
    val deliver: OutboxEntry => Boolean =
      e => !(e.eventKey.nonEmpty && e.attempt == 0 && e.payloadJson.contains("\"version\":1") && e.eventKey.hashCode % 2 == 0)

    // ---- run 1 ----
    writeBatch("b1", Seq(post("p1", t0), post("p2", t0 + 1000000L),
      post("p3", t0 + 2000000L, symbol = "DOGE")))
    val schema = implicitly[org.apache.spark.sql.Encoder[RawPost]].schema
    def startQuery() = EventSink.start(
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*").as[RawPost],
      eventsPath, outboxPath, checkpoint, deliver = deliver)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    val events1 = EventSink.eventsTable(s, eventsPath).read().get
      .as[EventRow].collect().map(e => e.eventKey -> e).toMap
    assert(events1.size == 2, "PEPE and DOGE keys")
    val pepeKey1 = events1.values.find(_.evidenceCount == 2).get
    assert(pepeKey1.version >= 1)

    // ---- append more data, RESTART from the same checkpoint ----
    writeBatch("b2", Seq(post("p4", t0 + 3000000L), // PEPE again
      post("p5", t0 + 4000000L, symbol = "WIF")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val events2 = EventSink.eventsTable(s, eventsPath).read().get
      .as[EventRow].collect().map(e => e.eventKey -> e).toMap
    assert(events2.size == 3, "WIF appears; nothing duplicated on restart")
    val pepe2 = events2(pepeKey1.eventKey)
    // state survived the restart: version bumped, evidence merged
    assert(pepe2.version > pepeKey1.version)
    assert(pepe2.evidenceCount == 3)
    assert(events2(pepeKey1.eventKey).startUs == pepeKey1.startUs)

    // outbox: entries exist per (key, version); the failed first
    // attempt went to retry and later versions enqueue new entries
    val outbox = new SnapshotTable(s, outboxPath).read().get
      .as[OutboxEntry].collect()
    assert(outbox.nonEmpty)
    assert(outbox.map(_.id).distinct.length == outbox.length, "idempotent ids")
    assert(outbox.forall(e => Set("pending", "retry", "done", "dlq")(e.status)))
    assert(outbox.exists(_.status == "done"))
    assert(outbox.filter(_.status == "retry").forall(_.attempt > 0))

    // replaying an already-committed batch id is a no-op
    val table = EventSink.eventsTable(s, eventsPath)
    val before = table.latest.get
    table.merge(events2.values.toSeq.toDS().toDF(), before._2)
    assert(table.latest.get == before)
  }

  test("events-table bucket growth: maintenance doubles the buckets, contents identical") {
    import graft.streaming.EventSink.EventsMaintain
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_sink_maint_").toString
    val t0 = 1700000000L * 1000000L
    def evRow(key: String, ts: Long) =
      EventRow(key, "social", ts, ts, 1,
        Seq(graft.aggregates.Evidence("x", ts, Map("tweet_id" -> key), "", 1.0)),
        0.0, 1)
    val maintain = EventsMaintain(every = 1, maxRowsPerBucket = 1L,
      vacuumKeepVersions = 1)
    for (b <- 0 until 3) {
      val batch = (0 until 40).map(i => evRow(s"k$b-$i", t0 + b * 1000L + i))
      EventSink.processBatch(batch.toDS(), b.toLong, s"$root/events",
        s"$root/outbox", _ => true, 0L, maintain)
    }
    val t = EventSink.eventsTable(s, s"$root/events")
    // 40/80/120 rows against a 1-row/bucket target: the 16-bucket
    // bootstrap must have doubled at least twice
    assert(t.currentBuckets >= 64, s"buckets ${t.currentBuckets}")
    val keys = t.read().get.select("eventKey").collect()
      .map(_.getString(0)).toSet
    assert(keys == (for (b <- 0 until 3; i <- 0 until 40)
      yield s"k$b-$i").toSet)
    // merges keep working under the grown hashing
    EventSink.processBatch(Seq(evRow("fresh", t0 + 999999L)).toDS(), 3L,
      s"$root/events", s"$root/outbox", _ => true, 0L, maintain)
    assert(t.read().get.count() == 121L)
    // the wired vacuum keeps the store at a one-version horizon — the
    // sink no longer accumulates superseded bucket dirs
    assert(t.versions == Seq(t.latest.get._1),
      s"sink vacuum left versions ${t.versions}")
    // ...and the outbox, which snapshots EVERY batch, rides the same
    // horizon instead of leaking one directory per batch
    val ob = new SnapshotTable(s, s"$root/outbox")
    assert(ob.versions == Seq(ob.latest.get._1),
      s"outbox snapshots leaked: ${ob.versions}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("sink recovers a crash between the events and outbox commits") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_sink_crash_").toString
    val eventsPath = s"$root/events"
    val outboxPath = s"$root/outbox"
    val t0 = 1700000000L * 1000000L

    def evRow(key: String, version: Int, ts: Long) =
      EventRow(key, "social", ts, ts, 1,
        Seq(graft.aggregates.Evidence("x", ts, Map("tweet_id" -> key), "", 1.0)),
        0.0, version)

    // batch 0: both tables commit
    val b0 = Seq(evRow("k1", 1, t0)).toDS()
    EventSink.processBatch(b0, 0L, eventsPath, outboxPath, _ => true, 0L)
    assert(EventSink.eventsTable(s, eventsPath).lastBatchId == 0L)
    assert(new SnapshotTable(s, outboxPath).lastBatchId == 0L)

    // simulate a crash AFTER the events commit of batch 1 but BEFORE
    // the outbox commit: commit batch 1 to the events table only
    val b1 = Seq(evRow("k2", 1, t0 + 1000000L)).toDS()
    val eventsTable = EventSink.eventsTable(s, eventsPath)
    val b1u = EventSink.mergeEvents(None, b1.toDF())
    eventsTable.mergeResolve(b1u, 1L)(EventSink.mergeEvents)
    assert(EventSink.eventsTable(s, eventsPath).lastBatchId == 1L)
    assert(new SnapshotTable(s, outboxPath).lastBatchId == 0L)
    // write shape: the one-key batch rewrote exactly ONE of the 16
    // event buckets (the ingest-loop files-touched contract, here for
    // the sink's events MERGE)
    val touched = Option(new java.io.File(s"$eventsPath/c_1").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("__bucket="))
    assert(touched.length == 1, s"expected 1 rewritten bucket, got ${touched.length}")

    // the replayed batch must skip the events MERGE but still land the
    // outbox entries for k2
    EventSink.processBatch(b1, 1L, eventsPath, outboxPath, _ => true, 0L)
    assert(EventSink.eventsTable(s, eventsPath).lastBatchId == 1L)
    assert(new SnapshotTable(s, outboxPath).lastBatchId == 1L)
    val outbox = new SnapshotTable(s, outboxPath).read().get
      .as[OutboxEntry].collect()
    assert(outbox.exists(_.eventKey == "k1"))
    assert(outbox.exists(_.eventKey == "k2"), "outbox must not lose the batch")
    // events were not double-merged: k2 still at version 1
    val events = EventSink.eventsTable(s, eventsPath).read().get
      .as[EventRow].collect().map(e => e.eventKey -> e).toMap
    assert(events("k2").version == 1 && events.size == 2)
  }

  test("sink survives a kill at every file-op boundary with a due maintenance tick: per-table pre-or-post, outbox only after events, replay converges") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L * 1000000L
    def evRow(key: String, version: Int, ts: Long) =
      EventRow(key, "social", ts, ts, 1,
        Seq(graft.aggregates.Evidence("x", ts, Map("tweet_id" -> key), "", 1.0)),
        0.0, version)
    // batch 1 updates k1 and adds k2; its tick (every 2 at batch id 1)
    // rebuckets nothing and vacuums both tables to one version
    def call(root: String, rows: Seq[EventRow], id: Long): Unit =
      EventSink.processBatch(rows.toDS(), id, s"$root/events",
        s"$root/outbox", _ => true, 0L, EventSink.EventsMaintain(2, 0L, 1))
    val swept = KillSweep.perTable("sink", Seq(
        "events" -> ((root: String) =>
          EventSink.eventsTable(s, s"$root/events").read()
            .map(_.as[EventRow].collect().toSet).getOrElse(Set.empty)),
        "outbox" -> ((root: String) =>
          new SnapshotTable(s, s"$root/outbox").read()
            .map(_.as[OutboxEntry].collect().toSet).getOrElse(Set.empty))),
      gate = Some("outbox"))(
      root => call(root, Seq(evRow("k1", 1, t0)), 0L))(
      root => call(root, Seq(evRow("k1", 2, t0 + 1000000L),
        evRow("k2", 1, t0 + 2000000L)), 1L))
    assert(swept.pre("events") != swept.post("events"),
      s"fixture degenerate: pre=${swept.pre} post=${swept.post}")
    info(s"${swept.points} kill points")
    assert(swept.points >= 6,
      s"sink: expected ≥6 kill points, saw ${swept.points}")
  }

  test("sustained stream bench: rate-pinned feed drains with sane stats") {
    // tiny feed (sf0.001, 4 handles, 50-row pages, no replication) —
    // exercises the whole StreamBench path: distributed feed build,
    // cursor-source admission at 1 page/handle/batch, full pipeline to
    // EventSink, listener-collected per-batch stats
    val feed = StreamBench.buildFeed(spark, TestSpark.Sf,
      handles = 4, rowsPerPage = 50, replicas = 1)
    val expectRows = Tables.load(spark, TestSpark.Sf, "events").count()
    val fed = new java.io.File(feed).listFiles().filter(_.isDirectory)
      .map(d => d.listFiles().count(_.getName.startsWith("page_"))).sum
    assert(fed > 0, "feed must contain page files")
    val s = StreamBench.runSustained(spark, feed, pagesPerBatch = 1,
      warmup = 0)
    assert(s.rows == expectRows,
      s"all feed rows must flow through: got ${s.rows}, want $expectRows")
    // 4 handles × 1 page × 50 rows = ≤200 rows per batch → several batches
    assert(s.batches >= 2, s"admission cap must split the feed: ${s.batches}")
    assert(s.eventsPerMin > 0 && s.batchP95 >= s.batchP50)
  }

  test("rules hot-reload: YAML swap lands on the next micro-batch; bad swap keeps last-good") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.functions.col

    val yml = Files.createTempDirectory("graft_hotrules_").resolve("rules.yml")
    def rulesYaml(version: String, thinScore: Double): String =
      s"""version: "$version"
         |groups:
         |  - name: "dex"
         |    priority: 8
         |    rules:
         |      - condition: "dex_liquidity < 100"
         |        score: $thinScore
         |        reason: "thin liquidity"
         |""".stripMargin
    def swap(text: String, mtimeMillis: Long): Unit = {
      Files.write(yml, text.getBytes("UTF-8"))
      // writes can land inside one mtime tick; pin it monotonic
      Files.setLastModifiedTime(yml,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
    }
    swap(rulesYaml("v1", -5), 1000L)

    var clock = 0L // injected monotonic nanos: TTL throttle under test control
    val hot = new graft.rules.HotRules(yml, ttlMillis = 60000L,
      env = Map.empty, nowNanos = () => clock)
    assert(hot.version() == "v1")

    val in = MemoryStream[(Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, String)]
    val q = in.toDF().toDF("id", "dex_liquidity").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-batch doc resolution: rule conditions compile to literal
        // columns, so THIS batch's plan carries THIS doc — the swap is
        // atomic at the batch boundary
        val doc = hot.current()
        val v = hot.version()
        graft.rules.RuleEngine.evaluateDoc(batch, doc)
          .select(col("id"), col("rules_score")).collect()
          .foreach(r => got += ((r.getLong(0), r.getDouble(1), v)))
        ()
      }.start()
    try {
      in.addData((1L, 10.0)); drain(q) // batch under v1
      swap(rulesYaml("v2", -9), 2000L)
      in.addData((2L, 10.0)); drain(q) // TTL not elapsed → still v1
      clock += 61000L * 1000000L
      in.addData((3L, 10.0)); drain(q) // TTL elapsed → v2 applies
      swap("version: \"v3\"\ngroups: [", 3000L) // broken YAML mid-stream
      clock += 61000L * 1000000L
      in.addData((4L, 10.0)); drain(q) // last-good v2 keeps serving
    } finally q.stop()

    assert(got.toList == List(
      (1L, -5.0, "v1"),
      (2L, -5.0, "v1"), // throttled: stat not even attempted yet
      (3L, -9.0, "v2"),
      (4L, -9.0, "v2"))) // rejected swap left last-good serving
    assert(hot.rejected == 1L)
  }
}
