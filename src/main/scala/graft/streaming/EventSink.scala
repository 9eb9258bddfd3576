package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.{EventRow, OutboxEntry, RawPost}
import graft.state.OutboxRetry

/** S7/S8/A10 — the real sink wiring: the streaming event upsert lands
  * in a versioned events table via an idempotent `foreachBatch` MERGE,
  * every upsert enqueues an outbox entry, and each batch runs one
  * delivery pass (OutboxRetry.step) plus DLQ recovery
  * (OutboxRetry.recover) against the outbox table — the reference's
  * worker/jobs/outbox_retry.py:17-244 / outbox_dlq_recover.py:31-96
  * loop expressed as per-batch set transformations.
  */
object EventSink {

  /** The events table is an id-bucketed [[BucketedTable]] since round
    * 11: a micro-batch's MERGE reads only the buckets its keys hash
    * into ([[BucketedTable.readKeys]]) and rewrites only those — both
    * sides ∝ batch, the same write-shape contract as the ingest
    * loop's label store (IngestStreamSpec's files-touched bound; the
    * events analogue is pinned in StreamingSpec). The OUTBOX stays a
    * full snapshot deliberately: its per-batch step is a pass over
    * every due row (the reference's retry-loop semantics), so its
    * state is ∝ undelivered backlog, not ∝ corpus — at scale the done
    * rows would be partition-pruned by status, which the snapshot
    * stand-in does not model. The handle carries the stored rows' type
    * (the update rows are [[EventRow]]s), so its reads skip the
    * parquet footer inference.
    */
  def eventsTable(spark: SparkSession, path: String): BucketedTable =
    new BucketedTable(spark, path, "eventKey", 16,
      rowSchema = Some(Encoders.product[EventRow].schema))

  /** Bucket-growth maintenance for the events store — the sink-side
    * analogue of [[IngestStream.MaintainConfig]]: every `every`
    * committed batches, if the table holds more than
    * maxRowsPerBucket·currentBuckets rows, [[BucketedTable.rebucket]]
    * doubles the bucket count, keeping the per-commit MERGE rewrite
    * ∝ batch as the event corpus grows (16 is only the bootstrap
    * count; the live count rides in the table's pointer). The trigger
    * probe is one count(), amortized over the cadence, never on the
    * per-batch path. `vacuumKeepVersions > 0` additionally
    * [[BucketedTable.vacuum]]s the store to its last k versions on
    * the same cadence — the GC of superseded bucket directories, with
    * k the sink's time-travel/change-feed retention horizon.
    */
  final case class EventsMaintain(every: Int = 0,
      maxRowsPerBucket: Long = 0L,
      vacuumKeepVersions: Int = 0) {
    // same loud rejection as IngestStream.MaintainConfig: a target
    // without a cadence would silently never fire
    require(maxRowsPerBucket == 0L || every > 0,
      "maxRowsPerBucket needs a cadence: set every > 0")
    require(vacuumKeepVersions == 0 || every > 0,
      "vacuumKeepVersions needs a cadence: set every > 0")
    def due(batchId: Long): Boolean =
      every > 0 && (maxRowsPerBucket > 0 || vacuumKeepVersions > 0) &&
        (batchId + 1) % every == 0
  }

  /** MERGE semantics for the events table (A10 versioned upsert):
    * keep the row with the HIGHEST version per key — a replayed or
    * out-of-order update can never clobber newer state (reference
    * guards its UPDATE with `version = :expected` CAS; highest-wins is
    * the idempotent batch equivalent).
    */
  def mergeEvents(current: Option[DataFrame], updates: DataFrame): DataFrame = {
    val all = current.map(_.unionByName(updates)).getOrElse(updates)
    val w = Window.partitionBy("eventKey")
      .orderBy(col("version").desc, col("lastUs").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The outbox's row type: what [[stepOutbox]] writes and the sink's
    * outbox handle reads in place of a footer inference.
    */
  private val OutboxSchema = Encoders.product[OutboxEntry].schema

  /** One outbox entry per upserted (key, version): deterministic id so
    * replays collide instead of duplicating (D6 idempotency keys).
    */
  def outboxEntriesFor(updates: DataFrame): DataFrame =
    updates.select(
      xxhash64(col("eventKey"), col("version")).as("id"),
      col("eventKey"),
      to_json(struct(col("eventKey"), col("version"),
        col("evidenceCount"))).as("payloadJson"),
      lit("pending").as("status"),
      lit(0).as("attempt"),
      col("lastUs").as("nextTryUs"),
      lit("").as("lastError"),
      col("lastUs").as("createdUs"),
      col("lastUs").as("updatedUs"))

  /** Apply one delivery attempt + DLQ recovery to the outbox table.
    * `deliver` decides an attempt's outcome (the network call in the
    * reference); runs as a typed map over the due rows.
    */
  def stepOutbox(spark: SparkSession, outbox: DataFrame, nowUs: Long,
      deliver: OutboxEntry => Boolean, dlqMinAgeUs: Long): DataFrame = {
    import spark.implicits._
    outbox.as[OutboxEntry].map { e =>
      val afterStep =
        if (OutboxRetry.isDue(e, nowUs)) OutboxRetry.step(e, deliver(e), nowUs)
        else e
      OutboxRetry.recover(afterStep, nowUs, dlqMinAgeUs)
    }.toDF()
  }

  /** One micro-batch of the sink, idempotent PER TABLE: a crash
    * between the events commit and the outbox commit leaves the two
    * tables at different batch ids, and the replayed batch must then
    * skip the already-committed events MERGE while still applying the
    * outbox step — a single shared guard would silently drop the
    * outbox's batch forever (exercised in StreamingSpec).
    */
  def processBatch(batch: Dataset[EventRow], batchId: Long,
      eventsPath: String, outboxPath: String,
      deliver: OutboxEntry => Boolean, dlqMinAgeUs: Long,
      maintain: EventsMaintain = EventsMaintain()): Unit = {
    val spark = batch.sparkSession
    val eventsT = eventsTable(spark, eventsPath)
    val outboxTable = new SnapshotTable(spark, outboxPath, Some(OutboxSchema))
    def runMaintenance(): Unit = if (maintain.due(batchId)) {
      if (maintain.maxRowsPerBucket > 0)
        eventsT.growIfOversized(maintain.maxRowsPerBucket)
      // GC last — a rebucket already collected everything this tick.
      // The outbox snapshots on the same horizon: it commits EVERY
      // batch, so unvacuumed it leaks one directory per batch.
      if (maintain.vacuumKeepVersions > 0) {
        eventsT.vacuum(maintain.vacuumKeepVersions)
        outboxTable.vacuum(maintain.vacuumKeepVersions)
      }
    }
    val replayEvents = eventsT.lastBatchId >= batchId
    val replayOutbox = outboxTable.lastBatchId >= batchId
    if (replayEvents && replayOutbox) {
      runMaintenance() // idempotent; honors the cadence on replay too
      return
    }

    // the ONE action on the foreachBatch input: every action re-runs
    // the stateful plan behind it (dedup + upsert state stores), so
    // the batch is materialized once, and that same job observes the
    // row count (the empty check) and max(lastUs) (the outbox clock),
    // read back from the executed plan, not from a listener.
    // One update row per key: the stream emits one EventRow per key
    // per trigger, but a replayed+reprocessed batch could carry
    // several — keep the newest
    val observing = mergeEvents(None, batch.toDF())
      .observe("sink_batch", count(lit(1)).as("rows"), max("lastUs").as("nowUs"))
    val updates = observing.localCheckpoint()
    val observed = observing.queryExecution.observedMetrics("sink_batch")
    if (observed.getAs[Long]("rows") == 0L) {
      runMaintenance()
      return
    }
    if (!replayEvents)
      // ∝-batch MERGE: highest-version-wins runs over ONLY the prior
      // rows of the buckets the batch's keys hash into, and only
      // those buckets are rewritten — mergeEvents IS the resolve
      // function, so the commit costs one pruned read + one write;
      // the handle carries the stored rows' type, so the prior read
      // needs no footer inference
      eventsT.mergeResolve(updates, batchId)(mergeEvents)

    // the outbox step stays strictly AFTER the events commit — NOT a
    // DriverOps.parallel candidate (review r16): stepOutbox invokes
    // `deliver` (the side-effecting network call), and the
    // transactional-outbox guarantee is notify-only-after-durable; a
    // concurrent delivery racing a failed events MERGE would notify
    // consumers of versions that never became durable. Failure in the
    // sequential form is safe-direction only (state committed,
    // notification delayed to the replay).
    if (!replayOutbox) {
      // outbox: enqueue new entries (id collision = already enqueued →
      // existing row wins), then run one delivery + recovery pass over
      // everything due
      val enqueued = outboxEntriesFor(updates)
      val all = outboxTable.read() match {
        case Some(cur) =>
          val w = Window.partitionBy("id").orderBy(col("__new").asc)
          cur.withColumn("__new", lit(0))
            .unionByName(enqueued.withColumn("__new", lit(1)))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__new", "__rn")
        case None => enqueued
      }
      outboxTable.commit(stepOutbox(spark, all,
        observed.getAs[Long]("nowUs"), deliver, dlqMinAgeUs), batchId)
    }
    runMaintenance()
  }

  /** Start the full pipeline: posts stream → dedup → keyed upsert →
    * foreachBatch MERGE into `eventsPath` + outbox enqueue/step into
    * `outboxPath`, checkpointed at `checkpoint`.
    */
  def start(posts: Dataset[RawPost], eventsPath: String, outboxPath: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      deliver: OutboxEntry => Boolean = _ => true,
      dlqMinAgeUs: Long = 3600L * 1000000L,
      // measurement hook (StreamBench per-event latency): invoked with
      // (batchId, wall-clock µs) AFTER both table commits are durable
      onBatchCommit: (Long, Long) => Unit = (_, _) => (),
      maintain: EventsMaintain = EventsMaintain()): StreamingQuery =
    PostPipeline.eventStream(posts).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[EventRow], batchId: Long) =>
        processBatch(batch, batchId, eventsPath, outboxPath, deliver,
          dlqMinAgeUs, maintain)
        onBatchCommit(batchId, System.currentTimeMillis() * 1000L)
      }
      .start()
}
