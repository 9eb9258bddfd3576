package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.dedup.{ClusterMaintain, Clusters, Dedup}
import graft.multimodal.Multimodal
import graft.text.ClassifierEval

/** The MEDIA face of the production ingest loop — [[IngestStream]]'s
  * pipeline with the text kernels swapped for the fused image pass:
  * a stream of (media_id, format, bytes) batches drives
  * decode-once → quality gate → perceptual-fp probe against the
  * STORED banded index → cluster merge → canonical keep-best, over
  * the SAME three-table state shape (labels [[BucketedTable]] MERGE,
  * fps/snap [[AppendTable]]s — reusing [[IngestStream]]'s builders at
  * a media statePath, so inspection/compaction/crash machinery apply
  * unchanged).
  *
  * Per micro-batch:
  *   1. within-batch id dedup (survivor = smallest content digest —
  *      deterministic under replay and partitioning) and the L49
  *      snapshot diff: only ids absent from the stored snapshot
  *      proceed;
  *   2. ONE decode ([[Multimodal.imageCurationPass]]) yields the
  *      quality verdict, the perceptual aHash, the pixel rank, and
  *      the mean-luma drift feature per asset — rasters never leave
  *      their partition, and nothing downstream re-touches bytes;
  *   3. optional DRIFT GATE over the decoded mean-luma histogram
  *      (the media analogue of the text loop's PSI gate): on alarm
  *      the admitted-new assets land in quarantine and the batch
  *      touches no other state;
  *   4. quality gate: rejected assets enter NO state table (the text
  *      loop's stateless-rejection contract — a redelivered reject
  *      re-decodes and re-rejects map-side, deterministic);
  *   5. edges = batch↔stored-index probe
  *      ([[Dedup.hash64CrossNearEdgesOf]], 4×16-bit pigeonhole —
  *      rep-level edges, connectivity-equivalent; the store is never
  *      window-sorted or re-materialized per batch, and its
  *      rep-collapse partial-aggregates map-side) ∪ within-batch
  *      pairs ([[Dedup.hash64NearDupPairs]]);
  *   6. [[ClusterMaintain.mergeBatchDelta]] folds the batch into the
  *      stored labeling (∝ batch), and the three commits are
  *      per-table batch-id idempotent (the EventSink crash contract;
  *      every durable mutation inside the table primitives is
  *      Failpoints-stepped, so StateCrashSpec-style kill sweeps apply
  *      to this loop for free).
  *
  * End-state contract (MediaIngestSpec): streaming any batch
  * partitioning of an asset corpus produces the IDENTICAL label table
  * to one from-scratch [[Multimodal.imageCurationPass]]-based run —
  * quality-first, so the degenerate flat-image fp class never reaches
  * the banded probe. `q_m_incremental_dedup` pins the identity
  * against the from-scratch recursive-CC DuckDB oracle.
  *
  * Forgotten assets: callers compose [[IngestStream.withoutForgotten]]
  * ahead of the loop against the media statePath's ledger — media_id
  * is the doc_id of this state family.
  */
object MediaIngest {

  /** The media loop's fp index under `statePath`: (doc_id, perceptual
    * fp, pixel rank). Its rows differ from the text loop's
    * ([[IngestStream.fpsTable]]), so it is its own handle, with its own
    * row type; the label store and the snapshot are shared.
    */
  def fpsTable(spark: SparkSession, statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/fps", rowSchema = Some(StructType(
      Seq("doc_id", "fp", "pixels").map(StructField(_, LongType)))))

  /** Media drift-gate config: reference histogram over the decoded
    * per-asset floored mean luma (0..255) in `nBins` equal bins —
    * the image-source analogue of [[DriftMonitor.GateConfig]]'s score
    * deciles, with the same two alarm lines (PSI and unseen-bin mass,
    * both in 1e-6 units) and the same skip-empty PSI convention.
    */
  final case class GateConfig(ref: Seq[(Long, Long)], nBins: Int = 16,
      alertAtPsiU: Long = 200000L, alertAtUnseenU: Long = 100000L)

  /** Exact integer luma bin: meanLuma·nBins/256 (floored; the
    * products stay ≤ 255·nBins, exact in double).
    */
  private def lumaBin(c: org.apache.spark.sql.Column, nBins: Int) =
    floor(c * nBins / 256).cast("long")

  /** Reference luma histogram over an asset corpus (≤ nBins rows —
    * the bounded-artifact collect convention).
    */
  def referenceLumaBins(media: DataFrame, nBins: Int = 16): Seq[(Long, Long)] =
    Multimodal.imageCurationPass(media).toDF()
      .select(lumaBin(col("meanLuma"), nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** One batch's drift stats from its DECODED curation frame
    * (`meanLuma` column): (assets, assets in zero-reference bins,
    * psi·1e6, unseen-mass·1e6). Deterministic → a crash replay
    * recomputes the identical routing decision.
    */
  def batchStats(cur: DataFrame, ref: Seq[(Long, Long)], nBins: Int):
      (Long, Long, Long, Long) = {
    val counts = cur.select(lumaBin(col("meanLuma"), nBins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val nDocs = counts.map(_._2).sum
    val psiU = ClassifierEval.psiFixedPoint(ref, counts)
    val refBins = ref.collect { case (b, n) if n > 0 => b }.toSet
    val nUnseen = counts.collect {
      case (b, n) if !refBins.contains(b) => n }.sum
    val unseenU =
      if (nDocs == 0) 0L
      else math.floor(nUnseen.toDouble / nDocs.toDouble * 1000000.0 + 0.5)
        .toLong
    (nDocs, nUnseen, psiU, unseenU)
  }

  def start(media: DataFrame, statePath: String, checkpoint: String,
      maxDist: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      maintain: IngestStream.MaintainConfig = IngestStream.MaintainConfig(),
      gate: Option[GateConfig] = None): StreamingQuery =
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, maxDist, maintain, gate)
      }
      .start()

  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
      maxDist: Int): Unit =
    processBatch(batch, batchId, statePath, maxDist,
      IngestStream.MaintainConfig(), None)

  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
      maxDist: Int, maintain: IngestStream.MaintainConfig,
      gate: Option[GateConfig]): Unit = {
    val spark = batch.sparkSession
    val labelsT = IngestStream.labelsTable(spark, statePath)
    val fpsT = fpsTable(spark, statePath)
    val snapT = IngestStream.snapTable(spark, statePath)
    if (labelsT.lastBatchId >= batchId && fpsT.lastBatchId >= batchId &&
        snapT.lastBatchId >= batchId) {
      if (maintain.due(batchId)) runMaintenance(spark, statePath, maintain)
      return
    }

    // within-batch id dedup (survivor = smallest content digest) +
    // the L49 snapshot diff — `added` still carries bytes: the decode
    // happens exactly once, below
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy(md5(col("bytes")).asc)
    val added = (snapT.read() match {
      case Some(snap) => batch
        .select(col("media_id"), col("format"), col("bytes"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .join(snap.select(col("doc_id").as("media_id")),
          Seq("media_id"), "left_anti")
      case None => batch
        .select(col("media_id"), col("format"), col("bytes"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    })

    // ONE decode pass: quality verdict + perceptual fp + pixel rank +
    // mean-luma drift feature (localCheckpoint — every consumer below
    // reads the decoded frame, never the bytes)
    val cur = Multimodal.imageCurationPass(added).toDF()
      .select(col("mediaId").as("doc_id"), col("pixels"), col("fp"),
        col("qualityOk"), col("meanLuma"))
      .localCheckpoint()

    // drift gate over the decoded luma histogram (monitor → ACTION):
    // alarm routes the batch's new assets to quarantine; nothing else
    // is touched, and quarantined ids never enter the snapshot, so a
    // post-requalification redelivery flows through as ordinary new
    val alarmed = gate.exists { g =>
      val (nDocs, nUnseen, psiU, unseenU) =
        batchStats(cur, g.ref, g.nBins)
      val alarm = psiU >= g.alertAtPsiU || unseenU >= g.alertAtUnseenU
      val mT = IngestStream.gateMonitorTable(spark, statePath)
      if (mT.lastBatchId < batchId) {
        import spark.implicits._
        mT.append(Seq((batchId, nDocs, nUnseen, psiU, unseenU, alarm))
          .toDF("batch_id", "n_docs", "n_unseen", "psi_u", "unseen_u",
            "alert"), batchId)
      }
      if (alarm) {
        val qT = IngestStream.quarantineTable(spark, statePath)
        if (qT.lastBatchId < batchId)
          qT.append(added.select(col("media_id").as("doc_id"),
            col("format"), col("bytes"), lit(batchId).as("batch_id")),
            batchId)
      }
      alarm
    }
    if (alarmed) {
      if (maintain.due(batchId)) runMaintenance(spark, statePath, maintain)
      return
    }

    // quality gate — stateless rejection, BEFORE the probe: the flat
    // class hashes to one degenerate fp word, and dropping it here is
    // what keeps the banded probe off the mega-cluster key. No
    // checkpoint of its own: `cur` is already checkpointed, so each
    // consumer re-applies only the in-memory filter (a dedicated
    // materialize job bought nothing — round 16).
    val admitted = cur.filter(col("qualityOk"))

    val priorLabels = labelsT.read()
    val priorFps = fpsT.read()
    val emptyEdges = spark.range(0)
      .select(col("id").as("a"), col("id").as("b"))
    // rep-level cross edges (connectivity-equivalent: within-batch
    // hamming-0 pairs connect each batch clique, stored identical-fp
    // members already share a cluster) — the store is never
    // window-sorted or re-materialized per batch
    val edges = (priorFps match {
      case Some(idx) => Dedup.hash64CrossNearEdgesOf(
          admitted.select("doc_id", "fp"),
          idx.select("doc_id", "fp"), maxDist)
      case None => emptyEdges
    }).union(Dedup.hash64ConnectivityEdgesOf(
      admitted.select("doc_id", "fp"), maxDist))

    val emptyLabels = spark.range(0).select(col("id").as("doc_id"),
      col("id").as("cluster_id"), col("id").as("cluster_size"))

    // per-table idempotent commits (any committed SUBSET replays),
    // labels ∥ fps overlapped (DriverOps.parallel; the delta
    // computation rides inside the labels op so its probe collects
    // overlap the fp append — concurrent appends only ADD directories,
    // so the delta's stored-table reads stay valid) and the SNAPSHOT
    // append strictly LAST: `added` is re-derived on replay by
    // anti-joining the snapshot, so a snapshot that committed before a
    // sibling would make a post-kill replay derive an EMPTY batch and
    // permanently commit empty labels/fps at this batch id (review
    // r16). All writes ∝ batch. The fp index carries the pixel rank so
    // canonical selection never re-decodes.
    DriverOps.parallel(
      () => if (labelsT.lastBatchId < batchId) {
        val (changed, _) = ClusterMaintain.mergeBatchDelta(
          priorLabels.getOrElse(emptyLabels),
          admitted.select(col("doc_id").as("id")), edges)
        labelsT.merge(changed.localCheckpoint(), batchId)
      },
      () => if (fpsT.lastBatchId < batchId)
        fpsT.append(admitted.select("doc_id", "fp", "pixels"), batchId))
    // snapshot LAST — the replay gate (see above)
    if (snapT.lastBatchId < batchId)
      snapT.append(admitted.select(col("doc_id"),
        col("fp").cast("string").as("fp")), batchId)

    if (maintain.due(batchId)) runMaintenance(spark, statePath, maintain)
  }

  /** Canonical keep-best over the stored state: labels ⋈ fp index
    * (which carries each asset's pixel rank), winner = max pixels,
    * ties → smaller id — L85's selection as a pure read of the
    * maintained tables, one partial-aggregated max(struct) per
    * cluster, no decode.
    */
  def canonical(spark: SparkSession, statePath: String): DataFrame = {
    val labels = IngestStream.labelsTable(spark, statePath).read()
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        col("id").as("cluster_id"), col("id").as("cluster_size")))
    val fps = fpsTable(spark, statePath).read()
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        col("id").as("fp"), col("id").as("pixels")))
    Clusters.keepBestPerCluster(
      labels.join(fps.select("doc_id", "pixels"), Seq("doc_id")),
      "doc_id", "cluster_id", "pixels")
  }

  /** The same cadence tick as the text loop (compact the appends,
    * grow/vacuum the label store) — the media loop appends to the
    * same table set, so the same fan-in bounds apply.
    */
  private def runMaintenance(spark: SparkSession, statePath: String,
      maintain: IngestStream.MaintainConfig): Unit = {
    DriverOps.parallel(
      () => fpsTable(spark, statePath).compact(),
      () => IngestStream.snapTable(spark, statePath).compact(),
      () => IngestStream.gateMonitorTable(spark, statePath).compact(),
      () => IngestStream.quarantineTable(spark, statePath).compact())
    if (maintain.maxRowsPerBucket > 0)
      IngestStream.labelsTable(spark, statePath)
        .growIfOversized(maintain.maxRowsPerBucket)
    if (maintain.vacuumKeepVersions > 0)
      IngestStream.labelsTable(spark, statePath)
        .vacuum(maintain.vacuumKeepVersions)
  }
}
