package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.{ClusterMaintain, Clusters}
import graft.multimodal.Multimodal

/** The MEDIA face of the production ingest loop: a stream of
  * (media_id, format, bytes) batches runs [[IngestStream]]'s
  * micro-batch ([[IngestStream.ingest]]) with the image values of
  * [[IngestStream.Loop]] — decode-once → quality gate → perceptual-fp
  * probe against the STORED banded index → cluster merge → canonical
  * keep-best, over the SAME three-table state shape (labels
  * [[BucketedTable]] MERGE, fps/snap [[AppendTable]]s at a media
  * statePath, so inspection/compaction/crash machinery apply
  * unchanged). media_id is the doc_id of this state family.
  *
  * What the media loop brings to the shared body:
  *   1. the id dedup's survivor is the smallest digest of the bytes;
  *   2. admission is ONE decode ([[Multimodal.imageCurationPass]]):
  *      the quality verdict, the perceptual aHash, the pixel rank and
  *      the mean-luma drift feature per asset — rasters never leave
  *      their partition, and nothing downstream re-touches bytes;
  *   3. the optional DRIFT GATE scores the decoded mean-luma histogram
  *      (the analogue of the text loop's score PSI gate): on alarm the
  *      new assets land in quarantine and the batch touches no other
  *      state;
  *   4. quality rejects enter NO state table (a redelivered reject
  *      re-decodes and re-rejects map-side, deterministic);
  *   5. the probe is the text loop's, at the 64-bit fp's width (4×16-bit
  *      bands, pigeonhole for d ≤ 3): while the batch and its edges to
  *      the stored index fit [[graft.dedup.ClusterMaintain.LocalMergeMax]],
  *      one bounded collect of the admitted (doc_id, fp) facts and one
  *      of the store edges, then the within-batch components and the
  *      contracted merge on the driver; past it, the distributed
  *      banded builders and [[graft.dedup.ClusterMaintain]]'s
  *      distributed merge (IngestBatchSpec runs both paths);
  *   6. the fp index carries the pixel rank ([[fpsTable]]), so
  *      canonical selection never re-decodes; the commits are per-table
  *      batch-id idempotent with the snapshot last, and the maintenance
  *      tick compacts through the media fp handle.
  *
  * End-state contract (MediaIngestSpec): streaming any batch
  * partitioning of an asset corpus produces the IDENTICAL label table
  * to one from-scratch [[Multimodal.imageCurationPass]]-based run —
  * quality-first, so the degenerate flat-image fp class never reaches
  * the banded probe. `q_m_incremental_dedup` pins the identity
  * against the from-scratch recursive-CC DuckDB oracle.
  *
  * Forgotten assets: [[forget]] redacts a media state (the text loop's
  * [[IngestStream.forget]] over the media fp index); a ban composes
  * [[IngestStream.withoutForgotten]] ahead of the loop over the batch
  * with media_id named doc_id.
  */
object MediaIngest {

  /** The media loop's fp index under `statePath`: (doc_id, perceptual
    * fp, pixel rank). Its rows differ from the text loop's
    * ([[IngestStream.fpsTable]]), so it is its own handle, with its own
    * row type; the label store and the snapshot are shared.
    */
  def fpsTable(spark: SparkSession, statePath: String): AppendTable =
    Loop.fpsTable(spark, statePath)

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
    DriftMonitor.binCounts(Multimodal.imageCurationPass(media).toDF()
      .select(lumaBin(col("meanLuma"), nBins).as("bin")))

  /** The media loop's values for the shared micro-batch: (doc_id,
    * format, bytes) rows, one decode to (pixels, fp, qualityOk,
    * meanLuma), the 64-bit fp in 16-bit bands, and the quality verdict
    * as the admission.
    */
  private[graft] val Loop = IngestStream.Loop("bytes", "fp", 16,
    Seq("doc_id", "fp", "pixels"),
    added => Multimodal.imageCurationPass(added.select(
        col("doc_id").as("media_id"), col("format"), col("bytes"))).toDF()
      .select(col("mediaId").as("doc_id"), col("pixels"), col("fp"),
        col("qualityOk"), col("meanLuma")),
    col("qualityOk"), col("fp").cast("string"))

  /** The media gate: the decoded new assets' luma bins. */
  private def gateOf(g: GateConfig): IngestStream.Gate =
    IngestStream.Gate(g.ref, g.alertAtPsiU, g.alertAtUnseenU, (_, facts) =>
      facts.select(lumaBin(col("meanLuma"), g.nBins).as("bin")))

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
      maxDist: Int,
      maintain: IngestStream.MaintainConfig = IngestStream.MaintainConfig(),
      gate: Option[GateConfig] = None): Unit =
    ingest(batch, batchId, statePath, maxDist, maintain, gate,
      ClusterMaintain.LocalMergeMax)

  /** [[processBatch]] with the bound of the driver-side path as a
    * parameter (`localMax = 0`: the distributed path).
    */
  private[graft] def ingest(batch: DataFrame, batchId: Long,
      statePath: String, maxDist: Int,
      maintain: IngestStream.MaintainConfig, gate: Option[GateConfig],
      localMax: Long): Unit =
    IngestStream.ingest(Loop, batch.select(col("media_id").as("doc_id"),
        col("format"), col("bytes")), batchId, statePath, maxDist, None,
      maintain, gate.map(gateOf), localMax)

  /** [[IngestStream.forget]] on a media state: the relabel reads the
    * media fp index at its own width, and the index's redaction keeps
    * its rows (fp and pixel rank).
    */
  def forget(spark: SparkSession, statePath: String, ids: DataFrame,
      forgetBatchId: Long, maxDist: Int = 3,
      vectored: Boolean = false): Unit =
    IngestStream.forgetIn(Loop, spark, statePath, ids, forgetBatchId,
      maxDist, None, vectored)

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
}
