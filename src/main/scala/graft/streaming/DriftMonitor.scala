package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.text.{ClassifierEval, QualityClassifier}

/** Streaming score-drift monitor — the L69 PSI table wired into the
  * production loop: every micro-batch of incoming documents is scored
  * with the committed trained quality model, binned with the shared
  * [[ClassifierEval.scoreBin]] rule, compared against a BOUNDED
  * reference histogram (the deployment-time snapshot of "what scores
  * looked like when the filter was validated"), and one monitor row
  * (batch id, docs scored, psi in 1e-6 units, alert flag) lands in a
  * batch-id-idempotent [[AppendTable]] — so a crash replay appends
  * nothing twice, and the monitor log itself is a queryable table.
  *
  * The monitor watches the batch BEFORE admission: drift detection is
  * about the incoming distribution (a shifted source, a new spam
  * campaign), which the admission filter would partially mask.
  *
  * Scale shape: the only per-batch work is the map-side score kernel
  * plus ONE combining groupBy to ≤ nBins rows; collecting those
  * bounded rows to fold the PSI on the driver is the Lloyd-cells /
  * manifest-facts convention, not a data-sized collect. The reference
  * histogram is a ≤ nBins constant carried in the config.
  * [[ClassifierEval.psiFixedPoint]] replays the batch gate's exact
  * fixed-point arithmetic, so the monitor's psi_u for a batch equals
  * `q_t_score_psi`'s in-plan total on the same two corpora —
  * DriftMonitorSpec pins the equality.
  */
object DriftMonitor {

  /** The deployment-time reference histogram: score the reference
    * corpus with the trained model, bin, and collect the ≤ nBins
    * (bin, count) rows.
    */
  def referenceBins(ref: DataFrame, idCol: String, textCol: String,
      nBins: Int, model: Option[(Long, Array[Long])] = None): Seq[(Long, Long)] =
    binCounts(scoreBins(ref, idCol, textCol, nBins, model))

  /** (bin, count) over a frame's `bin` column: ONE combining groupBy
    * to ≤ nBins rows, collected (the Lloyd-cells convention).
    */
  private[graft] def binCounts(bins: DataFrame): Seq[(Long, Long)] =
    bins.groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** Each doc's score bin, as column `bin`. */
  private[graft] def scoreBins(df: DataFrame, idCol: String, textCol: String,
      nBins: Int, model: Option[(Long, Array[Long])]): DataFrame =
    score(df.select(idCol, textCol), idCol, textCol, model)
      .select(ClassifierEval.scoreBin(col("score"), nBins).as("bin"))

  /** The gate's scorer: the committed artifact by default, or an
    * explicitly RELOADED (bias, weights) candidate — the
    * requalification path (retrain offline, score against the
    * candidate without promoting the artifact).
    */
  private def score(df: DataFrame, idCol: String, textCol: String,
      model: Option[(Long, Array[Long])]): DataFrame = model match {
    case Some((bias, w)) =>
      QualityClassifier.classifyWith(df, idCol, textCol, bias, w)
    case None => QualityClassifier.classifyTrained(df, idCol, textCol)
  }

  def monitorTable(spark: SparkSession, statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/monitor")

  /** Drift-GATE config for the ingest loop (round-11 verdict item 5 —
    * the monitor→ACTION edge): [[IngestStream.processBatch]] scores
    * every incoming batch against this reference histogram and, when
    * either alarm line trips, routes the batch's admitted-new docs to
    * the quarantine table INSTEAD of the label/snapshot/publish path —
    * a drifted source contaminates nothing downstream, and after
    * requalification the quarantined docs can replay through the loop
    * as an ordinary batch (they never entered the snapshot, so the L49
    * diff still sees them as new).
    */
  final case class GateConfig(ref: Seq[(Long, Long)], nBins: Int = 10,
      alertAtPsiU: Long = 200000L, alertAtUnseenU: Long = 100000L,
      model: Option[(Long, Array[Long])] = None)

  /** One batch's drift stats vs the reference histogram:
    * (docs scored, docs in zero-reference bins, psi in 1e-6 units,
    * unseen mass in 1e-6 units). The per-batch work is the map-side
    * score kernel plus ONE combining groupBy to ≤ nBins rows; the
    * bounded collect is the Lloyd-cells convention. Deterministic, so
    * a crash replay recomputes the identical routing decision.
    */
  def batchStats(batch: DataFrame, ref: Seq[(Long, Long)],
      nBins: Int, model: Option[(Long, Array[Long])] = None):
      (Long, Long, Long, Long) =
    statsOf(ref, binCounts(scoreBins(batch, "doc_id", "text", nBins, model)))

  /** The drift stats from a batch's bin counts against the reference
    * histogram — the one fold both ingest loops' gates and the
    * standalone monitor score: (docs, docs in zero-reference bins,
    * psi·1e6, unseen mass·1e6).
    */
  private[graft] def statsOf(ref: Seq[(Long, Long)], counts: Seq[(Long, Long)]):
      (Long, Long, Long, Long) = {
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

  /** Start the monitor over a streaming (doc_id, text) frame.
    *
    * Two alarm lines, because the skip-empty PSI convention has a
    * documented blind spot: mass landing in bins the REFERENCE never
    * populated contributes NOTHING to PSI (both-sides-positive rule),
    * so total drift — every doc suddenly scoring where no reference
    * doc ever did — reads as psi 0. The monitor therefore carries
    * that mass as its own `unseen_u` column (1e-6 fraction of the
    * batch in zero-reference bins) with its own threshold, instead of
    * epsilon-flooring the histogram and silently changing what psi
    * means. `alertAtPsiU` defaults to the conventional "investigate"
    * line of 0.2; `alertAtUnseenU` to 10% of the batch.
    */
  def start(docs: DataFrame, statePath: String, checkpoint: String,
      ref: Seq[(Long, Long)], nBins: Int = 10,
      alertAtPsiU: Long = 200000L, alertAtUnseenU: Long = 100000L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, ref, nBins,
          alertAtPsiU, alertAtUnseenU)
      }
      .start()

  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
      ref: Seq[(Long, Long)], nBins: Int, alertAtPsiU: Long,
      alertAtUnseenU: Long): Unit = {
    val spark = batch.sparkSession
    val mT = monitorTable(spark, statePath)
    if (mT.lastBatchId >= batchId) return // replay → no-op
    val (nDocs, nUnseen, psiU, unseenU) = batchStats(batch, ref, nBins)
    import spark.implicits._
    mT.append(
      Seq((batchId, nDocs, nUnseen, psiU, unseenU,
        psiU >= alertAtPsiU || unseenU >= alertAtUnseenU))
        .toDF("batch_id", "n_docs", "n_unseen", "psi_u", "unseen_u",
          "alert"),
      batchId)
  }
}
