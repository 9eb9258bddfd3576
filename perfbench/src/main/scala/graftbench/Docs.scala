package graftbench

import org.apache.spark.sql.SparkSession

import graft.dedup.Clusters
import graft.streaming.IngestStream

/** The curation lifecycle driven through its public entry points: a
  * closed loop of `IngestStream.processBatch` calls, then one
  * `IngestStream.forget` of a seeded slice.
  */
final case class DocsSpec(shape: Gen.DocShape, batches: Int,
    maintain: IngestStream.MaintainConfig, shardBudget: Long,
    forgetShare: Double)

final case class DocsPass(callS: Vector[Double], batchDocs: Vector[Int],
    forgetS: Double, forgotten: Vector[Long], delivered: Vector[(Long, String)],
    dir: String, error: Option[Throwable])

object Docs {
  val MaxDist = 3

  /** Run the loop and the forget in `dir` (fresh). `call` wraps each
    * timed call, e.g. in a trace span. */
  def pass(spark: SparkSession, batches: Vector[Vector[(Long, String)]],
      spec: DocsSpec, forgetIds: Vector[Long], dir: String,
      call: (String, () => Unit) => Unit = (_, f) => f()): DocsPass = {
    import spark.implicits._
    val state = s"$dir/state"
    val publish = Some(IngestStream.PublishConfig(s"$dir/shards", spec.shardBudget))
    val walls = Vector.newBuilder[Double]
    var forgetS = Double.NaN
    val error = try {
      batches.zipWithIndex.foreach { case (b, i) =>
        val df = b.toDF("doc_id", "text")
        val t0 = Clock.nowUs
        call(s"processBatch $i", () => IngestStream.processBatch(df, i.toLong, state,
          MaxDist, publish, spec.maintain))
        walls += (Clock.nowUs - t0) / 1e6
      }
      val ids = forgetIds.toDF("doc_id")
      val t0 = Clock.nowUs
      call("forget", () => IngestStream.forget(spark, state, ids, batches.size.toLong,
        MaxDist, publish.map(_.dest)))
      forgetS = (Clock.nowUs - t0) / 1e6
      None
    } catch { case t: Throwable => Some(t) }
    DocsPass(walls.result(), batches.map(_.size), forgetS, forgetIds,
      batches.flatten, dir, error)
  }

  /** The whole corpus is due when the pass starts, as a backlog: a
    * doc's latency is the wall from the pass start to the return of
    * the call that delivered it. With equal-size calls, p50 is the
    * wall up to the middle call and p99 the wall of the whole loop.
    * Throughput counts the forget call's wall with the loop's. */
  def endToEnd(p: DocsPass): Map[String, Double] = {
    val lat = p.callS.scanLeft(0.0)(_ + _).tail.zip(p.batchDocs)
      .map { case (s, n) => (s, n.toLong) }
    Map(
      "latency_p50_s" -> Stats.percentile(lat, 0.50).getOrElse(Double.NaN),
      "latency_p99_s" -> Stats.percentile(lat, 0.99).getOrElse(Double.NaN),
      "throughput_per_s" -> p.batchDocs.sum / (p.callS.sum + p.forgetS),
      "batch_p50_s" -> Stats.median(p.callS))
  }

  final case class Check(labelRows: Long, badLabels: Long, forgottenLeft: Long,
      newDocs: Long) {
    def failed: Long = badLabels + forgottenLeft
  }

  /** The label store must equal `Clusters.simhashClusters` over the
    * surviving corpus (every first-delivered id minus the forgotten
    * slice), and no forgotten id may remain in snap, fps or labels.
    */
  def verify(spark: SparkSession, p: DocsPass): Check = {
    import spark.implicits._
    val state = s"${p.dir}/state"
    val gone = p.forgotten.toSet
    val firstSeen = p.delivered.groupBy(_._1).map(_._2.head).toSeq
    val survivors = firstSeen.filterNot(d => gone(d._1)).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "cluster_size").as[(Long, Long, Long)].collect().toSeq
    val want = rows(Clusters.simhashClusters(survivors, "doc_id", "text", MaxDist))
    val labels = IngestStream.labelsTable(spark, state).read().map(rows).getOrElse(Seq.empty)
    val wantMap = want.map(r => r._1 -> r).toMap
    val gotMap = labels.map(r => r._1 -> r).toMap
    val badLabels = (wantMap.keySet ++ gotMap.keySet).count(k => wantMap.get(k) != gotMap.get(k)) +
      (labels.size - gotMap.size)
    def ids(t: Option[org.apache.spark.sql.DataFrame]) =
      t.map(_.select("doc_id").as[Long].collect().toSeq).getOrElse(Seq.empty)
    val snap = ids(IngestStream.snapTable(spark, state).read())
    val fps = ids(IngestStream.fpsTable(spark, state).read())
    val left = (labels.map(_._1) ++ snap ++ fps).count(gone)
    Check(labels.size.toLong, badLabels, left, snap.size.toLong + p.forgotten.size)
  }
}
