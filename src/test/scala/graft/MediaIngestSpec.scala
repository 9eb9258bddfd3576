package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clusters, Dedup}
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.Fixtures
import graft.streaming.{IngestStream, MediaIngest}

/** The spec's asset corpus, shared with IngestBatchSpec. */
object MediaIngestSpec {

  /** v0 bmp + v1 png24 of the same pattern word (a near-dup pair),
    * v2 flat constant-20 (quality reject), v3 unrelated word.
    */
  def corpus(s: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    import s.implicits._
    (0L until n.toLong).toDF("media_id").as[Long]
      .mapPartitions(_.map { j =>
        val base = j / 4
        val word = Fixtures.patternWord(base)
        (j % 4) match {
          case 0 => (j, "bmp",
            Fixtures.bmpBytesOf(16, 16, Fixtures.blockPx(word, 2)))
          case 1 => (j, "png",
            Fixtures.pngBytesOf(24, 24, Fixtures.blockPx(word, 3)))
          case 2 => (j, "png",
            Fixtures.pngBytesOf(16, 16, (_, _) => (20, 20, 20)))
          case _ => (j, "bmp", Fixtures.bmpBytesOf(16, 16,
            Fixtures.blockPx(Fixtures.patternWord(base + 1000003L), 2)))
        }
      }).toDF("media_id", "format", "bytes")
  }
}

/** The media ingest loop's contracts (streaming/MediaIngest.scala):
  * any batch partitioning — including the real readStream path and a
  * replay — converges to the from-scratch decode-once pipeline's
  * labeling; quality rejects enter no state table; the luma drift
  * gate quarantines an alarmed batch without touching other state;
  * a kill at every file-op boundary of a batch leaves per-table
  * pre-or-post state that the replay then converges; a call stays in
  * its Spark job budget; and a forget keeps the media fp index's rows.
  */
class MediaIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus(n: Int): DataFrame = MediaIngestSpec.corpus(spark, n)

  /** From-scratch: decode once, quality-filter, banded pairs, CC,
    * keep-best — the labeling the loop must converge to.
    */
  private def fromScratch(media: DataFrame): Map[Long, (Long, Boolean)] = {
    val cur = Multimodal.imageCurationPass(media).toDF()
      .select(col("mediaId").as("doc_id"), col("pixels"), col("fp"),
        col("qualityOk")).localCheckpoint()
    val passers = cur.filter(col("qualityOk"))
    val pairs = Dedup.hash64NearDupPairs(
        passers.select("doc_id", "fp"), maxDist = 3)
      .select(col("ida").as("a"), col("idb").as("b"))
    val labels = Clusters.connectedComponents(
      passers.select(col("doc_id").as("id")), pairs)
    Clusters.keepBestPerCluster(
        passers.join(labels.withColumnRenamed("id", "doc_id"), "doc_id"),
        "doc_id", "cluster_id", "pixels")
      .select("doc_id", "cluster_id", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
  }

  private def storeMap(state: String): Map[Long, (Long, Boolean)] =
    MediaIngest.canonical(spark, state)
      .select("doc_id", "cluster_id", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("batch partitionings, the streamed path, and replays all converge to from-scratch") {
    val media = corpus(48).localCheckpoint()
    val want = fromScratch(media)
    assert(want.nonEmpty && want.values.map(_._1).toSet.size < want.size,
      s"fixture degenerate: no multi-member clusters in $want")

    // partitioning A: thirds by id
    val rootA = Files.createTempDirectory("media_ingest_a").toString
    (0 to 2).foreach { k =>
      MediaIngest.processBatch(
        media.filter(col("media_id") % 3 === k), k.toLong, rootA, 3)
    }
    assert(storeMap(rootA) == want, "partitioning A diverged")

    // partitioning B: one pair-splitting batch boundary (v0s first,
    // their v1 twins later) + a redelivered overlap (at-least-once)
    val rootB = Files.createTempDirectory("media_ingest_b").toString
    MediaIngest.processBatch(
      media.filter(col("media_id") % 4 === 0), 0L, rootB, 3)
    MediaIngest.processBatch(
      media.filter(col("media_id") % 4 =!= 0 ||
        col("media_id") % 8 === 0), 1L, rootB, 3)
    MediaIngest.processBatch(
      media.filter(col("media_id") % 4 === 1), 2L, rootB, 3) // replayed ids
    assert(storeMap(rootB) == want, "partitioning B diverged")

    // real streaming path + restart no-op
    val rootC = Files.createTempDirectory("media_ingest_c").toString
    val feed = s"$rootC/feed"
    media.filter(col("media_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$feed/b0.parquet")
    media.filter(col("media_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$feed/b1.parquet")
    def run(): Unit = {
      val q = MediaIngest.start(
        spark.readStream.schema(media.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$feed/*.parquet"),
        s"$rootC/state", s"$rootC/chk")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(storeMap(s"$rootC/state") == want, "streamed path diverged")
    val v1 = IngestStream.labelsTable(spark, s"$rootC/state").latest.get
    run() // restart over the same feed + checkpoint
    assert(IngestStream.labelsTable(spark, s"$rootC/state").latest.get == v1)

    Seq(rootA, rootB, rootC).foreach(r =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r)))
  }

  test("quality rejects (the flat mega-cluster class) enter no state table") {
    val media = corpus(32).localCheckpoint()
    val root = Files.createTempDirectory("media_ingest_rej").toString
    MediaIngest.processBatch(media, 0L, root, 3)
    val flats = (0L until 32L).filter(_ % 4 == 2).toSet
    def ids(df: Option[DataFrame]) = df
      .map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty[Long])
    assert(ids(IngestStream.labelsTable(spark, root).read())
      .intersect(flats).isEmpty)
    assert(ids(MediaIngest.fpsTable(spark, root).read())
      .intersect(flats).isEmpty)
    assert(ids(IngestStream.snapTable(spark, root).read())
      .intersect(flats).isEmpty)
    // a redelivered reject re-decodes and re-rejects: still absent
    MediaIngest.processBatch(media.filter(col("media_id") % 4 === 2),
      1L, root, 3)
    assert(ids(IngestStream.labelsTable(spark, root).read())
      .intersect(flats).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("luma drift gate quarantines an alarmed batch; redelivery then admits") {
    val s = spark
    import s.implicits._
    // fresh ids (100+): colliding ids would be dropped by the L49
    // diff before the gate ever saw them
    def bright(n: Int): DataFrame =
      (100L until (100L + n)).toDF("media_id")
      .as[Long].mapPartitions(_.map { j =>
        (j, "bmp", Fixtures.bmpBytesOf(16, 16, (x: Int, y: Int) => {
          val i = (y / 2) * 8 + (x / 2)
          val v = if (((Fixtures.patternWord(j) >> i) & 1L) != 0L) 255
            else 100
          (v, v, v)
        }))
      }).toDF("media_id", "format", "bytes")
    val normal = corpus(32).filter(col("media_id") % 4 =!= 2)
      .localCheckpoint()
    val ref = MediaIngest.referenceLumaBins(normal) // 40/200 blocks
    val gate = Some(MediaIngest.GateConfig(ref))
    val root = Files.createTempDirectory("media_ingest_gate").toString

    MediaIngest.processBatch(normal, 0L, root, 3,
      IngestStream.MaintainConfig(), gate)
    assert(IngestStream.labelsTable(spark, root).read().isDefined,
      "in-distribution batch must land")

    val shifted = bright(8).localCheckpoint() // disjoint luma bins
    MediaIngest.processBatch(shifted, 1L, root, 3,
      IngestStream.MaintainConfig(), gate)
    val q = IngestStream.quarantineTable(spark, root).read().get
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (100L until 108L).toSet, "alarmed batch must quarantine whole")
    val labelIds = IngestStream.labelsTable(spark, root).read().get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(labelIds.intersect((100L until 108L).toSet).isEmpty,
      "quarantined assets must not reach the label store")
    val mon = IngestStream.gateMonitorTable(spark, root).read().get
      .filter(col("batch_id") === 1L).collect()
    assert(mon.length == 1 && mon(0).getAs[Boolean]("alert"))

    // requalification: redeliver without the gate — never entered the
    // snapshot, so the L49 diff admits them as ordinary new assets
    MediaIngest.processBatch(shifted, 2L, root, 3)
    val after = IngestStream.labelsTable(spark, root).read().get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((100L until 108L).toSet.subsetOf(after))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a kill at every file-op boundary leaves pre-or-post tables; replay converges") {
    val media = corpus(24).localCheckpoint()
    val b0 = media.filter(col("media_id") % 2 === 0)
    val b1 = media.filter(col("media_id") % 2 === 1)

    def ids(df: Option[DataFrame]) = df
      .map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty[Long])
    // the snapshot commits last: it is the replay gate of the one
    // micro-batch body both loops run
    val swept = KillSweep.perTable("media_ingest", Seq(
        "labels" -> ((root: String) => IngestStream.labelsTable(spark, root)
          .read().map(_.select("doc_id", "cluster_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
          .getOrElse(Map.empty)),
        "fps" -> ((root: String) =>
          ids(MediaIngest.fpsTable(spark, root).read())),
        "snap" -> ((root: String) =>
          ids(IngestStream.snapTable(spark, root).read()))),
      gate = Some("snap"))(
      root => MediaIngest.processBatch(b0, 0L, root, 3))(
      root => MediaIngest.processBatch(b1, 1L, root, 3))
    assert(swept.pre("labels") != Map.empty &&
      swept.post("labels").asInstanceOf[Map[Long, Long]].keySet !=
        swept.pre("labels").asInstanceOf[Map[Long, Long]].keySet,
      s"fixture degenerate: pre=${swept.pre} post=${swept.post}")
    info(s"${swept.points} kill points")
  }

  test("processBatch job budget: ≤ 9 fresh, ≤ 14 over state, ≤ 18 with maintenance") {
    // its own copy of the micro-batch body ran 18 / 25 / 29 jobs here
    val media = corpus(48).localCheckpoint()
    val root = Files.createTempDirectory("media_budget").toString
    val maintain = IngestStream.MaintainConfig(3, 40L, 2)
    Seq(9, 14, 18).zipWithIndex.foreach { case (budget, k) =>
      val sites = SparkJobs.withinBudget(s"call $k", budget)(
        MediaIngest.processBatch(media.filter(col("media_id") % 3 === k),
          k.toLong, root, 3, maintain, None))
      info(s"call $k: ${sites.size} jobs: ${SparkJobs.bySite(sites)}")
    }
    // the tick compacted the fp index through its own handle
    assert(MediaIngest.fpsTable(spark, root).read().get
      .filter(col("fp").isNull || col("pixels").isNull).isEmpty)
    assert(storeMap(root) == fromScratch(media))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("forget on a media state keeps the fp index's rows and relabels like from-scratch") {
    val s = spark
    import s.implicits._
    val media = corpus(48).localCheckpoint()
    val root = Files.createTempDirectory("media_forget").toString
    (0 to 2).foreach { k =>
      MediaIngest.processBatch(media.filter(col("media_id") % 3 === k),
        k.toLong, root, 3)
    }
    // two singletons (v3), then one member of a v0/v1 pair
    Seq(Seq(3L, 7L), Seq(4L)).zipWithIndex.foldLeft(Set.empty[Long]) {
      case (gone, (ids, i)) =>
        val forgotten = gone ++ ids
        MediaIngest.forget(spark, root, ids.toDF("doc_id"), 3L + i)
        val fps = MediaIngest.fpsTable(spark, root).read().get
        assert(fps.filter(col("fp").isNull || col("pixels").isNull).isEmpty,
          s"forget of $ids nulled fp index rows")
        assert(fps.select("doc_id").as[Long].collect().toSet
          .intersect(forgotten).isEmpty)
        assert(storeMap(root) ==
          fromScratch(media.filter(!col("media_id").isin(forgotten.toSeq: _*))),
          s"forget of $ids diverged from a from-scratch run over the survivors")
        forgotten
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
