package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{ClusterMaintain, Clusters}
import graft.operators.Sampling
import graft.streaming.{DriverOps, IngestStream, MediaIngest}

/** The ingest micro-batch's cost and its two paths: the Spark jobs a
  * `processBatch` call runs (the driver-side bounded path), and the
  * equality of that path with the distributed one it falls back to.
  */
class IngestBatchSpec extends AnyFunSuite {
  import IngestBatchSpec.batches

  private lazy val spark = TestSpark.spark

  private val maintain = IngestStream.MaintainConfig(compactEvery = 3,
    maxRowsPerBucket = 40L, vacuumKeepVersions = 2)

  private def root(prefix: String) = Files.createTempDirectory(prefix).toString

  private def rows(df: Option[DataFrame]): Set[Seq[Any]] =
    df.map(_.collect().map(_.toSeq).toSet).getOrElse(Set.empty)

  test("processBatch job budget: ≤ 19 fresh, ≤ 25 over state, ≤ 30 with maintenance; forget ≤ 34") {
    val s = spark
    import s.implicits._
    val dir = root("ingest_budget")
    val state = s"$dir/state"
    val publish = Some(IngestStream.PublishConfig(s"$dir/shards", 20000L))
    val bs = batches(7L, 3, 300)
    val budgets = Seq(19, 25, 30)
    bs.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("doc_id", "text")
      val sites = SparkJobs.withinBudget(s"call $i", budgets(i))(
        IngestStream.processBatch(df, i.toLong, state, 3, publish, maintain))
      info(s"call $i: ${sites.size} jobs: ${SparkJobs.bySite(sites)}")
    }
    val ids = bs.flatten.map(_._1).distinct.filter(_ % 33 == 0).toDF("doc_id")
    val forget = SparkJobs.withinBudget("forget", 34)(IngestStream.forget(
      spark, state, ids, 3L, 3, publish.map(_.dest)))
    info(s"forget: ${forget.size} jobs: ${SparkJobs.bySite(forget)}")
    // the loop still converges to the from-scratch labeling
    val survivors = bs.flatten.groupBy(_._1).map(_._2.head).toSeq
      .filterNot(_._1 % 33 == 0).toDF("doc_id", "text")
    assert(rows(IngestStream.labelsTable(spark, state).read()) ==
      rows(Some(Clusters.simhashClusters(survivors, "doc_id", "text", 3)
        .select("doc_id", "cluster_id", "cluster_size"))))
  }

  /** Every table `reads` names holds the same rows under each of
    * `dirs` as under the first.
    */
  private def sameState(dirs: Seq[String],
      reads: Seq[(String, String => Option[DataFrame])]): Unit =
    dirs.tail.foreach { other =>
      reads.foreach { case (name, read) =>
        val (a, b) = (rows(read(dirs.head)), rows(read(other)))
        assert(a.nonEmpty, s"$name is empty")
        assert(a == b, s"$name differs between ${dirs.head} and $other")
      }
    }

  test("the bounded driver-side path and the distributed path land identical state") {
    val s = spark
    import s.implicits._
    val bs = batches(11L, 3, 200)
    // a budget of ~440 docs per shard: shard 0 straddles all three
    // batches, so the tight bound below sends the third batch's write
    // through the distributed writer while its facts stay on the driver
    val budget = 20000L
    val tight = 200L
    def run(localMax: Long): String = {
      val dir = root(s"ingest_path_$localMax")
      val publish = Some(IngestStream.PublishConfig(s"$dir/shards", budget))
      bs.zipWithIndex.foreach { case (b, i) =>
        IngestStream.ingest(IngestStream.Text, b.toDF("doc_id", "text"),
          i.toLong, s"$dir/state", 3, publish, maintain, None, localMax)
        if (localMax == tight && i == 1) {
          val straddler = IngestStream.publishManifest(spark, s"$dir/state")
            .read().get.as[Sampling.ManifestRow].collect().maxBy(_._1)
          assert(straddler._2 > tight, s"straddler $straddler fits the bound")
        }
      }
      dir
    }
    val local = run(ClusterMaintain.LocalMergeMax)
    val others = Seq(run(0L), run(tight))
    sameState(local +: others, Seq[(String, String => Option[DataFrame])](
      "labels" -> (d => IngestStream.labelsTable(spark, s"$d/state").read()),
      "fps" -> (d => IngestStream.fpsTable(spark, s"$d/state").read()),
      "snap" -> (d => IngestStream.snapTable(spark, s"$d/state").read()),
      "manifest" -> (d => IngestStream.publishManifest(spark, s"$d/state").read()),
      "shard files" -> (d => Some(spark.read.parquet(s"$d/shards")
        .select(col("pub_id"), col("n_tok"), col("shard_id").cast("long"))))))
    // the media loop runs the same body: MediaIngestSpec's corpus in
    // thirds, with a maintenance tick on the third call
    val media = MediaIngestSpec.corpus(spark, 48).localCheckpoint()
    def runMedia(localMax: Long): String = {
      val dir = root(s"media_path_$localMax")
      (0 to 2).foreach { k =>
        MediaIngest.ingest(media.filter(col("media_id") % 3 === k), k.toLong,
          dir, 3, maintain, None, localMax)
      }
      dir
    }
    sameState(Seq(runMedia(ClusterMaintain.LocalMergeMax), runMedia(0L)),
      Seq[(String, String => Option[DataFrame])](
        "media labels" -> (d => IngestStream.labelsTable(spark, d).read()),
        "media fps" -> (d => MediaIngest.fpsTable(spark, d).read()),
        "media snap" -> (d => IngestStream.snapTable(spark, d).read())))
    // each shard directory holds one file on every path
    (local +: others).foreach { d =>
      new java.io.File(s"$d/shards").listFiles().filter(_.isDirectory)
        .foreach { sd =>
          assert(sd.listFiles().count(_.getName.endsWith(".parquet")) == 1,
            s"${sd.getPath} holds more than one file")
        }
    }
  }

  test("the driver-side merge relabels affected members the same past its member bound") {
    val s = spark
    import s.implicits._
    // clusters {1, 2, 3}, {4}, {5, 6}; batch docs 10 and 11 join
    // {1, 2, 3} with {5, 6}, and {4}
    val existing = Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L),
      (5L, 5L, 2L), (6L, 5L, 2L), (7L, 7L, 1L))
      .toDF("doc_id", "cluster_id", "cluster_size")
    val edges = Array((10L, 2L), (10L, 5L), (11L, 4L))
    val want = Set((1L, 1L, 6L), (2L, 1L, 6L), (3L, 1L, 6L), (5L, 1L, 6L),
      (6L, 1L, 6L), (10L, 1L, 6L), (4L, 4L, 2L), (11L, 4L, 2L))
    Seq(ClusterMaintain.LocalMergeMax -> true, 5L -> false, 0L -> false)
      .foreach { case (memberMax, collected) =>
        val (changed, affected) = ClusterMaintain.mergeBatchDeltaLocal(
          existing, Array(10L, 11L), edges, memberMax)
        assert(DriverOps.isLocal(changed) == collected, s"memberMax $memberMax")
        assert(changed.as[(Long, Long, Long)].collect().toSet == want,
          s"memberMax $memberMax")
        assert(affected.as[Long].collect().toSet == Set(1L, 4L, 5L))
      }
  }

  test("driver-side shard assignment and manifest fold equal shardAppend over random batches") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    (0 until 12).foreach { c =>
      val prior: Seq[Sampling.ManifestRow] =
        if (c % 3 == 0) Seq.empty
        else (0 until 1 + rnd.nextInt(4)).map { k =>
          (k.toLong, 1L + rnd.nextInt(5), rnd.nextInt(400).toLong,
            k * 100L, k * 100L + 50L)
        }
      val maxPub = if (prior.isEmpty) -1L else prior.map(_._5).max
      val batch = rnd.shuffle((1 to rnd.nextInt(40)).map { i =>
        (maxPub + i * (1 + rnd.nextInt(3)).toLong, rnd.nextInt(120).toLong)
      }.distinctBy(_._1))
      val budget = 1L + rnd.nextInt(300)
      val priorDf = prior.toDF(Sampling.ManifestSchema.fieldNames.toSeq: _*)
      val assignedDf = Sampling.shardAppend(batch.toDF("pub_id", "n_tok"),
        "pub_id", "n_tok", budget, 1L + rnd.nextInt(64), priorDf)
      val want = assignedDf.select("pub_id", "n_tok", "shard_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val got = Sampling.shardAppendLocal(batch, "pub_id", "n_tok", budget, prior)
      assert(got == want, s"case $c: budget $budget, prior $prior")
      assert(Sampling.shardManifestLocal(got).toSet ==
        Sampling.shardManifest(assignedDf, "pub_id", "n_tok")
          .as[Sampling.ManifestRow].collect().toSet,
        s"case $c: the batch's per-shard facts")
    }
    // the append-at-tail contract: the same named error on both paths
    val prior: Seq[Sampling.ManifestRow] = Seq((0L, 2L, 70L, 10L, 99L))
    val batch = Seq((150L, 5L), (50L, 7L), (200L, 1L))
    val msg = "shardAppend: pub_id must exceed the published max id 99; got pub_id=50"
    val local = intercept[IllegalArgumentException](
      Sampling.shardAppendLocal(batch, "pub_id", "n_tok", 100L, prior))
    assert(local.getMessage == msg)
    val dist = intercept[Exception](Sampling.shardAppend(
      batch.toDF("pub_id", "n_tok"), "pub_id", "n_tok", 100L, 32L,
      prior.toDF(Sampling.ManifestSchema.fieldNames.toSeq: _*)).collect())
    assert(Iterator.iterate[Throwable](dist)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(msg))), dist.toString)
  }
}

object IngestBatchSpec {
  /** Seeded batches of `n` docs: 20 % near-duplicates of an earlier
    * doc (one word swapped), 5 % exact copies under a new id, 10 %
    * re-deliveries of an earlier (id, text).
    */
  def batches(seed: Long, count: Int, n: Int): Seq[Seq[(Long, String)]] = {
    val rnd = new scala.util.Random(seed)
    def word() = s"w${rnd.nextInt(3000)}"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var next = 0L
    (0 until count).map { _ =>
      val out = (0 until n).map { _ =>
        val r = rnd.nextDouble()
        if (seen.nonEmpty && r < 0.10) seen(rnd.nextInt(seen.size))
        else {
          val text =
            if (seen.nonEmpty && r < 0.30) {
              val ws = seen(rnd.nextInt(seen.size))._2.split(" ")
              ws(rnd.nextInt(ws.length)) = word()
              ws.mkString(" ")
            } else if (seen.nonEmpty && r < 0.35) seen(rnd.nextInt(seen.size))._2
            else Seq.fill(30 + rnd.nextInt(30))(word()).mkString(" ")
          next += 1
          (next, text)
        }
      }
      seen ++= out
      out
    }
  }
}
