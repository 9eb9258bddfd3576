package graft

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.RawPost
import graft.streaming.{EventSink, IngestStream}

/** One process compiles each generated class once ([[Sessions]]):
  * tasks run under the executor's own class loader, so a new session
  * or streaming query reuses the classes an earlier one compiled, and
  * the codegen cache holds a whole loop cycle. Counted with
  * [[SparkJobs.compiles]].
  */
class CodegenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("Dataset tasks run under the executor's own class loader, in any session") {
    Seq(spark, spark.newSession()).foreach { s =>
      import s.implicits._
      val chains = s.range(0L, 4L, 1L, 4).as[Long].mapPartitions { _ =>
        Iterator(Iterator.iterate(Thread.currentThread.getContextClassLoader)(
          _.getParent).takeWhile(_ != null).map(_.getClass.getName)
          .mkString(" > "))
      }.collect()
      info(chains.distinct.mkString("; "))
      assert(chains.length == 4 && !chains.exists(_.contains("ExecutorClassLoader")),
        s"task class loaders: ${chains.distinct.mkString("; ")}")
    }
  }

  test("the second of two identical EventSink.start queries compiles ≤ 10 classes") {
    val t0 = 1700000000L * 1000000L
    def post(id: String, tsUs: Long, symbol: String): RawPost =
      RawPost(id, "x", "kol", "launch!", tsUs, None, Some(symbol),
        isCandidate = true, 0.5)
    val batches = Seq(
      Seq(post("p1", t0, "PEPE"), post("p2", t0 + 1000000L, "DOGE")),
      Seq(post("p3", t0 + 2000000L, "PEPE"), post("p4", t0 + 3000000L, "WIF")))
    def query(s: SparkSession): Long = {
      import s.implicits._
      val root = tmp("graft_codegen_sink_")
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDS().coalesce(1).write.parquet(s"$root/src/b$i")
      }
      val posts = s.readStream.schema(Encoders.product[RawPost].schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src/*").as[RawPost]
      SparkJobs.compiles {
        val q = EventSink.start(posts, s"$root/events", s"$root/outbox",
          s"$root/chk")
        try q.processAllAvailable() finally q.stop()
      }
    }
    val counts = Seq(query(spark), query(spark))
    info(s"classes compiled per query: ${counts.mkString(", ")}")
    assert(counts(1) <= 10, s"the second identical query compiled ${counts(1)} classes")
  }

  test("the second of two identical ingest cycles compiles ≤ 5 classes") {
    val s = spark
    import s.implicits._
    val bs = IngestBatchSpec.batches(7L, 3, 300)
    val forgotten = bs.flatten.map(_._1).distinct.filter(_ % 33 == 0).toDF("doc_id")
    val maintain = IngestStream.MaintainConfig(compactEvery = 3,
      maxRowsPerBucket = 40L, vacuumKeepVersions = 2)
    // one cycle: three processBatch calls with publish and maintenance,
    // then a forget, on fresh state
    def cycle(): Long = {
      val dir = tmp("graft_codegen_ingest_")
      val publish = Some(IngestStream.PublishConfig(s"$dir/shards", 20000L))
      SparkJobs.compiles {
        bs.zipWithIndex.foreach { case (b, i) =>
          IngestStream.processBatch(b.toDF("doc_id", "text"), i.toLong,
            s"$dir/state", 3, publish, maintain)
        }
        IngestStream.forget(spark, s"$dir/state", forgotten, 3L, 3,
          publish.map(_.dest))
      }
    }
    val counts = Seq(cycle(), cycle())
    info(s"classes compiled per cycle: ${counts.mkString(", ")}")
    assert(counts(1) <= 5, s"the second identical cycle compiled ${counts(1)} classes")
  }
}
