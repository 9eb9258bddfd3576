package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendTable, DriverOps, Failpoints}

class DriverOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Two appends (3 steps each: append.data, append.pointer.tmp,
    * append.pointer.move) through `parallel` with step `k` armed. The
    * op named `first` runs at once, the other waits until the first
    * has stopped. Returns what the caller caught, the crash each op
    * saw, the threads the ops ran on and the tables.
    */
  private def armedPair(first: Int, k: Int): (Failpoints.Crash,
      Map[Int, Failpoints.Crash], Map[Int, Thread], Seq[AppendTable]) = {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("parallel_armed")
      .toString
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(root))
    val tables = Seq("a", "b").map(n => new AppendTable(s, s"$root/$n"))
    val threads = new java.util.concurrent.ConcurrentHashMap[Int, Thread]
    val crashes = new java.util.concurrent.ConcurrentHashMap[Int, Failpoints.Crash]
    val firstDone = new java.util.concurrent.CountDownLatch(1)
    def op(i: Int): () => Unit = () => {
      threads.put(i, Thread.currentThread())
      if (i != first) assert(firstDone.await(30, java.util.concurrent.TimeUnit.SECONDS),
        s"op $i waited on op $first, which never ran on another thread")
      try tables(i).append(Seq(1L).toDF("x"), 0L)
      catch { case c: Failpoints.Crash => crashes.put(i, c); throw c }
      finally if (i == first) firstDone.countDown()
    }
    Failpoints.arm(k)
    val thrown =
      try intercept[Failpoints.Crash](DriverOps.parallel(op(0), op(1)))
      finally Failpoints.disarm()
    (thrown, crashes.asScala.toMap, threads.asScala.toMap, tables)
  }

  test("parallel under an armed sweep: ops run on pool threads, the k-th step fires in whichever op reaches it, and a sibling's later step throws too") {
    // armed at step 2, the first op dies at its pointer write, and the
    // waiting op's first step (step 3 of the context) throws as well
    Seq(0, 1).foreach { first =>
      val (thrown, crashes, threads, tables) = armedPair(first, 2)
      assert(threads.size == 2 && threads(0) != threads(1) &&
        !threads.values.exists(_ == Thread.currentThread()),
        s"ops ran on $threads")
      val (k, later) = (crashes.get(first), crashes.get(1 - first))
      assert(k.exists(c => c.at == 2 && c.label == "append.pointer.tmp"),
        s"first op $first: $k")
      assert(later.exists(c => c.at == 3 && c.label == "append.data"),
        s"waiting op ${1 - first}: $later")
      // the kill, as itself
      assert(k.exists(thrown eq _))
      // the kill stopped both: neither table committed
      assert(tables.forall(_.read().isEmpty))
    }
  }

  test("parallel rethrows the kill when it lands in a later op and an earlier op's later step throws") {
    // op 1 runs first and takes the kill at step k; op 0, first in op
    // order, throws at step k + 1. The caller sees step k and its label
    Seq("append.data", "append.pointer.tmp", "append.pointer.move")
      .zipWithIndex.foreach { case (label, i) =>
        val k = i + 1
        val (thrown, crashes, _, _) = armedPair(1, k)
        assert(crashes.get(0).exists(_.at == k + 1), s"k = $k: op 0 saw ${crashes.get(0)}")
        assert(thrown.at == k && thrown.label == label,
          s"k = $k: the caller saw step ${thrown.at} (${thrown.label})")
      }
  }

  test("collectBounded: the rows up to the bound, None past it, one job per call") {
    val bound = 5L
    Seq(bound - 1, bound, bound + 1).foreach { n =>
      // one partition, as a single-batch probe sees it: the limit's
      // take exhausts or fills it in the first job
      val df = spark.range(0L, n, 1L, 1).toDF("id")
      var got: Option[Array[Row]] = None
      val jobs = SparkJobs.onThisThread {
        got = DriverOps.collectBounded(df, bound)
      }
      if (n <= bound)
        assert(got.map(_.map(_.getLong(0)).toSeq) == Some(0L until n), s"n = $n")
      else assert(got.isEmpty, s"n = $n")
      assert(jobs == 1, s"n = $n ran $jobs jobs")
    }
    // many partitions, one job: every partition ships at most bound + 1
    // rows in the same job, and the rows keep partition order
    Seq(bound - 1, bound, bound + 1).foreach { n =>
      val df = spark.range(0L, n, 1L, 8).toDF("id")
      assert(df.rdd.getNumPartitions == 8)
      var got: Option[Array[Row]] = None
      val jobs = SparkJobs.onThisThread {
        got = DriverOps.collectBounded(df, bound)
      }
      if (n <= bound)
        assert(got.map(_.map(_.getLong(0)).toSeq) == Some(0L until n), s"n = $n")
      else assert(got.isEmpty, s"n = $n")
      assert(jobs == 1, s"8 partitions, n = $n ran $jobs jobs")
    }
    // a frame that plans to a LocalRelation is read without a job
    val s = spark
    import s.implicits._
    val localJobs = SparkJobs.onThisThread {
      assert(DriverOps.collectBounded(Seq(1L, 2L).toDF("id"), bound)
        .map(_.map(_.getLong(0)).toSeq) == Some(Seq(1L, 2L)))
      assert(DriverOps.collectBounded((0L to bound).toDF("id"), bound).isEmpty)
    }
    assert(localJobs == 0, s"local frames ran $localJobs jobs")
    // a failing job raises its error, not None
    val boom = org.apache.spark.sql.functions.udf { (x: Long) =>
      if (x >= 0L) throw new IllegalStateException("boom"); x
    }
    val failed = intercept[org.apache.spark.SparkException](
      DriverOps.collectBounded(spark.range(0L, 4L, 1L, 4)
        .select(boom(org.apache.spark.sql.functions.col("id"))), bound))
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"), failed.toString)
    // a bound past Int.MaxValue clamps the limit instead of overflowing
    assert(DriverOps.collectBounded(spark.range(3L).toDF("id"), Long.MaxValue)
      .map(_.length) == Some(3))
  }

  test("collectBounded: a frame over the bound whose partitions each fit ships a few tasks' rows, not all") {
    val s = spark
    import s.implicits._
    // 64 partitions of 500 rows, each under the bound of 1000, 32,000 in
    // all. Each task sleeps, so the cancel lands while the first waves
    // run: a collect that takes every partition ships all 64
    val df = spark.range(0L, 32000L, 1L, 64).as[Long]
      .mapPartitions { it => Thread.sleep(100); it }.toDF("id")
    def shipped(max: Long): (Option[Array[Row]], Long, Int) = {
      var got: Option[Array[Row]] = None
      val (bytes, tasks) = SparkJobs.resultBytesOnThisThread {
        got = DriverOps.collectBounded(df, max)
        // a cancelled job returns while its tasks still run: wait for
        // them, so every result they ship is counted
        val deadline = System.nanoTime() + 30L * 1000000000L
        def running = spark.sparkContext.statusTracker.getExecutorInfos
          .map(_.numRunningTasks).sum
        while (running > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      }
      (got, bytes, tasks)
    }
    val (all, allBytes, allTasks) = shipped(32000L)
    assert(all.map(_.length) == Some(32000) && allTasks == 64)
    val (over, overBytes, overTasks) = shipped(1000L)
    assert(over.isEmpty)
    info(s"over the bound: $overTasks of 64 tasks shipped $overBytes of " +
      s"$allBytes result bytes")
    // 4 cores: the first wave's four results pass the bound, so at most
    // the four tasks of the next wave can finish before the cancel
    assert(overTasks <= 12, s"$overTasks of 64 tasks shipped their rows")
    assert(overBytes * 4 < allBytes,
      s"shipped $overBytes result bytes of $allBytes for the whole frame")
  }
}
