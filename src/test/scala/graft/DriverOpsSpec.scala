package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DriverOps

class DriverOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
    // a bound past Int.MaxValue clamps the limit instead of overflowing
    assert(DriverOps.collectBounded(spark.range(3L).toDF("id"), Long.MaxValue)
      .map(_.length) == Some(3))
  }
}
