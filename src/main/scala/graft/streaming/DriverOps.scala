package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side helpers of the state loops: overlapping independent
  * table operations, and the bounded collect.
  */
private[graft] object DriverOps {

  /** Overlap INDEPENDENT state-table operations from the driver (guide
    * §2.6 — Spark happily runs several jobs at once; actions are only
    * sequential because the driver calls them sequentially). Each op
    * here is one or more Spark actions against its OWN table (own
    * directory, own pointer, own batch-id gate), so ordering ACROSS the
    * ops is no part of any crash contract: a kill leaves some
    * arbitrary subset of tables committed, and the replay re-runs
    * whichever tables have not reached the batch id.
    *
    * At gate scale this overlaps the per-action driver latency that
    * dominates the lifecycle gates (measured round 16: ~70 ms of
    * scheduling floor per job across ~100 jobs per gate); at 100 TB it
    * back-fills executor capacity through each commit's straggler tail.
    *
    * Each pool thread runs its op under the caller's [[Failpoints]]
    * context, so an armed kill sweep counts the overlapped steps on
    * the caller's one counter and kills the order production runs.
    */
  def parallel(ops: (() => Unit)*): Unit =
    if (ops.lengthCompare(1) <= 0) ops.foreach(_())
    else {
      val ctx = Failpoints.context
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
      try {
        val futs = ops.map { op =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = Failpoints.within(ctx)(op())
          })
        }
        // AWAIT EVERY op before propagating the first failure (as
        // itself, not wrapped — the named errors like
        // ConcurrentWriteException are part of the tables' documented
        // surface): rethrowing while a sibling writer is still
        // mid-flight would let the caller's retry/replay race that
        // straggler on its own table, exactly the two-writer case the
        // single-writer contract forbids.
        val failures = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException => Some(e.getCause)
            case e: Throwable => Some(e)
          }
        }
        // the kill first: once an armed step fires, every later step
        // of the context throws too, so a sibling earlier in op order
        // can fail after the kill; the caller sees the armed step
        failures.collect { case c: Failpoints.Crash => c }.minByOption(_.at)
          .orElse(failures.headOption).foreach(e => throw e)
      } finally pool.shutdown()
    }

  /** The rows of `df` if it has at most `max` of them, else None.
    * ONE Spark job for any partition count. Every task takes at most
    * `max + 1` rows of its partition; the driver adds up the rows as
    * the tasks finish, and once the total passes the bound it drops
    * them and cancels the job. Past the bound the driver therefore
    * receives at most `max + 1` rows from each task still running at
    * the cancel (one per executor core), and keeps none.
    * (`limit(max + 1).collect()` scans one partition, then four, then
    * the rest: 2-3 jobs on a multi-partition frame.) Rows keep
    * partition order. A frame that plans to a LocalRelation is read
    * without a job. Each caller keeps its own fallback or named error
    * for None.
    */
  def collectBounded(df: DataFrame, max: Long): Option[Array[Row]] = {
    // clamp before the + 1: Long.MaxValue + 1 wraps to a take of 0
    val take = (max.min(Int.MaxValue - 1L) + 1).toInt
    localRows(df) match {
      case Some(rows) => if (rows.length <= max) Some(rows) else None
      case None =>
        val rdd = df.rdd
        val parts = new Array[Array[Row]](rdd.getNumPartitions)
        var total = 0L
        val over = new AtomicBoolean(false)
        val job = new AtomicReference[FutureAction[Unit]]
        // runs on the scheduler's thread, one finished task at a time;
        // a task finishing before `job` is set is cancelled below
        val onResult = (i: Int, part: Array[Row]) => if (!over.get) {
          total += part.length
          if (total <= max) parts(i) = part
          else {
            over.set(true)
            Option(job.get).foreach(_.cancel())
          }
        }
        job.set(df.sparkSession.sparkContext.submitJob(rdd,
          (it: Iterator[Row]) => it.take(take).toArray,
          parts.indices, onResult, ()))
        if (over.get) job.get.cancel()
        // a failure surfaces as `runJob` raises it, unwrapped; the
        // cancel's own failure means "over the bound"
        Await.ready(job.get, Duration.Inf).value.get match {
          case Failure(e) if !over.get => throw e
          case _ => if (over.get) None else Some(parts.flatten)
        }
    }
  }

  /** The rows of `df` when its optimized plan is a LocalRelation —
    * driver-side data under driver-evaluable projections and filters,
    * which `collect` returns without a Spark job — else None.
    */
  def localRows(df: DataFrame): Option[Array[Row]] =
    if (isLocal(df)) Some(df.collect()) else None

  /** Whether `df`'s optimized plan is a LocalRelation. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
}
