package graft.streaming

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
    * ops was never part of any crash contract: a kill leaves some
    * arbitrary subset of tables committed, and the replay re-runs
    * whichever tables have not reached the batch id — exactly the
    * "partial commit replays only the missing tables" contract the
    * sequential form already promised (a sequential kill produces
    * prefix subsets; the contract never depended on prefix-ness).
    *
    * At gate scale this overlaps the per-action driver latency that
    * dominates the lifecycle gates (measured round 16: ~70 ms of
    * scheduling floor per job across ~100 jobs per gate); at 100 TB it
    * back-fills executor capacity through each commit's straggler tail.
    *
    * SEQUENTIAL whenever a [[Failpoints]] sweep is armed (or an
    * interleaving hook installed) on the calling thread: the kill-point
    * sweeps enumerate the k-th durable mutation in driver-thread order,
    * which parallel submission would make nondeterministic — and the
    * armed counter is deliberately thread-local, so a pool thread would
    * never crash. Production/bench runs take the parallel path.
    */
  def parallel(ops: (() => Unit)*): Unit =
    if (Failpoints.active || ops.lengthCompare(1) <= 0) ops.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
      try {
        val futs = ops.map { op =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = op()
          })
        }
        // AWAIT EVERY op before propagating the first failure (as
        // itself, not wrapped — the named errors like
        // ConcurrentWriteException are part of the tables' documented
        // surface): rethrowing while a sibling writer is still
        // mid-flight would let the caller's retry/replay race that
        // straggler on its own table, exactly the two-writer case the
        // single-writer contract forbids.
        var first: Throwable = null
        futs.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (first == null) first = e.getCause
            case e: Throwable =>
              if (first == null) first = e
          }
        }
        if (first != null) throw first
      } finally pool.shutdown()
    }

  /** The rows of `df` if it has at most `max` of them, else None. One
    * action: `limit(max + 1)` is both the bound probe and the collect
    * (no count first), so a frame over the bound never reaches the
    * driver whole. Each caller keeps its own fallback or named error
    * for None.
    */
  def collectBounded(df: DataFrame, max: Long): Option[Array[Row]] = {
    // clamp before the + 1: Long.MaxValue + 1 wraps to a limit of 0
    val rows = df.limit((max.min(Int.MaxValue - 1L) + 1).toInt).collect()
    if (rows.length <= max) Some(rows) else None
  }
}
