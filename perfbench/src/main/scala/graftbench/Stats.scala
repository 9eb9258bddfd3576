package graftbench

/** Percentiles and the open-loop latency join. */
object Stats {

  /** Nearest-rank percentile of weighted samples `(value, weight)`:
    * the smallest value whose cumulative weight reaches `p` of the
    * total. None unless at least ten samples (by weight) lie beyond
    * it, so a reported tail percentile always rests on ten or more
    * observations above it.
    */
  def percentile(samples: Seq[(Double, Long)], p: Double): Option[Double] = {
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val total = samples.iterator.map(_._2).sum
    if (total == 0 || total.toDouble * (1.0 - p) < 10.0 - 1e-9) None
    else {
      val target = p * total
      val sorted = samples.filter(_._2 > 0).sortBy(_._1)
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= target }
        .map(_._1).orElse(sorted.lastOption.map(_._1))
    }
  }

  /** Unweighted median; NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** One page of the feed: `rows` posts due at `dueUs`. */
  final case class Page(handle: String, index: Int, dueUs: Long, rows: Long)

  /** One micro-batch: the cursor map it advanced the source to, when
    * that end offset was admitted, and when its commit was durable. */
  final case class Batch(batchId: Long, endCursor: Map[String, Int],
      admitUs: Long, commitUs: Long)

  /** A page joined to the first batch that covered it. */
  final case class Joined(page: Page, batch: Batch) {
    def latencyUs: Long = batch.commitUs - page.dueUs
    def admitWaitUs: Long = batch.admitUs - page.dueUs
  }

  /** Join every page to the first batch (in batch-id order) whose end
    * cursor for the page's handle lies past the page's index. Pages no
    * batch covered come back in the second list: their posts were
    * never committed.
    */
  def joinPages(pages: Seq[Page], batches: Seq[Batch]): (Vector[Joined], Vector[Page]) = {
    val ordered = batches.sortBy(_.batchId).toVector
    // per handle: the batches' end cursors, non-decreasing by batch id
    val byHandle: Map[String, Vector[(Int, Batch)]] =
      pages.map(_.handle).distinct.map { h =>
        h -> ordered.map(b => (b.endCursor.getOrElse(h, 0), b))
      }.toMap
    val joined = Vector.newBuilder[Joined]
    val missing = Vector.newBuilder[Page]
    pages.foreach { p =>
      val cur = byHandle(p.handle)
      // first batch with cursor > index (cursors never go back)
      var lo = 0
      var hi = cur.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cur(mid)._1 > p.index) hi = mid else lo = mid + 1
      }
      if (lo < cur.size) joined += Joined(p, cur(lo)._2) else missing += p
    }
    (joined.result(), missing.result())
  }

  /** Row-weighted latency samples (seconds) of joined pages. */
  def latencySamples(js: Seq[Joined]): Seq[(Double, Long)] =
    js.map(j => (j.latencyUs / 1e6, j.page.rows))
}
