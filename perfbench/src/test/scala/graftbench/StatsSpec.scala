package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  private def ones(xs: Seq[Double]) = xs.map(x => (x, 1L))

  test("percentile is nearest-rank over the weighted samples") {
    val xs = ones((1 to 100).map(_.toDouble))
    assert(percentile(xs, 0.50).contains(50.0))
    assert(percentile(xs, 0.90).contains(90.0))
    assert(percentile(xs, 0.0).contains(1.0))
    // weights count as repeated samples
    assert(percentile(Seq((1.0, 60L), (2.0, 40L)), 0.5).contains(1.0))
    assert(percentile(Seq((1.0, 40L), (2.0, 60L)), 0.5).contains(2.0))
  }

  test("a percentile needs at least ten samples beyond it") {
    assert(percentile(ones((1 to 999).map(_.toDouble)), 0.99).isEmpty)
    assert(percentile(ones((1 to 1000).map(_.toDouble)), 0.99).contains(990.0))
    assert(percentile(ones((1 to 19).map(_.toDouble)), 0.5).isEmpty)
    assert(percentile(ones((1 to 20).map(_.toDouble)), 0.5).contains(10.0))
    // ten samples by weight, even from one value
    assert(percentile(Seq((1.0, 990L), (7.0, 10L)), 0.99).contains(1.0))
    assert(percentile(Seq.empty, 0.5).isEmpty)
  }

  test("median of an even count averages the middle pair") {
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq.empty).isNaN)
  }

  test("each page joins the first batch whose end cursor passes it") {
    val pages = Seq(
      Page("h0", 0, dueUs = 100, rows = 10),
      Page("h0", 1, dueUs = 200, rows = 10),
      Page("h1", 0, dueUs = 150, rows = 5),
      Page("h1", 1, dueUs = 250, rows = 5),
      Page("h1", 2, dueUs = 900, rows = 5))
    // batch 1 admits h0 page 0 and nothing of h1; batch 2 the rest but
    // h1 page 2; listed out of order on purpose
    val batches = Seq(
      Batch(2, Map("h0" -> 2, "h1" -> 2), admitUs = 400, commitUs = 600),
      Batch(1, Map("h0" -> 1), admitUs = 120, commitUs = 300))
    val (joined, missing) = joinPages(pages, batches)
    assert(missing.map(p => (p.handle, p.index)) == Seq(("h1", 2)))
    val byPage = joined.map(j => (j.page.handle, j.page.index) -> j).toMap
    assert(byPage(("h0", 0)).batch.batchId == 1)
    assert(byPage(("h0", 0)).latencyUs == 200)
    assert(byPage(("h0", 0)).admitWaitUs == 20)
    assert(byPage(("h0", 1)).batch.batchId == 2)
    assert(byPage(("h0", 1)).latencyUs == 400)
    assert(byPage(("h1", 0)).latencyUs == 450)
    assert(byPage(("h1", 1)).latencyUs == 350)
  }

  test("latency samples weigh each page by its rows") {
    val pages = Seq(Page("h0", 0, 0, rows = 990), Page("h0", 1, 0, rows = 10))
    val batches = Seq(Batch(0, Map("h0" -> 1), 0, 1000000), Batch(1, Map("h0" -> 2), 0, 5000000))
    val (joined, missing) = joinPages(pages, batches)
    assert(missing.isEmpty)
    val lat = latencySamples(joined)
    assert(lat.map(_._2).sum == 1000)
    assert(percentile(lat, 0.5).contains(1.0))
    assert(percentile(lat, 0.99).contains(1.0))
    assert(percentile(lat, 0.995).isEmpty)
  }

  test("docs latency runs from the pass start; throughput counts the forget") {
    val p = DocsPass(callS = Vector(1.0, 2.0, 3.0, 4.0), batchDocs = Vector.fill(4)(400),
      forgetS = 2.0, forgotten = Vector.empty, delivered = Vector.empty, dir = "", error = None)
    val e = Docs.endToEnd(p)
    assert(e("latency_p50_s") == 3.0) // the middle call returns 1 + 2 s after the start
    assert(e("latency_p99_s") == 10.0)
    assert(e("batch_p50_s") == 2.5)
    assert(e("throughput_per_s") == 1600 / 12.0)
  }
}
