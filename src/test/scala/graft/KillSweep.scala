package graft

import java.nio.file.Files

import org.scalatest.Assertions._

import graft.streaming.Failpoints

/** The kill sweep of a multi-table commit. Every durable mutation of
  * `op` is a [[Failpoints]] kill point, and the sweep arms k = 1, 2, …
  * until an armed run completes without crashing (k walked past the
  * op's last mutation). The op runs on the order production runs:
  * [[graft.streaming.DriverOps.parallel]] hands the armed context to
  * its pool threads, so the k-th step is whichever overlapped commit
  * reaches it, and every sibling stops at its next step. After each
  * kill:
  *
  *   1. each table reads its full pre- or its full post-state;
  *   2. if the `gate` table — the commit a replay keys on — reads its
  *      post-state, every table does;
  *   3. replaying `op` converges to the post-state.
  *
  * `setup` builds a fresh state under the given root; pre and post
  * are learned from one clean un-armed run. Returns the number of
  * kill points, so callers can assert the op was actually swept, and
  * the pre- and post-states, so they can assert the fixture moves
  * what it should.
  */
object KillSweep {

  final case class Result(points: Int, pre: Map[String, Any],
      post: Map[String, Any])

  def perTable(name: String, tables: Seq[(String, String => Any)],
      gate: Option[String] = None)(setup: String => Unit)(
      op: String => Unit): Result = {
    def state(root: String): Map[String, Any] =
      tables.map { case (t, read) => t -> read(root) }.toMap
    def delete(root: String): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))

    val cleanRoot = Files.createTempDirectory(s"sweep_${name}_clean").toString
    setup(cleanRoot)
    val pre = state(cleanRoot)
    op(cleanRoot)
    val post = state(cleanRoot)
    delete(cleanRoot)
    gate.foreach(g => assert(pre(g) != post(g),
      s"$name: fixture degenerate, the op leaves its gate $g unchanged"))

    var k = 1
    var done = false
    while (!done) {
      assert(k <= 64, s"$name: runaway sweep — >64 kill points?")
      val root = Files.createTempDirectory(s"sweep_${name}_$k").toString
      setup(root)
      var crashed: Option[Failpoints.Crash] = None
      Failpoints.arm(k)
      try op(root)
      catch { case c: Failpoints.Crash => crashed = Some(c) }
      finally Failpoints.disarm()
      val mid = state(root)
      crashed match {
        case Some(c) =>
          val at = s"$name killed at step $k (${c.getMessage})"
          tables.foreach { case (t, _) =>
            assert(mid(t) == pre(t) || mid(t) == post(t),
              s"$at: torn $t state\n  pre=${pre(t)}\n  post=${post(t)}\n" +
                s"  got=${mid(t)}")
          }
          gate.foreach(g => assert(mid(g) == pre(g) || mid == post,
            s"$at: $g committed before a sibling reached its post-state: " +
              s"$mid"))
          op(root) // replay heals
          assert(state(root) == post,
            s"$at: replay did not converge to the post-state")
          k += 1
        case None =>
          assert(mid == post,
            s"$name: armed-past-the-end run diverged from the clean run")
          done = true
      }
      delete(root)
    }
    Result(k - 1, pre, post)
  }
}
