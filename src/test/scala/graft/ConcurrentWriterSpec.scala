package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendTable, BucketedTable, ConcurrentWriteException,
  Failpoints, SnapshotTable}

/** Lost-update DETECTION under a competing writer (the state tables
  * are single-writer by contract; these specs pin that a violation is
  * a NAMED stop, not silent corruption). [[Failpoints.installHook]]
  * injects "another writer committed while this operation was in
  * flight" at an exact mutation boundary:
  *
  *   - a pointer-only race (a migration flipping in mid-merge, or a
  *     commit under a different batch id / version name) aborts
  *     CLEANLY: the in-flight op's orphans are removed, the error
  *     says retry, and the retry succeeds against the new state;
  *   - a race that claimed the very version/directory NAME the op was
  *     writing reports TORN (contents undefined → restore) — and the
  *     pre-write guard placement means the common interleavings are
  *     caught before anything is clobbered at all.
  */
class ConcurrentWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def toDF(xs: Seq[Long]) = {
    val s = spark; import s.implicits._
    xs.toDF("x")
  }
  private def kvDF(xs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    xs.toDF("k", "v")
  }

  test("AppendTable.append: a competing LOWER-id commit aborts cleanly; a commit AT or PAST our id reports torn (our dir is pointer-visible)") {
    val root = Files.createTempDirectory("ccw_append").toString
    val t = new AppendTable(spark, s"$root/t")
    t.append(toDF(Seq(1L)), 0L)
    // competing writer commits batch 2 while our batch-6 append is in
    // flight: their pointer (2) stays BELOW our id, so our b_6 orphan
    // is invisible → clean abort, orphan removed, retry lands
    Failpoints.installHook("append.data") {
      new AppendTable(spark, s"$root/t").append(toDF(Seq(20L)), 2L)
    }
    val e1 = intercept[ConcurrentWriteException] {
      try t.append(toDF(Seq(6L)), 6L) finally Failpoints.clearHooks()
    }
    assert(e1.getMessage.contains("retry"))
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 20L), "the competing commit must be intact")
    assert(!new java.io.File(s"$root/t/b_6").exists(),
      "the aborted append's orphan must be removed")
    t.append(toDF(Seq(6L)), 6L)
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 6L, 20L))

    // competing writer commits PAST our id: our b_7 is now inside
    // their committed range (pointer-visible) — it must NOT be
    // deleted, only reported torn (deleting it could destroy a batch
    // the other writer legitimately wrote under the same id)
    Failpoints.installHook("append.data") {
      new AppendTable(spark, s"$root/t").append(toDF(Seq(90L)), 9L)
    }
    val e2 = intercept[ConcurrentWriteException] {
      try t.append(toDF(Seq(7L)), 7L) finally Failpoints.clearHooks()
    }
    assert(e2.getMessage.contains("claimed"))

    // competing writer claims the SAME batch id → torn, named
    Failpoints.installHook("append.data") {
      new AppendTable(spark, s"$root/t").append(toDF(Seq(100L)), 10L)
    }
    val e3 = intercept[ConcurrentWriteException] {
      try t.append(toDF(Seq(10L)), 10L) finally Failpoints.clearHooks()
    }
    assert(e3.getMessage.contains("claimed"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.merge: a migration flipping in mid-merge aborts the merge cleanly; the retry carries the new schema") {
    val root = Files.createTempDirectory("ccw_merge_migrate").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge(kvDF(Seq(1L -> 10L, 2L -> 20L)), 0L)
    Failpoints.installHook("merge.data") {
      new BucketedTable(spark, s"$root/t", "k", 4)
        .addColumn("tag", "string", "'x'")
    }
    val e = intercept[ConcurrentWriteException] {
      try t.merge(kvDF(Seq(3L -> 30L)), 1L) finally Failpoints.clearHooks()
    }
    assert(e.getMessage.contains("retry"))
    assert(t.schemaVersion == 1L, "the competing migration must survive")
    assert(t.read().get.count() == 2L, "the aborted merge must not land")
    // the RETRY of the same batch re-reads the pointer and succeeds,
    // writing the migrated column's default
    t.merge(kvDF(Seq(3L -> 30L)), 1L)
    val got = t.read().get.select("k", "v", "tag").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == Map(1L -> (10L, "x"), 2L -> (20L, "x"), 3L -> (30L, "x")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.merge: a competing merge that claimed the next version reports TORN before anything is clobbered") {
    val root = Files.createTempDirectory("ccw_merge_merge").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge(kvDF(Seq(1L -> 10L)), 0L)
    Failpoints.installHook("merge.data") {
      new BucketedTable(spark, s"$root/t", "k", 4)
        .merge(kvDF(Seq(9L -> 90L)), 1L)
    }
    val e = intercept[ConcurrentWriteException] {
      try t.merge(kvDF(Seq(2L -> 20L)), 2L) finally Failpoints.clearHooks()
    }
    assert(e.getMessage.contains("claimed"))
    // pre-write guard: the competing commit is untouched
    assert(t.read().get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 10L, 9L -> 90L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("SnapshotTable.commit: a competing commit aborts this one with the pre-write guard, the competing snapshot intact") {
    val root = Files.createTempDirectory("ccw_snapshot").toString
    val t = new SnapshotTable(spark, s"$root/t")
    t.commit(toDF(Seq(1L)), 0L)
    Failpoints.installHook("snapshot.data") {
      new SnapshotTable(spark, s"$root/t").commit(toDF(Seq(9L)), 1L)
    }
    val e = intercept[ConcurrentWriteException] {
      try t.commit(toDF(Seq(2L)), 2L) finally Failpoints.clearHooks()
    }
    assert(e.getMessage.contains("claimed"))
    assert(t.read().get.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // single-writer resumed: the next commit lands normally
    t.commit(toDF(Seq(3L)), 3L)
    assert(t.read().get.collect().map(_.getLong(0)).toSeq == Seq(3L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable.deleteKeys and compact abort cleanly when an append lands mid-flight") {
    val root = Files.createTempDirectory("ccw_delete").toString
    val t = new AppendTable(spark, s"$root/t")
    t.append(toDF(Seq(1L, 2L)), 0L)
    t.append(toDF(Seq(3L)), 1L)
    // the other ops the guard serves, each on its own table: a
    // competing commit of the next version is a torn claim, a
    // competing append below the op's target a clean retry
    val vt = new AppendTable(spark, s"$root/vt")
    vt.append(toDF(Seq(1L, 2L)), 0L)
    val bt = new BucketedTable(spark, s"$root/bt", "k", 4)
    bt.merge(kvDF(Seq(1L -> 10L)), 0L)
    bt.merge(kvDF(Seq(1L -> 11L)), 1L)
    val st = new SnapshotTable(spark, s"$root/st")
    st.commit(toDF(Seq(1L)), 0L)
    st.commit(toDF(Seq(2L)), 1L)
    def appendTo(p: String): Unit = {
      val u = new AppendTable(spark, p)
      u.append(toDF(Seq(100L)), u.lastBatchId + 1)
    }
    def mergeBt(): Unit = {
      val u = new BucketedTable(spark, s"$root/bt", "k", 4)
      u.merge(kvDF(Seq(100L -> 100L)), u.lastBatchId + 1)
    }
    def commitSt(): Unit = {
      val u = new SnapshotTable(spark, s"$root/st")
      u.commit(toDF(Seq(100L)), u.lastBatchId + 1)
    }
    def xs(df: Option[org.apache.spark.sql.DataFrame]) =
      df.get.collect().map(_.getLong(0)).toSeq
    // (failpoint, op, competing commit, expected word, competitor landed)
    for ((label, op, compete, word, landed) <- Seq[(String, () => Unit,
        () => Unit, String, () => Boolean)](
        ("delete.data", () => t.deleteKeys(toDF(Seq(2L)), "x"),
          () => appendTo(s"$root/t"), "retry",
          () => xs(t.read()).contains(100L)),
        ("compact.data", () => t.compact(),
          () => appendTo(s"$root/t"), "retry",
          () => xs(t.read()).contains(100L)),
        ("vdelete.data", () => vt.deleteKeysVectored(toDF(Seq(2L)), "x"),
          () => appendTo(s"$root/vt"), "retry",
          () => xs(vt.read()).sorted == Seq(1L, 2L, 100L)),
        ("rebucket.data", () => bt.rebucket(8), () => mergeBt(), "claimed",
          () => bt.currentBuckets == 4 && xs(bt.read()).contains(100L)),
        ("restore.data", () => bt.restore(0L), () => mergeBt(), "claimed",
          () => xs(bt.read()).sorted == Seq(1L, 100L)),
        ("restore.data", () => st.restore(0L), () => commitSt(), "claimed",
          () => xs(st.read()) == Seq(100L)))) {
      Failpoints.installHook(label)(compete())
      val e = intercept[ConcurrentWriteException] {
        try op() finally Failpoints.clearHooks()
      }
      assert(e.getMessage.contains(word), s"$label: $e")
      assert(landed(), s"$label: the competing commit must stay readable")
    }
    // both competing appends landed; a quiet retry of the delete works
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 100L, 100L))
    t.deleteKeys(toDF(Seq(2L)), "x")
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 100L, 100L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
