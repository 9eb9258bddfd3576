package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendTable, BucketedTable, SnapshotTable}

/** Pins the on-disk format of the three state layouts byte for byte:
  * each layout runs a fixed op sequence and the spec compares EVERY
  * metadata file at the table root (`_LATEST`, `manifest_v*`,
  * `zones_v*`, `*.zone`, `columns_v*`, `tag_*`) with its exact
  * expected body — so no refactor of the commit protocol can change
  * a byte, leave a `.tmp` behind, or drop a side file unnoticed.
  *
  * The legacy pointer shapes the readers still accept (written by
  * tables that predate rebucket, schema evolution, deletes and scoped
  * tombstones) are hand-written and must read back with their
  * documented defaults.
  */
class StateFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def toDF(xs: Seq[Long]) = {
    val s = spark; import s.implicits._
    xs.toDF("x")
  }
  private def kvDF(xs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    xs.toDF("k", "v")
  }
  private def xs(df: Option[org.apache.spark.sql.DataFrame]): Seq[Long] =
    df.map(_.collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty)
  private def kv(df: Option[org.apache.spark.sql.DataFrame]): Map[Long, Long] =
    df.map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)

  /** Every regular file at the table root → its exact body. */
  private def metaFiles(path: String): Map[String, String] =
    new java.io.File(path).listFiles().filter(_.isFile)
      .map(f => f.getName ->
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .toMap

  private def dirs(path: String): Set[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  private def put(path: String, name: String, body: String): Unit =
    Files.write(Paths.get(path, name), body.getBytes(StandardCharsets.UTF_8))

  private def rm(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  test("SnapshotTable: commit, addColumn, tag and restore write the pinned bytes") {
    val root = Files.createTempDirectory("fmt_snapshot").toString
    val p = s"$root/t"
    val t = new SnapshotTable(spark, p)
    t.commit(toDF(Seq(1L, 2L)), 0L)
    assert(metaFiles(p) == Map("_LATEST" -> "0,0,0"))
    t.commit(toDF(Seq(3L)), 1L)
    t.addColumn("rank", "bigint", "-1")
    assert(metaFiles(p) == Map("_LATEST" -> "1,1,1",
      "columns_v1" -> "rank|bigint|-1"))
    t.tag("pin", 0L)
    t.restore(0L)
    assert(metaFiles(p) == Map("_LATEST" -> "2,1,1",
      "columns_v1" -> "rank|bigint|-1", "tag_pin" -> "0"))
    assert(dirs(p) == Set("v_0", "v_1", "v_2"))
    rm(root)
  }

  test("AppendTable: append, vectored delete, compact and delete write the pinned bytes") {
    val root = Files.createTempDirectory("fmt_append").toString
    val p = s"$root/t"
    val t = new AppendTable(spark, p, statsCol = Some("x"))
    t.append(toDF(Seq(1L, 2L)), 0L)
    t.append(toDF(Seq(5L)), 1L)
    t.append(toDF(Seq.empty), 2L)
    assert(metaFiles(p) == Map("_LATEST" -> "2",
      "b_0.zone" -> "1,2", "b_1.zone" -> "5,5", "b_2.zone" -> "empty"))
    t.deleteKeysVectored(toDF(Seq(2L)), "x")
    assert(metaFiles(p)("_LATEST") == "2\ntomb=1")
    assert(dirs(p) == Set("b_0", "b_1", "b_2", "t_1"))
    t.compact()
    assert(metaFiles(p) == Map("_LATEST" -> "2\ncompact=2",
      "k_2.zone" -> "1,5"))
    assert(dirs(p) == Set("k_2"))
    t.deleteKeys(toDF(Seq(5L)), "x")
    assert(metaFiles(p) == Map("_LATEST" -> "2\ncompact=2\nepoch=1",
      "k_2_e1.zone" -> "1,1"))
    t.append(toDF(Seq(7L)), 3L)
    t.deleteKeysVectored(toDF(Seq(1L)), "x")
    assert(metaFiles(p) == Map("_LATEST" -> "3\ncompact=2\nepoch=1\ntomb=1",
      "k_2_e1.zone" -> "1,1", "b_3.zone" -> "7,7"))
    assert(dirs(p) == Set("k_2_e1", "b_3", "t_1"))
    assert(xs(t.read()) == Seq(7L))
    rm(root)
  }

  test("BucketedTable: merge, addColumn, tag and rebucket write the pinned bytes") {
    val root = Files.createTempDirectory("fmt_bucketed").toString
    val p = s"$root/t"
    val t = new BucketedTable(spark, p, "k", 4, statsCol = Some("v"))
    t.merge(kvDF(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L)), 0L)
    t.merge(kvDF(Seq(2L -> 25L, 6L -> 60L)), 1L)
    t.addColumn("tag", "string", "'x'")
    t.tag("pin", 0L)
    t.rebucket(8)
    assert(metaFiles(p) == Map(
      "_LATEST" -> "2,1,8,1",
      "columns_v1" -> "tag|string|'x'",
      "tag_pin" -> "0",
      // v0: keys 2 | 1 | 3,4 in buckets 1 | 2 | 3
      "manifest_v0" -> "1,c_0/__bucket=1\n2,c_0/__bucket=2\n3,c_0/__bucket=3",
      "zones_v0" -> "1,20,20\n2,10,10\n3,30,40",
      // v1 rewrites buckets 1 (key 2) and 2 (key 6); 3 carries forward
      "manifest_v1" -> "1,c_1/__bucket=1\n2,c_1/__bucket=2\n3,c_0/__bucket=3",
      "zones_v1" -> "1,25,25\n2,10,60\n3,30,40",
      // v2: eight buckets, every entry rewritten under c_2
      "manifest_v2" -> "2,c_2/__bucket=2\n3,c_2/__bucket=3\n5,c_2/__bucket=5",
      "zones_v2" -> "2,10,60\n3,30,40\n5,25,25"))
    assert(dirs(p) == Set("c_2"))
    assert(kv(t.read()) ==
      Map(1L -> 10L, 2L -> 25L, 3L -> 30L, 4L -> 40L, 6L -> 60L))
    rm(root)
  }

  test("legacy bucketed pointers: two fields read the constructor bucket count, three fields schema version 0") {
    val root = Files.createTempDirectory("fmt_legacy_bt").toString
    val p = s"$root/t"
    new BucketedTable(spark, p, "k", 4)
      .merge(kvDF(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)), 0L)
    put(p, "_LATEST", "0,0")
    val two = new BucketedTable(spark, p, "k", 4)
    assert(two.latest == Some((0L, 0L)) && two.lastBatchId == 0L)
    assert(two.currentBuckets == 4 && two.schemaVersion == 0L)
    assert(kv(two.read()) == Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // the pointer's count wins over a different constructor count
    put(p, "_LATEST", "0,0,4")
    val three = new BucketedTable(spark, p, "k", 16)
    assert(three.currentBuckets == 4 && three.schemaVersion == 0L)
    // a merge over a legacy pointer writes the current four-field shape
    three.merge(kvDF(Seq(2L -> 21L)), 1L)
    assert(metaFiles(p)("_LATEST") == "1,1,4,0")
    assert(kv(three.read()) == Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
    rm(root)
  }

  test("legacy snapshot pointer: two fields read schema version 0") {
    val root = Files.createTempDirectory("fmt_legacy_st").toString
    val p = s"$root/t"
    new SnapshotTable(spark, p).commit(toDF(Seq(4L)), 3L)
    put(p, "_LATEST", "0,3")
    val t = new SnapshotTable(spark, p)
    assert(t.latest == Some((0L, 3L)) && t.schemaVersion == 0L)
    assert(xs(t.read()) == Seq(4L))
    t.commit(toDF(Seq(5L)), 4L)
    assert(metaFiles(p)("_LATEST") == "1,4,0")
    rm(root)
  }

  test("legacy append pointers: one line is uncompacted, two lines carry the compaction watermark") {
    val root = Files.createTempDirectory("fmt_legacy_at").toString
    val p = s"$root/t"
    val t = new AppendTable(spark, p)
    t.append(toDF(Seq(1L)), 0L)
    t.append(toDF(Seq(2L)), 1L)
    put(p, "_LATEST", "1")
    assert(t.lastBatchId == 1L && t.compactedThrough == -1L)
    assert(xs(t.read()) == Seq(1L, 2L) && t.readFanIn == 2)
    // hand-written consolidated dir for batches ≤ 0 + the two-line
    // pointer naming it: b_0 is below the watermark and ignored
    toDF(Seq(1L)).write.parquet(s"$p/k_0")
    put(p, "_LATEST", "1\ncompact=0")
    assert(t.lastBatchId == 1L && t.compactedThrough == 0L)
    assert(xs(t.read()) == Seq(1L, 2L) && t.readFanIn == 2)
    t.append(toDF(Seq(3L)), 2L)
    assert(metaFiles(p)("_LATEST") == "2\ncompact=0")
    assert(xs(t.read()) == Seq(1L, 2L, 3L))
    rm(root)
  }

  test("legacy single-column tombstone vector: unbounded scope hides the key in every batch") {
    val root = Files.createTempDirectory("fmt_legacy_tomb").toString
    val p = s"$root/t"
    val t = new AppendTable(spark, p)
    t.append(toDF(Seq(1L, 2L)), 0L)
    t.append(toDF(Seq(2L, 3L)), 1L)
    toDF(Seq(2L)).write.parquet(s"$p/t_1")
    put(p, "_LATEST", "1\ntomb=1")
    assert(xs(t.read()) == Seq(1L, 3L))
    // a re-delivery AFTER the legacy vector is still hidden: the
    // vector predates scoping, so it reads as conservative-redact
    t.append(toDF(Seq(2L, 4L)), 2L)
    assert(xs(t.read()) == Seq(1L, 3L, 4L))
    assert(t.changesSince(1L).map(_.collect().map(_.getLong(0)).toSeq)
      .contains(Seq(4L)))
    // the fold erases it physically and resets the generation
    t.compact()
    assert(metaFiles(p)("_LATEST") == "2\ncompact=2")
    assert(xs(t.read()) == Seq(1L, 3L, 4L))
    rm(root)
  }
}
