package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendTable, BucketedTable}

/** Randomized contract checks for the ∝-batch state layouts: a
  * BucketedTable driven by a random upsert sequence must always read
  * back as the reference in-memory map, replayed batch ids must be
  * no-ops, uncommitted (crash-orphan) data must stay invisible, and
  * the keyed point-lookup must prune to the right buckets.
  */
class StateTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("BucketedTable: random upsert sequence reads back as the reference map") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_prop").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 8)
    val rnd = new scala.util.Random(31)
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    for (batch <- 0L until 6L) {
      val updates = Seq.fill(1 + rnd.nextInt(20))(
        (rnd.nextInt(40).toLong, rnd.nextLong())).distinctBy(_._1)
      updates.foreach { case (k, v) => ref(k) = v }
      t.merge(updates.toDF("k", "v"), batch)
      val got = t.read().get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref.toMap, s"batch $batch diverged")
      // replaying the batch id (with different data!) is a no-op —
      // random keys are < 40, so 999 appearing would prove the replay
      // wrote
      t.merge(Seq((999L, 999L)).toDF("k", "v"), batch)
      assert(t.read().get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == ref.toMap,
        s"batch $batch replay was not a no-op")
      assert(t.lastBatchId == batch)
    }
    // keyed point-lookup returns exactly the asked-for live rows
    val some = ref.keys.take(5).toSeq
    val got = t.readKeys(some.toDF("k")).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == some.map(k => k -> ref(k)).toMap)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable: a resolve that empties a touched bucket drops its manifest entry instead of bricking reads") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_empty").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge((0L until 12L).map(k => (k, k * 10)).toDF("k", "v"), 0L)
    val live = t.read().get.collect().map(_.getLong(0)).toSet
    // a compacting resolve that deletes EVERY row of the touched
    // buckets: partitionBy writes no dirs for them — the manifest must
    // not point at paths that were never written
    t.mergeResolve((0L until 12L).toDF("k"), 1L)((_, _) =>
      Seq.empty[(Long, Long)].toDF("k", "v"))
    assert(t.lastBatchId == 1L)
    // read() must still work (possibly empty), not PATH_NOT_FOUND
    val after = t.read().map(_.collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty)
    assert(after.subsetOf(live) && after.intersect((0L until 12L).toSet).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.rebucket: identical rows under the new count, hashing flips atomically, merges keep working") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_rebucket").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    def upsert(batch: Long, kvs: (Long, Long)*): Unit = {
      kvs.foreach { case (k, v) => ref(k) = v }
      t.merge(kvs.toDF("k", "v"), batch)
    }
    def got() = t.read().get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    upsert(0L, (0L until 40L).map(k => k -> k * 10): _*)
    upsert(1L, 3L -> 999L, 41L -> 410L)
    assert(t.currentBuckets == 4)

    // the growth path: double the buckets — read() is row-identical
    t.rebucket(8)
    assert(t.currentBuckets == 8)
    assert(got() == ref.toMap, "rebucket changed the row set")
    assert(t.lastBatchId == 1L, "rebucket must not move the batch gate")

    // rebucket doubles as full compaction: exactly one version dir
    val vDirs = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c_"))
      .map(_.getName).toSeq
    assert(vDirs.size == 1, s"old version dirs not collected: $vDirs")

    // a NEW handle with the OLD constructor count reads the live
    // count from the pointer — hashing never pairs with a stale layout
    val t2 = new BucketedTable(spark, s"$root/t", "k", 4)
    assert(t2.currentBuckets == 8)

    // merges and point-lookups keep working under the new hashing
    upsert(2L, 5L -> 555L, 42L -> 420L)
    assert(got() == ref.toMap)
    val some = Seq(3L, 5L, 42L)
    assert(t.readKeys(some.toDF("k")).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      some.map(k => k -> ref(k)).toMap)

    // and a post-rebucket merge can land in buckets ≥ the old count
    val buckets = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c_"))
      .flatMap(_.listFiles()).filter(_.isDirectory)
      .map(_.getName.stripPrefix("__bucket=").toLong).toSet
    assert(buckets.exists(_ >= 4),
      s"new hashing never used a bucket ≥ old count: $buckets")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable: an oversized batch key set fails NAMED instead of OOMing the broadcast") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_guard").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4,
      maxBroadcastKeys = 5L)
    val small = (0L until 5L).map(k => (k, k)).toDF("k", "v")
    t.merge(small, 0L) // at the bound: fine
    val big = (0L until 6L).map(k => (k, k)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] { t.merge(big, 1L) }
    assert(e.getMessage.contains("broadcast bound"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      t.readKeys((0L until 6L).toDF("k"))
    }
    assert(e2.getMessage.contains("broadcast bound"), e2.getMessage)
    // the failed merge committed nothing
    assert(t.lastBatchId == 0L)
    assert(t.read().get.count() == 5L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.addColumn: history reads through the default, the next MERGE writes the column, no bucket rewrite") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_migrate").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), 0L)
    val filesBefore = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"$root/t"), Array("parquet"), true)
      .size()

    // migrate mid-lifecycle: additive column with a non-null default
    t.addColumn("label", "string", "'unlabeled'")
    assert(t.schemaVersion == 1L)
    // NO history rewrite — the parquet file set is untouched
    val filesAfter = org.apache.commons.io.FileUtils
      .listFiles(new java.io.File(s"$root/t"), Array("parquet"), true)
      .size()
    assert(filesAfter == filesBefore, "migration rewrote history buckets")
    // old rows read through the default
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((1L, 10L, "unlabeled"), (2L, 20L, "unlabeled"),
        (3L, 30L, "unlabeled")))
    // idempotent per column name
    t.addColumn("label", "string", "'unlabeled'")
    assert(t.schemaVersion == 1L)

    // the next MERGE writes the column; untouched buckets' rows still
    // read the default — a mixed-schema read, exactly the Alembic
    // additive contract
    t.merge(Seq((2L, 21L, "good"), (9L, 90L, "bad"))
      .toDF("k", "v", "label"), 1L)
    val got = t.read().get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = Set((1L, 10L, "unlabeled"), (2L, 21L, "good"),
      (3L, 30L, "unlabeled"), (9L, 90L, "bad"))
    assert(got == want)
    // identical to a from-scratch table whose writers always carried
    // the column (the reads-identical done criterion)
    val fresh = new BucketedTable(spark, s"$root/fresh", "k", 4)
    fresh.merge(Seq((1L, 10L, "unlabeled"), (2L, 20L, "unlabeled"),
      (3L, 30L, "unlabeled")).toDF("k", "v", "label"), 0L)
    fresh.merge(Seq((2L, 21L, "good"), (9L, 90L, "bad"))
      .toDF("k", "v", "label"), 1L)
    assert(fresh.read().get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == got)

    // keyed point-lookup reads through the schema too
    assert(t.readKeys(Seq(1L, 9L).toDF("k")).get.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((1L, "unlabeled"), (9L, "bad")))
    // rebucket materializes the defaults and keeps every value
    t.rebucket(8)
    assert(t.currentBuckets == 8 && t.schemaVersion == 1L)
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == want)
    // a second migration stacks on the first
    t.addColumn("score", "bigint", "0")
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet ==
      want.map(w => (w._1, w._3, 0L)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("SnapshotTable.addColumn: the live snapshot reads through the default until the next commit") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("st_migrate").toString
    val t = new graft.streaming.SnapshotTable(spark, s"$root/t")
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), 0L)
    t.addColumn("rank", "bigint", "-1")
    assert(t.schemaVersion == 1L)
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", -1L), (2L, "b", -1L)))
    // replayed commit stays a no-op after the migration
    t.commit(Seq((9L, "z", 9L)).toDF("id", "x", "rank"), 0L)
    assert(t.read().get.count() == 2)
    // the next commit carries the column; the schema version survives
    t.commit(Seq((1L, "a", 5L), (3L, "c", 7L)).toDF("id", "x", "rank"), 1L)
    assert(t.schemaVersion == 1L)
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((1L, "a", 5L), (3L, "c", 7L)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable: readAt serves every retained version; changesBetween classifies insert/update/delete and prunes unchanged buckets") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_travel").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 8)
    val v0 = (0L until 20L).map(k => k -> k * 10).toMap
    t.merge(v0.toSeq.toDF("k", "v"), 0L)
    // batch 1: update 3→999, insert 25→250, delete 4, and REWRITE 5
    // with its unchanged value (it lands in a rewritten bucket but
    // must NOT appear in the feed)
    val updates = Seq((3L, 999L, false), (25L, 250L, false),
      (4L, 0L, true), (5L, 50L, false)).toDF("k", "v", "del")
    t.mergeResolve(updates, 1L) { (prior, chg) =>
      val ups = chg.filter(!col("del")).drop("del")
      prior match {
        case Some(p) => p.join(broadcast(chg.select("k")), Seq("k"),
          "left_anti").unionByName(ups)
        case None => ups
      }
    }
    val v1 = v0 - 4L + (3L -> 999L) + (25L -> 250L)

    assert(t.versions == Seq(0L, 1L))
    def rowsAt(v: Long) = t.readAt(v).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rowsAt(0L) == v0, "readAt(0) diverged from the v0 state")
    assert(rowsAt(1L) == v1, "readAt(1) diverged from the live state")
    assert(rowsAt(1L) == t.read().get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)

    // the feed: exactly the three changed keys, classified, with old
    // and new values; the value-identical rewrite of 5 is dropped
    val feed = t.changesBetween(0L, 1L).collect().map { r =>
      (r.getLong(0), r.getString(3),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))
    }.toSet
    assert(t.changesBetween(0L, 1L).columns.toSeq ==
      Seq("k", "v", "old_v", "change_type"))
    assert(feed == Set(
      (3L, "update", Some(30L), Some(999L)),
      (25L, "insert", None, Some(250L)),
      (4L, "delete", Some(40L), None)), s"feed misclassified: $feed")

    // pruning: only the buckets the batch touched are read — ≤4 keys
    // touch ≤4 of the 8 populated buckets on either side
    val (fromRels, toRels) = t.changedRelDirs(0L, 1L)
    assert(fromRels.nonEmpty && toRels.nonEmpty)
    assert(fromRels.size <= 4, s"from-side read unchanged buckets: $fromRels")
    assert(toRels.size <= 4, s"to-side read unchanged buckets: $toRels")

    // self-diff is empty on both axes
    assert(t.changedRelDirs(1L, 1L) == (Seq.empty, Seq.empty))
    assert(t.changesBetween(1L, 1L).count() == 0L)
    assert(t.changesBetween(0L, 0L).count() == 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.vacuum trims the horizon: retained versions stay total, collected ones fail NAMED, garbage dirs are gone") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_vacuum").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge((0L until 16L).map(k => (k, k * 10)).toDF("k", "v"), 0L)
    t.merge(Seq((1L, 111L)).toDF("k", "v"), 1L)
    t.merge(Seq((2L, 222L)).toDF("k", "v"), 2L)
    assert(t.versions == Seq(0L, 1L, 2L))

    // time travel reads through the LIVE schema: a later migration's
    // default surfaces over every historical version
    t.addColumn("label", "string", "'u'")
    assert(t.readAt(0L).get.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      (0L until 16L).map(k => k -> "u").toSet)

    t.vacuum(keepVersions = 2)
    assert(t.versions == Seq(1L, 2L))
    assert(t.readAt(1L).get.count() == 16L)
    assert(t.readAt(2L).get.count() == 16L)
    val e = intercept[IllegalStateException] { t.readAt(0L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)

    t.vacuum(keepVersions = 1)
    assert(t.versions == Seq(2L))
    intercept[IllegalStateException] { t.readAt(1L) }
    // the live read is untouched by any of it
    val live = t.read().get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == ((0L until 16L).map(k => k -> k * 10).toMap +
      (1L -> 111L) + (2L -> 222L)))

    // the disk holds EXACTLY what the retained manifest references —
    // superseded bucket dirs are collected, not accumulated
    val (referenced, onDisk) =
      StateTestUtil.manifestRefsAndDisk(s"$root/t", 2L)
    assert(onDisk == referenced,
      s"vacuum left garbage or over-deleted:\n disk=$onDisk\n ref=$referenced")

    // idempotent; merges keep working afterwards — including a writer
    // that OMITS the migrated column (it writes the declared default)
    t.vacuum(keepVersions = 1)
    t.merge(Seq((99L, 555L)).toDF("k", "v"), 3L)
    assert(t.read().get.count() == 17L)
    assert(t.read().get.filter(col("k") === 99L).collect()
      .map(r => (r.getLong(1), r.getString(2))).toSeq == Seq((555L, "u")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable: randomized history — readAt and changesBetween agree with a reference-map replay at every version pair") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_feed_prop").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    val rnd = new scala.util.Random(97)
    // replayed reference states per version
    val states = scala.collection.mutable.ArrayBuffer(
      Map.empty[Long, Long])
    var ref = Map.empty[Long, Long]
    for (batch <- 0L until 7L) {
      val ups = Seq.fill(1 + rnd.nextInt(12))(
        (rnd.nextInt(30).toLong, rnd.nextLong() % 1000L)).distinctBy(_._1)
      val dels = ref.keys.toSeq.sorted
        .filter(_ => rnd.nextBoolean() && rnd.nextBoolean()).take(3)
        .filterNot(ups.map(_._1).contains)
      val chg = (ups.map { case (k, v) => (k, v, false) } ++
        dels.map(k => (k, 0L, true))).toDF("k", "v", "del")
      t.mergeResolve(chg, batch) { (prior, c) =>
        val up = c.filter(!col("del")).drop("del")
        prior match {
          case Some(p) => p.join(broadcast(c.select("k")), Seq("k"),
            "left_anti").unionByName(up)
          case None => up
        }
      }
      ref = ref -- dels ++ ups.toMap
      states += ref
    }
    // every version re-reads as its reference state...
    for (v <- 0L until 7L) {
      val got = t.readAt(v).map(_.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
      assert(got == states((v + 1).toInt), s"readAt($v) diverged")
    }
    // ...and every version PAIR's feed equals the reference diff
    for (i <- 0L until 7L; j <- i until 7L) {
      val a = states((i + 1).toInt)
      val b = states((j + 1).toInt)
      val want = (a.keySet ++ b.keySet).flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (None, Some(nv)) => Some((k, "insert", None, Some(nv)))
          case (Some(ov), None) => Some((k, "delete", Some(ov), None))
          case (Some(ov), Some(nv)) if ov != nv =>
            Some((k, "update", Some(ov), Some(nv)))
          case _ => None
        }
      }
      val got = t.changesBetween(i, j).collect().map { r =>
        (r.getLong(0), r.getString(3),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(1)).map(_.asInstanceOf[Long]))
      }.toSet
      assert(got == want, s"feed($i, $j) diverged:\n got=$got\n want=$want")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.restore re-commits a prior version as new history: reverts ride the feed, the bad version stays readable") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_restore").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    val v0 = (0L until 12L).map(k => k -> k * 10).toMap
    t.merge(v0.toSeq.toDF("k", "v"), 0L)
    // the poisoned batch: clobber 3 keys, insert a junk key
    t.merge(Seq((2L, -1L), (5L, -1L), (7L, -1L), (99L, -1L))
      .toDF("k", "v"), 1L)

    t.restore(0L)
    def live() = t.read().get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live() == v0, "restore diverged from the v0 state")
    // history is append-only: the poison is still readable evidence
    assert(t.versions == Seq(0L, 1L, 2L))
    assert(t.readAt(1L).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      v0 + (2L -> -1L) + (5L -> -1L) + (7L -> -1L) + (99L -> -1L))
    // the feed of the restore is exactly the reverts
    val feed = t.changesBetween(1L, 2L).collect().map { r =>
      (r.getLong(0), r.getString(3),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))
    }.toSet
    assert(feed == Set(
      (2L, "update", Some(-1L), Some(20L)),
      (5L, "update", Some(-1L), Some(50L)),
      (7L, "update", Some(-1L), Some(70L)),
      (99L, "delete", Some(-1L), None)), s"revert feed wrong: $feed")

    // the batch gate did not move: the NEXT streaming batch lands
    t.merge(Seq((100L, 1000L)).toDF("k", "v"), 2L)
    assert(live() == v0 + (100L -> 1000L))
    // restoring the live version is a no-op
    val vBefore = t.latest.get._1
    t.restore(vBefore)
    assert(t.latest.get._1 == vBefore)
    // a restore target that was vacuumed fails NAMED
    t.vacuum(keepVersions = 1)
    val e = intercept[IllegalStateException] { t.restore(0L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("dataset tags pin versions against vacuum on both layouts; untag releases them") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_tags").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge((0L until 8L).map(k => (k, k * 10)).toDF("k", "v"), 0L)
    t.merge(Seq((1L, 111L)).toDF("k", "v"), 1L)
    t.merge(Seq((2L, 222L)).toDF("k", "v"), 2L)

    t.tag("train-v0", 0L)
    assert(t.tags == Map("train-v0" -> 0L))
    t.vacuum(keepVersions = 1)
    // the tagged version survives BELOW the horizon; v1 is collected
    assert(t.versions == Seq(0L, 2L), s"versions ${t.versions}")
    assert(t.readAt(0L).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 8L).map(k => k -> k * 10).toMap)
    intercept[IllegalStateException] { t.readAt(1L) }
    // a tag can only pin a retained version
    intercept[IllegalStateException] { t.tag("gone", 1L) }
    // untag releases: the next vacuum collects it
    t.untag("train-v0")
    assert(t.tags.isEmpty)
    t.vacuum(keepVersions = 1)
    assert(t.versions == Seq(2L))

    // snapshot layout: same contract
    val st = new graft.streaming.SnapshotTable(spark, s"$root/s")
    st.commit(Seq(1L, 2L).toDF("x"), 0L)
    st.commit(Seq(3L).toDF("x"), 1L)
    st.commit(Seq(4L).toDF("x"), 2L)
    st.tag("frozen", 0L)
    st.vacuum(keepVersions = 1)
    assert(st.versions == Seq(0L, 2L))
    assert(st.readAt(0L).get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    st.untag("frozen")
    st.vacuum(keepVersions = 1)
    assert(st.versions == Seq(2L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable zone maps: readRange opens only overlapping dirs, compaction folds the zone, zoneless dirs scan conservatively") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_zone").toString
    val t = new AppendTable(spark, s"$root/t", statsCol = Some("x"))
    t.append((0L until 10L).toDF("x"), 0L)
    t.append((100L until 110L).toDF("x"), 1L)
    t.append((200L until 210L).toDF("x"), 2L)
    t.append(Seq.empty[Long].toDF("x"), 3L) // empty batch: zone "empty"

    def rows(lo: Long, hi: Long) = t.readRange(lo, hi)
      .map(_.collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty)
    // pruning: a range inside batch 1 opens exactly that directory
    assert(t.rangeDirs(100L, 105L).size == 1)
    assert(rows(100L, 105L) == (100L to 105L))
    // a range in a gap opens nothing at all
    assert(t.rangeDirs(50L, 99L).isEmpty && rows(50L, 99L) == Seq.empty)
    // inclusive on both ends, spanning two batches
    assert(t.rangeDirs(9L, 100L).size == 2)
    assert(rows(9L, 100L) == Seq(9L, 100L))
    // the empty batch's dir counts toward fan-in but is never opened
    assert(t.readFanIn == 4)
    assert(t.rangeDirs(0L, 1000L).size == 3)

    // compaction folds the zone: the consolidated dir is pruned when
    // the whole table is out of range, scanned when any batch was in
    t.compact()
    assert(t.readFanIn == 1)
    assert(t.rangeDirs(500L, 600L).isEmpty)
    assert(rows(100L, 105L) == (100L to 105L))
    // a post-compaction append regains fine-grained pruning
    t.append((300L until 310L).toDF("x"), 4L)
    assert(t.rangeDirs(300L, 309L).size == 1)
    assert(rows(300L, 305L) == (300L to 305L))

    // a table opened WITHOUT statsCol fails readRange NAMED...
    val bare = new AppendTable(spark, s"$root/t")
    val e = intercept[IllegalStateException] { bare.readRange(0L, 1L) }
    assert(e.getMessage.contains("statsCol"), e.getMessage)
    // ...and dirs committed without zones are conservatively scanned
    // once stats are enabled
    val t2 = new AppendTable(spark, s"$root/u")
    t2.append((0L until 5L).toDF("x"), 0L)
    val t2z = new AppendTable(spark, s"$root/u", statsCol = Some("x"))
    t2z.append((100L until 105L).toDF("x"), 1L)
    assert(t2z.rangeDirs(100L, 101L).size == 2,
      "zoneless dir must be scanned conservatively")
    assert(t2z.readRange(100L, 101L).get.collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(100L, 101L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable.changesSince is the append change feed, bounded by the compaction horizon") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_feed").toString
    val t = new AppendTable(spark, s"$root/t")
    t.append(Seq(1L, 2L).toDF("x"), 0L)
    t.append(Seq(3L).toDF("x"), 1L)
    t.append(Seq(4L).toDF("x"), 2L)
    def feed(since: Long) = t.changesSince(since)
      .map(_.collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty)
    assert(feed(-1L) == Seq(1L, 2L, 3L, 4L))
    assert(feed(0L) == Seq(3L, 4L))
    assert(feed(2L) == Seq.empty)

    // compaction folds the per-batch dirs: a reader inside the horizon
    // keeps working, one behind it fails NAMED instead of a partial feed
    t.compact()
    assert(feed(2L) == Seq.empty)
    val e = intercept[IllegalArgumentException] { t.changesSince(1L) }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    t.append(Seq(5L).toDF("x"), 3L)
    assert(feed(2L) == Seq(5L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("SnapshotTable: versions/readAt/restore/vacuum — per-batch snapshots stop leaking and history is an undo log") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("st_travel").toString
    val t = new graft.streaming.SnapshotTable(spark, s"$root/t")
    def rows() = t.read().get.collect().map(_.getLong(0)).sorted.toSeq
    t.commit(Seq(1L, 2L).toDF("x"), 0L)
    t.commit(Seq(1L, 2L, 3L).toDF("x"), 1L)
    t.commit(Seq(9L).toDF("x"), 2L) // the poison: clobbered everything
    assert(t.versions == Seq(0L, 1L, 2L))
    assert(t.readAt(1L).get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))

    // undo: the good snapshot copies forward as a NEW version; the
    // poison stays readable evidence; the batch gate does not move
    t.restore(1L)
    assert(rows() == Seq(1L, 2L, 3L))
    assert(t.versions == Seq(0L, 1L, 2L, 3L))
    assert(t.readAt(2L).get.collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(t.lastBatchId == 2L)
    t.commit(Seq(7L).toDF("x"), 3L) // the next batch still lands
    assert(rows() == Seq(7L))

    // the snapshot feed: the poison (v1 → v2) classifies as the
    // clobber it was — key-only schema, so inserts and deletes
    val feed = t.changesBetween(1L, 2L, "x").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((9L, "insert"), (1L, "delete"), (2L, "delete"),
      (3L, "delete")), s"snapshot feed wrong: $feed")

    // GC: only the horizon stays; a vacuumed version fails NAMED
    t.vacuum(keepVersions = 2)
    assert(t.versions == Seq(3L, 4L))
    val e = intercept[IllegalStateException] { t.readAt(0L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(rows() == Seq(7L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable: appends accumulate, replays are no-ops, orphan dirs stay invisible") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_prop").toString
    val t = new AppendTable(spark, s"$root/t")
    assert(t.read().isEmpty && t.lastBatchId == -1L)
    t.append(Seq(1L, 2L).toDF("x"), 0L)
    t.append(Seq(3L).toDF("x"), 1L)
    // replay with different data: no-op
    t.append(Seq(99L).toDF("x"), 1L)
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // crash orphan: a data directory from an uncommitted future batch
    // (written, pointer never moved) must not surface in reads
    Seq(7L).toDF("x").write.parquet(s"$root/t/b_5")
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(t.lastBatchId == 1L)
    // ...until its batch commits (the deterministic-replay heal path:
    // append overwrites the orphan with the real batch)
    t.append(Seq(4L).toDF("x"), 5L)
    assert(t.read().get.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable.compact folds batch dirs crash-safely and later appends still land") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_compact").toString
    val t = new AppendTable(spark, s"$root/t")
    t.append(Seq(1L, 2L).toDF("x"), 0L)
    t.append(Seq(3L).toDF("x"), 1L)
    t.append(Seq(4L).toDF("x"), 2L)
    t.compact()
    def rows() = t.read().get.collect().map(_.getLong(0)).sorted.toSeq
    assert(rows() == Seq(1L, 2L, 3L, 4L))
    assert(t.lastBatchId == 2L)
    // batch dirs are gone, one consolidated dir remains
    val dirs = new java.io.File(s"$root/t").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("k_2"), s"unexpected layout: $dirs")
    // compacting again is a no-op; appends after compaction stack on top
    t.compact()
    t.append(Seq(5L).toDF("x"), 3L)
    assert(rows() == Seq(1L, 2L, 3L, 4L, 5L))
    // replay of a pre-compaction batch id stays a no-op
    t.append(Seq(99L).toDF("x"), 1L)
    assert(rows() == Seq(1L, 2L, 3L, 4L, 5L))
    // crash-sim: a stale batch dir REAPPEARING below the compaction
    // watermark (deletion raced a crash) must stay invisible
    Seq(77L).toDF("x").write.parquet(s"$root/t/b_1")
    assert(rows() == Seq(1L, 2L, 3L, 4L, 5L))
    // and the second compact folds the post-compaction appends too
    t.compact()
    assert(rows() == Seq(1L, 2L, 3L, 4L, 5L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable.deleteKeys redacts across batch and consolidated dirs; epochs never overwrite a live dir; the log keeps working") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_delete").toString
    val t = new AppendTable(spark, s"$root/t", statsCol = Some("x"))
    def rows() = t.read().map(_.collect().map(_.getLong(0)).sorted.toSeq)
      .getOrElse(Seq.empty)
    // delete on a never-written table is a no-op
    t.deleteKeys(Seq(1L).toDF("x"), "x")
    assert(rows() == Seq.empty && t.lastBatchId == -1L)

    t.append(Seq(1L, 2L, 3L).toDF("x"), 0L)
    t.append(Seq(4L, 5L).toDF("x"), 1L)
    t.compact() // epoch 0 consolidated dir k_1
    t.append(Seq(6L, 7L).toDF("x"), 2L)
    // delete spans the consolidated dir AND a later batch dir; a key
    // listed twice deletes once (the anti-join takes duplicates)
    t.deleteKeys(Seq(2L, 6L, 99L, 6L, 2L).toDF("x"), "x")
    assert(rows() == Seq(1L, 3L, 4L, 5L, 7L))
    // a delete IS a consolidation: fan-in 1, batch gate unmoved
    assert(t.readFanIn == 1 && t.lastBatchId == 2L)
    assert(t.compactedThrough == 2L)
    // the epoch names the dir — never k_<ct> in place over a live dir
    val dirs = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("k_2_e1"), s"unexpected layout: $dirs")
    // zones ride the rewrite: the redacted range prunes to nothing
    assert(t.rangeDirs(90L, 100L).isEmpty)
    assert(t.readRange(1L, 3L).get.collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L))
    // back-to-back delete at the same batch id lands in a NEW epoch
    // (duplicate keys again, from a shuffled frame, not a local one)
    t.deleteKeys(Seq(4L, 4L, 4L).toDF("x").repartition(2), "x")
    assert(rows() == Seq(1L, 3L, 5L, 7L))
    val dirs2 = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs2 == Seq("k_2_e2"), s"unexpected layout: $dirs2")
    // appends stack on top; a later compact folds them into the epoch
    t.append(Seq(8L).toDF("x"), 3L)
    assert(rows() == Seq(1L, 3L, 5L, 7L, 8L))
    t.compact()
    assert(rows() == Seq(1L, 3L, 5L, 7L, 8L) && t.readFanIn == 1)
    // the horizon advanced with the delete: a feed reader behind it
    // fails NAMED, one at it reads the appends since
    intercept[IllegalArgumentException](t.changesSince(1L))
    assert(t.changesSince(3L).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("addColumn rejects an invalid default or type at MIGRATE time; the fixed declaration then lands") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_migrate_validate").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4)
    t.merge(Seq((1L, 10L)).toDF("k", "v"), 0L)
    // a typo'd default or type would brick every read if committed —
    // rejected before the side file lands, so the fix is declarable
    intercept[IllegalArgumentException](t.addColumn("r", "bigint", "abc("))
    intercept[IllegalArgumentException](t.addColumn("r", "not_a_type", "1"))
    intercept[IllegalArgumentException](t.addColumn("r\nx", "bigint", "1"))
    assert(t.schemaVersion == 0L, "a rejected migration must not commit")
    t.addColumn("r", "bigint", "42")
    assert(t.read().get.select("r").head.getLong(0) == 42L)
    // a default CONTAINING a pipe is legal (last field of the side
    // file's limit-3 split) and round-trips
    t.addColumn("sep", "string", "'a|b'")
    assert(t.read().get.select("sep").head.getString(0) == "a|b")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("AppendTable.deleteKeysVectored: every read serves the redacted view at once; compaction is the physical-erasure moment") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_vdelete").toString
    val t = new AppendTable(spark, s"$root/t", statsCol = Some("x"))
    def rows() = t.read().map(_.collect().map(_.getLong(0)).sorted.toSeq)
      .getOrElse(Seq.empty)
    def dirs(prefix: String) = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).sorted.toSeq
    // vectored delete on a never-written table is a no-op
    t.deleteKeysVectored(Seq(1L).toDF("x"), "x")
    assert(rows() == Seq.empty)

    t.append(Seq(1L, 2L, 3L).toDF("x"), 0L)
    t.append(Seq(4L, 5L).toDF("x"), 1L)
    t.deleteKeysVectored(Seq(2L, 4L, 99L).toDF("x"), "x")
    // the LIVE view is redacted everywhere — full, range, feed —
    // while NO data directory was rewritten
    assert(rows() == Seq(1L, 3L, 5L))
    assert(dirs("b_") == Seq("b_0", "b_1"), "no data dir may be rewritten")
    assert(dirs("t_") == Seq("t_1"))
    assert(t.readRange(2L, 4L).get.collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L))
    assert(t.changesSince(0L).get.collect().map(_.getLong(0)).toSeq ==
      Seq(5L), "the feed must not re-serve a tombstoned row")
    // generations stack (prior vector unioned in, deduped)
    t.deleteKeysVectored(Seq(5L).toDF("x"), "x")
    assert(rows() == Seq(1L, 3L) && dirs("t_") == Seq("t_2"))
    // the key column is pinned per table
    intercept[IllegalArgumentException](
      t.deleteKeysVectored(Seq(1L).toDF("y"), "y"))
    // appends keep working against a live vector
    t.append(Seq(6L).toDF("x"), 2L)
    assert(rows() == Seq(1L, 3L, 6L))
    // compaction FOLDS the vector: survivors only on disk, generation
    // cleared, tombstone dirs collected
    t.compact()
    assert(rows() == Seq(1L, 3L, 6L))
    assert(dirs("t_").isEmpty, "fold must clear the tombstone dirs")
    assert(dirs("b_").isEmpty && dirs("k_").size == 1)
    // physical: the raw consolidated dir holds exactly the survivors
    assert(spark.read.parquet(s"$root/t/${dirs("k_").head}")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 6L))
    // a fold with ct == last (nothing to consolidate but a live
    // vector) lands in a NEW epoch dir, never in place
    t.deleteKeysVectored(Seq(3L).toDF("x"), "x")
    val before = dirs("k_").head
    t.compact()
    assert(rows() == Seq(1L, 6L))
    val after = dirs("k_").head
    assert(after != before, "the fold must not rewrite a live dir in place")
    assert(spark.read.parquet(s"$root/t/$after")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 6L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("deleteKeysVectored is SCOPED: a doc re-delivered after the delete is live everywhere and survives the fold") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("at_vdelete_scope").toString
    val t = new AppendTable(spark, s"$root/t", statsCol = Some("x"))
    def rows() = t.read().map(_.collect().map(_.getLong(0)).sorted.toSeq)
      .getOrElse(Seq.empty)
    def kDirs() = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("k_"))
      .map(_.getName).toSeq
    t.append(Seq(1L, 2L).toDF("x"), 0L)
    t.deleteKeysVectored(Seq(2L).toDF("x"), "x")
    assert(rows() == Seq(1L))
    // forget ≠ ban: the data subject resubmits — the same key appends
    // in a LATER batch, above the tombstone's scope bound
    t.append(Seq(2L, 3L).toDF("x"), 1L)
    assert(rows() == Seq(1L, 2L, 3L),
      "a re-delivery after the vector must be served by read()")
    assert(t.readRange(2L, 2L).get.collect().map(_.getLong(0)).toSeq ==
      Seq(2L), "…and by the range read")
    assert(t.changesSince(0L).get.collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L),
      "…and by the change feed (the drain must see the resubmission)")
    // the fold erases exactly the PRE-vector copy: the re-delivered
    // row is physically on disk afterwards, the batch-0 copy is not
    t.compact()
    assert(rows() == Seq(1L, 2L, 3L))
    assert(spark.read.parquet(s"$root/t/${kDirs().head}")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "the fold must physically keep the re-delivered copy only")
    // re-deleting the key widens its scope to the new bound (max-merge)
    t.deleteKeysVectored(Seq(2L).toDF("x"), "x")
    assert(rows() == Seq(1L, 3L))
    // …and a THIRD delivery above the widened bound is again live
    t.append(Seq(2L).toDF("x"), 2L)
    assert(rows() == Seq(1L, 2L, 3L))
    // the scope column name is reserved on the key
    intercept[IllegalArgumentException] {
      val t2 = new AppendTable(spark, s"$root/t2")
      t2.append(Seq(1L).toDF("tomb_upto"), 0L)
      t2.deleteKeysVectored(Seq(1L).toDF("tomb_upto"), "tomb_upto")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a statsCol-less commit clears a crashed op's stale zones for the version it claims (stale zones must never prune committed rows)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_zone_stale").toString
    val tz = new BucketedTable(spark, s"$root/t", "k", 4,
      statsCol = Some("v"))
    tz.merge(Seq((1L, 100L), (2L, 50L)).toDF("k", "v"), 0L)
    // simulate a stats-handle merge that wrote zones_v1 then crashed
    // before its pointer move: the zone claims every bucket ⊆ [0, 1]
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/t/zones_v1"),
      "0,0,1\n1,0,1\n2,0,1\n3,0,1".getBytes("UTF-8"))
    // a statsCol-less handle (the mixed-deployment case) claims v1
    new BucketedTable(spark, s"$root/t", "k", 4)
      .merge(Seq((3L, 999L)).toDF("k", "v"), 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/t/zones_v1")),
      "the claimed version's stale zones file must be cleared")
    // without the clear, the stale zone [0,1] would prune every
    // bucket and silently drop the committed row from the range read
    assert(tz.readRange(900L, 1000L).get.collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable zone maps: range reads open only overlapping buckets; zones carry forward, recompute on rebucket/restore, and vacuum collects stale files") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_zones").toString
    val t = new BucketedTable(spark, s"$root/t", "k", 4,
      statsCol = Some("s"))
    // bucket-correlated stats (the tenant-prefixed key-space shape):
    // s = bucket(k)·100 + k, so bucket b's zone ⊆ [b·100, b·100+63]
    def withS(keys: Seq[Long]) = keys.toDF("k").select(col("k"),
      (pmod(xxhash64(col("k")), lit(4L)) * 100 + col("k")).as("s"))
    t.merge(withS(0L until 64L), 0L)
    def zoneFiles() = new java.io.File(s"$root/t").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("zones_v") &&
        !f.getName.contains(".tmp")).map(_.getName).sorted.toSeq
    assert(zoneFiles() == Seq("zones_v0"))
    val (opened, total) = t.rangeFanIn(100L, 199L)
    assert(total == 4 && opened == 1,
      s"range [100,199] must open ONLY bucket 1: ($opened, $total)")
    def rangeRows(lo: Long, hi: Long) =
      t.readRange(lo, hi).map(_.collect().map(_.getLong(0)).sorted.toSeq)
        .getOrElse(Seq.empty)
    def filterRows(lo: Long, hi: Long) = t.read().get
      .filter(col("s") >= lo && col("s") <= hi)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rangeRows(100L, 199L) == filterRows(100L, 199L))
    assert(rangeRows(100L, 199L).nonEmpty)
    // an update inside one bucket: untouched buckets' zones carry
    // forward by value, fan-in unchanged, rows correct
    t.merge(withS(Seq(7L)), 1L)
    assert(t.rangeFanIn(100L, 199L) == ((1, 4)))
    assert(rangeRows(0L, 99L) == filterRows(0L, 99L))
    // restore: the restored version gets fresh zones (restore rewrites
    // every bucket; run it BEFORE rebucket — a rebucket collects the
    // older versions)
    t.restore(0L)
    assert(rangeRows(100L, 199L) == filterRows(100L, 199L))
    assert(t.rangeFanIn(100L, 199L) == ((1, 4)))
    // rebucket: all zones recomputed under the new layout; the old
    // correlation is gone, so only CORRECTNESS is asserted
    t.rebucket(8)
    assert(rangeRows(100L, 199L) == filterRows(100L, 199L))
    assert(t.rangeFanIn(100L, 199L)._2 == t.rangeFanIn(Long.MinValue,
      Long.MaxValue)._2, "total must be the live manifest size")
    // vacuum: zone files ride with their manifests
    t.vacuum(1)
    val live = t.versions
    assert(zoneFiles().forall(z =>
      live.contains(z.stripPrefix("zones_v").toLong)),
      s"stale zone files survived vacuum: ${zoneFiles()} vs $live")
    // a table without a statsCol fails readRange NAMED
    intercept[IllegalStateException](
      new BucketedTable(spark, s"$root/t2", "k", 4).readRange(0L, 1L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("change feed rejects a key column named old_<dataCol> — the collision a data column would cause") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("bt_oldkey").toString
    val t = new BucketedTable(spark, s"$root/t", "old_v", 4)
    t.merge(Seq((1L, 10L)).toDF("old_v", "v"), 0L)
    t.merge(Seq((1L, 11L)).toDF("old_v", "v"), 1L)
    // key old_v beside data column v would duplicate the feed's old_v
    // output — fail NAMED, same as a data column named change_type
    intercept[IllegalArgumentException](t.changesBetween(0L, 1L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
