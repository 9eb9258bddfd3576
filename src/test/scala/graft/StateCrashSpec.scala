package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendTable, BucketedTable, Failpoints,
  SnapshotTable}

/** Randomized-boundary crash matrix for the ∝-batch state tables
  * (round-11 verdict item 7): every durable mutation inside
  * append/compact/merge/rebucket is a [[Failpoints]] kill point; this
  * spec sweeps a kill at EVERY point of every operation and asserts
  * the two-sided contract the tables promise:
  *
  *   1. after ANY kill, `read()` observes the full pre-state or the
  *      full post-state — never a torn mixture;
  *   2. replaying the killed operation converges to the post-state.
  *
  * Crash-after-op-i is the same boundary as crash-before-op-i+1, and
  * crash after the final op is completion, so before-each-op points
  * cover the whole matrix. The sweep is exhaustive, not sampled: it
  * arms k = 1, 2, … until an armed run completes without crashing
  * (k walked past the operation's last mutation).
  */
class StateCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Sweep every kill point of `op` against the state-read `state`
    * (one table: [[KillSweep.perTable]] with a single read). `setup`
    * builds a fresh table rooted at the given dir. Returns the number
    * of kill points found, so callers can assert the op was actually
    * swept.
    */
  private def sweep[S](name: String)(setup: String => Unit)(
      op: String => Unit)(state: String => S): Int =
    KillSweep.perTable(name, Seq(name -> state))(setup)(op).points

  private def toDF(xs: Seq[Long]) = {
    val s = spark; import s.implicits._
    xs.toDF("x")
  }
  private def kvDF(xs: Seq[(Long, Long)]) = {
    val s = spark; import s.implicits._
    xs.toDF("k", "v")
  }

  private def at(root: String) = new AppendTable(spark, s"$root/t")
  private def atRows(root: String): Seq[Long] =
    at(root).read().map(_.collect().map(_.getLong(0)).sorted.toSeq)
      .getOrElse(Seq.empty)

  private def bt(root: String) = new BucketedTable(spark, s"$root/t", "k", 4)
  private def btMap(root: String): Map[Long, Long] =
    bt(root).read().map(_.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)

  test("AppendTable.append survives a kill at every file-op boundary") {
    val points = sweep("append") { root =>
      at(root).append(toDF(Seq(1L, 2L)), 0L)
      at(root).append(toDF(Seq(3L)), 1L)
    } { root =>
      at(root).append(toDF(Seq(4L, 5L)), 2L)
    } { root => (atRows(root), at(root).lastBatchId) }
    assert(points >= 3, s"append: expected ≥3 kill points, saw $points")
  }

  test("AppendTable.compact survives a kill at every file-op boundary") {
    val points = sweep("compact") { root =>
      at(root).append(toDF(Seq(1L, 2L)), 0L)
      at(root).append(toDF(Seq(3L)), 1L)
      at(root).append(toDF(Seq(4L)), 2L)
    } { root =>
      at(root).compact()
    } { root =>
      // rows and the batch gate are the compaction invariants; the
      // fan-in is NOT part of the state equality (a kill during
      // best-effort cleanup legitimately leaves stale-but-invisible
      // dirs), so assert it only as a bound
      val t = at(root)
      assert(t.readFanIn <= 3)
      (atRows(root), t.lastBatchId)
    }
    // data write + pointer (tmp, move) + 3 batch-dir deletes
    assert(points >= 6, s"compact: expected ≥6 kill points, saw $points")
  }

  test("AppendTable: appends after a killed-then-healed compact still land") {
    // one targeted composition the pure sweep can't see: kill compact
    // between the pointer move and the cleanup, then APPEND before any
    // replay — the stale dirs below the watermark must stay invisible
    // to the new read
    val root = Files.createTempDirectory("crash_compact_append").toString
    val t = at(root)
    t.append(toDF(Seq(1L, 2L)), 0L)
    t.append(toDF(Seq(3L)), 1L)
    Failpoints.arm(4) // data, ptr.tmp, ptr.move, then the first delete
    try intercept[Failpoints.Crash] { t.compact() }
    finally Failpoints.disarm()
    t.append(toDF(Seq(9L)), 2L)
    assert(atRows(root) == Seq(1L, 2L, 3L, 9L))
    assert(t.readFanIn == 2) // k_1 + b_2, stale b_0/b_1 invisible
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("BucketedTable.merge survives a kill at every file-op boundary") {
    val points = sweep("merge") { root =>
      bt(root).merge(kvDF((0L until 20L).map(k => k -> k * 10)), 0L)
    } { root =>
      bt(root).merge(kvDF(Seq(3L -> 999L, 25L -> 250L)), 1L)
    } { root => (btMap(root), bt(root).lastBatchId) }
    // data + manifest (tmp, move) + pointer (tmp, move)
    assert(points >= 5, s"merge: expected ≥5 kill points, saw $points")
  }

  test("BucketedTable.rebucket survives a kill at every file-op boundary") {
    val points = sweep("rebucket") { root =>
      bt(root).merge(kvDF((0L until 40L).map(k => k -> k * 10)), 0L)
      bt(root).merge(kvDF(Seq(3L -> 999L, 41L -> 410L)), 1L)
    } { root =>
      bt(root).rebucket(8)
    } { root =>
      val t = bt(root)
      // rows + gate are invariants; the live bucket count is the one
      // field the op flips — pre 4, post 8, never anything else
      assert(t.currentBuckets == 4 || t.currentBuckets == 8)
      (btMap(root), t.lastBatchId, t.currentBuckets)
    }
    assert(points >= 5, s"rebucket: expected ≥5 kill points, saw $points")
  }

  private def zat(root: String) =
    new AppendTable(spark, s"$root/t", statsCol = Some("x"))

  test("AppendTable.append with zone maps survives a kill at every file-op boundary") {
    val points = sweep("append_zone") { root =>
      zat(root).append(toDF(Seq(1L, 2L)), 0L)
    } { root =>
      zat(root).append(toDF(Seq(10L, 11L)), 1L)
    } { root =>
      val t = zat(root)
      (atRows(root), t.lastBatchId, t.rangeDirs(10L, 11L).size)
    }
    // data + zone (tmp, move) + pointer (tmp, move)
    assert(points >= 5, s"append_zone: expected ≥5 kill points, saw $points")
  }

  test("AppendTable.compact with zone maps survives a kill at every file-op boundary") {
    val points = sweep("compact_zone") { root =>
      zat(root).append(toDF(Seq(1L, 2L)), 0L)
      zat(root).append(toDF(Seq(10L, 11L)), 1L)
      zat(root).append(toDF(Seq(20L)), 2L)
    } { root =>
      zat(root).compact()
    } { root =>
      val t = zat(root)
      assert(t.readFanIn <= 3)
      // a range read inside batch 1 stays correct at every boundary —
      // pre-compact it opens b_1, post-compact the consolidated dir
      val ranged = t.readRange(10L, 11L)
        .map(_.collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty)
      (atRows(root), t.lastBatchId, ranged)
    }
    // data + zone (tmp, move) + pointer (tmp, move) + dir/zone cleans
    assert(points >= 8, s"compact_zone: expected ≥8 kill points, saw $points")
  }

  test("AppendTable.deleteKeys survives a kill at every file-op boundary") {
    val points = sweep("delete") { root =>
      zat(root).append(toDF(Seq(1L, 2L)), 0L)
      zat(root).append(toDF(Seq(10L, 11L)), 1L)
      zat(root).compact() // a live epoch-0 consolidated dir to redact
      zat(root).append(toDF(Seq(20L)), 2L)
    } { root =>
      zat(root).deleteKeys(toDF(Seq(2L, 20L)), "x")
    } { root =>
      val t = zat(root)
      assert(t.readFanIn <= 2)
      // the redacted key must be pre-fully-present or post-fully-gone
      // under the zone-pruned read too, at every boundary
      val ranged = t.readRange(2L, 2L)
        .map(_.collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty)
      (atRows(root), t.lastBatchId, ranged)
    }
    // survivor data + zone (tmp, move) + pointer (tmp, move) + cleans
    assert(points >= 6, s"delete: expected ≥6 kill points, saw $points")
  }

  test("AppendTable.deleteKeysVectored survives a kill at every file-op boundary") {
    val points = sweep("vdelete") { root =>
      at(root).append(toDF(Seq(1L, 2L)), 0L)
      at(root).append(toDF(Seq(3L, 4L)), 1L)
      at(root).deleteKeysVectored(toDF(Seq(2L)), "x") // a prior generation to union
    } { root =>
      at(root).deleteKeysVectored(toDF(Seq(4L)), "x")
    } { root => (atRows(root), at(root).lastBatchId) }
    // tombstone data + pointer (tmp, move) + stale-generation clean
    assert(points >= 4, s"vdelete: expected ≥4 kill points, saw $points")
  }

  test("AppendTable.compact folding a live deletion vector survives a kill at every file-op boundary") {
    val points = sweep("compact_fold") { root =>
      at(root).append(toDF(Seq(1L, 2L)), 0L)
      at(root).append(toDF(Seq(3L, 4L)), 1L)
      at(root).deleteKeysVectored(toDF(Seq(2L, 3L)), "x")
    } { root =>
      at(root).compact()
    } { root =>
      val t = at(root)
      assert(t.readFanIn <= 2)
      (atRows(root), t.lastBatchId)
    }
    // fold data + pointer (tmp, move) + dir/tombstone cleans
    assert(points >= 5, s"compact_fold: expected ≥5 kill points, saw $points")
  }

  test("BucketedTable.restore survives a kill at every file-op boundary") {
    val points = sweep("restore") { root =>
      bt(root).merge(kvDF((0L until 12L).map(k => k -> k * 10)), 0L)
      bt(root).merge(kvDF(Seq(2L -> -1L, 99L -> -1L)), 1L)
    } { root =>
      bt(root).restore(0L)
    } { root =>
      val t = bt(root)
      (btMap(root), t.lastBatchId, t.latest.get._1)
    }
    // data + manifest (tmp, move) + pointer (tmp, move)
    assert(points >= 5, s"restore: expected ≥5 kill points, saw $points")
  }

  private def btz(root: String) =
    new BucketedTable(spark, s"$root/t", "k", 4, statsCol = Some("v"))
  private def btzState(root: String) = {
    val t = btz(root)
    (t.read().map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty[Long, Long]),
      t.readRange(20L, 50L).map(_.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[Long, Long]),
      t.rangeFanIn(20L, 50L))
  }

  test("BucketedTable.merge with zone maps survives a kill at every file-op boundary; range reads never tear") {
    val points = sweep("merge_zones") { root =>
      btz(root).merge(
        kvDF(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 45L))), 0L)
    } { root =>
      btz(root).merge(kvDF(Seq((2L, 25L), (6L, 60L))), 1L)
    }(btzState)
    // data + zones tmp/move + manifest tmp/move + pointer tmp/move
    assert(points >= 7, s"merge_zones: expected ≥7 kill points, saw $points")
  }

  test("BucketedTable.vacuum collects superseded zone side files crash-safely (zones only ever trail their manifest)") {
    val points = sweep("vacuum_zones") { root =>
      val t = btz(root)
      t.merge(kvDF((0L until 12L).map(k => k -> (k * 10L))), 0L)
      t.merge(kvDF(Seq(1L -> 111L)), 1L)
      t.merge(kvDF(Seq(2L -> 222L)), 2L)
    } { root =>
      btz(root).vacuum(keepVersions = 1)
    } { root =>
      // the LIVE version's range read is the zone invariant at every
      // boundary: vacuum deletes a zones file only after its manifest
      // is gone, so a mid-collect version can never serve its zones
      btzState(root)
    }
    assert(points >= 4, s"vacuum_zones: expected ≥4 kill points, saw $points")
  }

  test("BucketedTable.vacuum survives a kill at every file-op boundary") {
    val points = sweep("vacuum") { root =>
      bt(root).merge(kvDF((0L until 20L).map(k => k -> k)), 0L)
      bt(root).merge(kvDF(Seq(1L -> 111L)), 1L)
      bt(root).merge(kvDF(Seq(2L -> 222L)), 2L)
    } { root =>
      bt(root).vacuum(keepVersions = 1)
    } { root =>
      // the live read and the retained horizon are the invariants at
      // every boundary; versions BELOW the horizon may be mid-collect
      // (they fail readAt's named totality check rather than serve a
      // torn subset), so they are deliberately not state
      val t = bt(root)
      (btMap(root), t.lastBatchId, t.versions.contains(2L),
        t.readAt(2L).map(_.count()).getOrElse(0L))
    }
    // ≥2 manifest deletes + ≥2 superseded bucket-dir deletes
    assert(points >= 4, s"vacuum: expected ≥4 kill points, saw $points")
  }

  test("BucketedTable.tag and a tag-respecting vacuum survive kills at every file-op boundary") {
    // tag: side file lands tmp + move — visible atomically or not at all
    val tagPoints = sweep("tag") { root =>
      bt(root).merge(kvDF(Seq(1L -> 10L)), 0L)
      bt(root).merge(kvDF(Seq(2L -> 20L)), 1L)
    } { root =>
      bt(root).tag("pin", 0L)
    } { root =>
      val t = bt(root)
      (btMap(root), t.tags)
    }
    assert(tagPoints >= 2, s"tag: expected ≥2 kill points, saw $tagPoints")

    // vacuum with a tag present: the pinned version is retained at
    // EVERY boundary — a kill can never leave it half-collected
    val points = sweep("vacuum_tagged") { root =>
      val t = bt(root)
      t.merge(kvDF((0L until 12L).map(k => k -> k)), 0L)
      // batch 2 rewrites batch 1's bucket, so v1 leaves a garbage dir
      // (otherwise every v1 dir rides forward by reference and the
      // vacuum's only mutation is the manifest delete)
      t.merge(kvDF(Seq(1L -> 111L)), 1L)
      t.merge(kvDF(Seq(1L -> 222L)), 2L)
      t.tag("pin", 0L)
    } { root =>
      bt(root).vacuum(keepVersions = 1)
    } { root =>
      val t = bt(root)
      (btMap(root), t.versions.contains(0L), t.versions.contains(2L),
        t.readAt(0L).get.count(), t.tags)
    }
    assert(points >= 2, s"vacuum_tagged: expected ≥2 kill points, saw $points")
  }

  test("SnapshotTable.commit survives a kill at every file-op boundary") {
    import graft.streaming.SnapshotTable
    val points = sweep("snapshot") { root =>
      new SnapshotTable(spark, s"$root/t").commit(toDF(Seq(1L, 2L)), 0L)
    } { root =>
      new SnapshotTable(spark, s"$root/t").commit(toDF(Seq(3L, 4L)), 1L)
    } { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      (t.read().map(_.collect().map(_.getLong(0)).sorted.toSeq)
        .getOrElse(Seq.empty), t.lastBatchId)
    }
    assert(points >= 3, s"snapshot: expected ≥3 kill points, saw $points")
  }

  test("SnapshotTable.restore survives a kill at every file-op boundary") {
    import graft.streaming.SnapshotTable
    val points = sweep("restore_st") { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      t.commit(toDF(Seq(1L, 2L)), 0L)
      t.commit(toDF(Seq(9L)), 1L)
    } { root =>
      new SnapshotTable(spark, s"$root/t").restore(0L)
    } { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      (t.read().get.collect().map(_.getLong(0)).sorted.toSeq,
        t.lastBatchId, t.latest.get._1)
    }
    // data copy + pointer (tmp, move)
    assert(points >= 3, s"restore_st: expected ≥3 kill points, saw $points")
  }

  test("SnapshotTable.vacuum survives a kill at every file-op boundary") {
    import graft.streaming.SnapshotTable
    val points = sweep("vacuum_st") { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      t.commit(toDF(Seq(1L)), 0L)
      t.commit(toDF(Seq(2L)), 1L)
      t.commit(toDF(Seq(3L)), 2L)
    } { root =>
      new SnapshotTable(spark, s"$root/t").vacuum(keepVersions = 1)
    } { root =>
      // live read + horizon are the invariants; below-horizon
      // versions may be mid-collect (readAt fails NAMED, never torn)
      val t = new SnapshotTable(spark, s"$root/t")
      (t.read().get.collect().map(_.getLong(0)).toSeq, t.lastBatchId,
        t.versions.contains(2L))
    }
    // two below-horizon snapshot dirs
    assert(points >= 2, s"vacuum_st: expected ≥2 kill points, saw $points")
  }

  test("BucketedTable.addColumn survives a kill at every file-op boundary") {
    val points = sweep("migrate_bt") { root =>
      bt(root).merge(kvDF(Seq(1L -> 10L, 2L -> 20L)), 0L)
    } { root =>
      bt(root).addColumn("label", "string", "'u'")
    } { root =>
      val t = bt(root)
      // the read is TOTAL at every boundary: pre-flip it is the
      // 2-column table, post-flip the default surfaces — never a torn
      // schema (the orphan side file is invisible until the pointer)
      val rows = t.read().get.collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.schema.fieldNames.contains("label")) r.getString(2)
          else "<pre>")
      }.toSet
      (rows, t.schemaVersion, t.lastBatchId, t.currentBuckets)
    }
    // schema (tmp, move) + pointer (tmp, move)
    assert(points >= 4, s"migrate: expected ≥4 kill points, saw $points")
  }

  test("SnapshotTable.addColumn survives a kill at every file-op boundary") {
    import graft.streaming.SnapshotTable
    val points = sweep("migrate_st") { root =>
      new SnapshotTable(spark, s"$root/t").commit(kvDF(Seq(1L -> 10L)), 0L)
    } { root =>
      new SnapshotTable(spark, s"$root/t").addColumn("rank", "bigint", "-1")
    } { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      val rows = t.read().get.collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.schema.fieldNames.contains("rank")) r.getLong(2)
          else Long.MinValue)
      }.toSet
      (rows, t.schemaVersion, t.lastBatchId)
    }
    assert(points >= 4, s"migrate: expected ≥4 kill points, saw $points")
  }

  test("merge replayed over a crashed MIGRATION converges with the old schema, the healed migration then lands") {
    // crash addColumn after the schema side file but before the
    // pointer: the file is an orphan, merges keep the old schema; the
    // re-invoked migration overwrites the orphan and flips
    val root = Files.createTempDirectory("crash_migrate_merge").toString
    val t = bt(root)
    t.merge(kvDF(Seq(1L -> 10L)), 0L)
    Failpoints.arm(3) // schema.tmp, schema.move, then pointer.tmp → kill
    try intercept[Failpoints.Crash] { t.addColumn("label", "string", "'u'") }
    finally Failpoints.disarm()
    assert(t.schemaVersion == 0L, "crashed migration must not be visible")
    t.merge(kvDF(Seq(2L -> 20L)), 1L)
    assert(btMap(root) == Map(1L -> 10L, 2L -> 20L))
    t.addColumn("label", "string", "'u'")
    assert(t.schemaVersion == 1L)
    assert(t.read().get.collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set(1L -> "u", 2L -> "u"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("IngestStream.forget survives a kill at every file-op boundary: per-table pre-or-post, ledger strictly last, replay converges") {
    import graft.streaming.IngestStream
    val s = spark
    import s.implicits._
    val (p, q, r) = IngestStreamSpec.bridgeTokens()
    // bridge corpus + a decoy; token budget 2 makes the bridge doc its
    // own shard, so forgetting it exercises the empty-dir delete too
    def ingest(root: String): Unit = IngestStream.processBatch(
      Seq(1L -> p, 2L -> q, 3L -> s"$p $q $r",
        4L -> "unrelated decoy text").toDF("doc_id", "text"),
      0L, s"$root/state", 3,
      Some(IngestStream.PublishConfig(s"$root/shards", budget = 2L)))
    def doForget(root: String): Unit = IngestStream.forget(spark,
      s"$root/state", Seq(3L).toDF("doc_id"), 1L, 3,
      Some(s"$root/shards"))
    // per-table observations: forget's contract is pre-or-post PER
    // TABLE (each mutation is individually convergent), with the
    // ledger append strictly LAST as the replay gate — a cross-table
    // mixture mid-crash is legal, a committed ledger over a
    // non-post table is not
    def ids(t: String => graft.streaming.AppendTable)(root: String) =
      t(root).read().map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
    def labels(root: String) =
      IngestStream.labelsTable(spark, s"$root/state").read()
        .map(_.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap).getOrElse(Map.empty)
    def shards(root: String) = spark.read.parquet(s"$root/shards")
      .selectExpr("pub_id % 1000000000000 AS doc_id")
      .collect().map(_.getLong(0)).toSet
    val swept = KillSweep.perTable("forget", Seq(
        "labels" -> labels _,
        "snap" -> ids(r => IngestStream.snapTable(spark, s"$r/state")) _,
        "fps" -> ids(r => IngestStream.fpsTable(spark, s"$r/state")) _,
        "shards" -> shards _,
        "ledger" -> ids(r => IngestStream.forgetLedger(spark, s"$r/state")) _),
      gate = Some("ledger"))(ingest)(doForget)
    assert(swept.pre("shards") == Set(1L, 2L, 3L, 4L) &&
      swept.post("shards") == Set(1L, 2L, 4L) && swept.post("labels") ==
        Map(1L -> (1L, 1L), 2L -> (2L, 1L), 4L -> (4L, 1L)),
      s"fixture degenerate: pre=${swept.pre} post=${swept.post}")
    info(s"${swept.points} kill points")
    assert(swept.points >= 12,
      s"forget: expected ≥12 kill points, saw ${swept.points}")
  }

  test("IngestStream.processBatch survives a kill at every file-op boundary of its parallel commits and due tick: per-table pre-or-post, snapshot strictly last, replay converges") {
    import graft.streaming.IngestStream
    val s = spark
    import s.implicits._
    val (p, q, r) = IngestStreamSpec.bridgeTokens()
    // batch 1's bridge doc joins batch 0's doc 1 and its own doc 4 into
    // one cluster, so the label merge relabels a stored member; every
    // doc publishes, and the call's tick (compactEvery 2 at batch id 1)
    // compacts the logs and vacuums the label store and the manifest
    def call(root: String, docs: Seq[(Long, String)], id: Long): Unit =
      IngestStream.processBatch(docs.toDF("doc_id", "text"), id,
        s"$root/state", 3,
        Some(IngestStream.PublishConfig(s"$root/shards", budget = 2L)),
        IngestStream.MaintainConfig(2, 0L, 1))
    def ids(t: String => graft.streaming.AppendTable)(root: String) =
      t(root).read().map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
    val swept = KillSweep.perTable("ingest", Seq(
        "labels" -> ((root: String) =>
          IngestStream.labelsTable(spark, s"$root/state").read()
            .map(_.collect().map(r => r.getLong(0) ->
              (r.getLong(1), r.getLong(2))).toMap).getOrElse(Map.empty)),
        "fps" -> ids(r => IngestStream.fpsTable(spark, s"$r/state")) _,
        "manifest" -> ((root: String) =>
          IngestStream.publishManifest(spark, s"$root/state").read()
            .map(_.collect().map(_.toString).toSet).getOrElse(Set.empty)),
        "shards" -> ((root: String) => spark.read.parquet(s"$root/shards")
          .selectExpr("pub_id", "CAST(shard_id AS long)")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet),
        "snap" -> ids(r => IngestStream.snapTable(spark, s"$r/state")) _),
      gate = Some("snap"))(
      root => call(root, Seq(1L -> p, 2L -> "unrelated decoy text"), 0L))(
      root => call(root, Seq(3L -> s"$p $q $r", 4L -> q,
        5L -> "another decoy line"), 1L))
    assert(swept.post("labels") == Map(1L -> (1L, 3L), 2L -> (2L, 1L),
      3L -> (1L, 3L), 4L -> (1L, 3L), 5L -> (5L, 1L)),
      s"fixture degenerate: pre=${swept.pre} post=${swept.post}")
    info(s"${swept.points} kill points")
    assert(swept.points >= 12,
      s"ingest: expected ≥12 kill points, saw ${swept.points}")
  }

  test("StateInspect.repair survives a kill at every residue delete (append layout): reads total and fsck-healthy at every boundary") {
    val points = sweep("repair_at") { root =>
      val t = new AppendTable(spark, s"$root/t", statsCol = Some("x"))
      t.append(toDF(Seq(1L, 2L)), 0L)
      t.append(toDF(Seq(3L)), 1L)
      t.compact()
      // plant the residue classes: orphan future batch, stale
      // consolidated + its zone, tmp leftover — all read-invisible
      toDF(Seq(9L)).write.parquet(s"$root/t/b_9")
      toDF(Seq(8L)).write.parquet(s"$root/t/k_0")
      Files.write(java.nio.file.Paths.get(s"$root/t/k_0.zone"),
        "8,8".getBytes("UTF-8"))
      Files.write(java.nio.file.Paths.get(s"$root/t/_LATEST.tmp.5"),
        "junk".getBytes("UTF-8"))
    } { root =>
      graft.streaming.StateInspect.repair(spark, s"$root/t")
    } { root =>
      // the two-sided invariant at every boundary: the live read is
      // untouched (the residue was invisible by definition) and the
      // fsck stays healthy mid-sweep (partial residue is facts, not
      // breakage); the terminal effect is pinned in StateInspectSpec
      (atRows(root), at(root).lastBatchId,
        graft.streaming.StateInspect.inspect(spark, s"$root/t").healthy)
    }
    assert(points >= 4, s"repair_at: expected ≥4 kill points, saw $points")
  }

  test("StateInspect.repair survives a kill at every residue delete (bucketed layout): live + tagged reads total at every boundary") {
    val points = sweep("repair_bt") { root =>
      val t = bt(root)
      t.merge(kvDF((0L until 12L).map(k => (k, k))), 0L)
      t.tag("pin", 0L)
      t.merge(kvDF(Seq(3L -> 30L)), 1L)
      // torn future commit (manifest + version dir) + torn addColumn
      Files.write(java.nio.file.Paths.get(s"$root/t/manifest_v9"),
        "0,c_9/__bucket=0".getBytes("UTF-8"))
      kvDF(Seq(7L -> 70L)).write.parquet(s"$root/t/c_9/__bucket=0")
      Files.write(java.nio.file.Paths.get(s"$root/t/columns_v5"),
        "ghost,string,'x'".getBytes("UTF-8"))
    } { root =>
      graft.streaming.StateInspect.repair(spark, s"$root/t")
    } { root =>
      val t = bt(root)
      (btMap(root), t.readAt(0L).map(_.count()).getOrElse(-1L), t.tags,
        graft.streaming.StateInspect.inspect(spark, s"$root/t").healthy)
    }
    assert(points >= 3, s"repair_bt: expected ≥3 kill points, saw $points")
  }

  test("StateInspect.repair survives a kill at every residue delete (snapshot layout)") {
    val points = sweep("repair_st") { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      t.commit(toDF(Seq(1L)), 0L)
      t.commit(toDF(Seq(2L)), 1L)
      toDF(Seq(9L)).write.parquet(s"$root/t/v_9")
      Files.write(java.nio.file.Paths.get(s"$root/t/columns_v5"),
        "ghost,string,'x'".getBytes("UTF-8"))
    } { root =>
      graft.streaming.StateInspect.repair(spark, s"$root/t")
    } { root =>
      val t = new SnapshotTable(spark, s"$root/t")
      (t.read().map(_.collect().map(_.getLong(0)).toSeq).getOrElse(Nil),
        graft.streaming.StateInspect.inspect(spark, s"$root/t").healthy)
    }
    assert(points >= 2, s"repair_st: expected ≥2 kill points, saw $points")
  }

  test("BucketedTable: a merge replayed over a crashed REBUCKET orphan overwrites it safely") {
    // crash rebucket before its pointer move: c_<v+1> is an orphan in
    // the OLD hashing's next version slot; a normal merge then claims
    // v+1 for itself and must overwrite the orphan, not read it
    val root = Files.createTempDirectory("crash_rebucket_merge").toString
    val t = bt(root)
    t.merge(kvDF((0L until 20L).map(k => k -> k * 10)), 0L)
    Failpoints.arm(3) // data, manifest.tmp, manifest.move → kill
    try intercept[Failpoints.Crash] { t.rebucket(8) }
    finally Failpoints.disarm()
    assert(t.currentBuckets == 4, "crashed rebucket must not be visible")
    t.merge(kvDF(Seq(5L -> 555L)), 1L)
    val want = ((0L until 20L).map(k => k -> k * 10).toMap + (5L -> 555L))
    assert(btMap(root) == want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
