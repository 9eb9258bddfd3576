package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `fsck` + `DESCRIBE` for the three durable state layouts — the ops
  * tool the crash contracts imply: after an incident (or on a
  * schedule) an operator wants ONE call that says whether a table's
  * on-disk structure is total and what it holds, without mutating
  * anything. Deliberately parses the RAW pointer/manifest formats
  * rather than calling the table classes — an inspector must not
  * trust the code paths it is auditing.
  *
  * `issues` empty = every read the live pointer promises is servable
  * (the totality the crash contracts guarantee at kill boundaries);
  * anything listed is a named, actionable breakage. Orphan
  * directories and stale side files are FACTS, not issues — they are
  * invisible to reads by design and re-collected by the next
  * maintenance pass.
  *
  * Metadata-only: no data file is opened except a tombstone dir's
  * parquet footer (schema + a bounded count — the vector is request-
  * sized by contract). Safe to run concurrently with readers; like
  * every admin op it assumes no WRITER is mid-commit (a torn view of
  * an in-flight commit can report transient orphans — rerun).
  *
  * [[repair]] is the one mutating entry point — the act edge: it
  * sweeps exactly the read-invisible residue the facts count, and
  * refuses on an unhealthy table.
  */
object StateInspect {

  final case class Report(path: String, layout: String,
      facts: Map[String, String], issues: Seq[String]) {
    def healthy: Boolean = issues.isEmpty
    def render: String = {
      val f = facts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  $k = $v" }.mkString("\n")
      val i =
        if (issues.isEmpty) "  (none — structure is total)"
        else issues.map(s => s"  ! $s").mkString("\n")
      s"[$layout] $path\nfacts:\n$f\nissues:\n$i"
    }
  }

  private def readText(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim

  private def ls(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)

  private def dirNames(path: String, prefix: String): Seq[String] =
    ls(path).filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getName).sorted.toSeq

  // The raw pointer of each layout, parsed by the inspector's OWN
  // codec (one per layout, shared by inspect and repair) — never the
  // table classes' — so a codec bug there cannot hide here.

  /** `<last>` then optional `compact=`/`epoch=`/`tomb=` lines. */
  private final case class AppendPtr(last: Long, ct: Long, epoch: Long,
      tomb: Long) {
    def kLive: String = if (epoch == 0L) s"k_$ct" else s"k_${ct}_e$epoch"
  }
  private def appendPtr(path: String): AppendPtr = {
    val lines = readText(Paths.get(path, "_LATEST")).linesIterator.toSeq
    def field(k: String, d: Long) = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=").toLong
    }.getOrElse(d)
    AppendPtr(lines.head.toLong, field("compact", -1L), field("epoch", 0L),
      field("tomb", 0L))
  }

  /** `<v>,<batchId>[,<buckets>[,<schema>]]`; nb −1 = the constructor's. */
  private final case class BucketedPtr(v: Long, batchId: Long, nb: Long,
      sm: Long)
  private def bucketedPtr(path: String): BucketedPtr = {
    val f = readText(Paths.get(path, "_LATEST")).split(",")
    BucketedPtr(f(0).toLong, f(1).toLong,
      if (f.length >= 3) f(2).toLong else -1L,
      if (f.length >= 4) f(3).toLong else 0L)
  }

  /** `<v>,<batchId>[,<schema>]`. */
  private final case class SnapshotPtr(v: Long, batchId: Long, sm: Long)
  private def snapshotPtr(path: String): SnapshotPtr = {
    val f = readText(Paths.get(path, "_LATEST")).split(",")
    SnapshotPtr(f(0).toLong, f(1).toLong,
      if (f.length >= 3) f(2).toLong else 0L)
  }

  /** bucket → relative dir of `manifest_v<u>`; None when it is gone. */
  private def manifest(path: String, u: Long): Option[Map[Long, String]] = {
    val p = Paths.get(path, s"manifest_v$u")
    if (!Files.exists(p)) None
    else Some(readText(p).linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf(','); l.substring(0, i).toLong -> l.substring(i + 1)
    }.toMap)
  }

  /** Committed manifest ids, ascending. */
  private def manifestIds(path: String): Seq[Long] =
    ls(path).filter(x => x.isFile &&
        x.getName.startsWith("manifest_v") && !x.getName.contains(".tmp"))
      .map(_.getName.stripPrefix("manifest_v").toLong).sorted.toSeq

  private def tags(path: String): Seq[(String, Long)] =
    ls(path).filter(x => x.isFile &&
        x.getName.startsWith("tag_") && !x.getName.endsWith(".tmp"))
      .map(x => x.getName.stripPrefix("tag_") -> readText(x.toPath).toLong)
      .sortBy(_._1).toSeq

  /** A schema version `sm` needs every `columns_v1..sm`. */
  private def schemaIssues(path: String, sm: Long): Seq[String] =
    (1L to sm).filterNot(u => Files.exists(Paths.get(path, s"columns_v$u")))
      .map(u => s"schema side file columns_v$u missing (live schema " +
        s"version $sm) — reads will fail; restore it")

  /** Auto-detect the layout from the on-disk shape and inspect. */
  def inspect(spark: SparkSession, path: String): Report = {
    val ptr = Paths.get(path, "_LATEST")
    if (!Files.exists(ptr))
      return Report(path, "unknown", Map("committed" -> "false"),
        Seq("no _LATEST pointer — never committed (or not a state table)"))
    val body = readText(ptr)
    if (body.linesIterator.size > 1 || !body.contains(","))
      inspectAppend(spark, path)
    else if (ls(path).exists(f => f.isFile &&
        f.getName.startsWith("manifest_v")))
      inspectBucketed(spark, path)
    else inspectSnapshot(spark, path)
  }

  /** What [[repair]] removed, beside the post-repair [[Report]]. */
  final case class RepairReport(report: Report, removed: Seq[String]) {
    def render: String = {
      val r =
        if (removed.isEmpty) "  (nothing — no residue)"
        else removed.map(n => s"  - $n").mkString("\n")
      s"removed:\n$r\n${report.render}"
    }
  }

  /** The act edge of the fsck: delete ONLY read-invisible residue —
    * crash orphans (a future batch/version dir whose pointer move
    * never landed), side files stale-by-rule (a zone beside a
    * collected dir, a zones/schema file above the live version), and
    * `.tmp` leftovers — never anything a pointer or a retained
    * manifest references, and never a tag file (releasing a pin is a
    * policy decision, [[BucketedTable.untag]]'s job, not a sweep's).
    *
    * REFUSES (named) on an unhealthy table: when structure is broken
    * the reference sets cannot be trusted (a missing live manifest
    * would make its buckets look unreferenced), and the fix is
    * restore, not deletion. Every removal is a [[Failpoints]] kill
    * point; a kill mid-sweep leaves every read exactly as it was
    * (the residue was invisible by definition) and a re-run collects
    * the rest — idempotent by construction. Same writer contract as
    * [[inspect]]: run it when no writer is mid-commit, or a just-
    * written orphan (the data of a commit whose pointer move is
    * microseconds away) would be swept as residue.
    */
  def repair(spark: SparkSession, path: String): RepairReport = {
    val before = inspect(spark, path)
    if (!before.healthy)
      throw new IllegalStateException(
        s"StateInspect.repair($path): refusing to sweep an unhealthy " +
          s"table — restore first; issues:\n" +
          before.issues.map(i => s"  ! $i").mkString("\n"))
    val removed = Seq.newBuilder[String]
    val rootAbs = new java.io.File(path).getAbsolutePath
    def rmEntry(f: java.io.File): Unit = {
      val rel = f.getAbsolutePath.stripPrefix(rootAbs).stripPrefix("/")
      Failpoints.step(s"repair.$rel")
      org.apache.commons.io.FileUtils.deleteQuietly(f)
      removed += rel
    }
    def tmpResidue(): Unit = ls(path)
      .filter(f => f.isFile && f.getName.contains(".tmp"))
      .sortBy(_.getName).foreach(rmEntry)
    before.layout match {
      case "append" =>
        val p = appendPtr(path)
        def residueDir(n: String): Boolean =
          (n.startsWith("b_") && {
            val id = n.stripPrefix("b_").toLong; id <= p.ct || id > p.last
          }) ||
            (n.startsWith("k_") && n != p.kLive) ||
            (n.startsWith("t_") && (p.tomb == 0L || n != s"t_${p.tomb}"))
        ls(path).sortBy(_.getName).foreach { f =>
          val n = f.getName
          if (f.isDirectory && residueDir(n)) rmEntry(f)
          else if (f.isFile && n.endsWith(".zone") && {
            val base = n.stripSuffix(".zone")
            residueDir(base) || !new java.io.File(s"$path/$base").isDirectory
          }) rmEntry(f)
        }
        tmpResidue()
      case "bucketed" =>
        val BucketedPtr(v, _, _, sm) = bucketedPtr(path)
        def sideResidue(prefix: String, bound: Long): Unit = ls(path)
          .filter(x => x.isFile && x.getName.startsWith(prefix) &&
            !x.getName.contains(".tmp") &&
            x.getName.stripPrefix(prefix).toLong > bound)
          .sortBy(_.getName).foreach(rmEntry)
        sideResidue("manifest_v", v)   // torn commit: pointer never moved
        sideResidue("columns_v", sm)   // torn addColumn
        // zones ride with their manifest (the vacuum rule), and a
        // future version's zones are residue with its manifest
        ls(path).filter(x => x.isFile && x.getName.startsWith("zones_v") &&
            !x.getName.contains(".tmp") && {
              val u = x.getName.stripPrefix("zones_v").toLong
              u > v || !Files.exists(Paths.get(path, s"manifest_v$u"))
            })
          .sortBy(_.getName).foreach(rmEntry)
        // bucket dirs referenced by NO surviving manifest ≤ v: crash
        // orphans of a merge/rebucket whose pointer move never landed,
        // or data of a vacuumed version whose dir delete was killed
        val referenced = manifestIds(path).filter(_ <= v)
          .flatMap(u => manifest(path, u).get.values).toSet
        ls(path).filter(x => x.isDirectory && x.getName.startsWith("c_"))
          .sortBy(_.getName).foreach { cd =>
            ls(cd.getPath)
              .filter(b => b.isDirectory && b.getName.startsWith("__bucket="))
              .sortBy(_.getName)
              .filter(b => !referenced.contains(s"${cd.getName}/${b.getName}"))
              .foreach(b => rmEntry(b))
            if (!ls(cd.getPath).exists(b =>
                b.isDirectory && b.getName.startsWith("__bucket=")))
              rmEntry(cd)
          }
        tmpResidue()
      case "snapshot" =>
        val SnapshotPtr(v, _, sm) = snapshotPtr(path)
        ls(path).filter(x => x.isDirectory && x.getName.startsWith("v_") &&
            x.getName.stripPrefix("v_").toLong > v)
          .sortBy(_.getName).foreach(rmEntry)
        ls(path).filter(x => x.isFile && x.getName.startsWith("columns_v") &&
            !x.getName.contains(".tmp") &&
            x.getName.stripPrefix("columns_v").toLong > sm)
          .sortBy(_.getName).foreach(rmEntry)
        tmpResidue()
      case other =>
        throw new IllegalStateException(
          s"StateInspect.repair($path): layout '$other' has no sweep")
    }
    RepairReport(inspect(spark, path), removed.result())
  }

  def inspectAppend(spark: SparkSession, path: String): Report = {
    val issues = Seq.newBuilder[String]
    val p @ AppendPtr(last, ct, epoch, tomb) = appendPtr(path)
    val kLive = p.kLive
    val bDirs = dirNames(path, "b_")
    val kDirs = dirNames(path, "k_")
    val tDirs = dirNames(path, "t_")
    if (ct >= 0 && !kDirs.contains(kLive))
      issues += s"live consolidated dir $kLive missing — reads of the " +
        "compacted history will fail; restore the directory or replay " +
        "the compaction"
    val liveB = bDirs.filter { n =>
      val id = n.stripPrefix("b_").toLong; id > ct && id <= last
    }
    // zone side files: parse every LIVE dir's zone if present
    (liveB ++ (if (ct >= 0) Seq(kLive) else Nil)).foreach { d =>
      val z = Paths.get(path, s"$d.zone")
      if (Files.exists(z)) {
        val b = readText(z)
        if (b != "empty" && b.split(",", 2).length != 2)
          issues += s"zone side file $d.zone unparseable ('$b') — " +
            "delete it; the dir scans conservatively without it"
      }
    }
    var tombRows = -1L
    if (tomb > 0L) {
      if (!tDirs.contains(s"t_$tomb"))
        issues += s"live tombstone generation t_$tomb missing — every " +
          "read will fail; restore it or (losing the pending deletes) " +
          "rewrite the pointer without the tomb field"
      else tombRows = spark.read.parquet(s"$path/t_$tomb").count()
    }
    Report(path, "append", Map(
      "last_batch_id" -> last.toString,
      "compacted_through" -> ct.toString,
      "delete_epoch" -> epoch.toString,
      "tombstone_generation" -> tomb.toString,
      "tombstone_rows" -> (if (tombRows < 0) "n/a" else tombRows.toString),
      "read_fan_in" -> ((if (ct >= 0) 1 else 0) + liveB.size).toString,
      "orphan_batch_dirs" -> bDirs.count(
        _.stripPrefix("b_").toLong > last).toString,
      "stale_consolidated_dirs" -> kDirs.count(_ != kLive).toString,
      "stale_tombstone_dirs" -> tDirs.count(_ != s"t_$tomb").toString,
      "tmp_files" -> ls(path).count(f => f.isFile &&
        f.getName.contains(".tmp")).toString), issues.result())
  }

  def inspectBucketed(spark: SparkSession, path: String): Report = {
    val issues = Seq.newBuilder[String]
    val BucketedPtr(v, batchId, nb, sm) = bucketedPtr(path)
    manifest(path, v) match {
      case None =>
        issues += s"live manifest_v$v missing — the table is unreadable; " +
          "restore the manifest or point the pointer at a retained version"
      case Some(m) =>
        val missing = m.values.toSeq.distinct
          .filterNot(rel => new java.io.File(s"$path/$rel").isDirectory)
        if (missing.nonEmpty)
          issues += s"live manifest references missing dirs: " +
            s"${missing.sorted.mkString(", ")} — reads will fail; restore " +
            "them or restore() a retained version"
        if (nb > 0) {
          val bad = m.keys.filter(k => k < 0 || k >= nb)
          if (bad.nonEmpty)
            issues += s"live manifest holds bucket ids ${bad.toSeq.sorted
              .mkString(", ")} outside [0, $nb) — torn rebucket; restore a " +
              "retained version"
        }
    }
    issues ++= schemaIssues(path, sm)
    // live zone side file (per-bucket min/max, round-14 keyed zone
    // maps): absent = conservative scans, fine; present-but-garbled
    // crashes every range read, so it is a NAMED issue
    val zonesLive = Paths.get(path, s"zones_v$v")
    val zoneBuckets: String =
      if (!Files.exists(zonesLive)) "absent"
      else try {
        readText(zonesLive).linesIterator.filter(_.nonEmpty).map { l =>
          val Array(b, lo, hi) = l.split(",", 3)
          require(b.toLong >= 0 && lo.toLong <= hi.toLong)
        }.size.toString
      } catch {
        case scala.util.control.NonFatal(_) =>
          issues += s"zone side file zones_v$v unparseable — range reads " +
            "will fail; delete it (the table range-scans conservatively " +
            "without it) or restore it"
          "unparseable"
      }
    val retained = manifestIds(path).filter(u => u <= v &&
      manifest(path, u).exists(_.values.toSeq.distinct.forall(rel =>
        new java.io.File(s"$path/$rel").isDirectory)))
    val pins = tags(path)
    pins.foreach { case (name, u) =>
      if (!retained.contains(u))
        issues += s"tag '$name' pins version $u, which is not fully " +
          "retained — the pinned read will fail; re-tag a retained version"
    }
    val referenced = retained.flatMap(u => manifest(path, u).get.values).toSet
    val allBucketDirs = dirNames(path, "c_").flatMap(cd =>
      dirNames(s"$path/$cd", "__bucket=").map(b => s"$cd/$b"))
    Report(path, "bucketed", Map(
      "live_version" -> v.toString,
      "last_batch_id" -> batchId.toString,
      "bucket_count" -> (if (nb > 0) nb.toString else "constructor"),
      "schema_version" -> sm.toString,
      "retained_versions" -> retained.mkString("[", ",", "]"),
      "zone_buckets" -> zoneBuckets,
      "tags" -> pins.map { case (n, u) => s"$n->$u" }.mkString("[", ",", "]"),
      "unreferenced_bucket_dirs" ->
        allBucketDirs.count(!referenced.contains(_)).toString,
      "tmp_files" -> ls(path).count(x => x.isFile &&
        x.getName.contains(".tmp")).toString), issues.result())
  }

  def inspectSnapshot(spark: SparkSession, path: String): Report = {
    val issues = Seq.newBuilder[String]
    val SnapshotPtr(v, batchId, sm) = snapshotPtr(path)
    val vDirs = dirNames(path, "v_").map(_.stripPrefix("v_").toLong)
    if (!vDirs.contains(v))
      issues += s"live snapshot v_$v missing — the table is unreadable; " +
        "restore the directory or point the pointer at a retained version"
    issues ++= schemaIssues(path, sm)
    val retained = vDirs.filter(_ <= v)
    val pins = tags(path)
    pins.foreach { case (name, u) =>
      if (!retained.contains(u))
        issues += s"tag '$name' pins version $u, which is not retained — " +
          "the pinned read will fail; re-tag a retained version"
    }
    Report(path, "snapshot", Map(
      "live_version" -> v.toString,
      "last_batch_id" -> batchId.toString,
      "schema_version" -> sm.toString,
      "retained_versions" -> retained.mkString("[", ",", "]"),
      "tags" -> pins.map { case (n, u) => s"$n->$u" }.mkString("[", ",", "]"),
      "orphan_future_snapshots" -> vDirs.count(_ > v).toString,
      "tmp_files" -> ls(path).count(x => x.isFile &&
        x.getName.contains(".tmp")).toString), issues.result())
  }
}
