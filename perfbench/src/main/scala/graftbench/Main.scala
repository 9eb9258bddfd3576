package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.IngestStream

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir>`. Prints one JSON object as the last
  * line of stdout; progress goes to stderr.
  *
  * A run warms up with one short untimed pass of its workload
  * ([[warmSteady]], [[warmDocs]], on the next seed), measures one pass
  * and checks its outputs; posts_steady then drains a backlog of
  * distinct-text posts.
  * A traced run instead measures the pass with span tracing on, between
  * two untraced control passes, and reports the per-layer split;
  * on posts_steady it also drains the backlog on all cores and on one.
  */
object Main {

  // ---------------------------------------------------------------
  // Workloads. Sizes are fixed per `--seconds`, never adapted to the
  // speed of the machine, so two commits always do the same work.
  // ---------------------------------------------------------------

  /** Open loop: 8 handles each write an 80-post page every 0.5 s,
    * 1,280 posts/s, keys Zipf(1.1) over 300 (symbol, text) pairs. The
    * rate is ~40 % of the ~3,250 posts/s a 4-core [[backlog]] drain
    * measured, so the open loop runs well below capacity. */
  def steady(seconds: Int): PostsSpec = PostsSpec(
    Gen.PostShape(handles = 8, rowsPerPage = 80, distinctText = false,
      pairs = 300, zipfS = 1.1, pageSpacingUs = 500000L),
    pagesPerHandle = 2 * seconds, capPagesPerHandle = 64, openLoop = true)

  /** Backlog of 16,000 distinct-text posts, so every post inserts a
    * key, drained in one batch (8 handles × 4 pages × 500). */
  val backlog: PostsSpec = PostsSpec(
    Gen.PostShape(handles = 8, rowsPerPage = 500, distinctText = true,
      pairs = 300, zipfS = 1.1, pageSpacingUs = 1000L),
    pagesPerHandle = 4, capPagesPerHandle = 4, openLoop = false)

  /** 400-doc batches: 20 % near-duplicates, 5 % exact copies under new
    * ids, 10 % re-deliveries; compaction, rebucket and vacuum every 3rd
    * batch; then forget 3 % of the ids. */
  def docs(seconds: Int): DocsSpec = DocsSpec(
    Gen.DocShape(batchDocs = 400, nearDupShare = 0.20, copyShare = 0.05,
      redeliverShare = 0.10),
    batches = math.max(3, math.round(seconds / 2.5).toInt),
    maintain = IngestStream.MaintainConfig(compactEvery = 3,
      maxRowsPerBucket = 40L, vacuumKeepVersions = 2),
    shardBudget = 20000L, forgetShare = 0.03)

  /** The untimed warm-up passes. The first pass in a JVM runs at about
    * half the speed of later ones (class loading, code generation and
    * JIT); its cost is set by the number of Spark jobs, not by the
    * rows, so a short pass through every path warms as well as a long
    * one: 4 s of the open loop, and two docs batches with maintenance
    * after the second, then the forget. */
  val warmSteady: PostsSpec = steady(4)
  val warmDocs: DocsSpec = docs(0).copy(batches = 2, maintain =
    IngestStream.MaintainConfig(compactEvery = 2, maxRowsPerBucket = 40L, vacuumKeepVersions = 2))

  val Units: Map[String, String] = Map(
    "latency_p50_s" -> "s", "latency_p99_s" -> "s", "throughput_per_s" -> "1/s",
    "batch_p50_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Set("posts_steady", "docs_lifecycle")(w), s"unknown workload $w")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got $t")
    val s = need("seconds").toInt
    require(s >= 1 && s <= 60, s"--seconds must be 1..60, got $s")
    Args(w, need("seed").toLong, s, t == "1", m.getOrElse("out", "."))
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(s: String): Unit = System.err.println(
    f"[perfbench +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs] $s")

  /** Per-run scratch directories, each fresh. */
  final class Dirs(root: String) {
    private var k = 0
    def fresh(tag: String): String = {
      k += 1
      val d = new File(root, s"$tag-$k")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.mkdirs()
      d.getAbsolutePath
    }
    def drop(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))
    def dropAll(): Unit = drop(root)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val dirs = new Dirs(new File(graft.Sessions.scratchRoot, "perfbench").getAbsolutePath)
    val loadBefore = loadAvg1m()
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val r = try args.workload match {
      case "docs_lifecycle" => runDocs(spark, args, cores, dirs)
      case _ => runSteady(spark, args, cores, dirs)
    } finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      dirs.dropAll()
    }
    r.notes.foreach(log)
    log(f"cores=$cores host_load_1m_before=$loadBefore%.2f session_s=$sessionS%.3f")
    val metrics =
      if (args.trace) r.layers.map { case (n, v) => n -> (v, LayerUnits(n)) }
      else (r.e2e + ("setup_s" -> (sessionS + r.e2e("setup_s"))))
        .map { case (n, v) => n -> (v, Units(n)) }
    val body = metrics.toSeq.sortBy(_._1).map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.builderDefaults(
      SparkSession.builder().master(s"local[$cores]"), cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg1m(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head.toDouble

  /** VmHWM of this process, MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Jiffies per state from the first line of /proc/stat. */
  def cpuTimes(): Array[Long] =
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)

  /** Share of CPU time stolen by the hypervisor since `from`: other
    * guests' load, which slows every wall-clock metric. */
  def stealShare(from: Array[Long]): Double = {
    val d = cpuTimes().zip(from).map { case (b, a) => b - a }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  /** `setup_s` in `e2e` excludes the session start, added by main. */
  final case class Result(attempted: Long, failed: Long, e2e: Map[String, Double],
      layers: Map[String, Double], notes: Seq[String])

  // ---------------------------------------------------------------
  // posts_steady
  // ---------------------------------------------------------------

  def runSteady(spark: SparkSession, args: Args, cores: Int, dirs: Dirs): Result = {
    val spec = steady(args.seconds)
    val warmS = timeS {
      val d = dirs.fresh("warm")
      Posts.pass(spark, args.seed + 1, warmSteady, d).error.foreach(e => throw e)
      dirs.drop(d)
    }
    log(f"warm-up pass $warmS%.2f s")
    if (args.trace) return tracedSteady(spark, args, spec, cores, dirs)

    val dir = dirs.fresh(args.workload)
    val cpu0 = cpuTimes()
    val pass = Posts.pass(spark, args.seed, spec, dir)
    val steal = stealShare(cpu0)
    pass.error.foreach(e => log(s"pass failed: $e"))
    val e2e = Posts.endToEnd(pass)
    val check = Posts.verify(spark, args.seed, spec, dir)
    dirs.drop(dir)
    // per-row capacity: the open loop runs below it, so its own rate is
    // the offered load; a backlog drain on all cores measures it
    val (drain, drainGenS, drainFailed) = drainBacklog(spark, args.seed, dirs)
    val failed = check.failed + pass.error.size + drainFailed
    val notes = Seq(
      f"posts_steady: posts=${check.posts} committed=${check.committedPosts} " +
        f"bad_keys=${check.badKeys} bad_outbox_keys=${check.badOutboxKeys} " +
        f"events=${check.eventsRows} outbox=${check.outboxRows} batches=${pass.batches.size}",
      f"backlog drain: $drain%.1f posts/s on $cores cores; failed=$drainFailed",
      f"posts_steady: failed_ops_share=${failed.toDouble / (check.posts + backlog.posts)}%.6f " +
        f"gen_late_p99_s=${lateP99(pass)}%.4f cpu_steal_share=$steal%.4f " +
        e2e.toSeq.sorted.map { case (n, v) => f"$n=$v%.4f" }.mkString(" "))
    Result(check.posts + backlog.posts, failed, e2e ++ Map("throughput_per_s" -> drain,
      "setup_s" -> (warmS + drainGenS), "peak_rss_mb" -> peakRssMb()), Map.empty, notes)
  }

  private def lateP99(p: PostsPass): Double =
    if (p.lateUs.isEmpty) 0.0
    else Stats.percentile(p.lateUs.map(l => (l / 1e6, 1L)), 0.99)
      .getOrElse(p.lateUs.max / 1e6)

  private def tracedSteady(spark: SparkSession, args: Args, spec: PostsSpec, cores: Int,
      dirs: Dirs): Result = {
    val control = () => {
      val d = dirs.fresh("control")
      val p = Posts.pass(spark, args.seed, spec, d)
      dirs.drop(d)
      Posts.endToEnd(p)("latency_p50_s")
    }
    val before = control()
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer.sparkListener)
    spark.streams.addListener(tracer.queryListener)
    // report every zero-row trigger, so wasted polls are counted
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "0")
    val dir = dirs.fresh("traced")
    val files = new FileDelta(Seq(s"$dir/events", s"$dir/outbox"))
    val jvm = new JvmWindow
    var pass: PostsPass = null
    val phase = tracer.span(args.workload, "workload") {
      tracer.span("measure", "phase") {
        // the stream thread's call site is pinned to `start` when the
        // query starts; clearing it after each commit lets the later
        // batches' jobs report their real call sites
        pass = Posts.pass(spark, args.seed, spec, dir,
          onCommit = () => { spark.sparkContext.clearCallSite(); files.commit() })
        tracer.currentSpan
      }
    }
    val gcHeap = jvm.close()
    val check = Posts.verify(spark, args.seed, spec, dir)
    dirs.drop(dir)
    spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval")
    spark.sparkContext.removeSparkListener(tracer.sparkListener)
    spark.streams.removeListener(tracer.queryListener)
    val overhead = overheadShare(Posts.endToEnd(pass)("latency_p50_s"), before, control())
    val prog = pass.progress
    val data = prog.filter(_.numInputRows > 0).groupBy(_.batchId).values.map(_.head)
      .toVector.sortBy(_.batchId)
    val batchSpans = tracer.allSpans.filter(s => s.kind == "batch" &&
      data.exists(p => s.name == s"batch ${p.batchId}"))
    val perBatch = batchSpans.map(s => tracer.jobsUnder(s.id))
    val (joined, _) = Stats.joinPages(pass.pages, pass.batches)
    val admit = joined.map(j => (j.admitWaitUs / 1e6, j.page.rows))
    // pages due by `t` and not yet admitted: the queue before the source
    def backlogAt(t: Long) = joined.count(j => j.page.dueUs <= t && j.batch.admitUs > t)
    val dues = pass.pages.map(_.dueUs).distinct.sorted
    // the queue fills from empty in the first third; a sustainable
    // rate keeps its peak in the last third at that of the middle one
    val third = dues.size / 3
    def peak(ts: Seq[Long]) = if (ts.isEmpty) 0 else ts.map(backlogAt).max
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def op(p: StreamingQueryProgress, name: String) =
      p.stateOperators.find(_.operatorName.toLowerCase.contains(name))
    val jobs = tracer.jobsWithin(phase)
    val layers = Map(
      "sources.admit_wait_p50_s" -> Stats.percentile(admit, 0.5).getOrElse(Double.NaN),
      "sources.empty_trigger_share" -> prog.count(_.numInputRows == 0).toDouble / prog.size,
      "sources.rows_per_batch" -> Stats.median(data.map(_.numInputRows.toDouble)),
      "sources.backlog_end_pages" -> backlogAt(pass.genEndUs).toDouble,
      "sources.backlog_growth_pages" ->
        (peak(dues.drop(2 * third)) - peak(dues.slice(third, 2 * third))).toDouble,
      "microbatch.trigger_p50_s" -> Stats.median(data.map(Posts.triggerS)),
      "microbatch.planning_ms" -> Stats.median(data.map(dur(_, "queryPlanning"))),
      "microbatch.wal_ms" -> Stats.median(data.map(dur(_, "walCommit"))),
      "microbatch.latest_offset_ms" -> Stats.median(data.map(dur(_, "latestOffset"))),
      "state.upsert_rows_updated" -> data.flatMap(op(_, "flatmapgroups")).map(_.numRowsUpdated).sum.toDouble,
      "state.upsert_commit_ms" -> Stats.median(data.flatMap(op(_, "flatmapgroups")).map(_.commitTimeMs.toDouble)),
      "state.upsert_memory_mb" -> data.lastOption.flatMap(op(_, "flatmapgroups"))
        .map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "state.dedup_rows_updated" -> data.flatMap(op(_, "dedup")).map(_.numRowsUpdated).sum.toDouble,
      "state.dedup_commit_ms" -> Stats.median(data.flatMap(op(_, "dedup")).map(_.commitTimeMs.toDouble)),
      "EventSink.jobs_per_batch" -> Stats.median(perBatch.map(_.size.toDouble)),
      "EventSink.task_s_per_batch" -> Stats.median(perBatch.map(js => js.map(_.taskMs).sum / 1000.0)),
      "EventSink.events_rows_end" -> check.eventsRows.toDouble,
      "EventSink.outbox_rows_end" -> check.outboxRows.toDouble,
      "StateTables.bytes_per_commit" -> files.bytesPerCommit,
      "StateTables.files_per_commit" -> files.filesPerCommit,
      "StateTables.task_s" -> layerTaskS(jobs, "StateTables") / math.max(1, data.size),
      "driver.jobs" -> jobs.size.toDouble,
      "driver.idle_gap_s_per_batch" -> Stats.median(batchSpans.map(tracer.idleUs(_) / 1e6)),
      "driver.core_util" -> coreUtil(jobs, phase, cores),
      "gen.late_p99_s" -> lateP99(pass),
      "gen.items" -> pass.pages.map(_.rows).sum.toDouble,
      "trace.overhead_share" -> overhead,
      "trace.orphan_jobs" -> jobs.count(j => tracer.spanById(j.span.parent)
        .forall(_.kind != "batch")).toDouble,
    ) ++ gcHeap
    writeTrace(args, tracer, perBatch.map(_.size))
    val (rateN, _, failedN) = drainBacklog(spark, args.seed, dirs)
    spark.stop()
    val (rate1, _, failed1) = drainBacklog(session(1), args.seed, dirs)
    val failed = check.failed + pass.error.size + failedN + failed1
    Result(check.posts + 2 * backlog.posts, failed, Map.empty, zeroFill(layers ++ Map(
        "driver.backlog_throughput_per_s" -> rateN,
        "driver.local1_throughput_per_s" -> rate1,
        "driver.speedup_vs_local1" -> rateN / rate1)),
      Seq(s"traced: jobs per batch ${perBatch.map(_.size).mkString(",")}",
        f"backlog drain: $rateN%.1f posts/s on $cores cores, $rate1%.1f on one, " +
          f"speed-up ${rateN / rate1}%.2f; failed=$failed"))
  }

  /** Drain [[backlog]] and check it: (posts committed ÷ query start →
    * last commit, seconds spent writing the backlog, failed). */
  private def drainBacklog(spark: SparkSession, seed: Long, dirs: Dirs): (Double, Double, Long) = {
    val d = dirs.fresh("backlog")
    val p = Posts.pass(spark, seed, backlog, d)
    val c = Posts.verify(spark, seed, backlog, d)
    dirs.drop(d)
    (Posts.endToEnd(p)("throughput_per_s"), p.genS, c.failed + p.error.size)
  }

  // ---------------------------------------------------------------
  // docs_lifecycle
  // ---------------------------------------------------------------

  def runDocs(spark: SparkSession, args: Args, cores: Int, dirs: Dirs): Result = {
    val spec = docs(args.seconds)
    def inputs(seed: Long, s: DocsSpec) = {
      val b = Gen.docBatches(seed, s.shape, s.batches)
      (b, Gen.forgetSlice(seed, b.flatten.map(_._1), s.forgetShare))
    }
    val warmS = timeS {
      val d = dirs.fresh("warm")
      val (b, f) = inputs(args.seed + 1, warmDocs)
      Docs.pass(spark, b, warmDocs, f, d).error.foreach(e => throw e)
      dirs.drop(d)
    }
    log(f"warm-up pass $warmS%.2f s")
    val g0 = Clock.nowUs
    val (batches, forgetIds) = inputs(args.seed, spec)
    val genS = (Clock.nowUs - g0) / 1e6
    if (args.trace) return tracedDocs(spark, args, spec, batches, forgetIds, cores, dirs)

    val dir = dirs.fresh(args.workload)
    val cpu0 = cpuTimes()
    val pass = Docs.pass(spark, batches, spec, forgetIds, dir)
    val steal = stealShare(cpu0)
    pass.error.foreach(e => log(s"pass failed: $e"))
    val e2e = Docs.endToEnd(pass)
    val check = Docs.verify(spark, pass)
    val rss = peakRssMb()
    dirs.drop(dir)
    val delivered = batches.map(_.size).sum.toLong
    val attempted = delivered + 1 // the docs and the forget call
    val failed = check.failed + pass.error.size
    val notes = Seq(
      f"docs_lifecycle: docs=$delivered labels=${check.labelRows} " +
        f"bad_labels=${check.badLabels} forgotten=${forgetIds.size} " +
        f"forgotten_left=${check.forgottenLeft} new_docs=${check.newDocs} " +
        f"calls_s=${pass.callS.map(s => f"$s%.2f").mkString(",")}",
      f"docs_lifecycle: failed_ops_share=${failed.toDouble / attempted}%.6f " +
        f"cpu_steal_share=$steal%.4f " +
        f"forget_s=${pass.forgetS}%.4f " +
        e2e.toSeq.sorted.map { case (n, v) => f"$n=$v%.4f" }.mkString(" "))
    Result(attempted, failed, e2e ++ Map("setup_s" -> (warmS + genS), "peak_rss_mb" -> rss),
      Map.empty, notes)
  }

  private def tracedDocs(spark: SparkSession, args: Args, spec: DocsSpec,
      batches: Vector[Vector[(Long, String)]], forgetIds: Vector[Long], cores: Int,
      dirs: Dirs): Result = {
    val delivered = batches.map(_.size).sum.toLong
    val control = () => {
      val d = dirs.fresh("control")
      val p = Docs.pass(spark, batches, spec, forgetIds, d)
      dirs.drop(d)
      Docs.endToEnd(p)("latency_p50_s")
    }
    val before = control()
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer.sparkListener)
    val tdir = dirs.fresh("traced")
    val files = new FileDelta(Seq(s"$tdir/state"))
    val jvm = new JvmWindow
    var tp: DocsPass = null
    val phase = tracer.span(args.workload, "workload") {
      tracer.span("measure", "phase") {
        tp = Docs.pass(spark, batches, spec, forgetIds, tdir,
          call = (name, f) => { tracer.span(name, "call")(f()); files.commit() })
        tracer.currentSpan
      }
    }
    val gcHeap = jvm.close()
    val tcheck = Docs.verify(spark, tp)
    dirs.drop(tdir)
    spark.sparkContext.removeSparkListener(tracer.sparkListener)
    val overhead = overheadShare(Docs.endToEnd(tp)("latency_p50_s"), before, control())
    val calls = tracer.allSpans.filter(s => s.kind == "call" && s.name.startsWith("processBatch"))
    val forgetJobs = tracer.allSpans.filter(s => s.kind == "call" && s.name == "forget")
      .map(s => tracer.jobsUnder(s.id).size).sum
    val perCall = calls.map(s => tracer.jobsUnder(s.id))
    val jobs = tracer.jobsWithin(phase)
    val layers = Map(
      "IngestStream.jobs_per_batch" -> Stats.median(perCall.map(_.size.toDouble)),
      "IngestStream.task_s_per_batch" -> Stats.median(perCall.map(js => js.map(_.taskMs).sum / 1000.0)),
      "IngestStream.forget_jobs" -> forgetJobs.toDouble,
      "IngestStream.forget_s" -> tp.forgetS,
      "IngestStream.new_doc_share" -> tcheck.newDocs.toDouble / delivered,
      "dedup.jobs_per_batch" -> Stats.median(perCall.map(_.count(_.span.layer == "dedup").toDouble)),
      "dedup.task_s_per_batch" -> Stats.median(perCall.map(js =>
        js.filter(_.span.layer == "dedup").map(_.taskMs).sum / 1000.0)),
      "StateTables.bytes_per_commit" -> files.bytesPerCommit,
      "StateTables.files_per_commit" -> files.filesPerCommit,
      "StateTables.task_s" -> layerTaskS(jobs, "StateTables") / math.max(1, calls.size),
      "driver.jobs" -> jobs.size.toDouble,
      "driver.idle_gap_s_per_batch" -> Stats.median(calls.map(tracer.idleUs(_) / 1e6)),
      "driver.core_util" -> coreUtil(jobs, phase, cores),
      "gen.items" -> delivered.toDouble,
      "trace.overhead_share" -> overhead,
      "trace.orphan_jobs" -> jobs.count(j => tracer.spanById(j.span.parent)
        .forall(_.kind != "call")).toDouble,
    ) ++ gcHeap
    writeTrace(args, tracer, perCall.map(_.size) :+ forgetJobs)
    val failed = tcheck.failed + tp.error.size
    Result(delivered + 1, failed, Map.empty, zeroFill(layers),
      Seq(s"traced: jobs per call ${perCall.map(_.size).mkString(",")}; forget " +
        s"$forgetJobs; failed=$failed"))
  }

  // ---------------------------------------------------------------
  // per-layer helpers
  // ---------------------------------------------------------------

  /** Every per-layer metric with its unit; a layer a workload does not
    * run reads 0. */
  val LayerUnits: Map[String, String] = Map(
    "sources.admit_wait_p50_s" -> "s", "sources.empty_trigger_share" -> "ratio",
    "sources.rows_per_batch" -> "rows", "sources.backlog_end_pages" -> "pages",
    "sources.backlog_growth_pages" -> "pages",
    "microbatch.trigger_p50_s" -> "s", "microbatch.planning_ms" -> "ms",
    "microbatch.wal_ms" -> "ms", "microbatch.latest_offset_ms" -> "ms",
    "state.upsert_rows_updated" -> "rows", "state.upsert_commit_ms" -> "ms",
    "state.upsert_memory_mb" -> "MB", "state.dedup_rows_updated" -> "rows",
    "state.dedup_commit_ms" -> "ms",
    "EventSink.jobs_per_batch" -> "count", "EventSink.task_s_per_batch" -> "s",
    "EventSink.events_rows_end" -> "rows", "EventSink.outbox_rows_end" -> "rows",
    "StateTables.bytes_per_commit" -> "bytes", "StateTables.files_per_commit" -> "count",
    "StateTables.task_s" -> "s",
    "IngestStream.jobs_per_batch" -> "count", "IngestStream.task_s_per_batch" -> "s",
    "IngestStream.forget_jobs" -> "count", "IngestStream.forget_s" -> "s",
    "IngestStream.new_doc_share" -> "ratio",
    "dedup.jobs_per_batch" -> "count", "dedup.task_s_per_batch" -> "s",
    "driver.jobs" -> "count", "driver.idle_gap_s_per_batch" -> "s",
    "driver.core_util" -> "ratio", "driver.backlog_throughput_per_s" -> "1/s",
    "driver.local1_throughput_per_s" -> "1/s", "driver.speedup_vs_local1" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "gen.late_p99_s" -> "s", "gen.items" -> "count", "gen.host_load_1m" -> "load",
    "gen.cpu_steal_share" -> "ratio",
    "trace.overhead_share" -> "ratio", "trace.orphan_jobs" -> "count")

  private def zeroFill(m: Map[String, Double]): Map[String, Double] =
    LayerUnits.keys.map { n =>
      val v = m.getOrElse(n, if (n == "gen.host_load_1m") loadAvg1m() else 0.0)
      n -> (if (v.isNaN) 0.0 else v)
    }.toMap

  /** Tracing overhead on `latency_p50_s`: the traced pass against the
    * mean of an untraced control pass just before and one just after
    * it, so a JVM still warming up favours neither side. */
  private def overheadShare(traced: Double, before: Double, after: Double): Double = {
    log(f"latency_p50_s: control $before%.4f, traced $traced%.4f, control $after%.4f")
    traced / ((before + after) / 2) - 1.0
  }

  private def layerTaskS(jobs: Seq[Tracer#Job], layer: String): Double =
    jobs.filter(_.span.layer == layer).map(_.taskMs).sum / 1000.0

  /** Σ task time ÷ (cores × phase wall). */
  private def coreUtil(jobs: Seq[Tracer#Job], phase: Tracer#Span, cores: Int): Double =
    jobs.map(_.taskMs).sum / 1000.0 / (cores * (phase.endUs - phase.startUs) / 1e6)

  private def timeS(body: => Unit): Double = {
    val t0 = Clock.nowUs
    body
    (Clock.nowUs - t0) / 1e6
  }

  private def writeTrace(args: Args, tracer: Tracer, jobCounts: Seq[Int]): Unit = {
    val out = new File(args.out)
    out.mkdirs()
    val f = new File(out, s"trace-${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.write(f.toPath, (s"""{"jobs_per_batch_or_call": [${jobCounts.mkString(", ")}],\n"spans": """ +
      tracer.toJson + "}\n").getBytes("UTF-8"))
    log(s"spans written to ${f.getPath}")
  }

  /** Files and bytes the state tables added per commit: the state
    * directories are listed after every commit and new paths counted. */
  final class FileDelta(roots: Seq[String]) {
    private var seen = Set.empty[String]
    private var files = 0L
    private var bytes = 0L
    private var commits = 0
    def commit(): Unit = synchronized {
      val now = roots.map(new File(_)).filter(_.isDirectory)
        .flatMap(org.apache.commons.io.FileUtils.listFiles(_, null, true).asScala)
        .filter(!_.getName.startsWith(".")).map(f => f.getPath -> f.length).toMap
      val added = now.keySet -- seen
      files += added.size
      bytes += added.toSeq.map(now).sum
      seen = now.keySet
      commits += 1
    }
    def filesPerCommit: Double = files.toDouble / math.max(1, commits)
    def bytesPerCommit: Double = bytes.toDouble / math.max(1, commits)
  }

  /** GC time, heap peak and CPU steal over a window. */
  final class JvmWindow {
    private val cpu0 = cpuTimes()
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val gc0 = gcs.map(_.getCollectionTime).sum
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    def close(): Map[String, Double] = Map(
      "jvm.gc_s" -> (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0,
      "jvm.heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "gen.cpu_steal_share" -> stealShare(cpu0))
  }
}
