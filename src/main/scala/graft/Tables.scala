package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All tables are plain parquet except `events`, whose `ts` column has
  * already been regenerated in two different physical encodings across
  * rounds:
  *   - parquet TIMESTAMP(NANOS) — Spark maps it to LongType nanos under
  *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in [[Sessions]]);
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark maps it
  *     to TimestampNTZType (the encoding since the round-7 regen).
  * The loader branches on the OBSERVED dtype (VERDICT r7 item 1) and in
  * both cases exposes the same engine-visible contract:
  *   - `ts_ns`  — nanosecond epoch (LongType), exactly what DuckDB's
  *                `epoch_ns(ts)` returns on the same file, for oracle
  *                parity (epoch_ns on micros data = micros * 1000);
  *   - `ts`     — TimestampType (micros precision; session TZ is UTC, so
  *                the NTZ→TZ cast is a no-op on the wall-clock value).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(path(sfDir, name))
    name match {
      case "events" =>
        import org.apache.spark.sql.types._
        raw.schema("ts").dataType match {
          case LongType =>
            // TIMESTAMP(NANOS) read as nanos longs (legacy.parquet.nanosAsLong).
            raw.withColumnRenamed("ts", "ts_ns")
              .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          case TimestampNTZType | TimestampType =>
            // TIMESTAMP(MICROS); the NTZ→TZ cast is wall-clock-preserving
            // ONLY when the session time zone is UTC — a different TZ
            // would silently shift ts/ts_ns off the oracle's epoch_ns.
            // Fail loudly instead (ADVICE r9).
            val tz = spark.conf.get("spark.sql.session.timeZone")
            require(tz == "UTC",
              s"events NTZ loader requires spark.sql.session.timeZone=UTC " +
                s"(got '$tz') — the NTZ→TimestampType cast would shift " +
                "wall-clock values and break oracle epoch_ns parity")
            raw.withColumn("ts", col("ts").cast(TimestampType))
              .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
          case other =>
            throw new IllegalStateException(
              s"events.ts has unsupported dtype $other (expected LongType nanos, " +
                "TimestampType, or TimestampNTZType) — testdata regenerated with a " +
                "new encoding; extend Tables.load for it")
        }
      case _ => raw
    }
  }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** One place to construct sessions so every entry point (Verify, Bench,
  * tests) gets identical, oracle-parity-critical configuration.
  *
  * One process compiles each generated class once: tasks share the
  * executor's class loader across sessions and streaming queries, and
  * the codegen cache is sized past the loops' working set, so a new
  * query, a restart or the next loop cycle reuses what an earlier one
  * compiled ([[builderDefaults]] gives each constant's measurement).
  */
object Sessions {
  /** Scratch root for stream staging and checkpoints. Local-mode runs
    * prefer tmpfs (/dev/shm) — ext4 fsyncs every state-store commit,
    * which slows the streaming gate ~2x and adds multi-second
    * run-to-run jitter; the state footprint is BOUNDED (keyed state
    * with TTLs), so tmpfs residency is safe. On a real cluster this is
    * the node's local NVMe (override via SPARK_GRAFT_SCRATCH).
    */
  val scratchRoot: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft" else "/tmp/graft")

  /** Per-PROCESS scratch directory for gates that MUTATE state
    * mid-run (delete → replay batches): keying such a path by the
    * dataset name alone would interleave two drivers' state tables if
    * they ever shared a box, so the path carries a process-unique
    * token. Deleted at the START of each in-process reuse (rerun
    * hygiene) and again at JVM exit (best-effort; the scratch root is
    * tmpfs, so leaks die with the box anyway). NOT for corpus-identity
    * caches (those WANT cross-run reuse — the `ingest_history` staging
    * convention).
    */
  def perRunScratch(family: String, name: String): String = {
    val dir = s"$scratchRoot/$family/${name}_$processToken"
    val f = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    org.apache.commons.io.FileUtils.forceDeleteOnExit(f)
    dir
  }

  private lazy val processToken: String =
    java.util.UUID.randomUUID.toString.take(8)

  /** Shuffle/spill directory (spark.local.dir) — deliberately NOT the
    * tmpfs scratch: spill exists to relieve memory pressure, and its
    * size tracks the DATA (a larger-SF shuffle can spill far past any
    * RAM budget), so writing it to tmpfs would convert "disk" spill
    * back into RAM consumption exactly when memory is tightest.
    * Shuffle writes are buffered, never fsync'd, so real disk costs
    * little here. Override via SPARK_GRAFT_LOCAL_DIR (tmpfs for tiny
    * latency-sensitive runs, node NVMe on a cluster).
    */
  val localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
    "/tmp/graft/local")

  def builderDefaults(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE on: measured off (OPTIMIZATION_r15/r16), the static
      // planner picks sort-merge joins with full shuffles where AQE
      // converts to broadcast at runtime — q_c_forget 10.1 → 13.7 s,
      // task time 130 s
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // parallelismFirst=false lets AQE coalesce tiny shuffles by
      // BYTES (advisory size) instead of spreading them across every
      // core. Measured round 16: no change on the lifecycle gates (job
      // counts identical — the floor is per-job driver latency, not
      // task count), so Spark's default stays
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // RocksDB state store: BOUNDED HEAP — at scale the keyed state
      // must live off-heap/on-disk, not in executor memory. Measured
      // tradeoff (round 6, 100k-event single-batch replay): the
      // default HDFS-backed in-memory provider is ~1.3 s faster on
      // this tiny-state shape (5.5 s vs 6.8 s gate time); RocksDB
      // stays because heap-resident state is the thing that falls
      // over at 100 TB, not the extra second here
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // skip RocksDB's get-before-put row counting — we never read the
      // numRowsTotal metric, and the extra point lookup per state put
      // is measurable on wide single-batch replays
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // changelog state commits: a micro-batch's commit uploads only
      // the changed rows; a full RocksDB snapshot is built by the
      // background maintenance every minDeltasForSnapshot batches, so
      // a restart replays at most that many changelogs. Measured alone
      // on the posts sink (perfbench posts_steady, seed 300, traced,
      // 4 vCPUs), state commit time per data batch: dedup 168 → 79 ms,
      // upsert 170 → 82 ms. A checkpoint written without it restarts
      // under it unchanged (SinkBatchSpec)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // tasks run under the executor's own class loader, not a loader
      // per session. graft adds no session artifacts (no addJar,
      // addArtifact or addFile), and every streaming query clones its
      // session; the codegen cache is keyed by (class loader, code), so
      // under per-session loaders each query began with a cold cache,
      // and each class such a loader missed was fetched from the driver
      // over RPC. Counted by CodegenSpec: the second of two identical
      // EventSink.start queries compiles 79 classes under per-session
      // loaders, 28 with this flag alone and 4 with the cache size below
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the codegen cache holds the loops' working set. Counted cold by
      // CodegenSpec: one ingest cycle (3 processBatch calls with publish
      // and maintenance, then forget) compiles 109-125 classes and one
      // sink query 87, against Spark's default of 100 entries, so LRU
      // order evicted each class before the next cycle reused it: the
      // second identical cycle compiles 108 classes, and 0 at this size
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builderDefaults(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
