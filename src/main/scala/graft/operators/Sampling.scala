package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic sampling for training-data curation.
  *
  * `sample()`-style RNG sampling is nondeterministic across runs,
  * partitionings, and engines; curation pipelines need the SAME rows
  * selected on every rebuild (and an oracle needs to reproduce the
  * choice). Both operators key off md5 of the row id, so membership is
  * a pure function of the data:
  *
  *   - [[hashSample]] — rate-based: keep rows whose 32-bit hash prefix
  *     falls below floor(rate·2³²). A map-side integer comparison —
  *     ZERO shuffles, no floats — so at 100 TB it fuses into the scan
  *     (predicate on a computed column; the parquet reader still
  *     prunes columns, and the filter runs inside whole-stage codegen).
  *   - [[stratifiedSample]] — fixed-size per stratum: the n smallest
  *     hash keys per stratum (deterministic "uniform without
  *     replacement"). ONE shuffle on the stratum key. A hot stratum
  *     funnels into one task here; at extreme skew the standard fix is
  *     a per-partition `rank ≤ n` pre-prune (TakeOrderedAndProject
  *     shape) before the final per-stratum window — n is small, so the
  *     pre-pruned volume is tasks·n rows.
  */
object Sampling {

  /** 32-bit integer sample key: first 8 hex chars of md5(id). */
  def sampleKey32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Keep rows with sampleKey32 < floor(rate·2³²); adds `sample_key`. */
  def hashSample(df: DataFrame, idCol: String, rate: Double): DataFrame = {
    val cut = math.floor(rate * 4294967296.0).toLong
    df.withColumn("sample_key", sampleKey32(col(idCol)))
      .filter(col("sample_key") < cut)
  }

  /** The n hash-smallest rows per stratum; adds `sample_rank` (1-based
    * within the stratum). doc-id tie-break keeps the window order
    * TOTAL (md5 collisions are no excuse for engine-dependent output).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(sampleKey32(col(idCol)).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** L51 — Efraimidis-Spirakis WEIGHTED sampling without replacement,
    * deterministic: the selection counterpart to DSIR's weight
    * COMPUTATION (L33). Each row gets the E-S key u^(1/w) — in log
    * space, score = ln(u)/w with u = (sampleKey32+1)/2³² — and the n
    * largest scores per stratum win: P(selected) scales with w, yet
    * the draw replays bit-identically on any cluster (no RNG, the md5
    * key IS the uniform).
    *
    * The score is quantized to 1e-6 fixed-point BEFORE ranking (the
    * DSIR convention, Dsir.scala): `ln` is the one op where JDK and
    * libm may differ in the last ulp, and an unquantized sort could
    * flip near-tied ranks across engines. doc-id tie-break keeps the
    * order total.
    *
    * Scale shape: identical to [[stratifiedSample]] — score is
    * map-side, one stratum-keyed window shuffle, nothing global.
    * Weights must be strictly positive.
    */
  def weightedStratifiedSample(df: DataFrame, idCol: String,
      strataCol: String, weightCol: String, n: Int): DataFrame = {
    val u = (sampleKey32(col(idCol)) + lit(1L)).cast("double") /
      lit(4294967296.0)
    val scoreQ = floor(log(u) / col(weightCol) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("es_score_q").desc, col(idCol).asc)
    df.withColumn("es_score_q", scoreQ)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Mixture sampling: per-stratum keep rates (training-mix weighting —
    * e.g. upsample low-resource languages, downsample boilerplate
    * sources). Same map-side integer cut as [[hashSample]], the cut
    * point looked up per row from a literal map — still ZERO shuffles
    * and fully deterministic. Strata absent from `rates` fall back to
    * `defaultRate`.
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    def cut(rate: Double): Long = math.floor(rate * 4294967296.0).toLong
    val cutCol = rates.foldLeft(lit(cut(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(cut(rate))).otherwise(acc)
    }
    df.withColumn("sample_key", sampleKey32(col(idCol)))
      .filter(col("sample_key") < cutCol)
  }

  /** Greedy sequential token packing per stratum (sequence packing for
    * training batches): rows ordered by hash key within their stratum,
    * each assigned to pack floor(running_token_total_before_it /
    * budget) — the deterministic first-fit fill. A pack may overrun
    * the budget by at most one document (the straddler stays in the
    * pack it started in), which is the standard greedy contract.
    *
    * Scale: ONE shuffle on the stratum key; the running sum is a
    * per-stratum window, never a global one (a global cumsum would
    * serialize the corpus through one task). Strata are the
    * parallelism unit — at 100 TB pack within (stratum, shard) where
    * shard = sampleKey32 mod k for any k that bounds per-task volume.
    */
  def packByTokens(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(sampleKey32(col(idCol)).asc, col(idCol).asc)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      // integer division — the double-division-then-cast form can
      // misbucket at exact budget boundaries (oracle-parity rule)
      .withColumn("pack_id", expr(s"(__cum - $tokensCol) div $budget"))
      .drop("__cum")
  }

  /** [[packByTokens]] plus the SEGMENT MAP a packed-sequence trainer
    * needs for document-boundary attention masking: within each
    * (stratum, pack), documents concatenate in fill order, and each
    * row carries its segment index and start offset inside the pack —
    * `seg_start = tokens-before − tokens-before(pack's first doc)` —
    * so cross-document attention masks (and position-id resets) fall
    * out without re-deriving the fill downstream. The straddler
    * keeps the greedy contract: it starts inside the budget and may
    * run past it; the NEXT pack's offsets restart at 0.
    *
    * Scale shape: the same per-stratum window [[packByTokens]] runs
    * (never global), plus per-(stratum, pack) windows for the base
    * offset and segment rank — all partitioned on keys strictly finer
    * than the stratum, so no new serialization point appears at
    * 100 TB; one shuffle family keyed by stratum covers everything.
    */
  def packSegments(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    val fillOrder = Seq(sampleKey32(col(idCol)).asc, col(idCol).asc)
    val w = Window.partitionBy(col(strataCol)).orderBy(fillOrder: _*)
    val wp = Window.partitionBy(col(strataCol), col("pack_id"))
      .orderBy(fillOrder: _*)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("__before", col("__cum") - col(tokensCol))
      .withColumn("pack_id", expr(s"__before div $budget"))
      .withColumn("seg_idx", row_number().over(wp) - 1)
      .withColumn("seg_start", col("__before") - first(col("__before")).over(wp))
      .drop("__cum", "__before")
  }

  /** L19c — the fixed-capacity packing PAIR for the padding-waste
    * audit (round-12 verdict item 6): production packers cut pad
    * tokens with best-fit-decreasing; the reproducible baseline is
    * the greedy NEXT-FIT fill in hash order. Both land per-doc
    * assignments over FIXED budget-capacity bins — no straddler, so a
    * pack's pad is exactly `budget − fill`, the quantity the audit
    * measures (docs longer than the budget are a named error inside
    * the fold; truncate or split oversize docs upstream).
    *
    * Spark-first note: a bin CHOICE depends on every prior placement
    * in the stratum — inherently sequential state no window/agg
    * composition expresses (the same reason the signal FSM runs on
    * flatMapGroupsWithState), and a custom physical operator would
    * execute the identical per-group fold — so this is the justified
    * typed per-group fold in the batch API. Strata stay the
    * parallelism unit (the [[packByTokens]] contract): at 100 TB pack
    * within (stratum, shard = sampleKey32 mod k) to bound per-task
    * volume; within a stratum the BFD fold is O(n log n) over a
    * TreeSet of bin residuals.
    *
    * Determinism: NEXT-FIT fills in (sampleKey32, id) order — the
    * [[packByTokens]] fill order; BFD places in (tokens DESC,
    * sampleKey32, id) order into the FULLEST bin that still fits
    * (ties to the earliest-opened bin). Pack ids are 0-based in bin
    * OPENING order, so the whole assignment is a pure function of the
    * data and the DuckDB oracle replays it step for step.
    *
    * Output: (strataCol as string, idCol, tokensCol, pack_id).
    */
  def packNextFit(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budget: Long): DataFrame =
    packFold(df, idCol, strataCol, tokensCol, budget, bestFit = false)

  /** See [[packNextFit]] — the best-fit-decreasing half of the pair. */
  def packBestFit(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budget: Long): DataFrame =
    packFold(df, idCol, strataCol, tokensCol, budget, bestFit = true)

  private def packFold(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budget: Long, bestFit: Boolean): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(strataCol).cast("string"),
        col(idCol).cast("long"), col(tokensCol).cast("long"),
        sampleKey32(col(idCol)))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (stratum, it) =>
        val rows = it.toArray
        rows.foreach { case (_, id, t, _) =>
          require(t > 0 && t <= budget,
            s"packFold: token count must be in (0, $budget]; got $t for " +
              s"id $id in stratum $stratum — truncate or split oversize " +
              "docs upstream")
        }
        if (bestFit) {
          val ordered = rows.sortBy { case (_, id, t, k) => (-t, k, id) }
          // (residual, binId) ascending: the first element ≥
          // (tokens, −∞) is the smallest residual that fits = the
          // FULLEST fitting bin, ties to the earliest-opened bin
          val bins = scala.collection.mutable.TreeSet.empty[(Long, Long)]
          var opened = 0L
          ordered.iterator.map { case (_, id, t, _) =>
            val bin = bins.iteratorFrom((t, Long.MinValue)).nextOption() match {
              case Some(hit @ (res, bid)) =>
                bins.remove(hit); bins.add((res - t, bid)); bid
              case None =>
                val bid = opened; opened += 1
                bins.add((budget - t, bid)); bid
            }
            (stratum, id, t, bin)
          }
        } else {
          val ordered = rows.sortBy { case (_, id, _, k) => (k, id) }
          var cur = -1L
          var used = budget // force the first doc to open pack 0
          ordered.iterator.map { case (_, id, t, _) =>
            if (used + t > budget) { cur += 1; used = 0L }
            used += t
            (stratum, id, t, cur)
          }
        }
      }
      .toDF(strataCol, idCol, tokensCol, "pack_id")
  }

  /** L56 — GLOBAL token-budgeted shard assignment via a distributed
    * prefix sum (the shard/output-file writer of a training-data
    * pipeline: docs in id order, cut a new shard every `budget`
    * tokens). Unlike [[packByTokens]] the running total is over the
    * WHOLE corpus in one global order — the naive form is a global
    * window, which serializes 100 TB through a single task and is
    * exactly what PlanAuditSpec tripwires.
    *
    * Two-phase scan instead (the textbook parallel prefix sum):
    *   1. rows bucket by `id div bucketWidth` (order-preserving range
    *      buckets on the sort key); ONE partial-agg shuffle computes
    *      per-bucket token sums, folded into exclusive prefix offsets
    *      by a single-task ordered window over the SUMMARY rows —
    *      #buckets ≈ #splits entries (at 100 TB / 128 MB splits ~10⁶
    *      longs, the same order as the AQE shuffle statistics the
    *      driver already holds), never data rows — and re-broadcast.
    *      The whole step is a LAZY subplan of the returned frame (no
    *      eager driver collect), so the operator composes like any
    *      other and Catalyst sees one plan.
    *   2. a per-BUCKET window (never global over data) adds the
    *      in-bucket running sum to the broadcast bucket offset;
    *      shard = (global_cum − tokens) div budget, pure integer
    *      arithmetic.
    *
    * Result is bit-identical to the single-global-window form the
    * DuckDB oracle runs, for ANY bucketWidth ≥ 1 (prefix sums are
    * associative) — CurationSpec asserts this ("two-phase prefix sum
    * matches the global cumsum for any bucket width"). A shard may
    * overrun the budget by at most one straddling document, the same
    * greedy contract as [[packByTokens]].
    *
    * Ids must be non-null and non-negative and token counts non-null —
    * violations raise a named error from inside the plan instead of
    * silently mis-bucketing. The input is scanned twice (bucket sums +
    * final assignment); a NONDETERMINISTIC upstream must be
    * checkpointed by the caller or the offsets can disagree with the
    * second scan.
    */
  def shardByTokens(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, bucketWidth: Long): DataFrame = {
    require(budget > 0 && bucketWidth > 0, "budget and bucketWidth must be positive")
    cumByTokens(df, idCol, tokensCol, bucketWidth)
      .withColumn("shard_id", expr(s"(__cum - __btok) div $budget"))
      .drop("__cum", "__btok")
  }

  /** The shared two-phase prefix-sum core of [[shardByTokens]] /
    * [[shardAppend]]: the input plus `__cum` (running token total in
    * id order) and `__btok` (validated long token count). Callers
    * must drop both.
    */
  private def cumByTokens(df: DataFrame, idCol: String, tokensCol: String,
      bucketWidth: Long): DataFrame = {
    // validation rides on the token column (used by every downstream
    // expression, so it cannot be pruned away): a null/negative id or a
    // null token count fails loudly with the offending values
    val bad = col(idCol).isNull || col(idCol) < 0 || col(tokensCol).isNull
    val tok = when(bad, raise_error(concat(
        lit(s"shardByTokens: $idCol must be non-null and non-negative, " +
          s"$tokensCol non-null; got ($idCol="),
        coalesce(col(idCol).cast("string"), lit("NULL")),
        lit(s", $tokensCol="),
        coalesce(col(tokensCol).cast("string"), lit("NULL")), lit(")"))))
      .otherwise(col(tokensCol).cast("long"))
    val withB = df.withColumn("__btok", tok)
      .withColumn("__bucket", expr(s"$idCol div $bucketWidth"))
    val bucketSums = withB.groupBy(col("__bucket"))
      .agg(sum(col("__btok")).as("__bsum"))
    // exclusive prefix fold over the per-bucket sums: an ordered window
    // with no partition — deliberately, over #buckets summary rows only
    // (bounded like the driver-side fold it replaces, but lazy and
    // inside the plan)
    val offsets = bucketSums.withColumn("__offset",
        coalesce(sum(col("__bsum")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__offset")
    val w = Window.partitionBy(col("__bucket")).orderBy(col(idCol).asc)
    withB.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("__cum", sum(col("__btok")).over(w) + col("__offset"))
      .drop("__bucket", "__offset")
  }

  /** Per-shard manifest for [[shardByTokens]] output — the sidecar a
    * shard writer emits (doc count, token mass, id range per shard).
    * One partial-agg shuffle on shard_id.
    */
  def shardManifest(assigned: DataFrame, idCol: String,
      tokensCol: String): DataFrame =
    assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("n_tokens"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))

  /** L65 — INCREMENTAL shard publish (the L52 maintenance moment for
    * the shard family): assign an append-at-tail ingest batch its
    * shard ids from the STORED manifest alone — the running token
    * total and the max published id are the only history facts the
    * arithmetic needs — so the batch's assignment is ∝ batch while
    * already-published shards stay immutable (their manifest rows are
    * never recomputed, their files never rewritten; the straddling
    * last shard simply continues filling). Output is bit-identical to
    * re-running [[shardByTokens]] over the whole union corpus
    * (CurationSpec pins the identity; the gate's oracle IS the
    * union-corpus global window restricted to batch docs).
    *
    * Append-at-tail is the contract that makes the identity hold:
    * every batch id must exceed the manifest's max published id —
    * violations (a backfill arriving mid-range would silently shift
    * every later shard) raise a named error from inside the plan.
    * The manifest aggregates to ONE broadcast row (lazy subplan, the
    * shardByTokens offsets convention). The streaming publish loop
    * runs it only for a batch past its driver-side bound; below it,
    * [[shardAppendLocal]] computes the same assignment.
    */
  def shardAppend(batch: DataFrame, idCol: String, tokensCol: String,
      budget: Long, bucketWidth: Long, manifest: DataFrame): DataFrame = {
    require(budget > 0 && bucketWidth > 0, "budget and bucketWidth must be positive")
    val prior = manifest.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("__prior_tokens"),
      coalesce(max(col("max_id")), lit(-1L)).as("__max_pub"))
    val idOk = col(idCol) > col("__max_pub")
    cumByTokens(batch, idCol, tokensCol, bucketWidth)
      .crossJoin(broadcast(prior))
      .withColumn("shard_id",
        when(!idOk, raise_error(concat(
          lit(s"shardAppend: $idCol must exceed the published max id "),
          col("__max_pub").cast("string"), lit(s"; got $idCol="),
          col(idCol).cast("string"))))
          .otherwise(expr(
            s"(__prior_tokens + __cum - __btok) div $budget")))
      .drop("__prior_tokens", "__max_pub", "__cum", "__btok")
  }

  /** A [[shardManifest]] row: (shard_id, n_docs, n_tokens, min_id,
    * max_id).
    */
  type ManifestRow = (Long, Long, Long, Long, Long)

  /** The stored type of [[shardManifest]] rows, for readers that skip
    * the parquet footer inference.
    */
  val ManifestSchema: StructType = StructType(
    Seq("shard_id", "n_docs", "n_tokens", "min_id", "max_id")
      .map(StructField(_, LongType)))

  /** [[shardAppend]] on the driver, for a batch its caller has already
    * collected (the ingest loop's bounded path): `batch` is (id,
    * tokens) rows, `manifest` the stored manifest's rows. The same
    * arithmetic — a prefix sum in id order, shard = (prior tokens +
    * cum − tokens) div budget — and the same named errors, raised on
    * the smallest offending id. Returns (id, tokens, shard_id) in id
    * order; CurationSpec's oracle-gated [[shardAppend]] is the
    * reference (IngestBatchSpec pins the equality).
    */
  private[graft] def shardAppendLocal(batch: Seq[(Long, Long)], idCol: String,
      tokensCol: String, budget: Long, manifest: Seq[ManifestRow])
      : Seq[(Long, Long, Long)] = {
    require(budget > 0, s"budget must be positive: $budget")
    val priorTokens = manifest.iterator.map(_._3).sum
    val maxPub = if (manifest.isEmpty) -1L else manifest.iterator.map(_._5).max
    var cum = 0L
    batch.sortBy(_._1).map { case (id, tok) =>
      if (id < 0) throw new IllegalArgumentException(
        s"shardByTokens: $idCol must be non-null and non-negative, " +
          s"$tokensCol non-null; got ($idCol=$id, $tokensCol=$tok)")
      if (id <= maxPub) throw new IllegalArgumentException(
        s"shardAppend: $idCol must exceed the published max id $maxPub; " +
          s"got $idCol=$id")
      cum += tok
      (id, tok, (priorTokens + cum - tok) / budget)
    }
  }

  /** [[shardManifest]] of a driver-side assignment ([[shardAppendLocal]]'s
    * output).
    */
  private[graft] def shardManifestLocal(assigned: Seq[(Long, Long, Long)])
      : Seq[ManifestRow] =
    assigned.groupBy(_._3).iterator.map { case (s, rs) =>
      (s, rs.size.toLong, rs.iterator.map(_._2).sum,
        rs.iterator.map(_._1).min, rs.iterator.map(_._1).max)
    }.toSeq

  /** The manifest after an append: the `prior` rows and the batch's
    * per-shard facts, folded per shard — the straddler appears on both
    * sides and sums. In shard order.
    */
  private[graft] def foldManifest(prior: Seq[ManifestRow],
      batch: Seq[ManifestRow]): Seq[ManifestRow] =
    (prior ++ batch).groupBy(_._1).iterator
      .map { case (s, rs) =>
        (s, rs.iterator.map(_._2).sum, rs.iterator.map(_._3).sum,
          rs.iterator.map(_._4).min, rs.iterator.map(_._5).max)
      }.toSeq.sortBy(_._1)

  /** [[appendShardFiles]] for a driver-side assignment (id order, so
    * the first row's shard is the straddler — no probe job). The
    * straddler's stored rows are read once with their known type and
    * deduped on the driver with the batch (the replay-idempotence of
    * the union dedup), and every touched shard lands in ONE write job:
    * a single task writes one file per shard directory, the layout the
    * keyed repartition gives. How many rows the straddler holds is
    * known from `manifest` (the prior manifest the assignment was
    * made against; a replayed batch may have added its own rows, at
    * most the batch again): past `maxRows`, the batch goes through
    * [[appendShardFiles]] instead.
    */
  private[graft] def appendShardFilesLocal(spark: SparkSession,
      assigned: Seq[(Long, Long, Long)], idCol: String, tokensCol: String,
      dest: String, manifest: Seq[ManifestRow], maxRows: Long): Unit =
    assigned.headOption.foreach { case (_, _, straddler) =>
      import spark.implicits._
      val stored = manifest.collectFirst {
        case m if m._1 == straddler => m._2
      }.getOrElse(0L)
      if (stored > maxRows) appendShardFiles(
        assigned.toDF(idCol, tokensCol, "shard_id"), idCol, tokensCol, dest)
      else {
        val dir = new java.io.File(s"$dest/shard_id=$straddler")
        val existing =
          if (!dir.isDirectory) Seq.empty[(Long, Long, Long)]
          else spark.read
            .schema(StructType(Seq(StructField(idCol, LongType),
              StructField(tokensCol, LongType))))
            .parquet(dir.getPath).collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), straddler))
        (existing ++ assigned).distinctBy(_._1)
          .toDF(idCol, tokensCol, "shard_id").coalesce(1)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard_id").parquet(dest)
      }
    }

  /** L56's WRITER — land the assignment as the partitioned on-disk
    * layout it exists to produce (one `shard_id=N` directory per
    * shard, the output-file layout of a training-data pipeline). One
    * keyed repartition so a shard's rows arrive at one task — without
    * it every write task opens a file in every shard directory it
    * sees, fragmenting each shard into #tasks small files — then
    * `partitionBy` routes rows to their directory.
    *
    * Durable-readback contract (the q_stream_sink_table pattern): the
    * gate `q_c_shard_write` recomputes the manifest FROM the written
    * files and hash-matches the same oracle as the in-plan manifest —
    * what landed on disk, not what the plan promised, is what gets
    * checked.
    */
  def writeShards(assigned: DataFrame, idCol: String, tokensCol: String,
      dest: String): Unit =
    assigned.select(col(idCol), col(tokensCol), col("shard_id"))
      .repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(dest)

  /** L65's WRITER — land an append batch as partition directories
    * WITHOUT rewriting published shards: the durable half of
    * [[shardAppend]]'s ∝-batch contract (assignment ∝ batch is no
    * win if the writer then rewrites 100 TB of layout). Only the
    * batch's own shard directories are written — brand-new shards
    * plus the one straddling shard the batch continues, whose
    * existing rows ride through via ONE partition-pruned read (the
    * BucketedTable one-pruned-read-one-write convention); dynamic
    * partition overwrite leaves every other published directory's
    * files untouched on disk (CurationSpec pins the untouched file
    * list byte-for-byte). REPLAY-IDEMPOTENT: the straddler union
    * dedups on the id, so re-running the same batch after a crash
    * (the batch's rows already landed in the straddler) rewrites the
    * same content instead of duplicating — the property the streaming
    * publish loop's crash contract rests on. That loop writes through
    * [[appendShardFilesLocal]] while its batch fits the driver.
    */
  def appendShardFiles(assignedBatch: DataFrame, idCol: String,
      tokensCol: String, dest: String): Unit = {
    val spark = assignedBatch.sparkSession
    val rows = assignedBatch.select(col(idCol), col(tokensCol),
      col("shard_id")).cache()
    try {
      // bounded driver action: ONE long (the potential straddler id)
      val minShard = rows.agg(min("shard_id")).head()
      if (!minShard.isNullAt(0)) {
        val straddler = minShard.getLong(0)
        val existing =
          if (new java.io.File(dest).exists())
            spark.read.parquet(dest)
              .withColumn("shard_id", col("shard_id").cast("long"))
              .filter(col("shard_id") === straddler) // partition-pruned
              .select(col(idCol), col(tokensCol), col("shard_id"))
          else rows.limit(0)
        existing.unionByName(rows)
          .dropDuplicates(idCol)
          .repartition(col("shard_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard_id").parquet(dest)
      }
    } finally rows.unpersist()
  }

  /** L56 × L60 — the shard writer landing CURRICULUM ORDER inside
    * each shard (round-10 verdict item 6): the training reader's
    * contract is `(stage, ord_key)`-ascending rows per shard file, so
    * the easy→hard schedule is a property of the BYTES ON DISK, not
    * of a sort the reader must re-run. Same one keyed repartition as
    * [[writeShards]] (a shard's rows arrive at one task → one file
    * per shard directory), plus an in-task sort — shard first so each
    * directory's rows stream out contiguously, then the curriculum
    * key, id as the deterministic tiebreak. Parquet preserves row
    * order within a file, and `_metadata.row_index` on readback IS
    * the position the reader will consume — the gate
    * `q_c_shard_write_curriculum` recomputes the expected order from
    * scratch in the oracle and hash-compares against positions read
    * FROM the written files, so an unsorted (or fragmented) shard
    * hash-fails.
    */
  def writeShardsOrdered(assigned: DataFrame, idCol: String,
      tokensCol: String, stageCol: String, ordCol: String,
      dest: String): Unit =
    assigned.select(col(idCol), col(tokensCol), col(stageCol),
        col(ordCol), col("shard_id"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(stageCol), col(ordCol),
        col(idCol))
      .write.mode("overwrite").partitionBy("shard_id").parquet(dest)

  /** L60 — curriculum staging (easy→hard training-data ordering):
    * every row assigned a difficulty stage 1..k within its group
    * (difficulty is group-relative — a "long" Chinese doc and a
    * "long" English doc are different percentiles), plus the
    * deterministic in-stage order key; the training reader consumes
    * `(stage, ord_key)` ascending and gets the curriculum schedule,
    * reproducibly on any engine.
    *
    * Stage cuts are the exact discrete quantiles at rank ⌈n·i/k⌉
    * (the [[Profiling.trimOutliers]] integer-rank convention, so the
    * oracle mirror is hash-exact); ties at a cut fall to the LOWER
    * stage (strict `>` against the cut). Scale shape: the cuts table
    * is one row per group — broadcast, assignment map-side, order key
    * a hash — so nothing global anywhere; at 100 TB the cuts come
    * from the `percentile_approx` sketch
    * ([[Profiling.approxQuantileCuts]]) fed into
    * [[curriculumStageWith]] — the identical broadcast-assignment
    * stage this exact path delegates to, the same exact-vs-sketch
    * split as [[Profiling.trimOutliers]]/`trimOutliersWith`
    * (CurationSpec pins both: the delegation is row-identical, and a
    * sketch-fed run sits within the GK rank-error band).
    */
  def curriculumStage(df: DataFrame, idCol: String, groupCol: String,
      diffCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 stages: $k")
    val v = col(diffCol).cast("long")
    val n = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val ranked = df.select(col(groupCol), v.as("__v"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("__v"))))
      .join(n, Seq(groupCol))
    val cutAggs = (1 until k).map(i =>
      max(when(col("__rn") === expr(s"(__n * $i + ${k - 1}) div $k"),
        col("__v"))).as(s"__c$i"))
    val marks = ranked.groupBy(col(groupCol)).agg(cutAggs.head, cutAggs.tail: _*)
      .select(col(groupCol),
        array((1 until k).map(i => col(s"__c$i")): _*).as("__cuts"))
    curriculumStageWith(df, idCol, groupCol, diffCol, marks)
  }

  /** The curriculum ASSIGNMENT stage against PRECOMPUTED per-group
    * cuts — one row per group with (`groupCol`, `__cuts` ascending
    * array of k−1 stage boundaries). [[curriculumStage]] delegates
    * its exact integer-rank cuts here; the 100 TB path feeds
    * [[Profiling.approxQuantileCuts]] (or any stored cuts table)
    * instead. Stage = 1 + #cuts strictly below the value (ties fall
    * to the LOWER stage), so the semantics are cut-source-agnostic;
    * the stage itself is a broadcast join + a map-side array scan
    * that fuses into the scan, whatever produced the cuts.
    */
  def curriculumStageWith(df: DataFrame, idCol: String, groupCol: String,
      diffCol: String, cuts: DataFrame): DataFrame = {
    val v = col(diffCol).cast("long")
    df.join(broadcast(cuts), Seq(groupCol))
      .withColumn("stage", size(filter(col("__cuts"), c => v > c)) + lit(1))
      .withColumn("ord_key", sampleKey32(col(idCol)))
      .drop("__cuts")
  }

  /** Per-domain quota cap (the RefinedWeb/C4 "at most k pages per
    * host" rule): keep the k hash-smallest rows per domain, rank
    * attached as `cap_rank`. Selection is the same deterministic
    * md5-order as [[stratifiedSample]], so membership is reproducible
    * and oracle-checkable.
    *
    * Scale shape: TWO window passes, not one. A direct per-domain
    * window funnels every row of a hot domain (at 100 TB a big host
    * is 10⁸ pages) into one task for the sort. Pass 1 ranks within
    * (domain, salt) — `salts` subsets of bounded size — and keeps ≤ k
    * per salt; pass 2 ranks the ≤ salts·k survivors per domain. The
    * hot task is now bounded at salts·k rows regardless of domain
    * size, and pass 1's partial sets provably contain the global
    * top-k (each salt keeps ITS k hash-smallest; any row in the
    * domain's true top-k is in its own salt's top-k). Result is
    * bit-identical to the single-window form the oracle runs.
    */
  def domainCap(df: DataFrame, idCol: String, domainCol: String, k: Int,
      salts: Int = 32): DataFrame = {
    val key = sampleKey32(col(idCol))
    val w1 = Window
      .partitionBy(col(domainCol), pmod(col(idCol), lit(salts.toLong)))
      .orderBy(key.asc, col(idCol).asc)
    val w2 = Window.partitionBy(col(domainCol))
      .orderBy(key.asc, col(idCol).asc)
    df.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .drop("__r1")
      .withColumn("cap_rank", row_number().over(w2))
      .filter(col("cap_rank") <= k)
  }

  /** Leakage-free split assignment: every row of a GROUP (a near-dup
    * cluster, a host, an author) lands in the same split, so no
    * near-duplicate pair can straddle train/eval — the contamination
    * mode document-level splitting cannot prevent. `fracs` are
    * (name, fraction) in declaration order; the group key is hashed
    * once (`md5(group || "|split")`, domain-separated from the sample
    * keys) and cut at cumulative 32-bit thresholds, so assignment is a
    * map-side pure function of the group id — ZERO shuffles beyond
    * whatever produced the groups, reproducible cross-engine.
    */
  def splitByGroup(df: DataFrame, groupCol: String,
      fracs: Seq[(String, Double)]): DataFrame = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1: $fracs")
    val key = sampleKey32(concat(col(groupCol).cast("string"), lit("|split")))
    val cuts = fracs.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.floor(f * 4294967296.0).toLong)
    val split = fracs.init.zip(cuts.init).foldRight(
      lit(fracs.last._1)) { case (((name, _), cut), acc) =>
      when(key < cut, lit(name)).otherwise(acc)
    }
    df.withColumn("split", split)
  }

  /** Temperature-scaled mixture weights per domain (the multilingual /
    * multi-source rebalancing rule: p_d ∝ n_d^(1/τ), τ=1 proportional,
    * τ→∞ uniform — the upsampling schedule used for low-resource
    * domains in multilingual LM training).
    *
    * Input: one row per document with its domain and size (tokens).
    * Output: one row per domain — (domain, n_tokens, p_mix, epochs)
    * where p_mix is the normalized temperature weight and epochs =
    * p_mix·N/n_d is how many times the domain's data is effectively
    * repeated under the mix (the oversampling-factor the schedule
    * implies; epochs > 1 on small domains is the overfitting signal
    * curation reports watch).
    *
    * Scale shape: ONE map-side-combinable sum per domain (the only
    * shuffle, carrying #domains rows), then the normalization joins
    * the 1-row total back by broadcast — the whitelisted scalar
    * BroadcastNestedLoopJoin shape, never a global window over data.
    * Doubles are rounded (6 dp, HALF_UP) at the boundary so the
    * output is engine-parity-stable.
    */
  /** L62 — deterministic EPOCH RESHUFFLE (the data-loader's
    * between-pass permutation, done offline where 100 TB lives): every
    * row gets a shuffle key = 60-bit md5 prefix of `seed:id` (the
    * engine-neutral hash rule the overlap sketch already uses, so the
    * oracle reproduces it bit-for-bit) and `pos` = the row's rank in
    * the (key, id) total order — a full corpus permutation that is a
    * pure function of (seed, data): replayable on crash, different per
    * epoch, identical on every engine. Downstream composes it with
    * [[shardByTokens]] by passing `pos` as the id column, so each
    * epoch's shards are a fresh permutation with the same token
    * budget.
    *
    * The rank is the same two-phase prefix sum as [[shardByTokens]] —
    * a global `row_number()` window is exactly the PlanAudit tripwire:
    *   1. keys range-bucket by `key div 2⁶⁰/buckets` (keys are uniform
    *      in [0, 2⁶⁰), so buckets are balanced by construction — no
    *      skew story needed); ONE count aggregation + an ordered fold
    *      over the #buckets summary rows → exclusive row offsets,
    *      broadcast back as a lazy subplan;
    *   2. a per-BUCKET row_number adds the in-bucket rank to the
    *      bucket offset. Bit-identical to the single global window for
    *      any bucket count (CurationSpec asserts widths 1/7/4096 and
    *      seed replay under deliberate mis-partitioning).
    *
    * Null/negative ids raise a named error from inside the plan (the
    * shardByTokens validation convention).
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val bad = col(idCol).isNull || col(idCol) < 0
    val keyRaw = conv(substring(
        md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string"))),
        1, 15), 16, 10).cast("long")
    val key = when(bad, raise_error(concat(
        lit(s"epochShuffle: $idCol must be non-null and non-negative; got "),
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(keyRaw)
    val bucketWidth = math.max(1L, (1L << 60) / buckets)
    val withK = df.withColumn("shuffle_key", key)
      .withColumn("__bucket", expr(s"shuffle_key div $bucketWidth"))
    val counts = withK.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__bcnt"))
    val offsets = counts.withColumn("__offset",
        coalesce(sum(col("__bcnt")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__offset")
    val w = Window.partitionBy(col("__bucket"))
      .orderBy(col("shuffle_key").asc, col(idCol).asc)
    withK.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("pos",
        row_number().over(w).cast("long") - 1L + col("__offset"))
      .drop("__bucket", "__offset")
  }

  /** Temperature mixture under per-source MAX-EPOCH caps — the
    * waterfilling step real pretraining recipes add on top of
    * [[temperatureMixture]]: τ-scaling oversamples small sources, so
    * at a realistic token budget the smallest sources blow past any
    * sane repetition limit; the recipe answer is "cap them at E_max
    * epochs and redistribute the freed budget over the rest", which
    * cascades (redistribution pushes the next-smallest source over
    * ITS cap). Closed form, no iteration: sort sources by saturation
    * order cap_d/w_d ascending; a source is capped iff the budget
    * left after capping every EARLIER source, spread over the
    * remaining weight, would meet or exceed its own cap —
    * (B − capΣ_{<r})·w_r ≥ cap_r·wTail_{<r}. The test is
    * self-consistent as a per-row predicate: capping a source whose
    * ratio exceeds the current water level LOWERS the level while
    * the sorted ratios rise, so a first failure can never be
    * followed by a pass (and symmetrically a pass can never follow a
    * failure) — the capped set is provably the greedy prefix without
    * sequential evaluation.
    *
    * Scale shape: one groupBy to one row per source, 1-row totals
    * broadcasts, and the saturation-order window runs over those
    * bounded per-source rows only (the L45/L56 convention). Parity:
    * weights quantize to 1e-6 fixed point, caps/budget to integer
    * tokens, and every comparison and allocation is a product or
    * single division of exact longs in a fixed order, so the DuckDB
    * oracle mirrors the arithmetic bit-for-bit.
    *
    * @param budgetMultiple training-token budget as a multiple of
    *                       the corpus total (computed in-plan; a
    *                       production caller with an absolute budget
    *                       passes budget/Σn).
    * @param maxEpochs      per-source repetition cap E_max.
    */
  def epochCapMixture(df: DataFrame, domainCol: String, sizeCol: Column,
      tau: Double, budgetMultiple: Double, maxEpochs: Double): DataFrame = {
    require(tau > 0, s"temperature must be positive: $tau")
    require(budgetMultiple > 0 && maxEpochs > 0,
      s"budget multiple and epoch cap must be positive: " +
        s"$budgetMultiple, $maxEpochs")
    val perDomain = df.groupBy(col(domainCol))
      .agg(sum(sizeCol).as("n_tokens"))
      .withColumn("w_u",
        floor(pow(col("n_tokens").cast("double"), lit(1.0 / tau)) *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("cap_t",
        floor(col("n_tokens").cast("double") * lit(maxEpochs) + lit(0.5))
          .cast("long"))
    val totals = perDomain.agg(sum("n_tokens").as("n_total"),
      sum("w_u").as("w_total"))
    // strictly-before prefix sums in saturation order (bounded rows)
    val wPre = Window
      .orderBy((col("cap_t").cast("double") / col("w_u").cast("double")).asc,
        col(domainCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = perDomain.crossJoin(broadcast(totals))
      .withColumn("budget_t",
        floor(col("n_total").cast("double") * lit(budgetMultiple) + lit(0.5))
          .cast("long"))
      .withColumn("cap_prefix", coalesce(sum("cap_t").over(wPre), lit(0L)))
      .withColumn("w_prefix", coalesce(sum("w_u").over(wPre), lit(0L)))
      .withColumn("capped",
        (col("budget_t") - col("cap_prefix")).cast("double") *
          col("w_u").cast("double") >=
          col("cap_t").cast("double") *
            (col("w_total") - col("w_prefix")).cast("double"))
    val capTotals = flagged.agg(
      coalesce(sum(when(col("capped"), col("cap_t"))), lit(0L))
        .as("cap_capped"),
      coalesce(sum(when(!col("capped"), col("w_u"))), lit(0L)).as("w_unc"))
    val alloc = when(col("capped"), col("cap_t"))
      .otherwise(floor(
        (col("budget_t") - col("cap_capped")).cast("double") *
          col("w_u").cast("double") / col("w_unc").cast("double") +
          lit(0.5)).cast("long"))
    flagged.crossJoin(broadcast(capTotals))
      .select(col(domainCol), col("n_tokens"), col("capped"),
        alloc.as("alloc_tokens"),
        graft.functions.Parity.roundHalfUp(
          alloc.cast("double") / col("n_tokens").cast("double"), 6)
          .as("epochs"),
        graft.functions.Parity.roundHalfUp(
          alloc.cast("double") / col("budget_t").cast("double"), 6)
          .as("p_mix"))
  }

  def temperatureMixture(df: DataFrame, domainCol: String,
      sizeCol: Column, tau: Double): DataFrame = {
    require(tau > 0, s"temperature must be positive: $tau")
    val perDomain = df.groupBy(col(domainCol))
      .agg(sum(sizeCol).as("n_tokens"))
      .withColumn("__w", pow(col("n_tokens").cast("double"), lit(1.0 / tau)))
    val totals = perDomain.agg(
      sum("__w").as("__wsum"), sum("n_tokens").as("__n"))
    perDomain.crossJoin(broadcast(totals))
      .select(col(domainCol), col("n_tokens"),
        graft.functions.Parity.roundHalfUp(
          col("__w") / col("__wsum"), 6).as("p_mix"),
        graft.functions.Parity.roundHalfUp(
          col("__w") / col("__wsum") * col("__n").cast("double") /
            col("n_tokens").cast("double"), 6).as("epochs"))
  }
}
