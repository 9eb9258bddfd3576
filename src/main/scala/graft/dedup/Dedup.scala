package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Parity
import graft.text.TextAnalysis

/** Document deduplication family for training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design notes (100 TB):
  *   - exact dedup is one hash-shuffle on the fingerprint;
  *   - MinHash+LSH is the linear-cost near-dup path: per-doc signature
  *     (map-side), explode to `bands` rows, ONE shuffle on
  *     (band_id, band_key), pairs emerge only inside buckets — never an
  *     all-pairs join;
  *   - the verify step re-joins shingle sets only for candidate pairs;
  *   - hash functions are md5/sha built-ins so results are
  *     reproducible in any engine (DuckDB oracle included). A faster
  *     xxhash64 variant is a drop-in for production (same shape,
  *     non-portable hashes).
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical representative. Reference analog: first-seen-wins tweet
    * dedup (worker/jobs/x_kol_poll.py:82-117).
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-n-gram shingle sets per doc. */
  def withShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"), TextAnalysis.shingles(col(textCol), n).as("sh"))

  /** LINE-level exact dedup across the whole corpus (the C4 move:
    * drop every repeated line globally, keep its FIRST occurrence by
    * (page, position), and reassemble each page from its surviving
    * lines in order).
    *
    * Scale shape: the first-occurrence rule is `min(struct(page, pos))`
    * per line — a PARTIAL aggregation, so a boilerplate hot line
    * ("subscribe…" × 10⁹ pages) combines map-side and each reducer key
    * receives at most one row per map partition; the window-sort form
    * would instead drag every occurrence of the hot line into one task
    * (the skew SCALE_REHEARSAL.md §line-dedup measures). The winners
    * table alone (one row per distinct line) rebuilds the kept text —
    * occurrences are never joined back, so no hot-key join exists.
    * Two keyed shuffles total: line content (agg), page id (ordered
    * reassembly; `array_sort` on (pos, line) structs keeps the
    * collect_list order-deterministic). No self-join, no driver path;
    * empty pages survive via the left join.
    *
    * Returns (page_id, n_lines, n_kept, text_kept).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("page_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(col("line") =!= "")
    // struct ordering is lexicographic, so min(struct(page_id, pos))
    // IS "first occurrence by (page, position)".
    val kept = lines
      .groupBy("line")
      .agg(min(struct(col("page_id"), col("pos"))).as("w"))
      .select(col("w.page_id").as("page_id"), col("w.pos").as("pos"),
        col("line"))
      .groupBy("page_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("text_kept"))
    val totals = lines.groupBy("page_id").agg(count(lit(1)).as("n_lines"))
    df.select(col(idCol).as("page_id"))
      .join(totals, Seq("page_id"), "left")
      .join(kept, Seq("page_id"), "left")
      .select(col("page_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** INCREMENTAL snapshot dedup — the production ingest shape: a new
    * crawl batch is deduped against the historical fingerprint index
    * AND within itself, so only first-seen content enters the corpus.
    * Returns every batch row with (fp, in_history, batch_dup, keep);
    * keep = not in history and first occurrence (min id) in the batch.
    *
    * Scale shape: the batch-side first-occurrence is a partial-agg
    * min on fp (map-side combine, the line-dedup pattern); the
    * history probe is ONE equi-join on fp whose cost is O(batch) on
    * the history side when the index is stored bucketed by fp (the
    * BucketingSpec layout — no shuffle of the 100 TB history at ingest
    * time, ever). The index stays append-only: each run appends its
    * `keep` rows' fingerprints.
    *
    * CONTRACT: `historyFps` must be unique by fp. The append-only
    * protocol guarantees it — each run appends only its `keep` rows,
    * and a row is `keep` only when its fp is NOT already in history —
    * so no defensive `distinct()` runs here (it would be a full
    * aggregation of the 100 TB index on every ingest, the exact
    * shuffle the scaladoc forbids). A violated contract surfaces as
    * duplicate join matches, i.e. output rows > batch rows — cheap to
    * assert in the caller if the index provenance is untrusted.
    */
  def incrementalDedup(batch: DataFrame, historyFps: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val b = batch.select(col(idCol), md5(col(textCol)).as("fp"))
    val first = b.groupBy("fp").agg(min(col(idCol)).as("__first_id"))
    val hist = historyFps.select(col("fp"))
      .withColumn("__h", lit(true))
    b.join(first, Seq("fp"))
      .join(hist, Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        coalesce(col("__h"), lit(false)).as("in_history"),
        (col(idCol) =!= col("__first_id")).as("batch_dup"),
        (coalesce(col("__h"), lit(false)) === false &&
          col(idCol) === col("__first_id")).as("keep"))
  }

  /** Serialized Bloom filter over the history fingerprint index — the
    * per-snapshot sketch artifact that lets [[incrementalDedupBloom]]
    * rule out definite-miss fingerprints WITHOUT touching the index.
    *
    * Built by Spark's native `BloomFilterAggregate` (the expression
    * behind runtime row-level filtering): per-partition bloom buffers
    * merge associatively, so the build is one map-side pass over the
    * index — no shuffle of fingerprints, one bounded binary collected
    * to the driver (the IVF-centroid precedent: a model artifact, not
    * data). Size = n·ln(1/p)/ln²2 bits ≈ 0.9 GB at 10⁹ fps / 3 % fpp —
    * broadcastable; past ~10¹⁰ shard by pmod(xxhash64(fp), S) with one
    * bloom per shard and route probes by the same key. Append-only
    * maintenance matches the index protocol: each ingest unions the
    * batch's keep-fps into the sketch (`BloomFilter.mergeInPlace`), no
    * rebuild.
    *
    * Returns null for an empty index (callers treat null as
    * "nothing can be in history").
    */
  def fpBloom(historyFps: DataFrame, expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val agg = new BloomFilterAggregate(
      expression(xxhash64(col("fp"))),
      Literal(expectedItems), Literal(numBits))
    val row = historyFps.select(
      column(agg.toAggregateExpression()).as("bf")).head
    if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
  }

  /** Codegen'd bloom membership probe (`BloomFilterMightContain`,
    * xxhash64 keying — the exact pairing `fpBloom` builds with).
    */
  def mightContainFp(bloom: Array[Byte], fp: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    column(BloomFilterMightContain(Literal(bloom), expression(xxhash64(fp))))
  }

  /** [[incrementalDedup]] with a Bloom pre-filter on the history probe
    * — same output, bit for bit. Correctness does not depend on the
    * bloom: a negative probe is a GUARANTEED miss (in_history = false
    * with no join), and every positive — true or false — is verified
    * by the exact fp equi-join, so false positives only cost probe
    * volume, never wrong answers.
    *
    * Scale shape: the per-ingest history join's stream side shrinks
    * from |batch| to (true-dup mass + fpp·|batch|) — on a
    * mostly-novel crawl that is ~fpp of the batch, and with the
    * bucketed-by-fp index layout the join reads only the buckets the
    * surviving probes hash to. The bloom itself is the amortized
    * artifact of [[fpBloom]]: built once per snapshot, appended per
    * ingest, never rebuilt from the 100 TB index.
    */
  def incrementalDedupBloom(batch: DataFrame, historyFps: DataFrame,
      idCol: String, textCol: String, bloom: Array[Byte]): DataFrame = {
    val b = batch.select(col(idCol), md5(col(textCol)).as("fp"))
    val first = b.groupBy("fp").agg(min(col(idCol)).as("__first_id"))
      .localCheckpoint() // consumed twice (miss + maybe branches)
    val flags =
      if (bloom == null)
        first.withColumn("__h", lit(false))
      else {
        val probe = coalesce(mightContainFp(bloom, col("fp")), lit(false))
        val miss = first.filter(!probe).withColumn("__h", lit(false))
        val hist = historyFps.select(col("fp")).withColumn("__h0", lit(true))
        val maybe = first.filter(probe)
          .join(hist, Seq("fp"), "left")
          .select(col("fp"), col("__first_id"),
            coalesce(col("__h0"), lit(false)).as("__h"))
        miss.unionByName(maybe)
      }
    b.join(flags, Seq("fp"))
      .select(col(idCol), col("fp"),
        col("__h").as("in_history"),
        (col(idCol) =!= col("__first_id")).as("batch_dup"),
        (!col("__h") && col(idCol) === col("__first_id")).as("keep"))
  }

  /** Large prime for the affine minhash family (2^31 - 1). */
  private val P: Long = 2147483647L

  /** Base-hash term carved from an md5 hex digest: 15 hex chars from
    * `from` (1-based) → 60-bit int → mod P. The two independent base
    * values of the minhash family are `from = 1` and `from = 17` of
    * ONE digest — the digest is paid for once per (doc, shingle).
    */
  private def baseHash(hexDigest: Column, from: Int): Column =
    pmod(conv(substring(hexDigest, from, 15), 16, 10).cast("long"), lit(P))

  /** MinHash signatures via explode + 16 `min` aggregates.
    *
    * ONE md5 per (doc, shingle) row — guaranteed: an array-expression
    * formulation gets re-inlined by Catalyst's CollapseProject into one
    * digest PER HASH FUNCTION (16× the hashing; measured 5× slower at
    * sf0.1). The k minhash functions are cheap affine maps
    * (a_k·x + b_k) mod P over the shared base hash, and the groupBy
    * runs map-side partial aggregation, so the shuffle carries one
    * 16-long row per document — the shape that survives corpus scale.
    *
    * The hash family is a TWO-TERM linear combination
    * (a_k·x₁ + b_k·x₂ + c_k) mod P of two independent base values
    * carved from the SAME md5 digest (hex chars 1–15 and 17–31 — the
    * digest was already paid for; the second value is free). Both
    * defects the q_d_lsh_curve audit exposed are fixed by it: the
    * original small odd multipliers (1, 3, …, 31) over ONE base made
    * each map piecewise-monotone with ≤31 wraps, so the 16 minima
    * collapsed onto the same argmin shingles (measured 0.88 capture
    * at j≈0.9 where the curve says 0.999998); spreading the
    * multipliers over [1, P) recovered the curve except for a ~1 %
    * residual at the top buckets — the correlation floor of any
    * one-base affine family — and the second base value removes that
    * floor (the pair (x₁, x₂) makes the k maps pairwise
    * near-independent). Each product reduces mod P before the sum,
    * so every intermediate stays < 2⁶² and the oracle mirrors the
    * chain literally.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", md5(col("s")))
      .withColumn("x1", baseHash(col("h"), 1))
      .withColumn("x2", baseHash(col("h"), 17))
    val aggs = (0 until numHashes).map(k =>
      min((col("x1") * lit((k + 1) * 2654435761L % P) % lit(P) +
        col("x2") * lit((2 * k + 1) * 1779033703L % P) % lit(P) +
        lit(k * 12345L + 7)) % lit(P))
        .as(s"sig_$k"))
    exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(k => col(s"sig_$k")): _*).as("sig"))
  }

  /** LSH band keys: one per consecutive group of `rowsPerBand`
    * signature values. bands = numHashes / rowsPerBand.
    */
  def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val bands = numHashes / rowsPerBand
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        transform(slice(sig, lit(b * rowsPerBand + 1), lit(rowsPerBand)),
          x => x.cast("string"))))
    }: _*)
  }

  /** Exact Jaccard from precomputed intersection size:
    * |A∩B| / (|A| + |B| - |A∩B|) — avoids materializing the union
    * (array_distinct over the concatenated arrays was the hottest
    * operation in the all-pairs bench).
    */
  private def jaccardFromInter(inter: Column, sa: Column, sb: Column): Column =
    inter.cast("double") / (sa + sb - inter).cast("double")

  /** Attach verified-jaccard to candidate (ida, idb, sha, shb) pairs;
    * a size-ratio prune runs first: j ≤ min(|A|,|B|)/max(|A|,|B|), so
    * pairs failing the ratio cannot reach the threshold (epsilon guards
    * the round-to-6-digits boundary).
    */
  private def verifyJaccard(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("sa", size(col("sha")))
      .withColumn("sb", size(col("shb")))
      .filter(least(col("sa"), col("sb")).cast("double") >=
        lit(threshold - 1e-6) * greatest(col("sa"), col("sb")).cast("double"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", Parity.roundHalfUp(
        jaccardFromInter(col("inter"), col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")

  /** (doc_id, __text, rep) with rep = min doc_id among byte-identical
    * texts: the exact-dup collapse shared by the near-dup pair
    * operators, so candidate generation runs on DISTINCT texts and can
    * never scale with duplicate depth (identical texts have identical
    * shingle sets, hence identical signatures, band keys, and pairwise
    * jaccard — the expansion is exact, not approximate).
    */
  private def exactCollapse(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("rep",
        min("doc_id").over(Window.partitionBy(md5(col("__text")))))
      .localCheckpoint()

  /** Expand rep-level (ida, idb, jaccard) pairs back to the full pair
    * list: cross-clique members inherit their reps' jaccard;
    * within-clique pairs are exact duplicates (jaccard 1.0), emitted
    * only for cliques whose rep was ELIGIBLE (non-empty shingle set) —
    * matching the direct pairwise form, which drops shingle-less docs
    * before candidate generation.
    */
  private def expandExactCliques(repPairs: DataFrame, keyed: DataFrame,
      eligibleReps: DataFrame, threshold: Double): DataFrame = {
    val members = keyed.select(col("rep"), col("doc_id"))
    val cross = repPairs
      .join(members.select(col("rep").as("ida"), col("doc_id").as("da")), "ida")
      .join(members.select(col("rep").as("idb"), col("doc_id").as("db")), "idb")
      .select(least(col("da"), col("db")).as("ida"),
        greatest(col("da"), col("db")).as("idb"), col("jaccard"))
    if (threshold > 1.0) cross
    else {
      val m = members.join(
        eligibleReps.select(col("doc_id").as("rep")), "rep")
      val within = m.select(col("rep"), col("doc_id").as("ida"))
        .join(m.select(col("rep"), col("doc_id").as("idb")), "rep")
        .filter(col("ida") < col("idb"))
        .select(col("ida"), col("idb"), lit(1.0).as("jaccard"))
      cross.union(within)
    }
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: exact-dup collapse → shingles → base hash → k-signature
    * → bands → explode → ONE shuffle on (band_id, band_key) → distinct
    * candidate ID pairs inside buckets → re-join shingle sets for
    * candidates only → verify → clique expansion. Candidate generation
    * is linear in DISTINCT corpus size (byte-identical duplicates
    * collapse before signing, so dup depth can't inflate any band
    * bucket); only bucket collisions pay the pair cost — the shape
    * that survives 1000× scale, unlike any all-pairs formulation.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, numHashes: Int = 16, rowsPerBand: Int = 4,
      shingleN: Int = 3, maxBandBucket: Int = 4096): DataFrame = {
    val keyed = exactCollapse(df, idCol, textCol)
    val reps = keyed.filter(col("doc_id") === col("rep"))
    // materialized: `sh` feeds the signature path AND both candidate
    // re-joins — without a lineage cut each consumer re-shingles
    val sh = withShingles(reps, "doc_id", "__text", shingleN)
      .filter(size(col("sh")) > 0).localCheckpoint()
    val sig = minhashSignatures(sh, numHashes)
    val bands = sig.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
    // band-size cap: a degenerate bucket (boilerplate corpora hash
    // thousands of docs into one band key) would emit n² candidate
    // pairs from a single task. Buckets over the cap are dropped —
    // the overflow set is tiny by construction, so a broadcast
    // anti-join removes them without re-shuffling the band rows.
    // True near-dup CLUSTERS larger than the cap are still recovered
    // pair-by-pair through their other bands (see DataOpsSpec).
    val hotBuckets = bands.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBandBucket)
      .select("band_id", "band_key")
    val kept = bands.join(broadcast(hotBuckets),
      Seq("band_id", "band_key"), "left_anti")
    val a = kept.select(col("band_id"), col("band_key"), col("doc_id").as("ida"))
    val b = kept.select(col("band_id"), col("band_key"), col("doc_id").as("idb"))
    val cand = a.join(b, Seq("band_id", "band_key"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val pairs = cand
      .join(sh.select(col("doc_id").as("ida"), col("sh").as("sha")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("sh").as("shb")), "idb")
    expandExactCliques(verifyJaccard(pairs, threshold), keyed, sh, threshold)
  }

  /** LSH banding S-curve audit — the tuning step between choosing
    * (numHashes, rowsPerBand) and trusting the near-dup pipeline: per
    * true-Jaccard bucket, the EMPIRICAL probability that the banding
    * stage surfaced a pair as a candidate, next to the ANALYTIC
    * curve 1 − (1 − s^r)^b evaluated at the bucket edges. A
    * mis-parameterized banding (too few bands → recall collapses
    * below the threshold; too many → candidate volume explodes)
    * shows up as the empirical column detaching from the curve.
    *
    * Ground truth is the L4 inverted-index estimator (intersections
    * over sub-`maxShingleDf` postings — pairs sharing only
    * corpus-stopword shingles are out of scope by the same argument
    * as L4); candidates are the RAW banding output, before Jaccard
    * verification — this audit is exactly the stage the verification
    * normally hides, so the cross-engine mirror covers the minhash
    * signatures, band keys, and bucket join for the first time
    * directly. Scale shape: the two existing pipelines' shapes
    * (Σ df′² index self-join + one banding shuffle), one (ida, idb)
    * join, then ONE combining shuffle down to ≤ nBins summary rows.
    * The analytic curve is a SEQUENTIAL multiplication chain
    * (s·s, then q·q·…·q left-to-right) so the oracle reproduces the
    * exact IEEE value, not a pow() approximation.
    */
  def lshCurveAudit(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 2, shingleN: Int = 3,
      nBins: Int = 20, maxShingleDf: Int = 256,
      maxBandBucket: Int = 4096): DataFrame = {
    require(1000000 % nBins == 0, s"nBins must divide 1e6: $nBins")
    val keyed = exactCollapse(df, idCol, textCol)
    val reps = keyed.filter(col("doc_id") === col("rep"))
    val sh = withShingles(reps, "doc_id", "__text", shingleN)
      .filter(size(col("sh")) > 0).localCheckpoint()
    // ground truth: exact Jaccard for every rep pair sharing a
    // sub-cap shingle (the L4 estimator, no threshold)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val e0 = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val hot = e0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("s")
    val e = e0.join(broadcast(hot), Seq("s"), "left_anti")
    val truth = e.select(col("doc_id").as("ida"), col("s"))
      .join(e.select(col("doc_id").as("idb"), col("s")), "s")
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("ida"), col("sz").as("sa")), "ida")
      .join(sizes.select(col("doc_id").as("idb"), col("sz").as("sb")), "idb")
      .withColumn("jaccard", Parity.roundHalfUp(
        jaccardFromInter(col("inter"), col("sa"), col("sb")), 6))
      .select("ida", "idb", "jaccard")
    // candidates: the banding output, PRE-verification
    val sig = minhashSignatures(sh, numHashes)
    val bands = sig.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), numHashes, rowsPerBand))
        .as(Seq("band_id", "band_key")))
    val hotBuckets = bands.groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBandBucket)
      .select("band_id", "band_key")
    val kept = bands.join(broadcast(hotBuckets),
      Seq("band_id", "band_key"), "left_anti")
    val cand = kept
      .select(col("band_id"), col("band_key"), col("doc_id").as("ida"))
      .join(kept.select(col("band_id"), col("band_key"),
        col("doc_id").as("idb")), Seq("band_id", "band_key"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
      .withColumn("is_cand", lit(1L))
    // bucket + aggregate: bounded nBins-row output
    val width = 1000000L / nBins
    val binned = truth.join(cand, Seq("ida", "idb"), "left")
      .select(
        least(floor(round(col("jaccard") * 1000000.0).cast("long") /
          lit(width)), lit(nBins - 1).cast("long")).cast("long").as("bin"),
        coalesce(col("is_cand"), lit(0L)).as("c"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum("c").as("n_cand"))
    val b = numHashes / rowsPerBand
    def curve(sCol: Column): Column = {
      val sr = (1 until rowsPerBand).foldLeft(sCol)((a, _) => a * sCol)
      val q = lit(1.0) - sr
      val qb = (1 until b).foldLeft(q)((a, _) => a * q)
      Parity.roundHalfUp(lit(1.0) - qb, 6)
    }
    binned.select(col("bin"),
      (col("bin") * width).as("j_lo_micros"),
      col("n_pairs"), col("n_cand"),
      Parity.roundHalfUp(col("n_cand").cast("double") /
        col("n_pairs").cast("double"), 6).as("cand_rate"),
      curve(col("bin").cast("double") / nBins).as("curve_lo"),
      curve((col("bin") + 1).cast("double") / nBins).as("curve_hi"))
  }

  /** EXACT n-gram Jaccard pairs above a threshold, via the inverted
    * index instead of all-pairs: explode to (doc, shingle) rows,
    * self-join on the shingle, count co-occurrences → |A∩B|, then
    * jaccard = |∩| / (|A| + |B| - |∩|).
    *
    * Identical results to the naive cross join (a pair with zero shared
    * shingles has j = 0 and can never pass the threshold) but the cost
    * is Σ_s f(s)² over shingle frequencies — data-dependent instead of
    * unconditionally O(n²), and it shuffles ints, not shingle arrays.
    * The naive formulation ran 370 s at sf0.1; this runs in seconds.
    *
    * Hot-shingle frequency cap: a shingle appearing in more than
    * `maxShingleDf` documents (stopword n-grams at corpus scale)
    * contributes df² rows to the self-join — one boilerplate trigram
    * across 10⁶ docs is 10¹² pairs. Postings for such shingles are
    * dropped from the INDEX ONLY (the overflow set is tiny →
    * broadcast anti-join); intersection counts shrink accordingly, so
    * a pair whose shared shingles are ALL hot is missed — acceptable
    * by construction, since two documents that only share
    * corpus-stopword boilerplate are not near-duplicates. Pairs
    * sharing at least one sub-cap shingle keep their (now partial)
    * intersection counts; DataOpsSpec shows every ≥threshold pair on
    * the corpus survives a cap far below the observed max df.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxShingleDf: Int = 256): DataFrame = {
    val keyed = exactCollapse(df, idCol, textCol)
    val reps = keyed.filter(col("doc_id") === col("rep"))
    val sh = withShingles(reps, "doc_id", "__text", shingleN)
      .filter(size(col("sh")) > 0).localCheckpoint()
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))
    val e0 = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val hot = e0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("s")
    val e = e0.join(broadcast(hot), Seq("s"), "left_anti")
    val inter = e.select(col("doc_id").as("ida"), col("s"))
      .join(e.select(col("doc_id").as("idb"), col("s")), "s")
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.select(col("doc_id").as("ida"), col("sz").as("sa")), "ida")
      .join(sizes.select(col("doc_id").as("idb"), col("sz").as("sb")), "idb")
      .withColumn("jaccard", Parity.roundHalfUp(
        jaccardFromInter(col("inter"), col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
    expandExactCliques(repPairs, keyed, sh, threshold)
  }

  /** 32-bit SimHash fingerprints per row (adds `simhash` LongType).
    *
    * Token hash = first 8 hex chars of md5 (portable); bit b of the
    * fingerprint is the majority vote of distinct-token-hash bits. Pure
    * SQL expressions → codegen'd, and reproducible in the DuckDB
    * oracle. Per-token hashes materialize in an intermediate `hs`
    * column so the majority vote reads it once.
    */
  def withSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withSimhashText(df, idCol, textCol).select("doc_id", "simhash")

  /** [[withSimhash]] KEEPING the text column alongside — for callers
    * that materialize one frame to serve both the fingerprint
    * consumers and the raw-text consumers (the ingest loop checkpoints
    * this once instead of checkpointing the text batch and the fp
    * frame separately — round 16, one job per micro-batch).
    */
  def withSimhashText(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        transform(
          array_distinct(TextAnalysis.tokens(col(textCol))),
          t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")).as("hs"))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 31), cast(0 as bigint),
             (acc, b) -> acc + IF(
               2 * size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) > size(hs),
               shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"""))
      .select("doc_id", "text", "simhash")

  /** SimHash near-dup pairs: hamming distance ≤ maxDist. Banded by the
    * 4 bytes of the fingerprint (pigeonhole: d ≤ 3 leaves at least one
    * byte exact) to avoid all-pairs at scale. Each pair is emitted only
    * at its FIRST matching band — a local predicate — so no distinct()
    * shuffle runs over the candidate set.
    *
    * (A 5-block/10-band-pair scheme with 13-bit keys was measured
    * SLOWER on this corpus: ~12% of all pairs are true near-dups, so
    * candidate volume is irreducible and the extra bands only multiply
    * exploded rows. On sparse corpora the multi-block scheme wins —
    * revisit if the data changes.)
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simhashPairsOf(withSimhash(df, idCol, textCol), maxDist)

  /** [[simhashPairs]] over a precomputed (doc_id, simhash) frame.
    *
    * Collapse-first: the banded candidate join runs on DISTINCT
    * fingerprints only, and the full pair list is reconstituted by
    * expanding each rep-level pair across its two identical-fp cliques
    * (hamming between members == hamming between reps) plus the
    * within-clique pairs at hamming 0. Output is byte-identical to the
    * direct pairwise form, but candidate GENERATION no longer scales
    * with dup depth — 339 docs share one fingerprint on the sf0.1
    * corpus, which inflated every matching band bucket by 339 and each
    * bucket join by 339². The pair-list OUTPUT stays quadratic in true
    * dup-clique size by contract; callers that only need CONNECTIVITY
    * use star edges instead — see [[Clusters.simhashClusters]].
    * (On a distinct-fingerprint input the collapse is a no-op: every
    * clique has size 1 and the within set is empty.)
    */
  def simhashPairsOf(fingerprints: DataFrame, maxDist: Int = 3): DataFrame =
    bandedPairsOf(fingerprints, "simhash", bandBits = 8, maxDist)

  /** CONNECTIVITY-equivalent near-dup edge list over one fingerprint
    * set: member→rep star edges within each identical-fp clique
    * (LINEAR in members) plus rep-level banded near pairs — never the
    * member-level clique expansion, whose row count is quadratic in
    * dup depth. For consumers that feed connected components (the
    * ingest loops' ClusterMaintain merge, forget's survivor relabel)
    * the components — and therefore the labels — are identical to
    * feeding [[simhashPairsOf]]'s full pair list: identical-fp members
    * chain to their rep, and rep↔rep edges carry exactly the
    * cross-clique hamming relation (hamming between members == hamming
    * between reps). Round 15: the full pair list made per-batch edge
    * volume — and the bounded-local merge's collect — scale with
    * clique size squared (15k member pairs from 500 docs on this
    * corpus), for a CC that only ever needed the spanning structure.
    */
  def simhashConnectivityEdgesOf(fingerprints: DataFrame,
      maxDist: Int = 3): DataFrame =
    connectivityEdgesOf(fingerprints, "simhash", bandBits = 8, maxDist)

  /** [[simhashConnectivityEdgesOf]] over any fingerprint column and
    * band width: `bandBits` = 8 for the 32-bit simhash, 16 for the
    * 64-bit perceptual `fp` (four bands either way).
    */
  private[graft] def connectivityEdgesOf(fingerprints: DataFrame,
      fpCol: String, bandBits: Int, maxDist: Int): DataFrame = {
    val reps = fingerprints.groupBy(fpCol).agg(min("doc_id").as("rep"))
      .localCheckpoint(eager = false)
    val star = fingerprints.select(col("doc_id"), col(fpCol))
      .join(reps, fpCol)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a"), col("rep").as("b"))
    // rep set is distinct-fp by construction, so the pair core's
    // collapse is a no-op and its output is pure rep-level pairs
    val repPairs = bandedPairsOf(
      reps.select(col("rep").as("doc_id"), col(fpCol)),
      fpCol, bandBits, maxDist)
      .select(col("ida").as("a"), col("idb").as("b"))
    star.union(repPairs)
  }

  /** The collapse-first banded-hamming core shared by
    * [[simhashPairsOf]] (4×8-bit bands over 32-bit fingerprints) and
    * [[hash64NearDupPairs]] (4×16-bit bands over 64-bit perceptual
    * words): candidate generation on DISTINCT fingerprints, each
    * candidate pair emitted from its FIRST matching band only, pair
    * list reconstituted across identical-fp cliques. Four bands and
    * d ≤ 3 give the pigeonhole guarantee in both widths, so the
    * output equals brute force either way.
    */
  private def bandedPairsOf(fingerprints: DataFrame, fpCol: String,
      bandBits: Int, maxDist: Int): DataFrame = {
    require(maxDist <= 3,
      s"$bandBits-bit banding guarantees only d <= 3")
    val mask = (1L << bandBits) - 1L
    // materialize: the banded self-join would otherwise recompute the
    // fingerprint input for BOTH sides (measured ~10x the join cost)
    val members = fingerprints
      .withColumn("rep", min("doc_id").over(Window.partitionBy(fpCol)))
      .localCheckpoint()
    val reps = members.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col(fpCol))
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band_id"),
        shiftright(col(fpCol), b * bandBits).bitwiseAND(lit(mask))
          .as("band_val"))): _*)
    val banded = reps.select(col("doc_id"), col(fpCol),
        explode(bandStructs).as("band"))
      .select(col("doc_id"), col(fpCol),
        col("band.band_id").as("band_id"), col("band.band_val").as("band_val"))
    val a = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("ra"), col(fpCol).as("fpa"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("doc_id").as("rb"), col(fpCol).as("fpb"))
    // emit each candidate pair from its FIRST matching band only
    val firstBandOnly = (0 until 4).map { j =>
      when(col("band_id") > j,
        shiftright(col("fpa"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("fpb"), j * bandBits).bitwiseAND(lit(mask)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val repPairs = a.join(b, Seq("band_id", "band_val"))
      .filter(col("ra") < col("rb") && firstBandOnly)
      .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
      .filter(col("hamming") <= maxDist)
      .select("ra", "rb", "hamming")
    // cross-clique expansion: every member pair inherits its reps'
    // hamming; least/greatest restores the ida<idb orientation (member
    // ids of different cliques interleave arbitrarily)
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("doc_id").as("da")), "ra")
      .join(members.select(col("rep").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("ida"),
        greatest(col("da"), col("db")).as("idb"), col("hamming"))
    // within-clique pairs: identical fingerprints, hamming 0
    val within = members.select(col(fpCol), col("doc_id").as("ida"))
      .join(members.select(col(fpCol), col("doc_id").as("idb")), fpCol)
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        lit(0).cast("integer").as("hamming"))
    cross.union(within)
  }

  /** [[simhashPairsOf]] for FULL 64-bit fingerprints (perceptual
    * image hashes — [[graft.multimodal.Multimodal.imageHashes]]):
    * four 16-bit bands give the same pigeonhole guarantee (d ≤ 3 ⇒
    * at least one band untouched), the collapse-first rep/clique
    * scheme is identical, and the output equals the brute-force
    * pair list with hamming ≤ maxDist — which is exactly what the
    * `q_m_image_dedup` oracle computes as an O(n²) cross join at
    * oracle scale while this side stays banded at corpus scale.
    * Input: (doc_id, fp) with fp a 64-bit word.
    */
  def hash64NearDupPairs(fingerprints: DataFrame,
      maxDist: Int = 3): DataFrame =
    bandedPairsOf(fingerprints, "fp", bandBits = 16, maxDist)

  /** L53 — cross-corpus near-dedup: flag every BATCH doc whose simhash
    * is within `maxDist` bits of ANY reference-corpus doc — "dedup the
    * new crawl against the existing training mix" (the near-dup
    * analogue of [[incrementalDedup]]'s exact-fingerprint probe, and
    * the batch-edge source [[ClusterMaintain.mergeBatch]]'s scaladoc
    * promises). Reports the nearest reference doc (min hamming, then
    * min id — deterministic) so curation can audit WHAT a dropped doc
    * duplicated.
    *
    * Scale shape: both sides collapse to DISTINCT fingerprints before
    * banding (dup depth never inflates the candidate join); the
    * reference side is the stored banded fp index — at 100 TB it is
    * written once, bucketed by (band_id, band_val) exactly like L40's
    * fp index (BucketingSpec pattern: the history side never
    * shuffles), so per-ingest cost tracks the BATCH. The byte-banding
    * pigeonhole (4 bands of 8 bits; d ≤ 3 leaves ≥ 1 band exact)
    * bounds candidates without all-pairs; the per-batch-fp best match
    * is a partial-aggregated min(struct), never a window sort.
    */
  def crossNearDedup(batch: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3): DataFrame =
    // materialize both fingerprint sets: the simhash aggregation is the
    // expensive kernel and would otherwise be re-evaluated at every
    // plan site that references it (the simhashPairsOf lesson — scan
    // filter, partial agg, and the final join each inline it)
    crossNearDedupProbe(withSimhash(batch, idCol, textCol).localCheckpoint(),
      bandedFpIndex(withSimhash(ref, idCol, textCol).localCheckpoint()),
      maxDist)

  /** The banded fingerprint index over a reference corpus' DISTINCT
    * fingerprints: one row per (band_key, rid, rfp), band_key =
    * band_id·256 + band_val (a single join key so the stored layout
    * can bucket on it). This is the STORED artifact of the
    * cross-corpus probe family — at 100 TB written once per corpus
    * snapshot, bucketed by band_key; [[crossNearDedupProbe]] then
    * joins it with only the batch side shuffling (BucketingSpec pins
    * the executed plan).
    */
  def bandedFpIndex(refFp: DataFrame): DataFrame = {
    val reps = refFp.groupBy("simhash").agg(min("doc_id").as("rid"))
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b.toLong * 256L).as("base"),
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L))
          .as("v"))): _*)
    reps.select(col("rid"), col("simhash").as("rfp"),
        explode(bandStructs).as("band"))
      .select((col("band.base") + col("band.v")).as("band_key"),
        col("rid"), col("rfp"))
  }

  /** [[crossNearDedup]] against a prebuilt [[bandedFpIndex]] — the
    * ingest-time shape: the index streams off its stored (bucketed)
    * layout, the batch reps shuffle to meet it, and the per-batch-fp
    * best match is a partial-aggregated min(struct).
    */
  def crossNearDedupProbe(bFp: DataFrame, refIndex: DataFrame,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "byte banding guarantees only d <= 3")
    val bandStructs = array((0 until 4).map(b =>
      struct(lit(b.toLong * 256L).as("base"),
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L))
          .as("v"))): _*)
    val bBanded = bFp.groupBy("simhash").agg(min("doc_id").as("bid"))
      .select(col("simhash").as("bfp"), explode(bandStructs).as("band"))
      .select((col("band.base") + col("band.v")).as("band_key"), col("bfp"))
    val best = bBanded.join(refIndex, Seq("band_key"))
      .withColumn("hamming",
        bit_count(col("bfp").bitwiseXOR(col("rfp"))).cast("integer"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("bfp").as("simhash"))
      .agg(min(struct(col("hamming"), col("rid"))).as("best"))
    bFp.join(best, Seq("simhash"), "left")
      .select(col("doc_id"), col("simhash"),
        col("best.rid").as("near_ref_id"),
        col("best.hamming").as("hamming"),
        col("best").isNull.as("keep"))
  }

  /** ALL near-dup pairs BETWEEN a batch and a reference corpus
    * (hamming ≤ maxDist, identical fingerprints included) — the
    * production edge builder [[ClusterMaintain.mergeBatch]]'s contract
    * names: batch↔history edges at cost ∝ batch (union with
    * [[simhashPairs]] over the batch alone for batch↔batch edges).
    * Complement of [[crossNearDedup]], which keeps only each batch
    * doc's best match.
    *
    * Same scale shape as the probe: both sides collapse to distinct
    * fingerprints, byte-banded pigeonhole join (first-matching-band
    * predicate — no distinct() over candidates), then both identical-
    * fp cliques expand by membership joins. At 100 TB the ref side is
    * the stored banded fp index, bucketed, never shuffled.
    */
  def crossNearPairs(batch: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3): DataFrame =
    crossNearPairsOf(withSimhash(batch, idCol, textCol).localCheckpoint(),
      withSimhash(ref, idCol, textCol).localCheckpoint(), maxDist)

  /** [[crossNearPairs]] over precomputed (doc_id, simhash) frames;
    * callers must materialize them (the simhash-recompute pitfall).
    * Output: (a = batch doc, b = ref doc, hamming).
    */
  def crossNearPairsOf(bFp: DataFrame, rFp: DataFrame,
      maxDist: Int = 3): DataFrame =
    crossBandedPairsOf(bFp, rFp, "simhash", bandBits = 8, maxDist)

  /** Rep-level cross EDGES for cluster maintenance —
    * [[crossNearPairsOf]] without either member expansion and without
    * the ref-side window/localCheckpoint: identical-fp cliques are
    * already internally connected on both sides (batch: the
    * within-batch pair pass emits their hamming-0 edges; store:
    * members were edge-connected when they themselves ingested, so
    * they share a cluster in the prior labeling), which makes one
    * edge per near (batch-rep, ref-rep) pair connectivity-equivalent
    * to the full member pair list for [[ClusterMaintain]] — and the
    * affected-cluster set is identical, because a rep's cluster IS
    * its clique's cluster. Both sides collapse with partial-aggregated
    * groupBys (map-side combine; the store is never window-sorted or
    * re-materialized per batch — the review fix behind the loops'
    * ∝-batch probe claim). Output (a = batch rep doc, b = ref rep
    * doc); pair-list callers that need every member keep
    * [[crossNearPairsOf]].
    */
  def crossNearEdgesOf(bFp: DataFrame, rFp: DataFrame,
      maxDist: Int = 3): DataFrame =
    crossBandedEdgesOf(bFp, rFp, "simhash", bandBits = 8, maxDist)

  /** [[crossNearEdgesOf]] for a batch already on the driver (the
    * ingest loops' bounded path): `bReps` are the batch's (rep doc,
    * fingerprint) pairs, one per distinct fingerprint, and `rFp`'s
    * fingerprints are its column `fpCol`, banded four times by
    * `bandBits` (8 for the 32-bit simhash, 16 for the 64-bit
    * perceptual fp). Their band index —
    * band key → the reps carrying it — ships as a broadcast variable,
    * and ONE map-side scan of the stored index looks each stored
    * fingerprint's four band keys up in it and keeps the reps within
    * `maxDist`: no shuffle, and no broadcast exchange (whose build is
    * a Spark job of its own, even over a LocalRelation). The edges
    * (a = batch rep doc, b = stored doc), each pair once, come back
    * through [[graft.streaming.DriverOps.collectBounded]]: None when
    * there are more than `max`. The broadcast is destroyed once they
    * are in. The stored side is not collapsed to reps: its
    * identical-fp members already share a cluster, so their extra
    * edges contract to the same node in [[ClusterMaintain]].
    */
  def crossNearEdgesLocal(bReps: Seq[(Long, Long)], rFp: DataFrame,
      fpCol: String, bandBits: Int, maxDist: Int,
      max: Long): Option[Seq[(Long, Long)]] = {
    require(maxDist <= 3, s"$bandBits-bit banding guarantees only d <= 3")
    val mask = (1L << bandBits) - 1L
    def bandKey(fp: Long, b: Int): Long =
      b.toLong << bandBits | ((fp >>> (b * bandBits)) & mask)
    val index = bReps
      .flatMap { case (a, fp) =>
        (0 until 4).map(b => bandKey(fp, b) -> (a, fp))
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }
    val bc = rFp.sparkSession.sparkContext.broadcast(index)
    try {
      val near = udf { (fp: Long) =>
        val idx = bc.value
        (0 until 4).iterator
          .flatMap(b => idx.getOrElse(bandKey(fp, b), Array.empty[(Long, Long)]))
          .collect {
            case (a, bfp) if java.lang.Long.bitCount(bfp ^ fp) <= maxDist => a
          }
          .toSeq.distinct
      }
      graft.streaming.DriverOps.collectBounded(
        rFp.select(explode(near(col(fpCol))).as("a"), col("doc_id").as("b")),
        max).map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    } finally bc.destroy()
  }

  /** [[crossNearEdgesOf]] over any fingerprint column and band
    * width (see [[connectivityEdgesOf]]).
    */
  private[graft] def crossBandedEdgesOf(bFp: DataFrame, rFp: DataFrame,
      fpCol: String, bandBits: Int, maxDist: Int): DataFrame = {
    require(maxDist <= 3,
      s"$bandBits-bit banding guarantees only d <= 3")
    val mask = (1L << bandBits) - 1L
    def bandedReps(m: DataFrame, fpAlias: String, idAlias: String) = {
      val reps = m.groupBy(fpCol).agg(min("doc_id").as(idAlias))
        .select(col(idAlias), col(fpCol).as(fpAlias))
      val bandStructs = array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col(fpAlias), b * bandBits).bitwiseAND(lit(mask))
            .as("band_val"))): _*)
      reps.select(col(idAlias), col(fpAlias), explode(bandStructs).as("band"))
        .select(col(idAlias), col(fpAlias),
          col("band.band_id").as("band_id"),
          col("band.band_val").as("band_val"))
    }
    val firstBandOnly = (0 until 4).map { j =>
      when(col("band_id") > j,
        shiftright(col("bfp"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("rfp"), j * bandBits).bitwiseAND(lit(mask)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    bandedReps(bFp, "bfp", "a")
      .join(bandedReps(rFp, "rfp", "b"), Seq("band_id", "band_val"))
      .filter(firstBandOnly)
      .filter(bit_count(col("bfp").bitwiseXOR(col("rfp"))) <= maxDist)
      .select("a", "b")
  }

  /** The cross-corpus banded-hamming core behind [[crossNearPairsOf]]
    * — the cross twin of [[bandedPairsOf]], identical collapse-first /
    * first-matching-band scheme across two frames.
    */
  private def crossBandedPairsOf(bFp: DataFrame, rFp: DataFrame,
      fpCol: String, bandBits: Int, maxDist: Int): DataFrame = {
    require(maxDist <= 3,
      s"$bandBits-bit banding guarantees only d <= 3")
    val mask = (1L << bandBits) - 1L
    val bM = bFp.withColumn("rep",
      min("doc_id").over(Window.partitionBy(fpCol))).localCheckpoint()
    val rM = rFp.withColumn("rep",
      min("doc_id").over(Window.partitionBy(fpCol))).localCheckpoint()
    def bandedReps(m: DataFrame, fpAlias: String, idAlias: String) = {
      val reps = m.filter(col("doc_id") === col("rep"))
        .select(col("doc_id").as(idAlias), col(fpCol).as(fpAlias))
      val bandStructs = array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col(fpAlias), b * bandBits).bitwiseAND(lit(mask))
            .as("band_val"))): _*)
      reps.select(col(idAlias), col(fpAlias), explode(bandStructs).as("band"))
        .select(col(idAlias), col(fpAlias),
          col("band.band_id").as("band_id"),
          col("band.band_val").as("band_val"))
    }
    val firstBandOnly = (0 until 4).map { j =>
      when(col("band_id") > j,
        shiftright(col("bfp"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("rfp"), j * bandBits).bitwiseAND(lit(mask)))
        .otherwise(lit(true))
    }.reduce(_ && _)
    val repPairs = bandedReps(bM, "bfp", "ra")
      .join(bandedReps(rM, "rfp", "rb"), Seq("band_id", "band_val"))
      .filter(firstBandOnly)
      .withColumn("hamming",
        bit_count(col("bfp").bitwiseXOR(col("rfp"))).cast("integer"))
      .filter(col("hamming") <= maxDist)
      .select("ra", "rb", "hamming")
    repPairs
      .join(bM.select(col("rep").as("ra"), col("doc_id").as("a")), "ra")
      .join(rM.select(col("rep").as("rb"), col("doc_id").as("b")), "rb")
      .select("a", "b", "hamming")
  }

  /** Cross-document repeated-substring detection — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * exact-substring pass, re-expressed distributed. A monolithic
    * suffix array is inherently single-address-space, so instead every
    * document hashes ALL of its rolling `window`-token spans and keeps
    * the CONTENT-DEFINED selection `hash ≡ 0 (mod p)` — the
    * Karp-Rabin / CDC anchoring trick. Selection depends only on span
    * content, never on position, so two copies of a run select the
    * SAME fingerprints whatever their offsets (a stride grid — the
    * obvious "cheaper" alternative — never matches across unaligned
    * copies: grid phases are disjoint mod stride, which is exactly why
    * the paper reaches for suffix arrays). A selected hash seen in ≥
    * `minDocs` distinct docs marks every occurrence as repeated text.
    *
    * Recall is probabilistic, quantified: a shared run of L ≥ window
    * tokens is missed with probability (1−1/p)^(L−window+1) — at the
    * defaults (window 50, p 4) a 100-token run is missed 4·10⁻⁷ of
    * the time; the LSH family in this file makes the same trade.
    *
    * Scale shape: span hashing is map-side (the md5-per-span here is
    * O(n·window) — at 100 TB swap in a polynomial rolling-hash
    * `Expression`, O(n), same selection contract); the mod-p filter
    * keeps n/p rows per doc; one groupBy(hash) with map-side partial
    * agg finds hot spans; the hot-set join back is a plain SHUFFLE
    * join — its size tracks boilerplate volume, data-dependent and
    * unbounded, so it must not broadcast (same rule as
    * [[graft.text.Decontam]]). Output carries the first repeated
    * fingerprint position — the handle span-surgery needs.
    */
  def repeatedSubstringFlags(df: DataFrame, idCol: String, textCol: String,
      window: Int = 50, p: Int = 4, minDocs: Int = 2): DataFrame = {
    val (base, sel) = substringCandidates(df, idCol, textCol, window, p,
      hashHexChars = 8, keepTokens = false)
    val hot = sel.groupBy("h")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val fps = sel.groupBy(col(idCol)).agg(count(lit(1)).as("n_fps"))
    val rep = sel.join(hot, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_rep"), min(col("w")).cast("long").as("first_w"))
    base.select(col(idCol), col("nh").cast("long").as("n_windows"))
      .join(fps, Seq(idCol), "left")
      .join(rep, Seq(idCol), "left")
      .select(col(idCol),
        col("n_windows"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_rep"), lit(0L)).as("n_rep_fps"),
        when(coalesce(col("n_fps"), lit(0L)) > 0L, Parity.roundHalfUp(
          coalesce(col("n_rep"), lit(0L)).cast("double") /
            col("n_fps").cast("double"), 6)).otherwise(lit(0.0))
          .as("rep_frac"),
        coalesce(col("first_w"), lit(-1L)).as("first_rep_w"),
        (coalesce(col("n_rep"), lit(0L)) > 0L).as("has_repeat"))
  }

  /** L34 with the EXACT-substring verification stage (Lee et al.'s
    * verify pass; round-14 verdict item 6): the rolling-hash pass is
    * unchanged — windows carry only their truncated span hash — but a
    * hash-hot candidate now re-derives its ACTUAL `window`-token span
    * (a co-partitioned id join back to the token arrays, then a
    * map-side slice — cost ∝ candidates, never ∝ windows) and only
    * spans CONFIRMED identical across ≥ `minDocs` distinct docs count
    * as repeats. This closes the pass's documented false-positive
    * caveat: a truncated-hash collision between different spans can
    * no longer flag a doc (DedupSubstringSpec plants such collisions
    * by narrowing `hashHexChars`), while recall at adversarial
    * alignments is untouched — verification only ever REMOVES
    * candidates whose text differs.
    *
    * Output adds `n_cand_fps` (hash-hot) beside the verified
    * `n_rep_fps`, so the collision kill rate is observable.
    */
  def repeatedSubstringVerified(df: DataFrame, idCol: String,
      textCol: String, window: Int = 50, p: Int = 4, minDocs: Int = 2,
      hashHexChars: Int = 8): DataFrame = {
    // keepTokens: the token arrays feed the hash pass AND the re-walk
    val (base, sel) = substringCandidates(df, idCol, textCol, window, p,
      hashHexChars, keepTokens = true)
    val hotH = sel.groupBy("h")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val cand = sel.join(hotH, Seq("h"))
    // the re-walk: candidates only — slice the true span map-side
    val candSpan = cand.join(base.select(col(idCol), col("toks")), Seq(idCol))
      .select(col(idCol), col("w"), col("h"),
        array_join(slice(col("toks"), col("w") + 1, lit(window)), " ")
          .as("span"))
    val hotV = candSpan.groupBy("h", "span")
      .agg(countDistinct(col(idCol)).as("ndv"))
      .filter(col("ndv") >= minDocs)
      .select("h", "span")
    val rep = candSpan.join(hotV, Seq("h", "span"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_rep"), min(col("w")).cast("long").as("first_w"))
    val candC = cand.groupBy(col(idCol)).agg(count(lit(1)).as("n_cand"))
    val fps = sel.groupBy(col(idCol)).agg(count(lit(1)).as("n_fps"))
    base.select(col(idCol), col("nh").cast("long").as("n_windows"))
      .join(fps, Seq(idCol), "left")
      .join(candC, Seq(idCol), "left")
      .join(rep, Seq(idCol), "left")
      .select(col(idCol),
        col("n_windows"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand_fps"),
        coalesce(col("n_rep"), lit(0L)).as("n_rep_fps"),
        coalesce(col("first_w"), lit(-1L)).as("first_rep_w"),
        (coalesce(col("n_rep"), lit(0L)) > 0L).as("has_repeat"))
  }

  /** Shared front half of the two repeated-substring passes:
    * tokenize, count rolling `window`-token spans, and keep the
    * content-defined selection `hash ≡ 0 (mod p)` — one source of
    * truth for the md5-span arithmetic the DuckDB oracles mirror
    * character-for-character. Returns (base with token arrays + nh,
    * selected (id, w, h) span hashes); `keepTokens` checkpoints the
    * token arrays when a verification re-walk will read them again.
    */
  private def substringCandidates(df: DataFrame, idCol: String,
      textCol: String, window: Int, p: Int, hashHexChars: Int,
      keepTokens: Boolean): (DataFrame, DataFrame) = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    // the rolling-hash pass (one md5 per token window) has no exchange
    // upstream, so an unsplittable single-row-group scan would run it
    // in ONE task — fan the narrow (id, text) projection out first
    // (ScaleOps.fanOut no-ops on an already-parallel scan; round 16)
    val base0 = graft.operators.ScaleOps
      .fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("toks"))
      .withColumn("nh", when(size(col("toks")) >= window,
        size(col("toks")) - window + 1).otherwise(0))
    val base = if (keepTokens) base0.localCheckpoint() else base0
    val sel = base.filter(col("nh") > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), (col("nh") - 1).cast("int")),
        i => conv(substring(
          md5(array_join(slice(col("toks"), i + 1, lit(window)), " ")),
          1, hashHexChars), 16, 10).cast("long")))
        .as(Seq("w", "h")))
      .filter(col("h") % p === 0L)
    (base, sel)
  }

  /** Streaming-style first-seen-wins dedup for batch frames: keep the
    * earliest row per key (D1/D2 batch analog).
    */
  def firstSeen(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    firstSeenBy(df, keyCols, Seq(col(orderCol).asc))

  /** firstSeen with an explicit (total) ordering — pass a unique
    * tie-break column to keep results engine-deterministic.
    */
  def firstSeenBy(df: DataFrame, keyCols: Seq[String],
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}
