package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.DriverOps

/** Duplicate-cluster assignment: connected components over a near-dup
  * pair graph (the step after pairwise dedup that turns "A≈B, B≈C"
  * into one keep/drop decision per GROUP — reference analog: the
  * topic-merge union step in api/services/topic_analyzer.py:311-353,
  * generalized to document identity for training-data curation).
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14),
  * O(log n) rounds on any graph; every component is labeled with its
  * smallest member id. It is the one distributed scheme because it
  * was the faster one at every measured point: on the chained-replica
  * family at 2×-20× sf0.1 it needed 4-5 rounds where min-label
  * propagation needed 8-13 (rounds = diameter), and won wall-clock by
  * 1.2-1.4× (SCALE_REHEARSAL.md "Frontier vs star"); at 100× the
  * propagation ran 14 rounds and 2× the star's wall-clock. Propagation
  * also never converges past its round budget on a long path (the
  * 300-node path in CurationSpec), which star lands inside its
  * 32-round budget.
  *
  * Scale design (100 TB):
  *   - Each round rewires the (distinct) edge list: ~3 keyed shuffles
  *     of the CURRENT edge set, no neighbor-list collection, so a hot
  *     star center never materializes its degree in one task.
  *   - The convergence probe is count-guarded and each round's edge
  *     set is a lazy `localCheckpoint` that the probe's full scan
  *     materializes (one action per round serves both, never a
  *     collect); the checkpoint also cuts lineage each round.
  *   - Below [[LocalCcMax]] edges, no round runs at all: the edge list
  *     collects and a driver union-find labels it.
  */
object Clusters {

  /** Bound on the EDGE rows the driver-local CC fast path may collect
    * — the [[graft.dedup.ClusterMaintain.LocalMergeMax]] /
    * [[graft.streaming.IngestStream.LocalRelabelMax]] pattern applied
    * to connected components. Rationale (measured round 16): at gate
    * scale every distributed CC round is pure scheduling floor —
    * q_d_cc_clusters ran 118 AQE stage-materialization jobs for 2.5 s
    * of cumulative task time — and the returned label frame is a lazy
    * join chain whose stages every CONSUMER re-pays. Below the bound
    * the edge list collects (≤ 16 MB of long pairs), a union-find
    * labels the induced subgraph driver-side in milliseconds, and the
    * result is ONE broadcast map join — nodes are never collected, so
    * a sparse corpus with billions of singleton nodes and few edges
    * stays distributed-safe. Above the bound the distributed rounds
    * run (the probe's computed partitions persist into the lazy edge
    * checkpoint they read). Sized for driver CPU/memory like the
    * sibling bounds: 1M edges ≈ 16 MB collected, sub-second
    * union-find; the labels are identical by construction (min
    * reachable id over the node-induced subgraph — CurationSpec pins
    * local == distributed).
    */
  val LocalCcMax: Long = 1000000L

  private def longIdGraph(nodes: DataFrame, edges: DataFrame): Boolean = {
    import org.apache.spark.sql.types.LongType
    nodes.schema.fields.exists(f => f.name == "id" && f.dataType == LongType) &&
      edges.schema.fields.forall(_.dataType == LongType)
  }

  /** Driver-local labeling for a BOUNDED collected edge list:
    * union-find over the edge endpoints that are actually nodes
    * (induced-subgraph semantics, as the distributed rounds), then ONE
    * broadcast map join attaches labels; nodes stay distributed and
    * non-endpoint nodes label themselves through the coalesce.
    */
  private def componentsLocalFrame(nodes: DataFrame,
      edgeArr: Array[(Long, Long)]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val endpoints = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      edgeArr.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    // membership probe: bounded by the endpoint set (≤ 2·edges)
    val member: Set[Long] =
      if (endpoints.isEmpty) Set.empty
      else nodes.select(col("id"))
        .join(broadcast(endpoints.toSeq.toDF("id")), Seq("id"), "left_semi")
        .distinct().collect().map(_.getLong(0)).toSet
    val ids = endpoints.filter(member)
    val idx = ids.zipWithIndex.toMap
    val uf = new UnionFind(ids.length)
    edgeArr.foreach { case (a, b) =>
      if (member(a) && member(b)) uf.union(idx(a), idx(b))
    }
    val compMin = scala.collection.mutable.HashMap.empty[Int, Long]
    ids.indices.foreach { i =>
      val r = uf.find(i)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), ids(i))
    }
    // only non-identity labels ride the broadcast; singletons (and
    // every non-endpoint node) fall through the coalesce to their id
    val mapRows = ids.indices.iterator
      .map(i => (ids(i), compMin(uf.find(i))))
      .filter { case (id, cl) => id != cl }.toSeq
    nodes.select(col("id"))
      .join(broadcast(mapRows.toDF("id", "__cc")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cc"), col("id")).as("cluster_id"))
  }

  /** Labels every node (one-column frame `id`) with the smallest id
    * reachable through `edges` (columns `a`, `b`, undirected) in the
    * subgraph the nodes induce: an edge with an endpoint that is not a
    * node joins nothing. Returns (id, cluster_id).
    *
    *   - large-star: every node attaches its strictly-larger
    *     neighbors to its neighborhood minimum — one groupBy(min) +
    *     one join.
    *   - small-star: every node folds its ≤-neighbors (canonical
    *     orientation) onto their minimum.
    *
    * The converged graph is a forest of stars whose centers are the
    * component minima.
    *
    * `localMax` gates the bounded driver-local fast path
    * ([[LocalCcMax]]); pass 0 to force the distributed rounds.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      localMax: Long = LocalCcMax): DataFrame = {
    // the bound probe IS the collect (one driver round-trip); the
    // computed partitions persist into the lazy checkpoint, which the
    // distributed rounds read
    val eRaw = edges.select(col("a"), col("b"))
      .localCheckpoint(eager = false)
    val local =
      if (localMax > 0 && longIdGraph(nodes, edges))
        DriverOps.collectBounded(eRaw, localMax)
      else None
    local.map(rows => componentsLocalFrame(nodes,
        rows.map(r => (r.getLong(0), r.getLong(1)))))
      .getOrElse(starRounds(nodes, eRaw))
  }

  /** Round budget of the distributed rounds. */
  private val MaxRounds = 32

  /** The distributed rounds of [[connectedComponents]] over the lazy
    * edge checkpoint `eRaw`.
    */
  private def starRounds(nodes: DataFrame, eRaw: DataFrame): DataFrame = {
    val ids = nodes.select(col("id"))
    def canon(e: DataFrame): DataFrame =
      e.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .distinct()
    // LAZY checkpoints throughout the loop: the count() that follows
    // each one is a full scan, so it materializes the checkpoint as a
    // side effect — one job per round instead of eager-materialize +
    // count (the probe action doubles as the lineage cut).
    var e = canon(eRaw
        .join(ids.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(ids.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
      .localCheckpoint(eager = false)
    var eCount = e.count()
    // the probe's partial cache of eRaw is no longer needed once the
    // canonical list is materialized (avoids holding the edges twice)
    eRaw.unpersist()
    var converged = eCount == 0L
    var iter = 0
    while (!converged && iter < MaxRounds) {
      // large-star over both orientations of every edge
      val dir = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val lm = dir.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      // NOT distinct'd: duplicate (a, m) rows (edges of one hot node
      // collapsing onto the same min) flow into small-star, where the
      // map-side-combining min and the final distinct absorb them —
      // cheaper than a dedicated full-shuffle dedup of the same rows
      val large = dir.join(lm, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
      // small-star over the canonical (big → small) orientation
      val sm = large.groupBy("a").agg(min("b").as("m"))
      val small = large.join(sm, "a")
        .select(explode(array(col("b"), col("a"))).as("v"), col("m"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
        .localCheckpoint(eager = false)
      // Convergence = edge set unchanged. Cheap-first: counts over the
      // two localCheckpoint'd sets (in-memory scans, no shuffle) rule
      // out most progressing rounds; only a count tie pays the single
      // symmetric-difference probe — both sides are internally
      // distinct, so a (a,b) group of size 1 lives in exactly one set.
      val smallCount = small.count()
      converged = smallCount == eCount &&
        small.union(e).groupBy("a", "b").agg(count(lit(1)).as("n"))
          .filter(col("n") === 1L).isEmpty
      e = small
      eCount = smallCount
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxRounds rounds")
    // star leaves point at their component minimum; centers and
    // singletons label themselves
    ids.join(e.groupBy("a").agg(min("b").as("cl"))
          .select(col("a").as("id"), col("cl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cl"), col("id")).as("cluster_id"))
  }

  /** DRIVER-LOCAL simhash components for a BOUNDED fingerprint set —
    * the small-work fast path [[graft.streaming.IngestStream.forget]]
    * takes for its affected-cluster relabel: a forget's touched
    * subgraph is typically thousands of rows, where the distributed
    * CC pays several Spark rounds of fixed scheduling cost
    * per iteration for microseconds of actual work. Same semantics as
    * [[simhashClustersOf]] (byte-banded candidates over DISTINCT
    * fingerprints, hamming ≤ maxDist, cluster_id = min member id,
    * cluster_size = member count — CurationSpec pins the equality on
    * a real corpus); union-find instead of the star rounds. The
    * CALLER owns the bound (collect only what a driver holds — the
    * readKeys broadcast-bound convention); this is a pure function of
    * the array.
    *
    * @param fps (doc_id, simhash) pairs
    * @return (doc_id, cluster_id, cluster_size) triples
    */
  def simhashComponentsLocal(fps: Array[(Long, Long)],
      maxDist: Int = 3): Seq[(Long, Long, Long)] = {
    require(maxDist <= 3, "byte banding guarantees only d <= 3")
    if (fps.isEmpty) return Seq.empty
    // collapse identical fingerprints (dup cliques): one rep per
    // distinct fp carrying the clique's min member id + member count
    val byFp = fps.groupBy(_._2)
    val reps = byFp.iterator
      .map { case (fp, ms) => (fp, ms.iterator.map(_._1).min, ms.length.toLong) }
      .toArray
    val n = reps.length
    val idxOf = reps.iterator.zipWithIndex
      .map { case ((fp, _, _), i) => fp -> i }.toMap
    val uf = new UnionFind(n)
    // byte-banded candidate buckets (pigeonhole: d ≤ 3 leaves ≥ 1 of
    // the 4 bytes exact); a duplicate candidate pair across bands is
    // harmless — union is idempotent
    val buckets = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < n) {
      var b = 0
      while (b < 4) {
        val key = b.toLong << 8 | ((reps(i)._1 >>> (b * 8)) & 255L)
        buckets.getOrElseUpdate(key,
          new scala.collection.mutable.ArrayBuffer[Int]) += i
        b += 1
      }
      i += 1
    }
    buckets.valuesIterator.foreach { bucket =>
      var a = 0
      while (a < bucket.length) {
        var b = a + 1
        while (b < bucket.length) {
          val x = bucket(a); val y = bucket(b)
          if (java.lang.Long.bitCount(reps(x)._1 ^ reps(y)._1) <= maxDist)
            uf.union(x, y)
          b += 1
        }
        a += 1
      }
    }
    // component label = min member id; size = total member count
    val compMin = scala.collection.mutable.HashMap.empty[Int, Long]
    val compSize = scala.collection.mutable.HashMap.empty[Int, Long]
    i = 0
    while (i < n) {
      val r = uf.find(i)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), reps(i)._2)
      compSize(r) = compSize.getOrElse(r, 0L) + reps(i)._3
      i += 1
    }
    fps.iterator.map { case (id, fp) =>
      val r = uf.find(idxOf(fp))
      (id, compMin(r), compSize(r))
    }.toSeq
  }

  /** Keep-BEST-per-cluster selection: dedup pipelines keep the
    * highest-quality member of each duplicate cluster, not the
    * smallest id (the C4/RefinedWeb rule — boilerplate-laden copies
    * lose to the clean one). Winner = max(quality), ties to the
    * smaller doc id.
    *
    * Scale shape: the winner is `max(struct(quality, −doc_id))` per
    * cluster — a PARTIAL aggregation (the line-dedup pattern), so a
    * giant boilerplate cluster combines map-side instead of sorting
    * all members in one window task; the one-row-per-cluster winner
    * table then joins back on the already-shuffled cluster key.
    *
    * @param labeled (doc, cluster) frame — [[simhashClusters]] output
    *                or any grouping with the same columns
    * @param qualityCol double column on `labeled` to maximize
    */
  def keepBestPerCluster(labeled: DataFrame, idCol: String,
      clusterCol: String, qualityCol: String): DataFrame = {
    val winners = labeled
      .groupBy(col(clusterCol))
      .agg(max(struct(col(qualityCol), (-col(idCol)).as("neg_id")))
        .as("w"))
      .select(col(clusterCol), (-col("w.neg_id")).as("__winner_id"))
    labeled.join(winners, Seq(clusterCol))
      .withColumn("keep", col(idCol) === col("__winner_id"))
      .drop("__winner_id")
  }

  /** Duplicate clusters over SimHash near-dup pairs: every document
    * labeled with its component's min doc_id plus the component size.
    * Returns (doc_id, cluster_id, cluster_size); singletons keep their
    * own id with size 1.
    *
    * Identical fingerprints are collapsed BEFORE pairwise banding:
    * docs sharing a simhash connect to their min-id representative by
    * STAR edges (linear), and the quadratic banded pair join runs only
    * between DISTINCT fingerprints. Connectivity is unchanged
    * (hamming(x,x)=0 ⇒ same component), but exact-dup blowup — 339
    * docs share one fingerprint on the sf0.1 corpus; the 20× scale
    * rehearsal OOM'd the naive pair materialization on a 6780-doc
    * clique — can no longer touch the pair stage. Pair volume scales
    * with distinct near-identical fingerprints, not corpus dup depth.
    */
  def simhashClusters(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3,
      cc: (DataFrame, DataFrame) => DataFrame =
        connectedComponents(_, _)): DataFrame =
    // fp's checkpoint is LAZY: the reps aggregation inside the Of form
    // is its first full scan, so one job runs the simhash kernel,
    // checkpoints fp, and folds reps — no dedicated materialize job.
    simhashClustersOf(Dedup.withSimhash(df, idCol, textCol)
      .localCheckpoint(eager = false), maxDist, cc)

  /** [[simhashClusters]] over a precomputed, MATERIALIZED (doc_id,
    * simhash) frame — for callers that already paid the simhash kernel
    * (e.g. the incremental-ingest gate shares one fingerprint pass
    * between the label table and the edge probe).
    */
  def simhashClustersOf(fp: DataFrame, maxDist: Int = 3,
      cc: (DataFrame, DataFrame) => DataFrame =
        connectedComponents(_, _)): DataFrame = {
    val reps = fp.groupBy("simhash").agg(min("doc_id").as("rep"))
      .localCheckpoint()
    // CC iterates over the DISTINCT-fingerprint graph only; members
    // inherit their rep's component afterwards with one join. The
    // output contract is unchanged: rep = min doc_id of its clique, so
    // the component's min rep id IS the component's min doc_id.
    val repPairs = Dedup.simhashPairsOf(
        reps.select(col("rep").as("doc_id"), col("simhash")), maxDist)
      .select(col("ida").as("a"), col("idb").as("b"))
    val repLabels = cc(
      reps.select(col("rep").as("id")), repPairs)
    val labels = fp.join(reps, "simhash")
      .join(repLabels.withColumnRenamed("id", "rep"), "rep")
      .select(col("doc_id"), col("cluster_id"))
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }
}
