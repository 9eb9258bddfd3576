package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.DriverOps

/** L52 — incremental cluster maintenance: merge an ingest batch's
  * near-dup edges into an EXISTING cluster labeling without re-running
  * connected components over the full corpus. This is what makes the
  * incremental-ingest family (L40 fingerprint dedup, L42 Bloom
  * prefilter, L49 snapshot diff) real for the cluster CONSUMERS (L36
  * leakage-split stability, L38 keep-best) at 100 TB: per-batch cost
  * tracks the BATCH, while a from-scratch CC pays the corpus every
  * snapshot.
  *
  * Identity used: each existing cluster is internally connected, so
  * for CONNECTIVITY it can be CONTRACTED to a single node named by its
  * cluster_id; the union corpus' components are the components of the
  * contracted graph (affected-cluster nodes ∪ batch-doc nodes, edges =
  * batchEdges with each endpoint mapped to its cluster node). And
  * since cluster_id = min member id, the contracted component's min
  * NODE id equals the merged component's min MEMBER id — contraction
  * preserves the labeling contract, not just connectivity. Only
  * clusters containing a batch-edge endpoint can change. The merge:
  *
  *   1. affected = clusters owning any batch-edge endpoint (∝ batch;
  *      broadcast);
  *   2. contract: map each batch-edge endpoint to its cluster node
  *      (itself if a batch doc) and drop now-internal self-loops —
  *      the CC input shrinks from member-level star+pair edges to the
  *      DISTINCT cluster-pair/doc-pair edges (duplicate clique
  *      expansions collapse);
  *   3. connected components over that contracted graph (nodes ∝
  *      affected clusters + batch — never members);
  *   4. members of affected clusters inherit their cluster node's new
  *      label with ONE broadcast-filtered scan of the label table
  *      (never shuffled; at 100 TB additionally bucketed/partition-
  *      pruned by cluster_id); unaffected labels pass through via an
  *      anti broadcast semi-join.
  *
  * The result is IDENTICAL to a from-scratch run on the union corpus
  * (gate: q_d_cc_incremental shares the CC oracle verbatim), and the
  * merged cluster ids are again component minima — the invariant the
  * next batch's merge relies on.
  *
  * `batchEdges` must CONNECT every near-dup pair with ≥ 1 batch
  * endpoint (batch↔history and batch↔batch, hamming ≤ maxDist,
  * including identical fingerprints) — the full pair list or any
  * connectivity-equivalent edge set over the same docs (the merge
  * only ever runs components over it, so [[Dedup
  * .simhashConnectivityEdgesOf]]'s star+rep form yields identical
  * labels at linear instead of clique-quadratic edge volume).
  * Production builds it ∝ batch by band-probing batch fingerprints
  * against the stored fp index — the L40 probe shape (BucketingSpec:
  * history side never shuffles).
  */
object ClusterMaintain {

  /** Bound on the rows the LOCAL contracted-CC fast path may collect
    * (batch edges, batch node ids — each ∝ batch by the operator's
    * contract). Same sizing rationale as [[graft.streaming
    * .IngestStream.LocalRelabelMax]]: below it, the contracted graph
    * is thousands of rows where the distributed CC pays
    * several Spark scheduling rounds per iteration for microseconds
    * of actual work (measured round 15: the CC loop and its
    * checkpoints were the bulk of every lifecycle gate's per-batch
    * job count); above it, the distributed path runs unchanged. Both
    * paths produce identical labels (min-id components over the same
    * contracted graph — ClusterMaintainSpec pins the equality).
    */
  val LocalMergeMax: Long = 100000L

  /** @param existing   (doc_id, cluster_id, cluster_size) — prior
    *                   labeling, cluster_id = min member id
    * @param batchNodes one column `id` — the new docs (edge-less new
    *                   docs become singletons)
    * @param batchEdges (a, b) undirected near-dup pairs, each touching
    *                   ≥ 1 batch doc
    * @return (doc_id, cluster_id, cluster_size) for the UNION corpus
    */
  def mergeBatch(existing: DataFrame, batchNodes: DataFrame,
      batchEdges: DataFrame): DataFrame = {
    val (changed, affected) = mergeBatchDelta(existing, batchNodes, batchEdges)
    // unaffected clusters keep their labels AND sizes (no new member
    // can have joined them — every new edge lands in an affected one)
    val untouched = existing
      .join(broadcast(affected.withColumnRenamed("cluster_id", "cid")),
        col("cluster_id") === col("cid"), "left_anti")
      .select("doc_id", "cluster_id", "cluster_size")
    untouched.union(changed)
  }

  /** The DELTA view of [[mergeBatch]]: only the rows whose label row
    * can have changed — members of affected clusters (relabeled
    * and/or resized) plus the batch docs — and the affected prior
    * cluster ids. This is what a ∝-batch label-store MERGE writes
    * ([[graft.streaming.BucketedTable]]): `changed` replaces same-key
    * rows, every other row of the store is untouched by construction.
    * `mergeBatch` == untouched-prior ∪ `changed` (shared code path).
    *
    * @return (changed rows `(doc_id, cluster_id, cluster_size)`,
    *          affected prior cluster ids `(cluster_id)`)
    */
  def mergeBatchDelta(existing: DataFrame, batchNodes: DataFrame,
      batchEdges: DataFrame): (DataFrame, DataFrame) = {
    // ONE materialization of the ∝-batch edge set, shared by both
    // paths (lazy checkpoint; guide §1.2 step 1: the job COUNT is the
    // lifecycle gates' cost, so the small-batch common case must not
    // pay the distributed CC's per-round scheduling floor). The bound
    // probe IS the collect — limit(bound+1) in one action instead of
    // the former count-then-collect pair (round 16: one job saved per
    // merge; the computed partitions persist into the checkpoint, so
    // the distributed fallback still reuses them).
    val edgesCk = batchEdges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(eager = false)
    val local = for {
      edgeRows <- DriverOps.collectBounded(edgesCk, LocalMergeMax)
      batchRows <- DriverOps.collectBounded(
        batchNodes.select(col("id").cast("long")), LocalMergeMax)
    } yield mergeBatchDeltaLocal(existing, batchRows.map(_.getLong(0)),
      edgeRows.map(r => (r.getLong(0), r.getLong(1))))
    local.getOrElse(mergeBatchDeltaDistributed(existing, batchNodes, edgesCk))
  }

  /** Driver-local contracted CC — the bounded fast path. The
    * contracted graph (affected-cluster reps + batch ids, batch
    * edges) is ∝ batch by contract; everything except the one
    * endpoint→prior-cluster lookup and the final member relabel scan
    * computes on the driver, and the relabel/affected frames land as
    * LocalRelations whose broadcast builds are job-free. Semantics
    * are the distributed path's, step for step: endpoints contract to
    * their prior cluster node (themselves when batch docs), edges
    * whose contracted endpoint is not a graph node are ignored (the
    * distributed CC only labels its node set), component label = min
    * node id = min member id, merged size = Σ constituent prior
    * cluster sizes + batch members (per OCCURRENCE, matching the
    * distributed union's row arithmetic). The size fold relies on the
    * labeling invariant `cluster_size` = member count — every
    * producer in this repo (simhashClusters*, forget's relabel, this
    * merge) maintains it, and the distributed path counts the same
    * members row by row.
    *
    * DIVERGENCE MODE (deliberate, ADVICE r15): this path derives
    * merged sizes from the STORED `cluster_size` (Σ prior sizes +
    * batch occurrences) while the distributed path RECOUNTS member
    * rows. If the store's size invariant ever drifts from the true
    * member count (only possible through corruption outside the
    * single-writer contract — every producer maintains it and the
    * crash sweeps pin it), the local path propagates the stored
    * (wrong) sizes where the distributed path would silently repair
    * them. That asymmetry is accepted: recounting here would cost a
    * corpus-sized aggregate on the per-batch fast path, and a
    * corrupted store is a restore/fsck case ([[graft.streaming
    * .StateInspect]]), not something to mask batch by batch.
    * ClusterMaintainSpec pins local == distributed on intact stores.
    */
  private def mergeBatchDeltaLocal(existing: DataFrame,
      batchArr: Array[Long], edgeArr: Array[(Long, Long)])
      : (DataFrame, DataFrame) = {
    val spark = existing.sparkSession
    import spark.implicits._
    val epIds = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      edgeArr.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    // endpoint → (prior cluster, prior size): the one ∝-batch lookup
    // over the label store (broadcast build over a LocalRelation is
    // driver-side — no job; the join scan is the job)
    val epRows =
      if (epIds.isEmpty) Array.empty[(Long, Long, Long)]
      else existing
        .join(broadcast(epIds.toSeq.toDF("doc_id")), Seq("doc_id"))
        .select(col("doc_id").cast("long"), col("cluster_id").cast("long"),
          col("cluster_size").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val epCluster = epRows.map(t => t._1 -> t._2).toMap
    val priorSize = epRows.map(t => t._2 -> t._3).toMap
    val affectedIds = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      epRows.foreach(t => s += t._2)
      s.toArray
    }
    // contracted node set: affected cluster reps ∪ batch ids
    val nodeIds = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      affectedIds.foreach(s += _); batchArr.foreach(s += _)
      s.toArray
    }
    val idx = nodeIds.zipWithIndex.toMap
    val uf = new UnionFind(nodeIds.length)
    edgeArr.foreach { case (a, b) =>
      val ca = epCluster.getOrElse(a, a)
      val cb = epCluster.getOrElse(b, b)
      if (ca != cb) (idx.get(ca), idx.get(cb)) match {
        case (Some(x), Some(y)) => uf.union(x, y)
        case _ => () // endpoint outside the node set: not propagated
      }
    }
    // component label = min node id; merged size = Σ prior sizes of
    // constituent clusters + batch occurrences in the component
    val compMin = scala.collection.mutable.HashMap.empty[Int, Long]
    nodeIds.indices.foreach { i =>
      val r = uf.find(i)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), nodeIds(i))
    }
    def labelOf(node: Long): Long = compMin(uf.find(idx(node)))
    val sizeOf = scala.collection.mutable.HashMap.empty[Long, Long]
    affectedIds.foreach { c =>
      val l = labelOf(c); sizeOf(l) = sizeOf.getOrElse(l, 0L) + priorSize(c)
    }
    batchArr.foreach { b =>
      val l = labelOf(b); sizeOf(l) = sizeOf.getOrElse(l, 0L) + 1L
    }
    // members of affected clusters inherit their cluster's new label
    // and size via ONE broadcast join over the label store; batch rows
    // are a LocalRelation
    val relabelDf = affectedIds.toSeq
      .map(c => (c, labelOf(c), sizeOf(labelOf(c))))
      .toDF("cluster_id", "ncid", "nsize")
    val memberChanged = existing
      .join(broadcast(relabelDf), Seq("cluster_id"))
      .select(col("doc_id"), col("ncid").as("cluster_id"),
        col("nsize").as("cluster_size"))
    val batchChanged = batchArr.toSeq
      .map(b => (b, labelOf(b), sizeOf(labelOf(b))))
      .toDF("doc_id", "cluster_id", "cluster_size")
    (memberChanged.unionByName(batchChanged),
      affectedIds.toSeq.toDF("cluster_id"))
  }

  /** The distributed path — unchanged semantics, taken when the batch
    * outgrows [[LocalMergeMax]].
    */
  private[graft] def mergeBatchDeltaDistributed(existing: DataFrame,
      batchNodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val endpoints = edges.select(col("a").as("doc_id"))
      .union(edges.select(col("b").as("doc_id"))).distinct()
      .localCheckpoint()
    // clusters that can change: any owning a batch-edge endpoint; the
    // endpoint→cluster map is ∝ batch and broadcasts
    val endpointCluster = existing.join(endpoints, "doc_id")
      .select(col("doc_id"), col("cluster_id")).localCheckpoint()
    val affected = endpointCluster.select("cluster_id").distinct()
    // contract: each endpoint becomes its cluster node (itself if a
    // batch doc); internal edges become self-loops and drop; clique
    // expansions collapse onto the same cluster pair
    val cEdges = edges
      .join(broadcast(endpointCluster
        .select(col("doc_id").as("a"), col("cluster_id").as("ca"))),
        Seq("a"), "left")
      .join(broadcast(endpointCluster
        .select(col("doc_id").as("b"), col("cluster_id").as("cb"))),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val cNodes = affected.select(col("cluster_id").as("id"))
      .union(batchNodes.select(col("id"))).distinct()
    // CC over the contracted graph: nodes ∝ affected clusters + batch;
    // min node id of a component == min member id of the merged
    // component because cluster_id is already its cluster's min member
    val relabeled = Clusters.connectedComponents(cNodes, cEdges)
      .select(col("id").as("cnode"), col("cluster_id").as("ncid"))
      .localCheckpoint()
    // members of affected clusters inherit their cluster node's label:
    // one broadcast-filtered scan of the label table (never shuffled)
    val memberLabels = existing
      .join(broadcast(relabeled.withColumnRenamed("cnode", "cluster_id")),
        Seq("cluster_id"))
      .select(col("doc_id"), col("ncid"))
    val batchLabels = batchNodes
      .join(broadcast(relabeled), col("id") === col("cnode"))
      .select(col("id").as("doc_id"), col("ncid"))
    val relabeledMembers = memberLabels.union(batchLabels)
    val sizes = relabeledMembers.groupBy("ncid")
      .agg(count(lit(1)).as("cluster_size"))
    val changed = relabeledMembers.join(sizes, "ncid")
      .select(col("doc_id"), col("ncid").as("cluster_id"),
        col("cluster_size"))
    (changed, affected)
  }
}
