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
    * (batch edges and node ids, each ∝ batch by the operator's
    * contract, and the affected clusters' members). Below it, the
    * contracted graph is thousands of rows where the
    * distributed CC pays several Spark scheduling rounds per
    * iteration for microseconds of actual work (measured round 15:
    * the CC loop and its checkpoints were the bulk of every lifecycle
    * gate's per-batch job count); above it, the distributed path
    * runs unchanged. Both paths produce identical labels (min-id
    * components over the same contracted graph — ClusterMaintainSpec
    * pins the equality). The ingest loops' micro-batch applies the
    * same bound to its batch facts and its store edges, where it
    * chooses between its driver-side and its distributed path
    * ([[graft.streaming.IngestStream.ingest]]), and, from counts it
    * already holds, to the affected clusters' members and the
    * straddler shard's rows. Measured on the text loop (4 vCPUs, 4 GB
    * driver heap, one run each):
    * a batch of 10k / 50k / 100k docs over a prior batch of the same
    * size took 8.0 / 12.2 / 23.0 s on the driver-side path and 11.1 /
    * 26.6 / 72.5 s on the distributed one, so the driver-side path
    * still wins at the bound.
    *
    * [[graft.streaming.IngestStream.forget]]'s relabel applies the
    * same bound to the affected clusters' survivors, whose components
    * it computes with the same driver kernel
    * ([[Clusters.simhashComponentsLocal]]). That kernel is sized by
    * CPU, not memory: its per-band bucket scan costs ~n²/64
    * single-threaded hamming comparisons (4 bands × 256 values ×
    * (n/256)²), so 100k survivors ≈ 1.6e8 comparisons ≈ a few hundred
    * ms, while 1M would be minutes of driver stall, slower than the
    * distributed CC it replaces.
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
    val edgesCk = materializedEdges(batchEdges)
    val local = for {
      edgeRows <- DriverOps.collectBounded(edgesCk, LocalMergeMax)
      batchRows <- DriverOps.collectBounded(
        batchNodes.select(col("id").cast("long")), LocalMergeMax)
    } yield mergeBatchDeltaLocal(existing, batchRows.map(_.getLong(0)),
      edgeRows.map(r => (r.getLong(0), r.getLong(1))), LocalMergeMax)
    local.getOrElse(mergeBatchDeltaDistributed(existing, batchNodes, edgesCk))
  }

  /** The edge set as the distributed path takes it: long endpoints,
    * checkpointed lazily — the first action computes it once and every
    * later join reads the checkpoint.
    */
  private[graft] def materializedEdges(batchEdges: DataFrame): DataFrame =
    batchEdges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(eager = false)

  /** Driver-local contracted CC — the bounded fast path. The
    * contracted graph (affected-cluster reps + batch ids, batch
    * edges) is ∝ batch by contract; everything except the one
    * endpoint→prior-cluster lookup and the member scan computes on
    * the driver, and the changed rows land as a LocalRelation while
    * the affected clusters' members fit `memberMax`. Their count is
    * the sum of the stored sizes, known before the scan, so the choice
    * costs no probe; past it the members are relabeled by a broadcast
    * join. Semantics
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
    *
    * The ingest loops call it directly with edges they built on the
    * driver ([[graft.streaming.IngestStream.ingest]]'s bounded path),
    * so the selection between the paths stays in the loop body.
    */
  private[graft] def mergeBatchDeltaLocal(existing: DataFrame,
      batchArr: Array[Long], edgeArr: Array[(Long, Long)],
      memberMax: Long): (DataFrame, DataFrame) = {
    val spark = existing.sparkSession
    import spark.implicits._
    val epIds = {
      val s = scala.collection.mutable.LinkedHashSet.empty[Long]
      edgeArr.foreach { case (a, b) => s += a; s += b }
      s.toArray
    }
    // endpoint → (prior cluster, prior size): the one ∝-batch lookup
    // over the label store. An IN-set filter, not a broadcast join: a
    // broadcast build runs its own Spark job even over a LocalRelation
    val epRows =
      if (epIds.isEmpty) Array.empty[(Long, Long, Long)]
      else existing
        .filter(col("doc_id").isin(epIds.toSeq: _*))
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
    // contracted node set: affected cluster reps ∪ batch ids, in
    // ascending order: the union-find roots each set at its minimum
    // index, so a component's root IS its min node id
    val nodeIds = (affectedIds ++ batchArr).distinct.sorted
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
    def labelOf(node: Long): Long = nodeIds(uf.find(idx(node)))
    val sizeOf = scala.collection.mutable.HashMap.empty[Long, Long]
    affectedIds.foreach { c =>
      val l = labelOf(c); sizeOf(l) = sizeOf.getOrElse(l, 0L) + priorSize(c)
    }
    batchArr.foreach { b =>
      val l = labelOf(b); sizeOf(l) = sizeOf.getOrElse(l, 0L) + 1L
    }
    // members of affected clusters inherit their cluster's new label
    // and size. Their count is known: Σ prior sizes of the affected
    // clusters. While it fits `memberMax`, ONE IN-set scan of the
    // label store collects them and the whole changed set is a
    // LocalRelation (a MERGE then probes its keys on the driver); past
    // it, one broadcast join over the label store relabels them lazily
    val batchChanged =
      batchArr.toSeq.map(b => (b, labelOf(b), sizeOf(labelOf(b))))
    val changed =
      if (affectedIds.iterator.map(priorSize).sum <= memberMax)
        (existing
          .filter(col("cluster_id").isin(affectedIds.toSeq: _*))
          .select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
          .collect().toSeq.map { r =>
            val l = labelOf(r.getLong(1))
            (r.getLong(0), l, sizeOf(l))
          } ++ batchChanged).toDF("doc_id", "cluster_id", "cluster_size")
      else {
        val relabelDf = affectedIds.toSeq
          .map(c => (c, labelOf(c), sizeOf(labelOf(c))))
          .toDF("cluster_id", "ncid", "nsize")
        existing.join(broadcast(relabelDf), Seq("cluster_id"))
          .select(col("doc_id"), col("ncid").as("cluster_id"),
            col("nsize").as("cluster_size"))
          .unionByName(
            batchChanged.toDF("doc_id", "cluster_id", "cluster_size"))
      }
    (changed, affectedIds.toSeq.toDF("cluster_id"))
  }

  /** The distributed path — unchanged semantics, taken when the batch
    * outgrows [[LocalMergeMax]]. `edges` come from
    * [[materializedEdges]].
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
