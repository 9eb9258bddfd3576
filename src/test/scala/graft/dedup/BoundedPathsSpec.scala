package graft.dedup

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DriverOps

/** The bounded driver-local paths at their bounds. A bound equal to
  * the exact size takes the local path and one below it the other
  * path, on seeded chains, cliques, stars and mixtures of them; both
  * label every node as a [[UnionFind]] over the whole graph does.
  */
class BoundedPathsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val kinds = Seq("chain", "clique", "star", "mixture")

  /** One shape over 2-8 of `ids`: a chain, a clique or a star. */
  private def shape(rnd: Random, ids: IndexedSeq[Long],
      kind: String): Seq[(Long, Long)] = {
    val vs = rnd.shuffle(ids).take(2 + rnd.nextInt(math.min(7, ids.length - 1)))
    kind match {
      case "chain" => vs.sliding(2).map(p => (p(0), p(1))).toSeq
      case "clique" => vs.combinations(2).map(p => (p(0), p(1))).toSeq
      case "star" => vs.tail.map(v => (vs.head, v))
      case _ => shape(rnd, ids, kinds(rnd.nextInt(3)))
    }
  }

  /** `n` shapes of `kind` over `ids` ("mixture": each shape picks its
    * own), each edge in a random orientation, one in ten twice.
    */
  private def graph(rnd: Random, ids: IndexedSeq[Long], kind: String,
      n: Int): Seq[(Long, Long)] =
    Seq.fill(n)(shape(rnd, ids, kind)).flatten.flatMap { case (a, b) =>
      val e = if (rnd.nextBoolean()) (a, b) else (b, a)
      if (rnd.nextInt(10) == 0) Seq(e, e) else Seq(e)
    }

  /** Node → (smallest id of its component, component size) over the
    * subgraph `nodes` induce.
    */
  private def unionFind(nodes: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val ids = nodes.distinct.sorted.toArray
    val idx = ids.zipWithIndex.toMap
    val uf = new UnionFind(ids.length)
    edges.foreach { case (a, b) =>
      for (x <- idx.get(a); y <- idx.get(b)) uf.union(x, y)
    }
    val label = ids.indices.map(i => ids(i) -> ids(uf.find(i))).toMap
    val size = label.values.groupBy(identity).map { case (l, m) => l -> m.size.toLong }
    label.map { case (id, l) => id -> (l, size(l)) }
  }

  /** True when `df` reads a checkpointed RDD: the star rounds' edges. */
  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  test("connectedComponents: localMax = E takes the local path, E − 1 the distributed rounds; both label as UnionFind") {
    val s = spark
    import s.implicits._
    for (kind <- kinds; seed <- Seq(1, 2)) {
      val rnd = new Random(seed * 100 + kinds.indexOf(kind))
      val nodes = (0L until 10L + rnd.nextInt(30)).toIndexedSeq
      // a mixture also has edges to ids that are not nodes
      val outside = if (kind == "mixture") (1000L until 1004L) else Nil
      val edges = graph(rnd, nodes ++ outside, kind, 2 + rnd.nextInt(3))
        .filter { case (a, b) => nodes.contains(a) || nodes.contains(b) }
      val e = edges.length.toLong
      assert(e >= 2, s"$kind/$seed: too few edges for a bound below E")
      val want = unionFind(nodes, edges).map { case (id, (l, _)) => id -> l }
      Seq(e -> false, (e - 1) -> true).foreach { case (max, distributed) =>
        val df = Clusters.connectedComponents(nodes.toDF("id"),
          edges.toDF("a", "b"), localMax = max)
        val at = s"$kind/$seed, E = $e, localMax = $max"
        assert(readsCheckpoint(df) == distributed,
          s"$at: took the ${if (distributed) "local" else "distributed"} path")
        assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want,
          s"$at: labels differ from UnionFind")
      }
    }
  }

  test("mergeBatchDeltaLocal: memberMax at the member sum relabels on the driver, one below by a broadcast join; both label as UnionFind") {
    val s = spark
    import s.implicits._
    for (kind <- kinds; seed <- Seq(1, 2)) {
      val rnd = new Random(seed * 100 + 10 + kinds.indexOf(kind))
      val hist = (0L until 20L + rnd.nextInt(30)).toIndexedSeq
      val batch = (1000L until 1001L + rnd.nextInt(10)).toIndexedSeq
      val histEdges = graph(rnd, hist, kind, 2 + rnd.nextInt(5))
      val prior = unionFind(hist, histEdges)
      val existing = prior.toSeq.map { case (id, (l, n)) => (id, l, n) }
        .toDF("doc_id", "cluster_id", "cluster_size").localCheckpoint()
      // every batch edge touches a batch node, and one links to history
      val batchEdges = ((batch.head, hist(rnd.nextInt(hist.length))) +:
        graph(rnd, batch ++ rnd.shuffle(hist).take(6), kind, 1 + rnd.nextInt(3)))
        .filter { case (a, b) => batch.contains(a) || batch.contains(b) }
      val affected = batchEdges.flatMap(e => Seq(e._1, e._2))
        .flatMap(prior.get).map(_._1).toSet
      val members = prior.count { case (_, (l, _)) => affected(l) }.toLong
      val want = unionFind(hist ++ batch, histEdges ++ batchEdges)
      Seq(members -> true, (members - 1) -> false).foreach { case (max, local) =>
        val (changed, aff) = ClusterMaintain.mergeBatchDeltaLocal(existing,
          batch.toArray, batchEdges.toArray, max)
        val at = s"$kind/$seed, member sum $members, memberMax = $max"
        assert(DriverOps.isLocal(changed) == local,
          s"$at: took the ${if (local) "broadcast" else "driver"} relabel")
        assert(aff.collect().map(_.getLong(0)).toSet == affected,
          s"$at: affected clusters")
        val got = prior.filterNot { case (_, (l, _)) => affected(l) } ++
          changed.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        assert(got == want, s"$at: labels differ from UnionFind")
      }
    }
  }
}
