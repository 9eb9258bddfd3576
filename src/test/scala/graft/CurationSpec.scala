package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clusters, Dedup}
import graft.operators.Sampling
import graft.text.Relevance

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = TestSpark.Sf

  private lazy val docs = Tables.load(spark, Sf, "documents")

  test("connected components label chains, cliques and singletons") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain — needs propagation depth),
    // {10,11,12} (a triangle), {20} (singleton)
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    val got = Clusters.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the distributed loop must label identically (localMax = 0
    // forces it past the bounded driver-local fast path)
    val gotDist = Clusters.connectedComponents(nodes, edges, localMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == want)
  }

  test("driver-local simhash components equal the distributed labeling on a real corpus") {
    val d = Tables.load(spark, TestSpark.Sf, "documents")
      .select("doc_id", "text")
    val fp = graft.dedup.Dedup.withSimhash(d, "doc_id", "text")
      .localCheckpoint()
    // localMax = 0 forces the DISTRIBUTED rounds — the ground truth
    // both local forms must match
    val want = Clusters.simhashClustersOf(fp, maxDist = 3,
        cc = Clusters.connectedComponents(_, _, localMax = 0L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val got = Clusters.simhashComponentsLocal(
      fp.collect().map(r => (r.getLong(0), r.getLong(1))), maxDist = 3)
      .map { case (id, cid, sz) => id -> (cid, sz) }.toMap
    assert(got == want,
      "the forget fast path's union-find must label exactly like the " +
        "distributed CC (ids, cluster ids, AND sizes)")
    // the default path (bounded LocalCcMax fast path on this corpus)
    // must also match the distributed labeling exactly
    val gotDefault = Clusters.simhashClustersOf(fp, maxDist = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(gotDefault == want,
      "the LocalCcMax fast path must label exactly like the " +
        "distributed CC (ids, cluster ids, AND sizes)")
  }

  test("connected components on a random graph + a long path match union-find") {
    import spark.implicits._
    // random sparse graph (fixed seed) UNION a 16-node path
    val rnd = new scala.util.Random(11)
    val randomEdges = Seq.fill(120)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val pathEdges = (300L until 315L).map(i => (i, i + 1))
    val edges = randomEdges ++ pathEdges
    val nodeIds = (0L until 200L) ++ (300L to 315L)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    // localMax = 0: the distributed rounds
    val got = Clusters.connectedComponents(
      nodeIds.toDF("id"), edges.toDF("a", "b"), localMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    nodeIds.foreach { id => assert(got(id) == find(id), s"node $id") }
    // the bounded local fast path (default localMax) labels identically
    val gotLocal = Clusters.connectedComponents(
      nodeIds.toDF("id"), edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLocal == got)
  }

  /** Checks [[Clusters.connectedComponents]] on each named case against
    * union-find over the node-induced subgraph (an edge with an
    * endpoint outside the node set joins nothing), labeled with each
    * component's smallest id — on both the distributed rounds and the
    * bounded driver-local path. */
  private def assertCcMatchesUnionFind(
      cases: Seq[(String, Seq[Long], Seq[(Long, Long)])]): Unit = {
    val s = spark
    import s.implicits._
    def truth(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val isNode = nodes.toSet
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.filter { case (a, b) => isNode(a) && isNode(b) }.foreach {
        case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
      }
      nodes.map(i => i -> find(i)).toMap
    }
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (name, nodeIds, edgeList) =>
      val nodes = nodeIds.toDF("id")
      val edges = edgeList.toDF("a", "b")
      val want = truth(nodeIds, edgeList)
      // localMax = 0 forces the distributed rounds past the bounded
      // driver-local path the default takes at this size
      assert(labels(Clusters.connectedComponents(nodes, edges, localMax = 0L)) == want,
        s"$name: distributed rounds")
      assert(labels(Clusters.connectedComponents(nodes, edges)) == want,
        s"$name: driver-local path")
    }
  }

  test("star CC matches frontier CC on chains, cliques, random graphs") {
    // the star rounds are the one distributed scheme now; union-find
    // is the reference the frontier labels were checked against
    val rnd = new scala.util.Random(23)
    val randomEdges = Seq.fill(150)((rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
      .filter { case (a, b) => a != b }
    assertCcMatchesUnionFind(Seq(
      // diameter 299: min-label propagation would need ~299 rounds;
      // the star rounds land it inside their 32-round budget
      ("300-node path + random edges", (0L until 250L) ++ (1000L to 1299L),
        randomEdges ++ (1000L until 1299L).map(i => (i, i + 1))),
      ("40-node path", 100L to 140L, (100L until 140L).map(i => (i, i + 1))),
      ("triangle + singleton", Seq(1L, 2L, 3L, 9L),
        Seq((1L, 2L), (2L, 3L), (1L, 3L)))))
  }

  test("star CC handles empty edge sets and self-loops") {
    assertCcMatchesUnionFind(Seq(
      ("empty edge set", Seq(1L, 2L, 3L), Seq.empty),
      ("self-loops", Seq(1L, 2L, 3L), Seq((1L, 1L), (2L, 3L)))))
  }

  test("CC: edges to non-node endpoints join nothing, on both paths") {
    // 50 and 0 are not nodes: 1 and 2 stay apart, and 3, 4 take 3
    // (not 0) as their label
    assertCcMatchesUnionFind(Seq(
      ("edges to non-node endpoints", Seq(1L, 2L, 3L, 4L),
        Seq((1L, 50L), (50L, 2L), (0L, 3L), (3L, 4L)))))
  }

  test("simhash clusters agree with a transitive closure of the pairs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // union-find ground truth on the collected pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val got = Clusters.simhashClusters(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expLabel = got.map(_._1).map(id => id -> find(id)).toMap
    // the min-reachable root IS the union-find root with min-merge
    got.foreach { case (id, cid, _) => assert(cid == expLabel(id)) }
    // sizes consistent: every cluster's size equals its member count
    val bySize = got.groupBy(_._2).map { case (cid, rows) => cid -> rows.length }
    got.foreach { case (_, cid, sz) => assert(sz == bySize(cid)) }
  }

  test("hash sample is a deterministic subset at roughly the rate") {
    val n = docs.count()
    val kept = Sampling.hashSample(docs, "doc_id", 0.3)
    val k = kept.count()
    assert(math.abs(k.toDouble / n - 0.3) < 0.15, s"kept $k of $n")
    // determinism + subset of rerun at a higher rate
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == again)
    val wider = Sampling.hashSample(docs, "doc_id", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(wider), "rate sampling must nest by rate")
  }

  test("stratified sample takes exactly n per stratum (or the stratum)") {
    val perLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampling.stratifiedSample(docs, "doc_id", "lang", 20)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == perLang.keySet)
    got.foreach { case (lang, n) => assert(n == math.min(20L, perLang(lang))) }
  }

  test("mixture sample applies per-stratum rates") {
    val kept = Sampling.mixtureSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.25)
    val keptByLang = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalByLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def frac(l: String) = keptByLang.getOrElse(l, 0L).toDouble / totalByLang(l)
    assert(math.abs(frac("en") - 0.5) < 0.2, s"en=${frac("en")}")
    assert(frac("zh") < 0.25, s"zh=${frac("zh")}")
    // the en selection at rate 0.5 must nest the uniform 0.3 sample
    val uniform = Sampling.hashSample(docs, "doc_id", 0.3)
      .filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mixEn = kept.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uniform.subsetOf(mixEn))
  }

  test("domain cap: salted two-phase equals the single window exactly") {
    import spark.implicits._
    // skewed fixture: one hot domain with 400 rows, two cold ones
    val rows = ((0 until 400).map(i => (i.toLong, "hot")) ++
      (400 until 430).map(i => (i.toLong, "cold1")) ++
      (430 until 435).map(i => (i.toLong, "cold2"))).toDF("doc_id", "dom")
    val twoPhase = Sampling.domainCap(rows, "doc_id", "dom", k = 20,
        salts = 4)
      .select("doc_id", "dom", "cap_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // single-window reference (salts = 1 degenerates to it)
    val oneWindow = Sampling.domainCap(rows, "doc_id", "dom", k = 20,
        salts = 1)
      .select("doc_id", "dom", "cap_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(twoPhase == oneWindow)
    assert(twoPhase.count(_._2 == "hot") == 20)
    assert(twoPhase.count(_._2 == "cold1") == 20)
    assert(twoPhase.count(_._2 == "cold2") == 5) // under-quota domain intact
  }

  test("leakage-free split: clusters never straddle; fractions roughly hold") {
    import spark.implicits._
    val labeled = Clusters.simhashClusters(docs, "doc_id", "text", maxDist = 3)
    val split = Sampling.splitByGroup(labeled, "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // the invariant: one split per cluster
    val mixed = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n")).filter(col("n") > 1).count()
    assert(mixed == 0L)
    // fractions hold at the CLUSTER level (the assignment unit)
    val byCluster = split.select("cluster_id", "split").distinct()
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byCluster.values.sum.toDouble
    assert(byCluster("train") / total > 0.7 && byCluster("train") / total < 0.9)
    assert(byCluster.keySet == Set("train", "val", "test"))
    // determinism: a second run assigns identically
    val again = Sampling.splitByGroup(labeled, "cluster_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again)
  }

  test("token packing: greedy fill respects the budget contract") {
    val budget = 2048L
    val packed = Sampling.packByTokens(
      docs.withColumn("n_tokens",
        graft.text.TextAnalysis.tokenCountBpe(col("text")).cast("long")),
      "doc_id", "lang", "n_tokens", budget)
      .select("lang", "pack_id", "n_tokens", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byPack = packed.groupBy(p => (p._1, p._2))
    byPack.foreach { case ((lang, pid), rows) =>
      val total = rows.map(_._3).sum
      // a pack only exceeds the budget by its final straddling doc
      assert(total - rows.map(_._3).max < budget,
        s"pack ($lang,$pid) pre-straddle total ${total - rows.map(_._3).max}")
    }
    // pack ids are contiguous from 0 within each stratum (holds
    // whenever no single doc exceeds the budget — verified first;
    // an over-budget doc legitimately skips pack ids)
    assert(packed.map(_._3).max < budget)
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val ids = rows.map(_._2).distinct.sorted.toSeq
      assert(ids == (0L until ids.length.toLong), s"$lang ids $ids")
    }
  }

  test("tfidf scores match the smooth-idf closed form") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common zebra"),
      (2L, "common words only"),
      (3L, "common words again")).toDF("doc_id", "text")
    val scores = Relevance.tfidfTopK(corpus, "doc_id", "text", 3)
      .filter(col("doc_id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    // N=3: common tf=2 df=3 → 2·(ln(4/4)+1) = 2.0;
    //      zebra  tf=1 df=1 → 1·(ln(4/2)+1) ≈ 1.693147
    assert(scores("common") == 2.0)
    assert(math.abs(scores("zebra") - (math.log(2.0) + 1.0)) < 1e-6)
  }

  test("bm25 saturates tf and rewards rarity") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "rare " + Seq.fill(20)("common").mkString(" ")),
      (2L, "common stuff here"),
      (3L, "common other text")).toDF("doc_id", "text")
    val scores = Relevance.bm25TopK(corpus, "doc_id", "text", 5)
      .filter(col("doc_id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    // 'common' appears in every doc → idf = ln(1 + 0.5/3.5), tiny;
    // 'rare' appears once → idf = ln(1 + 2.5/0.5) ≈ 1.79. tf=20 cannot
    // overcome the idf gap because bm25 saturates at (k1+1)·idf.
    assert(scores("rare") > scores("common"),
      s"rare=${scores("rare")} common=${scores("common")}")
  }

  test("pii scrub redacts all four types and counts on the raw text") {
    import spark.implicits._
    import graft.text.Pii
    val rows = Seq(
      (1L, "write to alice.smith+x@sub.example.co or call +1-202-555-0134" +
        " from 192.168.1.25 wallet 0xdeadbeefdeadbeefdeadbeefdeadbeefdeadbeef"),
      (2L, "no pii here, just 1.2 numbers and version 3.4.5 text"),
      (3L, "two mails: a@b.io c@d.org")).toDF("doc_id", "text")
    val got = rows.select(Pii.scrubDocs(col("doc_id"), col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getString(6))).toMap
    val (e1, p1, i1, a1, h1, c1) = got(1L)
    assert((e1, p1, i1, a1, h1) == (1L, 1L, 1L, 1L, true))
    assert(c1.contains("<EMAIL>") && c1.contains("<PHONE>") &&
      c1.contains("<IP>") && c1.contains("<ADDR>"))
    assert(!c1.contains("@") && !c1.contains("0xdead"))
    val (e2, p2, i2, a2, h2, c2) = got(2L)
    // dotted version strings are NOT ipv4 (needs 4 octets); bare
    // numbers are not phones
    assert((e2, p2, i2, a2, h2) == (0L, 0L, 0L, 0L, false))
    assert(c2 == "no pii here, just 1.2 numbers and version 3.4.5 text")
    assert(got(3L)._1 == 2L && got(3L)._5)
  }

  test("financial PII: Luhn and mod-97 folds match the published vectors; only checksum-valid shapes redact") {
    import spark.implicits._
    import graft.text.Pii
    val rows = Seq(
      (1L, "pay 4111-1111-1111-1111 now"), // valid Luhn
      (2L, "pay 4111-1111-1111-1112 now"), // one digit off → suspect
      (3L, "acct DE89370400440532013000 ok"), // valid mod-97
      (4L, "acct DE89370400440532013001 ok"), // one digit off → suspect
      (5L, "both 5555-5555-5555-4444 and GB29NWBK60161331926819"),
      (6L, "digits 1234 5678 but no shapes"),
      // an embedded occurrence (no word boundary before the digits)
      // is NOT a match — and must NOT be rewritten by the redaction
      // of the standalone occurrence of the same string
      (7L, "ref A4111-1111-1111-1111 pay 4111-1111-1111-1111"))
      .toDF("doc_id", "text")
    val got = rows.select(Pii.scrubFinancialDocs(col("doc_id"),
        col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toMap
    assert(got(1L) == ((1L, 0L, 0L, 0L, "pay <CARD> now")))
    assert(got(2L) == ((0L, 1L, 0L, 0L, "pay 4111-1111-1111-1112 now")),
      "a failed checksum must stay visible as a suspect")
    assert(got(3L) == ((0L, 0L, 1L, 0L, "acct <IBAN> ok")))
    assert(got(4L) == ((0L, 0L, 0L, 1L, "acct DE89370400440532013001 ok")))
    assert(got(5L) == ((1L, 0L, 1L, 0L, "both <CARD> and <IBAN>")))
    assert(got(6L) == ((0L, 0L, 0L, 0L, "digits 1234 5678 but no shapes")))
    assert(got(7L) ==
      ((1L, 0L, 0L, 0L, "ref A4111-1111-1111-1111 pay <CARD>")),
      "redaction must not rewrite the embedded non-match")
  }

  test("url filter counts urls and blocks only blocklisted hosts") {
    import spark.implicits._
    import graft.text.UrlFilter
    val rows = Seq(
      (1L, "read https://spam3.example.com/x and http://ok.example.org/y"),
      (2L, "no urls at all"),
      (3L, "https://spam3.example.com/a https://spam4.example.com/b"),
      // host disguises that must still hit the blocklist: uppercase,
      // explicit port, userinfo@ prefix — and a lookalike that must NOT
      // (spam3.example.com.evil.net is a different registrable host)
      (4L, "https://SPAM3.Example.COM/x http://spam4.example.com:8080/y"),
      (5L, "https://alice:pw@spam3.example.com/z"),
      (6L, "https://spam3.example.com.evil.net/a")
    ).toDF("doc_id", "text")
    val got = rows.select(UrlFilter.flagBlocked(col("doc_id"), col("text"),
        Seq("spam3.example.com", "spam4.example.com")): _*)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(1L) == (2L, 1L, false))
    assert(got(2L) == (0L, 0L, true))
    assert(got(3L) == (2L, 2L, false))
    assert(got(4L) == (2L, 2L, false))
    assert(got(5L) == (1L, 1L, false))
    assert(got(6L) == (1L, 0L, true))
  }

  test("gopher rule battery: each rule fires on its own pathology") {
    import spark.implicits._
    import graft.text.GopherRules
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val rows = Seq(
      // 50 words + the 2 required stops → all rules pass
      (1L, s"the data went to the lake $fifty"),
      // 10 words → word-count floor fails (everything else fine)
      (2L, "the data went to the lake again and again today"),
      // symbol spam: 12 '#' over 56 words → ratio 0.214 > 0.1
      (3L, s"the lake to $fifty ## ## ## ## ## ##"),
      // bullet spam: 10/10 lines bulleted > 0.9; 1-char words sink mean len
      (4L, (1 to 10).map(i => s"• x$i").mkString("\n")),
      // ellipsis: 2 of 4 lines end with ... / … > 0.3
      (5L, s"the lake to $fifty\nwait...\nplain\nmore…"),
      // numerals: 0 of words alphabetic < 0.8
      (6L, (1 to 60).map(_.toString).mkString(" ") + " the to"),
      // one required stop only ('the') → stopword rule fails
      (7L, s"zzz the $fifty")
    ).toDF("doc_id", "text")
    val got = rows.select(GopherRules.columns(col("doc_id"), col("text")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    def rule(id: Long, name: String): Boolean = {
      val r = got(id); r.getBoolean(r.fieldIndex(name))
    }
    assert(rule(1L, "keep"), got(1L).toString)
    assert(!rule(2L, "r_word_count") && rule(2L, "r_stopwords"))
    assert(!rule(3L, "r_symbol_ratio") && rule(3L, "r_word_count"))
    assert(!rule(4L, "r_bullet_lines") && !rule(4L, "r_mean_word_len"))
    assert(!rule(5L, "r_ellipsis_lines") && rule(5L, "r_word_count"))
    assert(!rule(6L, "r_alpha_words"))
    assert(!rule(7L, "r_stopwords") && !got(7L).getBoolean(got(7L).fieldIndex("keep")))
  }

  test("dsir: target-like raw docs outweigh pool-like ones") {
    import spark.implicits._
    import graft.text.Dsir
    val domain = "quant alpha hedge momentum arbitrage desk"
    val filler = "the quick brown fox jumps over the lazy dog again"
    val corpus = Seq(
      (1L, s"$domain $domain trading desk"), // target
      (2L, s"$domain risk models"), // target
      (10L, s"$domain on the $filler"), // raw, target-like
      (11L, s"$filler $filler"), // raw, pool-like
      (12L, s"$filler and nothing else")) // raw, pool-like
      .toDF("doc_id", "text")
    val got = Dsir.importanceWeights(corpus, "doc_id", "text",
        id => id < 10L, buckets = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(r.fieldIndex("weight")), r.getBoolean(r.fieldIndex("selected"))))
      .toMap
    assert(got.keySet == Set(10L, 11L, 12L), "targets excluded from output")
    assert(got(10L)._1 > got(11L)._1 && got(10L)._1 > got(12L)._1,
      s"domain doc must rank highest: $got")
    // on a 5-doc corpus add-1 smoothing dominates and all weights are
    // negative (selection needs corpus-scale mass — the oracle query
    // pins that); here assert the flag is wired to the sign
    got.values.foreach { case (w, sel) => assert(sel == (w > 0.0)) }
  }

  test("dsir bucket kernel matches the builtin md5-prefix formula") {
    import spark.implicits._
    import graft.text.Dsir
    val fixture = Seq(
      (1L, "Alpha beta GAMMA  delta alpha beta"),
      (2L, "single"),
      (3L, "a b a b a b"), // repeated bigrams → counts > 1
      (4L, "  ")) // whitespace-only → empty histogram
      .toDF("doc_id", "text")
    val viaKernel = fixture
      .select(col("doc_id"), explode(graft.expressions.ShingleFunctions
        .dsirBuckets(col("text"), 256)).as("e"))
      .select(col("doc_id"), col("e.b"), col("e.cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBuiltins = fixture
      .select(col("doc_id"),
        explode(Dsir.ngramFeatures(col("text"))).as("ng"))
      .groupBy(col("doc_id"), Dsir.bucketOf(col("ng"), 256).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaKernel == viaBuiltins)
  }

  test("mojibake: fix chain repairs planted sequences; count on original") {
    import spark.implicits._
    import graft.text.Mojibake
    val rows = Seq(
      (1L, "CafÃ© donâ€™t â€œsmartâ€¦ â€“ Ã¼ber"),
      (2L, "clean ascii text"),
      (3L, "Ã©Ã©Ã©")) // repeated sequence counts 3
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        Mojibake.hitCount(col("text")).as("n"),
        Mojibake.fix(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got(1L) == ((6L, "Café don’t “smart… – über")))
    assert(got(2L) == ((0L, "clean ascii text")))
    assert(got(3L) == ((3L, "ééé")))
  }

  test("keep-best-per-cluster keeps max quality, ties to the smaller id") {
    import spark.implicits._
    val labeled = Seq(
      (1L, 100L, 0.5), (2L, 100L, 0.9), (3L, 100L, 0.9), // tie → doc 2
      (7L, 200L, 0.1)) // singleton keeps itself
      .toDF("doc_id", "cluster_id", "quality")
    val got = Clusters.keepBestPerCluster(labeled, "doc_id", "cluster_id",
        "quality")
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 7L -> true))
  }

  test("language mix: window votes find the embedded foreign segment") {
    import spark.implicits._
    val en = ("the cat and the dog of the house " * 8).trim // 64 toks, en
    val es = ("el perro de la casa y el gato se fue " * 6).trim // 60 toks, es
    val und = "xyzzy plugh grue zork frobozz" // no stopword hits
    val corpus = Seq(
      (1L, s"$en $es"), // en windows + es windows → mixed
      (2L, en), // pure en
      (3L, und), // single window, no votes → und
      (4L, "")) // tokenless → absent from output
      .toDF("doc_id", "text")
    val got = graft.text.LanguageMix.profile(corpus, "doc_id", "text",
        window = 50)
      .collect().map(r => r.getLong(0) -> (
        r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    val (l1, w1, n1, m1, mixed1) = got(1L)
    assert(mixed1 && n1 == 2L && w1 == 3L, s"doc1: ${got(1L)}")
    assert(m1 > 0.0)
    assert(Set("en", "es").contains(l1))
    assert(got(2L) == (("en", 2L, 1L, 0.0, false)))
    assert(got(3L) == (("und", 1L, 0L, 0.0, false)))
  }

  test("repeated-substring: shared runs flag all copies at any alignment") {
    import spark.implicits._
    import graft.dedup.Dedup
    val boiler = (1 to 120).map(i => s"bp${i % 7}").mkString(" ") // 120-token run
    def filler(seed: Int, n: Int) =
      (1 to n).map(i => s"w${(i * seed) % 97}x$i$seed").mkString(" ")
    val rows = Seq(
      // same run at arbitrary, different offsets: selection is
      // content-defined, so the copies share fingerprints anyway
      (1L, s"${filler(3, 23)} $boiler ${filler(5, 30)}"),
      (2L, s"${filler(11, 7)} $boiler ${filler(13, 40)}"),
      (3L, filler(17, 120)), // unique text, ≥ window tokens → clean
      (4L, filler(19, 30))) // below window → zero windows
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSubstringFlags(rows, "doc_id", "text",
        window = 50, p = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getBoolean(r.fieldIndex("has_repeat"))))
      .toMap
    assert(got(1L)._3 && got(2L)._3, s"both copies must flag: $got")
    assert(!got(3L)._3 && got(3L)._1 > 0)
    assert(got(4L) == ((0L, 0L, false)), got(4L).toString)
  }

  test("L34 verify stage: truncated-hash collisions are killed, true repeats at adversarial alignments all survive") {
    import spark.implicits._
    // window=3, p=1 (every window selected), hashHexChars=1 → 4-bit
    // hashes, so cross-doc collisions between DIFFERENT spans are
    // plentiful; expectations below were derived from the md5
    // arithmetic directly: docs 1/2 share the true 'qq qq qq' span at
    // different offsets; every other hash-hot candidate is a collision
    val rows = Seq(
      (1L, "one two three qq qq qq"),
      (2L, "alpha qq qq qq tail words"),
      (3L, "p1 p2 p3 p4 p5 p6 p7"),
      (4L, "r1 r2 r3 r4 r5 r6 r7"),
      (5L, "s1 s2 s3 s4 s5 s6 s7")).toDF("doc_id", "text")
    val got = Dedup.repeatedSubstringVerified(rows, "doc_id", "text",
        window = 3, p = 1, minDocs = 2, hashHexChars = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getBoolean(r.fieldIndex("has_repeat"))))
      .toMap
    // true copies: exactly the one shared span verifies, at both
    // (adversarial) offsets
    assert(got(1L) == ((2L, 1L, true)), got(1L).toString)
    assert(got(2L) == ((3L, 1L, true)), got(2L).toString)
    // collision fodder: plenty of hash-hot candidates, ZERO verified
    assert(got(3L) == ((4L, 0L, false)), got(3L).toString)
    assert(got(4L) == ((3L, 0L, false)), got(4L).toString)
    assert(got(5L) == ((2L, 0L, false)), got(5L).toString)
    // the kill is the point: candidates strictly exceed repeats
    assert(got.values.map(_._1).sum > got.values.map(_._2).sum)
  }

  test("decontamination flags only docs sharing an 8-gram with the eval slice") {
    import spark.implicits._
    import graft.text.Decontam
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val corpus = Seq(
      (7L, s"EVAL doc with $shared inside"), // eval slice (id % 20 == 7)
      (1L, s"train doc leaking $shared verbatim"), // contaminated
      (2L, "train doc with alpha beta gamma only — a 3-gram is fine"),
      (3L, s"another leak $shared and $shared again")) // dedup'd per doc
      .toDF("doc_id", "text")
    val got = Decontam.flagOverlap(corpus, "doc_id", "text",
      id => id % 20 === 7, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(!got.contains(7L), "eval docs are excluded from the output")
    assert(got(1L)._2 && got(1L)._1 >= 1L)
    assert(got(2L) == (0L -> false))
    assert(got(3L)._2)
  }

  test("fuzzy decontamination: jaccard vs eval docs, best match, ties") {
    import spark.implicits._
    import graft.text.Decontam
    val corpus = Seq(
      (7L, "a b c d e f"), // eval (id % 20 == 7)
      (27L, "a b c d e g"), // eval — same first 3 shingles as 7
      (1L, "a b c d e f"), // identical to 7 → j = 1.0, eval 7
      // shingles {a b c, b c d, c d e, d e z}: inter with 7 = 3,
      // union = 5 → j = 0.6
      (2L, "a b c d e z"),
      (3L, "x y z w v u"), // no overlap
      (4L, "a b c q r s")) // 1 shared shingle of 4+4 → j = 1/7 < θ
      .toDF("doc_id", "text")
    val got = Decontam.flagNearOverlap(corpus, "doc_id", "text",
      id => id % 20 === 7, n = 3, theta = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getBoolean(3))).toMap
    assert(!got.contains(7L) && !got.contains(27L))
    assert(got(1L) == ((1.0, Some(7L), true)))
    assert(got(2L)._1 == 0.6 && got(2L)._3)
    // doc 2 matches eval 7 (j .6) and eval 27 ({a b c, b c d, c d e}
    // shared = 3, union 5 → also .6): tie breaks to the SMALLER id
    assert(got(2L)._2 == Some(7L))
    assert(got(3L) == ((0.0, None, false)))
    assert(got(4L) == ((0.0, None, false)))
  }

  test("temperature mixture: τ=1 proportional, τ=2 flattens toward uniform") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = Seq(("big", 900L), ("big", 700L), ("small", 100L))
      .toDF("source", "n") // big: 1600 tokens, small: 100
    def mix(tau: Double) = Sampling
      .temperatureMixture(d, "source", col("n"), tau)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val t1 = mix(1.0)
    assert(t1("big") == ((1600L, math.floor(1600.0 / 1700 * 1e6 + 0.5) / 1e6, 1.0)))
    assert(t1("small") == ((100L, math.floor(100.0 / 1700 * 1e6 + 0.5) / 1e6, 1.0)))
    val t2 = mix(2.0)
    val (wb, ws) = (math.sqrt(1600.0), math.sqrt(100.0)) // 40, 10
    assert(t2("big")._2 == 0.8 && t2("small")._2 == 0.2)
    // small domain upsampled: 0.2 of the mix from 100/1700 of the data
    assert(t2("small")._3 == math.floor(0.2 * 1700 / 100 * 1e6 + 0.5) / 1e6)
    assert(t2("big")._3 < 1.0 && t2("small")._3 > 3.0)
    assert(wb / (wb + ws) == 0.8) // sanity on the hand math
  }

  test("epoch-cap waterfilling: hand-computed cascade, budget conservation, cap ordering") {
    import spark.implicits._
    import graft.operators.Sampling
    // n = (100, 400, 10000), τ=2 → w = (10, 20, 100)·1e6; budget =
    // 2·10500 = 21000; caps at E_max=3 → (300, 1200, 30000).
    // Saturation order: small sources first; the water level rises
    // as each caps (λ: 1.615e-4 → 1.725e-4 → 1.95e-4), capping both
    // small sources while the big one stays uncapped at 1.95 epochs.
    val d = Seq(("s100", 100L), ("s400", 400L), ("s10k", 10000L))
      .toDF("source", "n")
    val got = Sampling
      .epochCapMixture(d, "source", col("n"), tau = 2.0,
        budgetMultiple = 2.0, maxEpochs = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    assert(got("s100") == ((100L, true, 300L, 3.0, 0.014286)))
    assert(got("s400") == ((400L, true, 1200L, 3.0, 0.057143)))
    assert(got("s10k") == ((10000L, false, 19500L, 1.95, 0.928571)))
    // allocations exhaust the budget exactly when someone is uncapped
    assert(got.values.map(_._3).sum == 21000L)

    // budget below every cap: nothing capped, pure temperature mix
    val loose = Sampling
      .epochCapMixture(d, "source", col("n"), tau = 2.0,
        budgetMultiple = 0.5, maxEpochs = 10.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(loose.values.forall(_ == false))

    // budget beyond ALL caps: everything capped at E_max epochs
    val flood = Sampling
      .epochCapMixture(d, "source", col("n"), tau = 2.0,
        budgetMultiple = 20.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(2), r.getDouble(4)))).toMap
    assert(flood.values.forall { case (capped, e) => capped && e == 2.0 })
  }

  test("token chunking: stride windows, overlap, tail clamp, provenance") {
    import spark.implicits._
    import graft.operators.Chunking
    val text = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val corpus = Seq((1L, text), (2L, "only three tokens"), (3L, " "))
      .toDF("doc_id", "text")
    val got = Chunking.chunkByTokens(corpus, "doc_id", "text",
      width = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // doc 1: starts 0,3,6,9 → windows of 4 with 1-token overlap,
    // tail clamps to 1 token
    assert(got((1L, 0L)) == (0L, 4L, "w1 w2 w3 w4"))
    assert(got((1L, 1L)) == (3L, 4L, "w4 w5 w6 w7"))
    assert(got((1L, 2L)) == (6L, 4L, "w7 w8 w9 w10"))
    assert(got((1L, 3L)) == (9L, 1L, "w10"))
    // doc 2: a single clamped chunk; doc 3: no tokens → no rows
    assert(got((2L, 0L)) == (0L, 3L, "only three tokens"))
    assert(got.keys.map(_._1).toSet == Set(1L, 2L))
  }

  test("quality classifier: feature hashing + pooling reproducible by hand") {
    import spark.implicits._
    import graft.text.QualityClassifier
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) - 2147483648L
    }
    val corpus = Seq((1L, "Alpha beta"), (2L, "alpha BETA"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = QualityClassifier.classify(corpus, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .toMap
    // "alpha beta" → features [alpha, beta, "alpha beta"], n = 2·2-1
    val expected = h32("alpha") + h32("beta") + h32("alpha beta")
    assert(got(1L)._1 == 3L && got(1L)._2 == expected)
    // case-insensitive: doc 2 is byte-identical after lowering
    assert(got(2L) == got(1L))
    // single token → unigram only, sigmoid stays within (0, 1)
    assert(got(3L)._1 == 1L && got(3L)._2 == h32("solo"))
    assert(got(3L)._3 > 0.0 && got(3L)._3 < 1.0)
    val lbl = if (got(3L)._3 >= 0.5) "__label__keep" else "__label__drop"
    assert(got(3L)._4 == lbl)
  }

  test("trained quality classifier: artifact pools by hand and discriminates the planted degradation") {
    import spark.implicits._
    import graft.text.QualityClassifier
    import graft.text.QualityClassifier.{Degradation, TrainedModel}
    // artifact == live scorer: recompute one doc's pooled sum by hand
    // from the loaded artifact + the md5 % 1024 bucket rule
    val (bias, w) = TrainedModel.loadArtifact()
    def bucket(s: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % TrainedModel.NBuckets).toInt
    }
    val tiny = Seq((1L, "Alpha beta")).toDF("doc_id", "text")
    val row = QualityClassifier.classifyTrained(tiny, "doc_id", "text")
      .collect().head
    val expected = w(bucket("alpha")) + w(bucket("beta")) + w(bucket("alpha beta"))
    assert(row.getLong(1) == 3L && row.getLong(2) == expected)
    val z = (bias.toDouble + expected.toDouble / 3.0) / 1e6
    assert(math.abs(row.getDouble(3) - 1.0 / (1.0 + math.exp(-z))) < 1e-5)

    // discrimination on the planted corpus (the training objective):
    // accuracy ≥ 0.95 against the fixture labels, both classes present
    val planted = docs.select(col("doc_id"),
      Degradation.plant(col("doc_id"), col("text")).as("text"),
      Degradation.label(col("doc_id")).as("y"))
    val scored = QualityClassifier.classifyTrained(planted, "doc_id", "text")
      .join(planted.select("doc_id", "y"), "doc_id")
      .select(col("y"),
        (col("label") === "__label__keep").cast("int").as("pred"))
      .collect()
    val acc = scored.count(r => r.getInt(0) == r.getInt(1)).toDouble / scored.length
    assert(acc >= 0.95, s"planted-degradation accuracy $acc")
    assert(scored.map(_.getInt(1)).distinct.length == 2, "degenerate predictions")

    // the model's two faces agree document-for-document: the one-pass
    // admission predicate keeps exactly the classifier's keep set
    // (same rounding, same threshold — boundary docs cannot diverge)
    val admitIds = QualityClassifier.admit(planted, "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keepIds = QualityClassifier.classifyTrained(planted, "doc_id", "text")
      .filter(col("label") === "__label__keep")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitIds == keepIds)
  }

  test("bigram LM perplexity: add-one math exact, OOV text scores higher") {
    import spark.implicits._
    import graft.text.LangModel
    // train slice (id % 2 == 0): c(a b)=5, c(b a)=3, hist(a)=5,
    // hist(b)=3, V=2
    val corpus = Seq(
      (0L, "a b a b a b"),
      (2L, "a b a b"),
      (1L, "a b a b"), // all transitions seen in training
      (3L, "x y x y")) // fully out-of-vocabulary
      .toDF("doc_id", "text")
    val got = LangModel.perplexity(corpus, "doc_id", "text",
      id => id % 2 === 0, threshold = 1.5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getBoolean(4)))
      .toMap
    // doc 1: nll = (2·ln(7/6) + ln(5/4)) / 3 → ppl ≈ 1.193800
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - 1.193800) < 1e-4, s"ppl=${got(1L)._2}")
    assert(got(1L)._3, "seen-text doc passes the keep gate")
    // doc 3: every transition is unseen → nll = ln(0 + V) = ln 2 → ppl = 2
    assert(math.abs(got(3L)._2 - 2.0) < 1e-5, s"ppl=${got(3L)._2}")
    assert(!got(3L)._3, "OOV doc fails the keep gate")
    assert(got(3L)._2 > got(1L)._2)
  }

  test("weighted sample prefers heavy rows and replays bit-identically") {
    import org.apache.spark.sql.functions._
    val sq = spark
    import sq.implicits._
    // one stratum, 400 rows: ids 0..199 weight 10, ids 200..399 weight 0.1
    val rows = (0 until 400).map(i =>
      (i.toLong, "s", if (i < 200) 10.0 else 0.1)).toDF("doc_id", "st", "w")
    val picked = graft.operators.Sampling
      .weightedStratifiedSample(rows, "doc_id", "st", "w", n = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val heavy = picked.count(_ < 200)
    // E-S: P(heavy beats light) per pair ≈ w_h/(w_h+w_l) ≈ 0.99 — the
    // 50 winners should be overwhelmingly heavy
    assert(heavy >= 45, s"only $heavy/50 picks were heavy-weight")

    // determinism: same input partitioned differently → same picks
    val picked2 = graft.operators.Sampling
      .weightedStratifiedSample(rows.repartition(13), "doc_id", "st", "w", n = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked == picked2, "weighted sample is partitioning-dependent")
  }

  test("snapshot diff classifies planted add/remove/change/unchange") {
    import org.apache.spark.sql.functions._
    val sq = spark
    import sq.implicits._
    val oldSnap = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (2L, "beta"),          // unchanged
      (3L, "gamma v2"),      // changed
      (4L, "delta"),         // unchanged
      (9L, "epsilon"))       // added; 1 removed
      .toDF("doc_id", "text")
    val got = graft.operators.SnapshotDiff
      .diff(oldSnap, newSnap, "doc_id", "text")
      .select("id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "unchanged", 9L -> "added"))
  }

  test("incremental cluster merge equals from-scratch CC on the union") {
    import spark.implicits._
    // existing: {1,2,3} labeled 1, {5,6} labeled 5, singleton {8}
    val existing = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (5L, 5L, 2L), (6L, 5L, 2L), (8L, 8L, 1L)).toDF(
      "doc_id", "cluster_id", "cluster_size")
    // batch: 10 bridges clusters 1 and 5; 11-12 form a new pair;
    // 13 is an edge-less singleton
    val batchNodes = Seq(10L, 11L, 12L, 13L).toDF("id")
    val batchEdges = Seq((3L, 10L), (10L, 6L), (11L, 12L)).toDF("a", "b")
    val got = graft.dedup.ClusterMaintain
      .mergeBatch(existing, batchNodes, batchEdges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (1L, 6L), 2L -> (1L, 6L), 3L -> (1L, 6L),
      5L -> (1L, 6L), 6L -> (1L, 6L), 10L -> (1L, 6L),
      11L -> (11L, 2L), 12L -> (11L, 2L),
      8L -> (8L, 1L),   // untouched singleton passes through
      13L -> (13L, 1L)) // edge-less batch doc becomes a singleton
    )
    // invariant for the NEXT batch: cluster_id is the component min
    got.foreach { case (_, (cid, _)) => assert(got(cid)._1 == cid) }
  }

  test("incremental merge on the documents slice equals from-scratch") {
    // the gate construction at spec scale: history = doc_id%10 != 0,
    // batch = the rest; merged labeling must be row-identical to
    // simhashClusters over the full corpus
    val existing = Clusters.simhashClusters(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3)
    val batchEdges = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .filter(col("ida") % 10 === 0 || col("idb") % 10 === 0)
      .select(col("ida").as("a"), col("idb").as("b"))
    val got = graft.dedup.ClusterMaintain.mergeBatch(
        existing,
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("id")),
        batchEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Clusters.simhashClusters(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == scratch)
  }

  test("cross-corpus near-dedup flags batch docs near any ref doc") {
    import spark.implicits._
    // ref: one doc; batch: an exact copy (hamming 0), a near copy
    // (a few words changed -> small hamming), an unrelated doc
    val refText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val ref = Seq((100L, refText), (101L, "completely different words " +
      "about cooking pasta with tomato sauce and fresh basil leaves"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, refText), // exact dup of 100
      (3L, "unrelated text regarding quantum chromodynamics lattice " +
        "simulations on exascale supercomputers with novel algorithms"))
      .toDF("doc_id", "text")
    val got = Dedup.crossNearDedup(batch, ref, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(2)), Option(r.get(3)), r.getBoolean(4))).toMap
    assert(got(1L) == (Some(100L), Some(0), false))
    assert(got(3L)._3) // novel doc kept, no near ref
    assert(got(3L)._1.isEmpty)
  }

  test("cross-corpus near-dedup agrees with all-pairs on the corpus slice") {
    // banded probe vs brute-force nearest (min hamming, min id) —
    // the oracle construction at spec scale
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val ref = docs.filter(col("doc_id") % 10 =!= 0)
    val got = Dedup.crossNearDedup(batch, ref, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), Option(r.get(2)), Option(r.get(3)),
        r.getBoolean(4))).toSet
    val bFp = Dedup.withSimhash(batch, "doc_id", "text")
    val rFp = Dedup.withSimhash(ref, "doc_id", "text")
    val brute = bFp.crossJoin(
        rFp.select(col("doc_id").as("rid"), col("simhash").as("rfp")))
      .withColumn("ham",
        bit_count(col("simhash").bitwiseXOR(col("rfp"))).cast("integer"))
      .filter(col("ham") <= 3)
      .groupBy("doc_id")
      .agg(min(struct(col("ham"), col("rid"))).as("best"))
    val want = bFp.join(brute, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best.rid"), col("best.ham"),
        col("best").isNull)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        r.getBoolean(3))).toSet
    assert(got == want)
  }

  test("cross-corpus near-PAIRS ∪ batch pairs = full-corpus pairs touching batch") {
    // the production edge construction for mergeBatch must produce
    // exactly the edge set the old full-pair filter produced
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val got = Dedup.crossNearPairs(batch, hist, "doc_id", "text", 3)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).toSet ++
      Dedup.simhashPairs(batch, "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .filter(col("ida") % 10 === 0 || col("idb") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("incremental decontam: delta path fires, identity with from-scratch, history grams untouched") {
    import graft.text.Decontam
    val d = Tables.load(spark, TestSpark.Sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val isEval = col("doc_id") % 20 === 7
    val evalOld = d.filter(isEval && col("doc_id") % 40 === 7)
    val evalNew = d.filter(isEval && col("doc_id") % 40 =!= 7)
    val trainOld = d.filter(!isEval && col("doc_id") % 10 =!= 0)
    val trainNew = d.filter(!isEval && col("doc_id") % 10 === 0)
    val n = 3 // dense grams so cross-doc sharing is guaranteed
    val storedGrams = Decontam.gramIndex(evalOld, "doc_id", "text", n)
      .localCheckpoint()
    val stored = Decontam.probeCounts(trainOld, storedGrams,
      "doc_id", "text", n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Decontam.flagOverlapIncremental(storedGrams,
      Decontam.probeCounts(trainOld, storedGrams, "doc_id", "text", n),
      trainOld, evalNew, trainNew, "doc_id", "text", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identity with from-scratch over the union
    val want = Decontam.flagOverlap(d, "doc_id", "text",
      id => id % 20 === 7, n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // non-vacuous: some HISTORY doc's count strictly grew from the
    // new eval half (the disjoint-gram additive path), and the new
    // half genuinely contributed grams the stored index lacked
    assert(stored.exists { case (id, c) => got(id) > c },
      "delta path never fired — fixture degenerate")
    val newGrams = Decontam.gramIndex(evalNew, "doc_id", "text", n)
      .join(storedGrams, Seq("ng"), "left_anti").count()
    assert(newGrams > 0)
  }

  test("pack segments: offsets concatenate exactly, packs respect the greedy contract") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = (0L until 200L).map(id => (id, s"g${id % 3}",
      1L + rnd.nextInt(900))).toDF("doc_id", "g", "n_tok")
    val out = graft.operators.Sampling
      .packSegments(df, "doc_id", "g", "n_tok", budget = 1024L)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("pack_id"),
        r.getAs[Int]("seg_idx"), r.getAs[Long]("seg_start"),
        r.getAs[Long]("n_tok")))
    assert(out.length == 200)
    out.groupBy(t => (t._1, t._2)).foreach { case ((g, p), rows) =>
      val sorted = rows.sortBy(_._3)
      // contiguous segment indices from 0; offsets concatenate exactly
      assert(sorted.map(_._3).toSeq == sorted.indices.toSeq, s"($g,$p)")
      sorted.foldLeft(0L) { case (want, (_, _, _, start, len)) =>
        assert(start == want, s"($g,$p): seg_start $start != $want")
        want + len
      }
      // greedy contract: every segment STARTS inside the budget
      // (only the final straddler may END past it)
      assert(sorted.forall(_._4 < 1024L),
        s"($g,$p): a segment starts past the budget")
    }
    // pack ids agree with packByTokens row-for-row
    val base = graft.operators.Sampling
      .packByTokens(df, "doc_id", "g", "n_tok", budget = 1024L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id"))
      .toMap
    val seg = graft.operators.Sampling
      .packSegments(df, "doc_id", "g", "n_tok", budget = 1024L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id"))
      .toMap
    assert(seg == base)
  }

  test("fixed-capacity packing: BFD beats next-fit on a planted mixed-length corpus") {
    import spark.implicits._
    // deliberately adversarial for next-fit: alternating large (700)
    // and small (200) docs in hash order force next-fit to close many
    // half-empty bins, while BFD pairs 700+200+... near-perfectly
    val rnd = new scala.util.Random(23)
    val df = (0L until 300L).map(id => (id, s"g${id % 2}",
      if (rnd.nextBoolean()) 700L else 100L + rnd.nextInt(300)))
      .toDF("doc_id", "g", "n_tok")
    val budget = 1024L
    def summarize(assigned: org.apache.spark.sql.DataFrame) = {
      val rows = assigned.collect().map(r => (r.getAs[String]("g"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("pack_id")))
      // validity: every doc assigned once, no pack over budget
      assert(rows.length == 300)
      rows.groupBy(t => (t._1, t._4)).foreach { case ((g, p), members) =>
        assert(members.map(_._3).sum <= budget, s"pack ($g,$p) over budget")
      }
      // pack ids are contiguous from 0 per stratum (opening order)
      rows.groupBy(_._1).foreach { case (g, members) =>
        val ids = members.map(_._4).distinct.sorted
        assert(ids.toSeq == (0L until ids.length).toSeq, s"stratum $g")
      }
      rows.groupBy(t => (t._1, t._4)).size
    }
    val nfPacks = summarize(
      Sampling.packNextFit(df, "doc_id", "g", "n_tok", budget))
    val bfdPacks = summarize(
      Sampling.packBestFit(df, "doc_id", "g", "n_tok", budget))
    // same total tokens, fewer bins == strictly less padding
    assert(bfdPacks < nfPacks,
      s"BFD used $bfdPacks packs, next-fit $nfPacks — expected strictly fewer")
    // determinism: a repartitioned input replays the identical fill
    val a = Sampling.packBestFit(df.repartition(13), "doc_id", "g",
      "n_tok", budget).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    val b = Sampling.packBestFit(df.repartition(3), "doc_id", "g",
      "n_tok", budget).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(a == b)
    // oversize doc fails NAMED, not silently mis-packed
    val bad = Seq((1L, "g0", 2000L)).toDF("doc_id", "g", "n_tok")
    val e = intercept[org.apache.spark.SparkException] {
      Sampling.packBestFit(bad, "doc_id", "g", "n_tok", budget).collect()
    }
    assert(e.getMessage.contains("packFold") ||
      Option(e.getCause).exists(_.getMessage.contains("packFold")))
  }

  test("quantile profile: exact discrete ranks and sketch in band") {
    import spark.implicits._
    // group a: 1..100 -> p50=50, p90=90, p99=99; group b: tiny
    val df = ((1 to 100).map(v => ("a", v.toLong)) ++
      Seq(("b", 7L), ("b", 9L), ("b", 11L))).toDF("g", "v")
    val got = graft.operators.Profiling.quantileProfile(df, "g", "v")
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Long]("p50"), r.getAs[Long]("p90"),
          r.getAs[Long]("p99"), r.getAs[Long]("p50_lo"),
          r.getAs[Long]("p50_hi"), r.getAs[Boolean]("sk50_ok"),
          r.getAs[Boolean]("sk90_ok"), r.getAs[Boolean]("sk99_ok"))).toMap
    // a: slack = (100+99)//100 + 1 = 2 -> band ranks 48 / 52
    assert(got("a") == ((100L, 50L, 90L, 99L, 48L, 52L, true, true, true)))
    // b: n=3 -> ranks ceil(1.5)=2, ceil(2.7)=3, ceil(2.97)=3; band
    // ranks clamp to 1 / 3
    assert(got("b") == ((3L, 9L, 11L, 11L, 7L, 11L, true, true, true)))
  }

  test("novelty: all-seen is 0, all-new is 1, gram-less is 1") {
    import spark.implicits._
    val ref = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "one two three four five"),        // every 3-gram seen
      (2L, "six seven eight nine ten eleven"), // every 3-gram new
      (3L, "short text")).toDF("doc_id", "text") // no 3-gram at all
    val got = graft.text.Decontam.noveltyScore(batch, ref, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 3L, 0.0)))
    assert(got(2L) == ((4L, 0L, 1.0)))
    assert(got(3L) == ((0L, 0L, 1.0)))
  }

  test("shard assignment: two-phase prefix sum matches the global cumsum for any bucket width") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 257L).map(i => (i, 1L + rnd.nextInt(50).toLong))
    // deliberately mis-partitioned input: the result must not depend
    // on physical layout, only on the id order
    val df = rows.toDF("doc_id", "n_tokens").repartition(13)
    var cum = 0L
    val want = rows.map { case (id, t) => cum += t; id -> (cum - t) / 100L }.toMap
    for (w <- Seq(1L, 7L, 32L, 1000L)) {
      val got = Sampling.shardByTokens(df, "doc_id", "n_tokens",
          budget = 100L, bucketWidth = w)
        .select("doc_id", "shard_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"bucketWidth=$w")
    }
  }

  test("epoch shuffle: two-phase rank matches the global window for any bucket count; seeds permute") {
    import spark.implicits._
    val rows = (0L until 257L).map(i => (i, 1L))
    val df = rows.toDF("doc_id", "n").repartition(13) // layout-independent
    def md5key(seed: Long, id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = rows.map(_._1).sortBy(id => (md5key(7L, id), id))
      .zipWithIndex.map { case (id, p) => id -> p.toLong }.toMap
    for (b <- Seq(1, 7, 4096)) {
      val got = Sampling.epochShuffle(df, "doc_id", seed = 7L, buckets = b)
        .select("doc_id", "pos")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"buckets=$b")
    }
    // a different seed is a genuinely different permutation; every pos
    // is hit exactly once by both
    val other = Sampling.epochShuffle(df, "doc_id", seed = 8L)
      .select("doc_id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other.values.toSeq.sorted == (0L until 257L))
    assert(rows.count { case (id, _) => want(id) != other(id) } > 200,
      "seed change barely moved the permutation")
    // invalid ids fail named from inside the plan
    val e = intercept[Exception] {
      Seq((-1L, 1L)).toDF("doc_id", "n").transform(d =>
        Sampling.epochShuffle(d, "doc_id", 7L)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("epochShuffle"))
  }

  test("shard append: manifest-fed batch assignment equals from-scratch union; non-tail ids fail named") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (0L until 300L).map(i => (i, 1L + rnd.nextInt(50).toLong))
    val hist = rows.take(230).toDF("doc_id", "n_tokens")
    val batch = rows.drop(230).toDF("doc_id", "n_tokens").repartition(7)
    val manifest = Sampling.shardManifest(
      Sampling.shardByTokens(hist, "doc_id", "n_tokens", 100L, 32L),
      "doc_id", "n_tokens")
    val got = Sampling.shardAppend(batch, "doc_id", "n_tokens",
        budget = 100L, bucketWidth = 32L, manifest)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Sampling.shardByTokens(
        rows.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 100L, 32L)
      .filter(col("doc_id") >= 230L)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // published shards stay immutable: the batch never lands below the
    // manifest's last shard
    val lastPub = manifest.agg(max("shard_id")).collect().head.getLong(0)
    assert(got.values.min >= lastPub)
    // a backfill id inside the published range must fail named, not
    // silently shift every later shard
    val e = intercept[Exception] {
      Sampling.shardAppend(Seq((5L, 3L)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 100L, 32L, manifest).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("shardAppend"))
    // empty manifest degenerates to plain shardByTokens
    val empty = manifest.filter(lit(false))
    val fresh = Sampling.shardAppend(batch, "doc_id", "n_tokens",
        100L, 32L, empty)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val freshWant = Sampling.shardByTokens(batch, "doc_id", "n_tokens",
        100L, 32L)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fresh == freshWant)
  }

  test("durable shard append touches only the batch's shard directories") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0L until 300L).map(i => (i, 1L + rnd.nextInt(50).toLong))
    val hist = rows.take(230).toDF("doc_id", "n_tokens")
    val batch = rows.drop(230).toDF("doc_id", "n_tokens")
    val tmp = java.nio.file.Files.createTempDirectory("shard_append_spec")
      .toString
    val histAssigned = Sampling.shardByTokens(hist, "doc_id", "n_tokens",
      100L, 32L)
    Sampling.writeShards(histAssigned, "doc_id", "n_tokens", tmp)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(tmp))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath.stripPrefix(tmp) ->
          ((f.length(), f.lastModified()))).toMap
    }
    val before = files()
    val manifest = Sampling.shardManifest(histAssigned, "doc_id", "n_tokens")
    val appended = Sampling.shardAppend(batch, "doc_id", "n_tokens",
      100L, 32L, manifest)
    val straddler = appended.agg(min("shard_id")).head().getLong(0)
    Sampling.appendShardFiles(appended, "doc_id", "n_tokens", tmp)
    val after = files()
    def shardOf(path: String): Long =
      "shard_id=(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
    // every published file below the straddler is byte-untouched
    val untouched = before.filter { case (p, _) => shardOf(p) < straddler }
    assert(untouched.nonEmpty, "degenerate fixture: no untouched shards")
    untouched.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"published file rewritten: $p")
    }
    // the straddler and the new shards changed
    assert(after.keys.exists(p => shardOf(p) >= straddler))
    // the union layout on disk is exactly the from-scratch assignment
    val got = spark.read.parquet(tmp)
      .select(col("doc_id"), col("n_tokens"), col("shard_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Sampling.shardByTokens(rows.toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 100L, 32L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("shard manifest: budget plus one straddler, shards tile the id order") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0L until 400L).map(i => (i, 1L + rnd.nextInt(64).toLong))
    val df = rows.toDF("doc_id", "n_tokens")
    val assigned = Sampling.shardByTokens(df, "doc_id", "n_tokens",
      budget = 256L, bucketWidth = 32L)
    val man = Sampling.shardManifest(assigned, "doc_id", "n_tokens")
      .orderBy("shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val maxTok = rows.map(_._2).max
    man.foreach { case (sid, nDocs, nTok, _, _) =>
      assert(nDocs > 0, s"shard $sid empty")
      assert(nTok < 256L + maxTok, s"shard $sid over budget+straddler: $nTok")
    }
    // consecutive shards cover consecutive id ranges (dense ids here)
    man.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(b._1 == a._1 + 1 && b._4 == a._5 + 1,
        s"gap between shard ${a._1} and ${b._1}")
    }
    assert(man.map(_._2).sum == 400L)
    assert(man.map(_._3).sum == rows.map(_._2).sum)
  }

  test("quantile trim: exact p5/p95 window per group, outliers flagged") {
    import spark.implicits._
    val df = ((1 to 100).map(v => (v.toLong, "a", v.toLong)) :+
      ((200L, "b", 5L))).toDF("doc_id", "g", "v")
    val got = graft.operators.Profiling.trimOutliers(df, "g", "v")
      .select("doc_id", "v", "lo", "hi", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // group a: n=100 -> lo at rank 5 = 5, hi at rank 95 = 95
    assert(got(1L) == ((1L, 5L, 95L, false)))
    assert(got(5L) == ((5L, 5L, 95L, true)))
    assert(got(95L) == ((95L, 5L, 95L, true)))
    assert(got(96L) == ((96L, 5L, 95L, false)))
    assert(got.count { case (id, (_, _, _, keep)) => id <= 100 && keep } == 91)
    // singleton group: both ranks resolve to 1 -> keep
    assert(got(200L) == ((5L, 5L, 5L, true)))
  }

  test("quantile trim: sketch-bounds path shares the trim stage with the exact path") {
    import spark.implicits._
    val df = ((1 to 100).map(v => (v.toLong, "a", v.toLong)) :+
      ((200L, "b", 5L))).toDF("doc_id", "g", "v")
    // at accuracy 10000 the GK sketch is exact on 100 values, so the
    // sketch-fed trim must agree with the exact ranked-window trim
    // row-for-row — proving trimOutliersWith IS the shared stage
    val exact = graft.operators.Profiling.trimOutliers(df, "g", "v")
      .select("doc_id", "lo", "hi", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val sketch = graft.operators.Profiling.trimOutliersWith(df, "g", "v",
        graft.operators.Profiling.approxQuantileBounds(df, "g", "v",
          accuracy = 10000))
      .select("doc_id", "lo", "hi", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(sketch == exact)
  }

  test("curriculum staging: quartile cuts, ties to the lower stage, per-group scope") {
    import spark.implicits._
    // group a: values 1..8 -> cuts at ranks 2/4/6 = values 2/4/6;
    // group b: constant value -> everything stage 1 (ties at cut)
    val df = ((1 to 8).map(v => (v.toLong, "a", v.toLong)) ++
      (101 to 104).map(i => (i.toLong, "b", 7L))).toDF("doc_id", "g", "v")
    val got = Sampling.curriculumStage(df, "doc_id", "g", "v", k = 4)
      .select("doc_id", "stage")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 1 && got(2L) == 1) // tie at cut c1=2 -> lower stage
    assert(got(3L) == 2 && got(4L) == 2)
    assert(got(5L) == 3 && got(6L) == 3)
    assert(got(7L) == 4 && got(8L) == 4)
    // constant group: every value equals every cut -> all stage 1
    assert((101L to 104L).forall(got(_) == 1))
  }

  test("curriculum staging: sketch-cuts path shares the assignment stage with the exact path") {
    import spark.implicits._
    val df = ((1 to 100).map(v => (v.toLong, "a", v.toLong)) ++
      (101 to 104).map(i => (i.toLong, "b", 7L))).toDF("doc_id", "g", "v")
    def stages(got: org.apache.spark.sql.DataFrame) =
      got.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = stages(Sampling.curriculumStage(df, "doc_id", "g", "v", k = 4))
    // at accuracy 10000 the GK sketch is exact on 100 values, so the
    // sketch-fed assignment must agree with the exact integer-rank
    // path row-for-row — proving curriculumStageWith IS the shared
    // stage (the trimOutliersWith precedent)
    val cutsHi = graft.operators.Profiling.approxQuantileCuts(
      df, "g", "v", Seq(0.25, 0.50, 0.75), accuracy = 10000)
    assert(stages(Sampling.curriculumStageWith(
      df, "doc_id", "g", "v", cutsHi)) == exact)
    // at accuracy 100 the per-point rank error is ≤ n/accuracy = 1
    // rank, so every sketch-fed stage sits within one stage of the
    // exact one — the documented rank band
    val cutsLo = graft.operators.Profiling.approxQuantileCuts(
      df, "g", "v", Seq(0.25, 0.50, 0.75), accuracy = 100)
    val approx = stages(Sampling.curriculumStageWith(
      df, "doc_id", "g", "v", cutsLo))
    assert(exact.forall { case (id, st) => (approx(id) - st).abs <= 1 },
      "sketch-fed stage drifted beyond the 1-rank GK band")
  }

  test("shard assignment: null and negative ids fail with a named error") {
    import spark.implicits._
    val neg = Seq((1L, 5L), (-2L, 3L)).toDF("doc_id", "n_tokens")
    val e1 = intercept[Exception] {
      Sampling.shardByTokens(neg, "doc_id", "n_tokens", 100L, 32L).collect()
    }
    assert(String.valueOf(e1.getMessage).contains("shardByTokens") ||
      String.valueOf(e1.getCause).contains("shardByTokens"))
    val nullTok = Seq((1L, Some(5L)), (2L, Option.empty[Long]))
      .toDF("doc_id", "n_tokens")
    val e2 = intercept[Exception] {
      Sampling.shardByTokens(nullTok, "doc_id", "n_tokens", 100L, 32L).collect()
    }
    assert(String.valueOf(e2.getMessage).contains("shardByTokens") ||
      String.valueOf(e2.getCause).contains("shardByTokens"))
  }
}
