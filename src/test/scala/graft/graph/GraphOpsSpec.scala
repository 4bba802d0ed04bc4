package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Web-graph operator semantics against plain-Scala reference
  * implementations on hand-checkable graphs, plus the two properties
  * that make the ops production-grade: bit-identical results under any
  * partitioning (integer PageRank) and cache self-release. */
class GraphOpsSpec extends AnyFunSuite with SparkSuite {
  private def edgeDf(edges: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "target")
  }

  /** Plain-Scala replay of GraphOps.pagerank's exact integer semantics:
    * per-EDGE contribution (mass*85/100)/outdeg (parallel edges count
    * twice), dangling mass pooled then floor-shared to every node, base
    * = init*15/100. */
  private def refPagerank(edges: Seq[(String, String)], iters: Int,
                          init: Long = GraphOps.DefaultInitMass): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val base = init * 15L / 100L
    var mass = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val outM = mass.view.mapValues(m => m * 85L / 100L).toMap
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => outM(u) / od(u) }.sum).toMap
      val ds = nodes.iterator.filter(u => !od.contains(u)).map(outM).sum
      mass = nodes.map(u => u -> (base + in.getOrElse(u, 0L) + ds / n)).toMap
    }
    mass
  }

  // a graph with everything the semantics must cover: a parallel edge
  // (a->b twice), a dangling node (d has no outlinks), a cycle (a<->c),
  // and an in-degree-0 node (a)
  private val g = Seq(
    ("a", "b"), ("a", "b"), ("a", "c"), ("c", "a"), ("b", "d"))

  test("pagerank matches the plain-Scala integer reference on a crafted graph") {
    val got = GraphOps.pagerank(spark, edgeDf(g), iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refPagerank(g, iters = 2))
  }

  test("pagerank is bit-identical under different partitioning") {
    val a = GraphOps.pagerank(spark, edgeDf(g).repartition(7), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = GraphOps.pagerank(spark, edgeDf(g).repartition(1), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a == refPagerank(g, iters = 3))
  }

  test("pagerank conserves mass up to floor remainders and favours the cycle") {
    val got = GraphOps.pagerank(spark, edgeDf(g), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = got.values.sum
    val n = got.size
    // every node loses at most a few units per iteration to flooring
    assert(total <= n * GraphOps.DefaultInitMass)
    assert(total > n * GraphOps.DefaultInitMass - 1000L * n)
    // b receives 2/3 of a's outflow (parallel edge), c only 1/3; both
    // get the same base + dangling share, so b outranks c every iteration
    assert(got("b") > got("c"))
  }

  test("pagerank releases every persisted intermediate after the consuming action") {
    spark.catalog.clearCache()
    def drained(): Boolean =
      spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty
    assert(GraphOps.pagerank(spark, edgeDf(g), iterations = 2).count() > 0)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained() && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(drained(), "pagerank must self-release its persisted iteration tables")
  }

  /** Plain-Scala replay of GraphOps.trustRank: mass starts on seeds,
    * teleport base and floor-shared dangling mass land only on seeds. */
  private def refTrustRank(edges: Seq[(String, String)], seeds: Set[String],
                           iters: Int,
                           init: Long = GraphOps.DefaultInitMass): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val live = seeds.filter(nodes.contains)
    val nSeeds = live.size.toLong
    val base = init * 15L / 100L
    var mass = nodes.map(u => u -> (if (live(u)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val outM = mass.view.mapValues(m => m * 85L / 100L).toMap
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => outM(u) / od(u) }.sum).toMap
      val ds = nodes.iterator.filter(u => !od.contains(u)).map(outM).sum
      mass = nodes.map(u => u -> (in.getOrElse(u, 0L) +
        (if (live(u)) base + ds / nSeeds else 0L))).toMap
    }
    mass
  }

  // trusted cycle a->b->c->a, a spam island x<->y unreachable from the
  // seed, a dangling node d fed from the trusted side
  private val tg = Seq(
    ("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("x", "y"), ("y", "x"))

  private def seedDf(names: String*) = {
    val s = spark
    import s.implicits._
    names.toDF("node")
  }

  test("trustRank matches the plain-Scala reference; spam island scores zero") {
    val got = GraphOps.trustRank(spark, edgeDf(tg), seedDf("a"), iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refTrustRank(tg, Set("a"), iters = 2))
    assert(got("x") == 0L && got("y") == 0L,
      "nodes unreachable from the seed set must hold zero trust")
    assert(got("a") > 0L && got("b") > 0L && got("c") > 0L && got("d") > 0L,
      "trust must flow along links from the seed")
  }

  test("trustRank is bit-identical under different partitioning; absent seeds ignored") {
    // "z" appears in no edge: it contributes no teleport (nSeeds counts
    // only seeds present in the graph) and no output row
    val a = GraphOps.trustRank(spark, edgeDf(tg).repartition(7),
        seedDf("a", "z"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = GraphOps.trustRank(spark, edgeDf(tg).repartition(1),
        seedDf("a", "z"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a == refTrustRank(tg, Set("a"), iters = 3))
    assert(!a.contains("z"))
  }

  test("trustRank refuses an empty effective seed set") {
    intercept[IllegalArgumentException] {
      GraphOps.trustRank(spark, edgeDf(tg), seedDf("nope"), iterations = 1)
    }
  }

  test("trustRank releases every persisted intermediate after the consuming action") {
    spark.catalog.clearCache()
    def drained(): Boolean =
      spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty
    assert(GraphOps.trustRank(spark, edgeDf(tg), seedDf("a"),
      iterations = 2).count() > 0)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained() && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(drained(), "trustRank must self-release its persisted iteration tables")
  }

  test("hostGraph aggregates narrow host pairs with distinct counts") {
    val s = spark
    import s.implicits._
    val e = Seq(
      ("https://h1.org/p1", "https://h2.org/x"),
      ("https://h1.org/p1", "https://h2.org/y"),
      ("https://h1.org/p2", "https://h2.org/x"),
      ("https://h1.org/p1", "https://h1.org/z"))
      .toDF("src", "target")
    val got = GraphOps.hostGraph(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      ("h1.org", "h2.org") -> ((3L, 2L, 2L)),
      ("h1.org", "h1.org") -> ((1L, 1L, 1L))))
  }

  test("anchorStats picks the most common anchor, ties lexicographic") {
    val s = spark
    import s.implicits._
    val e = Seq(
      ("u1", "t", "beta"), ("u2", "t", "beta"), ("u3", "t", "alpha"),
      ("u4", "t2", "zz"), ("u5", "t2", "aa"))
      .toDF("src", "target", "anchor")
    val got = GraphOps.anchorStats(e).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // t: beta wins on count; t2: 1-1 tie -> lexicographically first (aa)
    assert(got == Map(
      "t" -> (("beta", 2L, 3L)),
      "t2" -> (("aa", 1L, 2L))))
  }

  test("hostComponents labels cross-host clusters and keeps singletons") {
    val s = spark
    import s.implicits._
    // cluster {h1,h2,h3} via h1->h2, h2->h3; h9 only self-links
    val e = Seq(
      ("https://h1.org/a", "https://h2.org/x"),
      ("https://h2.org/b", "https://h3.org/y"),
      ("https://h9.org/c", "https://h9.org/d"))
      .toDF("src", "target")
    val got = GraphOps.hostComponents(spark, e).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      "h1.org" -> (("h1.org", true)),
      "h2.org" -> (("h1.org", false)),
      "h3.org" -> (("h1.org", false)),
      "h9.org" -> (("h9.org", true))))
  }

  // two hosts; h1's two pages both link to h2, h2's page links back once
  // and also carries a dangling external target — exercises out/in/hosts
  // rollups and the per-host mass sum on a hand-checkable graph
  private val hostG = Seq(
    ("https://h1.org/a", "https://h2.org/x"),
    ("https://h1.org/b", "https://h2.org/x"),
    ("https://h2.org/x", "https://h1.org/a"),
    ("https://h2.org/x", "https://ext.org/z"))

  test("hostLinkFeatures: rollups match hand counts, mass matches the reference sum") {
    val got = GraphOps.hostLinkFeatures(spark, edgeDf(hostG), iterations = 2)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val mass = refPagerank(hostG, iters = 2)
    def hostMass(h: String) =
      mass.collect { case (n, m) if n.contains(s"//$h/") => m }.sum
    assert(got.keySet == Set("h1.org", "h2.org", "ext.org"))
    // h1.org: 2 out-links, 1 in-link from 1 host
    assert(got("h1.org") == ((2L, 1L, 1L, hostMass("h1.org"))))
    // h2.org: 2 out-links (x links twice), 2 in-links from 1 host
    assert(got("h2.org") == ((2L, 2L, 1L, hostMass("h2.org"))))
    // ext.org: pure target — no out-links, 1 in-link
    assert(got("ext.org") == ((0L, 1L, 1L, hostMass("ext.org"))))
  }

  test("hostLinkFeatures releases its persisted edge cache after the consuming action") {
    spark.catalog.clearCache()
    def drained(): Boolean =
      spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty
    assert(GraphOps.hostLinkFeatures(spark, edgeDf(hostG)).count() == 3)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained() && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(drained(), "hostLinkFeatures must self-release the edge cache")
  }

  test("linkTiers bumps ONLY tier 2 on endorsed hosts, never rejects") {
    val s = spark
    import s.implicits._
    // big.org holds 8x the mass of each small host -> >= 2x mean
    val feats = Seq(
      ("big.org", 1L, 1L, 1L, 8000L),
      ("s1.org", 1L, 1L, 1L, 1000L),
      ("s2.org", 1L, 1L, 1L, 1000L))
      .toDF("host", "out_links", "in_links", "in_hosts", "pr_mass")
    val tiers = Seq(
      ("https://big.org/mid", 2), ("https://big.org/rej", 0),
      ("https://big.org/low", 1), ("https://big.org/high", 3),
      ("https://s1.org/mid", 2), ("https://nohost.org/mid", 2))
      .toDF("url", "tier")
    val got = GraphOps.linkTiers(tiers, feats).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getBoolean(2), r.getInt(3))))
      .toMap
    assert(got == Map(
      "https://big.org/mid" -> ((2, true, 3)),   // the one bump
      "https://big.org/rej" -> ((0, true, 0)),   // endorsed, never promoted
      "https://big.org/low" -> ((1, true, 1)),
      "https://big.org/high" -> ((3, true, 3)),
      "https://s1.org/mid" -> ((2, false, 2)),   // unendorsed host
      "https://nohost.org/mid" -> ((2, false, 2)))) // host absent from graph
  }

  test("frontier excludes crawled targets, counts in-links and distinct hosts") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      ("https://a.org/p1", "https://b.org/x"),   // b.org/x: 3 links,
      ("https://a.org/p2", "https://b.org/x"),   //   2 distinct hosts
      ("https://c.org/p1", "https://b.org/x"),
      ("https://a.org/p1", "https://a.org/p2"),  // crawled -> excluded
      ("https://c.org/p1", "https://d.org/y"))
      .toDF("src", "target")
    val pages = Seq("https://a.org/p1", "https://a.org/p2",
      "https://c.org/p1").toDF("url")
    val got = GraphOps.frontier(edges, pages).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "https://b.org/x" -> ((3L, 2L)),
      "https://d.org/y" -> ((1L, 1L))))
  }

  test("hostQuality: per-host tier histogram and floor-division basis points") {
    val s = spark
    import s.implicits._
    val tiers = Seq(
      ("https://a.org/1", 0), ("https://a.org/2", 2), ("https://a.org/3", 3),
      ("https://b.org/1", 1), ("https://b.org/2", 1), ("https://b.org/3", 2))
      .toDF("url", "tier")
    val got = GraphOps.hostQuality(tiers).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      // a.org: 3 docs, mid+high = 2 -> 10000*2/3 = 6666 (floor)
      "a.org" -> ((3L, 1L, 0L, 1L, 1L, 6666L)),
      // b.org: 3 docs, mid+high = 1 -> 3333
      "b.org" -> ((3L, 0L, 2L, 1L, 0L, 3333L))))
  }

  /** Plain-Scala replay of GraphOps.hits' integer semantics: per round
    * raw auth = Σ src hubs per target (parallel edges count twice),
    * floor-renormalised by max(1, total/n/init); mirrored for hubs. */
  private def refHits(edges: Seq[(String, String)], iters: Int,
                      init: Long = GraphOps.DefaultHitsMass)
      : Map[String, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    def renorm(raw: Map[String, Long]): Map[String, Long] = {
      val div = math.max(1L, raw.valuesIterator.sum / n / init)
      raw.view.mapValues(_ / div).toMap
    }
    var hub = nodes.map(_ -> init).toMap
    var auth = Map.empty[String, Long]
    for (_ <- 1 to iters) {
      auth = renorm(edges.groupBy(_._2).view
        .mapValues(_.map(e => hub.getOrElse(e._1, 0L)).sum).toMap)
      hub = renorm(edges.groupBy(_._1).view
        .mapValues(_.map(e => auth.getOrElse(e._2, 0L)).sum).toMap)
    }
    nodes.map(u => u -> ((auth.getOrElse(u, 0L), hub.getOrElse(u, 0L)))).toMap
  }

  test("hits matches the plain-Scala integer reference; directory hubs vs content authorities") {
    // hub page h links to three content pages; the content pages link
    // each other sparsely; parallel edge h->c1 counts twice
    val dir = Seq(
      ("h", "c1"), ("h", "c1"), ("h", "c2"), ("h", "c3"),
      ("c1", "c2"), ("c2", "c1"))
    val got = GraphOps.hits(spark, edgeDf(dir), iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == refHits(dir, 2))
    // the directory page is the top hub and has zero authority
    assert(got("h")._2 == got.values.map(_._2).max && got("h")._1 == 0L)
    // c1 (2 in-edges incl. the parallel one) is the top authority
    assert(got("c1")._1 == got.values.map(_._1).max)
    // dangling-side node c3 has zero hub score but nonzero authority
    assert(got("c3")._2 == 0L && got("c3")._1 > 0L)
  }

  test("hits is bit-identical under repartitioning and frees its caches") {
    val base = GraphOps.hits(spark, edgeDf(g), iterations = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val shuffled = GraphOps.hits(spark, edgeDf(g).repartition(7),
        iterations = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(base.sameElements(shuffled))
    // CacheOnce release fires on the listener bus — bounded poll
    val deadline = System.currentTimeMillis() + 10000
    def cached = spark.sparkContext.getPersistentRDDs.size
    while (cached > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(cached == 0, "hits left persisted RDDs behind")
  }

  test("reciprocalHosts: mutual pairs only, unordered, counts per direction") {
    // A->B 3 links, B->A 1 (reciprocal); A->C 2, no C->A (one-way);
    // D self-links only (excluded); one schemeless/empty host is dropped
    val e = edgeDf(Seq(
      ("https://a.org/1", "https://b.org/x"),
      ("https://a.org/1", "https://b.org/y"),
      ("https://a.org/2", "https://b.org/x"),
      ("https://b.org/1", "https://a.org/z"),
      ("https://a.org/1", "https://c.org/x"),
      ("https://a.org/2", "https://c.org/x"),
      ("https://d.org/1", "https://d.org/2"),
      ("nohost", "https://a.org/1")))
    val got = GraphOps.reciprocalHosts(e).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("a.org", "b.org", 3L, 1L, 1L)),
      s"exactly the mutual pair, host1 < host2: ${got.toSeq}")
    // cache self-release (the pair aggregate is CacheOnce'd)
    val deadline = System.currentTimeMillis() + 10000
    def cached = spark.sparkContext.getPersistentRDDs.size
    while (cached > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(cached == 0, "reciprocalHosts left persisted RDDs behind")
  }
}
