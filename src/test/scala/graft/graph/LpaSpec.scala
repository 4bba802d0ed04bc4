package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Label-propagation community semantics (g12) against a plain-Scala
  * replay of the deterministic rule: synchronous rounds, each host
  * adopts the most frequent label among its distinct cross-host
  * neighbours, min-label ties, isolated hosts keep their own label. */
class LpaSpec extends AnyFunSuite with SparkSuite {
  private def url(host: String, p: Int) = s"https://$host/p$p"

  /** Page-level directed edges; hosts are single letters + ".org". */
  private def edgeDf(hostEdges: Seq[(String, String)]) = {
    val s = spark
    import s.implicits._
    hostEdges.zipWithIndex
      .map { case ((a, b), i) => (url(s"$a.org", i), url(s"$b.org", i + 1000)) }
      .toDF("src", "target")
  }

  /** Plain-Scala replay of lpaCommunities' exact rule. */
  private def refLpa(hostEdges: Seq[(String, String)],
                     rounds: Int): Map[String, String] = {
    val he = hostEdges.map { case (a, b) => (s"$a.org", s"$b.org") }
    val hosts = (he.map(_._1) ++ he.map(_._2)).distinct
    val cross = he.filter { case (a, b) => a != b }.distinct
    val adj = (cross ++ cross.map(_.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = hosts.map(h => h -> h).toMap
    for (_ <- 1 to rounds) {
      lab = hosts.map { h =>
        adj.get(h) match {
          case None => h -> lab(h)
          case Some(ns) =>
            val cnts = ns.groupBy(lab).view.mapValues(_.size).toMap
            val mx = cnts.values.max
            h -> cnts.collect { case (l, c) if c == mx => l }.min
        }
      }.toMap
    }
    lab
  }

  // two 4-cliques joined by ONE bridge edge (d-w), plus a host with
  // only an intra-host edge (isolated in the cross-host graph):
  // connectivity components would merge the cliques; LPA keeps them
  // apart — the density-vs-connectivity distinction the op exists for
  private val twoCliques = Seq(
    ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
    ("w", "x"), ("w", "y"), ("w", "z"), ("x", "y"), ("x", "z"), ("y", "z"),
    ("d", "w"),
    ("i", "i"))

  test("lpa matches the plain-Scala reference and separates bridged cliques") {
    val got = GraphOps.lpaCommunities(spark, edgeDf(twoCliques), rounds = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == refLpa(twoCliques, 2))
    // the cliques keep distinct labels despite the bridge...
    assert(got("a.org") == "a.org" && got("d.org") == "a.org")
    assert(got("w.org") == "w.org" && got("z.org") == "w.org")
    assert(got("a.org") != got("w.org"))
    // ...while connectivity components would have merged them
    val comp = GraphOps.hostComponents(spark, edgeDf(twoCliques))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("a.org") == comp("w.org"))
    // the self-loop-only host keeps its own label
    assert(got("i.org") == "i.org")
  }

  test("lpa is bit-identical under repartitioning and frees its caches") {
    val e = edgeDf(twoCliques)
    val a = GraphOps.lpaCommunities(spark, e, rounds = 3)
      .orderBy("host").collect().toSeq
    val b = GraphOps.lpaCommunities(spark, e.repartition(7), rounds = 3)
      .orderBy("host").collect().toSeq
    assert(a == b)
    // CacheOnce releases on the listener bus — eventually-true
    def drained(): Boolean =
      spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty
    val deadline = System.currentTimeMillis() + 30000
    while (!drained() && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(drained(), "lpaCommunities must self-release every cache it takes")
  }

  test("a pair crawled in both directions votes once, not twice") {
    // a's neighbours are z (present in BOTH directions) and c: a correct
    // engine sees the tie {z:1, c:1} and takes min = c; double-counting
    // the symmetrized edge would elect z
    val g = Seq(("a", "z"), ("z", "a"), ("a", "c"))
    val got = GraphOps.lpaCommunities(spark, edgeDf(g), rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a.org") == "c.org")
    assert(got == refLpa(g, 1))
  }

  test("one round adopts the min neighbour label on full ties") {
    // star: center s linked to p, q — after 1 round s takes min(p,q)=p;
    // leaves each see only s and take its label
    val star = Seq(("s", "p"), ("s", "q"))
    val got = GraphOps.lpaCommunities(spark, edgeDf(star), rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("s.org" -> "p.org", "p.org" -> "s.org",
      "q.org" -> "s.org"))
  }
}
