package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class ComponentsSpec extends AnyFunSuite with SparkSuite {
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("label propagation matches union-find on a random graph, including chains") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val n = 300
    // random sparse edges + a deliberate chain (propagation's worst
    // case: convergence needs diameter rounds, here ~15)
    val random = Seq.fill(150)((rng.nextInt(260).toLong, rng.nextInt(260).toLong))
      .filter { case (a, b) => a != b }
    val chain = (280L until 295L).map(i => (i, i + 1))
    val edges = random ++ chain
    val pairs = edges.toDF("a", "b")
    val got = Components.components(spark, pairs, maxRounds = 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(n, edges)
    val nodesInGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == nodesInGraph, "one label per node appearing in an edge")
    // union-find roots are min-ids per component by construction above
    for (v <- nodesInGraph)
      assert(got(v) == want(v), s"node $v: got ${got(v)}, want ${want(v)}")
  }

  test("non-convergence within maxRounds fails loudly, never returns partial labels") {
    val s = spark
    import s.implicits._
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Components.components(spark, chain, maxRounds = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("string id universe: url-keyed pairs cluster without numeric casts") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("u/a", "u/b"), ("u/b", "u/c")).toDF("a", "b")
    val ids = Seq("u/a", "u/b", "u/c", "u/z").toDF("url")
    val got = Components.keepers(spark, ids, pairs).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(got("u/a") == (("u/a", true)))
    assert(got("u/b") == (("u/a", false)))
    assert(got("u/c") == (("u/a", false)))
    assert(got("u/z") == (("u/z", true)), "singleton keeps itself")
  }

  test("dupComponents: singletons keep themselves; exactly one keeper per cluster") {
    val s = spark
    import s.implicits._
    // 3 near-identical vectors (one cluster), 2 orthogonal singletons
    val emb = Seq(
      (10L, Array(1.0f, 0.0f, 0.01f)),
      (11L, Array(1.0f, 0.01f, 0.0f)),
      (12L, Array(0.99f, 0.0f, 0.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f)),
      (30L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    // cells = 1 → exact all-pairs within the single cell, so the spec
    // checks the clustering logic; e9 at sf exercises the IVF cell path.
    val r = Components.dupComponents(spark, emb, threshold = 0.9, cells = 1).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r.size == 5)
    assert(Seq(10L, 11L, 12L).map(r(_)._1).distinct == Seq(10L),
      s"cluster collapses to min id: $r")
    assert(r(10L)._2 && !r(11L)._2 && !r(12L)._2, "one keeper per cluster")
    assert(r(20L) == ((20L, true)) && r(30L) == ((30L, true)), "singletons keep themselves")
  }
}
