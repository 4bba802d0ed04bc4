package graft.sim

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** SemDeDup (within-k-means-cluster semantic prune): duplicate collapse,
  * keeper choice, output contract, partitioning determinism, and the
  * e15 threshold margin at the SF the e4 margin spec does not cover. */
class SemDedupSpec extends AnyFunSuite with SparkSuite {
  /** Deterministic mixture: `nCenters` well-separated unit centres, with
    * ids `dupPairs` planted as near-copies of the id one below them. */
  private def clustered(n: Int, nCenters: Int, dupOf: Map[Long, Long]) = {
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(11)
    val centers = Array.fill(nCenters)(Array.fill(dim)(rng.nextGaussian()))
    val base = (0L until n.toLong).map { id =>
      val c = centers((id % nCenters).toInt)
      id -> c.map(x => (x + 0.5 * rng.nextGaussian()).toFloat)
    }.toMap
    val rows = base.toSeq.sortBy(_._1).map { case (id, v) =>
      dupOf.get(id) match {
        case Some(src) => (id, base(src).map(x => (x + 1e-4f)))
        case None      => (id, v)
      }
    }
    rows.toDF("vec_id", "embedding")
  }

  test("planted near-duplicates collapse to one kept copy; distinct docs survive") {
    val dups = Map(101L -> 100L, 102L -> 100L, 201L -> 200L) // {100,101,102}, {200,201}
    val emb = clustered(300, 10, dups)
    val out = Ann.semDedup(emb, tau = 0.98, k = 10).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out.size == 300, "every input doc must appear exactly once")
    val g1 = Seq(100L, 101L, 102L).map(out)
    val g2 = Seq(200L, 201L).map(out)
    assert(g1.sum == 1, s"dup group {100,101,102} must keep exactly one, kept=$g1")
    assert(g2.sum == 1, s"dup group {200,201} must keep exactly one, kept=$g2")
    // at tau=0.98 the 0.5-noise cluster-mates (cosine ~0.8) are NOT duplicates: the
    // overwhelming majority of the corpus must survive
    assert(out.values.sum >= 290,
      s"only ${out.values.sum}/300 kept — threshold is eating non-duplicates")
  }

  test("keeper is the farthest-from-centroid member of the duplicate group") {
    // SemDeDup keeps the LOWEST-centroid-similarity representative: the
    // rank is dist DESC, and removal only looks at earlier ranks — so
    // within a duplicate group the max-dist member survives. Verify
    // against the operator's own integer dist from kmeansAssign.
    val dups = Map(101L -> 100L, 102L -> 100L)
    val emb = clustered(300, 10, dups)
    val dist = Ann.kmeansAssign(emb, k = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(0))).toMap
    val kept = Ann.semDedup(emb, tau = 0.98, k = 10).collect()
      .filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    val group = Seq(100L, 101L, 102L)
    // rank order is (dist DESC, vec_id ASC) — max by (dist, -id) keeps ties honest
    val expected = group.maxBy(id => (dist(id)._1, -id))
    assert(kept.intersect(group.toSet) == Set(expected),
      s"expected keeper $expected (dists ${group.map(id => id -> dist(id)._1)})")
    spark.catalog.clearCache()
  }

  test("bit-identical under repartitioning") {
    val emb = clustered(300, 10, Map(101L -> 100L))
    val a = Ann.semDedup(emb, tau = 0.98, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val b = Ann.semDedup(emb.repartition(7, col("vec_id")), tau = 0.98, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(a == b, "semDedup must not depend on physical partitioning")
    spark.catalog.clearCache()
  }

  test("e15 threshold margin at sf0.001: no pair within 1e-6 of 0.42") {
    // e4's margin spec pins |sim - 0.42| > 1e-6 over ALL pairs at sf0.01
    // (which covers e15's within-cluster subset there); the driver's
    // documented Verify flow also replays at sf0.001 — pin that table too.
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).iterator.map(_.toDouble).toArray
      }
    def cosine(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    var minGap = Double.MaxValue
    for (i <- vecs.indices; j <- (i + 1) until vecs.length) {
      val gap = math.abs(cosine(vecs(i)._2, vecs(j)._2) - 0.42)
      if (gap < minGap) minGap = gap
    }
    info(f"min |sim - 0.42| = $minGap%.2e")
    assert(minGap > 1e-6, f"a pair sits within $minGap%.2e of the e15 threshold")
  }

  test("plan: the pair stage is a within-cluster equi-join, never a cartesian") {
    val emb = clustered(300, 10, Map.empty)
    val plan = Ann.semDedup(emb, tau = 0.98, k = 10)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // (kmeansAssign's 1-row parameter fold plans a deliberate broadcast
    // nested-loop cross — the approved ivfAssign idiom; what must never
    // appear is an unkeyed n×n CartesianProduct)
    assert(!plan.contains("CartesianProduct"),
      s"pair stage must join on the cluster key, plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected a hash/merge equi-join on cluster, plan:\n$plan")
    spark.catalog.clearCache()
  }
}
