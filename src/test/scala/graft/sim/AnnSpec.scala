package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Similarity-search correctness: the relational cosine top-k against an
  * in-memory brute-force oracle, and the IVF approximation's recall
  * against the exact ranking (deterministic input → stable recall). */
class AnnSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def loadVecs(): Map[Long, Array[Double]] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).iterator.map(_.toDouble).toArray
      }.toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def bruteTopK(vecs: Map[Long, Array[Double]], k: Int): Map[Long, Seq[Long]] =
    vecs.map { case (id, v) =>
      id -> vecs.iterator.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cosine(v, ov)) }.toSeq
        .sortBy { case (oid, sim) => (-sim, oid) }.take(k).map(_._1)
    }

  test("exact cosine top-k matches an independent brute-force oracle") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Ann.cosineKnn(emb, k = 5).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    val oracle = bruteTopK(loadVecs(), 5)
    assert(got.keySet == oracle.keySet)
    val mismatched = got.count { case (id, nbrs) => oracle(id) != nbrs }
    assert(mismatched == 0, s"$mismatched of ${got.size} neighbour lists differ from brute force")
  }

  test("IVF recall@5 beats random candidate selection by >=1.6x") {
    // The synthetic embeddings are near-uniform (intra-label cosine ~0.02),
    // the adversarial case for any ANN index: no index can reach high
    // recall at low coverage there. The correct property is that probing
    // nprobe/cells of the space concentrates true neighbours well above
    // the coverage fraction (random candidate selection's expected recall).
    val cells = 16
    val nprobe = 4
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Ann.cosineKnn(emb, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.ivfKnn(emb, k = 5, cells, nprobe).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.iterator.map { case (id, nbrs) =>
      (nbrs intersect approx.getOrElse(id, Set.empty)).size.toDouble / nbrs.size
    }.sum / exact.size
    val coverage = nprobe.toDouble / cells
    info(f"IVF recall@5 = $recall%.3f at coverage $coverage%.2f")
    assert(recall >= 1.6 * coverage,
      f"IVF no better than random candidates: recall $recall%.3f vs coverage $coverage%.2f")
  }

  test("IVF recall@5 >= 0.9 at nprobe=4 on clustered data") {
    // The 100 TB case an IVF index exists for: real embeddings cluster.
    // Deterministic mixture: 20 well-separated unit centres, 500 points =
    // centre + small noise; true neighbours share a cluster, so probing
    // the 4 nearest of ~sqrt(n) cells recovers them.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      val v = c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat)
      (id, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Ann.cosineKnn(emb, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.ivfKnn(emb, k = 5, cells = 0, nprobe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.iterator.map { case (id, nbrs) =>
      (nbrs intersect approx.getOrElse(id, Set.empty)).size.toDouble / nbrs.size
    }.sum / exact.size
    info(f"clustered-data IVF recall@5 = $recall%.3f")
    assert(recall >= 0.9, f"recall $recall%.3f < 0.9 on clustered data")
  }

  test("autoCells scales as sqrt(n) and clamps at MaxAutoCells") {
    val s = spark
    import s.implicits._
    val cells = Seq(16L, 500L, 16777216L, 1000000000L).toDF("n")
      .select(Ann.autoCells($"n")).as[Long].collect().toSeq
    assert(cells.take(3) == Seq(4L, 23L, 4096L))
    assert(cells(3) == 4096L,
      "at 10^9 vectors the cap must bind (bounded broadcast + O(n*4096) assignment)")
  }

  test("capped-cells regime (cells << sqrt(n)) still recovers clustered neighbours") {
    // The regime the 4096 cap creates at 10^9 vectors: far fewer cells
    // than sqrt(n), compensated by nprobe. 8 cells over 500 clustered
    // vectors with nprobe=4 (coverage 1/2) must keep recall high.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Ann.cosineKnn(emb, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.ivfKnn(emb, k = 5, cells = 8, nprobe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.iterator.map { case (id, nbrs) =>
      (nbrs intersect approx.getOrElse(id, Set.empty)).size.toDouble / nbrs.size
    }.sum / exact.size
    info(f"capped-regime IVF recall@5 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f < 0.8 with capped cells + nprobe compensation")
  }

  test("hierarchical IVF (coarse->fine) recovers clustered neighbours") {
    // the past-the-cap scale path: K1 coarse x K2 fine cells from
    // O(n*(K1+K2)) assignment work; on clustered data the probed cells
    // must still contain the true neighbours
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Ann.cosineKnn(emb, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Ann.ivfKnnHierarchical(emb, k = 5, coarseCells = 8,
        finePerCoarse = 4, nprobeCoarse = 2, nprobe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.iterator.map { case (id, nbrs) =>
      (nbrs intersect approx.getOrElse(id, Set.empty)).size.toDouble / nbrs.size
    }.sum / exact.size
    info(f"hierarchical IVF recall@5 = $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f < 0.8 on clustered data")
    // every vector must receive an assignment (no cell is orphaned)
    assert(approx.size == 500, s"${500 - approx.size} vectors lost their assignment")
  }

  test("IVF recall@5 at fixed seed is pinned (regression gate)") {
    // The e5_ivf_recall correctness row's spec-side twin: on the fixed
    // sf0.001 embeddings the (hits, total) pair is deterministic; a
    // change means the index algorithm changed, not the data.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Ann.cosineKnn(emb, k = 5).select("vec_id", "neighbor_id")
    val approx = Ann.ivfKnn(emb, k = 5).select("vec_id", "neighbor_id")
    val hits = exact.join(approx, Seq("vec_id", "neighbor_id")).count()
    val total = exact.count()
    info(s"recall@5 = $hits/$total on sf0.001")
    assert(total == 2500L)
    assert(hits >= 750L,
      s"recall collapsed: $hits/$total (expected ~0.40, gate at 0.30, on isotropic sf0.001 data)")
  }

  test("e4 threshold has a real margin: no pair within 1e-6 of 0.42 on the fixed data") {
    // The e4 oracle compares a float predicate (sim >= 0.42) across two
    // engines whose summation order may differ in the last ulp; the
    // comparison is only stable because no pair sits at the threshold.
    // Pin that property on the fixed test data so a regenerated dataset
    // that lands a pair on the boundary fails here, deterministically,
    // rather than nondeterministically at the driver compare. Checked at
    // sf0.01 — the scale the driver's oracle actually compares at.
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding").collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).iterator.map(_.toDouble).toArray
      }.toMap
    val ids = vecs.keys.toArray.sorted
    var minGap = Double.MaxValue
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        val gap = math.abs(cosine(vecs(ids(i)), vecs(ids(j))) - 0.42)
        if (gap < minGap) minGap = gap
        j += 1
      }
      i += 1
    }
    info(f"min |sim - 0.42| = $minGap%.2e")
    assert(minGap > 1e-6, f"a pair sits within $minGap%.2e of the e4 threshold")
  }

  test("SRP near-dup pairs match an independent in-memory LSH oracle exactly") {
    // Re-derive the whole SRP pipeline in plain Scala (MessageDigest md5,
    // integer-quantised projections, 4x4-bit banding) and require SET
    // EQUALITY with the Spark result — signature, banding and scoring all
    // pinned, same role as the DuckDB replay at the driver.
    val bits = 16; val bandSize = 4; val threshold = 0.42
    val vecs = loadVecs()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val signs = Array.tabulate(bits, vecs.values.head.length) { (i, j) =>
      if (h60(s"p$i:$j") % 2 == 0) 1L else -1L
    }
    val sig = vecs.map { case (id, e) =>
      id -> Array.tabulate(bits) { i =>
        var s = 0L; var j = 0
        while (j < e.length) { s += signs(i)(j) * math.floor(e(j) * 1e6).toLong; j += 1 }
        s >= 0
      }
    }
    def buckets(b: Array[Boolean]): Seq[String] =
      (0 until bits / bandSize).map(k =>
        b.slice(k * bandSize, (k + 1) * bandSize).map(x => if (x) 1 else 0).mkString(","))
    val ids = vecs.keys.toArray.sorted
    val expected = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1) until ids.length
      a = ids(ai); b = ids(bi)
      if buckets(sig(a)).zip(buckets(sig(b))).exists { case (x, y) => x == y }
      if cosine(vecs(a), vecs(b)) >= threshold
    } yield (a, b)).toSet
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Ann.srpDupPairs(emb, threshold, bits, bandSize).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"SRP pairs diverge: spark-only=${got -- expected}, oracle-only=${expected -- got}")
    info(s"${got.size} SRP near-dup pairs, set-equal to the in-memory LSH oracle")
  }

  test("SQ codes: bounded [0,127], per-dim monotone, constant dims collapse to 0") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(0.0f, -1.0f, 5.0f)),
      (1L, Array(1.0f, 0.0f, 5.0f)),
      (2L, Array(2.0f, 1.0f, 5.0f))).toDF("vec_id", "embedding")
    val q = Ann.sqQuantize(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(q.values.flatten.forall(c => c >= 0L && c <= 127L), "codes in [0,127]")
    assert(q(0L)(0) == 0L && q(0L)(1) == 0L, "per-dim minimum maps to code 0")
    assert(q(2L)(0) >= 126L && q(2L)(1) >= 126L, "per-dim maximum maps to ~127")
    assert(q(0L)(0) < q(1L)(0) && q(1L)(0) < q(2L)(0), "codes monotone in the input")
    assert(Seq(0L, 1L, 2L).forall(id => q(id)(2) == 0L), "constant dim -> code 0")
  }

  test("IVF-SQ kNN: int8 codes keep clustered neighbours in-cluster") {
    // The property that matters for the 4x-compressed index: quantisation
    // noise (range/127 per dim) must not break cluster-level neighbour
    // structure. On the 20-cluster mixture, every top-5 SQ neighbour
    // should share the query's cluster.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = Ann.sqKnn(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val perQuery = got.groupBy(_._1)
    assert(perQuery.size == 500 && perQuery.values.forall(_.length == 5))
    val sameCluster = got.count { case (a, b, _, _) => a % 20 == b % 20 }
    info(f"IVF-SQ same-cluster fraction = ${sameCluster.toDouble / got.length}%.3f")
    // measured 0.90 at seed 7: the shortfall vs cosine-IVF's 0.995 is the
    // MAX-INNER-PRODUCT ranking favouring large-norm vectors in probed
    // foreign cells (deliberate SQ semantics), not quantisation error
    assert(sameCluster.toDouble / got.length >= 0.85,
      s"$sameCluster/${got.length} SQ neighbours share the query's cluster")
    assert(got.forall(_._4 >= 0L), "integer dots of non-negative codes are >= 0")
  }

  test("IVF-PQ kNN (ADC): 8x-compressed codes keep clustered neighbours in-cluster") {
    // The property for the PQ memory path: per-subspace codebook loss
    // must not break cluster-level neighbour structure. Same 20-cluster
    // mixture as the SQ test; dim 16 / 8 subspaces = 2-dim codebooks.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val rows = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = Ann.pqKnn(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val perQuery = got.groupBy(_._1)
    assert(perQuery.size == 500 && perQuery.values.forall(_.length == 5))
    val sameCluster = got.count { case (a, b, _, _) => a % 20 == b % 20 }
    info(f"IVF-PQ same-cluster fraction = ${sameCluster.toDouble / got.length}%.3f")
    assert(sameCluster.toDouble / got.length >= 0.8,
      s"$sameCluster/${got.length} PQ neighbours share the query's cluster")
    assert(got.forall(_._4 >= 0L), "ADC dots of non-negative codes are >= 0")
  }

  test("PQ model: code/codebook shapes, seed clusters, reconstruction dimension") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (codes, book) = Ann.pqModelFromCodes(graft.util.CacheOnce(Ann.sqQuantize(emb)),
      subspaces = 8, ksub = 16, iters = 1)
    val c = codes.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(c.length == 500 * 8, s"one code per (vector, subspace): ${c.length}")
    assert(c.map(_._2).distinct.sorted.toSeq == (0 until 8),
      "subspace ids are exactly 0..7")
    val bk = book.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    assert(bk.forall(_._3.length == 64 / 8),
      "each codebook centroid spans dim/subspaces components")
    val vecIds = (0L until 500L).toSet
    assert(bk.forall(e => vecIds.contains(e._2)),
      "cluster ids are md5-stride-sampled member vec_ids")
    val bookKeys = bk.map(e => (e._1, e._2)).toSet
    assert(c.forall(e => bookKeys.contains((e._2, e._3))),
      "every assigned code refers to a codebook entry of its subspace")
  }

  test("pqKnn is bit-identical under repartitioning") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(parts: Int): Seq[(Long, Long, Int, Long)] =
      Ann.pqKnn(emb.repartition(parts), k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    assert(run(7) == run(3),
      "integer-exact PQ training + ADC ranking must not depend on partitioning")
  }

  test("PQ re-rank: exact-cosine stage lifts recall@5 over raw ADC ranks") {
    // The property two-stage retrieval exists for: re-ranking the PQ
    // shortlist with true float cosine must recover neighbours the
    // compressed ADC ordering misranked. Like the other recall-floor
    // specs, run on clustered data (the 100 TB case an index exists
    // for) — the sf fixture is near-uniform, where ANY cell-probing
    // index has recall ~ coverage and a floor would test the fixture,
    // not the operator. Compare both against brute-force top-5.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val emb = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosineKnn(emb, k = 5)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val raw = recall(Ann.pqKnn(emb, k = 5))
    val rr = recall(Ann.pqRerankKnn(emb, k = 5, shortlist = 20))
    info(f"recall@5: pq-adc $raw%.3f -> rerank $rr%.3f")
    assert(rr >= raw, f"re-rank must not lose recall: $rr%.3f < $raw%.3f")
    assert(rr >= 0.75, f"re-ranked recall@5 $rr%.3f below floor")
    spark.catalog.clearCache()
  }

  test("pqRerankKnn: k rows per query, dense ranks, candidates from the shortlist") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val shortlist = Ann.pqKnn(emb, k = 20).select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Ann.pqRerankKnn(emb, k = 5, shortlist = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val perQuery = got.groupBy(_._1)
    assert(perQuery.values.forall(_.map(_._3).sorted.toSeq == (1 to 5)),
      "each query carries dense ranks 1..k")
    assert(got.forall { case (a, b, _) => shortlist.contains((a, b)) },
      "every re-ranked neighbour came from the PQ shortlist")
    spark.catalog.clearCache()
  }

  test("pqRerankKnn is bit-identical under repartitioning") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(parts: Int): Seq[(Long, Long, Int)] =
      Ann.pqRerankKnn(emb.repartition(parts), k = 3, shortlist = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val a = run(7); val b = run(3)
    spark.catalog.clearCache()
    assert(a == b,
      "integer-exact shortlist + float re-rank must not depend on partitioning")
  }

  test("near-duplicate pairs are symmetric-free and above threshold") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Ann.cosineDupPairs(emb, threshold = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b }, "each pair reported once, a < b")
    val vecs = loadVecs()
    pairs.foreach { case (a, b) =>
      assert(cosine(vecs(a), vecs(b)) >= 0.95)
    }
  }

  test("IVF/SQ/hierarchical queries release their assignment caches without caller clearCache") {
    // the round-3 contract made the CALLER own the persisted assignment
    // (Bench/Verify clearCache()d between queries); CacheOnce now drops
    // it after the first consuming action — assert no cached blocks (or
    // cache-manager entries) survive the action, within listener-bus
    // dispatch latency
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    spark.catalog.clearCache()
    def drained(): Boolean =
      spark.sparkContext.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty
    val builders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ivfKnn" -> (() => Ann.ivfKnn(emb, k = 3)),
      "sqKnn" -> (() => Ann.sqKnn(emb, k = 3)),
      "pqKnn" -> (() => Ann.pqKnn(emb, k = 3)),
      "ivfKnnHierarchical" -> (() => Ann.ivfKnnHierarchical(emb, k = 3,
        coarseCells = 4, finePerCoarse = 4)))
    for ((name, build) <- builders) {
      // built one at a time: each query registers its own cache, which
      // must be gone after ITS consuming action
      assert(build().count() > 0, s"$name returns rows")
      val deadline = System.currentTimeMillis() + 30000
      while (!drained() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(drained(),
        s"$name must self-release its persisted assignment after the action")
    }
  }

  test("kmeans: blob purity and bit-identical assignment under repartitioning") {
    val s = spark
    import s.implicits._
    val dim = 8
    // two tight blobs at opposite corners of the quantized code space
    val rows = (0L until 40L).map { id =>
      val base = if (id < 20) 0.0 else 10.0
      (id, Array.fill(dim)((base + 0.01 * ((id % 5) + 1)).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val r1 = Ann.kmeansAssign(emb, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.size == 40)
    // purity: after 2 Lloyd rounds no cluster spans the two blobs
    r1.groupBy(_._2).foreach { case (c, members) =>
      val ids = members.keys.toSet
      assert(ids.forall(_ < 20L) || ids.forall(_ >= 20L),
        s"cluster $c spans both blobs: $ids")
    }
    // integer arithmetic end-to-end: the exact same result on any
    // partitioning (floor means and exact distances admit no float drift)
    val r7 = Ann.kmeansAssign(emb.repartition(7), k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r7 == r1)
    spark.catalog.clearCache()
  }

  test("cluster sample: per-cluster cap enforced, members from the assignment, deterministic") {
    val s = spark
    import s.implicits._
    val rows = (0L until 60L).map { id =>
      val base = if (id < 30) 0.0 else 10.0
      (id, Array.fill(8)((base + 0.01 * ((id % 6) + 1)).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val assign = Ann.kmeansAssign(emb, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val sample = Ann.clusterSample(emb, m = 5, k = 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // ≤ m per cluster, ranks dense 1..n, membership consistent with the
    // full assignment
    sample.groupBy(_._2).foreach { case (c, members) =>
      assert(members.length <= 5, s"cluster $c over cap")
      assert(members.map(_._3).sorted.toSeq == (1 to members.length),
        s"cluster $c ranks not dense")
    }
    sample.foreach { case (id, c, _) => assert(assign(id) == c) }
    spark.catalog.clearCache()
    val again = Ann.clusterSample(emb.repartition(7), m = 5, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(again.toSet == sample.toSet, "seeded draw must be partitioning-independent")
    spark.catalog.clearCache()
  }

  test("kmeans: clusters emptied by ties keep their previous centroid (no crash, total output)") {
    val s = spark
    import s.implicits._
    // all vectors identical -> every distance ties -> everything assigns
    // to the LOWEST seed cluster; the other seed clusters are empty in
    // every update round and must survive via the previous-centroid rule
    val emb = (0L until 12L).map(id => (id, Array.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val out = Ann.kmeansAssign(emb, k = 6, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 12)
    val clusters = out.map(_._2).distinct
    assert(clusters.length == 1, s"ties must all break to one cluster: ${clusters.toSeq}")
    assert(out.forall(_._3 == 0L), "identical vectors sit on their centroid")
    spark.catalog.clearCache()
  }

  test("MRL funnel: full-dim re-rank lifts recall@5 over prefix-only ordering") {
    // the property the funnel exists for: a d/4 prefix scorer is cheap
    // but lossy; exact re-rank of its shortlist recovers what the
    // prefix misranked. Clustered fixture as in the PQ re-rank spec.
    val s = spark
    import s.implicits._
    val dim = 16
    val rng = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian()))
    val emb = (0L until 500L).map { id =>
      val c = centers((id % 20).toInt)
      (id, c.map(x => (x + 0.08 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosineKnn(emb, k = 5)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    // shortlist=k -> the answer SET is the prefix-only top-5
    val prefixOnly = recall(Ann.mrlRerankKnn(emb, k = 5, dPrefix = 4, shortlist = 5))
    val funnel = recall(Ann.mrlRerankKnn(emb, k = 5, dPrefix = 4, shortlist = 20))
    info(f"recall@5: prefix-only $prefixOnly%.3f -> funnel $funnel%.3f")
    assert(funnel >= prefixOnly,
      f"funnel must not lose recall: $funnel%.3f < $prefixOnly%.3f")
    assert(funnel >= 0.75, f"funnel recall@5 $funnel%.3f below floor")
    spark.catalog.clearCache()
  }

  test("mrlRerankKnn: dense ranks per query; bit-identical under repartitioning") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(parts: Int): Seq[(Long, Long, Int)] =
      Ann.mrlRerankKnn(emb.repartition(parts), k = 3, shortlist = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    val a = run(7); val b = run(3)
    spark.catalog.clearCache()
    assert(a == b, "prefix shortlist + float re-rank must not depend on partitioning")
    assert(a.groupBy(_._1).values.forall(_.map(_._3).sorted == Seq(1, 2, 3)),
      "each query carries dense ranks 1..k")
  }
}
