package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the correctness baseline (O(n²) dot
  * products — all codegen'd builtins: zip_with + aggregate). The IVF
  * variant is the scale path: vectors are assigned to their nearest of
  * ~√n deterministically-sampled centroids and only same-cell pairs are
  * scored, turning the quadratic cross join into per-cell joins of
  * expected size (n/√n)² = n — linear total work at fixed density.
  *
  * Every deterministic choice (centroid sampling, tie-breaks) uses the
  * md5-60bit hashing convention shared with the DuckDB oracle, so the
  * approximate index is itself hash-checkable: the oracle replays the
  * same algorithm in SQL.
  */
object Ann {

  /** Σ aᵢ·bᵢ as a left-fold (deterministic FP order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine similarity of two vector columns, norms computed inline. */
  private def cosine(x: Column, y: Column): Column =
    dot(x, y) / (sqrt(dot(x, x)) * sqrt(dot(y, y)))

  /** Cosine of a scored pair whose sides carry precomputed norms:
    * (ea, na) and (eb, nb). */
  private val pairCosine: Column =
    dot(col("ea"), col("eb")) / (col("na") * col("nb"))

  /** (vec_id, e): the embedding column widened to doubles. */
  private[sim] def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("e"))

  /** The query side (a, ea, na) and the neighbour side (b, eb, nb) of the
    * normalised vectors: the operands of [[pairCosine]]. */
  private def cosineSides(emb: DataFrame): (DataFrame, DataFrame) = {
    val v = vectors(emb).withColumn("norm", sqrt(dot(col("e"), col("e"))))
    (v.select(col("vec_id").as("a"), col("e").as("ea"), col("norm").as("na")),
      v.select(col("vec_id").as("b"), col("e").as("eb"), col("norm").as("nb")))
  }

  /** The family's one rank: per query `a`, number its candidates `b` by
    * `score` desc, `b` asc on ties, into column `rank` and keep ranks
    * ≤ k. The rank filter compiles to WindowGroupLimit, the partial top-k
    * below the exchange. */
  private def rankTop(pairs: DataFrame, score: String, k: Int,
                      rank: String = "rank"): DataFrame = {
    val w = Window.partitionBy(col("a")).orderBy(col(score).desc, col("b").asc)
    pairs.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** [[rankTop]] projected to the family's output (vec_id, neighbor_id,
    * rank), plus the score column when it is integer-exact. */
  private def topK(pairs: DataFrame, score: String, k: Int,
                   emitScore: Boolean = false): DataFrame = {
    val out = Seq(col("a").as("vec_id"), col("b").as("neighbor_id"), col("rank"))
    rankTop(pairs, score, k).select((if (emitScore) out :+ col(score) else out): _*)
  }

  /** The family's one probe × home join: probe rows (cell, a, …) meet the
    * home rows (cellr, b, …) of their cell, self-pairs excluded. It is an
    * equi-join on the cell id, never a cross join of vectors. */
  private def cellJoin(probes: DataFrame, home: DataFrame): DataFrame =
    probes.join(home, col("cell") === col("cellr") && col("a") =!= col("b"))

  /** Cosine [[topK]] of `probes` against the `home` rows of their cells,
    * both (vec_id, cell, e); a persisted home table's partition column
    * reads back as int, hence the cast. */
  private[sim] def cosineTopK(probes: DataFrame, home: DataFrame, k: Int): DataFrame = {
    val l = probes.select(col("cell"), col("vec_id").as("a"), col("e").as("ea"),
      sqrt(dot(col("e"), col("e"))).as("na"))
    val r = home.select(col("cell").cast("long").as("cellr"), col("vec_id").as("b"),
      col("e").as("eb"), sqrt(dot(col("e"), col("e"))).as("nb"))
    topK(cellJoin(l, r).withColumn("sim", pairCosine), "sim", k)
  }

  /** [[topK]] of [[cellJoin]]ed probes (cell, a, qa) and home rows
    * (cellr, b, rb) by their exact integer dot, emitted as `score`: the
    * SQ dot or, against PQ reconstructions, the asymmetric (ADC) dot. */
  private[sim] def intTopK(probes: DataFrame, home: DataFrame, score: String,
                           k: Int): DataFrame =
    topK(cellJoin(probes, home).withColumn(score, intDot(col("qa"), col("rb"))), score, k,
      emitScore = true)

  /** Exact cosine top-k: (vec_id, neighbor_id, rank), rank 1..k by
    * similarity desc, neighbor id asc on ties. Similarity itself is not
    * emitted — ranks are FP-order-stable, raw floats are not. */
  def cosineKnn(emb: DataFrame, k: Int): DataFrame = {
    val (l, r) = cosineSides(emb)
    topK(l.join(r, col("a") =!= col("b")).withColumn("sim", pairCosine), "sim", k)
  }

  /** Deterministic spread centroid sample: vectors whose 60-bit md5 hash
    * of "c:<vec_id>" is 0 mod stride — ≈`cells` rows, spread uniformly
    * over the id space with no global sort and no data-order dependence
    * (the round-1 `orderBy(vec_id).limit(cells)` seeding clustered the
    * centroids and skewed every cell). `stride` is a COLUMN (from the
    * 1-row parameter aggregate), so the whole index is one lazy plan. */
  def centroids(v: DataFrame, stride: Column): DataFrame =
    v.filter(
        pmod(graft.text.TextOps.md5Hash60(concat(lit("c:"), col("vec_id").cast("string"))),
          stride) === 0)
      .select(col("vec_id").as("cell"), col("e").as("c"))

  /** Hard cap on the auto-scaled cell count. The assignment pass is
    * O(n·cells) dot products and the centroid table is broadcast, so at
    * 10⁹ vectors an uncapped √n ≈ 31k cells means an O(n·√n) assignment
    * and a ~100 MB broadcast. 4096 cells keep the broadcast ≈2 MB at
    * dim 128; compensate with a larger `nprobe` (coverage = nprobe/cells),
    * or assign hierarchically (coarse cell → fine cell, two broadcast
    * passes — same join/shuffle shape) if per-cell joins grow too big. */
  val MaxAutoCells = 4096

  /** Auto-scaled cell count of a row count `n`: ~√n cells keeps per-cell
    * JOIN work linear in n, clamped to [4, [[MaxAutoCells]]] (see above). */
  def autoCells(n: Column): Column =
    greatest(lit(4L), least(lit(MaxAutoCells.toLong), ceil(sqrt(n)).cast("long")))

  /** The family's one centroid table: the md5-stride sample ([[centroids]])
    * of `v` (vec_id, e) at ≈`cells` seeds, or [[autoCells]] of the row
    * count when `cells` ≤ 0: (cell, c). The cell count / stride
    * parameters are derived from a 1-row aggregate folded into the same
    * plan via a broadcast cross join (mirroring the oracle's `par` CTE) —
    * no separate `emb.count()` action, so a 10⁹-row table is scanned
    * once, not twice per query. */
  def cellCentroids(v: DataFrame, cells: Int): DataFrame = {
    val cellsCol = if (cells > 0) lit(cells.toLong) else autoCells(col("n"))
    val par = v.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), floor(col("n") / cellsCol).cast("long")).as("stride"))
    centroids(v.crossJoin(broadcast(par)), col("stride"))
  }

  /** The family's one coarse quantizer: each vector of `v` (vec_id, e)
    * ranked against the broadcast centroid table `cent` (cell, c) by
    * cosine distance, cell id asc on ties, keeping its `nprobe` nearest
    * (rank 1 = home cell): (vec_id, cell, rn, e). The inline plans and
    * the persisted indexes all assign through it, so an index homes a
    * vector exactly where the inline plan does. */
  def rankCells(v: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d").asc, col("cell").asc)
    v.crossJoin(broadcast(cent))
      .withColumn("d", cosine(col("e"), col("c")) * -1)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("cell"), col("rn"), col("e"))
  }

  /** ONE assignment pass: for every vector its `nprobe` nearest centroids
    * by cosine distance (rank 1 = home cell). Computed once and reused for
    * both the index side (rn=1) and the probe side (rn≤nprobe) — the
    * round-1 shape recomputed the broadcast-NL assignment twice. */
  def ivfAssign(emb: DataFrame, cells: Int = 0, nprobe: Int = 1): DataFrame = {
    val v = vectors(emb)
    rankCells(v, cellCentroids(v, cells), nprobe)
  }

  /** Two-level (coarse → fine) IVF assignment — the scale path PAST the
    * [[MaxAutoCells]] cap. A flat assignment scores every vector against
    * all C centroids (O(n·C) dot products, C-row broadcast); here each
    * vector scores K1 coarse centroids, then only the ~K2 fine centroids
    * OF ITS COARSE CELL via an equi-join on the coarse cell id — total
    * O(n·(K1+K2)) with a K1-row broadcast and a shuffled equi-join whose
    * fine side is K1·K2 rows spread over K1 keys. With K1 = K2 = 1024
    * that is ~10⁶ effective cells from ~2k dot products per vector,
    * where flat assignment would need 10⁶.
    *
    * Same deterministic md5-stride sampling as the flat index (coarse
    * seeds salted "c:", fine seeds salted "f:"); same output shape as
    * [[ivfAssign]]: (vec_id, cell, rn, e) with rn ranking the `nprobe`
    * nearest fine cells among the `nprobeCoarse` probed coarse cells —
    * so [[ivfKnn]]'s join shape works on top unchanged. */
  def ivfAssignHierarchical(emb: DataFrame, coarseCells: Int = 64,
                            finePerCoarse: Int = 64, nprobeCoarse: Int = 2,
                            nprobe: Int = 4): DataFrame = {
    val v = vectors(emb)
    // strides from the folded 1-row aggregate (no separate count action):
    // coarse ≈ n/K1 rows, fine ≈ n/(K1·K2) rows ≈ K2 per coarse cell
    val par = v.agg(count(lit(1)).as("n")).select(
      greatest(lit(1L), floor(col("n") / coarseCells).cast("long")).as("cstride"),
      greatest(lit(1L), floor(col("n") / (coarseCells.toLong * finePerCoarse)).cast("long"))
        .as("fstride"))
    val vp = v.crossJoin(broadcast(par))
    val coarse = centroids(vp, col("cstride"))
    val wC = Window.partitionBy(col("vec_id")).orderBy(col("d").asc, col("ccell").asc)
    val coarseAssign = vp
      .crossJoin(broadcast(coarse.select(col("cell").as("ccell"), col("c").as("cc"))))
      .withColumn("d", cosine(col("e"), col("cc")) * -1)
      .withColumn("rnc", row_number().over(wC))
      .filter(col("rnc") <= nprobeCoarse)
      .select(col("vec_id"), col("e"), col("ccell"), col("rnc"), col("fstride"))
    // fine centroids: hash-sampled vectors, each carrying its HOME coarse
    // cell (rnc = 1) — the per-cell codebook the equi-join distributes.
    // Every non-empty coarse cell ALSO contributes its min-vec_id home
    // member as an anchor centroid: a small cell whose members all miss
    // the stride filter would otherwise have an empty codebook, and the
    // inner fine-assignment join below would silently DROP every vector
    // whose probed coarse cells are all such cells (violating the
    // same-shape-as-ivfAssign contract). The anchor is one narrow
    // groupBy(min) + self-join — no new wide work.
    val home = coarseAssign.filter(col("rnc") === 1)
    val sampled = home
      .filter(pmod(graft.text.TextOps.md5Hash60(
        concat(lit("f:"), col("vec_id").cast("string"))), col("fstride")) === 0)
      .select(col("ccell").as("fccell"), col("vec_id").as("fcell"), col("e").as("fc"))
    val anchors = home.groupBy(col("ccell")).agg(min(col("vec_id")).as("fcell"))
      .join(home.select(col("ccell"), col("vec_id").as("fcell"), col("e").as("fc")),
        Seq("ccell", "fcell"))
      .select(col("ccell").as("fccell"), col("fcell"), col("fc"))
    val fine = sampled.union(anchors).dropDuplicates("fccell", "fcell")
    val wF = Window.partitionBy(col("vec_id")).orderBy(col("fd").asc, col("fcell").asc)
    coarseAssign
      .join(fine, col("ccell") === col("fccell"))
      .withColumn("fd", cosine(col("e"), col("fc")) * -1)
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("fcell").as("cell"), col("rn"), col("e"))
  }

  /** [[ivfKnn]] on the hierarchical assignment: identical per-cell join
    * + windowed top-k, only the assignment strategy differs.
    *
    * The persisted assignment self-releases after the first consuming
    * action ([[graft.util.CacheOnce]]) — no caller-side clearCache
    * needed. */
  def ivfKnnHierarchical(emb: DataFrame, k: Int, coarseCells: Int = 64,
                         finePerCoarse: Int = 64, nprobeCoarse: Int = 2,
                         nprobe: Int = 4): DataFrame = {
    val assign = graft.util.CacheOnce(ivfAssignHierarchical(emb, coarseCells,
      finePerCoarse, nprobeCoarse, nprobe))
    cosineTopK(assign, assign.filter(col("rn") === 1), k)
  }

  /** Approximate top-k, classic IVF shape: the INDEX side holds each
    * vector once (home cell); the QUERY side probes its `nprobe` nearest
    * cells and ranks exactly within the probed candidates. Recall rises
    * with nprobe at linear cost; per-cell joins replace the quadratic
    * cross join of [[cosineKnn]]. The assignment is persisted so home and
    * probe legs share one computation, and self-releases after the first
    * consuming action ([[graft.util.CacheOnce]]) — third-party callers
    * no longer inherit a session-lifetime cache to clear. */
  def ivfKnn(emb: DataFrame, k: Int, cells: Int = 0, nprobe: Int = 4): DataFrame = {
    val assign = graft.util.CacheOnce(ivfAssign(emb, cells, nprobe))
    cosineTopK(assign, assign.filter(col("rn") === 1), k)
  }

  /** Signed-random-projection (hyperplane) LSH signature: bit i of the
    * signature is the SIGN of the projection of the vector onto the i-th
    * pseudo-random Rademacher hyperplane, whose ±1 entries come from the
    * shared md5-60bit convention (`s(i,j) = +1` iff `md5("p<i>:<j>")` is
    * even) — so the whole index is oracle-replayable in SQL. Collision
    * probability of one bit for vectors at angle θ is `1 − θ/π`
    * (Charikar's SimHash-for-cosine bound), which is what makes banded
    * bucketing below sound.
    *
    * Cross-engine determinism: the projections are computed over
    * `floor(eⱼ·10⁶)` INTEGER components, so the per-bit sums are exact
    * and independent of summation order — a raw double SUM's last-ulp
    * rounding differs between engines/partitionings and could flip the
    * sign of a near-orthogonal projection. Quantisation at 10⁻⁶ is far
    * below any meaningful angular resolution.
    *
    * Plan shape: posexplode (n·d rows) → `bits` SUM(CASE) aggregates,
    * fully codegen'd and map-side combined — one shuffle of n·bits longs,
    * no broadcast, no centroid pass. This is the IVF-free near-dup scale
    * path: at 10⁹ vectors it needs no index build at all. */
  def srpSignature(emb: DataFrame, bits: Int = 16): DataFrame = {
    val ex = emb
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
      .withColumn("q", floor(col("x") * lit(1e6)))
    val bitCols: Seq[Column] = (0 until bits).map { i =>
      sum(when(pmod(graft.text.TextOps.md5Hash60(
          concat(lit(s"p$i:"), col("j").cast("string"))), lit(2)) === 0,
        col("q")).otherwise(-col("q"))).as(s"s$i")
    }
    ex.groupBy("vec_id").agg(bitCols.head, bitCols.tail: _*)
  }

  /** Embedding near-duplicate pairs via SRP-LSH banding: the `bits`-bit
    * signature is cut into `bits/bandSize` bands; vectors sharing any
    * band bucket become candidates (equi-join on (band, md5-bucket) —
    * NEVER all pairs); each candidate pair is then scored exactly once
    * and kept at `cosine ≥ threshold`. Same banding idiom as
    * [[graft.text.TextOps.minhashPairs]].
    *
    * Complements [[cosineDupPairs]] (IVF home cells): SRP needs no
    * centroid broadcast or assignment pass and its candidate volume is
    * tunable purely by (bits, bandSize) — `P(candidate) =
    * 1 − (1 − (1−θ/π)^bandSize)^nBands`. */
  def srpDupPairs(emb: DataFrame, threshold: Double, bits: Int = 16,
                  bandSize: Int = 4): DataFrame = {
    val sig = srpSignature(emb, bits)
    val nBands = bits / bandSize
    val banded = (0 until nBands).map { b =>
      val slots = (0 until bandSize)
        .map(k => (col(s"s${b * bandSize + k}") >= 0).cast("int"))
      sig.select(col("vec_id"), lit(b).as("band"),
        md5(concat_ws(",", slots.map(_.cast("string")): _*)).as("bucket"))
    }.reduce(_ unionByName _)
    val cand = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
      .distinct()
    val (va, vb) = cosineSides(emb)
    cand.join(va, "a").join(vb, "b")
      .withColumn("sim", pairCosine)
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"))
  }

  /** Int8 scalar quantization (SQ) of the embedding column — the MEMORY
    * scale path: per-dimension global min/max maps each float32 component
    * to an integer code in [0,127], shrinking the resident index 4× (and
    * 8× vs the double working set), which at 10⁹ × 128-dim vectors is the
    * difference between an executor-cacheable index and one that spills.
    *
    * Codes are `floor((x − mnⱼ)·127/(mxⱼ − mnⱼ))` with doubles throughout;
    * the identical expression tree is replayed by the DuckDB oracle
    * (float→double widening is exact, so per-dim min/max agree bit-for-bit
    * across engines, and all downstream arithmetic on the integer codes is
    * exact). The per-dim range table is `dim` rows — broadcast, never
    * shuffled against the data.
    *
    * Output: (vec_id, qv array<long>) in dimension order. */
  def sqQuantize(emb: DataFrame): DataFrame =
    sqQuantizeWith(emb, sqRange(emb))

  /** Per-dimension (j, mn, mx) range table of the corpus — `dim` rows.
    * Persisted by [[PqIndex.build]] so later query batches quantize
    * against the FROZEN build-corpus normalisation (the serving
    * contract), not their own batch statistics. */
  def sqRange(emb: DataFrame): DataFrame =
    emb.select(posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
      .groupBy("j").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** [[sqQuantize]] against an EXPLICIT range table. Values outside
    * [mn, mx] (possible when quantizing new data against a frozen range)
    * map monotonically to codes outside [0,127] — still exact integers,
    * deliberately not clamped: clamping would break the bit-identity of
    * a self-quantization replay for nothing (ADC arithmetic is exact at
    * any code magnitude). */
  def sqQuantizeWith(emb: DataFrame, rng: DataFrame): DataFrame = {
    val ex = emb.select(col("vec_id"),
      posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
    ex.join(broadcast(rng), "j")
      .withColumn("q", when(col("mx") === col("mn"), lit(0L))
        .otherwise(floor((col("x") - col("mn")) * 127.0 / (col("mx") - col("mn")))))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("q")))).as("a"))
      .select(col("vec_id"), transform(col("a"), s => s.getField("q")).as("qv"))
  }

  /** Σ qaᵢ·qbᵢ over integer codes — exact (≤ 127²·dim ≪ 2⁶³). */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Approximate top-k over the QUANTIZED index: IVF cells bound the
    * candidate set (same one-pass assignment as [[ivfKnn]]), and ranking
    * within the probed cells uses the exact INTEGER dot product of the
    * int8 codes — so the scored index is the 4×-smaller quantized table,
    * and every rank and dot value is integer-exact for the oracle. The
    * memory path (SQ) composing with the partition path (IVF) is the
    * standard large-scale ANN deployment shape (IVF-SQ).
    *
    * Ranking is by quantized inner product (descending, id-asc ties), the
    * max-inner-product analogue of cosine on the min-max-normalised code
    * space — deliberately its own semantics, not a float cosine repaint.
    *
    * Same self-releasing assignment cache as [[ivfKnn]]. */
  def sqKnn(emb: DataFrame, k: Int, cells: Int = 0, nprobe: Int = 4): DataFrame = {
    val qv = sqQuantize(emb)
    codeKnn(emb, cells, nprobe, qv, qv, "qv", "dot", k)
  }

  /** Integer-code top-k inside IVF cells ([[sqKnn]], [[pqKnn]]): every
    * probe carries its SQ codes from `qv`, each home row (rn = 1) the
    * `code` column of `home`, ranked by [[intTopK]] into `score`. */
  private def codeKnn(emb: DataFrame, cells: Int, nprobe: Int, qv: DataFrame,
                      home: DataFrame, code: String, score: String, k: Int): DataFrame = {
    val assign = graft.util.CacheOnce(ivfAssign(emb, cells, nprobe)
      .select(col("vec_id"), col("cell"), col("rn")))
    val l = assign.join(qv, "vec_id")
      .select(col("cell"), col("vec_id").as("a"), col("qv").as("qa"))
    val r = assign.filter(col("rn") === 1).join(home, "vec_id")
      .select(col("cell").as("cellr"), col("vec_id").as("b"), col(code).as("rb"))
    intTopK(l, r, score, k)
  }

  /** Deterministic INTEGER-exact k-means (Lloyd) over the SQ code space —
    * the clustering primitive behind cluster-balanced sampling and
    * SemDeDup-style semantic dedup. Everything is exact integer
    * arithmetic so the result is bit-identical across engines and
    * partitionings: vectors are the int8 SQ codes ([[sqQuantize]], codes
    * in [0,127]), distance is exact squared L2 (≤ 127²·dim ≪ 2⁶³),
    * assignment ties break cluster-asc, and the centroid update is the
    * elementwise FLOOR mean `sum div count` (codes are non-negative, so
    * Spark's truncating `div` and DuckDB's flooring `//` agree) — which
    * also keeps centroids in the code space across iterations. Seeds are
    * the md5-stride sample ([[centroids]] idiom, "k:" salt), cluster id =
    * seed vec_id; a cluster that loses all members keeps its previous
    * centroid (both engines replay the same rule). A FIXED `iters` Lloyd
    * rounds, no convergence test — determinism over adaptivity, exactly
    * like the integer PageRank.
    *
    * Scale shape: per round, assignment is one broadcast of the K-row
    * centroid table + a map-side-combinable `min(struct(dist, cluster))`
    * groupBy (never a window over n·K rows), and the update is a
    * (cluster, dim)-keyed partial-aggregated groupBy — both the same
    * shapes at 10¹² rows. The quantized table is consumed by every round
    * (2·iters+1 legs): CacheOnce keeps it at one build per action. K is
    * bounded by the caller exactly like IVF cells ([[MaxAutoCells]]
    * rationale); past that, cluster hierarchically as in
    * [[ivfAssignHierarchical]]. */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val qv = graft.util.CacheOnce(sqQuantize(emb))
    val par = qv.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), floor(col("n") / k).cast("long")).as("stride"))
    val init = qv.crossJoin(broadcast(par))
      .filter(pmod(graft.text.TextOps.md5Hash60(
        concat(lit("k:"), col("vec_id").cast("string"))), col("stride")) === 0)
      .select(col("vec_id").as("cluster"), col("qv").as("cv"))
    def assign(cent: DataFrame): DataFrame =
      qv.crossJoin(broadcast(cent))
        .withColumn("dist",
          aggregate(zip_with(col("qv"), col("cv"), (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("m.cluster").as("cluster"),
          col("m.dist").as("dist"))
    def update(assigned: DataFrame, prev: DataFrame): DataFrame =
      lloydUpdate(assigned.join(qv, "vec_id"), Seq("cluster"), "qv", prev)
    var cent = init
    var assigned = assign(cent)
    for (_ <- 1 to iters) {
      cent = update(assigned, cent)
      assigned = assign(cent)
    }
    assigned
  }

  /** One integer Lloyd update, shared by [[kmeansAssign]] and
    * [[pqModelFromCodes]]: each centroid keyed by `keys` becomes the
    * elementwise floor mean of its members' `vec` codes, and a centroid
    * that lost every member keeps its `prev` value: (keys…, cv). */
  private def lloydUpdate(members: DataFrame, keys: Seq[String], vec: String,
                          prev: DataFrame): DataFrame = {
    val ks = keys.map(col)
    val next = members.select(ks :+ posexplode(col(vec)).as(Seq("j", "q")): _*)
      .groupBy(ks :+ col("j"): _*)
      .agg(expr("sum(q) div count(1)").as("cq"))
      .groupBy(ks: _*)
      .agg(array_sort(collect_list(struct(col("j"), col("cq")))).as("a"))
      .select(ks :+ transform(col("a"), s => s.getField("cq")).as("cv"): _*)
    prev.select(ks :+ col("cv").as("pcv"): _*)
      .join(next, keys, "left")
      .select(ks :+ coalesce(col("cv"), col("pcv")).as("cv"): _*)
  }

  /** Cut each code vector into `subspaces` contiguous subvectors:
    * (vec_id, sub, sv). The subspace id is DATA (explode), so all M
    * codebooks train/encode in one DAG. */
  def pqSubvectors(qv: DataFrame, subspaces: Int): DataFrame =
    qv.select(col("vec_id"), col("qv"),
        explode(sequence(lit(0), lit(subspaces - 1))).as("sub"))
      .withColumn("sd", (size(col("qv")) / subspaces).cast("int"))
      .select(col("vec_id"), col("sub"),
        slice(col("qv"), col("sub") * col("sd") + 1, col("sd")).as("sv"))

  /** Per-subspace nearest-codebook-centroid assignment: exact integer
    * squared-L2, cluster-asc tie-break — the one expression shared by
    * codebook TRAINING ([[pqModelFromCodes]]'s Lloyd rounds) and
    * frozen-model ENCODING ([[PqIndex.append]]), so an append encodes
    * bit-identically to a rebuild over the same rows. */
  def pqAssignSub(sv: DataFrame, cent: DataFrame): DataFrame =
    sv.join(broadcast(cent), "sub")
      .withColumn("dist",
        aggregate(zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cluster").as("cluster"))

  /** Encode against a FROZEN codebook: (vec_id, sub, cluster). */
  def pqEncode(qv: DataFrame, book: DataFrame, subspaces: Int): DataFrame =
    pqAssignSub(pqSubvectors(qv, subspaces), book)

  /** Compact the M-rows-per-vector code table to one (vec_id,
    * code array<long>) row — the persisted index layout ([[PqIndex]]):
    * M small ints per vector, the whole point of PQ compression. */
  def pqPack(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cluster")))).as("a"))
      .select(col("vec_id"), transform(col("a"), s => s.getField("cluster")).as("code"))

  /** PQ reconstruction: per-subspace centroids concatenated in subspace
    * order — the compressed stand-in ADC ranks against. `codes` is
    * (vec_id, sub, cluster, keys…); the output is (vec_id, keys…, rv). */
  def pqReconstruct(codes: DataFrame, book: DataFrame, keys: String*): DataFrame =
    codes.join(broadcast(book), Seq("sub", "cluster"))
      .groupBy("vec_id", keys: _*)
      .agg(array_sort(collect_list(struct(col("sub"), col("cv")))).as("a"))
      .select((col("vec_id") +: keys.map(col)) :+
        flatten(transform(col("a"), s => s.getField("cv"))).as("rv"): _*)

  /** Product-quantization codebooks + codes over the SQ code table `qv`
    * (vec_id, qv) of [[sqQuantize]] — the memory path PAST scalar
    * quantization. Pass it cached, so [[pqKnn]] shares ONE quantization
    * pass between codebook training and the ADC query side. The d-dim integer code vector
    * is cut into `subspaces` contiguous subvectors; each subspace learns
    * its own `ksub`-centroid codebook by the same deterministic
    * integer-exact Lloyd rounds as [[kmeansAssign]] (md5-stride seeds
    * salted "pq:", exact squared-L2, cluster-asc ties, floor-mean
    * updates, empty cells keep their previous centroid). A vector's PQ
    * code is its per-subspace nearest-centroid id — `subspaces` small
    * ints instead of d, an 8× shrink vs the SQ codes at d=64/M=8 (32× vs
    * float32): at 10⁹ vectors the resident neighbor index drops to ~10 GB
    * cluster-wide, comfortably cacheable.
    *
    * Scale shape: the subspace id is DATA (one `explode(sequence)` per
    * row), so all M codebooks train in ONE DAG — assignment is a
    * broadcast equi-join on `sub` (codebook table is M·ksub·(d/M) = d·ksub
    * values, a few KB) + a map-side-combinable `min(struct(dist,
    * cluster))` groupBy, and the update is a (sub, cluster, j)-keyed
    * partial-aggregated groupBy. No window over n·ksub rows anywhere.
    *
    * Returns (codes, codebook): codes = (vec_id, sub, cluster); codebook =
    * (sub, cluster, cv array<long>) after `iters` Lloyd rounds. */
  def pqModelFromCodes(qv: DataFrame, subspaces: Int, ksub: Int,
                       iters: Int): (DataFrame, DataFrame) = {
    val sv = pqSubvectors(qv, subspaces)
    val par = qv.agg(count(lit(1)).as("n"))
      .select(greatest(lit(1L), floor(col("n") / ksub).cast("long")).as("stride"))
    val init = sv.crossJoin(broadcast(par))
      .filter(pmod(graft.text.TextOps.md5Hash60(
        concat(lit("pq:"), col("vec_id").cast("string"))), col("stride")) === 0)
      .select(col("sub"), col("vec_id").as("cluster"), col("sv").as("cv"))
    def assign(cent: DataFrame): DataFrame = pqAssignSub(sv, cent)
    def update(assigned: DataFrame, prev: DataFrame): DataFrame =
      lloydUpdate(assigned.join(sv, Seq("vec_id", "sub")), Seq("sub", "cluster"), "sv", prev)
    var cent = init
    for (_ <- 1 to iters) cent = update(assign(cent), cent)
    (assign(cent), cent)
  }

  /** Approximate top-k over the PRODUCT-QUANTIZED index (IVF-PQ with
    * asymmetric distance computation): candidates come from the same
    * one-pass IVF cell assignment as [[ivfKnn]]/[[sqKnn]], and ranking is
    * the exact INTEGER dot of the query's TRUE SQ codes against the
    * neighbor's PQ RECONSTRUCTION (its per-subspace centroids
    * concatenated) — classic ADC: the query keeps full precision, only
    * the stored index side is compressed. Every adot value and rank is
    * integer-exact, so the whole index — codebook training included — is
    * DuckDB-replayable (query e12).
    *
    * Ranking is by asymmetric quantized inner product (descending,
    * id-asc ties), the MIPS analogue on the min-max-normalised code
    * space — deliberately its own semantics, like [[sqKnn]].
    *
    * Scale shape on top of [[pqModelFromCodes]]: the reconstruction join is
    * broadcast (codebook is KBs), the per-cell candidate join ships
    * M-int codes instead of d-dim vectors, and the top-k compiles to
    * WindowGroupLimit (partial top-k below the exchange). Assignment and
    * quantized table self-release via [[graft.util.CacheOnce]]. */
  def pqKnn(emb: DataFrame, k: Int, subspaces: Int = 8, ksub: Int = 16,
            iters: Int = 1, cells: Int = 0, nprobe: Int = 4): DataFrame = {
    val qv = graft.util.CacheOnce(sqQuantize(emb))
    val (codes, book) = pqModelFromCodes(qv, subspaces, ksub, iters)
    codeKnn(emb, cells, nprobe, qv, pqReconstruct(codes, book), "rv", "adot", k)
  }

  /** Two-stage retrieval (the production ANN deployment shape): a cheap
    * PQ-ADC shortlist of `shortlist` candidates per query from the
    * compressed index ([[pqKnn]]), then an EXACT float-cosine re-rank of
    * only those candidates down to top-k — compressed-domain recall at
    * full-precision ranking quality, paying exact dot products on
    * `shortlist` rows per query instead of the whole probed cell.
    * Classic IVFADC + re-rank (Jégou et al.).
    *
    * Scale shape: stage 2 is two narrow hash joins (candidate ids back to
    * their float vectors) + the WindowGroupLimit top-k — candidate volume
    * is n·shortlist rows, independent of cell sizes. Rank/tie semantics
    * match [[cosineKnn]] (sim desc, id asc). */
  def pqRerankKnn(emb: DataFrame, k: Int, shortlist: Int = 20,
                  subspaces: Int = 8, ksub: Int = 16, iters: Int = 1,
                  cells: Int = 0, nprobe: Int = 4): DataFrame = {
    val cand = pqKnn(emb, shortlist, subspaces, ksub, iters, cells, nprobe)
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"))
    val (va, vb) = cosineSides(emb)
    topK(cand.join(va, "a").join(vb, "b").withColumn("sim", pairCosine), "sim", k)
  }

  /** Matryoshka-style two-stage retrieval (Kusupati et al. 2022 MRL /
    * adaptive "funnel" retrieval): inside the probed IVF cells, rank
    * candidates by cosine over only the FIRST `dPrefix` dimensions (MRL
    * embeddings front-load information, so the prefix is a trained
    * coarse scorer — here it is simply the prefix, the serving-side
    * contract), keep a `shortlist`, then re-rank just the shortlist by
    * exact full-dimension cosine. The expensive full-width dot products
    * run on n·shortlist rows instead of every candidate pair — at
    * dPrefix = d/4 the candidate-scoring flops drop ~4× against
    * [[ivfKnn]] with the same cells/nprobe, without PQ's codebook
    * training pass (the trade vs [[pqRerankKnn]]: no training, but
    * 4-byte floats per prefix dim instead of int8 codes).
    *
    * Plan shape: ONE cell equi-join (probes × home, both sides carrying
    * their float vectors — nothing joins back later), a WindowGroupLimit
    * partial top-`shortlist` on the prefix score, and the full-dim
    * projection + top-k strictly ABOVE the shortlist filter, so
    * whole-stage codegen only evaluates the wide dot on surviving rows.
    * Rank/tie semantics match [[cosineKnn]] (sim desc, id asc). */
  def mrlRerankKnn(emb: DataFrame, k: Int, dPrefix: Int = 16,
                   shortlist: Int = 20, cells: Int = 0,
                   nprobe: Int = 4): DataFrame = {
    val assign = graft.util.CacheOnce(ivfAssign(emb, cells, nprobe))
    val probes = assign.select(col("vec_id").as("a"), col("cell"), col("e").as("ea"))
    val home = assign.filter(col("rn") === 1)
      .select(col("vec_id").as("b"), col("cell").as("cellr"), col("e").as("eb"))
    def prefix(c: Column): Column = slice(c, 1, dPrefix)
    val short = rankTop(cellJoin(probes, home)
        .withColumn("psim", cosine(prefix(col("ea")), prefix(col("eb")))),
      "psim", shortlist, rank = "rs")
    topK(short.withColumn("sim", cosine(col("ea"), col("eb"))), "sim", k)
  }

  /** Cluster-balanced subsample — the diversity-sampling stage that turns
    * [[kmeansAssign]] into a curation operator (SemDeDup/DoReMi-style:
    * cap each semantic cluster at `m` members so no dense region
    * dominates the training mix). Selection within a cluster is by
    * seeded-hash order (md5 of "`seed`:vec_id", vec_id-asc ties) — a
    * deterministic uniform draw with no RNG state, the same discipline
    * as the tier-mix/split operators: reproducible on any cluster, any
    * partitioning, any retry.
    *
    * Scale shape: everything [[kmeansAssign]] does, plus one rank that
    * compiles to WindowGroupLimit — the per-cluster partial top-m runs
    * below the exchange, so a mega-cluster (the failure mode this
    * operator exists to cap) never concentrates rows on one task. */
  def clusterSample(emb: DataFrame, m: Int, k: Int = 8, iters: Int = 2,
                    seed: String = "cs"): DataFrame = {
    val w = Window.partitionBy("cluster").orderBy(col("h").asc, col("vec_id").asc)
    kmeansAssign(emb, k, iters)
      .withColumn("h", graft.text.TextOps.md5Hash60(
        concat(lit(s"$seed:"), col("vec_id").cast("string"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= m)
      .select(col("vec_id"), col("cluster"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication INSIDE k-means clusters — the published scale recipe
    * for embedding-level near-dup pruning at 10⁹ docs, where the global
    * pairwise matrix is unthinkable but the within-cluster one is
    * n²/k and embarrassingly cluster-parallel.
    *
    * Faithful to the released implementation's simplification: docs in a
    * cluster are ordered farthest-from-centroid first (the paper keeps
    * the LOWEST-centroid-similarity representative of a duplicate
    * group); doc i is dropped iff it has cosine similarity > `tau` to
    * ANY doc ranked before it — no sequential kept-status chain, so the
    * whole pass is one within-cluster self-join, deterministic on any
    * partitioning. Ordering ties break vec_id-asc; the centroid
    * distance is [[kmeansAssign]]'s integer-exact SQ-space `dist`, so
    * the rank itself is integer-deterministic and the only float
    * predicate is the pair threshold (margin pinned on the fixed data
    * by the e4/e15 margin specs — same 0.42 default as e4).
    *
    * Scale shape: everything [[kmeansAssign]] does, plus one
    * within-cluster equi-join (candidate volume Σ|c|²/2 — bounded by
    * the cluster granularity k, never all-pairs) and a groupBy on the
    * loser ids. The assignment is computed once ([[graft.util.CacheOnce]],
    * self-releasing) and feeds both the rank and the verdict join.
    * Output: (vec_id, cluster, kept 1/0) — every input doc exactly once,
    * so the caller's prune is a `kept = 1` filter that pushes to scan. */
  def semDedup(emb: DataFrame, tau: Double = 0.42, k: Int = 8,
               iters: Int = 2): DataFrame = {
    val assigned = graft.util.CacheOnce(kmeansAssign(emb, k, iters))
    val v = vectors(emb)
    val w = Window.partitionBy("cluster")
      .orderBy(col("dist").desc, col("vec_id").asc)
    val rk = assigned.join(v, "vec_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("norm", sqrt(dot(col("e"), col("e"))))
    val l = rk.select(col("cluster"), col("vec_id"), col("rn"),
      col("e").as("ea"), col("norm").as("na"))
    val r = rk.select(col("cluster").as("clr"), col("rn").as("rnr"),
      col("e").as("eb"), col("norm").as("nb"))
    val removed = l
      .join(r, col("cluster") === col("clr") && col("rnr") < col("rn"))
      .withColumn("sim", pairCosine)
      .filter(col("sim") > tau)
      .select(col("vec_id")).distinct()
      .withColumn("rm", lit(1))
    assigned.join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("rm").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * via the IVF home cells (each surviving pair scored once, a < b). */
  def cosineDupPairs(emb: DataFrame, threshold: Double, cells: Int = 0): DataFrame = {
    val assigned = ivfAssign(emb, cells, nprobe = 1)
      .withColumn("norm", sqrt(dot(col("e"), col("e"))))
    val l = assigned.select(col("cell"), col("vec_id").as("a"), col("e").as("ea"), col("norm").as("na"))
    val rr = assigned.select(col("cell").as("cellr"), col("vec_id").as("b"), col("e").as("eb"), col("norm").as("nb"))
    l.join(rr, col("cell") === col("cellr") && col("a") < col("b"))
      .withColumn("sim", pairCosine)
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"))
  }
}
