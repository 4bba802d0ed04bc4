package graft.sim

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetTableIO
import graft.SparkSuite

/** Persisted PQ model (build-once / query-many compressed index):
  * equivalence with the inline IVF-PQ chain, frozen-model append,
  * partition pruning, and the compressed persisted layout. */
class PqIndexSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = java.nio.file.Files.createTempDirectory("pqindex").toString
    PqIndex.build(spark, emb, ParquetTableIO, root)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("self-query of the persisted model is bit-identical to inline pqKnn") {
    val persisted = rows(PqIndex.query(spark, ParquetTableIO, root, emb, k = 5))
    val inline = rows(Ann.pqKnn(emb, k = 5))
    spark.catalog.clearCache()
    assert(persisted == inline,
      "persisted-model self-query must reproduce inline IVF-PQ/ADC exactly " +
        "(ranks AND adots)")
  }

  test("persisted layout is the compressed one: M-int codes, no floats in the corpus table") {
    val codes = spark.read.parquet(s"$root/codes")
    assert(codes.columns.sorted.toSeq == Seq("cell", "code", "vec_id"))
    val first = codes.select("code").head.getSeq[Long](0)
    assert(first.length == 8, s"expected M=8 subspace codes, got ${first.length}")
    // model tables are KB-scale: ~ksub clusters per subspace (the
    // deterministic stride sample yields ≈ksub seeds, identical across
    // subspaces because seeding is on vec_id), ranges dim rows
    val book = spark.read.parquet(s"$root/codebook")
      .groupBy("sub").count().collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(book.length == 8 && book.map(_._2).distinct.length == 1,
      s"every subspace carries the same cluster count, got ${book.toSeq}")
    assert(book.head._2 >= 8 && book.head._2 <= 24,
      s"~ksub=16 stride-sampled clusters expected, got ${book.head._2}")
    val dim = emb.select("embedding").head.getSeq[Float](0).length
    assert(spark.read.parquet(s"$root/sq_range").count() == dim.toLong)
  }

  test("small query batch prunes the codes scan to the probed cells") {
    val batch = emb.filter(col("vec_id") < 2)
    val df = PqIndex.query(spark, ParquetTableIO, root, batch, k = 3, nprobe = 2)
    val got = df.collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) < 2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the codes scan, plan:\n$plan")
  }

  test("append encodes against the FROZEN model: no retrain, batch-split invariant, new rows retrievable") {
    val r2 = java.nio.file.Files.createTempDirectory("pqappend").toString
    val r3 = java.nio.file.Files.createTempDirectory("pqappend2").toString
    try {
      val base = emb.filter(col("vec_id") % 4 =!= 0)
      val rest = emb.filter(col("vec_id") % 4 === 0)
      PqIndex.build(spark, base, ParquetTableIO, r2)
      def model(r: String) = Seq("sq_range", "codebook", "centroids").map { t =>
        spark.read.parquet(s"$r/$t").collect().map(_.toString).sorted.toSeq
      }
      val before = model(r2)
      PqIndex.append(spark, ParquetTableIO, r2, rest)
      assert(model(r2) == before,
        "append must not touch ranges, codebook or centroids")
      // one batch vs two batches of the same rows -> identical results
      PqIndex.build(spark, base, ParquetTableIO, r3)
      PqIndex.append(spark, ParquetTableIO, r3, rest.filter(col("vec_id") % 8 === 0))
      PqIndex.append(spark, ParquetTableIO, r3, rest.filter(col("vec_id") % 8 =!= 0))
      def q(r: String) = rows(PqIndex.query(spark, ParquetTableIO, r, emb, k = 5))
      val one = q(r2); val two = q(r3)
      assert(one == two, "append must be batch-split invariant")
      assert(one.exists(_._2 % 4 == 0),
        "appended vectors must surface in query results")
      // appended rows encode with the frozen codebook: every code id is
      // one the base-corpus codebook defines
      val bookIds = spark.read.parquet(s"$r2/codebook")
        .select(col("cluster")).collect().map(_.getLong(0)).toSet
      val appendedCodes = spark.read.parquet(s"$r2/codes")
        .filter(col("vec_id") % 4 === 0)
        .select(org.apache.spark.sql.functions.explode(col("code")).as("c"))
        .collect().map(_.getLong(0)).toSet
      assert(appendedCodes.subsetOf(bookIds))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r3))
    }
  }

  test("append is idempotent: the same batch appended twice leaves one append's table and results") {
    val r1 = java.nio.file.Files.createTempDirectory("pqonce").toString
    val r2 = java.nio.file.Files.createTempDirectory("pqtwice").toString
    try {
      val base = emb.filter(col("vec_id") % 4 =!= 0)
      val rest = emb.filter(col("vec_id") % 4 === 0)
      for (r <- Seq(r1, r2)) {
        PqIndex.build(spark, base, ParquetTableIO, r)
        PqIndex.append(spark, ParquetTableIO, r, rest)
      }
      PqIndex.append(spark, ParquetTableIO, r2, rest) // a retried batch
      def count(r: String) = spark.read.parquet(s"$r/codes").count()
      assert(count(r2) == count(r1), "a re-appended batch must add no rows")
      def q(r: String) = rows(PqIndex.query(spark, ParquetTableIO, r, emb, k = 5))
      assert(q(r2) == q(r1), "query after a re-append must equal one append's")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r1))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
    }
  }

  test("query of an UNINDEXED id quantizes against the frozen ranges: exact-copy probe replays vec 0's ranking") {
    // probe = vec 0's embedding under a NEW id: quantized against the
    // frozen ranges it gets vec 0's exact SQ codes, so its ADC scores
    // against every other vector equal vec 0's self-query scores — its
    // result list, with the vec-0 row itself removed (the probe's id
    // differs, so vec 0 is a legal neighbor of the probe), must replay
    // vec 0's neighbors in order with identical adots
    val s = spark
    import s.implicits._
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val probe = Seq((100000L, v0)).toDF("vec_id", "embedding")
    val got = PqIndex.query(spark, ParquetTableIO, root, probe, k = 6)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
      .sortBy(_._1).sortBy(-_._2).filter(_._1 != 0L).take(5).toSeq
    val self = PqIndex.query(spark, ParquetTableIO, root,
        emb.filter(col("vec_id") === 0), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
      .sortBy(_._1).sortBy(-_._2).toSeq
    assert(got == self,
      s"frozen-range quantization must make the copy interchangeable: got=$got self=$self")
  }
}
