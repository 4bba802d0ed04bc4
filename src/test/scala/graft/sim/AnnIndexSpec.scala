package graft.sim

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetTableIO
import graft.SparkSuite

/** Persisted IVF index (build-once / query-many): equivalence with the
  * inline index, partition pruning at query time, rebuild semantics. */
class AnnIndexSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = java.nio.file.Files.createTempDirectory("annindex").toString
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("self-query of the persisted index is bit-identical to inline ivfKnn") {
    AnnIndex.build(spark, emb, ParquetTableIO, root)
    val persisted = AnnIndex.query(spark, ParquetTableIO, root, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    val inline = Ann.ivfKnn(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    spark.catalog.clearCache()
    assert(persisted == inline,
      "persisted-index self-query must reproduce the inline IVF exactly")
  }

  test("small query batch prunes the vectors scan to the probed cells") {
    // 2 queries x nprobe 2 touch <= 4 of the ~23 cells; dynamic
    // partition pruning must reach the vectors scan as a partition
    // filter (the 10^9-vector case: read nprobe/cells of the table,
    // not the table).
    AnnIndex.build(spark, emb, ParquetTableIO, root)
    val batch = emb.filter(col("vec_id") < 2)
    val df = AnnIndex.query(spark, ParquetTableIO, root, batch, k = 3, nprobe = 2)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) < 2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the vectors scan, plan:\n$plan")
  }

  test("rebuild overwrites: a stale index never leaks into query results") {
    val half = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.build(spark, half, ParquetTableIO, root)
    val ids = AnnIndex.query(spark, ParquetTableIO, root, emb, k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ % 2 == 0),
      "neighbors must come from the rebuilt (half) corpus only")
    AnnIndex.build(spark, emb, ParquetTableIO, root) // restore full index
  }

  test("append ingests without retrain: centroids frozen, batch-split invariant, new rows retrievable") {
    val r2 = java.nio.file.Files.createTempDirectory("annappend").toString
    val r3 = java.nio.file.Files.createTempDirectory("annappend2").toString
    try {
      val base = emb.filter(col("vec_id") % 4 =!= 0)
      val rest = emb.filter(col("vec_id") % 4 === 0)
      AnnIndex.build(spark, base, ParquetTableIO, r2)
      val centBefore = spark.read.parquet(s"$r2/centroids")
        .collect().map(_.getLong(0)).sorted.toSeq
      AnnIndex.append(spark, ParquetTableIO, r2, rest)
      val centAfter = spark.read.parquet(s"$r2/centroids")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(centBefore == centAfter, "append must not retrain centroids")
      // same rows appended as two batches -> identical query results
      AnnIndex.build(spark, base, ParquetTableIO, r3)
      AnnIndex.append(spark, ParquetTableIO, r3,
        rest.filter(col("vec_id") % 8 === 0))
      AnnIndex.append(spark, ParquetTableIO, r3,
        rest.filter(col("vec_id") % 8 =!= 0))
      def q(root: String) = AnnIndex.query(spark, ParquetTableIO, root, emb, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      val one = q(r2); val two = q(r3)
      assert(one == two, "append must be batch-split invariant")
      // appended vectors are retrievable as neighbors
      assert(one.exists(_._2 % 4 == 0),
        "appended vectors must surface in query results")
      // and the appended rows landed in cells of the FROZEN centroid set
      val cells = spark.read.parquet(s"$r2/vectors")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(cells.subsetOf(centBefore.toSet))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r3))
    }
  }

  test("append is idempotent: the same batch appended twice leaves one append's table and results") {
    val r1 = java.nio.file.Files.createTempDirectory("annonce").toString
    val r2 = java.nio.file.Files.createTempDirectory("anntwice").toString
    try {
      val base = emb.filter(col("vec_id") % 4 =!= 0)
      val rest = emb.filter(col("vec_id") % 4 === 0)
      for (r <- Seq(r1, r2)) {
        AnnIndex.build(spark, base, ParquetTableIO, r)
        AnnIndex.append(spark, ParquetTableIO, r, rest)
      }
      AnnIndex.append(spark, ParquetTableIO, r2, rest) // a retried batch
      def count(r: String) = spark.read.parquet(s"$r/vectors").count()
      assert(count(r2) == count(r1), "a re-appended batch must add no rows")
      def q(r: String) = AnnIndex.query(spark, ParquetTableIO, r, emb, k = 5)
        .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(q(r2) == q(r1), "query after a re-append must equal one append's")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r1))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
    }
  }
}
