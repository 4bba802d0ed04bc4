package graft.jobs

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** ANN index lifecycle through the spark-submit entry: build → append →
  * query over the storage seam equals the one-shot library calls, and
  * each mode validates its required arguments. */
class AnnMainSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("build/append/query modes compose to the library result") {
    val tmp = java.nio.file.Files.createTempDirectory("annmain").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // stage the two vector batches as tables (the job reads tables only)
    emb.filter(col("vec_id") % 4 =!= 0).write.parquet(s"$tmp/base")
    emb.filter(col("vec_id") % 4 === 0).write.parquet(s"$tmp/batch")
    val io = graft.io.ParquetTableIO
    AnnMain.run(spark, io, "build", s"$tmp/base", s"$tmp/index")
    AnnMain.run(spark, io, "append", s"$tmp/batch", s"$tmp/index")
    AnnMain.run(spark, io, "query", s"$tmp/base", s"$tmp/index",
      queries = Some(s"$sfDir/embeddings.parquet"), out = Some(s"$tmp/knn"),
      k = 5)
    val got = spark.read.parquet(s"$tmp/knn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    // library replay: same build+append then direct query
    val root2 = java.nio.file.Files.createTempDirectory("annmain2").toString
    graft.sim.AnnIndex.build(spark, emb.filter(col("vec_id") % 4 =!= 0), io, root2)
    graft.sim.AnnIndex.append(spark, io, root2, emb.filter(col("vec_id") % 4 === 0))
    val want = graft.sim.AnnIndex.query(spark, io, root2, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(got == want, "job-mode lifecycle must equal the library calls")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
  }

  test("query mode without --queries/--out fails loudly; bad mode fails") {
    val io = graft.io.ParquetTableIO
    intercept[RuntimeException] {
      AnnMain.run(spark, io, "query", "v", "i", queries = None, out = None)
    }
    intercept[RuntimeException] {
      AnnMain.run(spark, io, "rebuild", "v", "i")
    }
  }
}
