package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pages.PagesTable

/** The correctness dump on a named subset: exactly the named parquet
  * dirs and oracle keys, and an unknown name fails before any write. */
class VerifySpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q1_agg", "q2_join")

  test("named queries write exactly their parquet dirs and oracle keys") {
    val out = Files.createTempDirectory("verify").toString
    Verify.dump(spark, sfDir, out, names)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == names.toSet)
    names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0, n))
    val oracle = spark.read.json(s"$out/oracle_sql.json")
    assert(oracle.columns.toSet == names.toSet)
    assert(oracle.count() == 1)
  }

  test("an unknown name throws before anything is written") {
    val out = Files.createTempDirectory("verify").resolve("out").toFile
    intercept[IllegalArgumentException] {
      Verify.dump(spark, sfDir, out.toString, Seq("q1_agg", "no_such_query"))
    }
    assert(!out.exists())
  }

  test("pages tables live under the checkout root that holds the golden sidecars") {
    val data = new java.io.File(PagesTable.dirFor("sf0.01")).getParentFile.getParentFile
    assert(data.getName == "data")
    assert(new java.io.File(data.getParentFile, "src/test/resources/golden/sidecars").isDirectory)
  }
}
