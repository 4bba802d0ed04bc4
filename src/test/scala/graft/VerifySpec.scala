package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The correctness dump on a named subset: exactly the named parquet
  * dirs and oracle keys, and an unknown name fails before any write. */
class VerifySpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q1_agg", "q2_join")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

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
}
