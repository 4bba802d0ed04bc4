package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The bucketed committed table is a pure PLAN optimization: the ingest
  * anti-join over it must return exactly the plain-parquet result, with
  * the committed side's exchange gone (moved to write time). */
class BucketedSpec extends AnyFunSuite with SparkSuite {
  private var tmp: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.sql("DROP TABLE IF EXISTS graft_committed_bucketed")
    super.afterAll()
    if (tmp != null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("ingest anti-join over a bucketed committed table: same rows, committed side never shuffles") {
    val committedDocs = docs((0L until 40L).map(i => i -> s"committed body $i"): _*)
    val batch = docs(
      ((100L until 120L).map(i => i -> s"committed body ${i - 100}") ++ // dups
        (200L until 230L).map(i => i -> s"fresh text $i") ++            // new
        Seq(300L -> "fresh text 200")): _*)                             // within-batch dup

    // the committed corpus as it would live on disk: content_hash
    // materialized, bucketed by it (the join key)
    Bucketed.writeBucketed(
      committedDocs.select(col("doc_id"), md5(col("text")).as("content_hash")),
      "graft_committed_bucketed", s"$tmp/committed", "content_hash", nBuckets = 4)

    val plain = graft.text.TextOps.ingestDedup(batch, committedDocs)
      .collect().map(_.getLong(0)).sorted.toSeq

    // force the join shape the 10^12 case has (no broadcast escape hatch)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = graft.text.TextOps.ingestDedup(
        batch, spark.table("graft_committed_bucketed"))
      assert(bucketed.collect().map(_.getLong(0)).sorted.toSeq == plain,
        "bucketing must not change the anti-join result")

      // AQE prints Final + Initial plans; audit the final one only
      val p = bucketed.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("LeftAnti"), s"anti-join expected:\n$p")
      assert(p.contains("Bucketed: true"),
        s"committed scan must report the bucketed layout:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1,
        s"exactly ONE exchange (the incoming batch into the bucket layout) " +
          s"is allowed — the committed side must come pre-partitioned off " +
          s"the scan (found $exchanges):\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("raw path read of the same files loses the bucketing (read through the catalog)") {
    // guard against the silent regression the Bucketed scaladoc warns
    // about: spark.read.parquet(path) sees the data but not the layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batch = docs(1L -> "committed body 0", 2L -> "brand new")
      val viaPath = graft.text.TextOps.ingestDedup(
        batch, spark.read.parquet(s"$tmp/committed"))
      val p = viaPath.queryExecution.executedPlan.toString
      assert(!p.contains("Bucketed: true"),
        "path-addressed read must NOT claim bucketing (no catalog metadata)")
      assert(viaPath.collect().map(_.getLong(0)).toSeq == Seq(2L),
        "rows still correct either way")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
