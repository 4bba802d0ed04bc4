package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pages.PagesTable
import graft.SparkSuite

class CompactJobSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("graftcompact").toString

  test("compaction: fewer files, identical rows, url-clustered footer stats") {
    // simulate many small ingest commits: 20 single-partition appends
    val table = s"$tmp/table"
    val pages = PagesTable.generate(spark, seed = 7L, n = 200, partitions = 1)
    for (i <- 0 until 20)
      pages.filter(pmod(xxhash64(col("url")), lit(20)) === i)
        .coalesce(1).write.mode("append").parquet(table)

    val stats = CompactJob.run(spark, table, s"$tmp/compact",
        targetFileBytes = 1L << 20).collect().head
    val (before, after, rows) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    assert(before >= 15, s"ingest should leave ~20 small files, got $before")
    assert(after < before, s"compaction must reduce file count: $before -> $after")
    assert(rows == 200, "no rows lost or duplicated")

    val a = spark.read.parquet(table).select("url", "html")
    val b = spark.read.parquet(s"$tmp/compact").select("url", "html")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "content identical")

    // reconciliation modes: the default row count rides the rewrite pass
    // itself (observe metric, zero extra IO — asserted above as rows ==
    // 200); verifyRescan re-reads the rewritten table independently and
    // must agree with the observed count
    val verified = CompactJob.run(spark, table, s"$tmp/compact_v",
        targetFileBytes = 1L << 20, verifyRescan = true).collect().head
    assert(verified.getLong(2) == 200,
      "verifyRescan second pass agrees with the observed write count")

    // url-range clustering: with >1 output file, per-file url ranges are
    // disjoint (this is what makes footer min/max stats selective for the
    // resume anti-join scan)
    if (after > 1) {
      val ranges = spark.read.parquet(s"$tmp/compact")
        .select(col("url"), input_file_name().as("f"))
        .groupBy("f").agg(min("url").as("lo"), max("url").as("hi"))
        .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"file url ranges must not interleave: $hi1 vs $lo2")
        case _ =>
      }
    }
  }

  test("runPartitioned compacts a tiered table per partition with pruning preserved") {
    val s = spark
    import s.implicits._
    // tier-partitioned table built from many tiny appends (the TierJob
    // output shape after months of ingest)
    val table = s"$tmp/tiered"
    val pages = PagesTable.generate(spark, seed = 9L, n = 300, partitions = 1)
      .select(col("url"), col("html"),
        pmod(xxhash64(col("url")), lit(3)).cast("int").as("tier"))
    for (i <- 0 until 12)
      pages.filter(pmod(xxhash64(lit("b"), col("url")), lit(12)) === i)
        .coalesce(1).write.mode("append").partitionBy("tier").parquet(table)

    val out = s"$tmp/tiered_compact"
    val stats = CompactJob.runPartitioned(spark, table, out,
        targetFileBytes = 1L << 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(stats.map(_._1).toSeq == Seq("tier=0", "tier=1", "tier=2"),
      s"one reconciliation row per partition, got ${stats.toSeq}")
    assert(stats.forall { case (_, before, after2, _) => after2 < before },
      s"every partition must shrink its file count: ${stats.toSeq}")
    assert(stats.map(_._4).sum == 300, "no rows lost or duplicated")

    // identical content INCLUDING the partition column (re-attached from
    // the preserved col=value layout on read)
    val a = spark.read.parquet(table).select("url", "tier")
    val b = spark.read.parquet(out).select("url", "tier")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // pruning preserved: a tier filter on the compacted table reads only
    // that partition's directory
    val pruned = spark.read.parquet(out).filter(col("tier") === 1)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(pruned.nonEmpty && pruned.forall(_.contains("tier=1")),
      s"tier=1 scan must touch only tier=1 files: ${pruned.toSeq}")

    // refusal modes: flat table -> use run; partitioned root -> use this
    intercept[IllegalArgumentException] {
      CompactJob.runPartitioned(spark, s"$tmp/table", s"$tmp/x")
    }
    intercept[IllegalArgumentException] {
      CompactJob.run(spark, table, s"$tmp/y")
    }
  }
}
