package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pages.PagesTable
import graft.text.TextOps
import graft.SparkSuite

class TierJobSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("grafttier").toString

  test("tier job: extraction output rewritten tier-partitioned, counts reconcile, pruning works") {
    val pagesPath = s"$tmp/pages"
    val outPath = s"$tmp/out"
    PagesTable.generate(spark, seed = 9L, n = 200, partitions = 4)
      .write.parquet(pagesPath)
    val total = ExtractionJob.run(spark, JobConfig(pagesPath, outPath, runId = "t1"))
    assert(total == 200)

    val counts = TierJob.run(spark, s"$outPath/extracted", outPath).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set(0, 1, 2, 3)), s"tiers in 0..3: $counts")
    assert(counts.values.sum == 200, s"every doc landed in exactly one tier: $counts")

    // physical layout: one directory per observed tier -> downstream
    // tier>=2 readers prune reject/low bytes at the directory level
    val dirs = new java.io.File(s"$outPath/tiered").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == counts.keySet.map(t => s"tier=$t"), s"partition dirs: $dirs")

    val tiered = spark.read.parquet(s"$outPath/tiered")
    assert(tiered.select("url").distinct().count() == 200, "one row per url")
    assert(!tiered.columns.contains("failed"), "curated table drops the failed flag")

    // the written tiers are the same assignment tierAssign computes from
    // the extracted text directly (the job added no drift on the way out)
    val direct = TextOps.tierAssign(
        spark.read.parquet(s"$outPath/extracted")
          .select(col("url").as("doc_id"), col("text")))
      .select(col("doc_id").as("url"), col("tier").as("want"))
    assert(tiered.select("url", "tier").join(direct, "url")
      .filter(col("tier") =!= col("want")).count() == 0)

    // a tier filter reaches the reader as a partition filter, not a scan
    val pruned = tiered.filter(col("tier") === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tier"),
      s"tier filter must prune partitions:\n$plan")
  }

  test("link-aware tier job: edge table bumps endorsed mid-tier docs before the rewrite") {
    val pagesPath = s"$tmp/pages2"
    val outPath = s"$tmp/out2"
    PagesTable.generate(spark, seed = 11L, n = 200, partitions = 4)
      .write.parquet(pagesPath)
    assert(ExtractionJob.run(spark,
      JobConfig(pagesPath, outPath, runId = "t2")) == 200)
    // the edge table a GraphMain run would have materialized
    val edgesPath = s"$outPath/edges"
    graft.graph.GraphOps.edges(spark.read.parquet(pagesPath))
      .write.parquet(edgesPath)

    val counts = TierJob.run(spark, s"$outPath/extracted", outPath,
      edgesTable = Some(edgesPath)).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 200)

    // the written final tiers equal applying the batch operators directly
    val textTiers = TextOps.tierAssign(
        spark.read.parquet(s"$outPath/extracted")
          .select(col("url").as("doc_id"), col("text")))
      .withColumnRenamed("doc_id", "url")
    val feats = graft.graph.GraphOps.hostLinkFeatures(
      spark, spark.read.parquet(edgesPath))
    val want = graft.graph.GraphOps.linkTiers(textTiers, feats)
      .select(col("url"), col("tier").as("want"),
        col("text_tier").as("want_text_tier"))
    val tiered = spark.read.parquet(s"$outPath/tiered")
    assert(tiered.join(want, "url")
      .filter(col("tier") =!= col("want") ||
        col("text_tier") =!= col("want_text_tier")).count() == 0)
    // provenance columns survive the rewrite
    assert(Set("text_tier", "endorsed", "reasons")
      .subsetOf(tiered.columns.toSet), tiered.columns.mkString(","))
    // partition dirs reflect the FINAL (link-informed) tier
    val dirs = new java.io.File(s"$outPath/tiered").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == counts.keySet.map(t => s"tier=$t"), s"partition dirs: $dirs")
  }
}
