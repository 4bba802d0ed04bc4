package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pages.PagesTable
import graft.text.TextOps
import graft.SparkSuite

class CorpusBuildJobSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("graftcorpus").toString

  test("corpus build: pages -> (split, tier)-partitioned corpus, reproducible membership") {
    val pagesPath = s"$tmp/pages"
    PagesTable.generate(spark, seed = 11L, n = 200, partitions = 4)
      .write.parquet(pagesPath)

    val out1 = s"$tmp/out1"
    val counts = CorpusBuildJob.run(spark, pagesPath, out1)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts.nonEmpty)
    assert(!counts.keySet.exists(_._2 == 0), "rate-0 reject tier never committed")
    assert(counts.keySet.forall { case (s, t) =>
      Set("train", "val", "test")(s) && (1 to 3).contains(t) }, s"keys: ${counts.keySet}")

    val corpus = spark.read.parquet(s"$out1/corpus")
    assert(corpus.select("url").distinct().count() == corpus.count(), "one row per url")

    // membership replays from the extracted text alone: tier from
    // tierAssign, kept iff the mix hash admits its tier, split from
    // hashSplit — the corpus is exactly that set
    val ex = spark.read.parquet(s"$out1/extracted")
      .filter(!coalesce(col("failed").cast("boolean"), lit(false)))
    val tiers = TextOps.tierAssign(ex.select(col("url").as("doc_id"), col("text")))
      .select(col("doc_id"), col("tier"))
    val want = TextOps.hashSplit(TextOps.tierMix(tiers,
        Map(0 -> 0, 1 -> 1000, 2 -> 5000, 3 -> 10000)))
      .select(col("doc_id").as("url"), col("split").as("want_split"))
    val got = corpus.select("url", "split")
    assert(got.count() == want.count(), "corpus membership = mixed set")
    assert(got.join(want, "url").filter(col("split") =!= col("want_split")).count() == 0)

    // same pages + same seed into a fresh output -> identical membership
    val out2 = s"$tmp/out2"
    CorpusBuildJob.run(spark, pagesPath, out2).collect()
    val a = spark.read.parquet(s"$out1/corpus").select("url", "split", "tier")
    val b = spark.read.parquet(s"$out2/corpus").select("url", "split", "tier")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "corpus build must be reproducible run-to-run")

    // split+tier filters prune at the directory level
    val plan = spark.read.parquet(s"$out1/corpus")
      .filter(col("split") === "train" && col("tier") >= 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"must partition-prune:\n$plan")
  }

  test("link-aware corpus build: edge table promotes endorsed docs before the mix") {
    val pagesPath = s"$tmp/pages_la"
    PagesTable.generate(spark, seed = 13L, n = 200, partitions = 4)
      .write.parquet(pagesPath)
    val edgesPath = s"$tmp/edges_la"
    graft.graph.GraphOps.edges(spark.read.parquet(pagesPath))
      .write.parquet(edgesPath)

    val out = s"$tmp/out_la"
    CorpusBuildJob.run(spark, pagesPath, out,
      edgesTable = Some(edgesPath)).collect()

    // membership replays from the batch operators composed directly:
    // text tiers -> link bump -> mix -> split
    val ex = spark.read.parquet(s"$out/extracted")
      .filter(!coalesce(col("failed").cast("boolean"), lit(false)))
    val textTiers = TextOps.tierAssign(
        ex.select(col("url").as("doc_id"), col("text")))
      .select(col("doc_id"), col("tier"))
    val feats = graft.graph.GraphOps.hostLinkFeatures(
      spark, spark.read.parquet(edgesPath))
    val bumped = graft.graph.GraphOps.linkTiers(
        textTiers.withColumnRenamed("doc_id", "url"), feats)
      .select(col("url").as("doc_id"), col("tier"))
    val want = TextOps.hashSplit(TextOps.tierMix(bumped,
        Map(0 -> 0, 1 -> 1000, 2 -> 5000, 3 -> 10000)))
      .join(bumped, "doc_id")
      .select(col("doc_id").as("url"), col("split").as("want_split"),
        col("tier").as("want_tier"))
    val got = spark.read.parquet(s"$out/corpus").select("url", "split", "tier")
    assert(got.count() == want.count(), "corpus membership = link-bumped mixed set")
    assert(got.join(want, "url").filter(col("split") =!= col("want_split") ||
      col("tier") =!= col("want_tier")).count() == 0)

    // the bump is live on this corpus: at least one endorsed tier-2 doc
    // landed in a tier-3 directory (seed chosen so the property holds)
    val promoted = textTiers.filter(col("tier") === 2)
      .join(bumped.filter(col("tier") === 3), "doc_id")
    assert(promoted.count() > 0,
      "fixture must exercise the promotion path (pick another seed if not)")
  }
}
