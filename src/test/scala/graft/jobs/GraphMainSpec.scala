package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** End-to-end web-graph build through the storage seam: the four output
  * tables exist, reconcile with each other, and the pagerank table
  * replays bit-identically from the written edges. */
class GraphMainSpec extends AnyFunSuite with SparkSuite {
  test("GraphMain.run writes edges/indegree/hostgraph/pagerank that reconcile") {
    val pagesPath = graft.pages.PagesTable.ensure(spark, "sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graphmain").toString
    GraphMain.run(spark, graft.io.ParquetTableIO, pagesPath, out)

    val edges = spark.read.parquet(s"$out/edges")
    val indeg = spark.read.parquet(s"$out/indegree")
    val hostg = spark.read.parquet(s"$out/hostgraph")
    val pr = spark.read.parquet(s"$out/pagerank")

    // edges match a direct derivation from the same pages
    val direct = graft.graph.GraphOps.edges(spark.read.parquet(pagesPath))
    assert(edges.count() == direct.count())
    // in-degree reconciles: sum of in_deg = edge count, one row per target
    val sums = indeg.agg(
      org.apache.spark.sql.functions.sum("in_deg"),
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect()(0)
    assert(sums.getLong(0) == edges.count())
    assert(sums.getLong(1) == edges.select("target").distinct().count())
    // host graph covers every edge exactly once
    assert(hostg.agg(org.apache.spark.sql.functions.sum("n_links"))
      .collect()(0).getLong(0) == edges.count())
    // pagerank: one row per node (src union target), bit-identical to a
    // recompute from the written edge table
    val nNodes = edges.select("src").union(edges.select("target"))
      .distinct().count()
    assert(pr.count() == nNodes)
    val recomputed = graft.graph.GraphOps.pagerank(spark, edges, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val written = pr.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(written == recomputed, "pagerank must replay bit-identically from the written edges")
    // frontier: every row is an uncrawled target; in_links reconcile
    // against the in-degree table for the frontier subset
    val frontier = spark.read.parquet(s"$out/frontier")
    assert(frontier.join(spark.read.parquet(pagesPath).select("url"),
      frontier("target") === org.apache.spark.sql.functions.col("url"))
      .count() == 0, "frontier must contain no crawled url")
    assert(frontier.join(indeg, "target")
      .filter(frontier("in_links") =!= indeg("in_deg")).count() == 0,
      "frontier in_links must equal the in-degree table's count")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}
