package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.graph.GraphOps

/** spark-submit entry point for the web-graph build — the link-analysis
  * companion of [[ExtractMain]] over the same pages table:
  *
  *   spark-submit --class graft.jobs.GraphMain \
  *     --num-executors 250 --executor-cores 4 --executor-memory 16g \
  *     layoutparserspark.jar \
  *     --pages <path or catalog table of (url, warc_ts, html, ...)> \
  *     --out   <output root: writes <out>/edges, <out>/indegree,
  *              <out>/hostgraph, <out>/pagerank, <out>/frontier> \
  *     --iterations 3     # PageRank steps (integer-exact) \
  *     --io iceberg       # storage seam: parquet (default) | iceberg
  *
  * Write order is dependency order: the edge table materializes ONCE
  * (one DOM-parse pass over the pages scan) and every aggregate below
  * it reads the written edges back rather than re-parsing html —
  * at 10^12 pages the parse is the expensive pass, the aggregates are
  * narrow-row shuffles. The edge table is partitioned-friendly: sorted
  * within files by src so url-range footer pruning works for
  * per-site reads.
  */
object GraphMain {
  def main(args: Array[String]): Unit = {
    val opts = graft.Sessions.flags(args, Set("pages", "out", "iterations", "io"))
    val pages = opts.getOrElse("pages", sys.error("--pages required"))
    val out = opts.getOrElse("out", sys.error("--out required"))
    val iterations = opts.get("iterations").map(_.toInt).getOrElse(3)
    val io = graft.io.TableIO.named(opts.getOrElse("io", "parquet"))
    val spark = graft.Sessions.get("graft-graph")
    run(spark, io, pages, out, iterations)
    spark.stop()
  }

  /** Body split from `main` so specs drive it with a test session. */
  def run(spark: SparkSession, io: graft.io.TableIO, pages: String,
          out: String, iterations: Int = 3): Unit = {
    import org.apache.spark.sql.functions.col
    val edgesT = io.resolve(out, "edges")
    // one parse pass; within-file sort by src so parquet footer min/max
    // prune per-site edge reads
    io.overwrite(GraphOps.edges(io.read(spark, pages))
      .sortWithinPartitions(col("src")), edgesT)
    val edges = io.read(spark, edgesT)
    io.overwrite(edges.groupBy(col("target"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("in_deg"),
        org.apache.spark.sql.functions.countDistinct(col("src")).as("n_src_pages")),
      io.resolve(out, "indegree"))
    io.overwrite(GraphOps.hostGraph(edges), io.resolve(out, "hostgraph"))
    io.overwrite(GraphOps.pagerank(spark, edges, iterations),
      io.resolve(out, "pagerank"))
    // crawl-scheduler feed: uncrawled targets ranked by link demand;
    // reads the WRITTEN edges (no re-parse) + the pruned url column of
    // the pages table
    io.overwrite(GraphOps.frontier(edges, io.read(spark, pages)),
      io.resolve(out, "frontier"))
  }
}
