package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, TableIO}
import graft.text.TextOps

/** The curation stage of tier extraction: read the committed extracted
  * table, assign every document a training-data quality tier
  * ([[TextOps.tierAssign]]: reject / low / mid / high from exact-dup,
  * cross-corpus 8-gram coverage, and lexical prose signals), and rewrite
  * the corpus PARTITIONED BY TIER, so downstream training jobs prune at
  * the directory level ("read tier>=2" touches no reject/low bytes).
  *
  * Scale shape: the tier table is (url, tier, reasons) — three narrow
  * columns — produced by map-side-combinable aggregations and equi-joins
  * (see tierAssign's plan audit); attaching it back to the full rows is
  * one equi-join on url, and the partitioned write is the same single
  * pass any corpus rewrite costs. Nothing here is quadratic in corpus
  * size, and the only wide-payload shuffle is the join/write of the text
  * itself — unavoidable for a physically tier-clustered layout and paid
  * once, against every downstream epoch reading 4× less.
  *
  * Storage goes through the [[TableIO]] seam: `extractedRoot`/`outPath`
  * are paths for [[ParquetTableIO]] (default) or catalog identifiers for
  * an IcebergTableIO session.
  */
object TierJob {

  /** Tier the extracted table at `extractedRoot` (success partition only;
    * failed rows carry no text) into `outPath`'s `tiered` table,
    * partitioned by tier. Returns the per-tier document counts
    * (tier, docs).
    *
    * `edgesTable` (optional) makes the pass LINK-AWARE: the outlink edge
    * table [[GraphMain]] materialized from the same crawl feeds
    * [[graft.graph.GraphOps.hostLinkFeatures]] (per-host PageRank mass),
    * and [[graft.graph.GraphOps.linkTiers]] bumps mid-tier documents on
    * link-endorsed hosts BEFORE the tier-partitioned rewrite — the
    * physical layout then prunes on the final, link-informed tier. Cost
    * at scale: the edge list is narrow rows (never the html payload),
    * the per-host frame broadcasts, and the tier table itself takes no
    * extra shuffle — the payload join below is unchanged. */
  def run(spark: SparkSession, extractedRoot: String, outPath: String,
          io: TableIO = ParquetTableIO,
          edgesTable: Option[String] = None,
          pagerankIterations: Int = 3): DataFrame = {
    val ex = ExtractionJob.readExtracted(spark, extractedRoot, io)
    val tiers = tierStep(spark, ex, io, edgesTable, pagerankIterations)
    // shuffle-hash-join hint on the NARROW side: the default sort-merge
    // join would sort the wide text-payload rows after shuffling them —
    // pure extra bandwidth on the one unavoidable payload move. SHJ
    // builds the hash table from the 3-column tier table and streams the
    // payload side unsorted into the partitioned writer.
    val tieredTable = io.resolve(outPath, "tiered")
    io.overwrite(ex.join(tiers.hint("shuffle_hash"), "url"),
      tieredTable, Seq("tier"))

    // counts from the written table's partition column only — the scan
    // prunes to parquet footers + the directory-valued tier column
    io.read(spark, tieredTable)
      .groupBy("tier").agg(count(lit(1)).as("docs"))
  }

  /** The tier step [[run]] and [[CorpusBuildJob.run]] share: the text
    * tiers of the extracted rows `ex` as `(url, tier, reasons)`, bumped
    * by [[graft.graph.GraphOps.linkTiers]] (which adds `text_tier` and
    * `endorsed`) when `edgesTable` is set. */
  private[jobs] def tierStep(spark: SparkSession, ex: DataFrame, io: TableIO,
                             edgesTable: Option[String],
                             pagerankIterations: Int): DataFrame = {
    val textTiers = TextOps.tierAssign(
      ex.select(col("url").as("doc_id"), col("text")))
      .withColumnRenamed("doc_id", "url")
    edgesTable.fold(textTiers) { et =>
      val feats = graft.graph.GraphOps.hostLinkFeatures(
        spark, io.read(spark, et), pagerankIterations)
      graft.graph.GraphOps.linkTiers(textTiers, feats)
    }
  }
}
