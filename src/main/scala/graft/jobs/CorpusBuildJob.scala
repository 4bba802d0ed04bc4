package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, TableIO}
import graft.text.TextOps

/** The full tier-extraction pipeline as one job — the capstone the other
  * stages compose into: crawl pages → resumable extraction → quality-tier
  * assignment → tier-weighted epoch mix → deterministic train/val/test
  * split → one training corpus written PARTITIONED BY (split, tier).
  *
  * A training reader then prunes at the directory level twice over:
  * "train shard, tier ≥ 2" touches no val/test bytes and no rejected
  * bytes. Every decision along the way is a deterministic hash of the
  * url (mix and split use different salts, so they are independent),
  * which makes the corpus reproducible from scratch: same pages + same
  * seed → byte-identical membership, regardless of cluster size or
  * partition layout.
  *
  * Scale shape: extraction is the [[ExtractionJob]] (resume anti-join,
  * cost-sized url-hash payload shuffle); tier rules are narrow equi-joins
  * ([[TextOps.tierAssign]]); mix + split are stateless projections; the
  * single wide-payload move is the final join/write, hinted
  * `shuffle_hash` on the narrow side like [[TierJob]]. All table IO goes
  * through the [[TableIO]] seam (parquet paths by default, catalog
  * identifiers under an IcebergTableIO session).
  */
object CorpusBuildJob {

  /** Returns per-(split, tier) doc counts of the written corpus.
    *
    * `edgesTable` (optional) makes the build LINK-AWARE, exactly as in
    * [[TierJob.run]]: the outlink edge table a [[GraphMain]] run
    * materialized from the same crawl feeds
    * [[graft.graph.GraphOps.hostLinkFeatures]], and
    * [[graft.graph.GraphOps.linkTiers]] promotes mid-tier documents on
    * link-endorsed hosts BEFORE the mix — endorsed pages then draw the
    * higher tier's sampling rate and land in the higher tier's
    * partition directories. Cost shape is the same as there: narrow
    * edge rows only, the per-host frame broadcasts, the payload join
    * below is unchanged. */
  def run(spark: SparkSession, pagesPath: String, outPath: String,
          ratesBp: Map[Int, Int] = Map(0 -> 0, 1 -> 1000, 2 -> 5000, 3 -> 10000),
          seed: String = "mix", runId: String = "corpus",
          io: TableIO = ParquetTableIO,
          edgesTable: Option[String] = None,
          pagerankIterations: Int = 3,
          collapseRecrawls: Boolean = false): DataFrame = {
    val cfg = JobConfig(pagesPath, outPath, runId = runId, io = io,
      collapseRecrawls = collapseRecrawls)
    ExtractionJob.run(spark, cfg)

    val ex = ExtractionJob.readExtracted(spark, cfg)

    val tiers = TierJob.tierStep(spark, ex, io, edgesTable, pagerankIterations)
      .select(col("url").as("doc_id"), col("tier"))
    val kept = TextOps.tierMix(tiers, ratesBp, seed)
    val membership = TextOps.hashSplit(kept)
      .join(kept, "doc_id")
      .select(col("doc_id").as("url"), col("tier"), col("split"))

    val corpusTable = io.resolve(outPath, "corpus")
    io.overwrite(ex.join(membership.hint("shuffle_hash"), "url"),
      corpusTable, Seq("split", "tier"))

    io.read(spark, corpusTable)
      .groupBy("split", "tier").agg(count(lit(1)).as("docs"))
  }
}
