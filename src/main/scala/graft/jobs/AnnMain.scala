package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.sim.AnnIndex

/** spark-submit entry point for the similarity-index lifecycle — the
  * serving companion of [[ExtractMain]]/[[GraphMain]] over an
  * embeddings table (vec_id, embedding):
  *
  *   spark-submit --class graft.jobs.AnnMain \
  *     --num-executors 250 --executor-cores 4 --executor-memory 16g \
  *     layoutparserspark.jar \
  *     --mode build        # build | append | query \
  *     --vectors <path or catalog table of (vec_id, embedding)> \
  *     --index   <index root: <index>/vectors (cell-partitioned),
  *                <index>/centroids> \
  *     [--queries <table of query vectors>   # query mode] \
  *     [--out <result table>                 # query mode] \
  *     [--k 5] [--nprobe 4] [--cells 0]      # 0 = auto (~sqrt n) \
  *     --io iceberg        # storage seam: parquet (default) | iceberg
  *
  * The three modes are the nightly/hourly/online split of a production
  * vector-serving table: `build` retrains centroids and rewrites the
  * corpus cell-partitioned (one assignment pass); `append` ingests a
  * batch against the FROZEN centroid set (cost scales with the batch,
  * never the corpus); `query` reads only the probed cells via dynamic
  * partition pruning (cost scales with nprobe/cells of the corpus).
  * All tables go through the [[graft.io.TableIO]] seam — an
  * Iceberg-catalog deployment is configuration.
  */
object AnnMain {
  def main(args: Array[String]): Unit = {
    val opts = graft.Sessions.flags(args, Set("mode", "vectors", "index", "io", "queries", "out",
      "k", "nprobe", "cells"))
    val mode = opts.getOrElse("mode", sys.error("--mode required"))
    val vectors = opts.getOrElse("vectors", sys.error("--vectors required"))
    val index = opts.getOrElse("index", sys.error("--index required"))
    val io = graft.io.TableIO.named(opts.getOrElse("io", "parquet"))
    val spark = graft.Sessions.get(s"graft-ann-$mode")
    run(spark, io, mode, vectors, index,
      queries = opts.get("queries"), out = opts.get("out"),
      k = opts.get("k").map(_.toInt).getOrElse(5),
      nprobe = opts.get("nprobe").map(_.toInt).getOrElse(4),
      cells = opts.get("cells").map(_.toInt).getOrElse(0))
    spark.stop()
  }

  /** Body split from `main` so specs drive it with a test session. */
  def run(spark: SparkSession, io: graft.io.TableIO, mode: String,
          vectors: String, index: String, queries: Option[String] = None,
          out: Option[String] = None, k: Int = 5, nprobe: Int = 4,
          cells: Int = 0): Unit = mode match {
    case "build" =>
      AnnIndex.build(spark, io.read(spark, vectors), io, index, cells)
    case "append" =>
      AnnIndex.append(spark, io, index, io.read(spark, vectors))
    case "query" =>
      val q = io.read(spark,
        queries.getOrElse(sys.error("--queries required in query mode")))
      val res = AnnIndex.query(spark, io, index, q, k, nprobe)
      io.overwrite(res,
        out.getOrElse(sys.error("--out required in query mode")))
    case other =>
      sys.error(s"--mode must be build|append|query, got $other")
  }
}
