package graft.jobs

import graft.Sessions

/** spark-submit entry point for the extraction job (north rule: "launched
  * via spark-submit ... on a multi-executor cluster").
  *
  *   spark-submit --class graft.jobs.ExtractMain \
  *     --num-executors 250 --executor-cores 4 --executor-memory 16g \
  *     layoutparserspark.jar \
  *     --pages  <path or catalog table of (url, warc_ts, html, text, lang)> \
  *     --out    <output root: writes <out>/extracted + <out>/metrics> \
  *     --shuffle false    # no payload shuffle: extract in the scan's
  *                        # byte-balanced splits (default true: hash
  *                        # url into cost-sized partitions) \
  *     --run-id <id>      # lineage tag in the metrics table \
  *     --retry-failed true  # re-extract rows committed with failed=true \
  *     --collapse-recrawls true  # multi-crawl input: keep only the
  *                        # latest warc_ts snapshot per canonical url \
  *     --io iceberg       # storage seam: parquet (default) | iceberg \
  *     --scratch <fs dir> # metric-sidecar scratch (required with --io
  *                        # iceberg, where --out is a catalog namespace)
  *
  * `--io iceberg` is pure configuration (SURVEY §7): --out becomes a
  * catalog namespace (`cat.db`), the session must carry the Iceberg
  * runtime jar + `spark.sql.catalog.cat=...` conf, and every read/write
  * the job does goes through the same TableIO calls — resume, retry
  * compaction and the metrics table are identical semantics on either
  * implementation (TableIOSpec pins that).
  *
  * Master/deploy-mode come from spark-submit; the session here only adds
  * [[Sessions.ExtractionSql]]. Without spark-submit (`sbt runMain`) the
  * job runs on this host ([[Sessions.get]]). Re-running with the same
  * --out resumes: committed urls are anti-joined away before any page is
  * parsed.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val opts = Sessions.flags(args, Set("pages", "out", "shuffle", "run-id", "retry-failed",
      "io", "scratch", "collapse-recrawls"))
    val pages = opts.getOrElse("pages", sys.error("--pages required"))
    val out = opts.getOrElse("out", sys.error("--out required"))
    val shuffle = opts.get("shuffle").forall(_.toBoolean)
    val runId = opts.getOrElse("run-id", s"run-${java.util.UUID.randomUUID()}")
    val retryFailed = opts.get("retry-failed").exists(_.toBoolean)
    val io = graft.io.TableIO.named(opts.getOrElse("io", "parquet"))
    val scratch = opts.getOrElse("scratch", "")
    val collapse = opts.get("collapse-recrawls").exists(_.toBoolean)
    // a catalog-addressed io has no filesystem output root to default the
    // metric-sidecar scratch dir to — "cat.db/metrics_raw" is not a path
    if (io.isInstanceOf[graft.io.IcebergTableIO] && scratch.isEmpty)
      sys.error("--scratch <shared fs dir> is required with --io iceberg")

    val spark = Sessions.get("graft-extract", Sessions.ExtractionSql)

    val total = ExtractionJob.run(spark,
      JobConfig(pages, out, shuffle = shuffle, runId = runId,
        retryFailed = retryFailed, io = io, scratchPath = scratch,
        collapseRecrawls = collapse))
    println(resultLine(runId, total))
    spark.stop()
  }

  /** The one JSON line `main` prints, the run id escaped. */
  private[jobs] def resultLine(runId: String, total: Long): String =
    s"""{"run_id":${MetricsSink.quoted(runId)},"committed_docs":$total}"""
}
