package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (see ../../../../README.md):
  *
  *   perfbench.Main --workload extract_job|pages_tail --seed N
  *                  --seconds S --trace 0|1 --work <scratch dir>
  *
  * Runs on `local[<available processors>]` under `ExtractMain`'s SQL conf,
  * in the heap the launcher gave the JVM. Prints a report line, then as
  * the last line the result object: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. */
object Main {
  val workloads: Map[String, Workload] =
    Map("extract_job" -> ExtractJob, "pages_tail" -> PagesTail)

  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "doc_ms_p50" -> "ms", "doc_ms_p95" -> "ms",
    "scratch_bytes_per_input_byte" -> "B/B", "setup_s" -> "s")

  /** Every workload reports every layer; a layer its path never enters
    * (the Spark, text and io layers on `pages_tail`) reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "host.probe_mops" -> "Mops/s", "failed_ops_ratio" -> "ratio", "heap_peak_mb" -> "MB",
    "html.parse_us" -> "us", "extract.blocks_us" -> "us", "extract.content_ratio" -> "ratio",
    "extract.content_blocks" -> "count", "extract.us" -> "us", "extract.stage_coverage" -> "ratio",
    "geom.kde_us" -> "us", "layout.neighbors_us" -> "us", "layout.links_cc_us" -> "us",
    "layout.paragraphs_us" -> "us", "layout.order_us" -> "us", "layout.ro_us" -> "us",
    "jobs.scan_shuffle_s" -> "s", "jobs.extract_s" -> "s", "jobs.write_commit_s" -> "s",
    "jobs.tasks" -> "count", "jobs.task_wall_max_over_median" -> "ratio",
    "jobs.core_idle_share" -> "ratio", "jobs.gc_s" -> "s", "jobs.shuffle_write_mb" -> "MB",
    "jobs.spill_mb" -> "MB", "jobs.task_failures" -> "count",
    "text.tier_assign_s" -> "s", "text.crossdup_s" -> "s", "text.shuffle_write_mb" -> "MB",
    "jobs.tier_pass_s" -> "s", "io.output_mb" -> "MB",
    "trace.docs_per_s" -> "docs/s", "trace.overhead_share" -> "ratio")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      workloads.keys.toSeq.sorted.mkString("|") + " --seed N --seconds S --trace 0|1 --work DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = opts.getOrElse(k, usage(s"--$k is required"))
    val name = arg("workload")
    val workload = workloads.getOrElse(name, usage(s"unknown workload $name"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = new java.io.File(arg("work"))
    val cores = Runtime.getRuntime.availableProcessors

    def session = {
      val spark = SparkSession.builder()
        .appName("perfbench")
        .master(s"local[$cores]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
        // ExtractMain's SQL conf
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16 * 1024 * 1024).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

    val probe = HostProbe.mops()
    val r = new Run(session, seed, seconds, trace, cores, work)
    val o = try workload.run(r) finally r.stop()
    val ops = r.ops

    val measured = (o.endToEnd ++ o.perLayer ++ Seq(
      Metric("host.probe_mops", probe, "Mops/s"),
      Metric("failed_ops_ratio", ops.failedRatio, "ratio"))).map(m => m.name -> m).toMap
    val wanted = if (trace) perLayer else endToEnd
    val result = wanted.map { case (n, unit) =>
      measured.getOrElse(n, Metric(n, 0.0, unit)) }

    val env = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> trace.toString, "master" -> Json.str(s"local[$cores]"),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION))
    println(Json.obj(Seq("report" -> Json.obj(Seq(
      "env" -> Json.obj(env),
      "inputs" -> Json.obj(o.inputs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(o.samples.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "failures" -> Json.obj(ops.reasons.toSeq.map { case (k, v) => k -> v.toString }),
      "metrics" -> Json.metrics(measured.values.toSeq.sortBy(_.name)))))))
    println(Json.obj(Seq(
      "correct" -> (ops.failed == 0).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.metrics(result))))
  }
}

/** Just enough JSON for the two output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new ArithmeticException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
