package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session builder of every main: it sets the app name and pins
  * the UTC session time zone. Under spark-submit the launcher supplies the
  * master; with no `spark.master` configured (`sbt runMain`) the job runs
  * on this host: `local[cpus]`, `cpus` shuffle partitions, no UI, WARN
  * logging. */
object Sessions {

  /** `ExtractMain`'s SQL conf, which `Bench` also runs under: AQE with
    * skew-join splitting and size-first coalescing to 16 MiB partitions.
    * The extraction exchange does not coalesce: it has an explicit count
    * ([[graft.util.Spread]]), and the advisory size sets only that count's
    * byte term. Coalesced, a shuffle under 16 MiB (2,000 pages) would run
    * as one task on one core. */
  val ExtractionSql: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 * 1024 * 1024).toString)

  /** SPARK_GRAFT_CPUS, else every available processor. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def get(app: String, sql: Map[String, String] = Map.empty): SparkSession = {
    val local = !new SparkConf().contains("spark.master")
    val b = SparkSession.builder().appName(app).config("spark.sql.session.timeZone", "UTC")
    if (local) b.master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", false)
    val spark = b.config(sql).getOrCreate()
    if (local) spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A main's `--key value` arguments (a repeated key keeps its last value);
    * a token that is not a flag in `known`, or a flag with no value, fails. */
  def flags(args: Array[String], known: Set[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && known(k.drop(2)) => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"unknown flag, stray token or missing value: ${bad.head}")
    }.toMap
}
