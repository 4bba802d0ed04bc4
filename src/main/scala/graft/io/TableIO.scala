package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The storage seam SURVEY.md §7 commits to: every lifecycle job
  * ([[graft.jobs.ExtractionJob]], [[graft.jobs.TierJob]],
  * [[graft.jobs.CorpusBuildJob]], [[graft.jobs.CompactJob]]) addresses
  * tables ONLY through this trait, so the production deployment target
  * (an Iceberg-style catalog table, per BASELINE.json's north rule) is a
  * constructor argument, not a find-and-replace. Every operation here is
  * deliberately format-agnostic DataFrame semantics — read, append,
  * overwrite, replace-one-partition — which is the exact subset the
  * resume/retry/curation flows need (no MERGE INTO in any hot path).
  *
  * `table` strings are implementation-addressed: a filesystem path for
  * [[ParquetTableIO]], a catalog identifier (`catalog.db.name`) for
  * [[IcebergTableIO]]. Jobs derive them via [[TableIO.resolve]] from the
  * job's output root, so the same job code runs against either.
  */
trait TableIO {

  /** Child-table address under a root: `root/name` for path-addressed
    * implementations, `root.name` for catalog-addressed ones. */
  def resolve(root: String, name: String): String

  /** True when the table exists AND holds committed data (for resumable
    * jobs this is the "has anything been committed yet" probe). */
  def hasData(spark: SparkSession, table: String): Boolean

  def read(spark: SparkSession, table: String): DataFrame

  /** Append rows; `partitionCols` declares the physical partitioning for
    * implementations that take it per-write (Parquet). Catalog formats
    * carry the spec on the table itself — the argument must still be
    * passed so a first write can create the table with the right spec. */
  def append(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit

  def overwrite(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit

  /** Replace ALL rows of the partition `partCol = value` with `df`
    * (which does NOT carry the partition column). Must be atomic or
    * crash-recoverable via [[recover]]: a job killed at any point inside
    * this call must, after `recover`, leave the table holding exactly
    * either the old or the new partition contents. */
  def replacePartition(spark: SparkSession, table: String, partCol: String,
                       value: String, df: DataFrame): Unit

  /** Finish (or roll back) any [[replacePartition]] a crashed run left
    * half-done. Idempotent; a no-op for transactional formats whose
    * partition replace is a single atomic snapshot commit. */
  def recover(spark: SparkSession, table: String): Unit
}

object TableIO {

  /** The implementation a main's `--io` value names. */
  def named(name: String): TableIO = name match {
    case "parquet" => ParquetTableIO
    case "iceberg" => new IcebergTableIO()
    case other     => sys.error(s"--io must be parquet|iceberg, got $other")
  }
}

/** Plain-parquet implementation — what tests and the sandbox bench run.
  *
  * Non-transactional parquet needs explicit crash-safety machinery:
  * [[replacePartition]] materialises the replacement to a sibling
  * `.replace_<table>_<partCol>=<value>` temp dir (with `_SUCCESS`)
  * BEFORE deleting the target partition, and [[recover]] completes or
  * discards interrupted swaps from those markers at the next run's
  * start — a completed temp dir (marker present) is authoritative for
  * its partition; an incomplete one is an aborted write whose originals
  * are untouched. This entire dance is what a transactional format gives
  * for free ([[IcebergTableIO]]'s versions are one-liners).
  */
object ParquetTableIO extends TableIO {

  def resolve(root: String, name: String): String = s"$root/$name"

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive probe: partitioned layouts nest part files under
    * `col=value/` dirs, so a flat listing would miss them. Works through
    * the path's own Hadoop FileSystem (hdfs/s3/local all behave). */
  def hasData(spark: SparkSession, table: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(table)
    val fs = fsOf(spark, path)
    if (!fs.exists(path)) false
    else {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  def append(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    // A pre-upgrade FLAT table (top-level part files) must NOT receive a
    // partitioned append: Spark's partition discovery rejects the mixed
    // directory ("conflicting directory structures") and the resumable
    // table would be bricked — refuse up front and point at the one-time
    // migration (ExtractionJob.migrateLayout).
    if (partitionCols.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(table)
      val fs = fsOf(spark(df), root)
      if (fs.exists(root) && fs.listStatus(root)
            .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        throw new IllegalStateException(
          s"$table uses the pre-upgrade flat layout; run " +
            "ExtractionJob.migrateLayout(spark, outPath) once before resuming")
    }
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(table)
  }

  def overwrite(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(table)
  }

  private def spark(df: DataFrame): SparkSession = df.sparkSession

  /** Temp-dir address for a partition replace: a dot-prefixed SIBLING of
    * the table (never inside it — partition discovery must not see it),
    * deterministically named from (table, partition) so [[recover]] can
    * re-derive the target from the directory name alone. */
  private def tmpFor(table: String, partCol: String, value: String) = {
    val p = new org.apache.hadoop.fs.Path(table)
    new org.apache.hadoop.fs.Path(p.getParent,
      s".replace_${p.getName}_$partCol=$value")
  }

  /** The crash-recoverable tail of a partition replace: the completed
    * temp dir (`_SUCCESS` present) is authoritative — delete the live
    * partition, append the temp contents back under the partition value,
    * remove the temp. Idempotent: re-running after a crash at ANY point
    * repeats the delete + append and converges to the same state. */
  private def completeReplace(sparkS: SparkSession, table: String,
                              partCol: String, value: String,
                              tmp: org.apache.hadoop.fs.Path): Unit = {
    val part = new org.apache.hadoop.fs.Path(s"$table/$partCol=$value")
    val fs = fsOf(sparkS, part)
    fs.delete(part, true)
    val replacement = sparkS.read.parquet(tmp.toString)
    if (!replacement.isEmpty)
      append(replacement.withColumn(partCol, lit(value)), table, Seq(partCol))
    if (!fs.delete(tmp, true))
      throw new java.io.IOException(s"could not remove replace tmp $tmp")
  }

  def replacePartition(spark: SparkSession, table: String, partCol: String,
                       value: String, df: DataFrame): Unit = {
    val tmp = tmpFor(table, partCol, value)
    // materialise away from the dir being replaced, then swap via the
    // crash-recoverable tail (a crash between the partition delete and
    // the re-append is repaired by recover() at the next run's start)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    completeReplace(spark, table, partCol, value, tmp)
  }

  def recover(spark: SparkSession, table: String): Unit = {
    val tablePath = new org.apache.hadoop.fs.Path(table)
    val parent = tablePath.getParent
    val fs = fsOf(spark, tablePath)
    if (parent == null || !fs.exists(parent)) return
    val prefix = s".replace_${tablePath.getName}_"
    fs.listStatus(parent).foreach { s =>
      val name = s.getPath.getName
      if (s.isDirectory && name.startsWith(prefix)) {
        val spec = name.stripPrefix(prefix) // "<partCol>=<value>"
        val eq = spec.indexOf('=')
        val complete =
          fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))
        if (eq > 0 && complete)
          completeReplace(spark, table, spec.substring(0, eq),
            spec.substring(eq + 1), s.getPath)
        else if (!fs.delete(s.getPath, true))
          throw new java.io.IOException(
            s"could not remove aborted replace tmp ${s.getPath}")
      }
    }
  }
}

/** Iceberg implementation — pure configuration, zero new semantics: the
  * identical DataFrame operations addressed at a catalog table. Usable
  * on any cluster whose session carries the Iceberg runtime jar plus
  * catalog conf (`spark.sql.catalog.<name>=org.apache.iceberg.spark
  * .SparkCatalog` + warehouse props); this sandbox ships no Iceberg jar
  * (SURVEY §7), so this class compiles against the stock Spark
  * DataFrameWriterV2 API and is exercised on a real cluster only.
  *
  * The crash-safety machinery [[ParquetTableIO]] hand-rolls collapses
  * here into snapshot semantics: `overwritePartitions` is one atomic
  * commit, so [[replacePartition]] needs no temp dir and [[recover]] is
  * a no-op (an interrupted commit simply never becomes the current
  * snapshot). Small-file compaction (the [[graft.jobs.CompactJob]]
  * maintenance pass) maps to the `rewrite_data_files` procedure.
  */
final class IcebergTableIO(format: String = "iceberg") extends TableIO {

  def resolve(root: String, name: String): String = s"$root.$name"

  def hasData(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) && !spark.read.table(table).isEmpty

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.table(table)

  def append(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    if (!df.sparkSession.catalog.tableExists(table)) {
      // first write creates the table carrying the partition spec; later
      // appends inherit it from the catalog
      val w = df.writeTo(table).using(format)
      (partitionCols match {
        case head +: tail => w.partitionedBy(col(head), tail.map(col): _*)
        case _            => w
      }).create()
    } else df.writeTo(table).append()

  def overwrite(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    val w = df.writeTo(table).using(format)
    (partitionCols match {
      case head +: tail => w.partitionedBy(col(head), tail.map(col): _*)
      case _            => w
    }).createOrReplace()
  }

  def replacePartition(spark: SparkSession, table: String, partCol: String,
                       value: String, df: DataFrame): Unit =
    // dynamic partition overwrite as ONE atomic snapshot commit: only the
    // partitions present in df (exactly partCol=value) are replaced
    df.withColumn(partCol, lit(value)).writeTo(table).overwritePartitions()

  def recover(spark: SparkSession, table: String): Unit = ()
}

object IcebergTableIO {

  /** The session conf an Iceberg deployment adds (plus the runtime jar on
    * the classpath) — the complete bring-up surface, asserted by
    * `TableIOSpec` and documented in the README recipe. `catalogType` is
    * "hadoop" (warehouse-path catalog), "hive", or "rest"; for "rest" pass
    * the server URI as `warehouse`. */
  def sessionConf(catalog: String, warehouse: String,
                  catalogType: String = "hadoop"): Map[String, String] = Map(
    s"spark.sql.catalog.$catalog" -> "org.apache.iceberg.spark.SparkCatalog",
    s"spark.sql.catalog.$catalog.type" -> catalogType,
    (if (catalogType == "rest") s"spark.sql.catalog.$catalog.uri"
     else s"spark.sql.catalog.$catalog.warehouse") -> warehouse,
    "spark.sql.extensions" ->
      "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
}
