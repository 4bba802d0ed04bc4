package graft.jobs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.TaskContext
import com.fasterxml.jackson.core.io.JsonStringEncoder
import graft.extract.{Extracted, Extractor}
import graft.io.{ParquetTableIO, TableIO}

/** Per-partition lineage row — the metrics table of the north rule
  * (docs parsed, bytes tokenized, extraction failures), replacing the
  * reference's stats counters and `logtime` prints
  * (reference: server/modules/main/helper.py:14-15,313-318). The one
  * definition of its columns: the sidecar format, its read schema and
  * the table's select all derive from these fields. */
final case class PartitionMetrics(
    run_id: String,
    partition_id: Int,
    docs_parsed: Long,
    bytes_tokenized: Long,
    extraction_failures: Long,
    wall_ms: Long)

/** Where [[ExtractionJob.extract]] sends a busy task's counter row: one
  * JSON sidecar per task attempt, `p<pid>-a<attempt>.json` under `dir`,
  * written by the executor through the dir's own Hadoop FileSystem
  * (hdfs/s3/local alike; the driver's Hadoop conf travels as one
  * broadcast). */
final class MetricsSink(val runId: String, dir: String,
                        conf: Broadcast[SerializableConfiguration]) extends Serializable {

  def write(m: PartitionMetrics): Unit = {
    val attempt = Option(TaskContext.get()).fold(0)(_.attemptNumber())
    // write-then-rename: a task killed mid-write (speculation,
    // preemption) must not leave a truncated sidecar that the
    // PERMISSIVE json read would turn into an all-null row
    val path = new Path(s"$dir/p${m.partition_id}-a$attempt.json")
    val tmp = new Path(s"$dir/.p${m.partition_id}-a$attempt.inprogress")
    val fs = path.getFileSystem(conf.value.value)
    val os = fs.create(tmp, true)
    try os.write(MetricsSink.json(m, attempt).getBytes(StandardCharsets.UTF_8))
    finally os.close()
    // a false rename with the target present is a zombie twin of
    // this attempt having already delivered the same bytes —
    // benign; anything else must fail the task so a retry rewrites
    if (!fs.rename(tmp, path) && !fs.exists(path))
      throw new java.io.IOException(s"metrics sidecar rename $tmp -> $path failed")
  }
}

object MetricsSink {

  /** A sidecar line: the row's fields by name, then the writing attempt. */
  private[jobs] val schema = Encoders.product[PartitionMetrics].schema.add("attempt", IntegerType)

  private def json(m: PartitionMetrics, attempt: Int): String =
    (m.productElementNames.zip(m.productIterator) ++ Iterator("attempt" -> attempt)).map {
      case (k, v: String) => s""""$k":${quoted(v)}"""
      case (k, v)         => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** `v` as a JSON string literal, quotes included. */
  private[graft] def quoted(v: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(v)) + "\""

  /** `v` as a JSON number with `digits` decimals, whatever the default
    * locale (under de-DE, `f"%.3f"` writes a decimal comma). */
  private[graft] def decimal(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
}

/** @param io        the storage seam (SURVEY §7): ParquetTableIO in the
  *                   sandbox/tests, `new IcebergTableIO` + catalog conf on
  *                   a real cluster — job code is identical either way.
  * @param scratchPath filesystem dir for the executor-written metric
  *                   sidecars (raw-FS scratch, deliberately NOT table IO);
  *                   defaults to `outPath`, which is right whenever `io`
  *                   is path-addressed. A catalog-addressed `io` must
  *                   pass an explicit shared-FS scratch dir. */
final case class JobConfig(
    pagesPath: String,
    outPath: String,
    shuffle: Boolean = true,
    runId: String = "run",
    retryFailed: Boolean = false,
    io: TableIO = ParquetTableIO,
    scratchPath: String = "",
    collapseRecrawls: Boolean = false) {
  def extractedTable: String = io.resolve(outPath, "extracted")
  def metricsTable: String = io.resolve(outPath, "metrics")
  def scratch: String = if (scratchPath.nonEmpty) scratchPath else outPath
}

/** The distributed extraction job (SURVEY.md §4 physical plan):
  *
  *   scan pages [url, html]  (columns pruned at the parquet reader)
  *   → LEFT ANTI join committed urls          (resume from checkpoint)
  *   → repartition(n, url)    n = max(4 × cores, scanned bytes / advisory)
  *   → extract                (the one extraction operator, [[extract]])
  *   → append extracted + append metrics
  *
  * Scale notes: the anti-join's right side is url-only (Catalyst prunes),
  * so at 10^12 rows it is a shuffled SMJ unless the committed set is small
  * enough for AQE to broadcast. The payload exchange has an explicit count
  * ([[graft.util.Spread]]), so AQE does not coalesce it: a small input gets
  * about four task waves per core, a large one AQE's advisory partition
  * size, and hashing the unique url fills every partition. The count comes
  * from the pages scan's listed file bytes, not from the (resumed,
  * smaller) remainder, so a resume keeps the full run's task size; the
  * empty tasks a sparse remainder leaves write no metrics row.
  *
  * All table reads/writes go through `cfg.io` ([[graft.io.TableIO]]);
  * only the pages INPUT path and the metric-sidecar scratch dir are raw
  * addresses (the input may equally be a catalog table read upstream and
  * passed in as a DataFrame via [[extract]]).
  */
object ExtractionJob {

  /** The `failed` flag read as a boolean, null (a pre-`failed` row after a
    * schema merge) as false. */
  private def isFailed: Column = coalesce(col("failed").cast("boolean"), lit(false))

  /** `path` with Hadoop's glob characters escaped: a Spark file read globs
    * its path, and a run id, which names its sidecar dir, is free text. */
  private def literalPath(path: String): String =
    path.replaceAll("""([{}\[\]*?\\])""", """\\$1""")

  /** Urls already committed to the extracted table, or None on first run.
    * With `retryFailed` the rows whose extraction failed (committed with
    * `failed = true` so a crash loop cannot re-attempt them forever) are
    * NOT treated as committed — the next run re-extracts exactly them.
    * Rows from pre-`failed`-column layouts (column absent, or null after
    * schema merge) count as committed: only an explicit `true` retries. */
  def committedUrls(spark: SparkSession, cfg: JobConfig): Option[DataFrame] = {
    if (!cfg.io.hasData(spark, cfg.extractedTable)) None
    else {
      val extracted = cfg.io.read(spark, cfg.extractedTable)
      val committed =
        if (cfg.retryFailed && extracted.columns.contains("failed"))
          extracted.filter(!isFailed)
        else extracted
      Some(committed.select("url"))
    }
  }

  /** The committed successfully-extracted rows — ONE row per url. The
    * table partitions on `failed`, so this reads only the success
    * partition (partition pruning; the failure partition never mixes in,
    * even right after a retry run appended fresh rows). */
  def readExtracted(spark: SparkSession, cfg: JobConfig): DataFrame =
    readExtracted(spark, cfg.extractedTable, cfg.io)

  /** Same, addressed by the extracted table's own address (the downstream
    * curation jobs hold the address, not a JobConfig). */
  def readExtracted(spark: SparkSession, extractedRoot: String,
                    io: TableIO = ParquetTableIO): DataFrame = {
    val df = io.read(spark, extractedRoot)
    if (df.columns.contains("failed"))
      df.filter(!isFailed).drop("failed")
    else df
  }

  /** One-time migration of a pre-upgrade FLAT extracted table (top-level
    * part files; `failed` a data column, or absent = all committed) into
    * the `failed`-partitioned layout that resumed runs append to.
    * Parquet-layout-specific by nature (a catalog format carries its spec
    * in metadata and never needs this). Crash-safe: the migrated copy is
    * fully written (with `_SUCCESS`) under a sibling temp dir BEFORE the
    * old root is deleted and the temp renamed in; if a crash lands
    * between delete and rename, re-running finds the completed temp and
    * just finishes the rename. */
  def migrateLayout(spark: SparkSession, outPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$outPath/extracted")
    val tmp = new org.apache.hadoop.fs.Path(s"$outPath/.extracted_migrating")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete(p: org.apache.hadoop.fs.Path) =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    if (!fs.exists(root)) {
      if (complete(tmp)) {
        // crash landed between delete(root) and rename — finish the swap
        if (!fs.rename(tmp, root))
          throw new java.io.IOException(s"migration recovery rename $tmp -> $root failed")
      } else if (fs.exists(tmp) && !fs.delete(tmp, true))
        // an aborted pre-delete copy with no original to migrate: junk
        throw new java.io.IOException(s"could not remove aborted migration tmp $tmp")
      return // no table (or just recovered) — nothing further to migrate
    }
    val df = spark.read.parquet(root.toString)
    val flat = fs.listStatus(root)
      .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (!flat) {
      // already partitioned — clean up any incomplete temp a previous
      // aborted migration attempt left behind (originals are intact)
      if (fs.exists(tmp) && !complete(tmp) && !fs.delete(tmp, true))
        throw new java.io.IOException(s"could not remove aborted migration tmp $tmp")
      return
    }
    val withFailed =
      if (df.columns.contains("failed"))
        df.withColumn("failed", isFailed)
      else df.withColumn("failed", lit(false))
    withFailed.write.mode(SaveMode.Overwrite).partitionBy("failed")
      .parquet(tmp.toString)
    // hadoop FileSystems report most failures as `false`, not exceptions
    // — an unchecked false rename here would leave NO table and no error
    if (!fs.delete(root, true))
      throw new java.io.IOException(s"migration could not remove old layout $root")
    if (!fs.rename(tmp, root))
      throw new java.io.IOException(
        s"migration rename $tmp -> $root failed; completed copy remains at $tmp " +
          "(re-running migrateLayout finishes the rename)")
  }

  /** The work set: pages minus committed (resume anti-join), spread over
    * [[graft.util.Spread.partitions]] tasks by url hash.
    *
    * With `shuffle = false` the explicit shuffle is skipped: the parquet
    * scan's byte-sized splits are already cost-balanced when per-page cost
    * is proportional to html bytes, and skipping the repartition avoids
    * shuffling the full html payload (at 100 TB that shuffle IS the job).
    * Keep the shuffle on when the input layout clusters expensive pages
    * (e.g. crawl-host-ordered files) or when resuming leaves a sparse,
    * skewed remainder after the anti-join. */
  def planWorkSet(spark: SparkSession, cfg: JobConfig): DataFrame = {
    // multi-crawl inputs: collapse to the latest warc_ts snapshot per
    // canonical url BEFORE the resume anti-join, so a recrawl never
    // re-extracts a page a previous run committed under the same winner
    // url (the winner set derives from the narrow (url, ts) projection;
    // the html payload only rides the left-semi attach)
    val raw = spark.read.parquet(cfg.pagesPath)
    val pages =
      (if (cfg.collapseRecrawls) graft.web.Recrawl.keepLatest(raw) else raw)
        .select("url", "html")
    val remaining = committedUrls(spark, cfg) match {
      case Some(committed) => pages.join(committed, Seq("url"), "left_anti")
      case None            => pages
    }
    if (cfg.shuffle) graft.util.Spread.byKey(remaining, "url", raw) else remaining
  }

  /** The extraction operator — every Spark plan that extracts pages runs
    * it, and nothing else in a plan calls [[Extractor.extract]]: one
    * `mapPartitions` over the `(url, html)` columns of `work`. Each task
    * counts docs, html bytes and failures as it goes; with a `sink`, a
    * task that extracted a page hands its [[PartitionMetrics]] row to the
    * sink once its partition is consumed (an empty task — the cost-sized
    * count hashes a small or resumed input into some empty partitions —
    * leaves no row). */
  def extract(work: DataFrame, sink: Option[MetricsSink] = None): Dataset[Extracted] = {
    val spark = work.sparkSession
    import spark.implicits._
    work.select("url", "html").as[(String, Array[Byte])].mapPartitions { it =>
      val t0 = System.nanoTime()
      var docs, bytes, failures = 0L
      val out = it.map { case (url, html) =>
        docs += 1
        if (html != null) bytes += html.length
        val e = Extractor.extract(url, html)
        if (e.failed) failures += 1
        e
      }
      // `++` evaluates its argument only once `out` is exhausted
      sink.fold(out)(s => out ++ {
        if (docs > 0) s.write(PartitionMetrics(s.runId, TaskContext.getPartitionId(),
          docs, bytes, failures, (System.nanoTime() - t0) / 1000000))
        Iterator.empty
      })
    }
  }

  /** Run extraction; returns the extracted Dataset (not yet written, and
    * no metrics: a run's sidecar names are `run`'s alone). */
  def extractDataset(spark: SparkSession, work: DataFrame, cfg: JobConfig): Dataset[Extracted] =
    extract(work)

  /** Full job: extract → append extracted + append metrics rows.
    *
    * Lineage is gathered inside the same pass: [[extract]] hands each busy
    * task's counter row to a [[MetricsSink]] that writes it BY THE
    * EXECUTOR to a sidecar under `metrics_raw/<runId>/` of the scratch dir.
    * The driver never accumulates per-task rows, so 10⁷–10⁸ tasks at the
    * 10^12-row scale cost the driver nothing; after the write action the
    * sidecars are compacted into the `metrics` table in one small job and
    * the raw dir is removed. Task retries/speculation produce one sidecar
    * per attempt under distinct names; compaction dedupes per partition
    * keeping the highest attempt. (The sidecar mechanism is raw-FS
    * scratch by design, not table IO — it exists precisely because
    * executors cannot write a table mid-job.)
    *
    * Returns the cumulative committed doc count, computed from the (tiny)
    * metrics table rather than a full rescan of the extracted table — at
    * 10^12 rows that rescan would dominate the incremental run itself. */
  def run(spark: SparkSession, cfg: JobConfig): Long = {
    import spark.implicits._
    // a crashed retry compaction must be completed BEFORE the committed
    // set is read: its replacement set is authoritative for the failure
    // partition (TableIO.recover) and a half-done swap would otherwise
    // let a plain resume re-attempt permanently-failing urls
    cfg.io.recover(spark, cfg.extractedTable)
    val rawDir = s"${cfg.scratch}/metrics_raw/${cfg.runId}"
    val sc = spark.sparkContext
    val sink = new MetricsSink(cfg.runId, rawDir,
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
    val extracted = extract(planWorkSet(spark, cfg), Some(sink))

    // `failed` as a partition column: the (tiny) failure partition stays
    // physically separate from the success rows, so readers prune it and
    // a retry run can compact it without touching the 10^12-row success
    // side (see below). ParquetTableIO.append additionally refuses a
    // pre-upgrade flat layout up front (see migrateLayout).
    cfg.io.append(extracted.toDF(), cfg.extractedTable, Seq("failed"))

    // retry compaction: a retried url that succeeded this run now has a
    // fresh failed=false row, and a url that failed again has a second
    // failed=true row — replace ONLY the failure partition keeping one
    // row per still-failing url, restoring the invariant "at most one
    // row per url, and never in both partitions". The rewrite reads the
    // small failure partition plus the pruned url column of the success
    // side (same cost class as the resume anti-join itself). The swap's
    // crash-safety lives in TableIO.replacePartition (tmp-dir dance for
    // parquet, one atomic snapshot commit for Iceberg).
    if (cfg.retryFailed) {
      val all = cfg.io.read(spark, cfg.extractedTable)
      if (all.columns.contains("failed")) {
        val stillFailing = all.filter(isFailed)
          .drop("failed")
          .join(all.filter(!isFailed)
            .select("url"), Seq("url"), "left_anti")
          .dropDuplicates("url")
        cfg.io.replacePartition(spark, cfg.extractedTable, "failed", "true",
          stillFailing)
      }
    }

    // compact sidecars → metrics table (dedupe retries: max attempt wins);
    // the raw dir exists only if some task wrote a sidecar
    val rawPath = new Path(rawDir)
    val fs = rawPath.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(rawPath)) {
      val raw = spark.read.schema(MetricsSink.schema).json(literalPath(rawDir))
        // belt over the rename braces: a malformed sidecar parses to an
        // all-null row under PERMISSIVE; drop it instead of letting
        // readMetrics' .as[PartitionMetrics] throw on null non-nullable fields
        .filter(col("run_id").isNotNull && col("partition_id").isNotNull)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("run_id", "partition_id").orderBy(col("attempt").desc)
      val rows = raw.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(Encoders.product[PartitionMetrics].schema.fieldNames.map(col).toIndexedSeq: _*)
      cfg.io.append(rows, cfg.metricsTable)
      fs.delete(rawPath, true)
    }

    if (!cfg.io.hasData(spark, cfg.metricsTable)) 0L
    else readMetrics(spark, cfg)
      // successes, not attempts: a url that failed then succeeded on a
      // retry run contributes (parsed=1, failures=1) + (parsed=1,
      // failures=0) = 1, so retried docs are never double-counted
      .agg(coalesce(sum(col("docs_parsed") - col("extraction_failures")), lit(0L)))
      .as[Long].head()
  }

  /** Read the lineage rows back as a typed Dataset. */
  def readMetrics(spark: SparkSession, cfg: JobConfig): Dataset[PartitionMetrics] = {
    import spark.implicits._
    cfg.io.read(spark, cfg.metricsTable).as[PartitionMetrics]
  }
}
