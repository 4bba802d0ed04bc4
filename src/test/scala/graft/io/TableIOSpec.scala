package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.{ExtractionJob, JobConfig}
import graft.pages.PagesTable
import graft.SparkSuite

/** A second, deliberately DIFFERENT TableIO implementation: every
  * partition value lives in its own sibling directory
  * (`<table>__part_<col>=<value>`), unpartitioned rows under
  * `<table>__all`, reads re-attach the partition column from the
  * directory name, and partition replace is a plain directory overwrite.
  * Nothing about ParquetTableIO's layout (nested `col=value/` dirs, the
  * `.replace_*` temp-dir dance, flat-layout refusal) survives here — so
  * the lifecycle jobs passing identically through BOTH implementations
  * is evidence they depend only on the TableIO contract, which is the
  * claim that makes the Iceberg implementation pure configuration. */
object SplitDirTableIO extends TableIO {

  def resolve(root: String, name: String): String = s"$root/$name"

  private def parts(spark: SparkSession, table: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq.filter { s =>
      s.isDirectory && (s.getPath.getName.startsWith(s"${p.getName}__part_") ||
        s.getPath.getName == s"${p.getName}__all")
    }
  }

  private def hasParquet(spark: SparkSession, dir: org.apache.hadoop.fs.Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  def hasData(spark: SparkSession, table: String): Boolean =
    parts(spark, table).exists(s => hasParquet(spark, s.getPath))

  def read(spark: SparkSession, table: String): DataFrame = {
    val name = new org.apache.hadoop.fs.Path(table).getName
    val frames = parts(spark, table).filter(s => hasParquet(spark, s.getPath)).map { s =>
      val dir = s.getPath.getName
      val df = spark.read.parquet(s.getPath.toString)
      if (dir == s"${name}__all") df
      else {
        val spec = dir.stripPrefix(s"${name}__part_") // "<col>=<value>"
        val eq = spec.indexOf('=')
        df.withColumn(spec.substring(0, eq), lit(spec.substring(eq + 1)))
      }
    }
    require(frames.nonEmpty, s"no data for $table")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def append(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    partitionCols match {
      case Nil =>
        df.write.mode(SaveMode.Append).parquet(s"${table}__all")
      case Seq(pc) =>
        // one directory per observed value (driver-side distinct is fine
        // for a test impl; the contract is the layout, not the planner)
        val values = df.select(col(pc).cast("string")).distinct()
          .collect().map(_.getString(0))
        values.foreach { v =>
          df.filter(col(pc).cast("string") === v).drop(pc)
            .write.mode(SaveMode.Append).parquet(s"${table}__part_$pc=$v")
        }
      case other => sys.error(s"test impl supports one partition col, got $other")
    }

  def overwrite(df: DataFrame, table: String, partitionCols: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    parts(df.sparkSession, table).foreach(s => fs.delete(s.getPath, true))
    append(df, table, partitionCols)
  }

  def replacePartition(spark: SparkSession, table: String, partCol: String,
                       value: String, df: DataFrame): Unit = {
    // the replacement plan may READ the directory being replaced (the
    // retry compaction derives still-failing rows from the live table),
    // so stage it first — its own layout choice, nothing shared with
    // ParquetTableIO's recovery protocol
    val dir = s"${table}__part_$partCol=$value"
    val staged = s"${table}__staged_$partCol=$value"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    spark.read.parquet(staged).write.mode(SaveMode.Overwrite).parquet(dir)
    val p = new org.apache.hadoop.fs.Path(staged)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def recover(spark: SparkSession, table: String): Unit = ()
}

class TableIOSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("graftio").toString

  /** The full resume + retry lifecycle, parameterised by TableIO impl:
    * phase-1 partial run → resumed full run (anti-join extracts exactly
    * the missing urls) → a faked failure partition retried with
    * compaction (one row per url, success side authoritative). Returns
    * the observables the two implementations must agree on. */
  private def lifecycle(io: TableIO, base: String): (Long, Long, Long, Seq[String]) = {
    val s = spark
    import s.implicits._
    val pagesPath = s"$base/pages"
    PagesTable.generate(spark, seed = 21L, n = 60, partitions = 2)
      .write.parquet(pagesPath)
    val phase1 = s"$base/pages_subset"
    spark.read.parquet(pagesPath)
      .filter(regexp_extract(col("url"), "articles/(\\d+)", 1).cast("long") < 20)
      .write.parquet(phase1)

    val out = s"$base/out"
    val cfg1 = JobConfig(phase1, out, runId = "p1", io = io)
    val total1 = ExtractionJob.run(spark, cfg1)
    val cfg2 = JobConfig(pagesPath, out, runId = "p2", io = io)
    val total2 = ExtractionJob.run(spark, cfg2)
    val p2docs = ExtractionJob.readMetrics(spark, cfg2).collect()
      .filter(_.run_id == "p2").map(_.docs_parsed).sum

    // fake 3 urls into the failure partition (stale rows a retry run must
    // compact away after re-extracting them successfully); full schema —
    // real rows moved across partitions through the seam itself
    val failedUrls = spark.read.parquet(pagesPath).select("url").as[String]
      .collect().sorted.take(3)
    val extractedTbl = io.resolve(out, "extracted")
    val fakeFailed = ExtractionJob.readExtracted(spark, extractedTbl, io)
      .filter(col("url").isin(failedUrls: _*))
      .withColumn("text", lit(""))
    io.replacePartition(spark, extractedTbl, "failed", "true", fakeFailed)
    // drop the 3 urls from the success side so the retry has work: done
    // by rewriting the success partition via the SAME seam
    val success = ExtractionJob.readExtracted(spark, extractedTbl, io)
      .filter(!col("url").isin(failedUrls: _*))
    io.replacePartition(spark, extractedTbl, "failed", "false", success)

    val cfg3 = JobConfig(pagesPath, out, runId = "p3", retryFailed = true, io = io)
    ExtractionJob.run(spark, cfg3)
    val finalTable = io.read(spark, io.resolve(out, "extracted"))
    val oneRowPerUrl = finalTable.groupBy("url").count()
      .filter(col("count") > 1).count()
    val staleFailures = finalTable
      .filter(coalesce(col("failed").cast("boolean"), lit(false))).count()
    val urls = ExtractionJob.readExtracted(spark, io.resolve(out, "extracted"), io)
      .select("url").as[String].collect().sorted.toSeq
    (total1, p2docs, oneRowPerUrl + staleFailures, urls)
  }

  test("resume/retry semantics are TableIO-implementation-independent") {
    val viaParquet = lifecycle(ParquetTableIO, s"$tmp/parquet")
    val viaSplit = lifecycle(SplitDirTableIO, s"$tmp/split")
    assert(viaParquet == viaSplit,
      s"the lifecycle must observe identical state through both seams:\n" +
        s"  parquet: $viaParquet\n  split:   $viaSplit")
    assert(viaParquet._1 == 20, "phase 1 committed the 20 subset docs")
    assert(viaParquet._2 == 40, "resume extracted exactly the 40 missing docs")
    assert(viaParquet._3 == 0, "retry left one row per url and no stale failures")
    assert(viaParquet._4.size == 60, "all urls committed exactly once")
  }

  test("ParquetTableIO.replacePartition is crash-recoverable at every cut point") {
    val s = spark
    import s.implicits._
    val table = s"$tmp/crash/t"
    ParquetTableIO.append(Seq(("a", false), ("b", false)).toDF("url", "failed"),
      table, Seq("failed"))
    ParquetTableIO.append(Seq(("c", true), ("d", true)).toDF("url", "failed"),
      table, Seq("failed"))

    // cut point 1: replacement fully written (with _SUCCESS) but the
    // swap never ran — recover() must complete it (tmp is authoritative)
    val tmpDir = s"$tmp/crash/.replace_t_failed=true"
    Seq("c").toDF("url").write.mode(SaveMode.Overwrite).parquet(tmpDir)
    assert(new java.io.File(tmpDir, "_SUCCESS").exists())
    ParquetTableIO.recover(spark, table)
    val after = ParquetTableIO.read(spark, table)
    assert(after.filter(col("failed").cast("boolean")).select("url")
      .as[String].collect().toSeq == Seq("c"),
      "completed tmp replaced the failure partition")
    assert(!new java.io.File(tmpDir).exists(), "tmp consumed")

    // cut point 2: aborted replacement write (no _SUCCESS) — recover()
    // must discard it and leave the live partition untouched
    new java.io.File(tmpDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmpDir, "part-junk.parquet"), "junk")
    ParquetTableIO.recover(spark, table)
    assert(!new java.io.File(tmpDir).exists(), "aborted tmp removed")
    assert(ParquetTableIO.read(spark, table)
      .filter(col("failed").cast("boolean")).count() == 1,
      "live partition untouched by the aborted tmp")

    // recover is idempotent
    ParquetTableIO.recover(spark, table)
    assert(ParquetTableIO.read(spark, table).count() == 3)
  }

  test("IcebergTableIO is catalog-addressed pure configuration (resolve/recover contract)") {
    val ice = new IcebergTableIO()
    assert(ice.resolve("cat.db", "extracted") == "cat.db.extracted",
      "identifiers compose by dots, not paths")
    // recover is a no-op by contract: partition replace is one atomic
    // snapshot commit, so there is never a half-done swap to repair
    ice.recover(spark, "cat.db.extracted")
  }

  test("IcebergTableIO bring-up conf covers catalog class, addressing and extensions") {
    val conf = IcebergTableIO.sessionConf("prod", "s3://bucket/warehouse")
    assert(conf("spark.sql.catalog.prod") == "org.apache.iceberg.spark.SparkCatalog")
    assert(conf("spark.sql.catalog.prod.type") == "hadoop")
    assert(conf("spark.sql.catalog.prod.warehouse") == "s3://bucket/warehouse")
    assert(conf("spark.sql.extensions").contains("IcebergSparkSessionExtensions"))
    val rest = IcebergTableIO.sessionConf("prod", "https://cat.example", "rest")
    assert(rest("spark.sql.catalog.prod.uri") == "https://cat.example" &&
      !rest.contains("spark.sql.catalog.prod.warehouse"))
  }

  test("IcebergTableIO against a mock V2 catalog: create-with-spec, append, replace, dyn-overwrite all reach the catalog") {
    // a RecordingCatalog stands in for the Iceberg SparkCatalog: no jar in
    // this sandbox, but the DataFrameWriterV2 calls IcebergTableIO emits
    // EXECUTE for real against any V2 plugin — this captures exactly the
    // identifier, schema, partition transform, provider property and
    // commit modes an Iceberg catalog would receive
    val s = spark
    import s.implicits._
    spark.conf.set("spark.sql.catalog.icetest", classOf[RecordingCatalog].getName)
    RecordingCatalog.reset()
    val ice = new IcebergTableIO()
    val table = ice.resolve("icetest.db", "extracted")
    assert(table == "icetest.db.extracted")

    val df = Seq(("u1", "hello", "2"), ("u2", "bye", "3")).toDF("url", "text", "tier")

    // first append CREATES the table carrying the partition spec
    ice.append(df, table, partitionCols = Seq("tier"))
    val created = RecordingCatalog.log.find(_.startsWith("createTable"))
    assert(created.isDefined, s"no createTable recorded: ${RecordingCatalog.log}")
    assert(created.get.contains("db.extracted") &&
      created.get.contains("partitioning=[identity(tier)]") &&
      created.get.contains("provider=iceberg"),
      s"create contract violated: ${created.get}")
    assert(RecordingCatalog.log.exists(e =>
      e.startsWith("commit") && e.contains("mode=append") && e.contains("rows=2")),
      s"first write must commit 2 rows: ${RecordingCatalog.log}")

    // second append goes to the EXISTING table (no second create)
    RecordingCatalog.log.clear()
    ice.append(df, table, partitionCols = Seq("tier"))
    assert(!RecordingCatalog.log.exists(_.startsWith("createTable")) &&
      RecordingCatalog.log.exists(e => e.contains("mode=append") && e.contains("rows=2")),
      s"append to existing table must not re-create: ${RecordingCatalog.log}")

    // overwrite = createOrReplace: drop + fresh create with the spec
    RecordingCatalog.log.clear()
    ice.overwrite(df, table, partitionCols = Seq("tier"))
    assert(RecordingCatalog.log.exists(_.startsWith("dropTable")) &&
      RecordingCatalog.log.exists(e =>
        e.startsWith("createTable") && e.contains("partitioning=[identity(tier)]")),
      s"overwrite must drop+create with the spec: ${RecordingCatalog.log}")

    // replacePartition = dynamic partition overwrite, ONE commit, and the
    // partition column is re-attached to the payload before the write
    RecordingCatalog.log.clear()
    val payload = Seq(("u9", "replaced")).toDF("url", "text")
    ice.replacePartition(spark, table, "tier", "2", payload)
    assert(RecordingCatalog.log.exists(e =>
      e.startsWith("commit") && e.contains("mode=dynOverwrite") && e.contains("rows=1")),
      s"replacePartition must be one dynamic-overwrite commit: ${RecordingCatalog.log}")

    spark.conf.unset("spark.sql.catalog.icetest")
  }
}
