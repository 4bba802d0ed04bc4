package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.pages.PagesTable
import graft.SparkSuite

object ExtractionJobSpec {

  /** Writes n generated pages to `path` with the first url's html null;
    * returns that url. */
  def writeNullHtmlPages(spark: SparkSession, path: String, n: Int): String = {
    val pages = PagesTable.generate(spark, seed = 21L, n = n, partitions = 2).toDF()
    val broken = pages.select("url").orderBy("url").head().getString(0)
    pages.withColumn("html",
        when(col("url") === broken, lit(null).cast("binary")).otherwise(col("html")))
      .write.parquet(path)
    broken
  }
}

class ExtractionJobSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("graftjob").toString

  test("a null-html page commits as one failed row and the job completes") {
    val s = spark
    import s.implicits._
    val cfg = JobConfig(s"$tmp/nullhtml/pages", s"$tmp/nullhtml/out", runId = "n1")
    val broken = ExtractionJobSpec.writeNullHtmlPages(spark, cfg.pagesPath, 20)
    assert(ExtractionJob.run(spark, cfg) == 19, "successes exclude the failed page")
    val out = spark.read.parquet(cfg.extractedTable)
    assert(out.count() == 20 && out.select("url").distinct().count() == 20,
      "every url committed exactly once")
    assert(out.filter(col("failed").cast("boolean")).select("url").as[String].collect().toSeq == Seq(broken))
    assert(ExtractionJob.readMetrics(spark, cfg).collect().map(_.extraction_failures).sum == 1)
  }

  test("a run id with a quote and a backslash keeps its metrics rows") {
    val runId = "r\"1\\x"
    val cfg = JobConfig(s"$tmp/runid/pages", s"$tmp/runid/out", runId = runId)
    PagesTable.generate(spark, seed = 5L, n = 40, partitions = 2).write.parquet(cfg.pagesPath)
    assert(ExtractionJob.run(spark, cfg) == 40, "run returns this run's successes")
    val m = ExtractionJob.readMetrics(spark, cfg).collect()
    assert(m.nonEmpty && m.forall(_.run_id == runId), m.mkString("\n"))
    assert(m.map(_.docs_parsed).sum == 40)
  }

  test("extraction job: full run, byte-identical text, resume anti-join, metrics reconcile") {
    val pagesPath = s"$tmp/pages"
    val outPath = s"$tmp/out"
    PagesTable.generate(spark, seed = 42L, n = 300, partitions = 4)
      .write.parquet(pagesPath)

    // phase 1: pretend a partial earlier run committed pages 0..99
    val phase1 = s"$tmp/pages_subset"
    spark.read.parquet(pagesPath)
      .filter(org.apache.spark.sql.functions
        .regexp_extract(org.apache.spark.sql.functions.col("url"), "articles/(\\d+)", 1).cast("long") < 100)
      .write.parquet(phase1)
    val total1 = ExtractionJob.run(spark, JobConfig(phase1, outPath, runId = "r1"))
    assert(total1 == 100)

    // phase 2: full input — resume must extract only the missing 200
    val total2 = ExtractionJob.run(spark, JobConfig(pagesPath, outPath, runId = "r2"))
    assert(total2 == 300)
    val m = ExtractionJob.readMetrics(spark, JobConfig(pagesPath, outPath)).collect()
    val docsR2 = m.filter(_.run_id == "r2").map(_.docs_parsed).sum
    assert(docsR2 == 200, s"resume should process exactly the 200 missing docs, got $docsR2")
    val docsAll = m.map(_.docs_parsed).sum
    assert(docsAll == 300, "sigma docs over all runs == input count")
    assert(m.forall(_.extraction_failures == 0))

    // extracted text is byte-identical to the generator's golden text
    val joined = spark.read.parquet(s"$outPath/extracted").select("url", "text")
      .withColumnRenamed("text", "got")
      .join(spark.read.parquet(pagesPath).select("url", "text"), "url")
    assert(joined.count() == 300)
    val mismatches = joined.filter(org.apache.spark.sql.functions.col("got") =!= org.apache.spark.sql.functions.col("text")).count()
    assert(mismatches == 0)

    // executor-side lineage parity: bytes_tokenized must reconcile with an
    // independent aggregation over the input, and the raw sidecar dir must
    // be compacted away (the driver never accumulated these rows)
    val bytesAll = m.map(_.bytes_tokenized).sum
    val wantBytes = spark.read.parquet(pagesPath)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.octet_length(
          org.apache.spark.sql.functions.col("html")))).head.getLong(0)
    assert(bytesAll == wantBytes, "sigma bytes_tokenized == input html bytes")
    assert(!new java.io.File(s"$outPath/metrics_raw").exists() ||
      new java.io.File(s"$outPath/metrics_raw").list().isEmpty,
      "raw metric sidecars compacted and removed")

    // re-running with nothing to do processes zero docs
    ExtractionJob.run(spark, JobConfig(pagesPath, outPath, runId = "r3"))
    val docsR3 = ExtractionJob.readMetrics(spark, JobConfig(pagesPath, outPath))
      .collect().filter(_.run_id == "r3").map(_.docs_parsed).sum
    assert(docsR3 == 0)
  }

  test("retryFailed resume re-attempts failed rows, default resume does not") {
    val s = spark
    import s.implicits._
    val base = s"$tmp/retry"
    PagesTable.generate(spark, seed = 7L, n = 20, partitions = 2)
      .write.parquet(s"$base/pages")
    // fake a committed table where 3 urls failed
    val committed = spark.read.parquet(s"$base/pages").select("url").as[String]
      .collect().sorted
    val rows = committed.zipWithIndex.map { case (u, i) =>
      graft.extract.Extracted(u, if (i < 3) "" else "ok",
        Array.empty, Array.empty, failed = i < 3)
    }
    spark.createDataset(rows.toSeq).write.parquet(s"$base/out/extracted")

    val defaultPlan = ExtractionJob.planWorkSet(
      spark, JobConfig(s"$base/pages", s"$base/out"))
    assert(defaultPlan.count() == 0, "default resume treats failed rows as committed")

    val retryPlan = ExtractionJob.planWorkSet(
      spark, JobConfig(s"$base/pages", s"$base/out", retryFailed = true))
    assert(retryPlan.select("url").as[String].collect().sorted.toSeq ==
      committed.take(3).toSeq, "retryFailed re-extracts exactly the failed urls")
  }

  test("retryFailed run compacts stale failure rows: one row per url, success side authoritative") {
    val s = spark
    import s.implicits._
    val base = s"$tmp/retry_e2e"
    PagesTable.generate(spark, seed = 9L, n = 20, partitions = 2)
      .write.parquet(s"$base/pages")
    val urls = spark.read.parquet(s"$base/pages").select("url").as[String]
      .collect().sorted
    // committed table in the job's own partitioned layout: 3 failed urls
    val rows = urls.zipWithIndex.map { case (u, i) =>
      graft.extract.Extracted(u, if (i < 3) "" else "ok",
        Array.empty, Array.empty, failed = i < 3)
    }
    spark.createDataset(rows.toSeq).write
      .partitionBy("failed").parquet(s"$base/out/extracted")

    val n = ExtractionJob.run(spark,
      JobConfig(s"$base/pages", s"$base/out", runId = "retry1", retryFailed = true))
    // the 3 retried urls extract successfully with the real extractor
    val extracted = spark.read.parquet(s"$base/out/extracted")
    assert(extracted.count() == 20, "exactly one row per url after compaction")
    assert(extracted.filter(org.apache.spark.sql.functions.col("failed").cast("boolean")).count() == 0,
      "no stale failure rows survive a retry that succeeded")
    assert(ExtractionJob.readExtracted(spark, JobConfig(s"$base/pages", s"$base/out"))
      .select("url").as[String].collect().sorted.toSeq == urls.toSeq)
    assert(n == 3, "cumulative successes counts only this run's 3 retried docs " +
      "(the faked earlier run wrote no metrics)")
  }

  test("pre-upgrade committed table without a failed column stays fully committed under retryFailed") {
    val s = spark
    import s.implicits._
    val base = s"$tmp/legacy"
    PagesTable.generate(spark, seed = 11L, n = 10, partitions = 2)
      .write.parquet(s"$base/pages")
    spark.read.parquet(s"$base/pages").select("url", "text")
      .write.parquet(s"$base/out/extracted")
    val plan = ExtractionJob.planWorkSet(
      spark, JobConfig(s"$base/pages", s"$base/out", retryFailed = true))
    assert(plan.count() == 0,
      "rows with no failed column must not be re-extracted (they are committed)")
  }

  test("flat pre-upgrade layout: run refuses (no mixed dir), migrateLayout repairs, resume continues") {
    val base = s"$tmp/flatmigrate"
    PagesTable.generate(spark, seed = 17L, n = 20, partitions = 2)
      .write.parquet(s"$base/pages")
    // build a real extracted table, then flatten it to the pre-upgrade
    // layout: top-level part files, failed as a DATA column
    ExtractionJob.run(spark, JobConfig(s"$base/pages", s"$base/out", runId = "m0"))
    val flat = spark.read.parquet(s"$base/out/extracted")
    flat.write.parquet(s"$base/out/.flat_tmp")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$base/out/extracted"))
    new java.io.File(s"$base/out/.flat_tmp")
      .renameTo(new java.io.File(s"$base/out/extracted"))
    assert(new java.io.File(s"$base/out/extracted").listFiles()
      .exists(_.getName.endsWith(".parquet")), "flat layout established")

    // a resumed run over MORE pages must refuse rather than brick the dir
    PagesTable.generate(spark, seed = 17L, n = 30, partitions = 2)
      .write.mode("overwrite").parquet(s"$base/pages")
    val e = intercept[IllegalStateException] {
      ExtractionJob.run(spark, JobConfig(s"$base/pages", s"$base/out", runId = "m1"))
    }
    assert(e.getMessage.contains("migrateLayout"))

    ExtractionJob.migrateLayout(spark, s"$base/out")
    assert(new java.io.File(s"$base/out/extracted/failed=false").exists(),
      "migration produced the partitioned layout")
    val n = ExtractionJob.run(spark, JobConfig(s"$base/pages", s"$base/out", runId = "m2"))
    assert(n == 30, "cumulative successes after resuming onto the migrated table")
    val urls = ExtractionJob.readExtracted(spark,
      JobConfig(s"$base/pages", s"$base/out")).select("url").distinct().count()
    assert(urls == 30, "all 20 migrated + 10 new urls committed exactly once")
  }

  test("resume probe recognises the partitioned extracted layout") {
    val base = s"$tmp/partprobe"
    PagesTable.generate(spark, seed = 13L, n = 10, partitions = 2)
      .write.parquet(s"$base/pages")
    ExtractionJob.run(spark, JobConfig(s"$base/pages", s"$base/out", runId = "p1"))
    // the job's own layout nests files under failed=*/ — the probe must
    // still see the table and plan an empty work set
    assert(new java.io.File(s"$base/out/extracted/failed=false").exists(),
      "extracted table partitions on failed")
    val plan = ExtractionJob.planWorkSet(spark, JobConfig(s"$base/pages", s"$base/out"))
    assert(plan.count() == 0, "recursive probe must find nested parquet and resume")
  }

  test("work-set plan prunes the scan and hashes url into sized partitions") {
    val pagesPath = s"$tmp/plan/pages"
    PagesTable.generate(spark, seed = 42L, n = 300, partitions = 4).write.parquet(pagesPath)
    val work = ExtractionJob.planWorkSet(spark, JobConfig(pagesPath, s"$tmp/plan/out"))
    val plan = work.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<url:string,html:binary>"),
      s"scan must read only url+html:\n$plan")
    val n = """hashpartitioning\(url#\d+, (\d+)\)""".r.findFirstMatchIn(plan)
      .map(_.group(1).toInt)
    assert(n.exists(_ >= 4 * spark.sparkContext.defaultParallelism),
      s"payload exchange must hash url into >= 4 x cores partitions:\n$plan")
    assert(!plan.contains("size_bucket") && work.columns.toSeq == Seq("url", "html"))
  }

  /** Runs `body` with `conf` set on the suite session, then restores it. */
  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("under ExtractMain's conf a small job extracts on every core") {
    val base = s"$tmp/parallel"
    PagesTable.generate(spark, seed = 5L, n = 300, partitions = 4).write.parquet(s"$base/pages")
    val cfg = JobConfig(s"$base/pages", s"$base/out", runId = "par")
    withConf(graft.Sessions.ExtractionSql) {
      assert(ExtractionJob.run(spark, cfg) == 300)
    }
    val busy = ExtractionJob.readMetrics(spark, cfg).collect().count(_.docs_parsed > 0)
    assert(busy >= spark.sparkContext.defaultParallelism,
      s"$busy task(s) extracted pages; AQE must not coalesce the payload exchange")
  }

  test("past the advisory size the partition count follows the scanned bytes") {
    val pagesPath = s"$tmp/bytes/pages"
    PagesTable.generate(spark, seed = 4L, n = 100, partitions = 2).write.parquet(pagesPath)
    val fileBytes = new java.io.File(pagesPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val work = withConf(Map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096")) {
      ExtractionJob.planWorkSet(spark, JobConfig(pagesPath, s"$tmp/bytes/out"))
    }
    assert(fileBytes > 4096 * 16 && work.rdd.getNumPartitions == (fileBytes + 4095) / 4096)
  }

  test("extracted rows are identical with and without the payload shuffle") {
    val base = s"$tmp/invariance"
    PagesTable.generate(spark, seed = 9L, n = 120, partitions = 3).write.parquet(s"$base/pages")
    def rows(shuffle: Boolean) = {
      val cfg = JobConfig(s"$base/pages", s"$base/out-$shuffle", shuffle = shuffle)
      ExtractionJob.run(spark, cfg)
      spark.read.parquet(cfg.extractedTable)
        .select("url", "text", "spans", "blocks", "failed").orderBy("url")
        .collect().toSeq
    }
    val shuffled = rows(shuffle = true)
    assert(shuffled.length == 120)
    assert(shuffled == rows(shuffle = false))
  }

  test("empty tasks write no metrics row") {
    val base = s"$tmp/sparse"
    PagesTable.generate(spark, seed = 3L, n = 10, partitions = 2).write.parquet(s"$base/pages")
    val cfg = JobConfig(s"$base/pages", s"$base/out", runId = "s1")
    assert(ExtractionJob.planWorkSet(spark, cfg).rdd.getNumPartitions >= 16,
      "10 pages hash into at least 16 partitions, so some are empty")
    assert(ExtractionJob.run(spark, cfg) == 10)
    val m = ExtractionJob.readMetrics(spark, cfg).collect()
    assert(m.nonEmpty && m.forall(_.docs_parsed > 0), m.mkString("\n"))
    assert(m.map(_.docs_parsed).sum == 10 && m.map(_.extraction_failures).sum == 0)
    val wantBytes = spark.read.parquet(cfg.pagesPath)
      .selectExpr("sum(octet_length(html))").head.getLong(0)
    assert(m.map(_.bytes_tokenized).sum == wantBytes)
  }

  test("collapseRecrawls: latest snapshot per canonical url wins; resume still empty") {
    import org.apache.spark.sql.functions._
    val base = PagesTable.generate(spark, seed = 7L, n = 100, partitions = 2).toDF()
    // second crawl of the even pages, an hour later, under a respelled url
    // that canonicalizes back to the same page identity
    val recrawl = base
      .filter(expr("CAST(regexp_extract(url, 'articles/(\\\\d+)', 1) AS LONG) % 2 = 0"))
      .withColumn("url", concat(col("url"), lit("?")))
      .withColumn("warc_ts", expr("warc_ts + INTERVAL 1 HOUR"))
    val pagesPath = s"$tmp/pages_multicrawl"
    base.unionByName(recrawl).write.parquet(pagesPath)

    val cfg = JobConfig(pagesPath, s"$tmp/out_recrawl", runId = "rc1",
      collapseRecrawls = true)
    assert(ExtractionJob.run(spark, cfg) == 100,
      "150 snapshots must collapse to 100 page identities")
    val urls = spark.read.parquet(s"${cfg.outPath}/extracted")
      .select("url").collect().map(_.getString(0))
    assert(urls.length == 100)
    assert(urls.count(_.endsWith("?")) == 50,
      "every recrawled page must commit under its LATER snapshot's url")

    // resume over the same multi-crawl input: the winner urls are all
    // committed, so the anti-join leaves nothing
    assert(ExtractionJob.run(spark, cfg.copy(runId = "rc2")) == 100)
    val m = ExtractionJob.readMetrics(spark, cfg).collect()
    assert(m.filter(_.run_id == "rc2").map(_.docs_parsed).sum == 0,
      "recrawl-collapsed resume must re-extract nothing")
  }

  test("shuffle=false plans a shuffle-free scan (byte-balanced splits)") {
    val pagesPath = s"$tmp/noshuffle/pages"
    PagesTable.generate(spark, seed = 42L, n = 300, partitions = 4).write.parquet(pagesPath)
    val plan = ExtractionJob.planWorkSet(
        spark, JobConfig(pagesPath, s"$tmp/noshuffle/out", shuffle = false))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<url:string,html:binary>"))
    assert(!plan.toLowerCase.contains("exchange"),
      s"a no-shuffle plan must not shuffle the html payload:\n$plan")
  }
}
