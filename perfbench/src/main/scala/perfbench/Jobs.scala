package perfbench

import org.apache.spark.sql.SaveMode

import graft.io.ParquetTableIO

/** Spark-side helpers of `extract_job` and its tier-pass split. */
object Jobs {
  /** Writes the pages table the extraction job reads: one parquet file
    * per slice, so the scan splits over every core. */
  def writePages(r: Run, pages: Vector[Page], dir: String): Unit = {
    import r.spark.implicits._
    r.sc.parallelize(pages.map(_.row), r.cores * 2).toDS()
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The extracted table `ExtractionJob.run` writes under `out`. */
  def extractedTable(out: String): String = ParquetTableIO.resolve(out, "extracted")

  /** The extraction gate: one row per input page, none failed, and each
    * url's text byte-identical to the generator's golden. */
  def checkExtracted(r: Run, out: String, pages: Vector[Page]): Option[String] = {
    val rows = r.spark.read.parquet(extractedTable(out))
      .select("url", "text", "failed").collect()
    val got = rows.iterator.map(row => row.getString(0) -> row.getString(1)).toMap
    val differing = pages.count(p => !got.get(p.url).contains(p.text))
    if (rows.length != pages.length) Some(s"${rows.length} rows for ${pages.length} pages")
    else if (rows.exists(_.get(2).toString == "true")) Some("a row has failed = true")
    else if (got.size != pages.length) Some("duplicate urls")
    else if (differing > 0) Some(s"$differing texts differ from golden")
    else None
  }

  /** Runs `f` with its Spark jobs under a fresh job group; returns the
    * result, the wall seconds and the scratch bytes (shuffle write + disk
    * spill) of the group's stages, from Spark's own status store. */
  def grouped[A](r: Run, group: String)(f: => A): (A, Double, Long) = {
    r.sc.setJobGroup(group, group)
    val (a, s) = try Clock.time(f) finally r.sc.clearJobGroup()
    val stages = org.apache.spark.BenchAccess.stagesOfGroup(r.sc, group)
    (a, s, stages.map(st => st.shuffleWriteBytes + st.diskBytesSpilled).sum)
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()
}
