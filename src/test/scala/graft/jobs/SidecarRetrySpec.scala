package graft.jobs

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.pages.PagesTable

/** The local file system under the `flaky:` scheme. While armed, the first
  * attempt-0 metrics sidecar it is asked to create fails, so that task
  * fails after extracting its whole partition and Spark retries it. */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("flaky:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (f.getName.endsWith("-a0.inprogress") && FlakyFs.armed.compareAndSet(true, false))
      throw new IOException(s"injected sidecar failure: $f")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

object FlakyFs {
  val armed = new AtomicBoolean(false)
}

/** Its own session on `local[4,2]`: a failed task gets one retry. */
class SidecarRetrySpec extends AnyFunSuite with SparkSuite {
  override protected def sessionConf: Map[String, String] = SparkSuite.Local4 ++ Map(
    "spark.master" -> "local[4,2]",
    "spark.hadoop.fs.flaky.impl" -> classOf[FlakyFs].getName)

  private val tmp = java.nio.file.Files.createTempDirectory("graftretry").toString

  test("a task retried after its sidecar write failed: same rows, one metrics row per busy partition") {
    val pages = s"$tmp/pages"
    PagesTable.generate(spark, seed = 8L, n = 60, partitions = 2).write.parquet(pages)
    def rows(cfg: JobConfig) = spark.read.parquet(cfg.extractedTable)
      .select("url", "text", "spans", "blocks", "failed").orderBy("url").collect().toSeq
    def perPartition(cfg: JobConfig) = ExtractionJob.readMetrics(spark, cfg).collect()
      .map(m => m.partition_id -> m.docs_parsed).sorted.toSeq

    val clean = JobConfig(pages, s"$tmp/clean", runId = "clean")
    assert(ExtractionJob.run(spark, clean) == 60)

    val cfg = JobConfig(pages, s"$tmp/out", runId = "retry", scratchPath = s"flaky://$tmp/scratch")
    FlakyFs.armed.set(true)
    assert(ExtractionJob.run(spark, cfg) == 60, "run counts every page once")
    assert(!FlakyFs.armed.get, "the injected sidecar failure fired")

    assert(rows(cfg) == rows(clean), "the retried task commits the clean run's rows")
    val busy = perPartition(cfg)
    assert(busy.map(_._1).distinct.length == busy.length, s"one row per partition: $busy")
    assert(busy == perPartition(clean), "every busy partition has its row, retried one included")
    assert(busy.map(_._2).sum == 60)
  }
}
