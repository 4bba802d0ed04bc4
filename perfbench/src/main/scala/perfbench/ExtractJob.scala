package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.jobs.{ExtractionJob, JobConfig}

/** `extract_job`: `ExtractionJob.run` with the default salt over a fresh
  * output root, on a pages table in the generator's natural mix. Every
  * layer is on this path: scan, salt shuffle, front end, layout, parquet
  * append and metrics compaction. One op is one job; each document's
  * latency is the wall time of the job that committed it. The traced run
  * also splits the tier pass over the last job's output ([[TierLayer]]). */
object ExtractJob extends Workload {
  val Pages = 2000
  private var pages = Vector.empty[Page]

  private def pagesDir(r: Run) = r.dir("pages")

  def generate(r: Run): Unit = {
    pages = Inputs.naturalMix(r.seed, Pages)
    Jobs.writePages(r, pages, pagesDir(r))
  }

  /** Warm-up: one untimed, checked job over the same table. */
  def prepare(r: Run): Unit = {
    val warm = r.dir("warm")
    r.ops.attempt {
      ExtractionJob.run(r.spark, JobConfig(pagesDir(r), warm, runId = "warm-up"))
      Jobs.checkExtracted(r, warm, pages)
    }
    r.delete(warm)
  }

  def measure(r: Run): (Outcome, Seq[Double]) = {
    val htmlBytes = pages.map(_.html.length.toLong).sum.toDouble
    val walls, scratch, traced = ArrayBuffer.empty[Double]
    val scan, extract, commit = ArrayBuffer.empty[Double]
    val splits = ArrayBuffer.empty[JobSplit]
    var lastOut = ""
    val heapPeaks = r.window(minReps = if (r.trace) 2 else 1) { k =>
      if (lastOut.nonEmpty) r.delete(lastOut)
      val out = r.dir(s"out-$k")
      lastOut = out
      val cfg = JobConfig(pagesDir(r), out, runId = s"bench-$k")
      if (r.trace && k % 2 == 1) r.ops.attempt {
        // nested calls planWorkSet ⊂ extractDataset ⊂ run; self times by difference
        val (_, a) = Clock.time(Jobs.noop(ExtractionJob.planWorkSet(r.spark, cfg)))
        val (_, b) = Clock.time(Jobs.noop(ExtractionJob.extractDataset(
          r.spark, ExtractionJob.planWorkSet(r.spark, cfg), cfg).toDF()))
        val (_, tasks, s) = r.counters.around(r.sc)(ExtractionJob.run(r.spark, cfg))
        val bad = Jobs.checkExtracted(r, out, pages)
        if (bad.isEmpty) {
          traced += s; scan += a; extract += b - a; commit += s - b
          splits += JobSplit.of(tasks, s, r.cores)
        }
        bad
      } else r.ops.attempt {
        val (_, s, bytes) = Jobs.grouped(r, s"extract-$k")(ExtractionJob.run(r.spark, cfg))
        val bad = Jobs.checkExtracted(r, out, pages)
        if (bad.isEmpty) { walls += s; scratch += bytes / htmlBytes }
        bad
      }
    }
    val layers = ArrayBuffer.empty[Metric]
    if (r.trace) {
      layers ++= TierLayer.measure(r, lastOut, Pages)
      val pt = new PageTrace
      Inputs.systematic(pages, 10).foreach(p => r.ops.attempt(pt.page(p)))
      layers ++= pt.metrics
      def med(name: String, xs: Seq[Double], unit: String) = Metric(name, Stats.median(xs), unit)
      layers ++= Seq(
        med("jobs.scan_shuffle_s", scan.toSeq, "s"),
        med("jobs.extract_s", extract.toSeq, "s"),
        med("jobs.write_commit_s", commit.toSeq, "s"),
        med("jobs.tasks", splits.map(_.tasks.toDouble).toSeq, "count"),
        med("jobs.task_wall_max_over_median", splits.map(_.wallMaxOverMedian).toSeq, "ratio"),
        med("jobs.core_idle_share", splits.map(_.coreIdleShare).toSeq, "ratio"),
        med("jobs.gc_s", splits.map(_.gcS).toSeq, "s"),
        med("jobs.shuffle_write_mb", splits.map(_.shuffleWriteMb).toSeq, "MB"),
        med("jobs.spill_mb", splits.map(_.spillMb).toSeq, "MB"),
        med("jobs.task_failures", splits.map(_.taskFailures.toDouble).toSeq, "count"))
      layers ++= Trace.overhead(traced.map(Pages / _).toSeq, walls.map(Pages / _).toSeq)
    }
    val docMs = walls.toSeq.flatMap(s => Seq.fill(Pages)(s * 1000))
    (Outcome(
      Seq(Metric("docs_per_s", Stats.median(walls.map(Pages / _).toSeq), "docs/s"),
        Metric("doc_ms_p50", Stats.median(docMs), "ms"),
        Metric("doc_ms_p95", Stats.percentile(docMs, 95), "ms"),
        Metric("scratch_bytes_per_input_byte", Stats.median(scratch.toSeq), "B/B")),
      layers.toSeq,
      Map("timed_jobs" -> walls.length, "traced_jobs" -> traced.length, "docs_per_job" -> Pages),
      Map("html_mb" -> htmlBytes / 1e6)), heapPeaks)
  }
}
