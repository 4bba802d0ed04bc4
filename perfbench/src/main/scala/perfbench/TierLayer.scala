package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.jobs.{ExtractionJob, TierJob}
import graft.text.TextOps

/** The tier pass's layer split, measured in `extract_job`'s traced run
  * over the table its last job extracted. One untimed `TierJob.run` gives
  * the reference counts; then three nested calls, each run to completion:
  * `crossDupCoverage` ⊂ `tierAssign` ⊂ `TierJob.run`. Their times are
  * reported inclusive, not as differences: Spark plans each call on its
  * own, and a whole tier pass measures no slower than `tierAssign` alone,
  * so a difference would not be the rewrite's self time. Both passes are
  * gated: the per-tier counts sum to the extracted docs and are identical
  * between the two passes. */
object TierLayer {
  private val Mb = 1024.0 * 1024.0

  private def tierCounts(df: DataFrame): Map[Int, Long] =
    df.collect().iterator
      .map(row => row.getAs[Any]("tier").toString.toInt -> row.getAs[Long]("docs")).toMap

  private def check(counts: Map[Int, Long], docs: Int): Option[String] =
    if (counts.values.sum != docs) Some(s"tier counts sum to ${counts.values.sum}, not $docs")
    else None

  def measure(r: Run, extractedOut: String, docs: Int): Seq[Metric] = {
    val extracted = Jobs.extractedTable(extractedOut)
    var reference = Map.empty[Int, Long]
    r.ops.attempt {
      reference = tierCounts(TierJob.run(r.spark, extracted, r.dir("tier-ref")))
      check(reference, docs)
    }
    r.delete(r.dir("tier-ref"))

    var layers = Seq.empty[Metric]
    val out = r.dir("tier-traced")
    r.ops.attempt {
      def input = ExtractionJob.readExtracted(r.spark, extracted)
        .select(col("url").as("doc_id"), col("text"))
      val (_, a) = Clock.time(Jobs.noop(TextOps.crossDupCoverage(input)))
      val (_, assignTasks, b) = r.counters.around(r.sc)(Jobs.noop(TextOps.tierAssign(input)))
      val (counts, _, c) = r.counters.around(r.sc)(tierCounts(TierJob.run(r.spark, extracted, out)))
      layers = Seq(
        Metric("text.crossdup_s", a, "s"),
        Metric("text.tier_assign_s", b, "s"),
        Metric("text.shuffle_write_mb", assignTasks.map(_.shuffleWrite).sum / Mb, "MB"),
        Metric("jobs.tier_pass_s", c, "s"),
        Metric("io.output_mb", r.sizeOf(s"$out/tiered") / Mb, "MB"))
      check(counts, docs).orElse(
        if (counts != reference) Some("tier counts differ between passes") else None)
    }
    r.delete(out)
    layers
  }
}
