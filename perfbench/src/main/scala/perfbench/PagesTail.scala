package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.extract.Extractor

/** `pages_tail`: single-threaded `Extractor.extract` over generated pages
  * whose golden block count is large (see [[Inputs.tail]]). On these pages
  * the O(blocks²) layout and geometry stages do most of the work and
  * Spark does none, so a layout change shows here and a shuffle change
  * does not. The window runs whole passes over the page set; one op is
  * one page. `scratch_bytes_per_input_byte` here is heap allocated by the
  * extracting thread per html byte, the only scratch this path has. */
object PagesTail extends Workload {
  val Pages = 160
  private var pages = Vector.empty[Page]

  private def check(p: Page, ex: graft.extract.Extracted): Option[String] =
    if (ex.failed || ex.text != p.text) Some("text differs from golden") else None

  def generate(r: Run): Unit = pages = Inputs.tail(r.seed, Pages)

  def prepare(r: Run): Unit =
    Inputs.systematic(pages, 4).foreach(p => r.ops.attempt(check(p, Extractor.extract(p.url, p.html))))

  def measure(r: Run): (Outcome, Seq[Double]) = {
    val htmlBytes = pages.map(_.html.length.toLong).sum
    val latMs, passRates, tracedRates = ArrayBuffer.empty[Double]
    var allocBytes, allocInput = 0L
    val pt = new PageTrace
    val heapPeaks = r.window(minReps = if (r.trace) 2 else 1) { k =>
      if (r.trace && k % 2 == 1) {
        val (ns0, pages0) = (pt.extractNs, pt.pages)
        pages.foreach(p => r.ops.attempt(pt.page(p)))
        if (pt.extractNs > ns0) tracedRates += (pt.pages - pages0) / ((pt.extractNs - ns0) / 1e9)
      } else {
        var passNs = 0L
        var passDocs = 0
        pages.foreach { p =>
          r.ops.attempt {
            val a0 = Alloc.current()
            val t0 = System.nanoTime()
            val ex = Extractor.extract(p.url, p.html)
            val t1 = System.nanoTime()
            val a1 = Alloc.current()
            val bad = check(p, ex)
            if (bad.isEmpty) {
              passNs += t1 - t0; passDocs += 1; latMs += (t1 - t0) / 1e6
              allocBytes += a1 - a0; allocInput += p.html.length
            }
            bad
          }
        }
        if (passDocs > 0) passRates += passDocs / (passNs / 1e9)
      }
    }
    val layers =
      if (!r.trace) Seq.empty
      else pt.metrics ++ Trace.overhead(tracedRates.toSeq, passRates.toSeq)
    (Outcome(
      Seq(Metric("docs_per_s", Stats.median(passRates.toSeq), "docs/s"),
        Metric("doc_ms_p50", Stats.median(latMs.toSeq), "ms"),
        Metric("doc_ms_p95", Stats.percentile(latMs.toSeq, 95), "ms"),
        Metric("scratch_bytes_per_input_byte",
          if (allocInput == 0) 0.0 else allocBytes.toDouble / allocInput, "B/B")),
      layers,
      Map("timed_docs" -> latMs.length, "passes" -> passRates.length, "pages" -> pages.length),
      Map("html_mb" -> htmlBytes / 1e6)), heapPeaks)
  }
}
