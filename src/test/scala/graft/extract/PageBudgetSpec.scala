package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Per-page time budget: a page of many blocks must cost near-linear time
  * in its block count, so one hostile page cannot hold a task for minutes.
  * Work quadratic in the blocks would make 4× the blocks cost ~16× the
  * time; the bounds leave room for a loaded host. */
class PageBudgetSpec extends AnyFunSuite {

  /** A page of `n` `<p>` blocks of 5-60 random words each, so the blocks
    * differ in width and in line count. */
  private def page(n: Int, seed: Long): Array[Byte] = {
    val rng = new scala.util.Random(seed)
    val sb = new StringBuilder("<html><body>")
    for (_ <- 0 until n) {
      sb.append("<p>")
      for (w <- 0 until 5 + rng.nextInt(56)) {
        if (w > 0) sb.append(' ')
        for (_ <- 0 until 2 + rng.nextInt(8)) sb.append(('a' + rng.nextInt(26)).toChar)
      }
      sb.append("</p>\n")
    }
    sb.append("</body></html>").toString.getBytes(UTF_8)
  }

  /** Best of three wall times of one extraction, in seconds. */
  private def bestOf3(html: Array[Byte], blocks: Int): Double =
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val ex = Extractor.extract("budget://page", html)
      val s = (System.nanoTime() - t0) / 1e9
      assert(!ex.failed && ex.blocks.length == blocks)
      s
    }.min

  test("extraction time grows near-linearly in the block count") {
    val warm = page(1000, 1)
    (0 until 3).foreach(_ => Extractor.extract("budget://warm", warm))
    val t4k = bestOf3(page(4000, 2), 4000)
    val t16k = bestOf3(page(16000, 3), 16000)
    info(f"4k blocks: $t4k%.3f s, 16k blocks: $t16k%.3f s, ratio ${t16k / t4k}%.2f")
    // quadratic would be ~16
    assert(t16k / t4k < 8.0, f"16k/4k time ratio ${t16k / t4k}%.2f")
    assert(t16k < 3.0, f"16k-block page took $t16k%.3f s")
  }
}
