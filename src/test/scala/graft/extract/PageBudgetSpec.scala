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

  /** Wall time of one extraction after a warm-up, in seconds; the page
    * must extract without a failed row. */
  private def timeOne(html: Array[Byte]): Double = {
    Extractor.extract("budget://warm", page(200, 1))
    val t0 = System.nanoTime()
    val ex = Extractor.extract("budget://hostile", html)
    val s = (System.nanoTime() - t0) / 1e9
    assert(!ex.failed)
    s
  }

  test("a paragraph of 800k '&' extracts in under a second") {
    val html = ("<html><body><p>" + "&" * 800000 + "</p></body></html>").getBytes(UTF_8)
    val s = timeOne(html)
    info(f"800k '&': $s%.3f s")
    assert(s < 1.0, f"800k '&' took $s%.3f s")
  }

  test("hostile front-end input extracts in under two seconds") {
    val fourMb = 4 << 20
    val pages = Seq(
      "100k stray end tags under 512 open elements" -> ("<div>" * 512 + "</span>" * 100000 + "words"),
      "4 MB unterminated comment" -> ("<p>before</p><!--" + "x" * fourMb),
      "4 MB unterminated attribute quote" -> ("<p>before</p><p class=\"" + "x" * fourMb),
      "4 MB script with no close tag" -> ("<p>before</p><script>" + "x" * fourMb))
    for ((name, html) <- pages) {
      val s = timeOne(html.getBytes(UTF_8))
      info(f"$name: $s%.3f s")
      assert(s < 2.0, f"$name took $s%.3f s")
    }
  }
}
