package graft

import graft.jobs.MetricsSink.decimal

/** Host-state probe: the splitmix64+fp workload `Bench` stamps its
  * figures with (BASELINE.md calibration), also runnable in seconds between
  * measurements so any figure can be stamped with the host state it ran
  * under. Prints one JSON line {"st_mops":…, "mt_mops":…, "threads":N}.
  * No Spark session — pure JVM, so it measures the machine, not the
  * framework.
  */
object HostProbe {
  private def kernel(): Double = {
    val t0 = System.nanoTime()
    var s = 0x9e3779b97f4a7c15L; var acc = 0.0; var i = 0
    while (i < 10000000) {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc += java.lang.Double.longBitsToDouble((z >>> 12) | 0x3ff0000000000000L)
      i += 1
    }
    if (acc == Double.MinValue) println(acc)
    10000000.0 / ((System.nanoTime() - t0) / 1e3)
  }

  /** Best-of-3 single-thread probe (JIT-warmed). Callable from harnesses
    * (`Bench`) so measurements carry their own host state. */
  def stProbe(): Double = {
    kernel() // JIT warmup
    (1 to 3).map(_ => kernel()).max
  }

  /** Best-of-2 all-core probe (aggregate M ops/s over `nt` threads). */
  def mtProbe(nt: Int = Runtime.getRuntime.availableProcessors()): Double = {
    def mtRun(): Double = {
      val done = new java.util.concurrent.CountDownLatch(nt)
      val t0 = System.nanoTime()
      (0 until nt).foreach { _ =>
        new Thread(() => { kernel(); done.countDown() }).start()
      }
      done.await()
      nt * 10000000.0 / ((System.nanoTime() - t0) / 1e3)
    }
    kernel(); mtRun() // warmup
    (1 to 2).map(_ => mtRun()).max
  }

  def main(args: Array[String]): Unit = {
    val nt = args.headOption.map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val st = stProbe()
    val mt = mtProbe(nt)
    println(s"""{"st_mops":${decimal(st, 1)},"mt_mops":${decimal(mt, 1)},"threads":$nt}""")
  }
}
