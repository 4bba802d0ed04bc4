package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Order statistics. With no samples (every operation failed) they read 0;
  * the failure itself is reported through the failed-op count. */
object Stats {
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }
}

/** Wall-clock helpers. */
object Clock {
  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Peak heap occupancy after GC over one operation: the operation starts
  * on a freshly collected heap, and the peak is the largest heap total any
  * collection during it left behind (or, if none ran, the heap after one
  * full collection at its end). */
object HeapPeak {
  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { if (used > peak) peak = used }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  // notifications arrive on a JMX thread, shortly after the collection
  private def settle(): Unit = Thread.sleep(50)

  private def fullGc(): Unit = { System.gc(); settle() }

  /** Runs `f`; returns its peak in MB. */
  def around(f: => Unit): Double = {
    fullGc()
    synchronized { peak = 0L }
    f
    settle()
    if (synchronized(peak) == 0L) fullGc()
    val bytes = synchronized(peak)
    bytes / (1024.0 * 1024.0)
  }
}

/** Bytes the calling thread has allocated so far. */
object Alloc {
  private val bean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def current(): Long = bean.getCurrentThreadAllocatedBytes
}

/** A fixed single-threaded integer/float loop (10^7 splitmix64 steps), in
  * millions of steps per second: it attributes a slow run to a throttled
  * host rather than to the code. Best of three after one warm-up. */
object HostProbe {
  def mops(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var s = 0x9e3779b97f4a7c15L
      var acc = 0.0
      var i = 0
      while (i < 10000000) {
        s += 0x9e3779b97f4a7c15L
        var z = s
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        acc += java.lang.Double.longBitsToDouble((z >>> 12) | 0x3ff0000000000000L)
        i += 1
      }
      if (acc == Double.MinValue) println(acc) // keeps the loop live
      10000000.0 / ((System.nanoTime() - t0) / 1e3)
    }
    once()
    (1 to 3).map(_ => once()).max
  }
}

/** One finished task, as the traced run's listener saw it. */
final case class TaskRecord(stage: Int, wallMs: Long, runMs: Long, gcMs: Long,
                            shuffleWrite: Long, diskSpill: Long, failed: Boolean)

/** The traced run's task counters: every task end while [[recording]]. */
final class TaskCounters extends SparkListener {
  private val buf = ArrayBuffer.empty[TaskRecord]
  @volatile var recording = false

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
    val m = e.taskMetrics
    val r = TaskRecord(e.stageId, e.taskInfo.duration,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      !e.taskInfo.successful)
    synchronized(buf += r)
  }

  /** Tasks of `f`'s Spark jobs, and `f`'s wall seconds. */
  def around[A](sc: SparkContext)(f: => A): (A, Seq[TaskRecord], Double) = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    synchronized(buf.clear())
    recording = true
    val (a, s) = Clock.time(f)
    org.apache.spark.BenchAccess.drainListeners(sc)
    recording = false
    (a, synchronized(buf.toVector), s)
  }
}

/** Per-layer split of the Spark jobs one timed call ran. */
final case class JobSplit(tasks: Int, wallMaxOverMedian: Double, coreIdleShare: Double,
                          gcS: Double, shuffleWriteMb: Double, spillMb: Double,
                          taskFailures: Int)
object JobSplit {
  private val Mb = 1024.0 * 1024.0

  /** `wallMaxOverMedian` is taken over the stage with the most executor
    * time, the one whose straggler sets the call's wall time. */
  def of(tasks: Seq[TaskRecord], wallS: Double, cores: Int): JobSplit = {
    val ok = tasks.filterNot(_.failed)
    val heaviest = if (ok.isEmpty) Seq.empty
      else ok.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum)
    val skew = if (heaviest.isEmpty) 0.0 else {
      val walls = heaviest.map(_.wallMs.toDouble)
      walls.max / math.max(1.0, Stats.median(walls))
    }
    val busyS = tasks.map(_.runMs).sum / 1000.0
    JobSplit(tasks.length, skew, 1.0 - busyS / (wallS * cores),
      tasks.map(_.gcMs).sum / 1000.0, tasks.map(_.shuffleWrite).sum / Mb,
      tasks.map(_.diskSpill).sum / Mb, tasks.count(_.failed))
  }
}

/** Tracing overhead: traced vs untraced docs/s of the same call, both
  * measured in the traced run. */
object Trace {
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Seq[Metric] = {
    val t = Stats.median(traced)
    val u = Stats.median(untraced)
    Seq(Metric("trace.docs_per_s", t, "docs/s"),
      Metric("trace.overhead_share", if (u == 0) 0.0 else 1.0 - t / u, "ratio"))
  }
}
