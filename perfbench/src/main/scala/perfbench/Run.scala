package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** Attempted and failed operations. An operation that throws, or whose
  * output fails its golden check, is one failed op; the run records the
  * exception class (or the check's reason) and goes on. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val reasons: mutable.Map[String, Long] = mutable.TreeMap.empty

  private def fail(reason: String): Unit = {
    failed += 1
    reasons(reason) = reasons.getOrElse(reason, 0L) + 1
  }

  /** Runs `op`; it returns the reason its output is wrong, if it is. */
  def attempt(op: => Option[String]): Unit = {
    attempted += 1
    try op.foreach(reason => fail(s"golden: $reason"))
    catch { case NonFatal(e) => fail(e.getClass.getName) }
  }

  def failedRatio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Everything one benchmark run shares: the seed, the measuring window,
  * the scratch directory and, for the job workloads, the Spark session
  * (built on first use, so `pages_tail` never starts Spark). */
final class Run(session: => SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val cores: Int, val work: java.io.File) {
  val ops = new Ops
  private var started = false
  lazy val spark: SparkSession = { started = true; session }
  /** The traced run's task listener, registered on first use. */
  lazy val counters: TaskCounters = {
    val c = new TaskCounters
    sc.addSparkListener(c)
    c
  }
  def sc = spark.sparkContext

  def stop(): Unit = if (started) spark.stop()

  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath

  def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }

  /** Bytes under a directory. */
  def sizeOf(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength
  }

  /** Repeats `op` while the next repetition, judged by the last one, still
    * ends inside the window; at least `minReps` times. Each repetition is
    * wrapped in [[HeapPeak.around]]; returns the per-repetition peaks. */
  def window(minReps: Int)(op: Int => Unit): Seq[Double] = {
    val t0 = Clock.now()
    val peaks = scala.collection.mutable.ArrayBuffer.empty[Double]
    var k = 0
    var last = 0.0
    while (k < minReps || Clock.secondsSince(t0) + last <= seconds) {
      val (peak, s) = Clock.time(HeapPeak.around(op(k)))
      peaks += peak
      last = s
      k += 1
    }
    peaks.toSeq
  }
}

/** What a workload's window measured. */
final case class Outcome(endToEnd: Seq[Metric], perLayer: Seq[Metric],
                         samples: Map[String, Int], inputs: Map[String, Double])

/** A workload's life in one run: generate its inputs from the seed
  * [[SetupRounds]] times, prepare once (materialise what the operation
  * reads, then one untimed pass of it for JIT and codegen warm-up), then
  * measure. `setup_s` is the median generation round plus the
  * preparation, so work a change moves out of the window and into set-up
  * still shows. */
trait Workload {
  val SetupRounds = 3

  /** One round of input generation (the same inputs every round). */
  def generate(r: Run): Unit

  def prepare(r: Run): Unit

  /** The measured window; `heapPeaks` are its per-repetition heap peaks. */
  def measure(r: Run): (Outcome, Seq[Double])

  def run(r: Run): Outcome = {
    val rounds = (1 to SetupRounds).map(_ => Clock.time(generate(r))._2)
    val prep = Clock.time(prepare(r))._2
    val (o, heapPeaks) = measure(r)
    o.copy(endToEnd = o.endToEnd :+ Metric("setup_s", Stats.median(rounds) + prep, "s"),
      perLayer = o.perLayer :+ Metric("heap_peak_mb", Stats.median(heapPeaks), "MB"),
      samples = o.samples + ("setup_rounds" -> rounds.length))
  }
}
