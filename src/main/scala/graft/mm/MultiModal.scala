package graft.mm

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: media payloads
  * are opaque `binary` columns with typed metadata travelling beside them.
  *
  * The CODEC layer is a pluggable seam ([[MediaCodec]]): a real deployment
  * injects an implementation backed by its image/audio libraries; this
  * sandbox ships [[StubCodec]] (no codec libraries here), which derives
  * deterministic pseudo-metadata and a byte-histogram feature vector —
  * chosen to be expressible in the driver's DuckDB oracle, so the decode
  * PLUMBING is hash-checked even though the codec is a stand-in. The
  * Spark-side contract is real and what matters at 100 TB: schema shape,
  * per-partition batched iteration (one decoder instance opened per task,
  * amortised over the partition — the mapInPandas batch pattern expressed
  * as typed mapPartitions), cost-sized repartition before decode, and
  * column pruning so the binary column is only read where needed.
  */
object MultiModal {

  final case class MediaMeta(
      media_id: String,
      n_bytes: Long,
      format: String,     // sniffed container
      width: Int,         // stub-decoded dimensions
      height: Int,
      frames: Int)

  final case class MediaFeatures(media_id: String, features: Array[Float])

  /** The injection seam between Spark plumbing and media libraries. Ships
    * to executors (Serializable); heavyweight native state (decoder
    * contexts, model weights) must NOT be serialized — acquire it in
    * [[open]] (called once per task before the first row, the
    * amortisation point) into `@transient` fields and release it in
    * [[close]] (called once per task: after the partition is exhausted,
    * or at task completion if it never is). */
  trait MediaCodec extends Serializable {
    def open(): Unit = ()
    def decode(id: String, bytes: Array[Byte]): MediaMeta
    def features(id: String, bytes: Array[Byte]): MediaFeatures
    def close(): Unit = ()
  }

  /** The sandbox stand-in (see object doc): deterministic, oracle-
    * replayable, zero native state. */
  object StubCodec extends MediaCodec {
    def decode(id: String, bytes: Array[Byte]): MediaMeta = decodeStub(id, bytes)
    def features(id: String, bytes: Array[Byte]): MediaFeatures = featuresStub(id, bytes)
  }

  /** Per-partition codec lifecycle: open before the first row, decode
    * each row through `f`, close exactly once — when exhausted, or at task
    * completion when the plan stops early (limit/take) or the task fails. */
  private def codecIterator[T](codec: MediaCodec, it: Iterator[(String, Array[Byte])],
                               f: (MediaCodec, String, Array[Byte]) => T): Iterator[T] = {
    codec.open()
    var closed = false
    def closeOnce(): Unit = if (!closed) { closed = true; codec.close() }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
    new Iterator[T] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) closeOnce()
        h
      }
      def next(): T = { val (id, bytes) = it.next(); f(codec, id, bytes) }
    }
  }

  /** Container sniffing from magic bytes — real logic (no codec needed). */
  def sniffFormat(bytes: Array[Byte]): String = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0xff && at(1) == 0xd8) "jpeg"
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "png"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F') "riff"
    else if (at(0) == 'O' && at(1) == 'g' && at(2) == 'g' && at(3) == 'S') "ogg"
    else if (at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') "mp4"
    else if (at(0) == '<') "html"
    else "bin"
  }

  /** STUB decoder (???-equivalent): a real deployment would decode the
    * container here; the sandbox derives deterministic dimensions from the
    * payload size with simple integer arithmetic — chosen deliberately to
    * be expressible in the driver's DuckDB oracle SQL, so the decode
    * PLUMBING (schema, partitioning, batch shape) is hash-checked even
    * though the codec itself is a stand-in. */
  def decodeStub(id: String, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length.toLong
    MediaMeta(id, n, sniffFormat(bytes),
      width = 64 + ((n * 2654435761L / 256L) % 1857L).toInt,
      height = 64 + ((n * 40503L / 16L) % 1017L).toInt,
      frames = 1 + (n % 240L).toInt)
  }

  /** STUB feature extractor: 32-bin byte histogram over the first 1 KiB
    * (a header-window read — bounded per-row work at any payload size),
    * L1-normalised — deterministic stand-in for an embedding model. */
  val FeatureWindow = 1024

  def featureCounts(bytes: Array[Byte]): Array[Long] = {
    val bins = new Array[Long](32)
    var i = 0
    val end = math.min(bytes.length, FeatureWindow)
    while (i < end) { bins((bytes(i) & 0xff) >> 3) += 1; i += 1 }
    bins
  }

  def featuresStub(id: String, bytes: Array[Byte]): MediaFeatures = {
    val bins = featureCounts(bytes)
    val n = math.max(1L, math.min(bytes.length.toLong, FeatureWindow.toLong))
    MediaFeatures(id, bins.map(b => (b.toDouble / n).toFloat))
  }

  /** Decode a media table (id + binary) spread over cost-sized partitions:
    * the binary column is the cost driver, so the rows hash on the id into
    * [[graft.util.Spread.partitions]] tasks before the per-partition decode
    * loop. */
  def decode(spark: SparkSession, media: DataFrame,
             idCol: String = "media_id", binCol: String = "media",
             codec: MediaCodec = StubCodec): Dataset[MediaMeta] = {
    import spark.implicits._
    graft.util.Spread.byKey(media.select(col(idCol), col(binCol)), idCol, media)
      .as[(String, Array[Byte])]
      .mapPartitions(it => codecIterator(codec, it, (c, id, b) => c.decode(id, b)))
  }

  /** Frame sampling plumbing for "video" payloads: deterministic stride
    * over the stub frame count; emits (media_id, frame_index). */
  def sampleFrames(spark: SparkSession, meta: Dataset[MediaMeta],
                   everyN: Int): DataFrame = {
    meta.toDF().select(col("media_id"),
      explode(sequence(lit(0), greatest(col("frames") - 1, lit(0)), lit(everyN)))
        .as("frame_index"))
  }

  def features(spark: SparkSession, media: DataFrame,
               idCol: String = "media_id", binCol: String = "media",
               codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col(idCol), col(binCol)).as[(String, Array[Byte])]
      .mapPartitions(it => codecIterator(codec, it, (c, id, b) => c.features(id, b)))
  }
}
