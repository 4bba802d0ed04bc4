package graft.mm

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The codec seam: a real decoder is an INJECTION, not an edit — the
  * driver oracle (m1–m3) hash-checks the plumbing through the default
  * [[MultiModal.StubCodec]]; this spec proves the same plumbing carries a
  * custom codec with its per-partition open/close lifecycle. */
class MultiModalSpec extends AnyFunSuite with SparkSuite {
  private def media = {
    val s = spark
    import s.implicits._
    Seq(
      ("a", Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2, 3)),
      ("b", Array[Byte]('R', 'I', 'F', 'F', 9, 9)),
      ("c", Array[Byte]('<', 'h', 't', 'm', 'l', '>')))
      .toDF("media_id", "media")
  }

  test("default path decodes through StubCodec: per-row equal to the stub functions") {
    val got = MultiModal.decode(spark, media).collect()
      .map(m => m.media_id -> m).toMap
    val bytesOf = media.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    for ((id, b) <- bytesOf)
      assert(got(id) == MultiModal.decodeStub(id, b))
    assert(got("a").format == "jpeg" && got("b").format == "riff" &&
      got("c").format == "html")
  }

  test("a media table that cannot size itself decodes over 4 tasks per core") {
    // an RDD-built frame's plan stats carry no size; the byte term must
    // not read that as unbounded input
    val unsized = spark.createDataFrame(media.rdd, media.schema)
    assert(graft.util.Spread.partitions(unsized) == 4 * spark.sparkContext.defaultParallelism)
    assert(MultiModal.decode(spark, unsized).count() == 3)
  }

  private def countingCodec = new MultiModal.MediaCodec {
    // executor-side counters: visible back in local[*] mode because
    // tasks share the JVM — good enough to assert the lifecycle fired
    def decode(id: String, bytes: Array[Byte]): MultiModal.MediaMeta = {
      assert(CodecProbe.opened.get() > 0, "decode before open()")
      MultiModal.MediaMeta(id, bytes.length.toLong, "custom", 1, 2, 3)
    }
    def features(id: String, bytes: Array[Byte]): MultiModal.MediaFeatures =
      MultiModal.MediaFeatures(id, Array(42f))
    override def open(): Unit = CodecProbe.opened.incrementAndGet()
    override def close(): Unit = CodecProbe.closed.incrementAndGet()
  }

  test("a custom codec injects through the same plumbing, open/close ran per task") {
    val codec = countingCodec
    CodecProbe.opened.set(0); CodecProbe.closed.set(0)
    val metas = MultiModal.decode(spark, media, codec = codec).collect()
    assert(metas.length == 3 && metas.forall(_.format == "custom"))
    assert(CodecProbe.opened.get() > 0, "open() never ran")
    assert(CodecProbe.closed.get() == CodecProbe.opened.get(),
      "every opened task codec must close exactly once")

    CodecProbe.opened.set(0); CodecProbe.closed.set(0)
    val feats = MultiModal.features(spark, media, codec = codec).collect()
    assert(feats.length == 3 && feats.forall(_.features.sameElements(Array(42f))))
    assert(CodecProbe.closed.get() == CodecProbe.opened.get() &&
      CodecProbe.opened.get() > 0)
  }

  test("an early-terminating plan still closes every codec it opened") {
    // take(1) over one three-row partition stops reading after the first
    // row, so the partition iterator is never exhausted
    CodecProbe.opened.set(0); CodecProbe.closed.set(0)
    val feats = MultiModal.features(spark, media.coalesce(1), codec = countingCodec).take(1)
    assert(feats.length == 1)
    assert(CodecProbe.opened.get() == 1, "one task, one open()")
    assert(CodecProbe.closed.get() == CodecProbe.opened.get(),
      "an unexhausted partition must still close its codec exactly once")
  }

  test("frame sampling strides the decoded frame count") {
    val metas = MultiModal.decode(spark, media)
    val frames = MultiModal.sampleFrames(spark, metas, everyN = 2).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val byId = frames.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val expect = MultiModal.decode(spark, media).collect()
      .map(m => m.media_id -> (0 until m.frames by 2).toSeq).toMap
    assert(byId == expect)
  }
}

/** JVM-wide lifecycle counters for the custom-codec test (local[*] tasks
  * share the test JVM). */
object CodecProbe {
  val opened = new java.util.concurrent.atomic.AtomicInteger(0)
  val closed = new java.util.concurrent.atomic.AtomicInteger(0)
}
