package graft.rel

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Known-answer coverage for the event-stream operators (sessionize /
  * as-of join / HLL registers); the driver's DuckDB oracle re-checks the
  * same ops at sf scale (q4/q5/q6). */
class EventOpsSpec extends AnyFunSuite with SparkSuite {
  private def ts(s: String) = Timestamp.valueOf(s)

  private def events(rows: (Long, String, Long)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (eid, t, uid) => (eid, ts(t), uid) }
      .toDF("event_id", "ts", "user_id")
  }

  test("sessionize cuts at gaps > 30 min, exact-boundary gap stays in-session") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 7L),
      (2L, "2024-01-01 10:30:00", 7L), // exactly 30 min -> same session
      (3L, "2024-01-01 11:00:01", 7L), // 30m01s -> new session
      (4L, "2024-01-01 23:00:00", 7L), // new session
      (5L, "2024-01-01 10:05:00", 9L)) // other user independent
    val got = EventOps.sessionize(e, gapMinutes = 30).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 1L))
  }

  test("sessionize orders equal-timestamp events by event_id") {
    val e = events(
      (2L, "2024-01-01 10:00:00", 7L),
      (1L, "2024-01-01 10:00:00", 7L),
      (3L, "2024-01-01 12:00:00", 7L))
    val got = EventOps.sessionize(e).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  private def orders(rows: (Long, Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (ok, ck, t) => (ok, ck, ts(t)) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
  }

  test("asofJoin picks the latest order at-or-before each event; none -> null") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 7L), // before any order -> null
      (2L, "2024-02-01 00:00:00", 7L), // order 11 (Jan 15) latest
      (3L, "2024-03-01 00:00:00", 7L), // order 12 (Feb 10)
      (4L, "2024-01-15 00:00:00", 7L), // exactly at order 11's stamp -> 11
      (5L, "2024-06-01 00:00:00", 9L)) // user 9 has no orders -> null
    val o = orders(
      (11L, 7L, "2024-01-15 00:00:00"),
      (12L, 7L, "2024-02-10 00:00:00"))
    val got = EventOps.asofJoin(e, o).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> -1L, 2L -> 11L, 3L -> 12L, 4L -> 11L, 5L -> -1L))
  }

  test("asofJoin breaks same-date order ties by highest o_orderkey") {
    val e = events((1L, "2024-02-01 00:00:00", 7L))
    val o = orders(
      (21L, 7L, "2024-01-15 00:00:00"),
      (25L, 7L, "2024-01-15 00:00:00"),
      (23L, 7L, "2024-01-15 00:00:00"))
    val got = EventOps.asofJoin(e, o).collect()
    assert(got.length == 1 && got.head.getLong(1) == 25L)
  }

  test("HLL registers: bucket/rho replay the 60-bit hash bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 42L), ("a", 43L), ("b", 42L)).toDF("g", "v")
    val got = EventOps.hllRegisters(df, "g", col("v"), p = 6).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    // independent scalar re-derivation of the same md5->60-bit chain
    def reg(value: Long): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(value.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val v = java.lang.Long.parseLong(hex, 16)
      val bucket = v >>> 54
      val rest = v & ((1L << 54) - 1)
      val rho = if (rest == 0) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
      (bucket, rho)
    }
    val (b42, r42) = reg(42L)
    val (b43, r43) = reg(43L)
    val expected = Seq(("a", b42) -> r42, ("a", b43) -> r43, ("b", b42) -> r42)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(got == expected)
  }

  test("HLL estimate lands within the 64-register error band") {
    val s = spark
    import s.implicits._
    val n = 5000
    val df = (1 to n).map(i => ("g", i.toLong)).toDF("g", "v")
    val regs = EventOps.hllRegisters(df, "g", col("v"), p = 6).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    val est = EventOps.hllEstimate(regs, p = 6)
    // 1.04/sqrt(64) ~= 13% standard error; allow 3 sigma
    assert(math.abs(est - n) / n < 0.39, s"estimate $est vs true $n")
  }

  private def typedEvents(rows: (Long, String, Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (eid, t, uid, typ) => (eid, ts(t), uid, typ) }
      .toDF("event_id", "ts", "user_id", "event_type")
  }

  test("funnel: stages require step order, same-timestamp chains count") {
    val e = typedEvents(
      // u1: full ordered funnel
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:05:00", 1L, "click"),
      (3L, "2024-01-01 10:10:00", 1L, "purchase"),
      // u2: purchase BEFORE the first view-then-click chain -> stage 2
      (4L, "2024-01-01 09:00:00", 2L, "purchase"),
      (5L, "2024-01-01 10:00:00", 2L, "view"),
      (6L, "2024-01-01 10:05:00", 2L, "click"),
      // u3: click before view -> stage 1
      (7L, "2024-01-01 09:00:00", 3L, "click"),
      (8L, "2024-01-01 10:00:00", 3L, "view"),
      // u4: never viewed -> absent
      (9L, "2024-01-01 10:00:00", 4L, "click"),
      // u5: all three at the SAME timestamp -> >= keeps the chain
      (10L, "2024-01-01 10:00:00", 5L, "view"),
      (11L, "2024-01-01 10:00:00", 5L, "click"),
      (12L, "2024-01-01 10:00:00", 5L, "purchase"))
    val got = EventOps.funnel(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 5L -> 3L))
  }

  test("CMS: point-query estimate bounds the true count from above") {
    val s = spark
    import s.implicits._
    // heavy key 7 (100 occurrences) among 50 singletons
    val rows = (Seq.fill(100)(7L) ++ (100L until 150L)).map(("g", _))
    val df = rows.toDF("g", "v")
    val counters = EventOps.cmsCounters(df, col("v"), d = 4, w = 256)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    def estimate(key: Long): Long =
      (0 until 4).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"cms$i:$key".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        val bucket = java.lang.Long.parseLong(hex, 16) % 256
        counters.getOrElse((i.toLong, bucket), 0L)
      }.min
    val est = estimate(7L)
    assert(est >= 100L, s"CMS estimate must never undercount: $est")
    // d=4, w=256 over 150 increments: collision error is tiny
    assert(est <= 110L, s"heavy key estimate far off: $est")
    // a key never inserted estimates only collision mass
    assert(estimate(999999L) <= 5L)
  }

  test("CMS sketches of disjoint shards merge by elementwise sum") {
    val s = spark
    import s.implicits._
    val all = (1 to 300).map(i => ("g", (i % 40).toLong))
    val (sh1, sh2) = all.splitAt(170)
    def sket(rows: Seq[(String, Long)]) =
      EventOps.cmsCounters(rows.toDF("g", "v"), col("v"), d = 4, w = 64)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val merged = (sket(sh1).toSeq ++ sket(sh2).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(merged == sket(all))
  }

  test("rangeBinJoin: [lo,hi) boundaries exact, overlaps multi-match, bin-edge hi excluded") {
    val s = spark
    import s.implicits._
    val points = Seq((1L, 0.0), (2L, 24.999), (3L, 25.0), (4L, 50.0),
      (5L, 95.0), (6L, 100.0), (7L, 499.9), (8L, 500.0), (9L, -1.0))
      .toDF("event_id", "value")
    val ranges = Seq(("a", 0.0, 25.0), ("b", 25.0, 100.0),
      ("c", 100.0, 500.0), ("alert", 90.0, 110.0)).toDF("band", "lo", "hi")
    val got = EventOps.rangeBinJoin(points, col("value"), ranges, binWidth = 25.0)
      .select("event_id", "band").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      1L -> "a", 2L -> "a",            // lo inclusive, hi exclusive at 25
      3L -> "b", 4L -> "b",
      5L -> "b", 5L -> "alert",        // overlap emits both
      6L -> "c", 6L -> "alert",        // 100 leaves b (hi-exclusive), enters c + alert
      7L -> "c"))                      // 500 and -1 in no band -> dropped
  }

  test("rangeBinJoin matches the inequality-join reference on random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 120 - 10))
    val rgs = Seq(("r1", -5.0, 3.0), ("r2", 3.0, 47.5), ("r3", 40.0, 100.0))
    val got = EventOps.rangeBinJoin(pts.toDF("event_id", "value"), col("value"),
        rgs.toDF("band", "lo", "hi"), binWidth = 10.0)
      .select("event_id", "band").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = (for ((id, v) <- pts; (b, lo, hi) <- rgs if v >= lo && v < hi)
      yield (id, b)).toSet
    assert(got == expected)
  }

  test("sessionizeChunked == sessionize on crafted chunk boundaries") {
    // gap 30 min, chunk 60 min: sessions straddling chunk edges, an event
    // exactly ON a chunk edge, an exact-gap boundary ACROSS chunks, an
    // empty intervening chunk, and an independent second user
    val e = events(
      (1L, "2024-01-01 10:50:00", 7L),
      (2L, "2024-01-01 11:05:00", 7L), // straddles the 11:00 chunk edge, same session
      (3L, "2024-01-01 11:35:00", 7L), // exactly 30 min after -> same session
      (4L, "2024-01-01 13:00:00", 7L), // empty 12:xx gap region -> new session, on chunk edge
      (5L, "2024-01-01 13:30:00", 7L), // exact-gap within chunk -> same
      (6L, "2024-01-01 15:00:01", 7L), // > gap -> new session
      (7L, "2024-01-01 10:59:59", 9L),
      (8L, "2024-01-01 11:00:00", 9L)) // edge-adjacent pair, same session
    val single = EventOps.sessionize(e, gapMinutes = 30).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    val chunked = EventOps.sessionizeChunked(e, gapMinutes = 30, chunkMinutes = 60)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(chunked == single, s"chunked=$chunked single=$single")
    assert(single == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L,
      6L -> 3L, 7L -> 1L, 8L -> 1L))
  }

  test("sessionizeChunked == sessionize on random data at several chunk widths") {
    val rnd = new scala.util.Random(11)
    // bursty random walk: mixed sub-gap and super-gap steps, two users,
    // duplicate timestamps; spans many chunks at every width tested
    var t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 400).map { i =>
      t += (if (rnd.nextInt(4) == 0) (25 + rnd.nextInt(90)) * 60000L
            else rnd.nextInt(20) * 60000L)
      (i.toLong, new java.sql.Timestamp(t).toString.stripSuffix(".0"), (i % 3).toLong)
    }
    val e = events(rows: _*)
    val single = EventOps.sessionize(e, gapMinutes = 30).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    for (chunk <- Seq(30, 45, 60, 720, 1440)) {
      val chunked = EventOps.sessionizeChunked(e, gapMinutes = 30, chunkMinutes = chunk)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(chunked == single, s"chunkMinutes=$chunk disagrees with single-pass")
    }
  }

  test("sessionizeChunked == sessionize on NTZ events across a DST fall-back") {
    // 01:55 and 02:10 wall clock are 15 min apart, but New York reads
    // 01:55 as EDT and 02:10 as EST: as instants they are 75 min apart,
    // so an instant-derived 30-min chunk puts them in non-adjacent chunks
    val s = spark
    import s.implicits._
    val tzKey = "spark.sql.session.timeZone"
    val priorTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/New_York")
    try {
      val e = Seq(
        (1L, java.time.LocalDateTime.parse("2024-11-03T01:55:00"), 7L),
        (2L, java.time.LocalDateTime.parse("2024-11-03T02:10:00"), 7L))
        .toDF("event_id", "ts", "user_id")
      assert(e.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      val single = EventOps.sessionize(e, gapMinutes = 30).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toMap
      val chunked = EventOps.sessionizeChunked(e, gapMinutes = 30, chunkMinutes = 30)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(single == Map(1L -> 1L, 2L -> 1L))
      assert(chunked == single, s"chunked=$chunked single=$single")
    } finally spark.conf.set(tzKey, priorTz)
  }

  test("sessionizeChunked refuses chunk width below the gap") {
    val e = events((1L, "2024-01-01 10:00:00", 7L))
    intercept[IllegalArgumentException] {
      EventOps.sessionizeChunked(e, gapMinutes = 30, chunkMinutes = 15)
    }
  }

  test("funnelSteps at k=2/3/5: deepest nested stage, k=3 equals funnel") {
    val e = typedEvents(
      (1L, "2024-01-01 10:00:00", 1L, "signup"),
      (2L, "2024-01-01 10:01:00", 1L, "view"),
      (3L, "2024-01-01 10:02:00", 1L, "click"),
      (4L, "2024-01-01 10:03:00", 1L, "purchase"),
      (5L, "2024-01-01 10:04:00", 1L, "error"),
      // u2 stops after the third of five steps
      (6L, "2024-01-01 09:00:00", 2L, "signup"),
      (7L, "2024-01-01 09:01:00", 2L, "view"),
      (8L, "2024-01-01 09:02:00", 2L, "click"),
      // u3 has step 4 BEFORE step 3 -> stuck at stage 2 of the 5-chain
      (9L, "2024-01-01 08:00:00", 3L, "signup"),
      (10L, "2024-01-01 08:01:00", 3L, "view"),
      (11L, "2024-01-01 08:00:30", 3L, "purchase"))
    def run(steps: String*) = EventOps.funnelSteps(e, steps).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run("signup", "view") == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(run("signup", "view", "click", "purchase", "error") ==
      Map(1L -> 5L, 2L -> 3L, 3L -> 2L))
    // k=3 path must be identical through both entry points
    val viaDefault = EventOps.funnel(e, "signup", "view", "click").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run("signup", "view", "click") == viaDefault)
    assert(viaDefault == Map(1L -> 3L, 2L -> 3L, 3L -> 2L))
  }

  test("rangeBinJoin: degenerate intervals (lo >= hi) produce zero rows by construction") {
    val s = spark
    import s.implicits._
    val points = Seq((1L, 50.0), (2L, 0.0)).toDF("event_id", "value")
    // lo=hi exactly on a bin edge (the descending-sequence trap), lo=hi
    // off-edge, and inverted lo>hi — all empty under [lo,hi)
    val ranges = Seq(("edge", 50.0, 50.0), ("point", 3.0, 3.0),
      ("inverted", 80.0, 20.0), ("real", 40.0, 60.0)).toDF("band", "lo", "hi")
    val got = EventOps.rangeBinJoin(points, col("value"), ranges, binWidth = 25.0)
      .select("event_id", "band").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "real"))
  }

  test("HLL registers merge across shards by elementwise max") {
    val s = spark
    import s.implicits._
    val all = (1 to 2000).map(i => ("g", i.toLong))
    val (shard1, shard2) = all.splitAt(1200)
    def regsOf(rows: Seq[(String, Long)]) =
      EventOps.hllRegisters(rows.toDF("g", "v"), "g", col("v"), p = 6)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val merged = (regsOf(shard1).toSeq ++ regsOf(shard2).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(merged == regsOf(all))
  }
}
