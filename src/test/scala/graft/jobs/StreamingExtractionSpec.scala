package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import graft.pages.PagesTable
import graft.SparkSuite

class StreamingExtractionSpec extends AnyFunSuite with SparkSuite {
  private val tmp = java.nio.file.Files.createTempDirectory("graftstream").toString

  test("streaming surface: file-source -> extractor -> checkpointed sink") {
    val pagesDir = s"$tmp/pages"
    PagesTable.generate(spark, 42L, 120, partitions = 3).write.parquet(pagesDir)

    val q = StreamingExtraction.start(spark, pagesDir, s"$tmp/out", pagesDir)
    q.awaitTermination(120000)

    val out = spark.read.parquet(s"$tmp/out/extracted")
    assert(out.count() == 120)
    // restart with no new files: AvailableNow terminates having added nothing
    val q2 = StreamingExtraction.start(spark, pagesDir, s"$tmp/out", pagesDir)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$tmp/out/extracted").count() == 120)

    // text byte-identity through the streaming path too
    import org.apache.spark.sql.functions.col
    val joined = out.withColumnRenamed("text", "got")
      .join(spark.read.parquet(pagesDir).select("url", "text"), "url")
    assert(joined.filter(col("got") =!= col("text")).count() == 0)
  }

  test("a null-html page streams out as one failed row, not a terminated query") {
    val s = spark
    import s.implicits._
    val pagesDir = s"$tmp/pages_nullhtml"
    val broken = ExtractionJobSpec.writeNullHtmlPages(spark, pagesDir, 20)
    val q = StreamingExtraction.start(spark, pagesDir, s"$tmp/out_nullhtml", pagesDir)
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$tmp/out_nullhtml/extracted")
    assert(out.count() == 20)
    assert(out.filter($"failed").select("url").as[String].collect().toSeq == Seq(broken))
  }

  test("watermarked windowed metrics and mapGroupsWithState host progress") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val pages = source.toDF()

    // windowed agg: update mode into a memory sink
    val winQ = StreamingExtraction.windowedLangMetrics(pages, watermark = "0 seconds")
      .writeStream.format("memory").queryName("win_metrics")
      .outputMode("update").start()
    // host state: running totals per crawl host
    val hostQ = StreamingExtraction.hostProgress(spark, pages)
      .writeStream.format("memory").queryName("host_progress")
      .outputMode("update").start()

    val batch1 = graft.pages.PageGen.pages(42L, 0, 40).toSeq
    source.addData(batch1: _*)
    winQ.processAllAvailable()
    hostQ.processAllAvailable()

    val win1 = spark.sql("SELECT sum(docs) FROM win_metrics").head.getLong(0)
    assert(win1 == 40, s"windowed docs after batch 1: $win1")

    // second micro-batch: totals must be RUNNING (state carried across)
    val batch2 = graft.pages.PageGen.pages(42L, 40, 70).toSeq
    source.addData(batch2: _*)
    winQ.processAllAvailable()
    hostQ.processAllAvailable()

    // host_progress: take the LAST update per host, totals must equal the
    // batch-independent per-host counts over all 70 pages
    val latest = spark.sql(
      """SELECT host, max(docs) AS docs FROM host_progress GROUP BY host""")
      .as[(String, Long)].collect().toMap
    val want = (batch1 ++ batch2).groupBy(p =>
      "//([^/]+)/".r.findFirstMatchIn(p.url).get.group(1))
      .view.mapValues(_.size.toLong).toMap
    assert(latest == want, "running per-host totals reconcile after two batches")

    // window metrics: per-lang totals across updates reconcile too
    val langTotals = spark.sql(
      """SELECT lang, max(docs) FROM win_metrics GROUP BY lang""")
    // warc_ts advances 1s per page -> all pages share one 1h window, so the
    // max update per lang is the running total
    val gotLang = langTotals.as[(String, Long)].collect().toMap
    val wantLang = (batch1 ++ batch2).groupBy(_.lang).view.mapValues(_.size.toLong).toMap
    assert(gotLang == wantLang, "windowed per-lang totals reconcile")

    winQ.stop(); hostQ.stop()
  }

  test("host progress keys pathless urls by their host") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.hostProgress(spark, source.toDF())
      .writeStream.format("memory").queryName("host_progress_pathless")
      .outputMode("update").start()
    val urls = Seq("https://a.com", "https://b.com", "https://a.com")
    source.addData(graft.pages.PageGen.pages(42L, 0, urls.length).toSeq
      .zip(urls).map { case (p, u) => p.copy(url = u) }: _*)
    q.processAllAvailable()
    val got = spark.sql(
      """SELECT host, max(docs) FROM host_progress_pathless GROUP BY host""")
      .as[(String, Long)].collect().toMap
    q.stop()
    assert(got == Map("a.com" -> 2L, "b.com" -> 1L))
  }

  test("streaming pre-tier: stateless projection, append mode, batch-identical") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.preTieredPages(source.toDF())
      .writeStream.format("memory").queryName("pre_tiered")
      .outputMode("append").start()
    val rows = graft.pages.PageGen.pages(7L, 0, 60).toSeq
    source.addData(rows: _*)
    q.processAllAvailable()

    // no state store anywhere in the streaming plan (pure row projection —
    // the property that makes the ingest-side reject free at crawl scale)
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"pre-tier must run stateless:\n${q.lastProgress}")
    val got = spark.sql("SELECT url, pre_tier, pre_reasons FROM pre_tiered")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    q.stop()
    assert(got.size == 60)
    // identical to the batch projection over the same rows
    val want = graft.text.TextOps.preTier(
        rows.toDF().selectExpr("url AS doc_id", "text"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got == want, "stream and batch pre-tier must agree row-for-row")
  }

  test("streaming line curation: stateless dedup+C4 projection, batch-identical") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.curatedPages(source.toDF())
      .writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    val rows = graft.pages.PageGen.pages(11L, 0, 40).toSeq
    source.addData(rows: _*)
    q.processAllAvailable()
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"line curation must run stateless:\n${q.lastProgress}")
    val got = spark.sql("SELECT url, n_kept, kept_text, doc_keep FROM curated")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    q.stop()
    assert(got.size == 40)
    // identical to the batch composition over the same rows
    val want = StreamingExtraction.curatedPages(rows.toDF())
      .select("url", "n_kept", "kept_text", "doc_keep")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(got == want, "stream and batch line curation must agree row-for-row")
    assert(got.values.exists(_._1 > 0), "some lines must survive the filter")
  }

  test("streaming outlink edges: stateless flatMap, batch-identical edge set") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.outlinkEdges(source.toDF())
      .writeStream.format("memory").queryName("edges_stream")
      .outputMode("append").start()
    val rows = graft.pages.PageGen.pages(13L, 0, 40).toSeq
    source.addData(rows: _*)
    q.processAllAvailable()
    assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
      s"edge extraction must run stateless:\n${q.lastProgress}")
    val got = spark.sql("SELECT src, pos, href, anchor, target FROM edges_stream")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    q.stop()
    assert(got.nonEmpty, "generated pages carry links")
    // identical to the batch edge derivation over the same rows
    val want = graft.graph.GraphOps.edges(rows.toDF())
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == want, "stream and batch edge sets must agree")
  }

  test("streaming LSH candidates: banded collisions against first-seen reps, replay-exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.lshCandidatePairs(spark, source.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("lsh_out")
      .outputMode("append").start()

    val batch1 = graft.pages.PageGen.pages(42L, 0, 25).toSeq
    // batch 2: 8 new pages + 5 exact-content mirrors of batch-1 pages
    // (identical text -> identical signature -> collision in EVERY band)
    val mirrors = graft.pages.PageGen.pages(42L, 3, 8)
      .map(p => p.copy(url = p.url + "?mirror=1")).toSeq
    val batch2 = graft.pages.PageGen.pages(42L, 25, 33).toSeq ++ mirrors

    // batch 3: an at-least-once REPLAY — batch-1 rows re-delivered
    // verbatim, including bucket representatives themselves
    val batch3 = graft.pages.PageGen.pages(42L, 0, 5).toSeq

    source.addData(batch1: _*); q.processAllAvailable()
    source.addData(batch2: _*); q.processAllAvailable()
    source.addData(batch3: _*); q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT firstUrl, url, band FROM lsh_out")
      .as[(String, String, Int)].collect().toSet
    assert(!got.exists(c => c._1 == c._2),
      "a re-delivered representative must never emit a self-pair")

    // in-memory replay of the operator's contract: per (band, bucket) key
    // the first (ts, url)-ordered arrival is the representative; every
    // later arrival emits (rep, url, band)
    val state = scala.collection.mutable.Map.empty[String, String]
    val expected = scala.collection.mutable.Set.empty[(String, String, Int)]
    for (batch <- Seq(batch1, batch2, batch3)) {
      val arrivals = batch.flatMap { p =>
        val sig = graft.text.Minhash.signature(p.text, 8)
        (0 until 2).map(b =>
          (s"$b|${graft.text.Minhash.bandBucket(sig, b, 4)}", p.url, b, p.warc_ts.getTime))
      }
      arrivals.groupBy(_._1).foreach { case (key, as) =>
        val sorted = as.sortBy(a => (a._4, a._2))
        val laters = state.get(key) match {
          case Some(_) => sorted
          case None => state(key) = sorted.head._2; sorted.tail
        }
        // a re-delivered representative never pairs with itself
        laters.filter(_._2 != state(key))
          .foreach(a => expected += ((state(key), a._2, a._3)))
      }
    }
    assert(got == expected,
      s"streaming-only=${got -- expected}, replay-only=${expected -- got}")
    // the 5 identical-content mirrors must be flagged in BOTH bands
    mirrors.foreach { m =>
      assert(got.exists(c => c._2 == m.url && c._3 == 0) &&
             got.exists(c => c._2 == m.url && c._3 == 1),
        s"mirror ${m.url} not flagged in both bands")
    }
    info(s"${got.size} streaming candidates, replay-exact; all 5 mirrors flagged")
  }

  test("streaming sessionization: in-batch closes, timeout closes, batch-identical sessions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    def ev(uid: Long, t: String, eid: Long) =
      SessionEvent(uid, java.sql.Timestamp.valueOf(t), eid)

    val source = MemoryStream[SessionEvent]
    val q = StreamingExtraction.sessionizedEvents(spark, source.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()

    // u7 session 1 closes IN-BATCH when the 12:00 arrival exceeds the gap;
    // u9's singleton and u7 session 2 close via event-time TIMEOUT as
    // later batches advance the watermark past end+gap
    source.addData(ev(7, "2024-01-01 10:00:00", 1), ev(7, "2024-01-01 10:20:00", 2),
      ev(9, "2024-01-01 10:05:00", 3))
    q.processAllAvailable()
    source.addData(ev(7, "2024-01-01 12:00:00", 4))
    q.processAllAvailable()
    source.addData(ev(7, "2024-01-01 12:10:00", 5), ev(11, "2024-01-01 15:00:00", 6))
    q.processAllAvailable()
    source.addData(ev(11, "2024-01-01 15:05:00", 7))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
        "SELECT user_id, session_seq, session_start, session_end, n_events FROM sess_out")
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2, r._3.toString, r._4.toString, r._5)).toSet
    val expected = Set(
      (7L, 1L, "2024-01-01 10:00:00.0", "2024-01-01 10:20:00.0", 2L),
      (7L, 2L, "2024-01-01 12:00:00.0", "2024-01-01 12:10:00.0", 2L),
      (9L, 1L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L))
    assert(got == expected, s"got $got")

    // batch agreement: the same events through EventOps.sessionize,
    // rolled up to sessions, must contain every CLOSED streaming session
    // identically (u11's still-open session is rightly absent above)
    val all = Seq(
      (7L, "2024-01-01 10:00:00", 1L), (7L, "2024-01-01 10:20:00", 2L),
      (9L, "2024-01-01 10:05:00", 3L), (7L, "2024-01-01 12:00:00", 4L),
      (7L, "2024-01-01 12:10:00", 5L), (11L, "2024-01-01 15:00:00", 6L),
      (11L, "2024-01-01 15:05:00", 7L))
      .map { case (u, t, e) => (e, java.sql.Timestamp.valueOf(t), u) }
      .toDF("event_id", "ts", "user_id")
    import org.apache.spark.sql.functions._
    val batchSessions = graft.rel.EventOps.sessionize(all, gapMinutes = 30)
      .join(all, Seq("user_id", "event_id"))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("a"), max("ts").as("b"), count(lit(1)).as("n"))
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2, r._3.toString, r._4.toString, r._5)).toSet
    assert(expected.subsetOf(batchSessions),
      s"stream/batch disagreement: batch=$batchSessions")
  }

  test("streaming sessionization: cross-batch late data extends backwards / closes far-late singletons") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    def ev(uid: Long, t: String, eid: Long) =
      SessionEvent(uid, java.sql.Timestamp.valueOf(t), eid)

    val source = MemoryStream[SessionEvent]
    // lateness tolerance 180 min >> 30 min gap: the watermark admits
    // events that precede an open session's start by more than the gap
    val q = StreamingExtraction.sessionizedEvents(spark, source.toDF(),
        gapMinutes = 30, lateMinutes = 180)
      .writeStream.format("memory").queryName("sess_late_out")
      .outputMode("append").start()

    // batch 1: u1 opens a session at 10:00
    source.addData(ev(1, "2024-01-01 10:00:00", 1))
    q.processAllAvailable()
    // batch 2, within-gap LATE arrival 09:45 (< session start, gap
    // satisfied): must extend the session BACKWARDS — session_start
    // becomes 09:45, n = 2 — not be silently absorbed with the old start
    source.addData(ev(1, "2024-01-01 09:45:00", 2))
    q.processAllAvailable()
    // batch 3, FAR-late arrival 08:00 (precedes the open session's start
    // by > gap, admitted by the 180-min watermark): its own single-event
    // closed session, emitted immediately
    source.addData(ev(1, "2024-01-01 08:00:00", 3))
    q.processAllAvailable()
    // batch 4: push the watermark far enough (13:00 + 180min lateness
    // horizon) that u1's open session times out and closes
    source.addData(ev(2, "2024-01-01 17:00:00", 4))
    q.processAllAvailable()
    source.addData(ev(2, "2024-01-01 23:30:00", 5))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_late_out WHERE user_id = 1")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2.toString, r._3.toString, r._4)).toSet
    val expected = Set(
      (1L, "2024-01-01 08:00:00.0", "2024-01-01 08:00:00.0", 1L), // far-late singleton
      (1L, "2024-01-01 09:45:00.0", "2024-01-01 10:00:00.0", 2L)) // backward-extended
    assert(got == expected, s"got $got")

    // batch agreement on the same (out-of-order-delivered) event set:
    // EventOps.sessionize sees the fully-ordered history and produces
    // exactly these two u1 sessions
    val all = Seq(
      (1L, "2024-01-01 10:00:00", 1L), (1L, "2024-01-01 09:45:00", 2L),
      (1L, "2024-01-01 08:00:00", 3L))
      .map { case (u, t, e) => (e, java.sql.Timestamp.valueOf(t), u) }
      .toDF("event_id", "ts", "user_id")
    import org.apache.spark.sql.functions._
    val batchSessions = graft.rel.EventOps.sessionize(all, gapMinutes = 30)
      .join(all, Seq("user_id", "event_id"))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("a"), max("ts").as("b"), count(lit(1)).as("n"))
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._3.toString, r._4.toString, r._5)).toSet
    assert(batchSessions == expected, s"stream/batch disagreement: batch=$batchSessions")
  }

  test("streaming sessionization: a batch's in-gap late events extend the start before the far-late test") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    def at(minute: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(minute.toLong))
    val source = MemoryStream[SessionEvent]
    val q = StreamingExtraction.sessionizedEvents(spark, source.toDF(),
        gapMinutes = 50, lateMinutes = 100)
      .writeStream.format("memory").queryName("sess_fold_out")
      .outputMode("append").start()

    // u1 opens at minute 100; the next batch brings minutes 30 and 60:
    // 60 is within the gap of 100 and moves the start to 60, which puts
    // 30 within the gap too — one session, as the batch op has it
    source.addData(SessionEvent(1, at(100), 1))
    q.processAllAvailable()
    source.addData(SessionEvent(1, at(30), 2), SessionEvent(1, at(60), 3))
    q.processAllAvailable()
    // u2 pushes the watermark past u1's end + gap so its session closes
    source.addData(SessionEvent(2, at(360), 4))
    q.processAllAvailable()
    source.addData(SessionEvent(2, at(720), 5))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_fold_out WHERE user_id = 1")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2.toString, r._3.toString, r._4)).toSet
    val all = Seq((1L, at(100), 1L), (1L, at(30), 2L), (1L, at(60), 3L))
      .map { case (u, t, e) => (e, t, u) }
      .toDF("event_id", "ts", "user_id")
    import org.apache.spark.sql.functions._
    val batchSessions = graft.rel.EventOps.sessionize(all, gapMinutes = 50)
      .join(all, Seq("user_id", "event_id"))
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("a"), max("ts").as("b"), count(lit(1)).as("n"))
      .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._3.toString, r._4.toString, r._5)).toSet
    assert(batchSessions.size == 1, s"batch sessions: $batchSessions")
    assert(got == batchSessions, s"stream/batch disagreement: stream=$got batch=$batchSessions")
  }

  test("streaming HLL registers: update-mode aggregation converges to the batch sketch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // hllRegisters is a plain groupBy aggregation, so it drops into a
    // stream unchanged (update mode, no watermark needed: max() is
    // monotone — late data can only raise a register, never invalidate it)
    val source = MemoryStream[(String, Long)]
    val q = graft.rel.EventOps.hllRegisters(
        source.toDF().toDF("g", "v"), "g", org.apache.spark.sql.functions.col("v"))
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("complete").start()

    val all = (1L to 2000L).map(v => ("g", v))
    val (b1, b2) = all.splitAt(900)
    source.addData(b1: _*); q.processAllAvailable()
    source.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT bucket, max_rho FROM hll_out")
      .as[(Long, Long)].collect().toMap
    val batch = graft.rel.EventOps.hllRegisters(
        all.toDF("g", "v"), "g", org.apache.spark.sql.functions.col("v"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch,
      s"stream/batch register disagreement: ${streamed.toSet -- batch.toSet}")
  }

  test("streaming exact dedup: first-seen wins, duplicates dropped across micro-batches") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.dedupedPages(source.toDF(), watermark = "1 hour")
      .select("url", "content_hash")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    // batch 1: 30 distinct pages
    val batch1 = graft.pages.PageGen.pages(42L, 0, 30).toSeq
    source.addData(batch1: _*)
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM dedup_out").head.getLong(0) == 30)

    // batch 2: 10 new pages + 10 exact duplicates of batch-1 content
    // (same (seed, idx) -> byte-identical text -> same content hash);
    // only the new pages may come through
    val dups = graft.pages.PageGen.pages(42L, 5, 15)
      .map(p => p.copy(url = p.url + "?mirror=1")).toSeq
    val batch2 = graft.pages.PageGen.pages(42L, 30, 40).toSeq
    source.addData(batch2 ++ dups: _*)
    q.processAllAvailable()
    val rows = spark.sql("SELECT url FROM dedup_out").as[String].collect()
    assert(rows.length == 40, s"40 distinct contents expected, got ${rows.length}")
    assert(!rows.exists(_.contains("mirror=1")), "mirrored duplicates must be dropped")
    q.stop()
  }

  test("streaming ingest dedup: committed corpus excluded via stream-static anti-join") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // committed corpus: pages 0..9 (static parquet-style DataFrame)
    val committed = graft.pages.PageGen.pages(42L, 0, 10).toSeq.toDF()

    val source = MemoryStream[graft.pages.PageRow]
    val q = StreamingExtraction.ingestDedupedPages(source.toDF(), committed,
        watermark = "1 hour")
      .select("url")
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()

    // batch: 5 re-crawls of committed content (new urls, same text),
    // 5 within-batch duplicate pairs, 5 genuinely new pages
    val recrawl = graft.pages.PageGen.pages(42L, 0, 5)
      .map(p => p.copy(url = p.url + "?recrawl=1")).toSeq
    val fresh = graft.pages.PageGen.pages(42L, 10, 15).toSeq
    val freshDup = graft.pages.PageGen.pages(42L, 10, 15)
      .map(p => p.copy(url = p.url + "?mirror=1")).toSeq
    source.addData(recrawl ++ fresh ++ freshDup: _*)
    q.processAllAvailable()
    val urls = spark.sql("SELECT url FROM ingest_out").as[String].collect()
    assert(urls.length == 5, s"only the 5 fresh contents may commit, got ${urls.toSeq}")
    assert(!urls.exists(u => u.contains("recrawl=1")),
      "content already in the committed corpus must be dropped")
    q.stop()
  }
}
