package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import graft.extract.Extracted

/** Running per-host crawl-progress state (mapGroupsWithState). */
final case class HostState(docs: Long, bytes: Long)
final case class HostProgress(host: String, docs: Long, bytes: Long)

/** One exploded (band, bucket) arrival feeding the streaming LSH state. */
final case class BandedDoc(key: String, url: String, band: Int,
                           warc_ts: java.sql.Timestamp)
/** Keyed state for one LSH bucket: its first-seen representative doc. */
final case class BucketState(firstUrl: String)
/** A streaming near-dup candidate: `url` collided with the bucket's
  * first-seen `firstUrl` in `band`. */
final case class LshCandidate(firstUrl: String, url: String, band: Int)

/** One event arrival feeding the streaming sessionizer. */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                              event_id: Long)
/** Keyed state for one user's OPEN session (times in epoch millis). */
final case class OpenSession(seq: Long, startMs: Long, endMs: Long, n: Long)
/** A closed session: no further event can join it once the watermark
  * passes `session_end + gap`. */
final case class ClosedSession(user_id: Long, session_seq: Long,
                               session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp,
                               n_events: Long)

/** Structured-Streaming surface for the same per-page transform.
  *
  * The reference is strictly batch (SURVEY.md §2.8) and so is the north
  * rule; this wrapper exists to make the "drops into streaming unchanged"
  * claim concrete: a parquet file-source stream over incoming page files →
  * the identical typed extraction → parquet sink with checkpointed
  * exactly-once file commits. The extraction itself is stateless per row,
  * so end-to-end exactly-once comes from the source's file tracking + the
  * sink's commit log. The two stateful companions cover the streaming
  * operator checklist: [[windowedLangMetrics]] (event-time window +
  * watermark over warc_ts) and [[hostProgress]] (custom keyed state via
  * `mapGroupsWithState` — the streaming analogue of the batch job's
  * per-partition lineage counters).
  */
object StreamingExtraction {

  /** Event-time windowed ingest metrics: docs + html bytes per
    * (warc_ts window, lang), late data bounded by the watermark. The
    * streaming analogue of the batch `x4_lang_metrics` query. */
  def windowedLangMetrics(pages: DataFrame, watermark: String = "2 hours",
                          win: String = "1 hour"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), win), col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(octet_length(col("html"))).as("html_bytes"))

  /** Custom keyed state: running per-crawl-host doc/byte totals, updated
    * each micro-batch (`mapGroupsWithState`, update mode). */
  def hostProgress(spark: SparkSession, pages: DataFrame): Dataset[HostProgress] = {
    import spark.implicits._
    pages
      .select(graft.web.UrlNorm.hostOf(col("url")).as("host"),
        octet_length(col("html")).cast("long").as("b"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[HostState, HostProgress](GroupStateTimeout.NoTimeout) {
        (host, rows, state) =>
          var d = 0L
          var b = 0L
          rows.foreach { case (_, x) => d += 1; b += x }
          val prev = state.getOption.getOrElse(HostState(0L, 0L))
          val next = HostState(prev.docs + d, prev.bytes + b)
          state.update(next)
          HostProgress(host, next.docs, next.bytes)
      }
  }

  /** Streaming pre-tier: the corpus-state-free tier rules
    * ([[graft.text.TextOps.preTierCols]]) applied at ingest as a pure
    * stateless projection — no state store, no watermark needed. An
    * ingest pipeline drops `pre_tier = 0` (short) rows before they cost
    * storage; the batch [[TierJob]] pass later adds the corpus-level
    * duplication evidence, which can only move surviving documents DOWN
    * (the upper-bound property asserted in `TextOpsSpec`). */
  def preTieredPages(pages: DataFrame): DataFrame =
    pages.select(
      Seq(col("url"), col("warc_ts"), col("text")) ++
        graft.text.TextOps.preTierCols(col("text")): _*)

  /** Streaming line-level curation at ingest: the within-page repeated-
    * line strip ([[graft.text.TextOps.dedupDocLines]]) followed by the
    * C4 terminal-punct/min-word line filter
    * ([[graft.text.TextOps.c4LineFilter]]) — both pure per-row
    * projections (no state store, no watermark, no shuffle), so they
    * drop into the ingest stream unchanged and cut boilerplate bytes
    * BEFORE they cost storage or downstream shuffle. Emits the curated
    * text plus the keep decision; an ingest pipeline filters
    * `doc_keep = 1` and writes `kept_text`. Stream/batch agreement is
    * asserted in `StreamingExtractionSpec`. */
  def curatedPages(pages: DataFrame, minWords: Int = 5,
                   minLines: Int = 3): DataFrame = {
    import graft.text.TextOps
    val deduped = TextOps.dedupDocLines(
      pages.select(col("url").as("doc_id"), col("text")))
    TextOps.c4LineFilter(
        deduped.select(col("doc_id"), col("dedup_text").as("text")),
        minWords, minLines)
      .withColumnRenamed("doc_id", "url")
  }

  /** Streaming outlink extraction at ingest — the web-graph feed: one
    * resolved edge row per href-carrying anchor, event-time stamped from
    * the page. A stateless flatMap (no state store, no watermark, no
    * shuffle), so the edge stream lands in its sink partitioned however
    * the ingest stream is; the batch [[graft.graph.GraphOps]] family
    * (in-degree, host graph, PageRank) runs over the accumulated edge
    * table. Stream/batch agreement with [[graft.graph.GraphOps.edges]]
    * is asserted in `StreamingExtractionSpec`. */
  def outlinkEdges(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "warc_ts", "html")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (u, ts, h) =>
        graft.html.Outlinks.extract(h).map(o =>
          (u, ts, o.pos, o.href, o.anchor, graft.html.Outlinks.resolve(u, o.href)))
      }
      .toDF("src", "warc_ts", "pos", "href", "anchor", "target")
  }

  /** Streaming exact dedup: first-seen wins per content hash, with the
    * state store bounded by the event-time watermark — the streaming
    * analogue of the batch `t3_dedup_exact` groupBy (a crawl ingest
    * pipeline's dedup stage). `dropDuplicatesWithinWatermark` expires
    * per-key state once the key's event time passes the watermark, so
    * at 10^12 docs the state holds only the watermark window, not the
    * corpus. */
  def dedupedPages(pages: DataFrame, watermark: String = "2 hours"): DataFrame =
    pages
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming incremental ingest dedup — the streaming analogue of the
    * batch `t23_ingest_dedup`: pages deduped first WITHIN the stream
    * (watermark-bounded first-seen state, as [[dedupedPages]]) and then
    * AGAINST the committed corpus via a stream-static left-anti join on
    * the content hash.
    *
    * Scale shape: the static side reduces to one hash column — the
    * stored `content_hash` when the committed table carries one (the
    * layout [[dedupedPages]]'s own sink writes; then no text bytes are
    * read at all), else md5(text) computed in the scan projection. The
    * static plan re-executes per micro-batch, which is the point for a
    * corpus that grows between batches (each batch sees the freshest
    * committed set, no state to migrate) — production keeps that
    * re-scan cheap by committing the hash column. */
  def ingestDedupedPages(pages: DataFrame, committed: DataFrame,
                         watermark: String = "2 hours"): DataFrame = {
    val committedHashes = committed.select(
      graft.text.TextOps.committedHash(committed).as("content_hash"))
    dedupedPages(pages, watermark)
      .join(committedHashes.distinct(), Seq("content_hash"), "left_anti")
  }

  /** Streaming LSH near-dup candidates — the streaming analogue of the
    * batch banded MinHash join (`t11`): each incoming page's 8-slot
    * MinHash signature ([[graft.text.Minhash]], the same convention as
    * the batch/oracle path) is cut into 2 bands; per (band, bucket) key
    * the state remembers the FIRST document that hashed there and every
    * later arrival emits a candidate pair against that representative.
    *
    * Scale shape: the signature is a stateless per-row projection (no
    * grouped-min aggregation before the keyed state — one stateful
    * operator total), the state holds ONE url per live bucket, and
    * event-time timeout removes a bucket once the watermark passes its
    * newest arrival + the delay — so at crawl scale the store holds the
    * active window's buckets, not the corpus. Emitting the (first, later)
    * STAR rather than the full clique is the dedup-correct contract: a
    * document is a near-dup candidate iff it collides with ≥1 earlier
    * document, and each flagged doc carries an earlier witness. */
  def lshCandidatePairs(spark: SparkSession, pages: DataFrame,
                        watermark: String = "2 hours",
                        nHashes: Int = 8, bandSize: Int = 4): Dataset[LshCandidate] = {
    import spark.implicits._
    import graft.text.Minhash
    val nBands = nHashes / bandSize
    pages
      .select(col("url"), col("text"), col("warc_ts"))
      .as[(String, String, java.sql.Timestamp)]
      .flatMap { case (url, text, ts) =>
        val sig = Minhash.signature(text, nHashes)
        (0 until nBands).map { b =>
          BandedDoc(s"$b|${Minhash.bandBucket(sig, b, bandSize)}", url, b, ts)
        }
      }
      .withWatermark("warc_ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[BucketState, LshCandidate](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (_, rows, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // deterministic within-batch arrival order
          val arrivals = rows.toVector.sortBy(r => (r.warc_ts.getTime, r.url))
          val laters = state.getOption match {
            case Some(_) => arrivals
            case None =>
              state.update(BucketState(arrivals.head.url))
              arrivals.tail
          }
          state.setTimeoutTimestamp(arrivals.map(_.warc_ts.getTime).max, watermark)
          val first = state.get.firstUrl
          // at-least-once sources can re-deliver rows, including the
          // bucket's own representative: never emit the a=a self-pair
          // (batch pair derivations enforce a < b), and dedupe repeated
          // urls within the batch so replays don't multiply candidates
          laters
            .filter(_.url != first)
            .map(r => LshCandidate(first, r.url, r.band))
            .distinct.iterator
        }
      }
  }

  /** Streaming gap sessionization — the streaming analogue of the batch
    * `q4_sessionize` ([[graft.rel.EventOps.sessionize]]): per-user keyed
    * state holds the one OPEN session; an arrival within `gapMinutes` of
    * the open session's end extends it, a later arrival closes it (emitted
    * immediately) and opens the next, and event-time timeout closes an
    * idle session once the watermark passes `end + gap` — at which point
    * no in-order event can rejoin it, so Append-mode emission is final.
    *
    * Scale shape: ONE stateful operator; the store holds one fixed-width
    * row per user with an open session, and timeout-expiry bounds that to
    * users active within the watermark horizon — not the event history.
    * Within-batch arrivals are sorted by (ts, event_id), the same order as
    * the batch window, so stream and batch agree on session membership
    * (asserted in `StreamingExtractionSpec`). Cross-batch OUT-OF-ORDER
    * events the watermark legitimately admits are handled like the batch
    * op would: one landing within the gap BEFORE the open session's start
    * extends the session backwards (session_start updates — it is the
    * unique key, so it must reflect the true first event), and one
    * preceding the start by MORE than the gap closes immediately as its
    * own single-event session (also spec-asserted). The backward
    * extensions of a batch fold in before any far-late test, latest
    * event first, so a far-late event that a later in-gap event of the
    * same batch brings within the gap joins the session as in the batch
    * op (spec-asserted: gap 50, start 100, batch [30, 60] is one
    * session); timestamps are compared at
    * millisecond precision here vs the batch op's microseconds —
    * indistinguishable unless two events of one user are < 1 ms apart
    * AND straddle a gap boundary. `session_seq` numbers sessions within a
    * state lifetime (it restarts after idle expiry removes the user's
    * state); the globally unique session key is (user_id, session_start).
    */
  def sessionizedEvents(spark: SparkSession, events: DataFrame,
                        gapMinutes: Int = 30,
                        lateMinutes: Int = 0): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    // watermark delay = max(gap, lateness tolerance): with the default 0
    // the delay equals the gap, and no admitted event can precede an open
    // session's start by more than the gap (the watermark already passed
    // start - gap) — the far-late singleton branch below is then
    // unreachable by construction. Configuring lateMinutes > gapMinutes
    // admits deeper out-of-order data at the cost of later timeouts.
    val delayMinutes = math.max(gapMinutes, lateMinutes)
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withWatermark("ts", s"$delayMinutes minutes")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
        def closed(s: OpenSession) = ClosedSession(uid, s.seq,
          new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n)
        if (state.hasTimedOut) {
          val done = closed(state.get)
          state.remove()
          Iterator.single(done)
        } else {
          val sorted = rows.toVector.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Vector.newBuilder[ClosedSession]
          var cur = state.getOption
          // fold the batch's events that precede the open session's start
          // into it first, latest down, while each lies within the gap of
          // the start it has moved to: only the events before the first
          // wider gap reach the far-late branch below
          val (late, onTime) = sorted.partition(e => cur.exists(e.ts.getTime < _.startMs))
          val ts = late.map(_.ts.getTime) ++ cur.map(_.startMs)
          val far = late.indices.lastIndexWhere(i => ts(i + 1) - ts(i) > gapMs) + 1
          if (far < late.length)
            cur = cur.map(s => s.copy(startMs = ts(far), n = s.n + late.length - far))
          for (e <- late.take(far) ++ onTime) {
            val t = e.ts.getTime
            cur = cur match {
              // cross-batch LATE event preceding the open session by more
              // than the gap (reachable only with lateMinutes > gap): it
              // cannot extend the session backwards — batch sessionize
              // would place it in its own earlier session, so emit it as
              // one (taking the open session's seq, which shifts up by
              // one: nothing about the open session has been emitted yet,
              // and the globally-unique session key is
              // (user_id, session_start) either way). Append-mode limit,
              // documented: two far-late events within a gap of EACH
              // OTHER each close as their own singleton where batch would
              // merge them — exact parity there would need retraction.
              case Some(s) if t < s.startMs - gapMs =>
                out += ClosedSession(uid, s.seq, new java.sql.Timestamp(t),
                  new java.sql.Timestamp(t), 1)
                Some(s.copy(seq = s.seq + 1))
              // in-gap arrival — including a late one inside
              // [start - gap, start): extend BOTH edges, so session_start
              // (the declared unique key) reflects the true first event
              case Some(s) if t - s.endMs <= gapMs =>
                Some(s.copy(startMs = math.min(s.startMs, t),
                  endMs = math.max(s.endMs, t), n = s.n + 1))
              case Some(s) =>
                out += closed(s)
                Some(OpenSession(s.seq + 1, t, t, 1))
              case None =>
                Some(OpenSession(1L, t, t, 1))
            }
          }
          val s = cur.get
          state.update(s)
          state.setTimeoutTimestamp(s.endMs, s"$gapMinutes minutes")
          out.result().iterator
        }
      }
  }

  def extractedStream(spark: SparkSession, pagesDir: String,
                      pagesSchemaFrom: String): Dataset[Extracted] = {
    val schema = spark.read.parquet(pagesSchemaFrom).schema
    ExtractionJob.extract(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 8) // bounded micro-batches
      .parquet(pagesDir))
  }

  /** Start the stream; caller awaits/stops. */
  def start(spark: SparkSession, pagesDir: String, outPath: String,
            schemaFrom: String): StreamingQuery =
    extractedStream(spark, pagesDir, schemaFrom).writeStream
      .format("parquet")
      .option("path", s"$outPath/extracted")
      .option("checkpointLocation", s"$outPath/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
}
