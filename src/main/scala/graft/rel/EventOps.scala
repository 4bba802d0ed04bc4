package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Event-stream relational operators: gap sessionization, as-of join, and
  * deterministic HyperLogLog registers.
  *
  * These are the telemetry-side ops a crawl/corpus pipeline runs next to the
  * extraction tables (fetch logs, user events, recrawl schedules): windowed
  * per-key state, point-in-time dimension lookup, and sketch-based distinct
  * counting. All three are single-shuffle designs:
  *
  *  - `sessionize`: one exchange on the key; the gap flag and the running
  *    session counter share the same partitioning+ordering, so Catalyst
  *    plans one sort under (at most) two Window nodes — no second shuffle.
  *  - `asofJoin`: the UNION + last-non-null pattern. The naive formulation
  *    is an inequality theta-join (|E|·|O| per key worst case — the sf0.01
  *    oracle already expands 10k events × 15k orders to ~96k rows; at
  *    10^12 rows it is quadratic death). Instead both tables are tagged and
  *    unioned, shuffled ONCE on the key, sorted by (time, side, tiebreak),
  *    and each event reads the most recent order via
  *    `last(..., ignoreNulls)` over the preceding frame — O(n log n) in the
  *    partition, zero row expansion, and skew-safe under AQE because the
  *    single exchange is an ordinary hash partitioning.
  *  - `hllRegisters`: distinct-count sketch whose shuffle payload is
  *    `groups × 2^p` register rows, not the data. Registers are
  *    integer-exact and cross-engine replayable (md5-derived 60-bit hash,
  *    `rho` from the binary-string length), so the driver's DuckDB oracle
  *    hash-checks them bit-for-bit — unlike `approx_count_distinct`, whose
  *    HLL++ register layout is engine-private. Register tables of disjoint
  *    shards merge by elementwise max — the property that makes the sketch
  *    usable across 1000 executors or across days of partitioned history.
  *
  * Reference framing: the reference pipeline (layout-parser) is batch-only
  * per-document; these operators cover the surrounding corpus-operations
  * telemetry the SURVEY's production deployment assumes (crawl scheduling,
  * dedup-rate monitoring, per-source reach), kept oracle-checkable.
  */
object EventOps {

  /** Gap-based sessionization: a new session starts when the gap since the
    * user's previous event exceeds `gapMinutes`. Output one row per event:
    * (user_id, event_id, session_seq) where `session_seq` is the 1-based
    * session index within the user. The gap test is interval arithmetic on
    * the timestamp itself (`ts > prev + INTERVAL gap`), exact to the
    * microsecond with no epoch cast — so it accepts both TIMESTAMP and
    * TIMESTAMP_NTZ inputs (the driver's parquet tables are NTZ) and has no
    * engine-specific truncation semantics to reconcile with the oracle.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val gap = make_dt_interval(lit(0), lit(0), lit(gapMinutes), lit(0))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(order))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts") > col("prev_ts") + gap, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(order))
      .select(col("user_id"), col("event_id"), col("session_seq"))
  }

  /** Two-phase hot-key sessionization — result-identical to [[sessionize]]
    * but scale-safe under key skew. The single-pass form puts a user's
    * ENTIRE history in one window partition, serializing the stage on one
    * task as the hot key grows; here the window key is (user_id,
    * time-chunk), so the hot key splits across its chunks and no
    * partition exceeds the user's events per `chunkMinutes`.
    *
    * Measured crossover (100M-event smoke, BASELINE.md): at a mild 2%-hot
    * bot key the single-pass form still wins (~66 vs ~84 s — its one
    * skewed partition is only ~3.5× the average, and this form pays a
    * second narrow pass), at 50%-hot this form is 3.6× faster (147.7 →
    * 40.8 s) and at 90%-hot 10.9× (368.5 → 33.9 s) — the single-pass
    * cost is Ω(hot-key size) serial, this one's is flat. Pick it when a
    * key can carry an unbounded fraction of the stream.
    *
    * Phase 1: local sessionization within each (user, chunk) — the same
    * lag→flag→cumsum chain as [[sessionize]], exact interval arithmetic.
    * Phase 2 (narrow): ONE summary row per (user, chunk) — first/last ts
    * and local session count — stitched by a window over summaries only:
    * chunk c's first local session continues chunk c-1's last iff the
    * chunks are adjacent and the boundary gap is within `gapMinutes`.
    * `chunkMinutes >= gapMinutes` (required) makes non-adjacent merges
    * impossible: an empty intervening chunk already implies a gap longer
    * than a chunk. The per-chunk global offset (sessions in preceding
    * chunks minus boundary merges so far) joins back to phase 1 rows on
    * (user, chunk) — summary volume is |user×chunk| rows, never events.
    *
    * The chunk id is the event's epoch microseconds over `chunkUs`. For
    * TIMESTAMP input that is the instant. For TIMESTAMP_NTZ input it is
    * the wall-clock value read at a fixed UTC offset (exact interval
    * arithmetic), never a session-TZ cast: across a DST fall-back that
    * cast stretches a 15-min wall-clock gap to 75 min, which could put
    * one session's events in non-adjacent chunks and split it. Under a
    * UTC session the fixed-offset read equals that cast. The spec asserts
    * equality with [[sessionize]] on boundary-straddling data at several
    * chunk widths and across a New York fall-back.
    */
  def sessionizeChunked(events: DataFrame, gapMinutes: Int = 30,
                        chunkMinutes: Int = 1440): DataFrame = {
    require(chunkMinutes >= gapMinutes,
      s"chunkMinutes=$chunkMinutes must be >= gapMinutes=$gapMinutes " +
        "(an empty chunk must guarantee a session break)")
    val gap = make_dt_interval(lit(0), lit(0), lit(gapMinutes), lit(0))
    val chunkUs = chunkMinutes * 60000000L
    val epochUs =
      if (events.schema("ts").dataType == TimestampNTZType)
        ((col("ts") - lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)))
          .cast("interval second").cast("decimal(18,6)") * 1000000).cast("long")
      else unix_micros(col("ts").cast("timestamp"))
    val ev = events.withColumn("chunk", floor(epochUs / chunkUs))

    val wLocal = Window.partitionBy("user_id", "chunk")
      .orderBy(col("ts").asc, col("event_id").asc)
    val local = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(wLocal))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts") > col("prev_ts") + gap, 1L).otherwise(0L))
      .withColumn("local_seq", sum(col("new_session")).over(wLocal))
      .select(col("user_id"), col("chunk"), col("event_id"), col("ts"),
        col("local_seq"))
    // phase-1 output feeds BOTH the summary leg and the final join leg of
    // one action — self-releasing persist so the window pass runs once
    // (the Ann-family CacheOnce idiom), and its (user_id, chunk) hash
    // partitioning carries into the join, so the wide side never
    // re-shuffles
    val localC = graft.util.CacheOnce(local)

    // one summary row per (user, chunk) out of the phase-1 output — the
    // (user_id, chunk) exchange under this aggregate canonicalizes to the
    // same exchange as the join's left leg, so Spark reuses it
    val summary = localC.groupBy("user_id", "chunk")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        max(col("local_seq")).as("n_local"))
    val wChunks = Window.partitionBy("user_id").orderBy(col("chunk").asc)
    val offsets = summary
      .withColumn("prev_chunk", lag(col("chunk"), 1).over(wChunks))
      .withColumn("prev_last", lag(col("last_ts"), 1).over(wChunks))
      .withColumn("merged",
        when(col("prev_chunk") === col("chunk") - 1 &&
             !(col("first_ts") > col("prev_last") + gap), 1L).otherwise(0L))
      .withColumn("offset",
        coalesce(sum(col("n_local")).over(
          wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) -
        sum(col("merged")).over(
          wChunks.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("chunk"), col("offset"))

    localC.join(offsets, Seq("user_id", "chunk"))
      .select(col("user_id"), col("event_id"),
        (col("offset") + col("local_seq")).as("session_seq"))
  }

  /** As-of join: for each event, the most recent order of the same user with
    * `o_orderdate <= ts` (ties on o_orderdate broken by highest o_orderkey;
    * events with no prior order get NULL). Single shuffle on the user key —
    * see the object doc for why this beats the inequality-join formulation
    * at scale. Output (event_id, last_orderkey).
    */
  def asofJoin(events: DataFrame, orders: DataFrame): DataFrame = {
    val e = events.select(
      col("user_id").as("k"), col("ts").as("t"),
      lit(1).as("side"), col("event_id"),
      lit(null).cast("long").as("o_orderkey"))
    val o = orders.select(
      col("o_custkey").as("k"), col("o_orderdate").as("t"),
      lit(0).as("side"), lit(null).cast("long").as("event_id"),
      col("o_orderkey"))
    // side=0 (orders) sorts before side=1 (events) at equal t, so an order
    // stamped exactly at the event time is visible to it; among equal-t
    // orders the ascending orderkey makes `last` pick the highest key —
    // the deterministic tie rule the oracle replays.
    val w = Window.partitionBy("k")
      .orderBy(col("t").asc, col("side").asc, col("o_orderkey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("last_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("last_orderkey"))
  }

  /** Deterministic HyperLogLog registers for `count distinct valueCol` per
    * `groupCol`: 2^p registers per group, each the max rho (1 + leading
    * zero count of the post-bucket hash bits) seen in the bucket. The hash
    * is the repo's shared 60-bit md5 derivation (`TextOps.md5Hash60`), so
    * bucket = top p bits, rho over the remaining (60-p). Output
    * (groupCol, bucket, max_rho) — integer-exact, oracle-replayable, and
    * mergeable across shards by max(max_rho).
    *
    * Plan shape: per-row projection (md5 + shift/mask/bin, all codegen'd
    * built-ins) then a partial-aggregated groupBy — the exchange carries at
    * most groups × 2^p rows regardless of input size.
    */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: Column,
                   p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p outside [4,16]")
    val restBits = 60 - p
    val v = graft.text.TextOps.md5Hash60(valueCol.cast("string"))
    val bucket = shiftright(v, restBits).as("bucket")
    val rest = v.bitwiseAND(lit((1L << restBits) - 1L))
    // bin(x) has no leading zeros, so length(bin(rest)) = floor(log2)+1;
    // rho = (restBits - bitlen) + 1, and all-zero rest saturates at
    // restBits + 1 — the standard HLL convention.
    val rho = when(rest === 0L, lit(restBits + 1))
      .otherwise(lit(restBits + 1) - length(bin(rest)))
    df.select(col(groupCol), bucket, rho.cast("long").as("rho"))
      .groupBy(groupCol, "bucket")
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Ordered three-step funnel: per user, stage 1 if `step1` ever occurred,
    * stage 2 if `step2` occurred at-or-after the FIRST step1, stage 3 if
    * `step3` occurred at-or-after that first qualifying step2. Output
    * (user_id, stage) for every user who completed stage 1. "At-or-after"
    * (`>=`) keeps same-timestamp chains, matching the oracle exactly.
    *
    * Scale shape: three chained min-aggregations, every join/groupBy on the
    * SAME user key — co-partitioned under AQE, no window over a user's
    * history and no collect_list (per-user event fan-in never materializes
    * as an array). Each stage's frame shrinks to one row per surviving
    * user before the next join touches it.
    */
  def funnel(events: DataFrame,
             step1: String = "view", step2: String = "click",
             step3: String = "purchase"): DataFrame =
    funnelSteps(events, Seq(step1, step2, step3))

  /** k-step generalization of [[funnel]]: stage i (1-based) requires
    * `steps(i-1)` to occur at-or-after the first qualifying occurrence of
    * the previous stage; output (user_id, stage) for every user who
    * completed stage 1, stage = deepest stage reached. Same plan shape
    * at any k: a fold of chained per-user min-aggregations (each frame
    * shrinks to one row per surviving user before the next join touches
    * it), then k-1 left joins on the same key to count survivals —
    * frames are nested subsets, so the count IS the deepest stage. */
  def funnelSteps(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val frames = steps.tail.scanLeft(
      ev.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min("ts").as("t"))) { (prev, step) =>
      ev.filter(col("event_type") === step)
        .join(prev.withColumnRenamed("t", "tp"), "user_id")
        .filter(col("ts") >= col("tp"))
        .groupBy("user_id").agg(min("ts").as("t"))
    }
    frames.tail.zipWithIndex.foldLeft(
      frames.head.select(col("user_id"), lit(1L).as("stage"))) {
      case (acc, (f, i)) =>
        acc.join(f.select(col("user_id"), lit(1L).as(s"h$i")),
            Seq("user_id"), "left")
          .select(col("user_id"),
            (col("stage") + coalesce(col(s"h$i"), lit(0L))).as("stage"))
    }
  }

  /** Deterministic count-min sketch counters for key frequencies: `d`
    * independent hash rows × `w` counters; each input row increments
    * counter `h_i(key) % w` in every row i. Output (row, bucket, cnt) —
    * at most d×w rows, integer-exact and oracle-replayable (row-seeded
    * md5Hash60, the repo's shared cross-engine hash). A point query
    * reads min_i(counter[i][h_i(key)]) ≥ true count — see the spec.
    *
    * Scale shape: posexplode fans each row into d (row, bucket) pairs,
    * partial count aggregation combines map-side, so the exchange carries
    * at most d×w rows per task — the sketch, never the data. Sketches of
    * disjoint shards merge by elementwise sum.
    */
  def cmsCounters(df: DataFrame, keyCol: Column,
                  d: Int = 4, w: Int = 256): DataFrame = {
    require(d >= 1 && d <= 8 && w >= 16, s"bad CMS shape d=$d w=$w")
    val hashes = array((0 until d).map { i =>
      pmod(graft.text.TextOps.md5Hash60(
        concat(lit(s"cms$i:"), keyCol.cast("string"))), lit(w.toLong))
    }: _*)
    df.select(posexplode(hashes).as(Seq("row", "bucket")))
      .select(col("row").cast("long").as("row"), col("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Binned range join: tag each point row with every interval
    * `[lo, hi)` of `ranges` containing `valueCol`. The naive formulation
    * is an inequality join (BroadcastNestedLoop at best, |P|·|R|
    * comparisons); this is the scalable shape: each interval explodes to
    * the integer bins of width `binWidth` it covers, points compute
    * `floor(value / binWidth)` as a projection, and the lookup becomes a
    * plain EQUI-join on the bin followed by the exact `[lo, hi)`
    * post-filter — hash-joinable, broadcast-able when ranges are small,
    * shuffle-partitionable when they are not. Overlapping intervals emit
    * one row each; points in no interval are dropped (inner semantics).
    *
    * `binWidth` trades fan-out for selectivity: intervals explode to
    * ~(hi-lo)/binWidth bin rows (keep it near the median interval width);
    * a bin holding several intervals just multi-matches and post-filters.
    */
  def rangeBinJoin(points: DataFrame, valueCol: Column, ranges: DataFrame,
                   binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be positive")
    // last covered bin: floor(hi/w), minus one when hi sits exactly on a
    // bin edge ([lo,hi) excludes it). Degenerate intervals (lo >= hi,
    // empty under [lo,hi)) are dropped up front: without this, a
    // lo=hi=k*binWidth row computes lastBin = firstBin - 1 and
    // sequence(start, stop) with start > stop silently generates a
    // DESCENDING bin sequence — spurious rows the post-filter would have
    // to rescue. Zero bin rows by construction instead.
    val binned = ranges
      .filter(col("lo") < col("hi"))
      .select(col("lo"), col("hi"), col("band"),
      explode(sequence(
        floor(col("lo") / binWidth).cast("long"),
        (floor(col("hi") / binWidth).cast("long") -
          when(col("hi") === floor(col("hi") / binWidth) * binWidth, 1L)
            .otherwise(0L)))).as("bin"))
    points
      .withColumn("bin", floor(valueCol / binWidth).cast("long"))
      .join(binned, "bin")
      .filter(valueCol >= col("lo") && valueCol < col("hi"))
      .drop("bin", "lo", "hi")
  }

  /** Harmonic-mean HLL estimate from a register table (driver-side, over
    * groups × 2^p rows — tiny). Standard bias-corrected small/large-range
    * rules are NOT applied beyond linear counting; with p>=6 and the
    * cardinalities this repo benches, raw + linear-counting is within the
    * 1.04/sqrt(2^p) band the spec asserts.
    */
  def hllEstimate(registers: Seq[(Long, Long)], p: Int = 6): Double = {
    val m = 1 << p
    val byBucket = registers.toMap
    val zeros = m - byBucket.count(_._2 > 0)
    val sum = (0 until m).map(b => math.pow(2.0, -byBucket.getOrElse(b.toLong, 0L).toDouble)).sum
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = alpha * m * m / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }
}
