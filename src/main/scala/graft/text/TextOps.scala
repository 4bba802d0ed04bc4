package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over a `documents(doc_id, text, lang, …)`
  * table. Everything is built from codegen'd built-in expressions — no
  * UDFs in any hot path — and all outputs are integer-exact so the DuckDB
  * oracle comparison is bit-stable.
  *
  * Hashing convention shared with the oracle SQL: h(s) = the first 15 hex
  * digits of md5(s) read as a base-16 integer (60 bits, always positive,
  * identical in Spark's `conv` and DuckDB's `CAST('0x'||… AS BIGINT)`).
  */
object TextOps {

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** N-grams over an ALREADY-MATERIALIZED token-array column. The lambda
    * only slices `w`; callers must bind `w` to an attribute (not the
    * split expression itself): Spark does not hoist non-lambda
    * subexpressions out of higher-order functions, so inlining
    * `split(text)` here re-tokenizes the document at EVERY gram position
    * — O(tokens²), minutes on a single long-tail web page. */
  private def gramsOf(w: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(n))))

  /** One (doc_id, gram) row per n-gram position, with tokenization in its
    * own projection so split() runs once per document. CollapseProject
    * keeps the projections separate (the token array is referenced more
    * than once and split is not collapse-cheap); the "gram explosion
    * tokenizes once" test in `TextOpsSpec` guards this shape. */
  private def explodedGrams(docs: DataFrame, n: Int, out: String): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(gramsOf(col("w"), n)).as(out))

  /** One (doc_id, gh) row per word `n`-gram position, the gram hashed to
    * its 8-byte xxhash64 key map-side (the gram string never shuffles). */
  private def gramHashes(docs: DataFrame, n: Int): DataFrame =
    explodedGrams(docs, n, "g").select(col("doc_id"), xxhash64(col("g")).as("gh"))

  /** The distinct `n`-gram hashes of a benchmark/eval set (column `gh`),
    * for the decontamination joins to broadcast. */
  private def benchmarkGrams(benchmark: DataFrame, n: Int): DataFrame =
    gramHashes(benchmark, n).select("gh").distinct()

  /** 60-bit md5-derived hash of a string column. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Token + char counts. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      length(col("text")).as("n_chars"))

  /** Quality metrics: token count, distinct-token count, non-space chars —
    * the length/repetition signals of a quality scorer, integer-exact. */
  def quality(docs: DataFrame): DataFrame = {
    val w = tokens(col("text"))
    docs.select(col("doc_id"),
      size(w).as("n_tokens"),
      size(array_distinct(w)).as("n_distinct"),
      length(regexp_replace(col("text"), "\\s+", "")).as("n_nonspace"))
  }

  /** Exact-duplicate groups keyed by the md5 of the full text. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))

  /** Near-duplicate groups keyed by the md5 of the first 5 tokens —
    * prefix fingerprinting. */
  def dedupPrefix(docs: DataFrame): DataFrame =
    docs.groupBy(md5(concat_ws(" ", slice(tokens(col("text")), 1, 5))).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))

  /** MinHash signature: 8 independent 60-bit min-hashes over word
    * 3-shingles (seeded by prefixing the shingle with "i:").
    *
    * Shape: explode → codegen'd md5/conv projections → grouped min.
    * Hashing inside a higher-order `transform` lambda falls out of
    * whole-stage codegen (interpreted per element, ~100× slower measured);
    * the explode form keeps every hash in generated code. */
  def minhash(docs: DataFrame, nHashes: Int = 8): DataFrame = {
    val sh = explodedGrams(docs, 3, "s")
    val aggs = (0 until nHashes).map { i =>
      min(md5Hash60(concat(lit(s"$i:"), col("s")))).as(s"h$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing a MinHash band (bands of
    * `bandSize` consecutive signature slots). Output (a, b, band). */
  def minhashPairs(docs: DataFrame, nHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    val banded = minhashBands(docs, nHashes, bandSize)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
      col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"), col("l.band").as("band"))
      .distinct()
  }

  /** One (doc_id, band, bucket) row per MinHash band: `bucket` is the md5
    * of the band's `bandSize` consecutive signature slots. */
  private def minhashBands(docs: DataFrame, nHashes: Int, bandSize: Int): DataFrame = {
    val sig = minhash(docs, nHashes)
    (0 until nHashes / bandSize).map { b =>
      val slots = (0 until bandSize).map(k => col(s"h${b * bandSize + k}"))
      sig.select(col("doc_id"),
        lit(b).as("band"),
        md5(concat_ws(",", slots.map(_.cast("string")): _*)).as("bucket"))
    }.reduce(_ unionByName _)
  }

  /** SimHash over per-token 60-bit hashes (each occurrence votes ±1 per
    * bit; bit set when the vote sum is positive). Explode + `bits`
    * SUM(CASE) aggregates — fully codegen'd, map-side-combined.
    *
    * `bits` defaults to 16 (the oracle-checked configuration); the
    * corpus-scale configuration is `bits = 60` (the full md5Hash60 width —
    * the signature convention is 60-bit, so 60 is the widest slice a
    * single hash supports). */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, s"simhash bits must be in [1,60], got $bits")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("h", md5Hash60(col("w")))
    val bitAggs = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$b")
    }
    val g = tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    g.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-duplicate candidate pairs, banded: the signature splits
    * into `bands` equal-width slices; by pigeonhole any pair at hamming
    * ≤ bands-1 shares a slice exactly, so equality-joining on the slices
    * finds all such pairs (and, approximately, higher-distance pairs whose
    * diffs cluster in few slices — classic banded-LSH semantics). Emitted
    * when bit_count(xor) ≤ maxHamming. Equi-join on the band key — never
    * the all-pairs cross join.
    *
    * Scale note: the default 16-bit/2-band signature (kept oracle-small)
    * gives only 256 buckets per band — at corpus scale per-bucket fanout
    * goes quadratic the same way an unguarded shingle join does. Use the
    * wide configuration `simhashPairs(docs, 3, bits = 60, bands = 4)`:
    * 15-bit slices → 32 768 buckets per band, same plan shape (benched as
    * `t14_wide`). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   bits: Int = 16, bands: Int = 2): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bands ($bands) must divide bits ($bits)")
    val width = bits / bands
    val mask = (1L << width) - 1L
    val sig = simhash(docs, bits)
    val banded = (0 until bands).map { b =>
      val slice = shiftright(col("simhash"), b * width).bitwiseAND(mask)
      sig.select(col("doc_id"), col("simhash"), lit(b).as("band"), slice.as("key"))
    }.reduce(_ unionByName _)
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard near-dup pairs: explode distinct 3-shingles, self-join
    * on shingle, jaccard = inter / (|A|+|B|-inter); emitted when
    * 10·inter ≥ 3·union (≥ 0.3), integer-exact.
    *
    * `maxDf` is the scale guard: a shingle occurring in d documents emits
    * d² join rows, so one ubiquitous phrase ("click here to subscribe")
    * turns the self-join quadratic at corpus scale. Dropping shingles
    * above a document-frequency cap bounds the per-key fanout at maxDf²
    * while leaving near-duplicate pairs intact (a pair at ≥0.3 jaccard
    * shares many shingles; losing its few ubiquitous ones barely moves
    * the estimate). Disabled by default (exact semantics, oracle-matched);
    * set a few hundred for corpus-scale runs. */
  def jaccardPairs(docs: DataFrame, maxDf: Long = 0L): DataFrame =
    shingleOverlap(docs, maxDf)
      .filter(col("inter") * 10 >= col("un") * 3)
      .select(col("a"), col("b"), col("inter"), col("un"))

  /** The shingle-overlap frame [[jaccardPairs]] and [[containmentPairs]]
    * share: one row per doc pair `a < b` (columns a, b, inter, na, nb, un)
    * sharing at least one distinct word 3-shingle — shingle-set sizes,
    * intersection and union — with the optional `maxDf` stop-shingle
    * guard applied before the self-join. */
  private def shingleOverlap(docs: DataFrame, maxDf: Long): DataFrame = {
    // gram strings never leave the projection: every downstream join /
    // aggregation keys on the 8-byte xxhash64 instead (same convention
    // as crossDupCoverage — at web scale the self-join shuffle carries
    // (doc_id, hash) rows, ~3× narrower than shingle text)
    val all = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(array_distinct(gramsOf(col("w"), 3))).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("s"))
    val sh =
      if (maxDf <= 0) all
      else {
        val rare = all.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("s")
        all.join(rare, "s")
      }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("l").join(sh.as("r"),
        col("l.s") === col("r.s") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("un", col("na") + col("nb") - col("inter"))
  }

  /** Document fingerprint: md5-derived 60-bit hash of the normalised
    * token stream (whitespace-canonical content hash). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5Hash60(concat_ws(" ", tokens(col("text")))).as("fp"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * character k-gram, slide a w-wide window over consecutive positions
    * and keep each window's minimum hash; the distinct kept hashes are
    * the document's fingerprint set. Guarantees any shared substring of
    * length ≥ w+k-1 yields a shared fingerprint.
    *
    * Scale shape: the whole computation is a per-row projection over
    * higher-order built-ins — gram hashes as one `transform` array, the
    * sliding window min as `array_min(slice(...))` per position, the
    * per-doc distinct as `array_distinct` BEFORE the explode (doc_id is
    * part of the pair, so per-doc distinct IS the global distinct).
    * ZERO exchanges: the earlier formulation exploded one row per
    * character position and ran a window over doc_id, i.e. a full
    * shuffle + sort of char-level rows (~10⁹ rows per 10⁶ docs) just to
    * compute a per-document value; at 10¹² docs that exchange would
    * dwarf the hashing itself. The hash array is projected in its own
    * step and referenced twice (transform + slice) — CollapseProject
    * keeps non-cheap multi-referenced aliases separate, so the md5 pass
    * runs once per document (`WinnowSpec` guards both properties). */
  def winnow(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val hs = transform(
      sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1))),
      p => md5Hash60(col("text").substr(p, lit(k))))
    docs
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(col("hs"),
            (_, i) => array_min(slice(col("hs"), i + lit(1), lit(w))))))
          .as("fp"))
  }

  /** English stopwords for the ratio signal (non-distinct occurrence
    * count, unlike LangId's distinct-hit profiles). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "that", "this")

  private def charClassCount(c: Column, cls: String): Column =
    length(c) - length(regexp_replace(c, cls, ""))

  /** Quality signals beyond t2: punctuation / uppercase / digit char
    * counts and the (non-distinct) stopword token count — the classic
    * length/punct/stopword-ratio quality scorer, integer-exact so every
    * column ships with a DuckDB oracle. Ratios are counts over n_tokens /
    * n_chars, left to the consumer (integer counts hash-compare exactly;
    * float ratios would not). */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val w = tokens(lower(col("text")))
    docs.select(col("doc_id"),
      charClassCount(col("text"), "[!-/:-@\\[-`{-~]").as("punct_chars"),
      charClassCount(col("text"), "[A-Z]").as("upper_chars"),
      charClassCount(col("text"), "[0-9]").as("digit_chars"),
      size(filter(w, t => t.isin(stopwords: _*)))
        .as("stop_tokens"),
      size(tokens(col("text"))).as("n_tokens"))
  }

  /** Gopher-style repetition signals, integer-exact:
    *   - top{2,3}_cnt / top{2,3}_chars: occurrence count of the most
    *     frequent word 2-/3-gram (ties broken by lexicographically
    *     smallest gram) and the characters it covers (count × gram
    *     length, separators included) — the "fraction of characters in
    *     the most common n-gram" rule with the division left to the
    *     consumer so the oracle hash-compares exactly;
    *   - dup5_distinct / dup5_occurrences / n5_grams: distinct word
    *     5-grams occurring ≥2 times within the doc, their total
    *     occurrences, and the total 5-gram positions — the "fraction of
    *     characters in duplicated n-grams" family.
    *
    * Scale shape: every signal is a PER-DOCUMENT statistic, so nothing
    * needs to leave the row — the whole computation is a chain of
    * per-row projections over higher-order built-ins with ZERO
    * exchanges. Per-gram counts come from sorting each doc's gram array
    * (`array_sort`, binary string order — the same collation the
    * tie-break and the DuckDB oracle use) and run-length-encoding it:
    * run starts via an index `filter`, run lengths via `zip_with`
    * against the shifted starts. The earlier formulation exploded one
    * row per gram position and shuffled a groupBy(doc_id, gram) — even
    * map-side-combined, that exchange carries one ~50-byte gram string
    * per DISTINCT gram per doc (≈ tokens/doc rows), then joined three
    * aggregated legs back per doc: three shuffles and a string-keyed
    * exchange of ~10¹⁵ rows at 10¹² docs, all to compute values that
    * never depended on any other row. Each intermediate array is
    * projected in its own step and referenced more than once, so
    * CollapseProject keeps the stages separate and nothing non-cheap
    * evaluates twice (`TextOpsSpec` guards the zero-exchange shape).
    *
    * Tie-break parity: runs arrive in ascending gram order, so the
    * strictly-greater fold keeps the lexicographically smallest gram
    * among count ties — identical to the previous min(struct(-cnt, g))
    * and the oracle's ORDER BY cnt DESC, g ASC. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    def sorted(n: Int) = array_sort(gramsOf(col("w"), n))
    // 0-based positions where a new run starts in the sorted gram array s
    def runStarts(s: Column) = filter(sequence(lit(0), size(s) - 1),
      i => (i === 0) || (element_at(s, i + 1) =!= element_at(s, i)))
    // (cnt, gram) per run: length = next run's start (or size) - own start
    def runsOf(s: Column, starts: Column) = zip_with(
      starts,
      concat(slice(starts, lit(2), size(starts)), array(size(s))),
      (a, b) => struct((b - a).cast("long").as("cnt"),
        element_at(s, a + 1).as("g")))
    // max by (cnt desc, g asc): strict > keeps the first (lex-smallest)
    val zeroRun = struct(lit(0L).as("cnt"), lit("").as("g"))
    def best(runs: Column) = aggregate(runs, zeroRun,
      (acc, r) => when(r.getField("cnt") > acc.getField("cnt"), r).otherwise(acc))
    def dupLens(runs: Column) = filter(runs, r => r.getField("cnt") >= 2)
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), sorted(2).as("s2"), sorted(3).as("s3"), sorted(5).as("s5"))
      .select(col("doc_id"),
        col("s2"), runStarts(col("s2")).as("b2"),
        col("s3"), runStarts(col("s3")).as("b3"),
        col("s5"), runStarts(col("s5")).as("b5"),
        size(col("s5")).cast("long").as("n5_grams"))
      .select(col("doc_id"),
        runsOf(col("s2"), col("b2")).as("r2"),
        runsOf(col("s3"), col("b3")).as("r3"),
        runsOf(col("s5"), col("b5")).as("r5"),
        col("n5_grams"))
      .select(col("doc_id"),
        best(col("r2")).as("m2"), best(col("r3")).as("m3"),
        dupLens(col("r5")).as("d5"), col("n5_grams"))
      .select(col("doc_id"),
        col("m2.cnt").as("top2_cnt"),
        (col("m2.cnt") * length(col("m2.g"))).as("top2_chars"),
        col("m3.cnt").as("top3_cnt"),
        (col("m3.cnt") * length(col("m3.g"))).as("top3_chars"),
        size(col("d5")).cast("long").as("dup5_distinct"),
        aggregate(col("d5"), lit(0L), (acc, r) => acc + r.getField("cnt"))
          .as("dup5_occurrences"),
        col("n5_grams"))
  }

  /** Cross-document duplicated-gram coverage — the fixed-length-gram
    * approximation of substring-level corpus dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * position is duplicated when its word `n`-gram occurs in ≥2 distinct
    * documents. Emits per doc the duplicated position count and the
    * total positions; the ratio (left to the consumer) is the fraction
    * of the document covered by cross-corpus repeated text.
    *
    * Plan shape, sized for the corpus-scale shuffle this op IS at 100 TB
    * (the full tier pass over 100k extracted pages measured 280 s before
    * these moves and ~130 s after; what remains is the irreducible
    * gram-keyed exchange):
    * grams are HASHED to 64-bit longs before leaving the map side (an
    * 8-byte shuffle key instead of a ~50-byte n-gram string; xxhash64,
    * which codegens to straight-line long arithmetic — md5 here cost
    * ~150 s of the 188 s total at sf0.1, each call allocating a fresh
    * MessageDigest — and since the key is INTERNAL, never output, the
    * oracle groups by the gram string itself and gets identical counts;
    * collisions at 2⁻⁶⁴ only ever overcount coverage by a birthday
    * handful even at 10¹⁰ distinct grams), positions pre-combine into
    * per-(doc, gram) counts (repetitive documents — exactly the ones
    * coverage flags — collapse before the exchange), and the document
    * frequency joins back against the COMBINED counts, not raw
    * positions, so the join's left side is distinct grams per doc. The
    * gram-key join stays the bounded-fanout shape of the banded LSH
    * joins: each (doc, gram) row meets exactly one df row. */
  def crossDupCoverage(docs: DataFrame, n: Int = 8): DataFrame = {
    val pos = gramHashes(docs, n)
    val cnt = pos.groupBy("doc_id", "gh").agg(count(lit(1)).as("cnt"))
    // cnt rows are already distinct per (doc, gram): df = plain count
    val df = cnt.groupBy("gh").agg(count(lit(1)).as("df"))
    cnt.join(df, "gh")
      .groupBy("doc_id").agg(
        sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).as("dup_positions"),
        sum(col("cnt")).as("n_positions"))
  }

  /** Quality-tier assignment — the tier-extraction head of the pipeline:
    * every document lands in exactly one of four training-data tiers
    * (Gopher/FineWeb-style rules, reduced to integer-exact comparisons so
    * the whole assignment ships with a DuckDB oracle):
    *
    *   0 reject — under 20 tokens, an exact-duplicate loser (not the
    *     min-doc_id keeper of its md5 group), or ≥50% of its 8-gram
    *     positions duplicated across the corpus (Lee et al. coverage);
    *   1 low    — distinct-token ratio < 0.4, zero stopwords (word salad /
    *     non-prose), or ≥20% cross-corpus duplicated positions;
    *   3 high   — stopword ratio ≥ 5% AND distinct ratio ≥ 0.5 AND
    *     ≥ 40 tokens (prose-shaped, lexically diverse, substantial);
    *   2 mid    — everything else.
    *
    * `reasons` is the bitmask of fired rules (bit0 short, bit1 dup-loser,
    * bit2 cov≥50%, bit3 low-distinct, bit4 no-stopwords, bit5 cov≥20%,
    * bit6 high-conjunction) so the oracle checks every rule, not just the
    * final bucket.
    *
    * Plan shape: one projection pass for the per-doc signals, a
    * groupBy(md5) + equi-join back for the exact-dup keeper (t3's shape),
    * and the gram-keyed join of [[crossDupCoverage]] — all partial-
    * aggregated equi-joins, nothing quadratic. */
  def tierAssign(docs: DataFrame): DataFrame = {
    val (nTok, nDist, stops) = tierSignals(col("text"))
    val base = docs.select(col("doc_id"), md5(col("text")).as("h"),
      nTok.as("n_tokens"), nDist.as("n_distinct"), stops.as("stop_tokens"))
    val keep = base.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    val cov = crossDupCoverage(docs)
    val joined = base.join(keep, "h").join(cov, "doc_id")
    val (short, lowDistinct, noStops, high) =
      docRules(col("n_tokens"), col("n_distinct"), col("stop_tokens"))
    val loser = col("doc_id") =!= col("keep_id")
    val cov50 = col("dup_positions") * 2 >= col("n_positions")
    val cov20 = col("dup_positions") * 5 >= col("n_positions")
    joined.select(col("doc_id"),
      when(short || loser || cov50, 0)
        .when(lowDistinct || noStops || cov20, 1)
        .when(high, 3)
        .otherwise(2).as("tier"),
      (bit(short, 0) + bit(loser, 1) + bit(cov50, 2) + bit(lowDistinct, 3) +
        bit(noStops, 4) + bit(cov20, 5) + bit(high, 6)).as("reasons"))
  }

  /** The per-doc tier signals of `text`: token count, distinct-token
    * count and stopword-token count. */
  private def tierSignals(text: Column): (Column, Column, Column) = {
    val w = tokens(text)
    val wl = tokens(lower(text))
    // membership via isin → an InSet over the literal list: O(1) per
    // token, and nothing for the lambda to rebuild per element (an
    // array(...) literal constructed inside the lambda is re-created at
    // EVERY token — the same higher-order-function non-hoisting trap as
    // the gram explosion, compounded by tierAssign's multi-branch DAG)
    (size(w), size(array_distinct(w)), size(filter(wl, t => t.isin(stopwords: _*))))
  }

  /** The four per-doc tier rules over the [[tierSignals]]: short,
    * low-distinct, no-stopwords and the high conjunction. */
  private def docRules(nTok: Column, nDist: Column,
                       stops: Column): (Column, Column, Column, Column) =
    (nTok < 20, nDist * 10 < nTok * 4, stops === 0,
      stops * 20 >= nTok && nDist * 2 >= nTok && nTok >= 40)

  private def bit(c: Column, b: Int): Column = when(c, lit(1L << b)).otherwise(lit(0L))

  /** The corpus-state-free subset of the tier rules ([[tierAssign]] bits
    * 0 short, 3 low-distinct, 4 no-stopwords, 6 high-conjunction) as a
    * STATELESS per-row projection — usable unchanged as a streaming
    * pre-filter at ingest (no joins, no aggregation, no state store).
    * The corpus-level bits (1 dup-loser, 2/5 coverage) need batch state
    * and are absent, so the pre-tier is an UPPER BOUND on the final
    * tier: the batch pass can only move a document DOWN (to reject/low)
    * by adding duplication evidence, never up — which is exactly what an
    * ingest-side early-reject stage needs to be safe
    * (`TextOpsSpec` asserts the bound corpus-wide). */
  def preTierCols(text: Column): Seq[Column] = {
    val (nTok, nDist, stops) = tierSignals(text)
    val (short, lowDistinct, noStops, high) = docRules(nTok, nDist, stops)
    Seq(
      when(short, 0).when(lowDistinct || noStops, 1)
        .when(high, 3).otherwise(2).as("pre_tier"),
      (bit(short, 0) + bit(lowDistinct, 3) + bit(noStops, 4) + bit(high, 6))
        .as("pre_reasons"))
  }

  def preTier(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: preTierCols(col("text")): _*)

  /** Deterministic train/val/test sharding by a seeded md5 bucket of the
    * document id — no rand(), no row_number, no global sort, so the
    * assignment is a pure per-row projection: stable across runs,
    * engines, partitionings and cluster sizes (the property a 10^12-row
    * corpus split must have — re-running the pipeline, or computing the
    * split on a different cluster, reproduces identical membership, and
    * the op itself is embarrassingly parallel with zero shuffles). */
  def hashSplit(docs: DataFrame, valPct: Int = 5, testPct: Int = 5): DataFrame = {
    val bucket = md5Hash60(concat(lit("split:"), col("doc_id"))) % 100
    docs.select(col("doc_id"), bucket.as("bucket"),
      when(bucket < testPct, "test")
        .when(bucket < testPct + valPct, "val")
        .otherwise("train").as("split"))
  }

  /** Sensitive-pattern scrubbing signals (the PII-redaction stage of a
    * training-data pipeline): per pattern a match count (over the
    * ORIGINAL text, so counts are independent signals), plus the total
    * characters removed when every match collapses to a single
    * replacement mark. Patterns are RE2-safe (no backrefs/lookaround;
    * `\b` and non-capturing groups are in both engines) so Java regex
    * and the oracle's RE2 agree match-for-match; the scrub application
    * order is FIXED (most-specific first: email, SSN-shaped, card-shaped
    * digit runs, IPv4, separator phones, ©-year) so overlapping hits
    * resolve identically in both engines. The scrub itself is a per-row
    * projection — no shuffle, codegen'd, corpus-scale-free.
    *
    * Shapes, not validators — by design: a training-data scrub wants
    * recall on "looks like PII" (an impossible SSN area number or a
    * card number failing its Luhn digit is still worth redacting);
    * checksum validation would also put a non-regex UDF in the hot
    * path. */
  val scrubPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
    "card" -> "\\b[0-9]{13,16}\\b",
    "ipv4" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "phone" -> "\\+?[0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}",
    "year_mark" -> "©[0-9]{4}")

  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = scrubPatterns.map { case (nm, p) =>
      regexp_count(col("text"), lit(p)).cast("long").as(s"n_$nm")
    }
    val scrubbed = scrubPatterns.foldLeft(col("text")) {
      case (c, (_, p)) => regexp_replace(c, lit(p), lit("▮"))
    }
    docs.select(col("doc_id") +: counts :+
      (length(col("text")) - length(scrubbed)).cast("long").as("chars_removed"): _*)
  }

  /** BPE-ish regex tokenization: letter runs, digit runs, and single
    * non-alphanumeric marks — the GPT-2 pre-tokenizer shape reduced to a
    * cross-engine-safe ASCII pattern. Counts per class, integer-exact. */
  val regexTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def regexTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(regexTokenPattern), lit(0)))
        .as("n_regex_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0)))
        .as("n_word_tokens"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
        .as("n_num_tokens"))

  /** C4-style line filtering (Raffel et al. 2020 §2.2: "we only retained
    * lines that ended in a terminal punctuation mark" plus the minimum-
    * word rule): keep the newline-delimited lines carrying at least
    * `minWords` whitespace tokens AND ending in `.` `!` or `?`; the
    * document survives (`doc_keep`) when at least `minLines` lines do.
    * Over the extractor's output the lines ARE its block structure, so
    * this is the boilerplate-residue pass after extraction.
    *
    * Scale shape: a pure per-row projection over the line array
    * (higher-order filter, no explode) — ZERO shuffles at any corpus
    * size, and `doc_keep` prunes rejected documents before any
    * downstream shuffle pays for them. */
  def c4LineFilter(docs: DataFrame, minWords: Int = 5,
                   minLines: Int = 3): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      size(split(trim(l), "\\s+")) >= minWords && l.rlike("[.!?]$"))
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("kept_text"),
      (size(kept) >= minLines).cast("long").as("doc_keep"))
  }

  /** Within-document line dedup, first occurrence wins, original order
    * preserved — the repeated-boilerplate strip (nav bars, cookie
    * banners, footer chrome repeated mid-page) applied INSIDE each page
    * before any corpus-level dedup sees it.
    *
    * Scale shape: the first-occurrence test is `array_position` against
    * the line's own index, so the whole op is a per-row projection —
    * zero shuffles, no explode/groupBy/window. The O(lines²) string
    * scan per document is ~30² short compares on this corpus shape —
    * noise next to one gram hash — and is bounded by the extractor's
    * own per-page cost either way. */
  def dedupDocLines(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val uniq = transform(
      filter(transform(lines, (l, i) => struct(l.as("l"), i.as("i"))),
        s => array_position(lines, s.getField("l")) === s.getField("i") + 1),
      s => s.getField("l"))
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(uniq).cast("long").as("n_unique"),
      array_join(uniq, "\n").as("dedup_text"))
  }

  /** CORPUS-level repeated-line removal (RefinedWeb/CCNet-style
    * boilerplate strip): a non-blank line that occurs in ≥ `minDf`
    * distinct documents is boilerplate — nav chrome, cookie banners,
    * footer text stamped across a whole host — and is removed from
    * EVERY document (no keeper: unlike t26's span dedup, a line the
    * template stamped everywhere is noise in all its copies). The
    * within-page complement is `dedupDocLines` (x13); this is the pass
    * that catches what a single page can't see.
    *
    * Scale shape: each document contributes its DISTINCT non-blank line
    * hashes map-side (`array_distinct` before anything moves — a page
    * that repeats its nav bar 50× ships one row), the document-frequency
    * table is one partial-aggregated groupBy over those 8-byte keys, and
    * the boilerplate set attaches back via the same bounded-fanout
    * equi-join shape as t17/t26 — never a broadcast, because at corpus
    * scale the df ≥ k line set is itself huge (every templated line on
    * the web). The rebuild is a per-row filter against the doc's own
    * removed-hash set (bounded by lines-per-page). Blank/whitespace
    * lines are structure, not boilerplate: they never enter the
    * frequency table and are always kept. */
  def corpusLineDedup(docs: DataFrame, minDf: Int = 3): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), "\n").as("lines"))
    val docLines = base.select(col("doc_id"),
      explode(array_distinct(transform(
        filter(col("lines"), l => trim(l) =!= ""),
        l => xxhash64(l)))).as("lh"))
    val bp = docLines.groupBy("lh").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    val removed = docLines.join(bp.select("lh"), "lh")
      .groupBy("doc_id").agg(collect_list(col("lh")).as("removed"))
    val noRemoved = slice(array(lit(0L)), lit(1), lit(0))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lines"),
        coalesce(col("removed"), noRemoved).as("removed"))
      .select(col("doc_id"), col("lines"),
        filter(col("lines"), l =>
          trim(l) === "" || !array_contains(col("removed"), xxhash64(l)))
          .as("kept"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        (size(col("lines")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), "\n").as("clean_text"))
  }

  /** Per-document TF-IDF top-k keyword extraction — the corpus-indexing
    * primitive behind topic tagging, per-domain vocabularies and
    * quality-classifier features. Scoring is INTEGER-exact so the result
    * is bit-stable across engines and partitionings: `score = tf ×
    * (N div df)` (floor division — the idf surrogate that preserves the
    * idf ORDER for ranking without a float log), ties broken by term
    * ascending.
    *
    * Scale shape: one explode→(doc,term) partial-aggregated groupBy
    * builds the tf table; the df table is a second narrow groupBy over
    * it; N is a one-row aggregate over the input (a parquet count-star —
    * metadata only) broadcast into the score projection. The tf table is
    * consumed twice (df leg + score join) — CacheOnce keeps it at one
    * build. Top-k resolves via rank → WindowGroupLimit: the partial
    * top-k runs below the exchange, so a boilerplate term appearing in
    * every document never concentrates rows on one task. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = graft.util.CacheOnce(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * (n_docs div df)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Per-host document cap — the crawl-curation quota ("no host
    * contributes more than K documents") that stops template farms and
    * crawler traps from dominating a corpus. Ranks each host's documents
    * by whitespace-token count (desc, url tiebreak — fully deterministic)
    * and keeps the top `k`.
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit (Spark 4
    * top-k pushdown): every map task keeps at most k rows PER HOST
    * before the exchange, so a 10^8-page host (the crawl-skew case)
    * contributes k rows per task to the shuffle, not 10^8 rows to one
    * reducer — the window is skew-proof without salting. */
  def hostCap(docs: DataFrame, k: Int = 3): DataFrame = {
    val scored = docs.select(col("url"),
      graft.web.UrlNorm.hostOf(col("url")).as("host"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("host")
      .orderBy(col("n_tokens").desc, col("url"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Benchmark decontamination: per document, how many of its n-gram
    * positions appear anywhere in `benchmark` — the standard eval-leak
    * check (GPT-3 appendix C / Lee et al. style) a training corpus runs
    * against every held-out benchmark before a training epoch.
    *
    * Plan shape: the corpus side is one gram explosion (hashed to 8-byte
    * xxhash64 keys, never the gram strings) left-joined against the
    * DISTINCT benchmark gram set. The benchmark side is always tiny
    * relative to the corpus (eval sets are thousands of documents, the
    * corpus is 10^12), so it is broadcast — the corpus-side explosion
    * never shuffles AT ALL: hash-join against the broadcast set and
    * partial-aggregate back to one row per doc within the map task. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
                    n: Int = 8): DataFrame = {
    val pos = gramHashes(docs, n)
    val bg = broadcast(benchmarkGrams(benchmark, n).withColumn("hit", lit(1L)))
    pos.join(bg, Seq("gh"), "left")
      .groupBy("doc_id").agg(
        sum(coalesce(col("hit"), lit(0L))).as("contaminated_positions"),
        count(lit(1)).as("n_positions"))
  }

  /** Incremental ingest dedup: from a new crawl batch, the documents to
    * commit — exact-duplicate losers removed both WITHIN the batch
    * (min-doc_id keeper per text hash, t3's rule) and AGAINST the
    * already-committed corpus (left-anti on the text hash). This is the
    * steady-state shape of corpus growth: every nightly batch dedups
    * against the full committed table without ever rewriting it.
    *
    * Scale shape: the committed side reduces to one hash column before
    * anything shuffles — the stored `content_hash` when the table
    * carries one (then column pruning means no text bytes are even
    * READ), else md5(text) computed in the scan projection (text is
    * read once, hashed map-side, and only the 16-byte hash moves).
    * Both legs are equi-joins on the hash, so a committed table
    * bucketed by hash at write time makes the anti-join shuffle-free on
    * the big side; Spark's runtime bloom-filter injection additionally
    * prunes the batch side before the shuffle when the batch is the
    * smaller leg. */
  def ingestDedup(newDocs: DataFrame, committed: DataFrame): DataFrame =
    batchKeepers(newDocs)
      .join(committed.select(committedHash(committed).as("h")).distinct(),
        Seq("h"), "left_anti")
      .select("doc_id")

  /** The committed table's content hash: the stored `content_hash` when
    * the table carries one (then no text bytes are read), else md5(text). */
  def committedHash(committed: DataFrame): Column =
    if (committed.columns.contains("content_hash")) col("content_hash")
    else md5(col("text"))

  /** Within-batch exact dedup: one `(h, doc_id)` row per text hash, the
    * min doc_id its keeper (t3's rule). */
  private def batchKeepers(newDocs: DataFrame): DataFrame =
    newDocs.select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("doc_id"))

  /** Bloom-accelerated variant of [[ingestDedup]] — the 10^12-committed-row
    * resume/ingest path. [[ingestDedup]]'s anti-join shuffles BOTH sides on
    * the hash; at web scale the incoming batch is dominated by never-seen
    * documents that still pay that exchange. This variant builds a Bloom
    * filter over the committed hashes with Catalyst's
    * `BloomFilterAggregate` (the exact machinery Spark's own
    * InjectRuntimeFilter uses for runtime row filters), then:
    *
    *  - bloom-NEGATIVE rows are definitely new (a Bloom filter has no
    *    false negatives) and flow to the output with ZERO further shuffle
    *    past the within-batch dedup;
    *  - bloom-POSITIVE rows (true dups + the fp-rate sliver) are
    *    exact-confirmed by the same anti-join, now over a small fraction
    *    of the batch.
    *
    * The output is therefore EXACTLY [[ingestDedup]]'s at ANY false-
    * positive rate — fpp trades confirm-join traffic, never correctness
    * (the spec forces a saturated 1-item filter and asserts equality).
    *
    * Scale notes: the single driver action collects the SKETCH
    * (O(numBits), independent of row count) — the same materialization
    * Spark's runtime-filter subquery performs. `expectedItems` sizes the
    * filter; past ~10^9 committed keys shard the committed side by hash
    * range and build one filter per shard. Plan shape (PlanAuditSpec):
    * Catalyst pushes the bloom predicate below the within-batch groupBy
    * to sit directly above the scans — the same placement its own
    * InjectRuntimeFilter produces — so each union branch shuffles only
    * its share of (16-byte hash, id) rows; total exchange volume is one
    * batch pass split across the branches, and since every h-group lands
    * wholly in one branch the per-branch min(doc_id) is exact. */
  def ingestDedupBloom(newDocs: DataFrame, committed: DataFrame,
                       expectedItems: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.graft.CatalystBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val committedHashes = committed.select(committedHash(committed).as("h"))
    val keepWithin = batchKeepers(newDocs)

    val bloomAgg = toCol(new BloomFilterAggregate(
      toExpr(xxhash64(col("h"))), expectedItems).toAggregateExpression())
    val sketch = committedHashes.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    if (sketch == null) return keepWithin.select("doc_id") // nothing committed

    def mightContain = toCol(new BloomFilterMightContain(
      toExpr(lit(sketch)), toExpr(xxhash64(col("h")))))

    val definitelyNew = keepWithin.filter(!mightContain).select("doc_id")
    val confirmed = keepWithin.filter(mightContain)
      .join(committedHashes.distinct(), Seq("h"), "left_anti")
      .select("doc_id")
    definitelyNew.unionAll(confirmed)
  }

  /** Incremental NEAR-duplicate ingest dedup — the minhash companion to
    * the exact-hash [[ingestDedup]]: a new crawl batch is deduplicated
    * against the committed corpus by banded MinHash-LSH collision (drop a
    * new document if ANY of its band buckets already exists in the
    * committed corpus), the rule production crawl pipelines apply between
    * snapshots — recrawls and boilerplate-shifted near-copies of already-
    * committed pages never reach the corpus, at zero pairwise work.
    * Candidate semantics are identical to [[minhashPairs]]' banding
    * (same signatures, same md5 band buckets), so thresholds tune the
    * same way; within-batch near-dups are deliberately out of scope here
    * (that is the [[graft.sim.Components]] keeper pass over the committed
    * corpus).
    *
    * Scale shape: the committed side reduces to DISTINCT (band, bucket)
    * — ~16-byte rows, one per committed doc per band, with the text
    * column never leaving its scan (in a standing pipeline this is the
    * stored signature-bucket table, maintained incrementally); the batch
    * side anti-joins on (band, bucket) and a doc survives iff ALL its
    * nBands rows survive — a count(=nBands) groupBy over nBands-per-doc
    * rows, partial-aggregated. No pairs are ever materialized. */
  def nearDupIngest(newDocs: DataFrame, committed: DataFrame,
                    nHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    val committedBuckets = minhashBands(committed, nHashes, bandSize)
      .select("band", "bucket").distinct()
    minhashBands(newDocs, nHashes, bandSize)
      .join(committedBuckets, Seq("band", "bucket"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("nb"))
      .filter(col("nb") === nHashes / bandSize)
      .select("doc_id")
  }

  /** Tier-weighted deterministic corpus mixing: keep each document with
    * its tier's sampling rate (basis points, 0–10000), decided by a
    * seeded md5 hash of the doc id — no rand(), no row_number(), so the
    * mixture is reproducible run-to-run and partition-layout-independent
    * at any scale, and composes with [[hashSplit]] (different hash salt,
    * so the two decisions are independent). A per-epoch `seed` re-draws
    * the sample without reshuffling anything: the whole op is a stateless
    * projection + filter, zero shuffles on top of the tier table. */
  def tierMix(tiered: DataFrame, ratesBp: Map[Int, Int],
              seed: String = "mix"): DataFrame = {
    val rate = ratesBp.foldLeft(lit(0)) { case (c, (tier, bp)) =>
      when(col("tier") === tier, lit(bp)).otherwise(c)
    }
    tiered.filter(
        md5Hash60(concat(lit(s"$seed:"), col("doc_id"))) % 10000 < rate)
      .select(col("doc_id"), col("tier"))
  }

  /** Sequence-packing assignment: place every document at an exact token
    * offset in its pack group's concatenated token stream — the standard
    * concat-then-chunk packing, where the reader cuts the stream every
    * `capacity` tokens and a document MAY straddle a chunk boundary.
    * `bin` = the chunk containing the document's START offset, i.e.
    * where a reader assembling chunk k begins looking; `tok_offset` is
    * the authoritative position (a straddling doc continues into bin+1,
    * it does not spill wholesale).
    *
    * Scale shape: a single global running sum would serialise the corpus
    * through one partition, so documents first hash into independent
    * pack groups (deterministic md5 bucket — reproducible,
    * layout-independent) and the running sum is a window per group,
    * ordered by doc_id: each group is one shuffle partition's worth of
    * window work and groups scale out linearly.
    *
    * The group count is DERIVED FROM THE CORPUS (the sizing rule is
    * code, not a docstring): nGroups = ⌈corpus tokens / (binsPerGroup ×
    * capacity)⌉, i.e. each group packs ~`binsPerGroup` training bins —
    * one window task's worth of work at any corpus size, so a 10^12-doc
    * corpus gets millions of parallel groups instead of a fixed
    * handful serialising the running sums. The total rides the same
    * plan as a broadcast 1-row aggregate (no separate count action,
    * the ivfAssign parameter-folding idiom). Pass `nGroups > 0` to pin
    * the count explicitly (reproducing a prior layout). */
  def packAssign(docs: DataFrame, capacity: Int = 2048,
                 nGroups: Int = 0, seed: String = "pack",
                 binsPerGroup: Int = 64): DataFrame = {
    val counted = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val withNg =
      if (nGroups > 0) counted.withColumn("ng", lit(nGroups.toLong))
      else {
        val par = counted.agg(sum(col("n_tokens")).as("tot"))
          .select(greatest(lit(1L),
            ceil(col("tot") / lit(binsPerGroup.toDouble * capacity))
              .cast("long")).as("ng"))
        counted.crossJoin(broadcast(par))
      }
    val base = withNg.select(col("doc_id"),
      (md5Hash60(concat(lit(s"$seed:"), col("doc_id"))) % col("ng"))
        .as("pack_group"),
      col("n_tokens"))
    val w = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("end_offset", sum(col("n_tokens")).over(w))
      .withColumn("tok_offset", col("end_offset") - col("n_tokens"))
      .select(col("doc_id"), col("pack_group"), col("n_tokens"),
        col("tok_offset"),
        floor(col("tok_offset") / capacity).as("bin"))
  }

  /** Cross-document duplicated-SPAN removal — the corpus REWRITE that
    * `crossDupCoverage` only measures (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": cut the repeated
    * substring, keep one copy). Token-level semantics, fully
    * deterministic so a SQL oracle replays it:
    *
    *   - a token position is duplicated when some word `n`-gram covering
    *     it occurs in ≥2 distinct documents AND this document is not the
    *     gram's keeper (keeper = min doc_id among documents containing
    *     the gram — "the first occurrence survives");
    *   - the rewritten document is its tokens with duplicated positions
    *     removed, re-joined by single spaces (token-level, not
    *     char-level: the whitespace run is not preserved — the
    *     downstream consumer is a tokenizer, not a renderer).
    *
    * A document that is an exact duplicate of an earlier one therefore
    * rewrites to the empty string (every position covered), and partial
    * template overlap (shared boilerplate sentence) is cut from every
    * copy but the first — the two failure modes exact-dedup (t3) and
    * near-dedup (t21) leave behind.
    *
    * Plan shape (sized for the corpus-scale shuffle this is at 100 TB):
    * grams hash to 8-byte xxhash64 keys map-side (the oracle groups by
    * the gram STRING and gets identical sets — the hash is internal,
    * exactly t17's convention); start positions pre-combine into one
    * array per (doc, gram) before the exchange; df/keeper is a partial
    * aggregation over those already-distinct rows; the join back is the
    * same bounded-fanout gram-keyed equi-join as t17 (each (doc, gram)
    * row meets exactly one stats row); losers' start arrays combine per
    * doc in one more narrow exchange, and the rewrite itself is a
    * per-row projection: sorted starts → merged [lo,hi] intervals (the
    * aggregate is linear in interval count, NOT tokens × starts — a
    * fully-duplicated 10^4-token page merges to ONE interval before any
    * per-token work) → filter the position sequence → re-join kept
    * tokens. Documents with no duplicated grams take the left-join null
    * path and rewrite to themselves. */
  def dupSpanRemoval(docs: DataFrame, n: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val pos = gramStartPositions(toks, n)
    val perDocGram = pos.groupBy("gh", "doc_id")
      .agg(collect_list("i").as("starts"))
    // perDocGram rows are distinct per (gh, doc): df = plain count
    val stats = perDocGram.groupBy("gh")
      .agg(count(lit(1)).as("df"), min("doc_id").as("keeper"))
    val loserStarts = perDocGram.join(stats, "gh")
      .where(col("df") >= 2 && col("doc_id") =!= col("keeper"))
      .groupBy("doc_id")
      .agg(array_sort(flatten(collect_list(col("starts")))).as("starts"))
    cutStarts(toks, loserStarts, n)
  }

  /** (doc_id, i, gh): every word-`n`-gram start position with its 8-byte
    * gram hash — the shared front of [[dupSpanRemoval]] and
    * [[decontamRemoval]]. One Generate per row, hash computed map-side,
    * gram STRINGS never leave the row. */
  private def gramStartPositions(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(1))),
        i => struct(i.as("i"),
          xxhash64(concat_ws(" ", slice(col("w"), i, lit(n)))).as("gh"))))
        .as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.gh").as("gh"))

  /** Rewrite each document dropping every token covered by an `n`-gram
    * start in `starts(doc_id, starts)` (sorted array). Per-row
    * projection: sorted starts → merged [lo,hi] intervals (linear in
    * interval count, not tokens × starts) → filter positions → re-join.
    * Docs absent from `starts` take the left-join null path and rewrite
    * to themselves. Output (doc_id, n_tokens, n_removed, clean_text). */
  private def cutStarts(toks: DataFrame, starts: DataFrame, n: Int): DataFrame = {
    // typed empty values for the nothing-to-cut left-join path
    val noStarts = slice(array(lit(0)), lit(1), lit(0))
    val noIvs = slice(
      array(struct(lit(0).as("lo"), lit(0).as("hi"))), lit(1), lit(0))
    // sorted starts -> merged closed intervals [lo, hi]; each start s
    // covers [s, s+n-1]; adjacency (hi+1) merges into one interval
    def mergeIvs(ss: Column): Column = aggregate(ss, noIvs, (acc, s) => {
      val last = element_at(acc, -1)
      when(size(acc) > 0 && s <= last.getField("hi") + 1,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("lo").as("lo"),
            greatest(last.getField("hi"), s + (n - 1)).as("hi")))))
        .otherwise(
          concat(acc, array(struct(s.as("lo"), (s + (n - 1)).as("hi")))))
    })

    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        mergeIvs(coalesce(col("starts"), noStarts)).as("ivs"))
      .select(col("doc_id"), col("w"),
        filter(sequence(lit(1), size(col("w"))), j =>
          !exists(col("ivs"), iv =>
            j >= iv.getField("lo") && j <= iv.getField("hi"))).as("kept"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("kept"), j => element_at(col("w"), j)))
          .as("clean_text"))
  }

  /** Decontamination REWRITE — the surgical form of [[decontaminate]]
    * (which only counts): cut every token position covered by a word
    * `n`-gram that appears in the benchmark/eval set, keep the rest of
    * the document. Dropping whole contaminated documents (the blunt
    * form) wastes the 99% of a long page that never leaked; this is the
    * targeted alternative real pipelines pair with it when the overlap
    * is incidental (quoted test questions, embedded eval snippets).
    * Same interval semantics as [[dupSpanRemoval]] — a document that IS
    * a benchmark document rewrites to the empty string.
    *
    * Scale shape: the benchmark side reduces to DISTINCT 8-byte gram
    * hashes and BROADCASTS (eval sets are KB–MB scale); the corpus side
    * is one Generate + map-side hash per row, an inner broadcast join
    * keeps only leaked positions (never a shuffle of the corpus), one
    * narrow per-doc collect of start positions, and the per-row
    * interval rewrite of [[cutStarts]]. */
  def decontamRemoval(docs: DataFrame, benchmark: DataFrame,
                      n: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val bg = broadcast(benchmarkGrams(benchmark, n))
    val leakStarts = gramStartPositions(toks, n)
      .join(bg, Seq("gh"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("i"))).as("starts"))
    cutStarts(toks, leakStarts, n)
  }

  /** Corpus-trained bigram-LM quality score — the statistical-language-
    * model filter of the CCNet/RefinedWeb lineage, integer-exact: train
    * transition counts on `model`, then score every `docs` row by its
    * average bigram transition probability in basis points
    * (`(10000·count(w₁w₂)) div count(w₁·)`, Long floor-division, so the
    * oracle replays bit-identically — no floating log-perplexity).
    * Low-probability-mass documents (gibberish, OCR noise, template
    * fragments, wrong-language text under a same-script corpus) score
    * low; fluent text tracks the corpus's own transition statistics.
    * Unseen bigrams score 0 (left join), documents under two tokens are
    * excluded (they have no transitions). Self-scoring (`model eq docs`)
    * is the CCNet shape with the corpus standing in for the clean LM
    * corpus.
    *
    * Scale shape: the model is two partial-aggregated groupBys over ONE
    * cached bigram-occurrence pass (8-byte xxhash64 keys — gram strings
    * never shuffle), joined prefix→bigram to fold the division into a
    * per-gram basis-point table. The doc side combines (doc, gram)
    * multiplicities map-side before the single model equi-join (the t17
    * bounded-fanout shape — a hot bigram contributes one row per task,
    * not one per occurrence), then one partial-agg groupBy per doc_id.
    * No window, no cartesian; zipfian gram skew rides AQE + the
    * map-side combines. */
  def lmScore(model: DataFrame, docs: DataFrame): DataFrame = {
    def bigrams(d: DataFrame): DataFrame = {
      val w = tokens(col("text"))
      d.select(col("doc_id"), w.as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          slice(col("w"), lit(1), size(col("w")) - 1).as("a"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("b"))
        .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("z"))
        .select(col("doc_id"),
          xxhash64(col("z.a")).as("ph"),
          xxhash64(concat(col("z.a"), lit(" "), col("z.b"))).as("gh"))
    }
    val occM = graft.util.CacheOnce(bigrams(model).select("ph", "gh"))
    val c2 = occM.groupBy("gh", "ph").agg(count(lit(1)).as("c2"))
    val c1 = occM.groupBy("ph").agg(count(lit(1)).as("c1"))
    val probs = c2.join(c1, "ph")
      .select(col("gh"), expr("(10000L * c2) div c1").as("bp"))
    bigrams(docs)
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("occ"))
      .join(probs, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * coalesce(col("bp"), lit(0L))).as("sum_bp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bp"),
        expr("sum_bp div n_bigrams").as("avg_bp"))
  }

  /** CCNet-style per-language perplexity terciles (Wenzek et al. 2020):
    * split each language's documents into head / middle / tail thirds by
    * LM score — the bucketing CCNet feeds to curation (keep head+middle,
    * drop or down-weight tail). `scored` is [[lmScore]]'s output (higher
    * `avg_bp` = more predictable = "head"); `langs` is a
    * (doc_id, pred_lang) table ([[LangId.predict]]).
    *
    * The cuts are computed on the per-(lang, avg_bp) VALUE HISTOGRAM,
    * not on documents: `avg_bp` is integer basis points with ≤10,001
    * distinct values, so the histogram is ≤ nLangs·10,001 rows no matter
    * the corpus size. That turns the naive formulation (ntile over a
    * per-language sort of every document — a single-partition sort per
    * language, unusable on a skewed 10^12-doc corpus) into two
    * map-side-combinable aggregates, a window over the tiny histogram,
    * and one narrow (lang, avg_bp) equi-join back. No document-level
    * window, sort, or shuffle of the payload.
    *
    * Bucket rule (deterministic, tie-groups never split): a document is
    * `head` when the count of docs with avg_bp ≥ its value is ≤ ⌊n/3⌋,
    * `tail` when the count with avg_bp ≤ its value is ≤ ⌊n/3⌋, else
    * `middle`. Degenerate distributions (one value everywhere) land
    * wholly in `middle` — both engines agree by construction. */
  def ccnetBuckets(scored: DataFrame, langs: DataFrame): DataFrame = {
    val j = scored.select(col("doc_id"), col("avg_bp")).join(langs, "doc_id")
    val hist = j.groupBy(col("pred_lang"), col("avg_bp"))
      .agg(count(lit(1)).as("cnt"))
    val byLang = Window.partitionBy(col("pred_lang"))
    val hi = byLang.orderBy(col("avg_bp").desc)
    val lo = byLang.orderBy(col("avg_bp").asc)
    val marked = hist
      .withColumn("cum_hi", sum(col("cnt")).over(hi))
      .withColumn("cum_lo", sum(col("cnt")).over(lo))
      .withColumn("n", sum(col("cnt")).over(byLang))
      .select(col("pred_lang"), col("avg_bp"),
        when(col("cum_hi") <= expr("n div 3"), "head")
          .when(col("cum_lo") <= expr("n div 3"), "tail")
          .otherwise("middle").as("bucket"))
    j.join(marked, Seq("pred_lang", "avg_bp"))
      .select(col("doc_id"), col("pred_lang"), col("avg_bp"), col("bucket"))
  }

  /** Sliding-window document chunking: cut every document into
    * fixed-capacity token windows advanced by `stride` (overlap =
    * capacity - stride), the per-document counterpart of [[packAssign]]
    * (which concatenates ACROSS documents): long documents become
    * several training sequences with shared context at the seams, the
    * standard rewrite before tokenizer-level packing. Chunk k covers
    * token positions [k·stride, min(k·stride + capacity, n)); the last
    * chunk may be short; every token is covered; whitespace-only
    * documents yield no chunks.
    *
    * Scale shape: ZERO exchanges — one codegen'd projection (split) +
    * one Generate (the per-document window explode, fan-out
    * ⌈n/stride⌉ bounded by the document length) per row; chunk rows
    * inherit the scan's partitioning, so 10^12 documents chunk
    * embarrassingly parallel with no shuffle, no window function and
    * no driver involvement. Output sizing at the sink is the writer's
    * maxRecordsPerFile / AQE advisory problem, not this operator's. */
  def chunk(docs: DataFrame, capacity: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && stride <= capacity,
      s"need 1 <= stride <= capacity, got stride=$stride capacity=$capacity")
    // K-1 = ceil(max(n - capacity, 0) / stride), as integer arithmetic
    val lastK =
      expr(s"(greatest(n - $capacity, 0) + ${stride - 1}) div $stride")
        .cast("int")
    docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), lastK)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(col("chunk_id") * stride + capacity, col("n")).as("tok_end"),
        col("toks"))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"), col("tok_end"),
        (col("tok_end") - col("tok_start")).as("n_toks"),
        array_join(
          slice(col("toks"), col("tok_start") + 1,
            col("tok_end") - col("tok_start")), " ").as("chunk_text"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every `raw`-corpus document by how target-like its hashed feature
    * distribution is relative to a curated `target` sample — THE
    * domain-matching curation op (select web text that looks like
    * Wikipedia/books) between the per-document quality scores
    * ([[lmScore]], tier rules) and the dedup family.
    *
    * Features are unigrams + bigrams hashed into `buckets` 60-bit-md5
    * buckets (the shared cross-engine hash convention). Per bucket, both
    * corpora get an add-one-smoothed fixed-point rate
    * `p = (10^6·(c+1)) div (N+B)` and the bucket's importance is the
    * rate ratio in basis points `bp = (10^4·p_target) div max(p_raw,1)`
    * (≈10^4 for distribution-neutral buckets, higher for
    * target-enriched ones). A document's weight is the
    * occurrence-weighted sum over its features. Integer floor-divisions
    * only, so the DuckDB oracle replays bit-identically — the same
    * log→ratio basis change [[lmScore]] makes for perplexity: each
    * bucket's bp is monotone in DSIR's per-feature log-likelihood
    * ratio; documents dominated by target-enriched features rank high.
    *
    * Scale shape: the raw side is ONE explode → codegen'd md5/mod
    * projection → (doc, bucket) partial-aggregated groupBy (map-side
    * combine bounds a hot bucket to one row per task); the bucket rate
    * table derives from it by a second narrow groupBy over ≤`buckets`
    * rows, so the document text never shuffles and the corpus is read
    * once (CacheOnce keeps the narrow three-long projection at one
    * build). The target side (a curated seed sample — small by
    * construction in DSIR) aggregates to ≤`buckets` rows and broadcasts
    * into the rate join, as do the two one-row totals. Fixed-point
    * envelope: exact while per-bucket counts stay under 2^63/10^6 ≈
    * 9·10^12 occurrences — at larger corpora raise `buckets`, which the
    * hashed-feature resolution wants anyway. */
  def importanceWeights(target: DataFrame, raw: DataFrame,
                        buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val b = buckets.toLong
    // unigram + bigram stream, hashed to bucket ids
    def feats(d: DataFrame): DataFrame = {
      val w = tokens(col("text"))
      d.select(col("doc_id"), w.as("w"))
        .select(col("doc_id"),
          explode(concat(col("w"), zip_with(
            slice(col("w"), lit(1), size(col("w")) - 1),
            slice(col("w"), lit(2), size(col("w")) - 1),
            (a, x) => concat(a, lit(" "), x)))).as("f"))
        .select(col("doc_id"), (md5Hash60(col("f")) % b).as("fb"))
    }
    val docc = graft.util.CacheOnce(
      feats(raw).groupBy("doc_id", "fb").agg(count(lit(1)).as("occ")))
    val cq = docc.groupBy("fb").agg(sum("occ").as("cq"))
    val nq = cq.agg(sum(col("cq")).as("nq"))
    val cp = feats(target).groupBy("fb").agg(count(lit(1)).as("cp"))
    val np = cp.agg(sum(col("cp")).as("np"))
    val rates = cq
      .join(broadcast(cp), Seq("fb"), "left")
      .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .select(col("fb"), expr(
        s"""(10000L * ((1000000L * (coalesce(cp, 0L) + 1)) div (np + $b)))
            div greatest((1000000L * (cq + 1)) div (nq + $b), 1L)""").as("bp"))
    docc.join(broadcast(rates), "fb")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_feats"),
        sum(col("occ") * col("bp")).as("sum_bp"))
      .select(col("doc_id"), col("n_feats"), col("sum_bp"),
        expr("sum_bp div n_feats").as("avg_bp"))
  }

  /** Deterministic exact-quota stratified sample: per stratum (language,
    * tier, source, …) keep EXACTLY `min(quota, |stratum|)` documents,
    * chosen by seeded-hash order — the curation step that turns "10M
    * pages per language" into a balanced eval/seed set, reproducible
    * across runs and engines (no rand(), no input-order dependence).
    *
    * Scale shape: the rank is `row_number` over (hash, doc_id) within
    * the stratum, consumed by a `rn <= quota` filter — Spark rewrites
    * that pair as a WindowGroupLimit, which keeps a bounded top-`quota`
    * heap per task BEFORE the exchange, so a billion-row stratum ships
    * ~quota·tasks rows to its reducer instead of a billion (asserted in
    * the plan audit). The hash salt makes the order independent of any
    * upstream sort; ties are impossible (doc_id is in the key).
    */
  def stratifiedSample(docs: DataFrame, strataCol: String = "lang",
                       quota: Int = 12, seed: String = "sample"): DataFrame = {
    require(quota >= 1, s"need quota >= 1, got $quota")
    val rk = md5Hash60(concat(lit(s"$seed:"), col("doc_id")))
    docs.select(col("doc_id"), col(strataCol).as("stratum"), rk.as("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("stratum")).orderBy(col("rk"), col("doc_id"))))
      .where(col("rn") <= quota)
      .select(col("doc_id"), col("stratum"), col("rn"))
  }

  /** Leakage-safe train/val/test assignment: hash-split by the near-dup
    * CLUSTER label instead of the document id, so every member of a
    * duplicate cluster lands on the SAME side — the split discipline
    * that stops eval leakage through near-duplicates ([[hashSplit]]'s
    * per-doc split would put two 95%-identical documents in train and
    * test ~10% of the time; Lee et al. 2022 measure the resulting eval
    * inflation). Input is [[graft.sim.Components.keepers]]' frame
    * (id, component, is_keeper); this is a pure projection on top — the
    * component build already paid every shuffle, the split adds none.
    * Seeded-hash buckets, deterministic across runs and engines.
    */
  def clusterSplit(keepers: DataFrame,
                   valPct: Int = 5, testPct: Int = 5): DataFrame = {
    val idCol = keepers.columns.head
    val bucket = md5Hash60(concat(lit("csplit:"), col("component"))) % 100
    keepers.select(col(idCol), col("component"), bucket.as("bucket"),
      when(bucket < testPct, "test")
        .when(bucket < testPct + valPct, "val")
        .otherwise("train").as("split"))
  }

  /** Invisible-character sanitization — the byte-hygiene pass a webtext
    * corpus needs before tokenization: strip C0 control characters
    * (except \t \n \r, which are legitimate whitespace) + DEL, and the
    * zero-width/layout codepoints that survive HTML extraction
    * (ZWSP/ZWNJ/ZWJ, BOM-as-ZWNBSP, soft hyphen). Outputs per-class
    * removal counts (independent signals over the ORIGINAL text), the
    * cleaned length, and the md5 of the cleaned text so the oracle
    * verifies the REWRITE, not just the counts, without shipping the
    * text twice. Both character classes are RE2-safe (`\x{…}` escapes,
    * no shorthand like \p{Cf} whose membership tables could drift
    * between engines), so Java regex and DuckDB agree match-for-match.
    * Per-row projection: no shuffle, codegen'd, corpus-scale-free.
    */
  def sanitizeSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    val zw = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]"
    val t = col(textCol)
    val clean = regexp_replace(regexp_replace(t, ctrl, ""), zw, "")
    docs.select(col("doc_id"),
      (length(t) - length(regexp_replace(t, ctrl, ""))).as("n_ctrl"),
      (length(t) - length(regexp_replace(t, zw, ""))).as("n_zw"),
      length(clean).as("clean_chars"),
      md5(clean).as("clean_md5"))
  }

  /** Corpus datasheet rollup — the per-language health card a curation
    * run publishes next to the corpus (docs, token volume, exact-dup
    * rate, length envelope): the aggregate a 100 TB pipeline computes
    * ONCE per snapshot to catch ingest regressions (a language's dup
    * rate doubling, token mass collapsing) before training ever sees
    * the data. One pruned scan → per-row codegen'd (token count, text
    * md5) projection → single partial-aggregated groupBy on the
    * low-cardinality language key; the distinct-hash count expands to
    * the standard two-phase partial-distinct plan, so hot languages
    * combine map-side and no text ever shuffles (16-byte hashes do).
    * All derived ratios are integer floor-divisions (per-mille for the
    * dup rate) so the oracle replays bit-exactly.
    */
  def corpusCard(docs: DataFrame): DataFrame =
    docs.select(col("lang"), size(tokens(col("text"))).as("nt"),
        md5(col("text")).as("h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum(col("nt")).as("tokens"),
        countDistinct(col("h")).as("distinct_texts"),
        max(col("nt")).as("max_tokens"))
      .select(col("lang"), col("docs"), col("tokens"), col("distinct_texts"),
        col("max_tokens"),
        expr("tokens div docs").as("avg_tokens"),
        expr("(1000 * (docs - distinct_texts)) div docs").as("dup_permille"))

  /** Snapshot-over-snapshot datasheet diff — the regression DETECTOR on
    * top of [[corpusCard]]'s health card: given the previous and current
    * snapshots' per-language cards, emit integer basis-point deltas and
    * the alert bits an ingest pipeline pages on (a language's document
    * mass dropping >20%, its exact-dup rate doubling, a language
    * appearing or disappearing outright). This is the check a 100 TB
    * corpus build runs BETWEEN the datasheet and the training launch —
    * the card says what the snapshot is, the diff says what changed.
    *
    * Scale shape: both inputs are card outputs — one row per language —
    * so the full-outer join is broadcast-trivial at any corpus size;
    * all the cost lives in producing the cards (one aggregate pass
    * each, d2's shape). Arithmetic is floor-division basis points with
    * a `greatest(prev, 1)` guard so a brand-new language divides by 1,
    * not 0; the dup-spike alert requires ≥10‰ absolute so a 0‰→1‰
    * wobble on a tiny language never pages. All integer/boolean —
    * bit-exact under the oracle replay. */
  def corpusCardDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("lang"), col("docs").as("pd"),
      col("tokens").as("pt"), col("dup_permille").as("pdup"))
    val c = cur.select(col("lang"), col("docs").as("cd"),
      col("tokens").as("ct"), col("dup_permille").as("cdup"))
    p.join(c, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("pd"), lit(0L)).as("docs_prev"),
        coalesce(col("cd"), lit(0L)).as("docs_cur"),
        coalesce(col("pt"), lit(0L)).as("tokens_prev"),
        coalesce(col("ct"), lit(0L)).as("tokens_cur"),
        coalesce(col("pdup"), lit(0L)).as("dup_prev"),
        coalesce(col("cdup"), lit(0L)).as("dup_cur"))
      .withColumn("docs_delta_bp",
        expr("(10000 * (docs_cur - docs_prev)) div greatest(docs_prev, 1)"))
      .withColumn("tokens_delta_bp",
        expr("(10000 * (tokens_cur - tokens_prev)) div greatest(tokens_prev, 1)"))
      .withColumn("alert_docs_drop", col("docs_cur") * 10 < col("docs_prev") * 8)
      .withColumn("alert_dup_spike",
        col("dup_cur") >= col("dup_prev") * 2 && col("dup_cur") >= 10)
      .withColumn("alert_new_lang", col("docs_prev") === 0L)
      .withColumn("alert_gone_lang", col("docs_cur") === 0L)
  }

  /** Quality-aware near-dup keeper selection — the production refinement
    * of [[graft.sim.Components.keepers]]' min-id rule: within each
    * near-dup cluster keep the COPY WORTH KEEPING (most distinct tokens,
    * then most tokens, then min doc_id — a crawl usually holds one clean
    * copy and N truncated/boilerplate-wrapped mirrors of it, and min-id
    * picks among them blindly). Output: one row per document with its
    * component, the quality features, the cluster's elected `keep_id`
    * and the `is_keeper` bit; the corpus shrink is `filter(is_keeper)`.
    *
    * Scale shape: the election is a map-side-combinable
    * `max(struct(n_distinct, n_tokens, -doc_id))` per component — NOT a
    * window over the cluster, so a pathological million-member template
    * cluster combines to one candidate row per task before the exchange
    * and never concentrates on a single reducer. Two narrow shuffles on
    * the component key (elect + annotate-back); the text column never
    * moves (features are projected map-side off the pruned scan).
    * Deterministic and integer-exact: the struct comparison is
    * lexicographic over Longs, so the result is bit-identical under any
    * partitioning — the oracle replays the same election with a window
    * rank over the recursive-reachability component frame. */
  def qualityKeepers(spark: org.apache.spark.sql.SparkSession,
                     docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.sim.Components
      .keepers(spark, docs.select("doc_id"), pairs)
      .select("doc_id", "component")
    val q = docs.select(col("doc_id"),
      size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val scored = comp.join(q, "doc_id")
    val elected = scored.groupBy("component")
      .agg(max(struct(col("n_distinct"), col("n_tokens"),
        (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("component"), (-col("best.neg_id")).as("keep_id"))
    scored.join(elected, "component")
      .select(col("doc_id"), col("component"), col("n_distinct"),
        col("n_tokens"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_keeper"))
  }

  /** Shingle-containment near-dup pairs — the subset-duplicate detector
    * Jaccard misses by construction: when page B wholesale-embeds page A
    * (syndication wrappers, quote-expansion, print views), the
    * intersection is ~|A| but the union is ~|B|, so Jaccard ≈ |A|/|B|
    * can sit far below any dedup threshold while containment
    * inter/min(|A|,|B|) ≈ 1. Emits pairs at `thresholdBp` containment
    * (basis points, floor division — integer-exact) with the Jaccard
    * numerator/denominator alongside and `subset_only` marking the
    * pairs t7's 0.3-Jaccard rule would NOT have caught — the marginal
    * recall this operator buys.
    *
    * Scale shape: the [[shingleOverlap]] frame [[jaccardPairs]] runs
    * (distinct word-3-shingles hashed to 8-byte xxhash64 keys map-side,
    * self-equi-join on the hash, partial-aggregated intersection
    * counts, the same optional `maxDf` guard). Only the emission rule
    * differs, so the 100 TB cost profile is the one t7 already
    * measured. */
  def containmentPairs(docs: DataFrame, thresholdBp: Long = 8000L,
                       maxDf: Long = 0L): DataFrame =
    shingleOverlap(docs, maxDf)
      .withColumn("cont_bp", expr("(10000 * inter) div least(na, nb)"))
      .filter(col("cont_bp") >= thresholdBp)
      .withColumn("subset_only", !(col("inter") * 10 >= col("un") * 3))
      .select(col("a"), col("b"), col("inter"), col("un"),
        col("cont_bp"), col("subset_only"))

  /** Corpus vocabulary card — the top-`k` whitespace tokens by corpus
    * frequency with rank and cumulative coverage in basis points: the
    * tokenizer-health snapshot a curation run publishes per corpus
    * build (a boilerplate token entering the top ranks, or head
    * coverage collapsing, is an ingest regression visible before any
    * training step; the same table seeds stopword lists and BPE merges).
    *
    * Scale shape: one explode → partial-aggregated groupBy builds the
    * term-frequency table (hot tokens combine map-side); the global
    * top-k resolves as `TakeOrderedAndProject` — every task keeps only
    * its k best rows, so the sort never materializes the vocabulary.
    * The total-token count is a one-row aggregate broadcast into the
    * projection, and the rank/cumulative window runs over the k
    * surviving rows only (k ≈ 100 — driver-sized by construction, NOT a
    * corpus-sized window). Coverage is floor-division basis points so
    * the oracle replays bit-exactly; ties order by term ascending, so
    * the k-boundary is deterministic. */
  def vocabCard(docs: DataFrame, k: Int = 100): DataFrame = {
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total_tokens"))
    val top = tf.orderBy(col("cnt").desc, col("term").asc).limit(k)
    val ord = Window.orderBy(col("cnt").desc, col("term").asc)
    val cum = Window.orderBy(col("cnt").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("vocab_rank", row_number().over(ord).cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(cum))
      .select(col("vocab_rank"), col("term"), col("cnt"),
        col("total_tokens"),
        expr("(10000 * cum_cnt) div total_tokens").as("cum_bp"))
  }
}
