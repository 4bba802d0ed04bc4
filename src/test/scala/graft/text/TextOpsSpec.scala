package graft.text

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Local unit coverage for the dedup/minhash/simhash family on a
  * hand-checkable corpus (the driver's DuckDB oracle covers the same ops
  * at sf scale; these pin the semantics with known answers). */
class TextOpsSpec extends AnyFunSuite with SparkSuite {
  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups byte-identical texts, keeps the min id") {
    val d = docs(1L -> "the quick brown fox", 2L -> "something else",
      3L -> "the quick brown fox")
    val groups = TextOps.dedupExact(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(groups.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("prefix dedup keys on the first five tokens only") {
    val d = docs(
      1L -> "a b c d e SUFFIX-ONE trailing text",
      2L -> "a b c d e completely different tail",
      3L -> "x y z q w same length different head")
    val groups = TextOps.dedupPrefix(d).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(groups.toSeq == Seq((1L, 3L), (2L, 1L)))
  }

  test("tokenCounts and quality are whitespace-exact") {
    val d = docs(1L -> "  one   two two  three ")
    val t = TextOps.tokenCounts(d).collect().head
    assert((t.getInt(1), t.getInt(2)) == (4, 23))
    val q = TextOps.quality(d).collect().head
    assert((q.getInt(1), q.getInt(2), q.getInt(3)) == (4, 3, 14))
  }

  test("fingerprint is invariant to whitespace layout") {
    val d = docs(1L -> "alpha beta  gamma", 2L -> "  alpha   beta gamma ",
      3L -> "alpha beta gamma delta")
    val fps = TextOps.fingerprint(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("minhash: identical docs share full signatures; LSH pairs find them") {
    val same = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val d = docs(1L -> same, 2L -> same, 3L -> "totally unrelated words here now then")
    val sig = TextOps.minhash(d).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    val pairs = TextOps.minhashPairs(d).collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    assert(pairs.forall(_ == (1L, 2L)), s"only the duplicate pair may surface: ${pairs.toSeq}")
    assert(pairs.nonEmpty)
  }

  test("scalar hash60 (digest-byte fold) equals the hex-parse formulation") {
    // the hot-path implementation folds 60 bits straight from the digest
    // bytes; pin it against the definitional first-15-hex-chars parse
    for (s <- Seq("", "a", "0:the quick", "7:brown fox", "pack:1",
        "i:\u00a9 unicode \u0a10 text", "x" * 500)) {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString
      assert(Minhash.hash60(s) == java.lang.Long.parseLong(hex.substring(0, 15), 16),
        s"hash60 mismatch for '$s'")
    }
  }

  test("scalar Minhash (streaming path) is slot-identical to the relational minhash") {
    // The streaming LSH operator computes signatures per row via
    // graft.text.Minhash; pin its convention (tokens, 3-shingles, "i:"
    // seeding, 60-bit md5 hash, band buckets) to the batch/oracle path
    // on real corpus texts.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val batchSig = TextOps.minhash(real).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val texts = real.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val scalar = Minhash.signature(text, 8).toSeq
      assert(scalar == batchSig(id), s"doc $id signatures diverge")
    }
    // band buckets too: md5 of the comma-joined slots
    val batchBuckets = TextOps.minhashPairs(real) // forces bucket expr path
    texts.keys.take(3).foreach { id =>
      val sig = Minhash.signature(texts(id), 8)
      assert(Minhash.bandBucket(sig, 0, 4).matches("[0-9a-f]{32}"))
    }
    assert(batchBuckets.columns.toSeq == Seq("a", "b", "band"))
  }

  test("simhash: identical texts collide, disjoint vocabularies differ") {
    val d = docs(1L -> "spark catalyst tungsten codegen shuffle",
      2L -> "spark catalyst tungsten codegen shuffle",
      3L -> "entirely different vocabulary in this document")
    val s = TextOps.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(3L))
    assert(s.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("simhash banded pairs: identical docs pair at hamming 0, disjoint docs don't pair") {
    val d = docs(1L -> "spark catalyst tungsten codegen shuffle",
      2L -> "spark catalyst tungsten codegen shuffle",
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo nn mm")
    val pairs = TextOps.simhashPairs(d, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)), s"identical docs must pair: ${pairs.toSeq}")
    assert(pairs.forall { case (a, b, h) => a < b && h == 0 })
  }

  test("wide simhash config (60-bit, 4 bands) agrees with the narrow one on exact dups") {
    val d = docs(1L -> "spark catalyst tungsten codegen shuffle",
      2L -> "spark catalyst tungsten codegen shuffle",
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo nn mm")
    val wide = TextOps.simhashPairs(d, maxHamming = 0, bits = 60, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(wide.toSeq == Seq((1L, 2L, 0)),
      s"wide config must find exactly the identical pair: ${wide.toSeq}")
    // band slices must tile the signature exactly: reassembling the four
    // 15-bit keys reproduces the 60-bit signature
    val sig = TextOps.simhash(d, bits = 60).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keys = (0 until 4).map(b => (sig(1L) >> (b * 15)) & ((1L << 15) - 1))
    assert(keys.zipWithIndex.map { case (k, b) => k << (b * 15) }.sum == sig(1L))
  }

  test("jaccard pairs: integer-exact intersection and union") {
    // doc1 shingles: {a b c, b c d, c d e}; doc2: {a b c, b c d, c d X}
    val d = docs(1L -> "a b c d e", 2L -> "a b c d X", 3L -> "p q r s t")
    val rows = TextOps.jaccardPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 2L, 2L, 4L))) // inter=2, union=4, 2*10 >= 4*3
  }

  test("jaccard maxDf guard drops ubiquitous shingles but keeps near-dups") {
    // "z z z" appears in every doc (the stop-shingle); docs 1/2 are
    // near-identical beyond it, doc 3 unrelated.
    val d = docs(
      1L -> "z z z a b c d e",
      2L -> "z z z a b c d X",
      3L -> "z z z p q r s t",
      4L -> "z z z m n o p q")
    val capped = TextOps.jaccardPairs(d, maxDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq.contains((1L, 2L)), "true near-dup must survive the cap")
    assert(!capped.exists { case (a, b) => (a, b) == (3L, 4L) })
  }

  test("repetition signals: top-gram coverage and duplicated 5-grams, hand-checked") {
    val d = docs(
      // 2-grams: "a b"×2, "b a"×2, "a c"×1 → tie broken to "a b" (lex min);
      // 3-grams: "a b a"×2 top; 5-grams all distinct
      1L -> "a b a b a c",
      // 5-grams: "x y x y x"×2 and "y x y x y"×2 → 2 distinct dups, 4 occurrences
      2L -> "x y x y x y x y",
      // single token degrades to one truncated gram at every n
      3L -> "solo")
    val r = TextOps.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> x.toSeq.tail.map(_.asInstanceOf[Long])).toMap
    assert(r(1L) == Seq(2L, 6L, 2L, 10L, 0L, 0L, 2L))
    assert(r(2L) == Seq(4L, 12L, 3L, 15L, 2L, 4L, 4L))
    assert(r(3L) == Seq(1L, 4L, 1L, 4L, 0L, 0L, 1L))
  }

  test("repetition signals are a zero-exchange per-row projection") {
    // per-document statistics must not shuffle: no Exchange, no Generate
    // (no gram explosion), no window — the whole plan is projections
    // parquet-backed input: a LocalRelation would constant-fold the plan away
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = TextOps.repetitionSignals(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition plan must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"repetition plan must not explode:\n$plan")
    // the sorted gram arrays and run-start arrays are each referenced more
    // than once; CollapseProject must keep them aliased (one array_sort
    // per n per row, not one per reference)
    val optimized = TextOps.repetitionSignals(d).queryExecution.optimizedPlan.toString
    val sorts = "array_sort".r.findAllIn(optimized).length
    assert(sorts == 3, s"expected one array_sort per n (3), saw $sorts:\n$optimized")
  }

  test("cross-doc duplicated-gram coverage counts positions with corpus df >= 2") {
    val d = docs(
      1L -> "common phrase here unique one",
      2L -> "common phrase here different tail two",
      3L -> "nothing shared at all whatsoever")
    // only "common phrase here" occurs in >= 2 docs
    val r = TextOps.crossDupCoverage(d, n = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
    assert(r.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 4L), (3L, 0L, 3L)))
  }

  test("cross-doc coverage: within-doc repeats do not count as cross-doc dups") {
    // the 3-gram "p p p" repeats inside doc 1 but appears in no other doc
    val d = docs(1L -> "p p p p p", 2L -> "q r s t u")
    val r = TextOps.crossDupCoverage(d, n = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 0L, 2L -> 0L))
  }

  // 42 tokens, 7 stopword hits (>=5%), 41 distinct (>=50%) -> the high
  // conjunction holds when nothing cross-duplicates it
  private val proseTokens = Vector("the", "quick", "analysis", "of", "a",
    "modern", "system", "shows", "that", "large", "volumes", "stream",
    "across", "many", "nodes", "while", "engineers", "measure", "latency",
    "and", "throughput", "before", "deployment", "because", "storage",
    "layout", "matters", "for", "columnar", "scans", "and", "join", "order",
    "during", "query", "planning", "work", "so", "results", "stay",
    "stable", "here")
  private val prose = proseTokens.mkString(" ")

  test("pre-tier upper-bounds the final tier on a whole corpus") {
    // the streamable rules can only be confirmed or worsened by the batch
    // corpus evidence — a doc never moves UP from its ingest pre-tier
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pre = TextOps.preTier(d).select(col("doc_id"), col("pre_tier"))
    val fin = TextOps.tierAssign(d).select(col("doc_id"), col("tier"))
    val both = pre.join(fin, "doc_id")
    assert(both.count() == 500)
    val violations = both.filter(col("tier") > col("pre_tier")).count()
    assert(violations == 0, s"$violations docs rose above their pre-tier")
    // and the local bits agree exactly where they fire
    val preLocal = TextOps.preTier(d).select(col("doc_id"), col("pre_reasons"))
    val finLocal = TextOps.tierAssign(d)
      .select(col("doc_id"), (col("reasons").bitwiseAND(lit(1L + 8L + 16L + 64L))).as("fr"))
    assert(preLocal.join(finLocal, "doc_id")
      .filter(col("pre_reasons") =!= col("fr")).count() == 0,
      "local rule bits must be identical between pre and final")
  }

  test("hash split: deterministic, partition-invariant, every doc in exactly one shard") {
    val s = spark
    import s.implicits._
    val d = (1L to 400L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val a = TextOps.hashSplit(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // identical assignment from a differently-partitioned input (no
    // rand/row_number dependence — the 10^12-row reproducibility property)
    val b = TextOps.hashSplit(d.repartition(7)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(a == b, "split must not depend on physical partitioning")
    assert(a.size == 400)
    val byShard = a.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byShard.keySet == Set("train", "val", "test"), s"shards: $byShard")
    assert(byShard("train") > 300, s"train holds ~90%: $byShard")
    assert(a.values.forall { case (bk, sp) =>
      (bk < 5) == (sp == "test") && (bk >= 5 && bk < 10) == (sp == "val")
    }, "bucket boundaries map exactly to shard names")
  }

  /** piiScrub rows keyed by doc_id, columns by name. */
  private def scrubRows(d: org.apache.spark.sql.DataFrame): Map[Long, Map[String, Long]] = {
    val out = TextOps.piiScrub(d)
    val names = out.columns.drop(1)
    out.collect().map { r =>
      r.getLong(0) -> names.zipWithIndex.map { case (n, i) => n -> r.getLong(i + 1) }.toMap
    }.toMap
  }

  test("pii scrub counts and removes emails, phones, year marks") {
    val d = docs(
      1L -> "contact us at team.lead+x@example.co.uk or sales@corp.io today",
      2L -> "call +91 987 6543 or 040 1234 567 now",
      3L -> "plain prose with nothing to scrub at all",
      4L -> "footer ©2024 and again ©1999 end")
    val r = scrubRows(d)
    assert(r(1L)("n_email") == 2 && r(1L)("n_phone") == 0 && r(1L)("n_year_mark") == 0)
    // "team.lead+x@example.co.uk"(25) + "sales@corp.io"(13) -> 2 marks
    assert(r(1L)("chars_removed") == 25 + 13 - 2, s"email chars removed: ${r(1L)}")
    assert(r(2L)("n_email") == 0 && r(2L)("n_phone") == 2, s"phones: ${r(2L)}")
    // "+91 987 6543"(12) + "040 1234 567"(12) -> 2 marks
    assert(r(2L)("chars_removed") == 12 + 12 - 2, s"phone chars removed: ${r(2L)}")
    assert(r(3L).values.forall(_ == 0L), s"clean doc untouched: ${r(3L)}")
    assert(r(4L)("n_year_mark") == 2 && r(4L)("chars_removed") == 5 + 5 - 2)
  }

  test("pii scrub: SSN-shaped, card-shaped, and IPv4 patterns fire exactly") {
    val d = docs(
      1L -> "ssn on file: 123-45-6789 thanks",
      2L -> "card 4111111111111111 billed; ref 12345678901234567 is 17 digits",
      3L -> "server at 192.168.10.250 and 10.0.0.1 replied",
      4L -> "order 123-45-678 is not an ssn and 1.2.3 is not an ip")
    val r = scrubRows(d)
    assert(r(1L)("n_ssn") == 1 && r(1L)("n_phone") == 0,
      s"ssn fires once, phone must not co-fire on it: ${r(1L)}")
    assert(r(1L)("chars_removed") == 11 - 1, s"ssn chars: ${r(1L)}")
    // 16-digit run matches; the 17-digit run must NOT (\b{13,16}\b)
    assert(r(2L)("n_card") == 1, s"card-shaped: ${r(2L)}")
    assert(r(2L)("chars_removed") == 16 - 1, s"card chars: ${r(2L)}")
    assert(r(3L)("n_ipv4") == 2, s"ipv4: ${r(3L)}")
    assert(r(3L)("chars_removed") == (14 - 1) + (8 - 1), s"ipv4 chars: ${r(3L)}")
    assert(r(4L).values.forall(_ == 0L), s"near-miss shapes untouched: ${r(4L)}")
  }

  test("gram explosion tokenizes once: split() stays out of the position lambda") {
    // split(text) inlined into the transform lambda re-tokenizes at every
    // gram position — O(tokens²), measured 934 s vs 14 s on sf0.01 pages.
    // The optimizer must keep tokenization in its own projection below
    // the Generate: the generator expression may slice the token-array
    // attribute but must not contain split itself.
    val d = docs(1L -> "alpha beta gamma delta epsilon")
    for (q <- Seq(TextOps.crossDupCoverage(d), TextOps.minhash(d),
        TextOps.jaccardPairs(d))) {
      val gens = q.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.nonEmpty, "gram ops must explode positions via Generate")
      for (g <- gens) {
        assert(!g.generator.sql.contains("split("),
          s"tokenization leaked into the gram lambda:\n${g.generator.sql}")
      }
    }
  }

  test("tier assignment fires every rule on a hand-built corpus") {
    assert(proseTokens.size == 42)
    val salad40 = Array.fill(20)("spam ham").mkString(" ") // 40 tokens, 2 distinct, 0 stops
    val mid30 = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu gamma kappa rho the")
      .trim // 30 tokens, 1 stopword (ratio 1/30 < 5%), distinct, under 40
    val d = docs(
      1L -> "tiny short document under twenty tokens total", // b0 short
      2L -> prose,                                            // keeper of the dup pair
      3L -> prose,                                            // b1 loser (+b2 coverage)
      4L -> salad40,                                          // b3 low-distinct + b4 no-stops
      5L -> (prose + " extra trailing marker token"),         // 35/39 positions shared -> b2
      6L -> mid30)                                            // none -> mid
    val r = TextOps.tierAssign(d).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2))).toMap
    assert(r(1L)._1 == 0 && (r(1L)._2 & 1L) != 0, s"short doc: ${r(1L)}")
    assert(r(2L)._1 == 0 && (r(2L)._2 & 4L) != 0, // keeper, but 100% cross-dup'd
      s"dup keeper fully covered: ${r(2L)}")
    assert(r(3L)._1 == 0 && (r(3L)._2 & 2L) != 0, s"dup loser: ${r(3L)}")
    assert(r(4L)._1 == 1 && (r(4L)._2 & 24L) != 0, s"word salad: ${r(4L)}")
    assert(r(5L)._1 == 0 && (r(5L)._2 & 4L) != 0, s"heavily cross-duplicated: ${r(5L)}")
    assert(r(6L)._1 == 2 && r(6L)._2 == 0L, s"mid doc fires nothing: ${r(6L)}")
  }

  test("tier assignment: clean prose reaches tier 3 only via the high conjunction") {
    val other = ("completely unrelated content with the usual stopword mix " +
      "covering different topics entirely and never repeating grams from " +
      "elsewhere in this corpus so coverage stays at zero for both texts " +
      "while lengths sit comfortably above the forty token threshold yes " +
      "indeed").trim // 41 tokens, 8 stops, no 8-gram shared with `prose`
    val r = TextOps.tierAssign(docs(1L -> prose, 2L -> other)).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getLong(2))).toMap
    assert(r(1L) == ((3, 64L)), s"prose: ${r(1L)}")
    assert(r(2L) == ((3, 64L)), s"prose2: ${r(2L)}")
  }

  test("decontaminate counts exactly the positions whose 8-gram leaks the benchmark") {
    // 10 tokens -> 3 full 8-grams per doc (positions 1..3)
    val train = docs(
      1L -> "a b c d e f g h i j",   // shares grams with bench doc 100
      2L -> "q r s t u v w x y z")   // disjoint from the benchmark
    val bench = docs(100L -> "a b c d e f g h i j")
    val r = TextOps.decontaminate(train, bench).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == ((3L, 3L)), s"fully leaked doc: ${r(1L)}")
    assert(r(2L) == ((0L, 3L)), s"clean doc: ${r(2L)}")
  }

  test("ingestDedup keeps one doc per new text and none already committed") {
    val committed = docs(10L -> "already committed text body here")
    val batch = docs(
      21L -> "already committed text body here",  // dup vs corpus -> dropped
      22L -> "fresh content alpha",               // keeper (min id of its pair)
      23L -> "fresh content alpha",               // within-batch loser
      24L -> "fresh content beta")                // unique
    val kept = TextOps.ingestDedup(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(22L, 24L), s"kept: $kept")
  }

  test("ingestDedupBloom equals the exact anti-join at any fpp") {
    val committed = docs(
      (0L until 40L).map(i => i -> s"committed body number $i"): _*)
    val batch = docs(
      ((100L until 140L).map(i => i -> s"committed body number ${i - 100}") ++ // all dups
        (200L until 260L).map(i => i -> s"fresh text $i") ++                   // all new
        Seq(300L -> "fresh text 200")): _*)                                    // within-batch dup
    val exact = TextOps.ingestDedup(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    val viaBloom = TextOps.ingestDedupBloom(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBloom == exact, s"bloom path diverged: $viaBloom vs $exact")
    // A deliberately saturated 1-item filter maximizes false positives;
    // the exact confirm join must still remove every one of them.
    val saturated = TextOps.ingestDedupBloom(batch, committed, expectedItems = 1L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(saturated == exact, s"saturated-bloom path diverged: $saturated")
  }

  test("nearDupIngest: exact copies always collide, disjoint vocabulary always survives") {
    // Exact copies share every minhash band (signatures are equal), so
    // they are dropped with probability 1; docs sharing NO 3-shingle with
    // any committed doc can collide only on an md5 collision, i.e. never.
    val committed = docs(
      (0L until 10L).map(i =>
        i -> s"alpha beta gamma delta epsilon zeta eta theta common text $i"): _*)
    val batch = docs(
      ((100L until 105L).map(i =>
        i -> s"alpha beta gamma delta epsilon zeta eta theta common text ${i - 100}") ++ // exact copies
        (200L until 208L).map(i =>
          i -> s"unrelated fresh vocabulary item$i nothing shared here at all")): _*)
    val kept = TextOps.nearDupIngest(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == (200L until 208L).toSeq,
      s"exact copies must drop, disjoint-vocab docs must survive: $kept")
  }

  test("nearDupIngest: empty committed side keeps the whole batch; output is batch ids") {
    val s = spark
    import s.implicits._
    val committed = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = docs(1L -> "a b c d", 2L -> "e f g h")
    val kept = TextOps.nearDupIngest(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L))
  }

  test("ingestDedupBloom with an empty committed side keeps every batch keeper") {
    val s = spark
    import s.implicits._
    val committed = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = docs(1L -> "a", 2L -> "b", 3L -> "a")
    val kept = TextOps.ingestDedupBloom(batch, committed)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L), s"kept: $kept")
  }

  test("tierMix is deterministic, respects 0/10000 rates, and re-draws with the seed") {
    val s = spark
    import s.implicits._
    val tiered = (0L until 400L).map(i => (i, (i % 4).toInt)).toDF("doc_id", "tier")
    val all = Map(0 -> 0, 1 -> 10000, 2 -> 5000, 3 -> 10000)
    val a = TextOps.tierMix(tiered, all).collect().map(r => (r.getLong(0), r.getInt(1)))
    val b = TextOps.tierMix(tiered, all).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(a.sorted.toSeq == b.sorted.toSeq, "same seed must reproduce the sample")
    assert(!a.exists(_._2 == 0), "rate 0 tier must be empty")
    assert(a.count(_._2 == 1) == 100 && a.count(_._2 == 3) == 100,
      "rate 10000 tiers must keep every doc")
    val mid = a.count(_._2 == 2)
    assert(mid > 20 && mid < 80, s"rate 5000 tier should keep roughly half, got $mid/100")
    val c = TextOps.tierMix(tiered, all, seed = "epoch2")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(c.count(_._2 == 2) != mid || c.filter(_._2 == 2).toSeq != a.filter(_._2 == 2).toSeq,
      "a different seed must draw a different mid-tier sample")
  }

  test("packAssign: doc_id-ordered running offsets, straddle-aware bins") {
    val d = docs(1L -> "a b c", 2L -> "d e", 3L -> "f g h i")
    val r = TextOps.packAssign(d, capacity = 4, nGroups = 1).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r(1L) == ((3L, 0L, 0L)), s"doc1: ${r(1L)}")
    assert(r(2L) == ((2L, 3L, 0L)), s"doc2 starts at offset 3, still bin 0: ${r(2L)}")
    assert(r(3L) == ((4L, 5L, 1L)), s"doc3 spills into bin 1: ${r(3L)}")
  }

  test("packAssign derives nGroups from corpus size; membership deterministic across partitionings") {
    val s = spark
    import s.implicits._
    // 400 docs x 10 tokens = 4000 tokens; binsPerGroup=2, capacity=25 ->
    // ng = ceil(4000 / 50) = 80 parallel pack groups (the docstring-rule-
    // become-code: a bigger corpus means MORE groups, same work per group)
    val d = (1L to 400L).map(i => (i, (1 to 10).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val a = TextOps.packAssign(d.repartition(7), capacity = 25, binsPerGroup = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    val b = TextOps.packAssign(d.repartition(3), capacity = 25, binsPerGroup = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted.toSeq
    assert(a == b, "pack membership and offsets must be partition-layout-independent")
    val groups = a.map(_._2).distinct
    assert(groups.forall(g => g >= 0 && g < 80), s"groups in [0,80): ${groups.max}")
    assert(groups.size > 40, s"the derived 80 groups must actually spread: ${groups.size}")
    // the rule is the seeded hash mod the DERIVED count — spot-check one doc
    val g1 = a.find(_._1 == 1L).get._2
    assert(g1 == Minhash.hash60("pack:1") % 80,
      "group = md5Hash60(seed:doc_id) % ceil(tokens/(binsPerGroup*capacity))")
  }

  test("packAssign: large explicit nGroups run keeps per-group prefix sums exact") {
    val s = spark
    import s.implicits._
    val d = (1L to 500L).map(i => (i, (1 to (i % 7 + 1).toInt).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = TextOps.packAssign(d, capacity = 8, nGroups = 256)
      .collect().map(x => (x.getLong(1), x.getLong(0), x.getLong(2), x.getLong(3)))
    r.groupBy(_._1).foreach { case (_, rows) =>
      var off = 0L
      rows.sortBy(_._2).foreach { case (_, _, nTok, tokOff) =>
        assert(tokOff == off, s"offsets must be the doc_id-ordered prefix sum")
        off += nTok
      }
    }
  }

  test("c4LineFilter keeps terminal-punctuated lines of >= minWords words") {
    val d = docs(
      1L -> ("one two three four five.\n" + // kept
        "too short.\n" + // 2 words — dropped
        "no terminal punct here at all\n" + // no [.!?] — dropped
        "does this line have enough words?\n" + // kept (?)
        "exclamations also count as terminal marks!"), // kept (!)
      2L -> "just one good line here today.\nand nothing else")
    val r = TextOps.c4LineFilter(d, minWords = 5, minLines = 3)
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), x.getLong(2), x.getString(3), x.getLong(4)))).toMap
    assert(r(1L)._1 == 5 && r(1L)._2 == 3 && r(1L)._4 == 1L)
    assert(r(1L)._3 == "one two three four five.\n" +
      "does this line have enough words?\n" +
      "exclamations also count as terminal marks!")
    assert(r(2L) == ((2L, 1L, "just one good line here today.", 0L)))
  }

  test("dedupDocLines drops repeats, keeps first occurrence and order") {
    val d = docs(
      1L -> "cookie banner\nreal content one\ncookie banner\nreal content two\nreal content one",
      2L -> "a\nb\nc")
    val r = TextOps.dedupDocLines(d)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((5L, 3L, "cookie banner\nreal content one\nreal content two")))
    assert(r(2L) == ((3L, 3L, "a\nb\nc")))
  }

  test("hostCap keeps the k highest-token docs per host, url tiebreak") {
    val s = spark
    import s.implicits._
    val d = Seq(
      ("https://a.org/1", "w1 w2 w3 w4"),
      ("https://a.org/2", "w1 w2"),
      ("https://a.org/3", "w1 w2 w3"),
      ("https://a.org/4", "w1 w2 w3"), // ties /3 on tokens; url breaks it
      ("https://b.org/1", "w1")).toDF("url", "text")
    val r = TextOps.hostCap(d, k = 2).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3)))
      .sortBy(x => (x._2, x._4))
    assert(r.toSeq == Seq(
      ("https://a.org/1", "a.org", 4L, 1L),
      ("https://a.org/3", "a.org", 3L, 2L),
      ("https://b.org/1", "b.org", 1L, 1L)))
  }

  test("corpus line dedup: df>=k lines cut from EVERY copy, no keeper") {
    val d = docs(
      1L -> "unique a\nNAV BAR\nbody one",
      2L -> "NAV BAR\nbody two\n\nmore two",
      3L -> "body three\nNAV BAR",
      4L -> "nothing shared here")
    val r = TextOps.corpusLineDedup(d, minDf = 3).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((3L, 1L, "unique a\nbody one")))
    assert(r(2L) == ((4L, 1L, "body two\n\nmore two")),
      "blank line is structure, kept")
    assert(r(3L) == ((2L, 1L, "body three")))
    assert(r(4L) == ((1L, 0L, "nothing shared here")))
  }

  test("corpus line dedup: within-doc repeats count once toward df, all copies cut") {
    // the nav line repeats inside doc 1 but df must count documents,
    // not occurrences: with minDf=3 two documents are not enough...
    val d2 = docs(1L -> "NAV\nbody\nNAV", 2L -> "NAV\nother")
    val kept = TextOps.corpusLineDedup(d2, minDf = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(kept == Map(1L -> 0L, 2L -> 0L))
    // ...but with minDf=2 it fires and removes BOTH copies inside doc 1
    val r2 = TextOps.corpusLineDedup(d2, minDf = 2).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r2(1L) == ((3L, 2L, "body")))
    assert(r2(2L) == ((2L, 1L, "other")))
  }

  test("tfidf keywords: rare terms outrank common, integer idf, term-asc ties") {
    // 4 docs; "the" appears in all (idf surrogate 4//4=1), "rare"/"gem"
    // in one (4//1=4); within doc 1 "rare" tf=2 beats "gem" tf=1 at the
    // same idf; "alpha"/"beta" tie on score -> term asc
    val d = docs(
      1L -> "the rare rare gem the",
      2L -> "the alpha beta",
      3L -> "the common common",
      4L -> "the words here")
    val r = TextOps.tfidfKeywords(d, k = 2).collect()
      .map(x => (x.getLong(0), x.getInt(5)) ->
        ((x.getString(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // doc 1: rare tf=2 df=1 score=2*4=8; gem tf=1 df=1 score=4
    assert(r((1L, 1)) == (("rare", 2L, 1L, 8L)))
    assert(r((1L, 2)) == (("gem", 1L, 1L, 4L)))
    // doc 2: alpha/beta both tf=1 df=1 score=4 -> term asc
    assert(r((2L, 1)) == (("alpha", 1L, 1L, 4L)))
    assert(r((2L, 2)) == (("beta", 1L, 1L, 4L)))
    // doc 3: common tf=2 df=1 score=8 beats the (tf=1 df=4 score=1)
    assert(r((3L, 1)) == (("common", 2L, 1L, 8L)))
    assert(r((3L, 2)) == (("the", 1L, 4L, 1L)))
  }

  private def spanRemoval(d: org.apache.spark.sql.DataFrame, n: Int = 8) =
    TextOps.dupSpanRemoval(d, n).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("span removal: non-keeper loses the shared span, keeper is intact") {
    // docs 1 and 2 share one 8-token sentence; everything else is unique
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d = docs(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"uno dos tres $shared quatro",
      3L -> "completely unrelated words only here never repeated at all")
    val r = spanRemoval(d)
    assert(r(1L) == ((12L, 0L, s"alpha beta $shared gamma delta")),
      "keeper (min doc_id) keeps its copy untouched")
    assert(r(2L) == ((12L, 8L, "uno dos tres quatro")),
      "non-keeper loses exactly the 8 shared tokens")
    assert(r(3L)._2 == 0L)
  }

  test("span removal: exact duplicate rewrites to the empty string") {
    val t = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val r = spanRemoval(docs(5L -> t, 9L -> t))
    assert(r(5L) == ((10L, 0L, t)))
    assert(r(9L) == ((10L, 10L, "")))
  }

  test("span removal: overlapping gram hits merge, no double-counting") {
    // a 10-token shared run = three overlapping 8-grams in the loser;
    // covered positions must merge to ONE 10-token interval
    val run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val d = docs(
      1L -> s"$run tail-a only-a",
      2L -> s"head-b $run tail-b")
    val r = spanRemoval(d)
    assert(r(1L)._2 == 0L)
    assert(r(2L) == ((12L, 10L, "head-b tail-b")))
  }

  test("span removal: two disjoint shared spans cut separately") {
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val d = docs(
      1L -> s"$a mid-one $b",
      2L -> s"x1 $a x2 x3 x4 $b x5",
      3L -> "nothing shared in this document at all whatsoever today")
    val r = spanRemoval(d)
    assert(r(1L)._2 == 0L, "doc 1 is the keeper of both spans")
    assert(r(2L) == ((21L, 16L, "x1 x2 x3 x4 x5")))
  }

  test("span removal: short docs (< n tokens) dedup via the truncated gram") {
    // gramsOf degrades to ONE whole-doc gram when the doc is shorter than
    // n, so short exact duplicates still collapse to the keeper copy
    val r = spanRemoval(docs(2L -> "tiny doc", 7L -> "tiny doc",
      8L -> "tiny other"))
    assert(r(2L) == ((2L, 0L, "tiny doc")))
    assert(r(7L) == ((2L, 2L, "")))
    assert(r(8L)._2 == 0L)
  }

  test("lm score: basis-point transition probabilities, hand-computed") {
    val d = docs(1L -> "a b a c", 2L -> "a b", 3L -> "x")
    // model (self): c1(a)=3, c1(b)=1; bp(ab)=20000/3=6666, bp(ba)=10000,
    // bp(ac)=10000/3=3333; doc 3 has no transition -> excluded
    val r = TextOps.lmScore(d, d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r == Map(
      1L -> ((3L, 19999L, 6666L)),
      2L -> ((1L, 6666L, 6666L))))
  }

  test("lm score: bigrams unseen in the model score zero") {
    val model = docs(1L -> "a b")
    val r = TextOps.lmScore(model, docs(9L -> "a b c")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r == Map(9L -> ((2L, 10000L, 5000L))))
  }

  private def chunksOf(text: String, capacity: Int, stride: Int) =
    TextOps.chunk(docs(1L -> text), capacity, stride).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(5)))
      .sortBy(_._1).toSeq

  test("chunking: overlapping windows cover every token, short tail kept") {
    // 9 tokens, capacity 4, stride 2 -> starts 0,2,4,6 (K = 1+ceil(5/2))
    val c = chunksOf("t1 t2 t3 t4 t5 t6 t7 t8 t9", capacity = 4, stride = 2)
    assert(c == Seq(
      (0, 0, 4, "t1 t2 t3 t4"),
      (1, 2, 6, "t3 t4 t5 t6"),
      (2, 4, 8, "t5 t6 t7 t8"),
      (3, 6, 9, "t7 t8 t9")))
  }

  test("chunking: doc shorter than capacity is one whole chunk; stride = capacity tiles without overlap") {
    assert(chunksOf("a b", capacity = 4, stride = 2) == Seq((0, 0, 2, "a b")))
    assert(chunksOf("a b c d e", capacity = 2, stride = 2) == Seq(
      (0, 0, 2, "a b"), (1, 2, 4, "c d"), (2, 4, 5, "e")))
  }

  test("chunking: whitespace-only and exact-capacity docs") {
    assert(chunksOf("   ", capacity = 4, stride = 2).isEmpty)
    // n == capacity -> exactly one chunk, no empty trailing window
    assert(chunksOf("a b c d", capacity = 4, stride = 2) ==
      Seq((0, 0, 4, "a b c d")))
  }

  test("importance weights: target-vocabulary docs outrank off-domain docs") {
    // target speaks {alpha beta gamma}; raw adds an off-domain pool
    // {zzz yyy xxx}. DSIR semantics: raw docs written in the target
    // vocabulary must carry strictly higher avg_bp than off-domain ones,
    // and target-enriched features push weights above the ~10000 bp
    // distribution-neutral level.
    val target = docs(
      100L -> "alpha beta gamma alpha",
      101L -> "beta gamma alpha beta")
    val raw = docs(
      1L -> "alpha beta gamma",
      2L -> "zzz yyy xxx zzz",
      3L -> "alpha beta zzz")
    val r = TextOps.importanceWeights(target, raw, buckets = 64).collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) > r(3L) && r(3L) > r(2L),
      s"expected in-domain > mixed > off-domain, got $r")
    assert(r(1L) > 10000L, s"pure target vocabulary below neutral: ${r(1L)}")
  }

  test("importance weights: feature count = 2n-1 per doc, bit-identical under repartitioning") {
    val target = docs(100L -> "alpha beta")
    val raw = docs(1L -> "alpha beta gamma", 2L -> "zzz", 3L -> "a b c d")
    def run(parts: Int) =
      TextOps.importanceWeights(target, raw.repartition(parts), buckets = 64)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3))).sortBy(_._1).toSeq
    val a = run(5)
    // unigrams + bigrams: 3 tokens -> 5 features, 1 -> 1, 4 -> 7
    assert(a.map(t => t._1 -> t._2).toMap ==
      Map(1L -> 5L, 2L -> 1L, 3L -> 7L))
    assert(a == run(2), "integer-exact weights must not depend on partitioning")
  }

  test("decontamRemoval cuts exactly the leaked benchmark span, keeps the rest") {
    val leak = "q1 q2 q3 q4 q5 q6 q7 q8"
    val corpus = docs(
      1L -> s"intro words $leak outro tail",      // leaked mid-document
      2L -> leak,                                  // IS a benchmark doc
      3L -> "clean document with no benchmark overlap at all present")
    val bench = docs(100L -> leak)
    val r = TextOps.decontamRemoval(corpus, bench).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((12L, 8L, "intro words outro tail")),
      "exactly the 8 leaked tokens are cut")
    assert(r(2L) == ((8L, 8L, "")),
      "a document that IS a benchmark doc rewrites to empty")
    assert(r(3L)._2 == 0L, "clean documents rewrite to themselves")
  }

  test("decontamRemoval: overlapping leaked grams merge into one cut") {
    // a 10-token leaked run = three overlapping 8-grams -> one interval
    val run10 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val r = TextOps.decontamRemoval(
      docs(1L -> s"head $run10 tail"), docs(50L -> run10)).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L) == ((12L, 10L, "head tail")))
  }

  private def stratDocs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, lang) => (id, s"text $id", lang) }
      .toDF("doc_id", "text", "lang")
  }

  test("stratifiedSample: exact quota per stratum, small strata kept whole") {
    val d = stratDocs((1L to 20L).map(i => i -> "en") ++
      Seq(100L -> "de", 101L -> "de", 200L -> "fr"): _*)
    val got = TextOps.stratifiedSample(d, quota = 5).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    val byStratum = got.groupBy(_._1)
    assert(byStratum("en").length == 5, "big stratum clipped to the quota")
    assert(byStratum("de").map(_._2).toSet == Set(100L, 101L),
      "stratum under quota is kept whole")
    assert(byStratum("fr").map(_._2).toSet == Set(200L))
    got.groupBy(_._1).foreach { case (st, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"ranks in $st must be dense 1..n")
    }
  }

  test("stratifiedSample is deterministic: input order and partitioning never change membership") {
    val d = stratDocs((1L to 50L).map(i => i -> (if (i % 2 == 0) "en" else "de")): _*)
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextOps.stratifiedSample(df, quota = 7).collect()
        .map(r => (r.getString(1), r.getLong(0))).toSet
    val a = ids(d)
    assert(a == ids(d.orderBy(col("doc_id").desc)), "order-independent")
    assert(a == ids(d.repartition(13)), "partitioning-independent")
    assert(a.count(_._1 == "en") == 7 && a.count(_._1 == "de") == 7)
  }

  test("sanitizeSignals strips exactly the control + zero-width classes, keeps \\t\\n\\r") {
    val d = docs(
      1L -> "plain text stays",
      2L -> "a\u0001b\u0007c\u007Fd", // SOH/BEL/DEL: 3 control hits
      3L -> "x\u200By\uFEFFz\u00ADw", // ZWSP/BOM/SHY: 3 zero-width hits
      4L -> "keep\tthese\nwhitespace\rchars",      // legitimate whitespace
      5L -> "mi\u0002xed\u200C end")
    val r = TextOps.sanitizeSignals(d).collect()
      .map(x => x.getLong(0) ->
        ((x.getInt(1), x.getInt(2), x.getInt(3)))).toMap
    assert(r(1L) == ((0, 0, 16)))
    assert(r(2L) == ((3, 0, 4)), "SOH/BEL/DEL removed, letters kept")
    assert(r(3L) == ((0, 3, 4)), "ZWSP/BOM/SHY removed")
    assert(r(4L) == ((0, 0, 27)), "tab/newline/CR are NOT control hits")
    assert(r(5L) == ((1, 1, 9)))
    // the rewrite itself: cleaned md5 equals md5 of the expected string
    val m = TextOps.sanitizeSignals(d).collect()
      .map(x => x.getLong(0) -> x.getString(4)).toMap
    assert(m(2L) == java.security.MessageDigest.getInstance("MD5")
      .digest("abcd".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("clusterSplit: a near-dup cluster never straddles the split") {
    val same = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val d = docs(1L -> same, 2L -> same, 7L -> same,
      3L -> "totally unrelated words here now then",
      4L -> "another quite different document body text")
    val k = graft.sim.Components.keepers(spark,
      d.select(col("doc_id")), TextOps.minhashPairs(d))
    val got = TextOps.clusterSplit(k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 7L), "every doc gets a split")
    assert(got(1L) == got(2L) && got(2L) == got(7L),
      "all cluster members share component AND split side")
    assert(got(1L)._1 == 1L, "component = min doc_id of the cluster")
    // split is a function of the component, so singletons with different
    // ids may differ but must be one of the three sides
    assert(got.values.map(_._2).forall(Set("train", "val", "test")))
    spark.catalog.clearCache()
  }

  test("corpusCard: per-lang docs/tokens/dup-rate rollup, integer-exact") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c", "en"), (2L, "a b c", "en"), (3L, "d e", "en"),
      (4L, "one two three four", "de")).toDF("doc_id", "text", "lang")
    val r = TextOps.corpusCard(d).collect().map(x => x.getString(0) ->
      ((x.getLong(1), x.getLong(2), x.getLong(3), x.getInt(4),
        x.getLong(5), x.getLong(6)))).toMap
    // en: 3 docs, 8 tokens, 2 distinct texts, max 3, avg 8 div 3 = 2,
    // dup rate 1000*(3-2) div 3 = 333 permille
    assert(r("en") == ((3L, 8L, 2L, 3, 2L, 333L)))
    assert(r("de") == ((1L, 4L, 1L, 4, 4L, 0L)))
  }
}
