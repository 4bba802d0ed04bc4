package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-path queries: the properties
  * that make them survive a 100× scale-up are pinned here, not just
  * eyeballed in the PlanAudit dump — a regression that reintroduces a
  * cartesian product, drops a pushed filter, or unbounds the centroid
  * broadcast fails the suite. */
class PlanAuditSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(FormattedMode)

  private def assertNoCartesian(p: String, what: String): Unit =
    assert(!p.contains("CartesianProduct"),
      s"$what must not plan a cartesian product:\n$p")

  test("t11 LSH pairs: banded equi-join, no cartesian, partial aggregation") {
    val p = plan("t11_lsh_pairs")
    assertNoCartesian(p, "t11")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"banded bucket join must be an equi-join:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "minhash signature aggregation must be map-side combinable")
  }

  test("t14 simhash pairs (narrow AND wide config): banded equi-join, no cartesian") {
    val narrow = plan("t14_simhash_pairs")
    assertNoCartesian(narrow, "t14")
    assert(narrow.contains("SortMergeJoin") || narrow.contains("BroadcastHashJoin"))
    val wide = graft.text.TextOps
      .simhashPairs(spark.read.parquet(s"$sf/documents.parquet"),
        maxHamming = 3, bits = 60, bands = 4)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(wide, "t14_wide")
    assert(wide.contains("SortMergeJoin") || wide.contains("BroadcastHashJoin"),
      s"wide simhash config must keep the banded equi-join shape:\n$wide")
  }

  test("e6 SRP pairs: banded equi-join, no cartesian, map-side-combined signature") {
    val p = plan("e6_srp_dups")
    assertNoCartesian(p, "e6")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"SRP band-bucket join must be an equi-join:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "SRP signature aggregation must be map-side combinable")
  }

  test("e2 IVF: centroid side broadcast (bounded), one assignment, no extra count action") {
    val p = plan("e2_knn_ivf")
    assert(p.contains("BroadcastExchange"),
      s"centroids (and the 1-row parameter aggregate) must broadcast:\n$p")
    // the home/probe legs join on cell equality — an equi-join, never a
    // vector cross join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"cell join must be an equi-join:\n$p")
    // the cells/stride parameters fold into the SAME plan (a 1-row
    // aggregate under a broadcast nested loop), so building the DataFrame
    // triggers no count() job on the driver
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push the partial rank below the exchange:\n$p")
  }

  test("e1 exact and e13 PQ re-rank: top-k compiles to WindowGroupLimit") {
    for (q <- Seq("e1_knn_exact", "e13_pq_rerank")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q top-k must push the partial rank below the exchange:\n$p")
    }
  }

  test("IVF centroid broadcast stays bounded by the cell cap") {
    // the capped auto-cell count bounds the broadcast row count: even at
    // 10^9 vectors the centroid table is <= 4096 rows (~2 MB at dim 128)
    val s = spark
    import s.implicits._
    assert(Seq(Long.MaxValue).toDF("n").select(graft.sim.Ann.autoCells($"n")).as[Long].head()
      == graft.sim.Ann.MaxAutoCells)
    // and the explicit-cells path honours the caller's bound
    val assign = graft.sim.Ann.ivfAssign(
      spark.read.parquet(s"$sf/embeddings.parquet"), cells = 8, nprobe = 2)
    val cells = assign.select("cell").distinct().count()
    assert(cells <= 16, s"~8 cells requested, got $cells distinct cells")
  }

  test("hierarchical IVF: bounded coarse broadcast, fine equi-join on the cell key, no cartesian") {
    val p = graft.sim.Ann.ivfKnnHierarchical(
        spark.read.parquet(s"$sf/embeddings.parquet"), k = 5,
        coarseCells = 8, finePerCoarse = 4)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(p, "hierarchical IVF")
    assert(p.contains("BroadcastExchange"),
      s"coarse centroids must broadcast (K1 rows, bounded):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"fine codebook must attach via an equi-join on the coarse cell:\n$p")
  }

  test("x19 snapshot dedup: one partial-agg exchange on canon, no join, no window") {
    val p = plan("x19_snapshot_dedup")
    assertNoCartesian(p, "x19")
    // latest-wins is max(struct) + count under one groupBy: exactly one
    // shuffle (on the canonical url), with a PARTIAL aggregate before it
    // (the var-length max buffer forces SortAggregate, but the map-side
    // collapse to one row per (partition, canon) is what matters), no
    // join-back and no row_number window over the snapshot history
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"x19 must shuffle exactly once, on canon:\n$p")
    val aggs = "\\(\\d+\\) (Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size
    assert(aggs == 2, s"x19 must plan a partial+final aggregate pair:\n$p")
    assert(p.contains("Functions [2]: [partial_count(1), partial_max") ||
      p.contains("partial_max"),
      s"x19 aggregation must be map-side combinable:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"x19 must not join back to find the latest snapshot:\n$p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"x19 must not window-sort the history:\n$p")
  }

  test("t29 lm score: hashed-gram equi-joins, map-side combines, no cartesian, no window") {
    val p = plan("t29_lm_score")
    assertNoCartesian(p, "t29")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"model must attach via equi-joins on the 8-byte gram keys:\n$p")
    assert(p.contains("xxhash64"),
      s"gram strings must be hashed before any shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"transition counts and per-doc sums must combine map-side:\n$p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"t29 must not use a window function:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"the model bigram pass must be cached once, not rebuilt per leg:\n$p")
  }

  test("t28 chunking: zero-exchange per-row window explode") {
    val p = plan("t28_chunks")
    assertNoCartesian(p, "t28")
    // chunk rows inherit the scan partitioning: split + Generate only
    assert(!p.contains("Exchange"), s"t28 must not shuffle:\n$p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"t28 must not use a window function:\n$p")
    assert(p.contains("Generate"),
      s"t28 should explode windows per row via Generate:\n$p")
  }

  test("t16 repetition: zero-exchange per-row projection") {
    val p = plan("t16_repetition")
    assertNoCartesian(p, "t16")
    // every signal is per-document: run-length encoding over the sorted
    // gram array per row — no shuffle, no explode, no window, no join
    assert(!p.contains("Exchange"), s"t16 must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"t16 must not explode gram rows:\n$p")
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"t16 must not window-sort:\n$p")
  }

  test("t17 cross-doc coverage: df attaches via gram equi-join, no cartesian") {
    val p = plan("t17_crossdup")
    assertNoCartesian(p, "t17")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"df table must attach via an equi-join on the gram key:\n$p")
  }

  test("t26 span removal: hashed-gram equi-joins, no cartesian, no window") {
    val p = plan("t26_span_removal")
    assertNoCartesian(p, "t26")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"df/keeper stats and loser starts must attach via equi-joins:\n$p")
    assert(p.contains("xxhash64"),
      s"grams must shuffle as 8-byte hashes, not gram strings:\n$p")
    assert(!p.contains("WindowExec"),
      s"keeper selection is groupBy(min), never a window sort:\n$p")
  }

  test("t18 tier: equi-joins only (md5 + gram keys), no window, no cartesian") {
    val p = plan("t18_tier")
    assertNoCartesian(p, "t18")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"keeper/coverage tables must attach via equi-joins:\n$p")
    assert(!p.contains("WindowExec"),
      s"the exact-dup keeper must come from groupBy(md5)+join, not a window:\n$p")
  }

  test("t22 decontamination: benchmark gram set broadcasts, corpus side never shuffles wide") {
    val p = plan("t22_decontam")
    assertNoCartesian(p, "t22")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gram set is tiny vs the corpus and must broadcast:\n$p")
    assert(p.contains("xxhash64"),
      s"corpus grams must join on 8-byte hashes, not gram strings:\n$p")
  }

  test("t23 ingest dedup: left-anti equi-join on the text hash, no cartesian") {
    val p = plan("t23_ingest_dedup")
    assertNoCartesian(p, "t23")
    assert(p.contains("LeftAnti"),
      s"committed-corpus exclusion must be a left-anti equi-join:\n$p")
    assert(p.contains("HashAggregate") || p.contains("partial_min"),
      "within-batch keeper must be a map-side-combinable min per hash")
  }

  test("t30 bloom ingest: bloom predicate pushed to the scans, anti-join only on survivors") {
    val p = plan("t30_bloom_ingest")
    assertNoCartesian(p, "t30")
    // Catalyst pushes the might_contain predicate below the within-batch
    // groupBy (it references only the grouping key), so BOTH union branches
    // filter scan-adjacent — the same placement Spark's InjectRuntimeFilter
    // produces. Each h-group lands wholly in one branch, so per-branch
    // min(doc_id) is exact, and total shuffled rows = one batch pass split
    // across the two branch exchanges.
    val hits = "might_contain".r.findAllIn(p).size
    assert(hits >= 2,
      s"bloom predicate must gate both branches at the source (found $hits):\n$p")
    assert(p.contains("NOT might_contain"),
      s"the definitely-new branch must be the negated bloom filter:\n$p")
    assert("Filter \\(\\d+\\)\\s*\\n[^\\n]*Scan parquet".r.findFirstIn(p).isDefined,
      s"bloom filters must sit directly above the scans (pre-exchange):\n$p")
    assert(p.contains("LeftAnti"),
      s"bloom survivors must still be exact-confirmed by the anti-join:\n$p")
  }

  test("t31 neardup ingest: banded anti-join, no pair materialization, partial-agg survivor count") {
    val p = plan("t31_neardup_ingest")
    assertNoCartesian(p, "t31")
    assert(p.contains("LeftAnti"),
      s"batch bands must anti-join the committed bucket set:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"survivor count must partial-aggregate map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no pairwise scoring anywhere in the plan:\n$p")
  }

  test("t24 tier mix: stateless hash-threshold filter on top of the tier DAG") {
    val p = plan("t24_tier_mix")
    assertNoCartesian(p, "t24")
    assert(!p.contains("WindowExec"),
      s"sampling must be a hash threshold, not a window/row_number:\n$p")
    assert(p.contains("conv(") && p.contains("md5("),
      s"the mix decision must be the seeded md5 threshold (deterministic):\n$p")
  }

  test("d1 host stats: single partial-aggregated groupBy, no join") {
    val p = plan("d1_host_stats")
    assertNoCartesian(p, "d1")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"host rollup must partial-aggregate (hot hosts combine map-side):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"a pure rollup must not plan a join:\n$p")
  }

  test("e12 IVF-PQ: codebook trains via broadcast equi-join, ADC ranks within cells") {
    val p = plan("e12_pq_knn")
    assertNoCartesian(p, "e12")
    assert(p.contains("BroadcastExchange"),
      s"the KB-scale codebook and centroid tables must broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"candidates must meet via the IVF cell equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"ADC top-k must push the partial rank below the exchange:\n$p")
    // codebook training must be the map-side-combinable min(struct(dist,
    // cluster)) shape, never a window over n·ksub rows
    assert(p.contains("min(m") || p.contains("partial_min") || p.contains("min(struct"),
      s"PQ assignment must aggregate min(struct), not rank in a window:\n$p")
  }

  test("e8 IVF-SQ: bounded broadcasts, cell equi-join ranks quantized dots") {
    val p = plan("e8_sq_knn")
    assertNoCartesian(p, "e8")
    assert(p.contains("BroadcastExchange"),
      s"the dim-row range table and centroids must broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"quantized candidates must meet via the cell equi-join:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push the partial rank below the exchange:\n$p")
  }

  test("x9 page tiers: extraction feeds tier rules via equi-joins, no cartesian") {
    val p = plan("x9_page_tiers")
    assertNoCartesian(p, "x9")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"keeper/coverage attach via equi-joins over the extracted corpus:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"the extractor front-end must be the typed per-page transform:\n$p")
  }

  test("e9 components: pair derivation is a cell equi-join; rounds shuffle edges only") {
    // the loop's per-round plan is join(edges, labels) + groupBy — both
    // keyed shuffles; the scale-critical part is the pair derivation
    // (must never be all-pairs) and the loop's plan depth (must stay
    // constant per round — Components re-roots each round's lineage).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairsPlan = graft.sim.Ann.cosineDupPairs(emb, 0.42)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(pairsPlan, "e9 pair derivation")
    assert(pairsPlan.contains("SortMergeJoin") || pairsPlan.contains("BroadcastHashJoin"),
      s"near-dup pairs must meet via the IVF cell equi-join:\n$pairsPlan")
    spark.catalog.clearCache()
    val p = plan("e9_dup_components")
    assertNoCartesian(p, "e9")
    // the final labels table is a re-rooted leaf, not a 2^rounds plan
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"converged labels must be a re-rooted plan leaf:\n$p")
    spark.catalog.clearCache()
  }

  test("x8 span dedup: extraction subtree executes once, behind the cached narrow projection") {
    // the round-3 shape referenced the span projection twice (docFreq
    // groupBy + join) WITHOUT persisting — the extraction mapPartitions
    // subtree executed twice per run. Pin the fixed shape: both legs read
    // one InMemoryRelation and no raw extraction node survives outside it.
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("x8_span_dedup")(spark, sf).queryExecution
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.size == 2,
      s"both legs must read the cached span projection:\n${qe.optimizedPlan}")
    val rawExtraction = qe.optimizedPlan.collect {
      case p if p.nodeName.contains("MapPartitions") => p
    }
    assert(rawExtraction.isEmpty,
      s"the extraction transform must live only inside the cached relation:\n${qe.optimizedPlan}")
    spark.catalog.clearCache()
  }

  test("x3 resume anti-join prunes both scans to the url column") {
    val p = plan("x3_resume_antijoin")
    assert(p.contains("LeftAnti"), s"resume must be a left-anti join:\n$p")
    assertNoCartesian(p, "x3")
  }

  test("extraction scan reads only url+html and pushes no-salt plan shuffle-free") {
    import graft.jobs.{ExtractionJob, JobConfig}
    val pagesPath = graft.pages.PagesTable.ensure(spark, "sf0.001")
    val p = ExtractionJob.planWorkSet(
        spark, JobConfig(pagesPath, "/tmp/pa_out", shuffle = false))
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<url:string,html:binary>"))
    assert(!p.toLowerCase.contains("exchange"))
  }

  test("x11/x13 line curation: pure projections, zero exchanges past extraction") {
    for (q <- Seq("x11_line_filter", "x13_line_dedup")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("exchange"),
        s"$q must stay a per-row projection (no shuffle at any corpus size):\n$p")
      assert(!p.contains("Generate"),
        s"$q must filter inside the line array, not explode it:\n$p")
    }
  }

  test("x17 boilerplate strip: extraction executes once; df table meets via equi-join") {
    // corpusLineDedup consumes its input on three legs (line-DF count,
    // per-doc removal set, rebuild) — all three must read the one cached
    // narrow projection, no raw extraction node outside it, and the
    // boilerplate set must attach via an equi-join (never a broadcast of
    // a corpus-sized line set, never a cartesian).
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("x17_boilerplate_lines")(spark, sf).queryExecution
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.size == 3,
      s"all three legs must read the cached (doc_id, text) projection:\n${qe.optimizedPlan}")
    val rawExtraction = qe.optimizedPlan.collect {
      case p if p.nodeName.contains("MapPartitions") => p
    }
    assert(rawExtraction.isEmpty,
      s"the extraction transform must live only inside the cached relation:\n${qe.optimizedPlan}")
    assertNoCartesian(qe.explainString(FormattedMode), "x17")
    spark.catalog.clearCache()
  }

  test("x12 host cap: rank filter compiles to WindowGroupLimit (skew-proof top-k)") {
    val p = plan("x12_host_cap")
    assertNoCartesian(p, "x12")
    assert(p.contains("WindowGroupLimit"),
      s"per-host cap must push partial top-k below the exchange:\n$p")
  }

  test("e10 kmeans: broadcast centroids, map-side argmin, no window over n*K") {
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("e10_kmeans")(spark, sf).queryExecution
    val p = qe.explainString(FormattedMode)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"every Lloyd round must broadcast the K-row centroid table:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the n-side must never shuffle against centroids:\n$p")
    assert(!p.contains("Window"),
      s"argmin must be the partial-aggregated min(struct), not a window over n*K rows:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"assignment min must combine map-side:\n$p")
    spark.catalog.clearCache()
    // the sampling head on top of the same assignment: per-cluster cap
    // must be a partial top-m (a mega-cluster never lands on one task)
    val ps = SparkEntry.queries("e11_cluster_sample")(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(ps.contains("WindowGroupLimit"),
      s"cluster cap must push partial top-m below the exchange:\n$ps")
    spark.catalog.clearCache()
  }

  test("t27 tfidf: partial top-k, cached tf table, one-row N broadcast") {
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("t27_tfidf")(spark, sf).queryExecution
    val p = qe.explainString(FormattedMode)
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push partial rank below the exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row N aggregate must broadcast, never shuffle the tf side:\n$p")
    // both consumers (df leg + score join) read the cached tf table
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.size == 2,
      s"df leg and score join must both read the cached tf table:\n${qe.optimizedPlan}")
    spark.catalog.clearCache()
  }

  test("g1 host graph: pruned (url,html) scan, partial-aggregated host-pair rollup") {
    val p = plan("g1_host_graph")
    assertNoCartesian(p, "g1")
    assert(p.contains("ReadSchema: struct<url:string,html:binary>"),
      s"edge projection must prune the pages scan to url+html:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"host-pair counts must partial-aggregate (hot hosts combine map-side):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"a pure rollup must not plan a join:\n$p")
  }

  test("g2 anchor stats: rank-1 filter compiles to WindowGroupLimit on the skewed target key") {
    val p = plan("g2_anchor_stats")
    assertNoCartesian(p, "g2")
    assert(p.contains("WindowGroupLimit"),
      s"top-anchor must push partial top-k below the exchange:\n$p")
  }

  test("g3 pagerank iteration: edge-mass equi-join + partial agg + 1-row dangling broadcast") {
    // one step's plan (the loop persists each step; the audited shape is
    // what every iteration pays at 10^12 edges)
    val pages = spark.read.parquet(graft.pages.PagesTable.ensure(spark, "sf0.001"))
    val e = graft.graph.GraphOps.edges(pages)
    val cur = e.select(org.apache.spark.sql.functions.col("src").as("node"))
      .distinct()
      .withColumn("od", org.apache.spark.sql.functions.lit(1L))
      .withColumn("is_seed", org.apache.spark.sql.functions.lit(1))
      .withColumn("mass",
        org.apache.spark.sql.functions.lit(graft.graph.GraphOps.DefaultInitMass))
    val p = graft.graph.GraphOps.pagerankIteration(e, cur, n = 100L, base = 1L)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(p, "g3 iteration")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"mass must meet the edge list via the src equi-join (narrow rows):\n$p")
    assert(p.contains("HashAggregate"),
      s"per-target inflow must partial-aggregate map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the dangling sum is a 1-row aggregate and must return by broadcast:\n$p")
  }

  test("g6 link tiers: the 10^12-row tier side joins endorsement by BROADCAST") {
    // audit linkTiers in isolation (the full g6 plan also carries the
    // extraction + pagerank subtrees): a big tier frame, a per-host
    // feature frame — the bump must broadcast the host side, never
    // exchange the tier table
    val s = spark
    import s.implicits._
    val tiers = s.range(0, 1000)
      .selectExpr("concat('https://h', id % 7, '.org/p', id) AS url",
        "CAST(id % 4 AS INT) AS tier")
    val feats = (0 until 7)
      .map(i => (s"h$i.org", 1L, 1L, 1L, (i + 1) * 1000L))
      .toDF("host", "out_links", "in_links", "in_hosts", "pr_mass")
    val p = graft.graph.GraphOps.linkTiers(tiers, feats)
      .queryExecution.explainString(FormattedMode)
    assertNoCartesian(p, "g6 linkTiers")
    assert(p.contains("BroadcastHashJoin"),
      s"the endorsement join must broadcast the per-host side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the tier table must NOT shuffle for the bump:\n$p")
  }

  test("g7 frontier: targets aggregate BELOW the anti-join, pruned crawled-side scan") {
    val qe = SparkEntry.queries("g7_frontier")(spark, sf).queryExecution
    // logical shape: Catalyst's PushDownLeftSemiAntiJoin must NOT have
    // pushed the anti-join under the aggregate (per-edge rows would hit
    // the join exchange unreduced on the Zipf-skewed target key) — the
    // aggregate lives in the anti-join's LEFT subtree
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val anti = qe.optimizedPlan.collect {
      case j: Join if j.joinType.toString == "LeftAnti" => j }
    assert(anti.nonEmpty, s"frontier must plan a left-anti join:\n${qe.optimizedPlan}")
    assert(anti.exists(_.left.collect { case a: Aggregate => a }.nonEmpty),
      s"targets must aggregate below the anti-join (one narrow row per " +
        s"distinct target crosses, not one per edge):\n${qe.optimizedPlan}")
    val p = qe.explainString(FormattedMode)
    assertNoCartesian(p, "g7")
    assert(p.contains("ReadSchema: struct<url:string>"),
      s"the crawled side must prune to the url column:\n$p")
    assert(p.contains("partial_count"),
      s"in-link counts must partial-aggregate (hot targets combine map-side):\n$p")
  }

  test("x20 templates: one cached html parse, pruned scan, partial-agg cluster count") {
    val p = plan("x20_templates")
    assertNoCartesian(p, "x20")
    // the (url, host, tpl) projection is CacheOnce'd: the cluster-size
    // leg and the join-back leg both read the cache, so the html parse
    // (regexp_extract_all over the decoded payload) runs once
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"the narrow fingerprint projection must be cached:\n$p")
    assert(p.contains("ReadSchema: struct<url:string,html:binary>"),
      s"the pages scan must prune to url+html:\n$p")
    assert(p.contains("partial_count"),
      s"cluster sizes must partial-aggregate on (host, tpl):\n$p")
    assert(!p.contains("Generate"),
      s"the tag array must stay inside the row (no explode):\n$p")
  }

  test("t33 ccnet buckets: windows run over the value histogram, never the documents") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val qe = SparkEntry.queries("t33_ccnet_buckets")(spark, sf).queryExecution
    // every Window's subtree must contain the (lang, avg_bp) histogram
    // Aggregate — a window directly over per-document rows would be the
    // single-partition-sort-per-language plan this operator exists to
    // avoid
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, s"bucket cuts use windows:\n${qe.optimizedPlan}")
    assert(wins.forall(_.child.collect { case a: Aggregate => a }.nonEmpty),
      s"every window must sit ABOVE the histogram aggregate:\n${qe.optimizedPlan}")
    assertNoCartesian(qe.explainString(FormattedMode), "t33")
  }

  test("e17 MRL funnel: shortlist compiles to WindowGroupLimit, cells join as equi-join") {
    val p = plan("e17_mrl_rerank")
    assertNoCartesian(p, "e17")
    assert(p.contains("WindowGroupLimit"),
      s"the per-query shortlist must run as a partial top-k below the exchange:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"probe×home must be a cell equi-join:\n$p")
  }

  test("t34 decontam rewrite: benchmark grams broadcast, corpus side never shuffles wide") {
    val p = plan("t34_decontam_rewrite")
    assertNoCartesian(p, "t34")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the benchmark gram set must broadcast:\n$p")
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,source:string,text"),
      "corpus scan must prune to the used columns")
  }

  test("g10 hits: per-half-step edge joins are shuffle_hash equi-joins with partial aggregation") {
    val p = plan("g10_hits")
    assertNoCartesian(p, "g10")
    // the returned frame is the materialized (node, auth, hub) cache —
    // iterations already ran; assert the final assembly reads the cache
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"hits must hand out the materialized result, not a replan:\n$p")
  }

  test("t35 stratified sample: rank filter compiles to WindowGroupLimit") {
    val p = plan("t35_stratified_sample")
    assertNoCartesian(p, "t35")
    assert(p.contains("WindowGroupLimit"),
      s"quota filter must push a bounded per-task top-k below the exchange:\n$p")
  }

  test("x22 sanitize: per-row projection, zero exchanges") {
    val p = plan("x22_sanitize")
    assert(!p.toLowerCase.contains("exchange"),
      s"sanitization must stay a per-row projection (no shuffle at any corpus size):\n$p")
  }

  test("d2 corpus card: one partial-aggregated exchange on lang; text never shuffles") {
    val p = plan("d2_corpus_card")
    assertNoCartesian(p, "d2")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"the lang rollup must combine map-side:\n$p")
    // distinct-hash expansion shuffles the 32-hex md5, never the text
    assert(!p.contains("Exchange hashpartitioning(text"),
      s"document text must not be a shuffle key:\n$p")
  }

  test("g11 reciprocal: flipped-key self-join reads the cached pair aggregate on both legs") {
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("g11_reciprocal")(spark, sf).queryExecution
    val p = qe.explainString(FormattedMode)
    assertNoCartesian(p, "g11")
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.size == 2,
      s"both join legs must read the CacheOnce'd host-pair aggregate:\n${qe.optimizedPlan}")
    val rawExtraction = qe.optimizedPlan.collect {
      case n if n.nodeName.contains("MapPartitions") ||
        n.nodeName.contains("SerializeFromObject") => n
    }
    assert(rawExtraction.isEmpty,
      s"the edge extraction must live only inside the cached relation:\n${qe.optimizedPlan}")
    spark.catalog.clearCache()
  }

  test("t37 best keeper: struct-max election, no window over the cluster") {
    spark.catalog.clearCache()
    val p = plan("t37_best_keeper")
    assertNoCartesian(p, "t37")
    // the election must be a map-side-combinable aggregate, NOT a window
    // partitioned by component (a template cluster can hold 10^6 docs)
    assert(!p.contains("Window"),
      s"keeper election must not plan a window over the cluster:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"the struct-max election must combine map-side:\n$p")
    spark.catalog.clearCache()
  }

  test("t38 containment pairs: hashed-shingle equi-join, no cartesian") {
    val p = plan("t38_containment_pairs")
    assertNoCartesian(p, "t38")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"the shingle self-join must be an equi-join on the hash:\n$p")
    assert(p.contains("xxhash64"),
      s"shingle strings must hash to 8-byte keys before the join:\n$p")
  }

  test("d3 vocab: global top-k resolves as TakeOrderedAndProject, window only over the k survivors") {
    val p = plan("d3_vocab")
    assertNoCartesian(p, "d3")
    assert(p.contains("TakeOrderedAndProject"),
      s"the vocabulary top-k must be a partial per-task top-k, never a full sort:\n$p")
  }

  test("g12 lpa: final labels read from the materialized cache; no window anywhere") {
    spark.catalog.clearCache()
    val qe = SparkEntry.queries("g12_lpa_communities")(spark, sf).queryExecution
    val p = qe.explainString(FormattedMode)
    assertNoCartesian(p, "g12")
    assert(!p.contains("Window"),
      s"the vote election must be aggregate-based (degree-skew-proof), not a window:\n$p")
    val caches = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(caches.nonEmpty,
      s"the handed-out labels must read the persisted final round:\n${qe.optimizedPlan}")
    // one round's DAG: adjacency joins labels as an equi-join, votes
    // combine map-side (no window over a node's neighbourhood)
    val e = graft.graph.GraphOps.edges(spark.read.parquet(
      graft.pages.PagesTable.ensure(spark, "sf0.001")))
    val round = graft.graph.GraphOps.lpaCommunities(spark, e, rounds = 1)
      .queryExecution.explainString(FormattedMode)
    assert(!round.contains("Window") && !round.contains("CartesianProduct"),
      s"per-round vote plan must stay window-free:\n$round")
    spark.catalog.clearCache()
  }

  test("q4 sessionize: one exchange on the user key; gap flag + cumsum share the sort") {
    val p = plan("q4_sessionize")
    assertNoCartesian(p, "q4")
    // FormattedMode separates node name and arguments: count Exchange
    // nodes in the tree, then pin the one exchange's key
    assert(p.split("Exchange \\(").length - 1 == 1,
      s"sessionize must shuffle once:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"the single exchange must partition on the session key:\n$p")
  }

  test("q5 asof join: union+last pattern — one key exchange, no inequality join") {
    val p = plan("q5_asof_join")
    assertNoCartesian(p, "q5")
    assert(!p.contains("Join"),
      s"the as-of lookup must be the union+window pattern, not a theta-join:\n$p")
    assert(p.split("Exchange \\(").length - 1 == 1,
      s"exactly one exchange for the whole as-of lookup:\n$p")
    assert(p.contains("hashpartitioning(k"),
      s"the single exchange must partition on the union key:\n$p")
  }

  test("q4b chunked sessionize: the WIDE window partitions on (user, chunk), never user alone") {
    val p = plan("q4b_sessionize_chunked")
    assertNoCartesian(p, "q4b")
    // the skew-safety property: the event-volume window's partition key
    // must include the time chunk — a regression back to a user-only
    // partition resurrects the hot-key serial task. The summary-stitch
    // window IS user-only, but it runs over per-(user,chunk) summary
    // rows (post-aggregate), so the plan must show the user-only
    // partitioning only ABOVE an aggregate of the chunked key.
    assert(p.contains("hashpartitioning(user_id#") &&
           p.contains(", chunk#") || p.contains("hashpartitioning(user_id, chunk"),
      s"wide window must key on (user_id, chunk):\n$p")
    // offsets join back on (user_id, chunk): no re-shuffle of the wide
    // side to a different key between window and join
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      s"the offset join must stay an equi-join:\n$p")
  }

  test("q7k 5-step funnel: same window-free chained-min shape at depth 5") {
    val p = plan("q7k_funnel5")
    assertNoCartesian(p, "q7k")
    assert(!p.contains("Window"),
      s"k-step funnel must stay chained min-aggregations at any k:\n$p")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      s"stage joins must stay equi-joins:\n$p")
  }

  test("q7 funnel: all joins equi on the user key, no window over a user's history") {
    val p = plan("q7_funnel")
    assertNoCartesian(p, "q7")
    assert(!p.contains("Window"),
      s"funnel must be chained min-aggregations, not a per-user window:\n$p")
    assert(!p.toLowerCase.contains("broadcastnestedloop"),
      s"stage joins must stay equi-joins:\n$p")
  }

  test("q8 cms: partial count below the exchange; shuffle carries d*w counters, not events") {
    val p = plan("q8_cms_counters")
    assertNoCartesian(p, "q8")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"counter sums must combine map-side:\n$p")
    assert(!p.contains("Exchange hashpartitioning(user_id"),
      s"the raw key column must never be a shuffle key:\n$p")
  }

  test("q9 range join: bin equi-join, never a nested-loop inequality join") {
    val p = plan("q9_range_join")
    assertNoCartesian(p, "q9")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the range lookup must resolve as a bin equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"),
      s"expected a hash-joinable bin key:\n$p")
  }

  test("q6 hll registers: partial max below the exchange; shuffle carries registers, not rows") {
    val p = plan("q6_hll_users")
    assertNoCartesian(p, "q6")
    assert(p.contains("partial_max") || p.contains("Partial"),
      s"register max must combine map-side so the exchange is groups x 2^p rows:\n$p")
    assert(!p.contains("Exchange hashpartitioning(user_id"),
      s"the raw value column must never be a shuffle key:\n$p")
  }
}
