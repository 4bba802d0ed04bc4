package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.CacheOnce.reroot
import graft.web.UrlNorm.hostOf

/** Web-graph operators over the outlink edge list — the host-graph /
  * link-analysis side of a Common-Crawl-style corpus pipeline (crawl
  * frontier stats, per-host curation features, link-based quality
  * signals for tier assignment). Reference scope: layout-parser is
  * single-document and has no link stage; this family sits with the
  * dedup/tiering ops in the "beyond the reference" pipeline surface.
  *
  * Scale stance shared by every op here: the html payload NEVER
  * shuffles. [[edges]] is a zero-exchange projection of the pruned
  * `(url, html)` scan; everything downstream exchanges only narrow
  * `(src, target[, anchor])` edge rows keyed for partial aggregation.
  * Link targets are Zipf-skewed by construction (popular pages), so
  * each aggregate is shaped to survive key skew: counts go through
  * two-phase partial aggregation (hot keys combine map-side), top-1
  * anchors through the rank-1 window that Spark executes as a
  * WindowGroupLimit partial top-k on the map side.
  */
object GraphOps {

  /** One row per href-carrying anchor, in document order:
    * `(src, pos, href, anchor, target)` with `target` resolved against
    * the page url ([[graft.html.Outlinks.resolve]]). Pure per-row
    * projection — zero exchanges; the per-page DOM arena is bounded by
    * page size (the extraction job's memory contract).
    */
  def edges(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select("url", "html").as[(String, Array[Byte])]
      .flatMap { case (u, h) =>
        graft.html.Outlinks.extract(h).map(o =>
          (u, o.pos, o.href, o.anchor, graft.html.Outlinks.resolve(u, o.href)))
      }
      .toDF("src", "pos", "href", "anchor", "target")
  }

  /** Host-level link graph: one row per (source host, destination host)
    * pair with link count, distinct linking pages and distinct targets.
    * The one exchange hashes the narrow host-pair key; the two distinct
    * counts expand to the standard two-phase partial-distinct plan.
    */
  def hostGraph(edges: DataFrame): DataFrame =
    edges
      .select(hostOf(col("src")).as("src_host"),
        hostOf(col("target")).as("dst_host"),
        col("src"), col("target"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src")).as("n_src_pages"),
        countDistinct(col("target")).as("n_targets"))

  /** Reciprocal host-pair links — the link-exchange / link-farm signal
    * (two hosts linking each OTHER is the classic collusion prior spam
    * filters feed on; TrustRank's seed demotion and the quality head
    * both want it as a feature). One row per unordered host pair with
    * both directed counts and their min (the reciprocity strength).
    *
    * Scale shape: the page-level edge list first collapses to directed
    * host-pair counts (one partial-aggregated exchange on the narrow
    * pair key — map-side combine bounds a hot pair to one row per
    * task), and only that aggregate — ≤ |hosts|² rows but in practice
    * the observed pair set, orders of magnitude smaller than the edge
    * list — self-joins on the flipped key. The aggregate is CacheOnce'd
    * so the expensive edge extraction under it runs once, not once per
    * join leg, and the blocks release with the consuming action.
    */
  def reciprocalHosts(edges: DataFrame): DataFrame = {
    val hp = graft.util.CacheOnce(edges
      .select(hostOf(col("src")).as("a"), hostOf(col("target")).as("b"))
      .where(col("a") =!= col("b") && col("a") =!= "" && col("b") =!= "")
      .groupBy("a", "b").agg(count(lit(1)).as("n")))
    val fwd = hp.where(col("a") < col("b"))
    val rev = hp.where(col("a") > col("b"))
      .select(col("b").as("a"), col("a").as("b"), col("n").as("n_rev"))
    fwd.join(rev, Seq("a", "b"))
      .select(col("a").as("host1"), col("b").as("host2"),
        col("n").as("links_fwd"), col("n_rev").as("links_rev"),
        least(col("n"), col("n_rev")).as("reciprocity"))
  }

  /** Per-target anchor-text signal — the classic link-text relevance
    * feature (anchor text describes the TARGET page; at corpus scale it
    * is training-data gold for retrieval / ranking): for every link
    * target, the most common anchor string (ties broken
    * lexicographically — deterministic), its count, and the target's
    * total in-link count. Plan: two-phase count aggregation on
    * (target, anchor), then a rank-1 window Spark runs as a
    * WindowGroupLimit partial top-k — hot targets never funnel all
    * their anchor rows through one reducer unreduced.
    */
  def anchorStats(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = edges.groupBy("target", "anchor").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("target")
    val rankW = w.orderBy(col("cnt").desc, col("anchor").asc)
    counted
      .withColumn("n_links", sum(col("cnt")).over(w))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("target"), col("anchor").as("top_anchor"),
        col("cnt").as("top_n"), col("n_links"))
  }

  /** Weakly-connected components of the host graph (cross-host edges
    * only; every host that appears anywhere is labelled, hosts with no
    * cross-host edges are their own singleton component). Reuses the
    * generic distributed min-label propagation
    * ([[graft.sim.Components.keepers]] — edge-list shuffles only,
    * re-rooted plan per round, loud non-convergence). Output:
    * `(host, component, is_keeper)` with component = min reachable host.
    */
  def hostComponents(spark: SparkSession, edges: DataFrame): DataFrame =
    graft.sim.Components.keepers(spark, hostsOf(edges), crossHostPairs(edges))

  /** Distinct directed `(a, b)` host pairs of the cross-host edges. */
  private def crossHostPairs(edges: DataFrame): DataFrame =
    edges
      .select(hostOf(col("src")).as("a"), hostOf(col("target")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Every host that appears at either end of an edge, once. */
  private def hostsOf(edges: DataFrame): DataFrame =
    edges
      .select(hostOf(col("src")).as("host"))
      .union(edges.select(hostOf(col("target")).as("host")))
      .distinct()

  /** Synchronous label-propagation communities over the host graph
    * (Raghavan et al. 2007) — the DENSITY clustering that complements
    * [[hostComponents]]' connectivity: a weak bridge edge merges two
    * components into one, but LPA keeps the two dense link
    * neighbourhoods (mirror farms, forum rings, syndication cliques)
    * apart — the granularity a curation head samples/caps by. Fixed
    * `rounds` of the deterministic rule: every host simultaneously
    * adopts the most frequent label among its distinct cross-host
    * neighbours, ties broken by MIN label (binary string order);
    * isolated hosts keep their own label. No randomised tie-breaks, no
    * asynchronous order dependence — the result is bit-identical under
    * any partitioning (spec-asserted) and the oracle unrolls the same
    * rounds in SQL.
    *
    * Scale shape, per round: one equi-join of the undirected adjacency
    * with the current (host, label) table on the neighbour key, then
    * THREE map-side-combinable aggregates — (v, label) counts, per-v max
    * count, min winning label — and a left-join back onto the host
    * universe. No window over a node's neighbourhood anywhere: a
    * 10^7-degree hub's votes combine partially within every task before
    * the exchange, so degree skew never concentrates on one reducer.
    * The adjacency is hash-clustered on the neighbour key once and
    * cached (only the narrow label table moves per round); each round's
    * labels are persisted and materialized before the previous release,
    * keeping the lineage one round deep — [[pagerank]]'s idiom exactly.
    */
  def lpaCommunities(spark: SparkSession, edges: DataFrame,
                     rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val hp = crossHostPairs(edges)
    // distinct AFTER symmetrization: if the crawl holds both directions
    // of a pair, the two swap legs would otherwise double a neighbour's
    // vote (votes are per distinct neighbour host, unweighted)
    val und = hp.select(col("a").as("v"), col("b").as("u"))
      .union(hp.select(col("b").as("v"), col("a").as("u")))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count() // materialize before the per-round joins branch off it
    val hosts = hostsOf(edges).persist(StorageLevel.MEMORY_AND_DISK)
    var cur = hosts.select(col("host"), col("host").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cur.count() // also materializes `hosts` (same job scans it)
    var it = 0
    while (it < rounds) {
      val votes = und
        .join(cur.select(col("host").as("u"), col("label")), "u")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
      val top = votes.groupBy("v").agg(max(col("cnt")).as("mx"))
      val won = votes.join(top, "v")
        .filter(col("cnt") === col("mx"))
        .groupBy("v").agg(min(col("label")).as("label"))
      // re-rooted: the vote chain references `votes` twice (max leg +
      // winner join)
      val next = reroot(hosts
        .join(won.withColumnRenamed("v", "host"), Seq("host"), "left")
        .select(col("host"), coalesce(col("label"), col("host")).as("label")))
      next.count() // materialize before releasing the labels it reads
      cur.unpersist()
      cur = next
      it += 1
    }
    und.unpersist()
    hosts.unpersist()
    // persisted + materialized: hand out with a one-shot release so the
    // caller's first action reads cached blocks and then frees them
    graft.util.CacheOnce.release(cur)
      .select(col("host"), col("label").as("community"))
  }

  /** Per-node mass used by [[pagerank]] at iteration 0. 10^12 per node:
    * big enough that 3–5 iterations of 15%/85% integer splits keep ~9
    * significant digits, small enough that the total (n × 10^12) stays
    * inside Long up to n ≈ 9×10^6 nodes per mass-sum — and the per-sum
    * bound is what matters: sums are per-target (in-degree-bounded) and
    * one global dangling sum, which at 10^12 nodes would be re-scaled
    * (initMass = 10^6) by the caller; the parameter exists for exactly
    * that. */
  val DefaultInitMass: Long = 1000000000000L

  /** Default per-node mass for [[hits]] — smaller than PageRank's
    * because HITS half-step sums are degree-amplified (see the
    * overflow bound in [[hits]]'s doc). */
  val DefaultHitsMass: Long = 100000000L

  /** Fixed-iteration PageRank over `edges(src, target)` in EXACT integer
    * arithmetic — every mass transfer is a Long floor-division
    * (`mass * 85 div 100 div outdeg`), so the result is bit-identical
    * regardless of partitioning, join order, or engine (the DuckDB
    * oracle replays it with `//`): a deterministic link-quality score
    * for tier assignment, not a float that drifts with aggregation
    * order. Semantics per iteration, damping fixed at 0.85:
    *
    *   mass'(v) = initMass·15/100
    *            + Σ_{u→v} (mass(u)·85/100) div outdeg(u)   [per EDGE —
    *              parallel edges count twice, like the random surfer]
    *            + (Σ_{dangling u} mass(u)·85/100) div n    [dangling mass
    *              redistributed uniformly]
    *
    * (floor remainders are dropped — bounded by 1 unit per term, i.e. a
    * 10^-12 relative quantization, the documented price of exactness).
    *
    * Plan shape per iteration: one equi-join of the edge list with the
    * current mass table on `src` (both sides narrow), one partial-
    * aggregated groupBy on `target`, one 1-row dangling aggregate
    * broadcast back via crossJoin — nothing quadratic, no driver-side
    * graph, no floats. Each iteration's result is persisted and
    * materialized before the previous is released, so the lineage stays
    * one iteration deep (at tens of iterations a checkpoint would
    * replace the persist; 3–5 iterations is the curation-signal
    * regime). The returned frame is small (one row per node) and left
    * unpersisted.
    */
  def pagerank(spark: SparkSession, edges: DataFrame, iterations: Int = 3,
               initMass: Long = DefaultInitMass): DataFrame =
    personalizedRank(edges, None, iterations, initMass)

  /** TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004): PageRank
    * personalized to a trusted seed set — trust flows OUT of the seeds
    * along links, so spam farms that rank well under uniform teleport
    * score near zero here; the curation signal web-scale pipelines pair
    * with [[pagerank]] (keep high-PR, demote high-PR/low-trust). Same
    * EXACT integer arithmetic and per-iteration plan shape as
    * [[pagerank]]; the three personalization changes:
    *
    *   - iteration 0: mass = initMass on seed nodes, 0 elsewhere;
    *   - teleport: initMass·15/100 lands ONLY on seeds (per-seed `base`,
    *     total = 15% of the stationary total nSeeds·initMass);
    *   - dangling mass: redistributed over the SEEDS (div nSeeds), not
    *     all nodes.
    *
    * `seeds` is a 1-column (node) whitelist — in production the curated
    * trusted-host list (10⁴–10⁶ rows: joined once, broadcast by
    * Catalyst, and the seed flag rides the persisted mass table so
    * iterations never re-join it). Seeds that appear in no edge
    * contribute teleport mass but nothing flows to them — harmless.
    * Returns (node, mass) like [[pagerank]]. */
  def trustRank(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                iterations: Int = 3,
                initMass: Long = DefaultInitMass): DataFrame =
    personalizedRank(edges, Some(seeds), iterations, initMass)

  /** The loop [[pagerank]] and [[trustRank]] share: mass starts on the
    * seeds, teleport and dangling mass land on the seeds only, and
    * PageRank is the case where every node is a seed (`seeds = None`:
    * the flag is a literal, so that plan gains no seed join). */
  private def personalizedRank(edges: DataFrame, seeds: Option[DataFrame],
                               iterations: Int, initMass: Long): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // the edge list is THE big table here (10^12 rows at corpus scale):
    // hash-cluster it on the join key ONCE and cache that layout — every
    // iteration's edge–mass join then reuses the cached partitioning
    // (only the small mass table moves per round), and the per-src
    // outdeg aggregation combines within partitions exchange-free
    val e = edges.select(col("src"), col("target"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the narrow edge cache BEFORE it branches: deg + the
    // two union legs of `nodes` all scan `e` inside one job, and racing
    // legs each re-run the upstream projection (the DOM parse, for
    // page-derived edges) instead of finding cached blocks — measured
    // 27.6 s → 8 s at sf0.1 from this one pass ordering
    e.count()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("od"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("target").as("node")))
      .distinct()
    val withDeg = nodes.join(deg, Seq("node"), "left")
    val flagged = seeds.fold(withDeg.withColumn("is_seed", lit(1))) { s =>
      withDeg.join(s.select(col("node")).distinct().withColumn("is_seed", lit(1)),
        Seq("node"), "left")
    }
    var cur = flagged
      .select(col("node"), coalesce(col("od"), lit(0L)).as("od"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"),
        when(col("is_seed") === 1, lit(initMass)).otherwise(lit(0L)).as("mass"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the seed count is one scalar off the just-persisted node table (the
    // same pass that materializes it) — constant across iterations
    val n = cur.agg(coalesce(sum(col("is_seed")), lit(0L))).head.getLong(0)
    require(n > 0 || seeds.isEmpty,
      "trustRank needs at least one seed present in the graph")
    val base = initMass * 15L / 100L
    var it = 0
    while (it < iterations) {
      // re-rooted: the iteration references `cur` three times (contrib
      // join, dangling aggregate, carry-through select)
      val next = reroot(pagerankIteration(e, cur, n, base))
      next.count() // materialize before releasing the input it reads
      cur.unpersist()
      cur = next
      it += 1
    }
    e.unpersist()
    // the final iteration's table is already persisted + materialized;
    // hand it out with a one-shot release so the caller's first action
    // reads the cached blocks and then frees them (no session-lifetime
    // cache, no caller-side clearCache contract)
    graft.util.CacheOnce.release(cur).select("node", "mass")
  }

  /** One personalized PageRank step over `cur(node, od, is_seed, mass)`,
    * with `n` seeds each taking `base` teleport mass and an equal share
    * of the dangling mass — separated so the plan-audit suite can pin
    * its physical shape: the edge–mass equi-join on `src` (narrow rows
    * both sides), the map-side-combined groupBy on `target`, and the
    * 1-row dangling aggregate returning as a BroadcastNestedLoopJoin
    * (constant-size build side by construction). */
  private[graft] def pagerankIteration(e: DataFrame, cur: DataFrame,
                                       n: Long, base: Long): DataFrame = {
    val contrib = e.join(cur.hint("shuffle_hash"), e("src") === cur("node"))
      .select(col("target").as("node"),
        expr("mass * 85 div 100 div od").as("c"))
      .groupBy("node").agg(sum(col("c")).as("in_mass"))
    val dangling = cur.filter(col("od") === 0L)
      .agg(coalesce(sum(expr("mass * 85 div 100")), lit(0L)).as("ds"))
    cur.select("node", "od", "is_seed")
      .join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(dangling))
      .select(col("node"), col("od"), col("is_seed"),
        (coalesce(col("in_mass"), lit(0L)) +
          when(col("is_seed") === 1,
            lit(base) + expr(s"ds div ${n}L")).otherwise(lit(0L)))
          .as("mass"))
  }

  /** HITS (Kleinberg 1999) hubs & authorities, integer-exact: the
    * link-analysis complement to [[pagerank]]/[[trustRank]] a curation
    * stack uses to separate DIRECTORY pages (high hub — link lists,
    * nav hubs, crawl seeds) from CONTENT pages (high authority — what a
    * training corpus wants to keep). One mutual-reinforcement round is
    * auth(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} auth(v), each
    * renormalised; multi-edges count per edge, exactly like the
    * PageRank family's edge semantics.
    *
    * Exactness: classic HITS L2-normalises, which no integer scheme
    * replays. Here each half-step renormalises by FLOOR-dividing every
    * raw sum by `max(1, rawTotal div (n·initMass))` — the mass total
    * stays ≈ n·initMass, every operation is Long floor arithmetic, and
    * the result is bit-identical under any partitioning (sums are
    * order-free, the scale factor is a 1-row aggregate). Nothing is
    * multiplied back up, so the only overflow surface is the raw
    * half-step SUM, bounded by `maxdeg · n · initMass` (each edge
    * contributes one endpoint's mass, masses total ≈ n·initMass and a
    * degree-d node is counted d times). Hence [[DefaultHitsMass]] =
    * 10⁸, not PageRank's 10¹²: the bound must stay under 2⁶³, and the
    * caller shrinks `initMass` further for graphs where
    * `n · maxdeg > ~10¹¹` (precision degrades gracefully — mass
    * resolution is 1 part in initMass per node on average). Spark's
    * ANSI mode turns any miscalibration into a loud
    * ARITHMETIC_OVERFLOW, never a silent wrap.
    *
    * Plan/scale shape: identical per-iteration skeleton to [[pagerank]]
    * — the big edge table is hash-clustered on each join key once
    * (persisted narrow, html never shuffles), each half-step is one
    * shuffle_hash equi-join (edges × current mass) + a two-phase partial
    * aggregate on the other endpoint, and the 1-row total returns as a
    * broadcast. Zero-degree nodes never enter the iteration (zero
    * contributes nothing) and are restored by the final left joins.
    * Returns `(node, auth, hub)` over every edge endpoint. */
  def hits(spark: SparkSession, edges0: DataFrame, iterations: Int = 2,
           initMass: Long = DefaultHitsMass): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // TWO narrow edge caches, one hash-clustered per join key: the auth
    // half-step joins on src, the hub half-step on target — with one
    // layout every other half-step reshuffles the whole edge list per
    // round; eTgt derives from the materialized eSrc cache, so the
    // (expensive, DOM-parsing) upstream runs exactly once
    val eSrc = edges0.select(col("src"), col("target"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    eSrc.count()
    val eTgt = eSrc.repartition(col("target"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eSrc.select(col("src").as("node"))
      .union(eSrc.select(col("target").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    // renormalise raw(node) sums so the total returns to ≈ n·initMass:
    // raw div max(1, total div (n·initMass)) — all Long, no blow-up.
    // `raw` is persisted so the 1-row total and the renormalised output
    // read ONE execution of the join+aggregate (the broadcast leg runs
    // first and populates the cache; the probe leg reads it), released
    // as soon as the output materializes.
    def renorm(raw0: DataFrame, valCol: String): DataFrame = {
      val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
      val tot = raw.agg(coalesce(sum(col(valCol)), lit(0L)).as("tot"))
      // re-rooted: the crossJoin references `raw` on BOTH legs — measured
      // 340 s for 2 iterations at sf0.1 on an already-cached edge list
      // without it, vs ~8 s re-rooted (the data work per half-step is
      // ~2 s; the rest was the optimizer)
      val out = reroot(raw.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"$valCol div greatest(1L, tot div ${n}L div ${initMass}L)")
            .as(valCol)))
      out.count()
      raw.unpersist()
      out
    }
    var hub = nodes.select(col("node"), lit(initMass).as("hub"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    hub.count()
    var auth: DataFrame = null
    var it = 0
    while (it < iterations) {
      val nextAuth = renorm(
        eSrc.join(hub.hint("shuffle_hash"), eSrc("src") === hub("node"))
          .groupBy(col("target").as("node")).agg(sum(col("hub")).as("auth")),
        "auth")
      if (auth != null) auth.unpersist()
      auth = nextAuth
      val nextHub = renorm(
        eTgt.join(auth.hint("shuffle_hash"), eTgt("target") === auth("node"))
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub")),
        "hub")
      hub.unpersist()
      hub = nextHub
      it += 1
    }
    eSrc.unpersist(); eTgt.unpersist()
    val out = nodes
      .join(auth, Seq("node"), "left")
      .join(hub, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("auth"), lit(0L)).as("auth"),
        coalesce(col("hub"), lit(0L)).as("hub"))
    // materialize through the persisted legs, then free them; hand out
    // with a one-shot release so the caller's first action reads the
    // cached rows and frees them (pagerank's contract)
    val res = out.persist(StorageLevel.MEMORY_AND_DISK)
    res.count()
    nodes.unpersist(); auth.unpersist(); hub.unpersist()
    graft.util.CacheOnce.release(res)
  }

  /** Host-level link-quality features — the curation feature table a
    * web-text pipeline joins into tier assignment (domain-level signals,
    * the granularity real curation stacks filter at: individual corpus
    * pages are rarely link TARGETS, their hosts are): one row per host
    * appearing anywhere in the link graph, with
    * `(out_links, in_links, in_hosts, pr_mass)` where `pr_mass` is the
    * sum of [[pagerank]] node mass over the host's nodes — integer-exact,
    * so the whole frame is bit-stable under any partitioning.
    *
    * Plan/scale shape: the narrow `(src, target)` edge list is persisted
    * ONCE and feeds all three consumers (the PageRank iterations, the
    * out-link and in-link rollups) — the html payload is parsed exactly
    * once and never shuffles; every rollup is a two-phase partial
    * aggregate on the host key (hot hosts combine map-side); the final
    * assembly left-joins the per-host frames, each at most one row per
    * host (the host set comes from the PageRank node table, which covers
    * every edge endpoint by construction). The edge cache self-releases
    * via [[graft.util.CacheOnce.release]] on the first consuming action.
    */
  def hostLinkFeatures(spark: SparkSession, edges0: DataFrame,
                       iterations: Int = 3,
                       initMass: Long = DefaultInitMass): DataFrame = {
    val e = edges0.select(col("src"), col("target"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count() // one materialized parse pass shared by all three consumers
    // pagerank's internal actions read the cached blocks; release must be
    // registered AFTER them so the one-shot listener fires on the
    // caller's consuming action (which runs the out/in rollup legs)
    val pr = pagerank(spark, e, iterations, initMass)
    graft.util.CacheOnce.release(e)
    val out = e.select(hostOf(col("src")).as("host"))
      .groupBy("host").agg(count(lit(1)).as("out_links"))
    val in = e.select(hostOf(col("src")).as("src_host"),
        hostOf(col("target")).as("host"))
      .groupBy("host").agg(count(lit(1)).as("in_links"),
        countDistinct(col("src_host")).as("in_hosts"))
    val mass = pr.select(hostOf(col("node")).as("host"), col("mass"))
      .groupBy("host").agg(sum(col("mass")).as("pr_mass"))
    mass.join(out, Seq("host"), "left")
      .join(in, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_links"), lit(0L)).as("out_links"),
        coalesce(col("in_links"), lit(0L)).as("in_links"),
        coalesce(col("in_hosts"), lit(0L)).as("in_hosts"),
        col("pr_mass"))
  }

  /** Link-aware tier assignment — the capstone joining the web-graph
    * family into the curation head: a text-derived tier table
    * (`(url, tier, …)` from [[graft.text.TextOps.tierAssign]]) is bumped
    * one level (mid→high, tier 2→3) for pages on link-ENDORSED hosts.
    * "Endorsed" is scale-free and integer-exact: the host's PageRank
    * mass is at least 2× the mean host mass, tested as
    * `pr_mass >= 2 * (total_mass div n_hosts)` — Long floor-division,
    * no floats, so the DuckDB oracle replays it bit-for-bit (the floor
    * shifts the threshold by at most 2 units in 10^12). Rejects
    * (tier 0/1) are never promoted: link popularity does not
    * rehabilitate duplicate or garbage TEXT, it only breaks ties among
    * acceptable documents — the same stance as production url-level
    * quality buckets.
    *
    * Scale shape: the host-feature frame is one row per host — tiny next
    * to the tier table — so the global (n_hosts, total_mass) aggregate is
    * a 1-row broadcast and the endorsement join BROADCASTS the host side;
    * the 10^12-row tier table never shuffles here. Long bound: the
    * largest product is `2 × total_mass ≈ 2 × n_nodes × initMass` —
    * the same regime as [[pagerank]]'s own mass sums; past ~4×10^6
    * nodes callers pass the re-scaled `initMass` exactly as there.
    */
  def linkTiers(tiers: DataFrame, hostFeatures: DataFrame): DataFrame = {
    val stats = hostFeatures.agg(count(lit(1)).as("n_hosts"),
      sum(col("pr_mass")).as("total_mass"))
    val endorsed = hostFeatures.select(col("host"), col("pr_mass"))
      .crossJoin(broadcast(stats))
      .select(col("host"),
        (col("pr_mass") >= lit(2L) * expr("total_mass div n_hosts"))
          .as("endorsed"))
    // non-(url,tier) input columns pass through untouched, so callers
    // like TierJob keep their provenance columns (`reasons`)
    val passthrough = tiers.columns
      .filterNot(c => c == "url" || c == "tier").toSeq.map(col)
    tiers.withColumn("host", hostOf(col("url")))
      .join(broadcast(endorsed), Seq("host"), "left")
      .select(col("url") +: passthrough :+
        col("tier").as("text_tier") :+
        coalesce(col("endorsed"), lit(false)).as("endorsed") :+
        when(col("tier") === 2 && coalesce(col("endorsed"), lit(false)),
          lit(3)).otherwise(col("tier")).as("tier"): _*)
  }

  /** Crawl frontier — the discovered-but-uncrawled url set with its
    * link-demand signal, the table a crawl scheduler ranks the next
    * fetch batch from: one row per link target ABSENT from the crawled
    * page set, with total in-link count and distinct linking hosts
    * (`(target, in_links, in_hosts)`). Distinct-host demand is the
    * scheduler-grade signal: one host linking a url 10⁴ times is nav
    * boilerplate, 10⁴ hosts linking it once is a page worth crawling.
    *
    * Plan/scale shape — the operand order is the point: the per-edge
    * rows AGGREGATE FIRST (two-phase partial aggregation on the
    * Zipf-skewed target key, hot targets combine map-side), so the
    * anti-join against the crawled set moves one narrow row per
    * DISTINCT target instead of one per edge. Catalyst's
    * PushDownLeftSemiAntiJoin rule would undo that order (it pushes an
    * anti-join whose condition touches only grouping columns below the
    * aggregate, costlessly — at 10^12 edges the per-edge rows would
    * then hit the join exchange UNREDUCED, and a hot target's whole
    * in-link list would funnel to one reducer); the trivially-true
    * `in_links >= 1` conjunct references an aggregate OUTPUT, which
    * makes that pushdown illegal and pins the aggregate below the
    * join. The anti-join itself then exchanges only url strings (the
    * pages side prunes to its url column). Production callers
    * canonicalize both sides first ([[graft.web.UrlNorm.canonical]],
    * exercised as x16) — this corpus's urls are already canonical. */
  def frontier(edges: DataFrame, pages: DataFrame): DataFrame = {
    val agg = edges.select(col("target"), hostOf(col("src")).as("src_host"))
      .groupBy("target")
      .agg(count(lit(1)).as("in_links"),
        countDistinct(col("src_host")).as("in_hosts"))
    agg.join(pages.select(col("url")),
      agg("target") === col("url") && col("in_links") >= 1L, "left_anti")
  }

  /** Host-level quality prior from the text-tier table — the other half
    * of the host curation board next to [[hostLinkFeatures]]: real
    * curation stacks keep a per-domain quality history (a host whose
    * pages keep landing in the reject tier gets deprioritized at CRAWL
    * time, before its bytes are ever fetched again). One row per host:
    * doc count, per-tier counts, and `quality_bp` — the basis-point
    * share of mid+high documents, as integer floor-division
    * (`10000·(n_mid+n_high) div n_docs`) so the score is bit-stable
    * under any partitioning and the oracle replays it exactly.
    *
    * Scale shape: input is the narrow `(url, tier)` frame (the html
    * payload stayed in the extraction job); one two-phase partial
    * aggregation on the host key — the per-tier counts are conditional
    * sums inside the same aggregate, not four self-joins. */
  def hostQuality(tiers: DataFrame): DataFrame = {
    def tierCount(t: Int, as: String) =
      sum(when(col("tier") === t, lit(1L)).otherwise(lit(0L))).as(as)
    tiers.select(hostOf(col("url")).as("host"), col("tier"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        tierCount(0, "n_reject"), tierCount(1, "n_low"),
        tierCount(2, "n_mid"), tierCount(3, "n_high"))
      .withColumn("quality_bp",
        expr("10000 * (n_mid + n_high) div n_docs"))
  }
}
