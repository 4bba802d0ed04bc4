package graft

import org.apache.spark.sql.functions._
import graft.jobs.{ExtractionJob, JobConfig, TierJob}
import graft.jobs.MetricsSink.{decimal, quoted}
import graft.pages.PagesTable

/** Benchmark main: headline queries + extraction throughput on
  * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] (default: every available
  * processor).
  *
  * Prints ONE JSON line:
  *   {"metric":"total","value":<sec>,"unit":"sec",
  *    "queries":{...per-query sec...,"extract_docs_per_sec":N},"sf":"..."}
  *
  * Measurement policy:
  *  - a single-threaded host-state probe (`host_probe_mops`) runs first
  *    and is reported, so every figure can be read against the host's
  *    current throttling state (BASELINE.md publishes the band + probe).
  *  - extraction runs SPARK_GRAFT_REPS (default 3) full passes into fresh
  *    output dirs and reports the BEST — the 100 TB job runs at steady
  *    state for hours; a cold page cache or JIT ramp on rep 1 is harness
  *    noise, not engine cost (the round-1 driver figure of 1.3k docs/s vs
  *    6.5–7.3k reproduced here was exactly that noise).
  *  - `e1_knn_exact` (the deliberate O(n²) oracle baseline) is measured
  *    but reported under `baseline_` keys and EXCLUDED from the headline
  *    total, so regressions in the scale-path queries stay visible.
  *  - `e2_recall_at_5` reports the IVF index's recall against the exact
  *    top-5 — an approximate index without a measured recall is not done.
  *  - `t7_jaccard_capped` is the jaccard query with the document-frequency
  *    guard ON (maxDf=100) — the corpus-scale configuration; the unguarded
  *    t7 stays for oracle parity.
  *  - the session runs under `ExtractMain`'s SQL conf
  *    ([[Sessions.ExtractionSql]]), as the production job does.
  *
  * Scaling evidence (N vs 4N executors, BASELINE.md protocol): run twice —
  *   SPARK_GRAFT_CPUS=8 ... graft.Bench   (N)
  *   SPARK_GRAFT_CPUS=32 ... graft.Bench  (4N)
  * on the same sf dir and compare extract_docs_per_sec.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt

    // Host-state probes: the VM throttles under sustained load and
    // recovers when idle (BASELINE.md, 731→557 pages/s over 10 min on one
    // binary), so every figure in this run is read against them — one
    // thread for turbo state, one per vCPU for the multi-core cap that
    // `hostStamp` re-samples before each long phase.
    val probeMops = HostProbe.stProbe()
    val probeMt = HostProbe.mtProbe(cpus)
    val spark = Sessions.get("graft-bench", Sessions.ExtractionSql)

    val sfName = new java.io.File(sfDir).getName
    val pagesPath = PagesTable.ensure(spark, sfName)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val extras = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Adjacent host stamp (round 5, closing the r4 capped-tail gap): a
    // fresh multi-core probe + a short e1-style pure-compute control
    // (exact cosine knn on a deterministic ~1/16 slice — ~1/256 of the
    // baseline e1's cost), emitted into the same JSON line under
    // `<prefix>_` keys. Each long phase takes its own stamp IMMEDIATELY
    // before it runs, so any figure over band is attributable (host cap
    // vs regression) from the line alone — the treatment tier_job got in
    // r4, now also bracketing the heavy extras (e12..g12) and the e1
    // baseline, whose r4 readings were capped by the run's own tail.
    def hostStamp(prefix: String): Unit = {
      extras += s"${prefix}_probe_mt_mops" -> decimal(HostProbe.mtProbe(cpus), 1)
      val (_, ctlSec) = time {
        graft.sim.Ann.cosineKnn(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") % 16 === 0), k = 5)
          .write.mode("overwrite").format("noop").save()
      }
      extras += s"${prefix}_control_sec" -> decimal(ctlSec, 3)
      spark.catalog.clearCache()
    }

    // JIT warmup: one extraction pass over ~5% of the docs, plus one
    // Outlinks pass over the same slice — the graph family's tuple
    // pipeline JITs separately from Extractor (measured: a cold
    // GraphOps.edges rep costs 70+ s at sf0.1 vs ~3.4 s steady-state, and
    // best-of-2 alone only reached rep-2 territory, 5–9 s)
    locally {
      val sample = spark.read.parquet(pagesPath).select("url", "html")
        .limit((PagesTable.rowsFor(sfName) / 20).toInt.max(500))
      ExtractionJob.extract(sample).write.mode("overwrite").format("noop").save()
      graft.graph.GraphOps.edges(sample)
        .write.mode("overwrite").format("noop").save()
    }

    // extraction throughput: fresh out dir each rep (no resume skip); best-of
    val nDocs = PagesTable.rowsFor(sfName)
    val extractSec = (1 to reps).map { rep =>
      val outPath = java.nio.file.Files.createTempDirectory(s"graft_bench_$rep").toString
      val (_, sec) = time {
        ExtractionJob.run(spark, JobConfig(pagesPath, outPath, runId = s"bench$rep"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outPath))
      sec
    }.min
    results += "extract" -> extractSec
    val docsPerSec = nDocs / extractSec

    // headline scale-path queries
    val headline = Seq(
      "t5_minhash", "t6_simhash", "t7_jaccard_pairs", "t11_lsh_pairs",
      "t14_simhash_pairs", "t15_winnow", "t16_repetition", "t17_crossdup",
      "t18_tier", "t22_decontam", "e2_knn_ivf", "e4_cosine_dups", "e6_srp_dups", "e8_sq_knn",
      "e9_dup_components", "s1_script", "q1_agg", "q3_window")
    for (name <- headline; fn <- SparkEntry.queries.get(name)) {
      val (_, sec) = time {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      results += name -> sec
      // the IVF queries persist their assignment internally; drop it so
      // cached blocks don't accumulate across the bench loop
      if (name.startsWith("e")) spark.catalog.clearCache()
    }

    // corpus-scale jaccard configuration (DF guard on)
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val (_, sec) = time {
        graft.text.TextOps.jaccardPairs(docs, maxDf = 100)
          .write.mode("overwrite").format("noop").save()
      }
      results += "t7_jaccard_capped" -> sec
    }

    // corpus-scale simhash configuration: 60-bit signature, 4 bands
    // (32 768 buckets/band vs the oracle config's 256 — the per-bucket
    // fanout guard at 10⁹ docs); same banded equi-join plan as t14
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val (_, sec) = time {
        graft.text.TextOps.simhashPairs(docs, maxHamming = 3, bits = 60, bands = 4)
          .write.mode("overwrite").format("noop").save()
      }
      results += "t14_wide" -> sec
    }

    // past-the-cap scale path: hierarchical (coarse->fine) IVF — the
    // assignment strategy for >4096-cell corpora; measured at the same
    // k/effective-coverage as e2
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val (_, sec) = time {
        graft.sim.Ann.ivfKnnHierarchical(emb, k = 5)
          .write.mode("overwrite").format("noop").save()
      }
      results += "e2h_knn_ivf_hier" -> sec
      spark.catalog.clearCache()
    }

    // adjacent host evidence for the extras phase (see hostStamp doc)
    hostStamp("extras_pre")

    // a board query's best time over `reps` runs, each followed by a
    // cache drop. The link-graph queries (g1/g3/g10/g11/g12) take the
    // best of 2 because the Outlinks/DOM tuple pipeline JITs on first
    // use (the extraction warmup warms Extractor, not that path) — rep 1
    // measures compiler ramp, not the operator
    def timedQuery(name: String, reps: Int = 1): String = {
      val best = (1 to reps).map { _ =>
        val (_, sec) = time {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
        }
        spark.catalog.clearCache()
        sec
      }.min
      decimal(best, 3)
    }

    // PQ memory path (round 4): IVF-PQ codebook training + ADC ranking —
    // reported OUTSIDE the headline total (composition frozen to the r04
    // scale-path set, BASELINE.md)
    extras += "e12_pq_knn" -> timedQuery("e12_pq_knn")

    // persisted PQ model (round 5): e12's lifecycle split — one-time
    // model build (ranges + codebook + centroids + cell-partitioned
    // codes through TableIO) vs a 64-query serving batch against the
    // frozen model. The query figure belongs in e14_index_query64's cost
    // class: zero training flops, DPP-pruned codes scan.
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_bench_e18").toString
      val (_, buildSec) = time {
        graft.sim.PqIndex.build(spark, emb, graft.io.ParquetTableIO, root)
      }
      extras += "e12_model_build" -> decimal(buildSec, 3)
      val batch = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 64)
      val (_, querySec) = time {
        graft.sim.PqIndex.query(spark, graft.io.ParquetTableIO, root, batch, k = 5)
          .write.mode("overwrite").format("noop").save()
      }
      extras += "e12_query64" -> decimal(querySec, 3)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      spark.catalog.clearCache()
    }

    // two-stage retrieval (round 4): e12's ADC chain at shortlist 20 +
    // exact-cosine re-rank; outside the frozen headline total
    extras += "e13_pq_rerank" -> timedQuery("e13_pq_rerank")

    // MRL funnel retrieval (round 4): prefix-dim shortlist + exact
    // re-rank, the training-free counterpart of e13; outside the total
    extras += "e17_mrl_rerank" -> timedQuery("e17_mrl_rerank")

    // persisted IVF (round 4): build-once / query-many split — the index
    // build (one corpus pass + cell-partitioned rewrite) and a small
    // 64-query batch against it (dynamic-partition-pruned scan). Outside
    // the frozen headline total; the QUERY figure is the serving-path
    // number (reads nprobe/cells of the corpus, not the corpus).
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_bench_e14").toString
      val (_, buildSec) = time {
        graft.sim.AnnIndex.build(spark, emb, graft.io.ParquetTableIO, root)
      }
      extras += "e14_index_build" -> decimal(buildSec, 3)
      val batch = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 64)
      val (_, querySec) = time {
        graft.sim.AnnIndex.query(spark, graft.io.ParquetTableIO, root, batch, k = 5)
          .write.mode("overwrite").format("noop").save()
      }
      extras += "e14_index_query64" -> decimal(querySec, 3)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      spark.catalog.clearCache()
    }

    // SemDeDup (round 4): k-means + within-cluster semantic prune;
    // outside the frozen headline total
    extras += "e15_semdedup" -> timedQuery("e15_semdedup")

    // DSIR importance weights (round 4): one corpus feature pass +
    // broadcast rate join; outside the frozen headline total
    extras += "t32_importance" -> timedQuery("t32_importance")

    // web-graph family (round 4): the zero-exchange edge projection +
    // host-pair aggregation, and the 3-iteration integer-exact PageRank.
    // Reported OUTSIDE the headline total — the total's composition is
    // frozen to the r04 scale-path set (BASELINE.md).
    extras += "g1_host_graph" -> timedQuery("g1_host_graph", reps = 2)
    extras += "g3_pagerank" -> timedQuery("g3_pagerank", reps = 2)

    // round-4 session additions — all outside the frozen headline total.
    // x20: one pruned pages scan + narrow (host,tpl) aggregate+join;
    // g10: 2-round integer HITS; t33: LM-score + langid passes,
    // histogram-cut buckets; e16: the INGEST path only — append a 25%
    // batch to a prebuilt index (build untimed: e14_index_build already
    // reports it)
    extras += "x20_templates" -> timedQuery("x20_templates")
    extras += "g10_hits" -> timedQuery("g10_hits", reps = 2)
    extras += "t33_ccnet_buckets" -> timedQuery("t33_ccnet_buckets")
    locally {
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_bench_e16").toString
      graft.sim.AnnIndex.build(spark, emb.filter(col("vec_id") % 4 =!= 0),
        graft.io.ParquetTableIO, root)
      val (_, sec) = time {
        graft.sim.AnnIndex.append(spark, graft.io.ParquetTableIO, root,
          emb.filter(col("vec_id") % 4 === 0))
      }
      extras += "e16_index_append" -> decimal(sec, 3)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      spark.catalog.clearCache()
    }

    // final-batch curation ops (t35/d2/x22 over documents, g11/g12 over
    // the pages link graph) — outside the frozen headline total
    for (name <- Seq("t35_stratified_sample", "d2_corpus_card", "x22_sanitize",
        "t37_best_keeper", "t38_containment_pairs", "d3_vocab", "q4_sessionize",
        "q4b_sessionize_chunked", "q5_asof_join", "q6_hll_users", "q7_funnel",
        "q7k_funnel5", "q8_cms_counters", "q9_range_join"))
      extras += name -> timedQuery(name)
    extras += "g11_reciprocal" -> timedQuery("g11_reciprocal", reps = 2)
    extras += "g12_lpa_communities" -> timedQuery("g12_lpa_communities", reps = 2)

    // O(n²) baseline, reported separately — runs BEFORE the tier job so
    // it is the host-state control for the state the headline queries
    // actually measured in; its own adjacent stamp separates "e1 read a
    // capped host" from "e1 regressed" (the r4 ambiguity)
    hostStamp("e1_pre")
    val (_, e1Sec) = time {
      SparkEntry.queries("e1_knn_exact")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }
    extras += "baseline_e1_knn_exact" -> decimal(e1Sec, 3)

    // Headline total: the SCALE-PATH QUERIES ONLY — excludes the
    // baselines and the tier_job end-to-end pass below, so the figure is
    // composition-stable across rounds (BENCH_r03's total summed tier_job
    // in and was dominated by it; BASELINE.md notes the discontinuity).
    val total = results.values.sum

    // tier curation end-to-end: one (untimed) extraction materializes the
    // corpus, then the timed TierJob pass — corpus tier rules + the
    // tier-partitioned rewrite. Deliberately LAST: its ~4 min of
    // sustained 32-thread load triggers the host's multi-core cap
    // (BASELINE.md), and when it ran mid-bench every later query
    // inherited a throttled host (t5 measured 20.7 s against its
    // 4.8-6.5 s band in the run that motivated this ordering). Because
    // it runs last it also ABSORBS the run's accumulated throttling, so
    // the phase carries its own ADJACENT host evidence: a fresh
    // multi-core probe plus a short e1-style pure-compute control,
    // sampled immediately before the timed pass and emitted in the same
    // JSON line — a tier_job figure over the idle band is attributable
    // (or not) from this line alone.
    locally {
      val outPath = java.nio.file.Files.createTempDirectory("graft_bench_tier").toString
      ExtractionJob.run(spark, JobConfig(pagesPath, outPath, runId = "benchtier"))
      hostStamp("tier_pre")
      val (_, sec) = time {
        TierJob.run(spark, s"$outPath/extracted", outPath).collect()
      }
      extras += "tier_job" -> decimal(sec, 3)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outPath))
    }

    // IVF recall@5 vs exact
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val exact = graft.sim.Ann.cosineKnn(emb, k = 5).select("vec_id", "neighbor_id")
      val approx = graft.sim.Ann.ivfKnn(emb, k = 5).select("vec_id", "neighbor_id")
      val hit = exact.join(approx, Seq("vec_id", "neighbor_id")).count().toDouble
      val totalPairs = exact.count().toDouble
      extras += "e2_recall_at_5" -> decimal(hit / math.max(totalPairs, 1.0), 4)
      // the recall/cost curve point at doubled probes
      val approx8 = graft.sim.Ann.ivfKnn(emb, k = 5, nprobe = 8).select("vec_id", "neighbor_id")
      val hit8 = exact.join(approx8, Seq("vec_id", "neighbor_id")).count().toDouble
      extras += "e2_recall_at_5_nprobe8" -> decimal(hit8 / math.max(totalPairs, 1.0), 4)
      spark.catalog.clearCache() // drop the persisted IVF assignments
    }
    extras += "host_probe_mops" -> decimal(probeMops, 1)
    extras += "host_probe_mt_mops" -> decimal(probeMt, 1)

    val qs = (results.map { case (k, v) => s""""$k":${decimal(v, 3)}""" } ++
      extras.map { case (k, v) => s""""$k":$v""" } ++
      Seq(s""""extract_docs_per_sec":${decimal(docsPerSec, 1)}""",
          s""""extract_docs":$nDocs""", s""""extract_reps":$reps""",
          s""""cpus":$cpus"""))
      .mkString("{", ",", "}")
    println(resultLine(total, qs, sfDir))
    spark.stop()
  }

  /** The one JSON line a run prints; `queries` is already a JSON object. */
  private[graft] def resultLine(total: Double, queries: String, sfDir: String): String =
    s"""{"metric":"total","value":${decimal(total, 3)},"unit":"sec","queries":$queries,"sf":${quoted(sfDir)}}"""
}
