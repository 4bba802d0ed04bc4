package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.CacheOnce.reroot

/** Distributed connected components over a near-duplicate pair graph —
  * the cluster-then-keep step that turns pairwise dedup candidates
  * (LSH/SimHash/embedding pairs) into disjoint duplicate CLUSTERS with
  * one keeper each. Pairs alone under-delete: if A~B and B~C, the
  * corpus keeps A and C unless the transitive cluster {A,B,C} is
  * collapsed to a single representative.
  *
  * Algorithm: iterative min-label propagation entirely in DataFrame
  * ops — each round every node adopts the minimum label among itself
  * and its neighbours (one equi-join + one map-side-combined groupBy
  * per round), until a round changes nothing. Rounds needed = graph
  * diameter; near-dup graphs are unions of small dense clusters
  * (diameter a handful), so the loop runs 2-5 rounds in practice and
  * is capped defensively. Every round is a keyed shuffle of the EDGE
  * list only — nothing quadratic, no driver-side graph. (At extreme
  * diameters the classic large-star/small-star alternation halves the
  * round count; for dedup-shaped graphs plain propagation converges
  * faster than the extra passes cost.)
  *
  * Determinism: the fixpoint (min reachable id per node) is unique, so
  * iteration order cannot change the answer — the DuckDB oracle reaches
  * the same labels by recursive reachability.
  */
object Components {

  /** Connected components of the undirected pair graph `pairs(a, b)`.
    * Output: one row per node appearing in any pair — (vec_id,
    * component) with component = min node id reachable. Callers union
    * singletons (nodes with no pairs) as their own component.
    *
    * Each round's result is re-rooted as a fresh plan leaf
    * ([[graft.util.CacheOnce.reroot]]): without that, the Catalyst plan
    * references the previous round's plan twice and DOUBLES every
    * iteration — by round ~15 the optimizer alone takes minutes even
    * though the data is cached. Re-rooting keeps every round's plan one
    * join deep; the persisted previous round is the only input read. */
  def components(spark: SparkSession, pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // ids keep their natural type: min-label propagation only needs an
    // ordering, which strings/longs both have. (An earlier cast("long")
    // here turned url-keyed pair graphs into all-null edges — a silent
    // everything-is-a-singleton answer; keepers' contract is "an
    // arbitrary id universe", so no numeric assumption is allowed.)
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = reroot(edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbrMin = edges.join(labels, edges("dst") === labels("v"))
        .groupBy(col("src").as("v2")).agg(min(col("label")).as("nbr"))
      // the previous label rides along as a third column so convergence
      // is a filter-count over THIS round's persisted result — not a
      // second full join of the old and new label tables per round
      val next = reroot(labels.join(nbrMin, labels("v") === col("v2"), "left")
        .select(col("v"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label")))
      changed = next.filter(col("label") =!= col("prev")).count()
      labels.unpersist()
      labels = next
      round += 1
    }
    edges.unpersist()
    // a silently-truncated fixpoint would be a WRONG answer (labels not
    // yet minimal) — fail loudly; dedup graphs converge in a handful of
    // rounds, so hitting the cap means the input isn't dedup-shaped and
    // the caller should raise maxRounds deliberately.
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds ($changed labels still changing)")
    // the final `labels` is already persisted + materialized by the
    // loop; hand it out with a one-shot release (the caller's first
    // consuming action reads the cached blocks, then frees them — same
    // contract as the IVF assignments and pagerank, round-4 cleanup of
    // the last persist-until-clearCache holdout)
    graft.util.CacheOnce.release(labels)
      .select(col("v").as("vec_id"), col("label").as("component"))
  }

  /** Components + keeper bit over an arbitrary id universe: every id in
    * `ids` (single id column, name preserved) gets component = its
    * cluster's min id (or itself for singletons) plus `is_keeper` — the
    * dedup decision bit (keep one row per cluster). The downstream
    * corpus shrink is `filter(is_keeper)`. `pairs` must carry columns
    * (a, b) in the same id space. */
  def keepers(spark: SparkSession, ids: DataFrame, pairs: DataFrame): DataFrame = {
    val idCol = ids.columns.head
    val comp = components(spark, pairs.select("a", "b"))
    ids.join(comp.withColumnRenamed("vec_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("is_keeper", (col(idCol) === col("component")).cast("boolean"))
  }

  /** Components over the embedding near-dup graph, with singletons kept —
    * `keepers` specialised to the IVF-cell cosine pair derivation. */
  def dupComponents(spark: SparkSession, emb: DataFrame, threshold: Double,
                    cells: Int = 0): DataFrame =
    keepers(spark, emb.select(col("vec_id")), Ann.cosineDupPairs(emb, threshold, cells))
}
