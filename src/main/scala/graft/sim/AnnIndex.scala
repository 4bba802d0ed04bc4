package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO

/** Build-once / query-many persisted IVF index — the serving shape of
  * the [[Ann]] family.
  *
  * Every `Ann.*` entry point trains its index INSIDE the query plan: the
  * right shape for one-shot analytics, the wrong one for a corpus table
  * that is indexed nightly and probed by many small query batches.
  * [[build]] splits the lifecycle: it materialises the deterministic
  * centroid set once and rewrites the vectors PARTITIONED BY their home
  * cell, so [[query]] touches only the probed cells — the probe set
  * (query batch × nprobe nearest centroids) joins the vectors table on
  * its partition column, and Spark's dynamic partition pruning turns
  * that join into a partition filter on the scan. Query cost then
  * scales with `nprobe/cells` of the corpus, not the corpus: at 10⁹
  * vectors in 4096 cells a 4-probe query batch reads ~0.1% of the
  * table, where the inline [[Ann.ivfKnn]] would re-scan and re-assign
  * all of it.
  *
  * Determinism: centroids, assignment ranking and tie-breaks are the
  * shared [[Ann.cellCentroids]] (md5-60 "c:" stride seeds) and
  * [[Ann.rankCells]] (cosine desc, cell-id asc), and the neighbour rank
  * is the shared [[Ann.cosineTopK]]; doubles round-trip parquet exactly —
  * so a self-query of the indexed corpus is bit-identical to the inline
  * [[Ann.ivfKnn]], which is how the driver oracle checks it (the e14
  * query replays e2's SQL).
  *
  * Tables under `root` (addressed through the [[TableIO]] seam, so an
  * Iceberg deployment is configuration): `vectors` (vec_id, e,
  * partition col cell) and `centroids` (cell, c). The build is two
  * passes: one assignment pass over the input writes `vectors`; the
  * centroid table then re-derives from the WRITTEN narrow table (same
  * stride filter over the same ids — exact), so raw input is scanned
  * once and the cheap second pass reads columnar output.
  */
object AnnIndex {

  /** Train and persist: `root/vectors` (cell-partitioned) +
    * `root/centroids`. Overwrites any previous index at `root`. */
  def build(spark: SparkSession, emb: DataFrame, io: TableIO,
            root: String, cells: Int = 0): Unit = {
    val home = Ann.ivfAssign(emb, cells, nprobe = 1)
      .select(col("vec_id"), col("e"), col("cell"))
    io.overwrite(home, io.resolve(root, "vectors"), partitionCols = Seq("cell"))
    // centroid re-derivation from the persisted narrow table: the same
    // Ann.cellCentroids over the identical id set
    val v = io.read(spark, io.resolve(root, "vectors"))
      .select(col("vec_id"), col("e"))
    io.overwrite(Ann.cellCentroids(v, cells), io.resolve(root, "centroids"))
  }

  /** Incremental ingest: assign `newVecs` (vec_id, embedding) to the
    * EXISTING persisted centroid set and append them to the
    * cell-partitioned vectors table — the hourly-batch path of a
    * nightly-built index. No retrain, no rewrite of resident cells: the
    * only writes are the new rows' own cell partitions (for Parquet a
    * handful of new files; for Iceberg one append snapshot), so ingest
    * cost scales with the batch, never the corpus. Centroids drift from
    * the data distribution as appends accumulate — the standard serving
    * trade — and the next [[build]] re-trains; recall for appended
    * vectors is the same nprobe/cells contract as for resident ones
    * because home assignment is the same [[Ann.rankCells]] against the
    * same frozen centroid table. Batch-split invariant: appending one
    * batch or the same rows in any split yields byte-identical tables
    * (per-row assignment against a constant centroid set). Idempotent
    * ([[appendNew]]): a retried batch appends nothing. Re-appending an
    * indexed id with a CHANGED embedding is out of scope — the resident
    * row wins if the new one homes to the same cell, and both stay if it
    * homes elsewhere; rebuild to replace vectors. */
  def append(spark: SparkSession, io: TableIO, root: String,
             newVecs: DataFrame): Unit = {
    val home = Ann.rankCells(Ann.vectors(newVecs), readCentroids(spark, io, root),
        nprobe = 1)
      .select(col("vec_id"), col("e"), col("cell"))
    appendNew(spark, io, io.resolve(root, "vectors"), home)
  }

  /** Top-k cosine neighbours of `queries` (vec_id, embedding) from the
    * persisted index: assign each query to its `nprobe` nearest
    * centroids (broadcast centroid table — KB-scale), then join the
    * probe set against ONLY those cells of the vectors table and rank.
    * Output (vec_id, neighbor_id, rank), same rank/tie semantics as
    * [[Ann.ivfKnn]]; a query whose vec_id exists in the index never
    * matches itself. */
  def query(spark: SparkSession, io: TableIO, root: String,
            queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val probes = Ann.rankCells(Ann.vectors(queries), readCentroids(spark, io, root),
      nprobe)
    Ann.cosineTopK(probes, io.read(spark, io.resolve(root, "vectors")), k)
  }

  /** The frozen centroid table (cell, c) of the index at `root`. */
  private[sim] def readCentroids(spark: SparkSession, io: TableIO,
                                 root: String): DataFrame =
    io.read(spark, io.resolve(root, "centroids"))
      .select(col("cell").cast("long").as("cell"), col("c"))

  /** (vec_id, cellr, extra…) of the cell-partitioned `table`, restricted
    * to the cells listed in `cells` (cellr). The semi-join sits directly
    * over the scan on its partition column, so dynamic partition pruning
    * reads only those cells. */
  private[sim] def readCells(spark: SparkSession, io: TableIO, table: String,
                             cells: DataFrame, extra: String*): DataFrame =
    io.read(spark, table)
      .select((col("vec_id") +: col("cell").cast("long").as("cellr") +:
        extra.map(col)): _*)
      .join(cells, Seq("cellr"), "left_semi")

  /** Append the homed batch `rows` (vec_id, …, cell) to the
    * cell-partitioned `table`, minus the ids already resident in the
    * cells the batch homes to ([[readCells]], the pruned read
    * [[PqIndex.query]] does). A retried batch homes to the same frozen
    * cells, so it appends nothing. */
  private[sim] def appendNew(spark: SparkSession, io: TableIO, table: String,
                             rows: DataFrame): Unit = {
    val resident = readCells(spark, io, table,
      rows.select(col("cell").as("cellr")).distinct())
    io.append(rows.join(resident.select(col("vec_id")), Seq("vec_id"), "left_anti"),
      table, partitionCols = Seq("cell"))
  }
}
