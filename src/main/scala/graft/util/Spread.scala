package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** The payload exchange of the per-row CPU jobs (page extraction, media
  * decode): hash the rows on a unique key into an explicit partition count
  * sized from the scanned input bytes and the cores.
  *
  *   n = max(4 × defaultParallelism, ⌈scanned bytes / advisory size⌉)
  *
  * The core term gives a small input about four task waves per core, so
  * one heavy page delays one short task rather than the whole stage. The
  * byte term keeps a large input at AQE's advisory partition size. AQE
  * never coalesces an exchange with an explicit count, which is the point:
  * left to AQE, a shuffle smaller than the advisory size (16 MiB under
  * [[graft.Sessions.ExtractionSql]]) becomes ONE reduce task, and the
  * job's CPU-dense per-row operator runs on one core.
  *
  * The key must be unique per row: a low-cardinality key (a size bucket ×
  * salt has a few hundred values) leaves every partition past its
  * distinct count empty.
  */
object Spread {

  /** n, where the scanned bytes are those of the files `scan`'s leaf
    * relations have already listed (their plan stats; no Spark job runs).
    * A leaf that cannot size itself reports the conf's default size and
    * counts as 0, which leaves the core term. */
  def partitions(scan: DataFrame): Int = {
    val qe = scan.queryExecution
    val conf = qe.sparkSession.sessionState.conf
    val bytes = qe.analyzed.collectLeaves().map(_.stats.sizeInBytes)
      .filter(_ < conf.defaultSizeInBytes).sum
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val byBytes = ((bytes + advisory - 1) / advisory).min(Int.MaxValue).toInt
    math.max(4 * qe.sparkSession.sparkContext.defaultParallelism, byBytes)
  }

  /** `rows` hash-partitioned on `key` into [[partitions]]`(scan)` parts. */
  def byKey(rows: DataFrame, key: String, scan: DataFrame): DataFrame =
    rows.repartition(partitions(scan), col(key))
}
