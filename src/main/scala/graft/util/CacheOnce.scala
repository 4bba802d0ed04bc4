package graft.util

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Persist a DataFrame for exactly one consuming action.
  *
  * The IVF/tier queries reuse an expensive intermediate (the centroid
  * assignment, the extracted span projection) on two legs of one plan —
  * the standard fix is `.persist`, but a query API that returns a lazy
  * DataFrame has nowhere to put the matching `.unpersist`: the caller
  * runs the action, and without discipline the cached blocks live for
  * the session (the round-3 leak — Bench/Verify had to clearCache()
  * between queries on the callers' behalf).
  *
  * `CacheOnce(df)` persists `df` and registers a one-shot
  * [[QueryExecutionListener]] that unpersists it as soon as the FIRST
  * action whose plan contains `df` completes (success or failure) — by
  * then the cache has done its job: both legs of that action's plan read
  * the materialised blocks. A second action on the same result simply
  * recomputes (all producers here are deterministic, so correctness
  * never depends on the cache); the typical consumer — one write per
  * query — pays nothing.
  *
  * The listener fires asynchronously on the listener bus, so "no cached
  * blocks remain" is eventually-true within listener-dispatch latency
  * (asserted with a bounded poll in AnnSpec). Unrelated queries leave
  * the subscription untouched; if the result is never consumed at all,
  * the persist stays until `spark.catalog.clearCache()` — exactly the
  * pre-existing contract, now needed only in that degenerate case.
  */
object CacheOnce {

  def apply(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    release(df.persist(level))
  }

  /** Register the one-shot release on an ALREADY-persisted frame — for
    * producers that materialize the frame themselves before handing it
    * out (iterative loops persist + count each round; `apply` here
    * would release on that internal count). The first completed action
    * whose plan contains the frame after THIS call unpersists it. */
  def release(cached: DataFrame): DataFrame = {
    val spark = cached.sparkSession
    val target = cached.queryExecution.analyzed
    val listener = new QueryExecutionListener {
      private val done = new AtomicBoolean(false)
      private def maybeRelease(qe: QueryExecution): Unit = {
        // the consuming query's ANALYZED plan still contains the original
        // subtree (cache substitution happens later, at optimization), so
        // a subtree sameResult probe identifies the consumer regardless
        // of aliasing above it
        val touches =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case scala.util.control.NonFatal(_) => false }
        if (touches && done.compareAndSet(false, true)) {
          cached.unpersist(blocking = false)
          spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
    cached
  }

  /** `plan` re-rooted as a fresh persisted plan leaf — the round step of
    * the iterative loops (PageRank, HITS, label propagation, connected
    * components). A round whose plan references the previous round's
    * result more than once would otherwise embed that plan once per
    * reference, so driver-side analysis and optimization grow
    * geometrically with the round count. The caller runs the action that
    * materializes it before releasing what it reads. */
  def reroot(plan: DataFrame): DataFrame =
    plan.sparkSession.createDataFrame(plan.rdd, plan.schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
}
