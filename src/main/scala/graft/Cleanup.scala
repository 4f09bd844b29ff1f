package graft

import org.apache.spark.sql.SparkSession

/** Session-state release for the state-heavy operators.
  *
  * `llm_dedup_cluster`, `llm_neardup_minhash` and `llm_ann_ivf` deliberately
  * leave a small amount of session state alive after returning: the caches /
  * eager `localCheckpoint` RDDs that back the lazily-evaluated DataFrame
  * they hand the caller (documented at their definitions in
  * `graft.queries.LlmQueries` / `VectorQueries`). Bench and Verify call this
  * between queries so the declared queries in one session stay independent;
  * a library consumer embedding those operators in a long-lived session
  * should call it once the results are consumed (or at natural pipeline
  * boundaries).
  *
  * Releases BOTH state kinds:
  *   - `clearCache()` — DataFrame/table cache entries (CacheManager);
  *   - every registered persistent RDD — which is where eager
  *     `localCheckpoint(true)` blocks live: they bypass the CacheManager
  *     entirely, so `clearCache()` alone would leak them.
  *
  * `blocking = true` waits for the block manager to actually drop the
  * blocks — use it when the next measurement must not race async removal
  * (Bench does: a non-blocking sweep lets removal and GC churn land inside
  * the next query's timed region).
  */
object Cleanup {
  def release(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}
