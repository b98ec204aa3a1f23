package graft.etl

import org.apache.spark.sql.SparkSession

/** Operators persist the intermediates they reuse with `Dataset.persist`,
  * and Spark's CacheManager is the one list of them. The caller that owns
  * the action drops them all afterwards; Verify, Bench and PlanAudit call
  * `spark.catalog.clearCache()` themselves, and this is the same release
  * for a caller that holds no session. */
object CacheRegistry {
  /** `catalog.clearCache()` (non-blocking) on the active session, else on
    * the default one. */
  def releaseAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.catalog.clearCache())
}
