package graft

import org.apache.spark.sql.SparkSession

/** The harness drain. No artifact outlives the query that built it:
  * every operator derives its intermediates inside the call and
  * releases them, or leaves them to the ContextCleaner, so a
  * many-query run has nothing to warm. [[drain]] is the reset a
  * harness runs between queries (Bench, Verify and perfbench's
  * BatchPass do).
  */
object CacheLedger {

  /** Drop any CacheManager entries, then sweep whatever persisted
    * RDDs remain in the context — lazily-checkpointed loop
    * intermediates whose owners released them only to the async
    * ContextCleaner become free NOW, so one query's storage pressure
    * can never leak into the next (the r9 pagerank lesson: retained
    * blocks compounded across a 168-query bench into runs that GREW
    * 10.0 → 14.9 s in one JVM). `spark.catalog.clearCache()` alone
    * does not free `localCheckpoint` blocks. Safe between queries:
    * no frame outlives its query, so no live consumer reads a swept
    * block (CacheLedgerSpec asserts the drain leaves zero persisted
    * RDDs).
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
