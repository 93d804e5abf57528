package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Library-wide cache hygiene: no registered operator may leave
  * storage pinned in the session CacheManager after its action
  * completes. Multi-consumer intermediates materialize via eager
  * localCheckpoint (blocks free with the RDD when the query's frames
  * are garbage); loop-internal caches (pagerank / label-propagation
  * edges) unpersist before their operator returns. A long-lived
  * application can run any mix of these queries repeatedly without
  * accumulating storage only `spark.catalog.clearCache()` would
  * release.
  *
  * The queries below are exactly the operators that historically
  * held `cache()` pins (dedup family covered separately in
  * DupSkewSpec); each runs at sf0.001 and the CacheManager is
  * asserted empty after every one.
  */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private val formerlyPinning = Seq(
    "dedup_lines", "inverted_index", "lm_score", "dsir_select",
    "pipeline_e2e", "winnow_pairs", "winnow_clusters", "ngram_jaccard",
    "dedup_clusters", "pagerank", "triangle_count", "mm_phash",
    // ccnet_buckets / chunk_dedup were born on localCheckpoint (never
    // pinned) but hold them to the same contract
    "ccnet_buckets", "chunk_dedup")

  test("formerly-pinning operators leave the CacheManager empty") {
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
    formerlyPinning.foreach { name =>
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left storage pinned in the CacheManager")
    }
  }

  /** The materialization key ([[Materialize]]) trades the default
    * local-checkpoint throughput for reliable checkpoint files that
    * survive executor loss — with bit-identical results.
    */
  test("materialize strategy `checkpoint`: identical results, no CacheManager pins") {
    spark.catalog.clearCache()
    val expect = operators.Graph.pagerank(spark, sf).collect().toSeq
    try WithStrategy(spark, "checkpoint") {
      assert(operators.Graph.pagerank(spark, sf).collect().toSeq == expect)
      assert(spark.sharedState.cacheManager.isEmpty,
        "reliable checkpoints must not pin the CacheManager")
    } finally spark.catalog.clearCache()
  }
}
