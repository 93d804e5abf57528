package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What the harness drain still promises: after a drain the
  * SparkContext holds zero persisted RDDs, so a many-query run's
  * retained storage is bounded; and no operator serves a result
  * built from an earlier corpus under the same path.
  */
class CacheLedgerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("drain after dedup_eval, cluster_stats, ccnet_buckets: zero persisted RDDs") {
    CacheLedger.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "drain left persisted RDDs behind")
    operators.Dedup.dedupEval(spark, sf).collect()
    operators.Dedup.clusterStats(spark, sf).collect()
    operators.LangModel.ccnetBuckets(spark, sf).collect()
    CacheLedger.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "drain left persisted RDDs behind after dedup_eval, cluster_stats and ccnet_buckets")
  }

  test("a corpus regenerated under the same path recomputes the artifact (fingerprint keying)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus 1: two verbatim near-duplicates -> exactly one pair
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    write(Seq(dup, dup + " extra", "something entirely different here today ok"))
    val first = operators.Dedup.ngramJaccardPairs(spark, dir).count()
    assert(first >= 1, "fixture should contain at least one near-dup pair")
    // corpus 2, SAME path: no near-dups at all. The parquet files have
    // different sizes, so the metadata fingerprint must miss and the
    // pair artifact must be rebuilt — a (dir)-keyed cache would serve
    // the stale 1-pair frame here (the advisory's exact scenario).
    write(Seq("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine",
      "red orange yellow green blue indigo violet colors"))
    val second = operators.Dedup.ngramJaccardPairs(spark, dir).count()
    assert(second == 0,
      s"stale pair artifact served for a regenerated corpus ($second pairs)")
  }
}
