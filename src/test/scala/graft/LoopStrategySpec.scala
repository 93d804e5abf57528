package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The materialization key in driver loops:
  * `spark.graft.materialize` switches every loop's per-round lineage
  * truncation between the default local checkpoint (fast,
  * non-replicated — a mid-loop executor loss fails the query) and
  * RELIABLE per-round checkpoints to the SparkContext checkpoint dir
  * (an executor loss mid-loop recovers from the round files — what a
  * multi-hour 100 TB loop on a shared fleet wants). Results must be
  * bit-identical under both; only failure semantics move. Pinned here
  * on the two heaviest loop operators (pagerank's rank rounds, k_core's
  * shrinking edge rounds) plus the star-contraction loop
  * dedup_clusters drives.
  */
class LoopStrategySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def checkpointDir(): java.io.File = {
    val raw = spark.sparkContext.getCheckpointDir.get
    if (raw.contains(":")) new java.io.File(new java.net.URI(raw)) else new java.io.File(raw)
  }

  test("pagerank is bit-identical under reliable per-round checkpoints, and round files land") {
    val default = sorted(operators.Graph.pagerank(spark, sf))
    val (reliable, files) = WithStrategy(spark, "checkpoint") {
      val out = sorted(operators.Graph.pagerank(spark, sf))
      def count(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(count).sum else 1
      (out, count(checkpointDir()))
    }
    assert(reliable == default, "loop strategy changed pagerank's results")
    assert(files > 0, "reliable strategy wrote no per-round checkpoint files")
  }

  test("k_core and dedup_clusters are bit-identical under reliable per-round checkpoints") {
    val kDefault = sorted(operators.Graph.kCore(spark, sf))
    val cDefault = sorted(SparkEntry.queries("dedup_clusters")(spark, sf))
    WithStrategy(spark, "checkpoint") {
      assert(sorted(operators.Graph.kCore(spark, sf)) == kDefault,
        "loop strategy changed k_core's results")
      assert(sorted(SparkEntry.queries("dedup_clusters")(spark, sf)) == cDefault,
        "loop strategy changed dedup_clusters' results")
    }
  }

  test("dead rounds' checkpoint files are deleted: a second pagerank leaves no more RDD dirs") {
    WithStrategy(spark, "checkpoint") {
      def rddDirs(): Int = checkpointDir().listFiles().count(_.getName.startsWith("rdd-"))
      def runAndCollect(): Int = {
        sorted(operators.Graph.pagerank(spark, sf))
        CacheLedger.drain(spark)
        System.gc()
        rddDirs()
      }
      val first = runAndCollect()
      var second = runAndCollect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (second > first && System.nanoTime() < deadline) {
        Thread.sleep(250)
        System.gc()
        second = rddDirs()
      }
      info(s"RDD checkpoint dirs: $first after one pagerank, $second after two")
      assert(second <= first, s"$first RDD dirs after one pagerank, $second after two")
    }
  }

  test("an unknown strategy, such as the removed `cache`, fails loudly") {
    val df = spark.range(3).toDF("v")
    spark.conf.set(Materialize.StrategyKey, "cache")
    try {
      for (materialize <- Seq[org.apache.spark.sql.DataFrame => Any](
          Materialize.eager, Materialize.round(_), Materialize.ensure)) {
        val e = intercept[IllegalArgumentException](materialize(df))
        Seq(Materialize.StrategyKey, "cache", "localCheckpoint", "checkpoint")
          .foreach(w => assert(e.getMessage.contains(w), e.getMessage))
      }
    } finally spark.conf.unset(Materialize.StrategyKey)
  }
}
