package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Block loss: after an operator returns its frame, every persisted
  * RDD is unpersisted — the blocks an executor loss would take — and
  * then the frame is collected. Under the default `localCheckpoint`
  * the truncated lineage cannot recompute a lost block, so the collect
  * fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` (each operator's
  * frame reads a local checkpoint); under `checkpoint` the rounds and
  * intermediates are re-read from the checkpoint files and the rows
  * equal the clean default run. No run may return other rows.
  */
class BlockLossSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def afterLoss(name: String): Either[Throwable, Seq[Seq[Any]]] = {
    val frame = SparkEntry.queries(name)(spark, sf)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try Right(rows(frame)) catch { case NonFatal(e) => Left(e) }
  }

  private def blockNotFound(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))

  for (name <- Seq("pagerank", "k_core", "dedup_clusters", "graph_communities"))
    test(s"$name: a lost block fails the default and is re-read under checkpoint") {
      val clean = rows(SparkEntry.queries(name)(spark, sf))
      val lost = afterLoss(name)
      assert(lost.left.exists(blockNotFound),
        s"the default did not fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: $lost")
      val reliable = WithStrategy(spark, "checkpoint")(afterLoss(name))
      assert(reliable == Right(clean), "checkpoint did not recover the clean rows")
    }
}
