package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, dense_rank, row_number}

/** Top-k rows per key on Spark's own plan for a rank filter. */
object TopK {
  private val RankCol = "__topk_rank"

  /** Top `k` rows per `keys` group under `order` (use `.desc`/`.asc`
    * Columns; include tie-break columns for determinism), with the
    * input's columns. A rank over (`keys`, `order`) filtered to `≤ k`:
    * Spark plans it as `WindowGroupLimit`, a partial limit that keeps
    * k rows per key in each map task before the shuffle on `keys`
    * and a final one after it (for k up to
    * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default;
    * above it the same filter runs over a plain window).
    *
    * `dedupe` collapses duplicate rows. CONTRACT: rows equal on
    * (keys ++ dedupe) must be fully identical rows (LSH candidates
    * colliding in several tables: same (src, dst) ⇒ same cosine).
    * The `dedupe` columns become the last tie-breaks of a
    * `dense_rank`, so twins share a rank and ranks `≤ k` hold exactly
    * the top k distinct rows; the DISTINCT on (keys ++ dedupe) then
    * runs over those survivors, not over the whole candidate table,
    * and reuses their partitioning on `keys` (no exchange).
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      dedupe: Seq[Column] = Nil): DataFrame = {
    val rank = if (dedupe.isEmpty) row_number() else dense_rank()
    val w = Window.partitionBy(keys: _*).orderBy(order ++ dedupe: _*)
    val top = df.withColumn(RankCol, rank.over(w))
      .filter(col(RankCol) <= k)
      .drop(RankCol)
    if (dedupe.isEmpty) top
    else top.dropDuplicates(df.select(keys ++ dedupe: _*).columns.toSeq)
  }
}
