package graft

import graft.plans.TopK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case behavior of [[TopK.topKPerKey]], the rank filter that
  * Spark plans as `WindowGroupLimit`.
  */
class TopKPerKeySpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private def df(rows: (String, Long, Double)*) = {
    import spark.implicits._
    rows.toDF("k", "id", "score")
  }

  test("k larger than every group returns all rows") {
    val in = df(("a", 1, 5.0), ("a", 2, 3.0), ("b", 3, 9.0))
    val out = TopK.topKPerKey(in, Seq(col("k")),
      Seq(col("score").desc, col("id").asc), k = 100)
    assert(out.count() == 3)
  }

  test("ties resolve deterministically by the tie-break column") {
    val in = df(("a", 10, 1.0), ("a", 11, 1.0), ("a", 12, 1.0), ("a", 13, 1.0))
    val out = TopK.topKPerKey(in, Seq(col("k")),
      Seq(col("score").desc, col("id").asc), k = 2)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(10L, 11L)) // lowest ids win the tie
  }

  test("many groups, k=1 returns exactly the per-group max") {
    import spark.implicits._
    val in = (1 to 1000).map(i => (s"g${i % 50}", i.toLong, (i * 37 % 101).toDouble)).toDF("k", "id", "score")
    val out = TopK.topKPerKey(in, Seq(col("k")),
      Seq(col("score").desc, col("id").asc), k = 1)
    val expect = in.groupBy(col("k")).agg(max(col("score")).as("m"))
    val joined = out.join(expect, "k").filter(col("score") =!= col("m"))
    assert(out.count() == 50)
    assert(joined.count() == 0)
  }

  test("empty input produces empty output") {
    val in = df().filter(lit(false))
    val out = TopK.topKPerKey(in, Seq(col("k")),
      Seq(col("score").desc), k = 3)
    assert(out.count() == 0)
  }

  test("dedupe collapses duplicate rows exactly like DISTINCT-then-top-k") {
    import spark.implicits._
    // duplicates inside k and outside it; in "c", distinct rows tie on
    // score and 9's twin comes fifth in row order, outside k = 3;
    // contract: equal (k, id) rows are fully identical
    val rows = Seq(
      ("a", 1L, 9.0), ("a", 1L, 9.0), ("a", 2L, 8.0), ("a", 3L, 7.0),
      ("a", 4L, 6.0), ("a", 4L, 6.0), ("a", 5L, 5.0),
      ("b", 1L, 1.0), ("b", 1L, 1.0),
      ("c", 7L, 4.0), ("c", 8L, 4.0), ("c", 8L, 4.0), ("c", 9L, 4.0), ("c", 9L, 4.0),
      ("c", 6L, 3.0), ("c", 6L, 3.0))
    val in = scala.util.Random.shuffle(rows).toDF("k", "id", "score")
    val got = TopK.topKPerKey(in, Seq(col("k")),
        Seq(col("score").desc, col("id").asc), k = 3, dedupe = Seq(col("id")))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = rows.distinct.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      rs.sortBy(r => (-r._3, r._2)).take(3).map(r => (k, r._2)) }.sorted
    assert(got == want, s"got $got want $want")
    // and equals the distinct-then-top-k form
    val viaDistinct = TopK.topKPerKey(in.distinct(), Seq(col("k")),
        Seq(col("score").desc, col("id").asc), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == viaDistinct)
  }

  test("dedupe adds no exchange over the rank filter's") {
    val in = spark.range(10000)
      .select((col("id") % 50).as("k"), col("id"), (col("id") % 97).cast("double").as("score"))
    val out = TopK.topKPerKey(in.unionAll(in), Seq(col("k")),
      Seq(col("score").desc), k = 2, dedupe = Seq(col("id")))
    val plan = out.queryExecution.executedPlan.toString
    TopKPerKeySpec.assertGroupLimit(plan)
    assert("Exchange".r.findAllIn(plan).size == 1, s"one exchange expected:\n$plan")
    assert(out.count() == 100)
  }
}

object TopKPerKeySpec {
  /** `plan` runs top-k per key as Spark's `WindowGroupLimit`: a
    * `Partial` limit below the hash exchange on the key and a `Final`
    * one above it.
    */
  def assertGroupLimit(plan: String): Unit = {
    val shape = "(?s)WindowGroupLimit [^\n]*Final\n.*Exchange hashpartitioning.*WindowGroupLimit [^\n]*Partial".r
    assert(shape.findFirstIn(plan).isDefined,
      s"expected WindowGroupLimit Final over the key exchange over WindowGroupLimit Partial:\n$plan")
  }
}
