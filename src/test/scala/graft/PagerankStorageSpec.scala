package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Storage discipline of the pagerank driver loop (r9 verdict #3: the
  * 9 intermediate lazy localCheckpoint frames were never unpersisted,
  * measured in the driver bench as runs GROWING 10.0 → 14.9 s inside
  * one JVM — and at 10⁹ nodes, ~10 retained rank-table copies is an
  * executor OOM). The operator must release every intermediate round
  * itself: a full run may leave AT MOST its result's blocks behind,
  * and back-to-back runs must not accumulate.
  */
class PagerankStorageSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  // overridable like DedupAnnSpec: SPARK_GRAFT_SPEC_SF=<dir> re-measures
  // the per-round checkpoint bytes on a bigger corpus (evidence runs)
  val sf: String =
    sys.env.getOrElse("SPARK_GRAFT_SPEC_SF", "/root/testdata/sf0.001")

  private def retained: Int = spark.sparkContext.getPersistentRDDs.size

  private def runOnce(): Unit =
    operators.Graph.pagerank(spark, sf)
      .write.format("noop").mode("overwrite").save()

  test("a pagerank run retains <= 2 persisted RDDs (the final round, not the loop)") {
    CacheLedger.drain(spark)
    val before = retained
    runOnce()
    val delta = retained - before
    // PrIters rounds produce PrIters+1 rank tables + the edge list;
    // all but the returned final round must be unpersisted by the
    // operator (<= 2 leaves headroom for a strategy-dependent extra)
    assert(delta <= 2,
      s"pagerank retained $delta persisted RDDs — intermediate rounds leaked")
  }

  test("per-round checkpoint carries the narrow (id, pr) state — measured against the old 3-column shape") {
    // the r11 verdict item: the loop's recurring cost is checkpoint
    // bytes-per-round × rounds, so the rounds must persist ONLY the
    // mutable (id, pr) pair — outdeg is static and lives in the
    // once-materialized base. Measure both shapes' actual block
    // bytes on the same node population and pin the saving.
    import org.apache.spark.sql.functions._
    CacheLedger.drain(spark)
    val t = Tables(spark, sf)
    val edges = operators.Graph.mirroredTradeEdges(t.orders, t.lineitem)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = t.customer.select((col("c_custkey") * 2).as("id"))
      .unionAll(t.supplier.select(
        (col("s_suppkey") * 2 + 1).as("id")))
    val base = Materialize.eager(nodes
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("outdeg")))
    val pr0 = base.select(col("id"), lit(operators.Graph.PrScale).as("pr"))

    def checkpointedBytes(df: org.apache.spark.sql.DataFrame,
        level: Option[org.apache.spark.storage.StorageLevel] = None): (Long, Long) = {
      val c = level match {
        case Some(l) => df.localCheckpoint(eager = true, storageLevel = l)
        case None => df.localCheckpoint(eager = true)
      }
      val rdd = c.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      val bytes = info.map(i => i.memSize + i.diskSize).getOrElse(0L)
      val n = c.count()
      Materialize.release(c)
      (bytes, n)
    }

    // the round's (id, pr) output at localCheckpoint's default storage
    // level (deserialized rows); the serialized form pagerank's rounds
    // use (Materialize.round(serialized = true)) is measured below
    val round = operators.Graph.pagerankRound(edges, base, pr0)
    val (narrowBytes, n) = checkpointedBytes(round)
    // the pre-r12 state shape on the same rows: (id, outdeg, pr)
    val (wideBytes, n2) = checkpointedBytes(round.join(base, Seq("id"))
      .select(col("id"), col("outdeg"), col("pr")))
    // the serialized narrow form (MEMORY_AND_DISK_SER): raw UnsafeRow
    // bytes, no per-object JVM overhead
    val (serBytes, n3) = checkpointedBytes(round,
      Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    Materialize.release(edges); Materialize.release(base)
    assert(round.columns.toSeq == Seq("id", "pr"),
      "pagerank's per-round state widened beyond (id, pr)")
    assert(n == n2 && n == n3 && n > 0)
    info(f"per-round checkpoint: narrow=$narrowBytes%d B wide=$wideBytes%d B " +
      f"ser=$serBytes%d B (${n}%d nodes, ${narrowBytes.toDouble / n}%.1f vs " +
      f"${wideBytes.toDouble / n}%.1f vs ${serBytes.toDouble / n}%.1f B/node)")
    assert(narrowBytes > 0 && narrowBytes < wideBytes,
      s"narrow state ($narrowBytes B) must beat the 3-column shape ($wideBytes B)")
  }

  test("back-to-back pagerank runs do not accumulate retained storage") {
    CacheLedger.drain(spark)
    val deltas = (1 to 3).map { _ =>
      val before = retained
      runOnce()
      retained - before
    }
    // each run may add only its own result (the previous run's result
    // frees via GC/ContextCleaner, not synchronously — hence per-run
    // delta, not absolute count)
    deltas.foreach(d => assert(d <= 2,
      s"per-run retained delta $d (runs: $deltas) — the r9 accumulation pattern"))
  }
}
