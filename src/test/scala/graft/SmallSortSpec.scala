package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallSort]]: a root global sort whose input is
  * within the rule's bounds sorts in one partition, with the same rows
  * in the same order and without the range exchange's sampling job;
  * everything else keeps the range sort.
  */
class SmallSortSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.01"

  private def plan(ds: Dataset[_]): String = ds.queryExecution.executedPlan.toString

  /** One cold run: the plan before the action, the rows, the jobs. */
  private def run(name: String): (String, Seq[Row], Int) = {
    var p = ""
    var rows = Seq.empty[Row]
    val jobs = ColdJobs(spark) {
      val df = SparkEntry.queries(name)(spark, sf)
      p = plan(df)
      rows = df.collect().toSeq
    }
    (p, rows, jobs)
  }

  for (name <- Seq("hr_episodes", "quality_score"))
    test(s"$name: same rows in the same order, no range exchange, one cold job fewer") {
      val (offPlan, offRows, offJobs) = WithRangeSort(spark)(run(name))
      val (onPlan, onRows, onJobs) = run(name)
      assert(offPlan.contains("rangepartitioning"), s"forced off, no range sort:\n$offPlan")
      assert(!onPlan.contains("rangepartitioning"), s"range sort kept:\n$onPlan")
      assert(onPlan.contains("Exchange SinglePartition, REPARTITION_BY_NUM"), onPlan)
      assert(onRows.nonEmpty && onRows == offRows, s"$name rows differ")
      info(s"$name cold jobs: $offJobs forced off, $onJobs with the rule")
      assert(onJobs == offJobs - 1, s"$name ran $onJobs jobs, $offJobs with the rule off")
    }

  private def small: DataFrame =
    spark.range(0, 1000, 1, 4).select((col("id") * 7 % 1000).as("x")).orderBy(col("x").desc)

  /** The estimated size of the sort's child, where the rule fired. */
  private def childSize(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.collectFirst {
    case Sort(_, true, Repartition(1, true, c), _) => c.stats.sizeInBytes
  }.getOrElse(fail(s"rule did not fire:\n${df.queryExecution.optimizedPlan}"))

  private def fires(df: DataFrame): Boolean = !plan(df).contains("rangepartitioning")

  test("the bound is the largest shuffle AQE reads back as one partition") {
    val size = childSize(small)
    val minSize = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key
    // parallelismFirst (the default): coalescePartitions.minPartitionSize
    WithConf(spark, minSize, size.toString)(assert(fires(small)))
    WithConf(spark, minSize, (size - 1).toString)(assert(!fires(small)))
    // without it: advisoryPartitionSizeInBytes
    WithConf(spark, SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST.key, "false") {
      WithConf(spark, minSize, "1") {
        val advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
        WithConf(spark, advisory, size.toString)(assert(fires(small)))
        WithConf(spark, advisory, (size - 1).toString)(assert(!fires(small)))
      }
    }
    // no coalescing, no one-partition read to match
    WithConf(spark, SQLConf.COALESCE_PARTITIONS_ENABLED.key, "false")(assert(!fires(small)))
    // order-keeping nodes above the sort (Verify's coalesce(1)) leave it a root sort
    assert(fires(small.coalesce(1)))
    assert(small.collect().map(_.getLong(0)).toSeq == (0L until 1000L).reverse)
  }

  test("over a Window the bound is one advisory partition") {
    def ranked = spark.range(0, 1000, 1, 4)
      .select((col("id") % 10).as("k"), col("id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
      .orderBy(col("k"), col("rn"))
    val size = childSize(ranked)
    WithConf(spark, SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key, "1") {
      val advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
      WithConf(spark, advisory, size.toString)(assert(fires(ranked)))
      WithConf(spark, advisory, (size - 1).toString)(assert(!fires(ranked)))
    }
    assert(ranked.collect().map(r => (r.getLong(0), r.getInt(2))).toSeq ==
      (for (k <- 0L until 10L; rn <- 1 to 100) yield (k, rn)))
  }

  test("sf0.1 plans: hr_episodes and quality_score sort in one partition, q29_zorder and hr_window_sliding keep the range sort") {
    def at(name: String) = SparkEntry.queries(name)(spark, "/root/testdata/sf0.1")
    // hr_episodes is above the one-partition bound; its windows qualify it
    Seq("hr_episodes", "quality_score").foreach(n => assert(fires(at(n)), n))
    // a projected scan and an aggregate, 6 MB each: sorting 600k and
    // 380k rows in one task cost more than sampling saved
    Seq("q29_zorder", "hr_window_sliding").foreach(n => assert(!fires(at(n)), n))
  }

  test("a Generate under the sort keeps the range exchange") {
    val exploded = spark.range(0, 100, 1, 4)
      .select(explode(array(col("id"), col("id") + 100)).as("x"))
      .orderBy(col("x").desc)
    assert(plan(exploded).contains("rangepartitioning"), plan(exploded))
    assert(exploded.collect().map(_.getLong(0)).toSeq == (0L until 200L).reverse)
  }

  test("a child that already has the order keeps a plan without any exchange") {
    val ordered = spark.range(0, 100, 1, 4).orderBy(col("id"))
    assert(!plan(ordered).contains("Exchange"), plan(ordered))
  }

  test("a sort below a join is not rewritten: no one-partition shuffle is left behind") {
    val joined = small.join(spark.range(0, 10).toDF("x"), "x")
    assert(!plan(joined).contains("REPARTITION_BY_NUM"), plan(joined))
    assert(joined.count() == 10L)
  }

  test("orderBy(...).limit(k) still plans TakeOrderedAndProject") {
    val top = small.limit(5)
    val p = plan(top)
    assert(p.contains("TakeOrderedAndProject") && !p.contains("REPARTITION_BY_NUM"), p)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L, 996L, 995L))
  }
}
