package graft.operators

import graft.{Exact, Tables}
import graft.Materialize.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator pack (SURVEY §2 q1–q14).
  *
  * Every query is declarative DataFrame API — Catalyst handles
  * pushdown, join strategy, and whole-stage codegen. Outputs are
  * deterministic (explicit ORDER BY with full tie-breaks, exact
  * decimal money arithmetic via [[graft.Exact]]) so the DuckDB
  * oracle hash-matches at any parallelism.
  */
object Relational {
  import Exact._

  /** q1_agg — TPC-H Q1 shape: scan-filter + groupBy multi-aggregate.
    * Reference analog: the windowed avg/min/max aggregation pattern
    * of /root/reference/src/flink_job.py:104-122, as a batch
    * aggregate. Map-side partial aggregation then a 2-key shuffle;
    * at 100 TB this is scan-bound (filter + 7 columns pushed to
    * parquet).
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        intSum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
          * (lit(1) + dec2(col("l_tax")))).cast("double").as("sum_charge"),
        intAvg(col("l_quantity")).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        moneyAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q2_filter_project — pushdown scan: predicate + projection reach
    * the parquet reader (explain shows PushedFilters/ReadSchema).
    * At 100 TB this is the pattern that decides scan cost: only 4 of
    * 16 columns read, row groups skipped via min/max stats.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.filter(
        col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")) &&
        col("l_discount") >= lit(0.05) && col("l_quantity") < lit(24))
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"),
        col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q3_join_agg — TPC-H Q3 shape: selective dim filter, two shuffle
    * joins on the fact keys, aggregate, top-k. Customer side is
    * filtered before the join (Catalyst pushes it below); at scale
    * the two fact joins shuffle-hash on orderkey only.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
    val ord = t.orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t.lineitem.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"), epochMs(col("o_orderdate")).as("o_orderdate_ms"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** q4_topk — global top-k: Catalyst plans TakeOrderedAndProject
    * (per-partition heap + driver merge of k rows), never a full
    * sort — the only scale-safe global ordering.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    o.select(col("o_orderkey"), col("o_totalprice"),
        epochMs(col("o_orderdate")).as("o_orderdate_ms"), col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
  }

  /** q5_star_join — TPC-H Q5 shape: star join where every dimension
    * (region/nation/supplier) is broadcast — no shuffle for the dim
    * edges even at 100 TB; only orders⋈lineitem shuffles, on the
    * fact key.
    */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nations = t.nation.join(
      broadcast(t.region.filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    val li = t.lineitem
    val ord = t.orders.filter(
      col("o_orderdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q6_window_rank — window functions: one shuffle on the partition
    * key, then rank/lag inside each partition. Total order inside
    * the frame (price desc, orderkey, linenumber) keeps results
    * deterministic at any parallelism.
    */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    li.select(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_price", lag(col("l_extendedprice"), 1).over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** q7_semi_anti — EXISTS / NOT EXISTS as left-semi / left-anti
    * joins (no row multiplication, build side only needs the key).
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bigOrders = t.orders.filter(col("o_totalprice") > lit(300000.0))
    val semi = t.customer
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_big_order", lit(1L))
    val anti = t.customer
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_big_order", lit(0L))
    semi.unionByName(anti)
      .select(col("c_custkey"), col("c_name"), col("has_big_order"))
      .orderBy(col("c_custkey"))
  }

  /** q8_rollup — ROLLUP grouping sets; subtotal rows surfaced with
    * 'ALL' placeholders so the output has no null sort-key
    * ambiguity across engines.
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(intSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** q9_distinct — exact distinct aggregation (Catalyst expands to a
    * two-phase aggregate; partial distinct on the map side).
    */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** q10_cond_agg — conditional aggregation (CASE pivot): one scan,
    * no joins, map-side partials.
    */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    o.groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
        moneySum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0)))
          .as("sum_f_price"),
        count(lit(1)).as("n_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** q11_setops — INTERSECT / EXCEPT (hash-based set ops) plus a
    * UNION ALL combining the tagged results.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val custN = t.customer.select(col("c_nationkey").cast("long").as("nationkey"))
    val suppN = t.supplier.select(col("s_nationkey").cast("long").as("nationkey"))
    val both = custN.intersect(suppN).withColumn("tag", lit("both"))
    val custOnly = custN.except(suppN).withColumn("tag", lit("cust_only"))
    both.unionByName(custOnly).orderBy(col("tag"), col("nationkey"))
  }

  /** q12_percentile — exact interpolated percentiles per group (sort-
    * based aggregate; quantities are integer-valued so interpolation
    * is cross-engine exact at 4 decimals).
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(expr("percentile(l_quantity, 0.99)"), 4).as("p99_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** q13_sessionize — gap-based sessionization: lag + cumulative sum
    * over a per-user window (single shuffle on user_id), then one
    * aggregate per session. The Flink keyed-state analog in pure
    * declarative form.
    */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    ev.select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new", when(
        col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q15_skew_salted — two-phase salted aggregation: the pattern for
    * hot grouping keys at 100 TB. events has only 5 event_type values
    * (extreme skew: a naive groupBy lands 20% of all rows on one
    * reducer); phase 1 aggregates on (key, salt) spreading each hot
    * key over 64 reducers, phase 2 combines 5×64 tiny partials.
    * Salt is derived from event_id — deterministic, unlike rand().
    * Output equals a plain GROUP BY (the oracle runs exactly that).
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.withColumn("salt", pmod(col("event_id"), lit(64)))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(dec2(col("value"))).as("psum"),
        min(col("value")).as("pmin"),
        max(col("value")).as("pmax"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("pn")).as("n_events"),
        sum(col("psum")).cast("double").as("sum_value"),
        min(col("pmin")).as("min_value"),
        max(col("pmax")).as("max_value"))
      .orderBy(col("event_type"))
  }

  /** q16_sketch — sketch-based approximation operators (HLL
    * count-distinct, quantile sketch): the constant-memory answers
    * at 100 TB where exact distinct/percentile would shuffle the
    * world. No SQL oracle (approximate by nature) — accuracy bounds
    * are asserted against exact values in ScalaTest.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_p50_price"),
        expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("approx_p99_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** q17_running — window frames: cumulative sum and a 4-row moving
    * average per user over event time (ROWS BETWEEN). One shuffle on
    * the partition key; frames evaluate incrementally inside each
    * partition.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        dec2(col("value")).as("v"))
      .withColumn("running_sum",
        sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("moving_avg", round(
        (sum(col("v")).over(w.rowsBetween(-3, Window.currentRow)) * lit(100)).cast("long")
          .cast("double") / lit(100.0) /
          count(lit(1)).over(w.rowsBetween(-3, Window.currentRow)) + lit(1e-9), 4))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("running_sum"), col("moving_avg"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** q18_topk_custom — q6's top-3-per-supplier via
    * [[graft.plans.TopK]]: the same rows as the window formulation,
    * planned as Spark's `WindowGroupLimit`, a partial limit below the
    * exchange on the supplier key and a final one above it.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .select(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"), col("l_extendedprice"))
    graft.plans.TopK.topKPerKey(li,
        keys = Seq(col("l_suppkey")),
        order = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc),
        k = 3)
      .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
  }

  /** q19_pivot — relational pivot with a FIXED value list (Spark
    * skips the extra distinct-values job and plans a single pivot
    * aggregate; never pivot on unbounded cardinality at scale).
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))
  }

  /** q20_subquery — scalar-subquery shape: rows above the global
    * average (the aggregate is a 1-row broadcast, not a per-row
    * recomputation). Threshold arithmetic is decimal-exact so the
    * comparison is cross-engine deterministic.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    // price > avg expressed integer-exactly (price_cents × n >
    // total_cents): decimal-division scale rules differ per engine,
    // integer arithmetic doesn't
    val thresh = o.agg(
      count(lit(1)).as("cnt"),
      (sum(dec2(col("o_totalprice"))) * lit(100)).cast("long").as("total_cents"))
    o.join(broadcast(thresh),
        (dec2(col("o_totalprice")) * lit(100)).cast("long") * col("cnt") > col("total_cents"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q14_scalar_funcs — scalar function pack over events: date parts,
    * string functions, and IEEE-deterministic math (floor/ceil/sqrt
    * — bit-identical across engines; no libm-dependent funcs).
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"),
        hour(col("ts")).cast("long").as("h"),
        epochMs(date_trunc("day", col("ts"))).as("day_ms"),
        upper(col("event_type")).as("type_upper"),
        substring(col("event_type"), 1, 3).as("type_pfx"),
        length(col("event_type")).cast("long").as("type_len"),
        concat_ws("#", col("event_type"), col("user_id")).as("type_user"),
        floor(col("value")).cast("long").as("value_floor"),
        ceil(col("value")).cast("long").as("value_ceil"),
        // NULL on negative (the hr_parse null-on-invalid convention):
        // Spark's sqrt yields NaN where DuckDB ERRORS — found by the
        // round-8 corpus fuzz when value jitter crossed zero
        when(col("value") >= 0, sqrt(col("value"))).as("value_sqrt"))
      .orderBy(col("event_id"))
  }

  /** q21_skew_join — deterministic salt replicate-and-join: the q15
    * two-phase pattern extended from aggregation to a fact-fact JOIN.
    * When a join key is hot enough that one reducer drowns (and AQE's
    * skew split can't help, e.g. a single key larger than any split
    * target), the manual fix is: probe side gets a deterministic salt
    * in [0, S) derived from non-key columns; build side replicates
    * each row S times (explode over the salt range); the join key
    * widens to (key, salt) so each hot key spreads over S reducers.
    * Replication costs S× the build side — use the smallest S that
    * levels the histogram, and only for the skewed key range in
    * production (uniform keys join unsalted; here the whole table is
    * salted so the oracle covers every row).
    *
    * The SHUFFLE_HASH hint pins the physical shape the pattern
    * targets (salting a broadcast join would be pointless — broadcast
    * has no reducer to drown). Output equals the plain unsalted join
    * (the oracle runs exactly that); QueryPackSpec also asserts
    * equality against the unsalted Spark plan.
    */
  def q21(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_discount"))
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)).cast("int"))
    val ord = t.orders
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    li.hint("shuffle_hash")
      .join(ord, li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** q24_funnel — ordered conversion funnel (signup → view → click →
    * purchase): a user reaches stage k only if their FIRST event of
    * each stage strictly follows the previous stage's first. One
    * per-user conditional-min aggregation (the whole corpus collapses
    * to |users| rows map-side), flags in plain CASE logic, a global
    * sum, and a 4-row stack unpivot. NULL stage times fail the CASE
    * condition on both engines identically.
    */
  def q24(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val ms = epochMs(col("ts"))
    def first(t: String) = min(when(col("event_type") === t, ms)).as(s"t_$t")
    val firsts = ev.groupBy(col("user_id"))
      .agg(first("signup"), first("view"), first("click"), first("purchase"))
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    firsts
      .agg(
        sum(when(s1, 1L).otherwise(0L)).as("n1"),
        sum(when(s2, 1L).otherwise(0L)).as("n2"),
        sum(when(s3, 1L).otherwise(0L)).as("n3"),
        sum(when(s4, 1L).otherwise(0L)).as("n4"))
      .selectExpr("stack(4, 1L, 'signup', n1, 2L, 'view', n2, " +
        "3L, 'click', n3, 4L, 'purchase', n4) AS (stage_idx, stage, n_users)")
      .orderBy(col("stage_idx"))
  }

  /** Cohort bucket width for [[q25]] — interpolated into the oracle
    * SQL so engine and oracle cannot drift.
    */
  val CohortDayMs = 86400000L

  /** q25_retention — cohort retention matrix: users cohorted by
    * first-active day, a cell per (cohort_day, day_offset) counting
    * how many came back, with an integer-exact retained-ppm rate.
    * Shapes: distinct (user, day) activity, a per-user min (both
    * collapse map-side), one broadcast-sized cohort join, one cell
    * aggregation — |days|² output rows regardless of corpus size.
    */
  def q25(spark: SparkSession, dir: String): DataFrame = {
    val dayMs = CohortDayMs
    val ev = Tables(spark, dir).events
    val activity = ev
      .select(col("user_id"), floor(epochMs(col("ts")) / dayMs).cast("long").as("day"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohorts.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("cohort_size"),
        col("n_active"), expr("n_active * 1000000 div cohort_size").as("retained_ppm"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q26_anomaly — per-user robust outlier detection (median/MAD, the
    * metric-monitoring twin of hr_classify's fixed thresholds):
    * values move to the 10⁻⁴ integer lattice (floor(x·10⁴+0.5), the
    * PQ lattice trick), each user's LOWER median and MAD come from
    * exact rank positions — the element at rank ⌈n/2⌉, never an
    * interpolated float — and an event is anomalous when
    * 2·|v − med| > 9·MAD (i.e. |dev| > 4.5·MAD, in pure integer
    * arithmetic). Median/MAD over mean/stddev because one genuine
    * outlier inflates a stddev threshold enough to mask the next one.
    *
    * Scale shape: two window/aggregate passes, both partitioned by
    * user_id — a rank window to locate each robust center plus a
    * user-keyed join back, repeated for the deviations. No global
    * window, no scalar aggregate; every shuffle is keyed by user.
    */
  def q26(spark: SparkSession, dir: String): DataFrame =
    q26On(Tables(spark, dir).events)

  /** q27_window_pack — the remaining SQL window-function family in
    * one query (ntile / first_value / last_value / nth_value /
    * percent_rank / cume_dist), per order-priority partitions over
    * orders, with a full tie-break (price DESC, orderkey) so
    * rank-family ratios are ratios of identical integers →
    * bit-identical doubles on both engines with no rounding at all.
    *
    * NOT `Window.partitionBy(o_orderpriority)` (restructured round
    * 10, closing the q41 hazard class's last member): priority
    * cardinality is fixed at 5, so the native window form puts
    * corpus/5 rows on single tasks. The row number comes from
    * [[graft.plans.TwoLevelRank]] over the exact decimal-cents
    * lattice and every function re-derives in closed form — legal
    * BECAUSE the order is tie-free: ntile from (rn, n) (first
    * n mod 4 buckets take the extra row, both engines' documented
    * fill rule); percent_rank = (rn−1)/(n−1) and cume_dist = rn/n
    * are the tie-free definitions, the same IEEE division of the
    * same integers; first/last/nth_value over the full frame are the
    * rows at rn = 1 / n / 2, read off a 5-row extremes card
    * (max-of-when aggregation, broadcast back — nth_value's null on
    * 1-row groups falls out of max over no rows). The DuckDB oracle
    * still runs the NATIVE window functions — closed forms verify
    * against the real thing.
    *
    * Scale shape: TwoLevelRank's segmented shuffle (keys ×
    * [[graft.plans.TwoLevelRank.Segments]] partitions), one 5-row
    * count and one 5-row extremes aggregation broadcast back — no
    * stage anywhere holds a corpus/5 partition.
    */
  def q27(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    val ranked = graft.plans.TwoLevelRank.rowNumberPerKey(base,
      keys = Seq("o_orderpriority"), value = "cents",
      descending = true, ties = Seq("o_orderkey"), out = "rn")
    val n = ranked.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val withN = ranked.join(broadcast(n), "o_orderpriority")
    val marks = withN
      .filter(col("rn") === 1L || col("rn") === 2L || col("rn") === col("n"))
      .groupBy(col("o_orderpriority"))
      .agg(max(when(col("rn") === 1L, col("o_orderkey"))).as("top_key"),
        max(when(col("rn") === col("n"), col("o_orderkey"))).as("bottom_key"),
        max(when(col("rn") === 2L, col("o_orderkey"))).as("runnerup_key"))
    withN.join(broadcast(marks), "o_orderpriority")
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        expr("""CASE WHEN rn <= (n div 4 + 1) * (n % 4)
               |  THEN (rn - 1) div (n div 4 + 1) + 1
               |  ELSE n % 4 + (rn - (n div 4 + 1) * (n % 4) - 1) div (n div 4) + 1
               |END""".stripMargin).cast("long").as("quartile"),
        col("top_key"), col("bottom_key"), col("runnerup_key"),
        when(col("n") === 1L, lit(0.0))
          .otherwise((col("rn") - 1L).cast("double") / (col("n") - 1L).cast("double"))
          .as("prnk"),
        (col("rn").cast("double") / col("n").cast("double")).as("cdist"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** q28_correlated — correlated scalar subqueries, written AS
    * correlated SQL (not hand-decorrelated): orders strictly above
    * their own customer's average order value, with the comparison on
    * the integer-cents lattice (price·100·n > Σprice·100, the q20
    * trick per group) so both engines compare exact integers.
    *
    * The point of this operator is Catalyst's subquery decorrelation:
    * each correlated aggregate rewrites to a per-custkey aggregate
    * joined back on the correlation key as a BROADCAST HASH join —
    * never the nested loop a naive per-row evaluation implies
    * (plan-guard swept). Measured limitation (explain audit): Spark
    * 4.1 does NOT merge the two textually identical COUNT subqueries
    * — the plan carries three aggregate+join branches over pruned
    * 1-2 column scans; the hand-fused single-aggregate form is
    * exactly what the oracle SQL writes, so the comparison also
    * documents the gap.
    */
  def q28(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders.createOrReplaceTempView("q28_orders")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  (SELECT COUNT(*) FROM q28_orders i
        |     WHERE i.o_custkey = o.o_custkey) AS n_cust_orders
        |FROM q28_orders o
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    (SELECT COUNT(*) FROM q28_orders i WHERE i.o_custkey = o.o_custkey) >
        |    (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |       FROM q28_orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Truncated-EWMA depth for [[q30]]: the smoothing kernel keeps the
    * last 20 readings, weights 2⁰…2¹⁹ (α = 1/2 halving). 2¹⁹·maxcents
    * fits BIGINT with 10 digits to spare. Injected into the oracle.
    */
  val EwmaDepth = 20

  /** q30_ewma — exponentially weighted moving average per user
    * (α = 1/2, truncated at [[EwmaDepth]] readings — the tail beyond
    * 20 halvings contributes < 10⁻⁶ and is dropped so the result is
    * EXACT integer arithmetic, not an engine-specific float recursion).
    * Value goes to the cents lattice; the frame's readings fold as
    * num = Σ cents·2^age-rank, den = 2^m − 1; ewma_cents = num div den.
    *
    * Shape: collect_list over a per-user ROWS frame (≤ 20 elements,
    * map-side after the one user-keyed sort) folded by a higher-order
    * `aggregate` — stays inside codegen, no UDF, no second shuffle.
    */
  def q30(spark: SparkSession, dir: String): DataFrame = {
    // null readings are excluded up front on BOTH engines: a null
    // inside the frame would diverge (collect_list skips nulls,
    // DuckDB's list() keeps them)
    val ev = Tables(spark, dir).events.filter(col("value").isNotNull)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-(EwmaDepth - 1), Window.currentRow)
    ev.select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .withColumn("frame", collect_list(col("cents")).over(w))
      // frame is oldest→newest; fold doubles the weight each step so
      // the newest reading carries 2^(m−1)
      .withColumn("num", expr(
        "aggregate(frame, named_struct('s', 0L, 'w', 1L)," +
        " (acc, x) -> named_struct('s', acc.s + x * acc.w, 'w', acc.w * 2)," +
        " acc -> acc.s)"))
      .withColumn("den", expr("shiftleft(1L, size(frame)) - 1"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("cents"),
        size(col("frame")).cast("long").as("n_terms"),
        expr("num div den").as("ewma_cents"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** q31_stats — the statistical-aggregate family (covariance /
    * correlation / stddev) made CROSS-ENGINE EXACT: the naive
    * `corr()` of two engines differs in the last ulps (different
    * summation orders), so instead every moment (Σx, Σy, Σxy, Σx²,
    * Σy²) is an exact DECIMAL(38) integer on the cents lattice, the
    * correlation numerator/denominators are exact integer combines
    * of those, and only the FINAL sqrt/division happens in double —
    * identical integers in, identical doubles out, on any engine at
    * any parallelism. x = value in cents, y = hour of day (the
    * diurnal-pattern correlation).
    *
    * Scale shape: one map-side partial aggregation per group key —
    * the five moments are plain sums. No window, no second pass.
    */
  def q31(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    ev.select(col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      .select(col("event_type"), col("n_rows"), col("sx"), col("sy"),
        // num and the two variance terms are exact decimals; the
        // double conversions round identically from identical values
        (d38(col("n_rows")) * col("sxy") - d38(col("sx")) * d38(col("sy"))).as("num"),
        (d38(col("n_rows")) * col("sxx") - d38(col("sx")) * d38(col("sx"))).as("dx"),
        (d38(col("n_rows")) * col("syy") - d38(col("sy")) * d38(col("sy"))).as("dy"))
      .select(col("event_type"), col("n_rows"), col("sx"), col("sy"),
        (col("num").cast("double") /
          (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double"))))
          .as("corr_value_hour"),
        (sqrt(col("dx").cast("double")) / col("n_rows").cast("double"))
          .as("stddev_cents"))
      .orderBy(col("event_type"))
  }

  /** Interval half-width for [[q32]]: each event covers
    * [ts, ts + this). Injected into the oracle.
    */
  val IntervalLenMs = 300000L

  /** q32_intervals — interval union (merge-overlapping): each event
    * projects a fixed-length activity interval; overlapping intervals
    * per user merge into islands (the event-interval twin of
    * q13_sessionize, which is GAP-based — here intervals with
    * explicit extents union, the "coverage" computation behind
    * uptime/SLA/presence metrics). An interval starts a new island
    * iff its start exceeds the running max end of ALL earlier
    * intervals (not just the previous one — a long interval can
    * swallow several short successors).
    *
    * Scale shape: one user-keyed sort feeds both window passes and
    * the final aggregation — single shuffle, no join.
    */
  def q32(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("start_ms"), col("event_id"))
    val prevMax = ord.rowsBetween(Window.unboundedPreceding, -1)
    val runSum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"),
        epochMs(col("ts")).as("start_ms"),
        (epochMs(col("ts")) + IntervalLenMs).as("end_ms"))
      .withColumn("prev_max_end", max(col("end_ms")).over(prevMax))
      .withColumn("is_new",
        (col("prev_max_end").isNull || col("start_ms") > col("prev_max_end"))
          .cast("long"))
      .withColumn("island", sum(col("is_new")).over(runSum))
      .groupBy(col("user_id"), col("island"))
      .agg(
        min(col("start_ms")).as("island_start_ms"),
        max(col("end_ms")).as("island_end_ms"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"), col("island"), col("island_start_ms"),
        col("island_end_ms"), col("n_intervals"),
        (col("island_end_ms") - col("island_start_ms")).as("covered_ms"))
      .orderBy(col("user_id"), col("island"))
  }

  /** q33_json — semi-structured JSON processing over the events
    * `props` payload (the Kafka-payload analog), wrapped in-query
    * into a NESTED document (object-in-object + array) so the parse
    * exercises real structure: `from_json` with an explicit schema —
    * the scale-correct form: schemaful parse is a single codegen'd
    * Jackson pass, vs per-path `get_json_object` re-parsing the
    * string once PER extracted field.
    */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val js = concat(
      lit("""{"meta":{"device":"d"""), pmod(col("user_id"), lit(7L)).cast("string"),
      lit("""","tags":"""),
      when(col("event_id") % 3 === 0, lit("""["a","b","c"]"""))
        .otherwise(lit("""["a","b"]""")),
      lit("""},"payload":"""), col("props"), lit("}"))
    val schema = "meta STRUCT<device: STRING, tags: ARRAY<STRING>>, payload STRUCT<k: BIGINT>"
    ev.select(col("event_id"),
        from_json(js, org.apache.spark.sql.types.StructType.fromDDL(schema)).as("f"))
      .select(col("event_id"),
        col("f.meta.device").as("device"),
        size(col("f.meta.tags")).cast("long").as("n_tags"),
        col("f.payload.k").as("k"))
      .orderBy(col("event_id"))
  }

  /** q34_window_distinct — running DISTINCT count over a sliding
    * frame (the "distinct event types in the user's last 10 actions"
    * feature): SQL window functions cannot COUNT(DISTINCT) over a
    * frame, so the standard Spark form is collect_list over the
    * frame → array_distinct → size, all codegen'd after the one
    * user-keyed sort. Frame ≤ 10 elements keeps per-row state O(1).
    */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        col("event_type"))
      .withColumn("distinct_types_10",
        size(array_distinct(collect_list(col("event_type")).over(w))).cast("long"))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Gap for [[q35]]'s native session windows (and its oracle). */
  val SessionGapMs = 1800000L

  /** q35_session_window — sessionization via Spark's NATIVE
    * `session_window` aggregate (the engine-supported twin of
    * q13_sessionize's window-chain formulation): each event opens a
    * gap-length window, overlapping windows merge at aggregation
    * time. Boundary semantics differ from q13 by design: a gap of
    * EXACTLY the threshold starts a new session here (window end is
    * exclusive), vs q13's strict `>` — the oracle mirrors `>=`.
    * One user-keyed shuffle; merging is Spark's native session
    * aggregation (also the streaming form in HealthMonitor).
    */
  def q35(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.groupBy(col("user_id"), session_window(col("ts"), s"${SessionGapMs / 1000} seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(epochMs(col("ts"))).as("first_ms"),
        max(epochMs(col("ts"))).as("last_ms"))
      .select(col("user_id"),
        epochMs(col("session_window.start")).as("sess_start_ms"),
        epochMs(col("session_window.end")).as("sess_end_ms"),
        col("first_ms"), col("last_ms"), col("n_events"))
      .orderBy(col("user_id"), col("sess_start_ms"))
  }

  /** q36_nullsafe — the null-safe equality join (`<=>` / IS NOT
    * DISTINCT FROM): every 11th event's user key is nulled in-query,
    * then each event is joined back to its per-key group size. A
    * plain equi-join silently DROPS the null-key rows (NULL = NULL
    * is never true) — the null-safe join keys them together, which
    * is what dedup/audit pipelines over dirty keys need. Spark plans
    * `<=>` as a normal hash join key (Coalesce-wrapped), not a
    * nested loop — asserted by the plan-guard sweep.
    */
  def q36(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"),
        when(col("event_id") % 11 === 0, lit(null)).otherwise(col("user_id"))
          .cast("long").as("uid"))
    val sizes = ev.groupBy(col("uid")).agg(count(lit(1)).as("n_key_events"))
      .withColumnRenamed("uid", "g_uid")
    ev.join(sizes, col("uid") <=> col("g_uid"))
      .select(col("event_id"), col("uid"), col("n_key_events"))
      .orderBy(col("event_id"))
  }

  /** q37_notin — NOT IN as a NULL-AWARE ANTI JOIN: `WHERE key NOT IN
    * (subquery)` carries three-valued-logic semantics (one NULL in
    * the probe list empties the result), so Spark cannot rewrite it
    * to a plain anti join — it plans a BroadcastHashJoin in
    * NullAwareAntiJoin mode for the single-key form. This operator
    * pins both that plan (explain-audited; the PROJECTED
    * `CAST(x NOT IN … )` form instead degenerates to a
    * nested-loop existence join and is deliberately NOT used) and
    * the semantics against DuckDB's identical logic. The null-trap
    * itself (probe list with a NULL → zero rows) is asserted in
    * QueryPackSpec on both a null and a null-free probe.
    */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.createOrReplaceTempView("q37_events")
    spark.sql(
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM q37_events e
        |WHERE e.user_id NOT IN (SELECT user_id FROM q37_events
        |                        WHERE event_type = 'purchase' AND user_id % 7 = 3)
        |ORDER BY e.event_id""".stripMargin)
  }

  /** q38_dates — calendar arithmetic pack (the scalar family q14
    * does not cover): week/quarter truncation, month/day offsets,
    * month-end, day-of-week, date differences. Everything lands as
    * epoch millis or BIGINT; DuckDB's Sunday-0 `dayofweek` is
    * shifted to Spark's Sunday-1 convention IN THE ORACLE so the
    * convention divergence is explicit, not papered over.
    */
  def q38(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.select(col("event_id"),
        epochMs(date_trunc("week", col("ts"))).as("week_ms"),
        epochMs(date_trunc("quarter", col("ts"))).as("quarter_ms"),
        // add_months returns DATE (time-of-day dropped) — the oracle
        // casts to DATE first to match that convention explicitly
        epochMs(add_months(col("ts"), 2).cast("timestamp")).as("plus2mo_ms"),
        epochMs(date_add(col("ts").cast("date"), 45).cast("timestamp")).as("plus45d_ms"),
        epochMs(last_day(col("ts")).cast("timestamp")).as("month_end_ms"),
        dayofweek(col("ts")).cast("long").as("dow"),
        datediff(lit("1997-01-01").cast("date"), col("ts").cast("date"))
          .cast("long").as("days_to_97"))
      .orderBy(col("event_id"))
  }

  /** q39_cube — full CUBE over (status, priority) with grouping_id
    * labeling, completing the multi-level aggregate family next to
    * q8's ROLLUP. CUBE of k columns is one scan expanded to 2^k
    * grouping sets with partial aggregation per set — map-side
    * combine still applies, so the 100 TB cost is one shuffle of
    * 2^k × |groups| partials, not 2^k scans (the reason CUBE beats
    * a UNION ALL of per-set GROUP BYs at scale). grouping_id is the
    * canonical set label: coalesce-to-'ALL' alone could not
    * distinguish a genuine 'ALL' value from a rollup total.
    */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"), col("sum_price"))
      .orderBy(col("gid"), col("status"), col("priority"))
  }

  /** q40_lateral — correlated LATERAL subquery join (per-customer
    * top-3 orders by price): the "for each outer row, run this
    * parameterized subquery" shape. Catalyst decorrelates the
    * correlated ORDER BY … LIMIT into a window/rank over a single
    * equi-join — no per-row re-execution survives in the physical
    * plan (asserted in QueryPackSpec: one join, no nested loop) —
    * which is exactly the rewrite that keeps LATERAL usable at
    * 100 TB: the naive interpretation is |outer| subquery runs.
    */
  def q40(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("q40_customer")
    t.orders.createOrReplaceTempView("q40_orders")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM q40_customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM q40_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 3
        |) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  /** q41_rank_funcs — the analytic rank-function family the window
    * pack hadn't yet exercised: dense_rank, ntile(4), percent_rank,
    * cume_dist per priority class over a TIE-FREE ordering
    * ((price, orderkey) — key-unique, so every rank function is
    * deterministic and percent_rank/cume_dist are pure IEEE
    * divisions both engines compute identically; the 1e-9-shifted
    * round-6 lattice guards the hash).
    *
    * NOT `Window.partitionBy(o_orderpriority)`: priority cardinality
    * is fixed at 5 by the schema's semantics, so the native window
    * form puts corpus/5 rows on single tasks — the shard_balance
    * bounded-key hazard, here since round 7. The rank instead comes
    * from [[graft.plans.TwoLevelRank]] over the exact decimal-cents
    * lattice (a monotone image of the 2-decimal price, so the order
    * is the oracle's ORDER BY o_totalprice), and each native
    * function re-derives from (rnk, n) in closed form — legal
    * BECAUSE the order is tie-free: dense_rank = row_number;
    * percent_rank = (rnk−1)/(n−1) and cume_dist = rnk/n are the
    * definitions both engines evaluate as the same IEEE division of
    * the same integers; ntile's first (n mod 4) buckets take the
    * extra row (both engines' documented fill rule). The DuckDB
    * oracle still runs the NATIVE window functions — the closed
    * forms are verified against the real thing, not against
    * themselves.
    */
  def q41(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    val ranked = graft.plans.TwoLevelRank.rowNumberPerKey(base,
      keys = Seq("o_orderpriority"), value = "cents",
      descending = false, ties = Seq("o_orderkey"), out = "rnk")
    val n = ranked.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(n), "o_orderpriority")
      .withColumn("quartile",
        expr("""CASE WHEN rnk <= (n div 4 + 1) * (n % 4)
               |  THEN (rnk - 1) div (n div 4 + 1) + 1
               |  ELSE n % 4 + (rnk - (n div 4 + 1) * (n % 4) - 1) div (n div 4) + 1
               |END""".stripMargin).cast("long"))
      .withColumn("pct_rank",
        round(when(col("n") === 1L, lit(0.0)).otherwise(
          (col("rnk") - 1L).cast("double") / (col("n") - 1L).cast("double"))
          + lit(1e-9), 6))
      .withColumn("cume",
        round(col("rnk").cast("double") / col("n").cast("double") + lit(1e-9), 6))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rnk"), col("quartile"), col("pct_rank"), col("cume"))
      .orderBy(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
  }

  /** q42_range_frame — a VALUE-based window frame (RANGE BETWEEN 30
    * PRECEDING), the frame kind every other window here doesn't use
    * (they are all ROWS frames or whole-partition): per customer,
    * each order's trailing-30-day spend and order count. The order
    * key is an integer epoch-day (identical arithmetic both
    * engines), the money sum runs in DECIMAL(18,2) (order-free),
    * and equal-day orders all join each other's frames — the RANGE
    * semantics ROWS can't express. One customer-partitioned window.
    */
  def q42(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day_num")).rangeBetween(-30, 0)
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"),
        expr("datediff(o_orderdate, DATE'1970-01-01')").cast("long").as("day_num"),
        expr("CAST(o_totalprice AS DECIMAL(18,2))").as("p"))
      .withColumn("spend_30d", sum(col("p")).over(w).cast("double"))
      .withColumn("n_orders_30d", count(lit(1)).over(w).cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("day_num"),
        col("spend_30d"), col("n_orders_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private[graft] def q26On(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 10000 + 0.5).cast("long").as("micro"))
    // the value at rank ⌈n/2⌉ ordered by (value, event_id): tie order
    // can't change the selected VALUE, so the median is deterministic
    def lowerMedian(df: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("user_id")).orderBy(col(c), col("event_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(expr("rn = (n + 1) div 2"))
        .select(col("user_id"), col(c).as(out))
    }
    // med is user-count-sized but its subtree carries a full corpus
    // window sort — lazily it re-planned under BOTH dev consumers
    // (round 16: two sorts where the algorithm needs one); the
    // corpus-sized dev stays lazy on purpose (recomputing a broadcast
    // join is cheaper than checkpointing corpus rows — guide §5)
    val med = lowerMedian(ev, "micro", "med").materialized
    val dev = ev.join(med, "user_id")
      .withColumn("dev", abs(col("micro") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(mad, "user_id")
      .select(col("user_id"), col("event_id"), col("micro"),
        col("med"), col("dev"), col("mad"),
        (col("dev") * 2 > col("mad") * 9).cast("long").as("anomaly"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** q44_dynamic_pivot — DYNAMIC pivot (column set derived from the
    * data, the feature q19's fixed-list pivot deliberately avoids):
    * per-user event counts with one column PER OBSERVED event type.
    * The classic two-phase plan every engine's dynamic PIVOT
    * desugars to: phase 1 collects the distinct pivot values to the
    * driver (bounded by the type vocabulary — metadata, the
    * BPE-argmax collect class), phase 2 plans one
    * map-side-combinable conditional aggregate per value. Zero-fill
    * by construction (sum of CASE), matching DuckDB's dynamic
    * `PIVOT ... USING count(*)` — which is the oracle, so BOTH
    * engines derive the column set from the data.
    */
  def q44(spark: SparkSession, dir: String): DataFrame =
    q44On(Tables(spark, dir).events)

  private[graft] def q44On(ev: DataFrame): DataFrame = {
    val types = ev.select(col("event_type")).distinct()
      .orderBy(col("event_type")).collect().map(_.getString(0))
    if (types.isEmpty) return ev.select(col("user_id")).distinct()
    val aggs = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(t))
    ev.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("user_id"))
  }

  /** q45_gap_fill — IGNORE-NULLS window navigation (the analytic
    * feature the window pack hadn't exercised: every other window
    * here aggregates or ranks; none carries a SPARSE observation
    * forward). Per user, a "reading" exists only on purchase/signup
    * events; every event row is annotated with the most recent
    * reading so far (`last(reading, ignoreNulls = true)` over a
    * running ROWS frame — forward fill / LOCF, the gap-repair step
    * every telemetry pipeline runs before resampling) plus the
    * running count of readings seen. Reference analog: the
    * windowed-state carry of /root/reference/src/flink_job.py:104-122
    * expressed as a batch analytic.
    *
    * Determinism: the frame orders by (ts, event_id) — event_id is
    * unique, so the ordering is a total order and the filled value is
    * exact on both engines. The filled double is COPIED, never
    * computed, so float bit-exactness is free; the -1.0 sentinel
    * replaces leading nulls so the hash compare never sees
    * engine-specific null ordering. Scale: ONE user-partitioned
    * window — user_id is the high-cardinality key (the same shape as
    * q17_running), so parallelism grows with users and no partition
    * outgrows a user's own history.
    */
  def q45(spark: SparkSession, dir: String): DataFrame =
    q45On(Tables(spark, dir).events)

  private[graft] def q45On(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type").isin("purchase", "signup"), col("value"))
          .as("reading"))
      .withColumn("filled",
        coalesce(last(col("reading"), ignoreNulls = true).over(w), lit(-1.0))
          .cast("double"))
      .withColumn("readings_seen", count(col("reading")).over(w).cast("long"))
      .select(col("user_id"), col("event_id"), col("filled"),
        col("readings_seen"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Percentile ranks (ppm) reported by [[exactPctl]]. */
  val PctlPpms: Seq[Long] = Seq(500000L, 900000L, 990000L)

  /** Value-range segments per group for [[exactPctl]]'s prefix
    * decomposition — a parallelism knob, not a semantic constant.
    */
  val PctlSegments = 64L

  /** exact_pctl — EXACT per-group percentiles (p50/p90/p99 of event
    * value, percentile_disc semantics: the smallest value whose
    * cumulative count reaches ⌈q·n⌉) without sorting the corpus.
    * quantile_sketch answers the same question approximately in one
    * pass; THIS is the exact complement for when the number goes in
    * an SLA, and the textbook formulations both fail at 100 TB: a
    * global per-group sort is a corpus-sized shuffle, and a
    * `Window.partitionBy(group)` running count puts corpus/|groups|
    * rows on single tasks (the bounded-key hazard — event_type
    * cardinality is semantic, not scalable).
    *
    * Decomposition (one corpus-sized shuffle, everything after is
    * distinct-value-sized):
    *
    *  1. distinct-value rollup: (group, cents) → count — THE one
    *     corpus-sized aggregation, map-side combinable;
    *  2. per-group value range → [[PctlSegments]] order-contiguous
    *     value segments; per-(group, segment) totals roll to
    *     exclusive offsets via a window over ≤ PctlSegments rows per
    *     group (bounded by the CONSTANT, not the corpus);
    *  3. within-(group, segment) running count + offset = exact
    *     global cumulative count per distinct value;
    *  4. thresholds ⌈q·n⌉ on the integer lattice ((n·q + 10⁶−1) div
    *     10⁶), literal-array explode (the pack_eval shape — never a
    *     BNLJ), min(cents) over qualifying values per (group, q).
    *
    * Segmenting is by VALUE RANGE, so a group whose distinct values
    * all cluster in one 1/64th of its range degenerates to one
    * segment — but then the segment holds only that group's DISTINCT
    * values (already ≪ rows after step 1), and a deployment that
    * fears adversarial value clustering swaps step 2's boundaries
    * for sampled quantiles without touching steps 3-4. NULL values
    * and NULL group keys are excluded (documented, matches the
    * oracle's WHERE).
    */
  def exactPctl(spark: SparkSession, dir: String): DataFrame =
    exactPctlOn(Tables(spark, dir).events)

  private[graft] def exactPctlOn(ev: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val v = ev.filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), cents.as("cents"))
    // MATERIALIZED for its consumers (round 16): lazily, the stats /
    // segment / cumulative subtrees each re-planned this corpus-sized
    // rollup — four events scans in the executed plan where the
    // design says one; the stored frame is distinct-value-sized (the
    // step-1 contract), so the checkpoint is the cheap side of the
    // trade at any scale
    val c = v.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt")).materialized
    val stats = c.groupBy(col("event_type"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        sum(col("cnt")).as("n"))
    val seg = c.join(broadcast(stats), "event_type")
      // `div`, not `/`: Spark's `/` is double division (the seq_pack
      // boundary lesson) — the lattice must stay integer-exact
      .withColumn("span",
        greatest(lit(1L), expr(s"(hi - lo) div $PctlSegments") + 1))
      .withColumn("seg", expr("(cents - lo) div span"))
    val bySeg = Window.partitionBy(col("event_type")).orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segOff = seg.groupBy(col("event_type"), col("seg"))
      .agg(sum(col("cnt")).as("stot"))
      .withColumn("soff", sum(col("stot")).over(bySeg) - col("stot"))
      .select(col("event_type"), col("seg"), col("soff"))
    val byVal = Window.partitionBy(col("event_type"), col("seg"))
      .orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = seg.join(broadcast(segOff), Seq("event_type", "seg"))
      .withColumn("cum", sum(col("cnt")).over(byVal) + col("soff"))
    cum
      .withColumn("q_ppm", explode(array(PctlPpms.map(lit): _*)))
      .filter(col("cum") >= expr("(n * q_ppm + 999999) div 1000000"))
      .groupBy(col("event_type"), col("q_ppm"))
      .agg(max(col("n")).as("n"), min(col("cents")).as("pctl_cents"))
      .select(col("event_type"), col("q_ppm"), col("n"), col("pctl_cents"))
      .orderBy(col("event_type"), col("q_ppm"))
  }
}
