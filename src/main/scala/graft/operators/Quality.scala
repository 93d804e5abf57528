package graft.operators

import graft.Materialize.MatOps
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline data-quality operators (SURVEY §2 #68-69): constraint
  * verification over the warehouse tables (the Deequ/
  * great-expectations capability class, engine-native) and
  * distribution-drift detection between corpus splits — the checks a
  * production ingest runs before letting data reach training.
  */
object Quality {

  /** dq_check — declarative constraint verification over the star
    * schema: uniqueness, completeness, referential integrity,
    * value-range and accepted-value constraints, one result row per
    * constraint with checked/violation counts and a pass flag.
    *
    * Scale shape: same-table VALUE constraints (conditional counts —
    * completeness, ranges, accepted values — and the uniqueness
    * distinct-count) fuse into ONE aggregation per table whose 1-row
    * result unpivots to the per-constraint rows (round 16: the
    * per-constraint form scanned lineitem three times and customer
    * twice); referential integrity stays a broadcast-dim anti-join
    * count per constraint (the orphan side is the FACT table, which
    * never shuffles — the key set joins in the scan stage). The
    * scalar aggregations are the documented multi-scalar plan class
    * (single-partition exchanges bounded by the CONSTRAINT LIST, a
    * code constant, never by data).
    */
  def dqCheck(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    dqCheckOn(t.customer, t.orders, t.lineitem)
  }

  private[graft] def dqCheckOn(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    def result(name: String, checked: Column, violations: Column)(df: DataFrame): DataFrame =
      df.agg(checked.cast("long").as("n_checked"),
          violations.cast("long").as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).cast("long").as("pass"))

    // same-table VALUE constraints share ONE scan + aggregation each
    // (round 16, guide §1.2): the per-constraint form scanned customer
    // twice and lineitem three times for conditional counts that are
    // independent columns of a single agg row; stack() unpivots back
    // to the per-constraint rows, arithmetic unchanged column-for-
    // column (a 1-row stack is metadata reshaping, not a shuffle)
    def unstack(fused: DataFrame, names: Seq[String]): DataFrame =
      fused.selectExpr(
        "stack(" + names.size + ", " + names.zipWithIndex.map {
          case (n, i) => s"'$n', v_$i"
        }.mkString(", ") + ") AS (check_name, n_violations)", "n_checked")
        .select(col("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).cast("long").as("pass"))
    val custChecks = unstack(customer.agg(
        count(lit(1)).cast("long").as("n_checked"),
        (count(lit(1)) - countDistinct(col("c_custkey"))).cast("long").as("v_0"),
        sum(when(col("c_name").isNull, 1L).otherwise(0L)).cast("long").as("v_1")),
      Seq("unique_c_custkey", "complete_c_name"))
    val uniqueOrder = result("unique_o_orderkey",
      count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")))(orders)
    val lineChecks = unstack(lineitem.agg(
        count(lit(1)).cast("long").as("n_checked"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).cast("long").as("v_0"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).cast("long").as("v_1"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)).cast("long").as("v_2")),
      Seq("range_l_quantity_1_50", "range_l_discount_0_01",
        "accepted_l_returnflag"))
    // referential integrity: fact-side orphans via a broadcast-dim
    // anti join — o_custkey ⊆ customer, l_orderkey ⊆ orders. The
    // build side is the DISTINCT key set: a duplicated dimension key
    // must not fan out the probe (QualitySpec's planted-duplicate
    // fixture caught exactly that — n_checked inflated past the
    // fact-row count)
    val orphanOrders = result("ref_o_custkey_in_customer",
      count(lit(1)), sum(when(col("c_custkey").isNull, 1L).otherwise(0L)))(
      orders.join(broadcast(customer.select(col("c_custkey")).distinct()),
        col("o_custkey") === col("c_custkey"), "left"))
    val orphanLines = result("ref_l_orderkey_in_orders",
      count(lit(1)), sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)))(
      lineitem.select(col("l_orderkey")).join(
        broadcast(orders.select(col("o_orderkey")).distinct()),
        col("l_orderkey") === col("o_orderkey"), "left"))

    Seq(custChecks, uniqueOrder, lineChecks, orphanOrders, orphanLines)
      .reduce(_ unionAll _)
      .orderBy(col("check_name"))
  }

  /** Length-bucket width and score-band count for [[driftCheck]]. */
  val DriftLenBucket = 50L
  val DriftLenMax = 9L

  /** drift_check — distribution-shift card between the corpus's
    * even/odd doc_id halves (the two-snapshot comparison an ingest
    * pipeline runs between yesterday's and today's crawl): for each
    * feature (language, words-length decile bucket), the early/late
    * bucket counts, the expected late count under the early
    * distribution, and an integer chi-square contribution
    * (late − expected)²·10⁶ div max(expected, 1) — all on the
    * integer lattice (no ln, no float), so a PSI-class drift flag
    * reduces to summing contributions downstream.
    *
    * Scale shape: ONE corpus scan, one (feature, bucket, half)
    * aggregation (map-side combinable — bucket spaces are fixed and
    * tiny), a pivot on the half, and the 1-row (N_early, N_late)
    * scalar broadcast (the word_pmi class). Buckets with mass in
    * either half appear; a bucket present only late (novel language
    * — the strongest drift signal) reads expected = 0.
    */
  def driftCheck(spark: SparkSession, dir: String): DataFrame =
    driftCheckOn(Tables(spark, dir).documents)

  /** The (feature, bucket) pair generator shared by the batch card
    * and the streaming gate ([[graft.streaming.DriftStream]]) — one
    * definition, so stream and batch bucket identically. Input needs
    * `lang` and `text`.
    */
  private[graft] def featurePairs: org.apache.spark.sql.Column = {
    import graft.functions.TextFunctions.words
    explode(array(
      struct(lit("lang").as("feature"), col("lang").as("bucket")),
      struct(lit("len").as("feature"),
        concat(lit("b"), least(lit(DriftLenMax),
          (size(words(col("text"))) / DriftLenBucket).cast("long"))).as("bucket"))))
  }

  private[graft] def driftCheckOn(docs: DataFrame): DataFrame = {
    val buckets = docs
      .select((col("doc_id") % 2 === 1).cast("long").as("late"),
        featurePairs.as("f"))
      .groupBy(col("f.feature").as("feature"), col("f.bucket").as("bucket"))
      .agg(sum(when(col("late") === 0L, 1L).otherwise(0L)).as("early_cnt"),
        sum(col("late")).as("late_cnt"))
    val totals = docs
      .select((col("doc_id") % 2 === 1).cast("long").as("late"))
      .agg(
      sum(when(col("late") === 0L, 1L).otherwise(0L)).as("n_early"),
      sum(col("late")).as("n_late"))
    buckets.crossJoin(broadcast(totals))
      .select(col("feature"), col("bucket"), col("early_cnt"), col("late_cnt"),
        when(col("n_early") > 0,
          expr("CAST(CAST(early_cnt AS DECIMAL(38,0)) * n_late div n_early AS BIGINT)"))
          .otherwise(lit(0L)).as("expected"))
      .withColumn("chi2_ppm", expr(
        "CAST(CAST(late_cnt - expected AS DECIMAL(38,0)) * (late_cnt - expected)" +
          " * 1000000 div greatest(CAST(expected AS DECIMAL(38,0)), 1) AS BIGINT)"))
      .orderBy(col("feature"), col("bucket"))
  }

  /** Score floor for [[qualityEnsemble]]'s soft-score gate: the
    * quality_score "medium or better" bucket boundary.
    */
  val EnsembleScoreFloor = 0.3

  /** quality_ensemble — the GATE AGREEMENT card (the evaluation-layer
    * row next to quality_calib: before a curation stack trusts five
    * overlapping quality signals, it reads how often they agree and
    * whether the agreement beats chance): five binary admission gates
    * — the Gopher rule conjunction, the soft score ≥
    * [[EnsembleScoreFloor]] (the "medium" bucket floor), the URL
    * filter's pass verdict, language-ID agreeing with the label, and
    * the CCNet head bucket — compared pairwise. One row per unordered
    * gate pair: doc count, both-keep / both-drop / disagree counts,
    * raw agreement in ppm, and COHEN'S KAPPA in ppm (chance-corrected
    * — two gates that both keep 95% of the corpus agree 90%+ by
    * accident; kappa is the number that says whether they measure the
    * same thing). A near-1e6 kappa pair is a redundant gate (drop the
    * expensive one); a near-zero kappa pair measures independent
    * failure modes (keep both).
    *
    * Exactness: every gate is a composition of the REGISTERED
    * operators' own column definitions (same code, same constants —
    * the dedup_eval convention), so each flag is oracle-green by
    * inheritance; the card arithmetic is pure integer on
    * DECIMAL(38) (the kappa cross-terms k_a·k_b and n² overflow
    * int64 at corpus scale), with truncating `div` ≡ `//` on both
    * engines (sign-checked — kappa is legitimately negative for
    * anti-correlated gates).
    *
    * Scale shape (round 15): ONE stacked per-doc scan computes the
    * four pure column-chain gates (they share the same normalized
    * word array — the dedup_keepbest fusion argument), ccnet's
    * verdict joins back once on the unique doc_id (its LM model is
    * the one vocabulary-sized term), and all 10 pair contingency
    * tables collapse in a single map-side-combinable aggregation —
    * no melt, no doc-keyed self-join, no gate-row exchange at any
    * corpus size. QualitySpec pins equality against the old
    * melt-and-self-join formulation.
    */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame =
    qualityEnsembleOn(Tables(spark, dir).documents)

  /** dedup_keepbest — QUALITY-AWARE cluster survivorship (the
    * decision dedup_clusters's min-id keeper punts on: when a
    * near-dup cluster holds one clean original and four mangled
    * re-crawls, a production dedup keeps the BEST copy, not the
    * lowest id — the survivorship policy of the CCNet/RefinedWeb
    * lines): every document labeled with its cluster, the Gopher
    * gate and the soft quality score, and a `best` flag on the
    * cluster's argmax under (gopher keep DESC, score DESC, doc_id
    * ASC) — rule gate first (never keep a rule-rejected copy over an
    * admitted one), score as tiebreak, id for determinism.
    *
    * Composition of REGISTERED operators (cluster labels via
    * [[Dedup.clustersDocs]], gate/score via the single rule definitions —
    * [[Text.withGopherFlags]] and [[Text.withQualityScore]], the
    * exact expression trees gopher_quality and quality_score
    * register), so the keep-list can't drift from what
    * dedup_clusters and gopher_quality each report. Scale shape: the
    * clustering machinery (star contraction, O(log n) rounds),
    * then ONE map-heavy scan computing BOTH the gate and the score
    * (round 15: the two chains share the same normalized word array
    * — `words(text)` ≡ withQualityScore's `w` by definition — so
    * stacking the rule definitions on one projection is
    * bit-identical to the two standalone operators while cutting a
    * full corpus scan AND one of the two doc_id shuffle joins; at
    * 100 TB the quality side of this query is one map stage + one
    * join, not two of each), and the per-cluster argmax on
    * [[graft.plans.TopK]] (k = 1) — a boilerplate cluster holding 10%
    * of the corpus is exactly the group a plain cluster_id window
    * would serialize on one task; Spark's `WindowGroupLimit` keeps one
    * row per cluster per partition map-side. The best-id join back is
    * cluster-keyed, output-sized.
    */
  def dedupKeepbest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val labels = Dedup.clustersDocs(docs, maxIters = 20)
      .select(col("doc_id"), col("cluster_id"))
    val qual = Text.withGopherFlags(Text.withQualityScore(docs))
      .select(col("doc_id"), col("keep").as("gq"), col("score"))
    // two consumers (the per-cluster argmax and the join back):
    // materialize once instead of re-planning labels ⋈ quality twice
    val base = labels.join(qual, "doc_id").materialized
    val best = graft.plans.TopK.topKPerKey(base,
        keys = Seq(col("cluster_id")),
        order = Seq(col("gq").desc, col("score").desc, col("doc_id").asc), k = 1)
      .select(col("cluster_id"), col("doc_id").as("best_id"))
    base.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("gq"), col("score"),
        (col("doc_id") === col("best_id")).cast("long").as("best"))
      .orderBy(col("doc_id"))
  }

  private[graft] def qualityEnsembleOn(docs: DataFrame): DataFrame = {
    // round 15 (the dedup_keepbest fusion play, one level up): the
    // old shape ran FIVE gate chains as five corpus scans, melted
    // them into a 5n-row frame, checkpointed it, and self-joined on
    // doc_id (10n joined rows through a doc-keyed exchange) before a
    // 10-group aggregation. But four of the five gates are pure
    // per-doc column chains over (text, source, lang) sharing the
    // same normalized word array, and every pair statistic is an
    // order-free integer sum — so ONE stacked scan computes all four
    // verdicts, ccnet's verdict (the one gate with corpus-level
    // machinery: the LM model + tertile thresholds) joins back once
    // on the unique doc_id, and all 10 pair contingency tables
    // collapse in a single map-side-combinable aggregation. No melt,
    // no self-join; one doc-keyed join-back for ccnet remains (the
    // committed plan's SortMergeJoin exchanges both the fused
    // four-gate projection and ccnet's frame on doc_id).
    // Row-set semantics are preserved exactly: ccnet's frame covers
    // only scored docs (the lmScore ≥ 2-word contract), so presence
    // rides as an indicator column and every sum conditions on it
    // the way the old inner self-join did; SQL null-skipping in the
    // value sums is inherited unchanged. Gate names stay ordered so
    // gate_a < gate_b enumerates the same 10 pairs.
    val gateNames = Seq("ccnet", "gopher", "lang", "score", "url")
    val ccnet = LangModel.ccnetBucketsOn(docs)
      .select(col("doc_id"), (col("bucket") === "head").cast("long").as("v_ccnet"),
        lit(1L).as("in_ccnet"))
    val four = Text.withUrlVerdict(Text.withLangPred(
        Text.withGopherFlags(Text.withQualityScore(docs))))
      .select(col("doc_id"),
        col("keep").as("v_gopher"),
        (col("pred_lang") === col("lang")).cast("long").as("v_lang"),
        (col("score") >= EnsembleScoreFloor).cast("long").as("v_score"),
        (col("verdict") === "pass").cast("long").as("v_url"))
    val wide = four.join(ccnet, Seq("doc_id"), "left")
    def v(g: String) = col(s"v_$g")
    def present(g: String): org.apache.spark.sql.Column =
      if (g == "ccnet") col("in_ccnet").isNotNull else lit(true)
    val pairNames = for {
      i <- gateNames.indices; j <- (i + 1) until gateNames.size
    } yield (gateNames(i), gateNames(j))
    val aggExprs = pairNames.zipWithIndex.flatMap { case ((a, b), k) =>
      Seq(
        // n_docs counted the old join's rows: one per doc PRESENT in
        // both gate frames, independent of the verdict values
        sum(when(present(a) && present(b), lit(1L))).as(s"n_$k"),
        sum(v(a) * v(b)).as(s"bk_$k"),
        sum((lit(1L) - v(a)) * (lit(1L) - v(b))).as(s"bd_$k"),
        sum(when(present(b), v(a))).as(s"ka_$k"),
        sum(when(present(a), v(b))).as(s"kb_$k"))
    }
    val aggRow = wide.agg(aggExprs.head, aggExprs.tail: _*)
    aggRow.selectExpr(
        "stack(" + pairNames.size + ", " + pairNames.zipWithIndex.map {
          case ((a, b), k) => s"'$a', '$b', n_$k, bk_$k, bd_$k, ka_$k, kb_$k"
        }.mkString(", ") +
        ") AS (gate_a, gate_b, n_docs, n_both_keep, n_both_drop, ka, kb)")
      // a pair row exists iff the old self-join produced ≥1 row for
      // it (an empty corpus or an empty ccnet frame drops the pair,
      // exactly as the old groupBy did)
      .filter(col("n_docs").isNotNull)
      .select(col("gate_a"), col("gate_b"), col("n_docs"),
        col("n_both_keep"), col("n_both_drop"),
        (col("n_docs") - col("n_both_keep") - col("n_both_drop")).as("n_disagree"),
        expr("CAST((CAST(n_both_keep AS DECIMAL(38,0)) + n_both_drop) * 1000000" +
          " div n_docs AS BIGINT)").as("agree_ppm"),
        // kappa = (po − pe) / (1 − pe) with po = agree/n,
        // pe = (ka·kb + (n−ka)(n−kb))/n²  →  all-integer form:
        // (agree·n − peN)·10⁶ div (n² − peN), peN on DECIMAL(38)
        expr("""CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs
               |  - (CAST(ka AS DECIMAL(38,0)) * kb
               |     + CAST(n_docs - ka AS DECIMAL(38,0)) * (n_docs - kb)) = 0
               |THEN 0L
               |ELSE CAST((CAST(n_both_keep + n_both_drop AS DECIMAL(38,0)) * n_docs
               |    - (CAST(ka AS DECIMAL(38,0)) * kb
               |       + CAST(n_docs - ka AS DECIMAL(38,0)) * (n_docs - kb)))
               |  * 1000000
               |  div (CAST(n_docs AS DECIMAL(38,0)) * n_docs
               |    - (CAST(ka AS DECIMAL(38,0)) * kb
               |       + CAST(n_docs - ka AS DECIMAL(38,0)) * (n_docs - kb)))
               |  AS BIGINT) END""".stripMargin).as("kappa_ppm"))
      .orderBy(col("gate_a"), col("gate_b"))
  }
}
