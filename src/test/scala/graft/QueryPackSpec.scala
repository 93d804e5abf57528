package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator semantic checks at sf0.001 (the DuckDB oracle at
  * sf0.01 is the driver's gate; these pin the semantics locally).
  */
class QueryPackSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("every registered query runs and is non-degenerate") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }

  test("PlanDump prints the AQE-final plan of the query that ran") {
    val plan = PlanDump.executed(SparkEntry.queries("q1_agg")(spark, sf))
    assert(plan.contains("isFinalPlan=true"), s"not the final plan:\n$plan")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scan pushdown: predicates reach the parquet scan, projection prunes the schema") {
    import org.apache.spark.sql.execution.ExplainMode
    def formatted(name: String): String =
      SparkEntry.queries(name)(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
    // q2: every predicate lands in PushedFilters at the scan
    val s2 = formatted("q2_filter_project")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThanOrEqual(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThan(l_quantity"))
      assert(s2.contains(f), s"predicate not pushed to scan: $f\n$s2")
    // projection pruning: lineitem has 16 columns, the query needs 6
    val rs2 = s2.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(rs2.count(_ == ':') - 1 == 6, s"ReadSchema not pruned to 6 columns: $rs2")
    assert(!rs2.contains("l_comment") && !rs2.contains("l_partkey"))
    // q1: the date filter is pushed too
    val s1 = formatted("q1_agg")
    assert(s1.contains("LessThanOrEqual(l_shipdate"), s"q1 date filter not pushed\n$s1")
  }

  test("plan guard: no query degenerates to nested-loop or single-partition outside the allowlist") {
    // Non-equi BROADCAST nested-loop is legitimate only where the
    // broadcast side is metadata-sized by construction: the ≤
    // MaxQueries query table (ann scoring is the designed O(n·q)
    // pass), the B² block grid (embedding sweep), or a 1-row global
    // aggregate (scalar subquery shape). Those same scalar aggregates
    // are the only tolerated single-partition exchanges. Everything
    // else must stay hash/range partitioned — this sweep makes a
    // future operator that silently degenerates fail CI.
    // pipeline_e2e left both lists in round 6: its survivor set now
    // materializes via localCheckpoint, so the interior stages'
    // scalar aggregates (sample_mixture's rates, the embedding
    // block grid) run at construction time and the FINAL plan is
    // pure hash-partitioned assembly — each interior stage is still
    // guarded through its own registered query below
    // lm_score left both lists in round 7: its train+score
    // materializes at construction (the pipeline_e2e pattern above),
    // so the vocabulary-size scalar aggregate and the broadcast-V
    // cross join run inside that build and the FINAL plan is a pure
    // scan of the scores + output sort
    // word_pmi joined round 7 wave 4: its 1-row bigram-total B is
    // the scalar-subquery shape (broadcast cross join + one
    // single-partition aggregate)
    // source_overlap's pair grid is |sources|² rows of kilobyte
    // sketches (the embedding block-grid class)
    // bm25_search's 1-row (N, A) corpus scalar is the word_pmi
    // scalar-subquery shape; ann_maxsim's broadcast side is the
    // ≤ MaxQueries query-chunk table (the ann scoring O(n·q) class)
    // ann_radius is ann_topk's scan without the top-k — the same
    // broadcast ≤ MaxQueries table drives the designed O(n·q) pass;
    // dedup_eval's per-method (n_pairs, n_hits, n_truth) scalars
    // cross-join as 1-row broadcasts (the scalar-subquery shape,
    // one per graded method — a code-constant list); cluster_stats
    // crosses in its 1-row corpus word total the same way
    // hybrid_search composes bm25_search verbatim as its lexical arm,
    // inheriting exactly that query's allowlisted shapes (the 1-row
    // (N, A) scalar cross join + its single-partition aggregate); the
    // dense arm and the fusion add none
    val bnljOk = Set("ann_pq", "ann_topk", "dedup_embedding",
      "q20_subquery", "sample_mixture", "word_pmi", "source_overlap",
      "bm25_search", "ann_maxsim", "drift_check", "ann_eval",
      "ann_radius", "dedup_eval", "cluster_stats", "hybrid_search")
    // dq_check is the documented MULTI-scalar class: one scalar
    // aggregation per declared constraint (a code constant, never
    // data-dependent) — its exchange count equals the constraint list
    // ann_eval runs one scalar summary per graded METHOD (plus the
    // methods' own allowlisted shapes inside its plan); dedup_eval
    // grades through ONE method-keyed aggregation — its only scalars
    // are the 1-row truth total and the interior methods' own shapes
    val multiScalarOk = Map("dq_check" -> 8, "ann_eval" -> 8,
      "dedup_eval" -> 4)
    // q24_funnel's whole-corpus funnel counts are one global
    // aggregate row, freq_words's final rank runs on one
    // ≤ FreqCapacity sketch row, and sketch_cube's rollup unions
    // ≤ |langs| kilobyte sketches — the scalar class
    // cluster_stats left this set in round 16: its corpus word total
    // is now the rollup's null-key grand-total row (one aggregation,
    // one corpus scan), so the query plans NO single-partition
    // exchange at all — the stricter default branch guards it
    // quality_ensemble (round 15 fusion, the round-16 carry-in fix:
    // the driver's r15 test run caught it missing here): all 10 pair
    // contingency tables collapse in ONE map-side-combinable global
    // aggregation — 31 partial sums into a single output row, the
    // q24_funnel whole-corpus-scalar class — then reshape by stack()
    val singlePartOk = Set("q20_subquery", "sample_mixture",
      "q24_funnel", "freq_words", "sketch_cube", "word_pmi",
      "bm25_search", "drift_check", "hybrid_search",
      "quality_ensemble")
    // ordering lives at the edge: a global Sort the optimizer keeps
    // below the root is a range exchange nobody reads in order —
    // only a Limit (top-k) may consume one
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Sort}
    def sortBelow(parent: LogicalPlan): Boolean = parent.children.exists {
      case s: Sort if s.global && !parent.isInstanceOf[LocalLimit] &&
          !parent.isInstanceOf[GlobalLimit] => true
      case c => sortBelow(c)
    }
    // the sweep plans with SmallSort excluded (WithRangeSort), as for
    // inputs above its bounds. At the default conf SmallSort may sort
    // a root global Sort in one partition: every single-partition
    // exchange the default plan adds must sit directly under it
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    def singlePartition(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }
    val interiorSorted = Seq.newBuilder[String]
    for ((name, fn) <- SparkEntry.queries) {
      spark.catalog.clearCache()
      val (df, plan) = WithRangeSort(spark) {
        val df = fn(spark, sf)
        (df, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
      }
      if (sortBelow(df.queryExecution.optimizedPlan)) interiorSorted += name
      val atDefault = nodes(org.apache.spark.sql.graftbridge.Bridge
        .ofRows(spark, df.queryExecution.logical).queryExecution.executedPlan)
      val sortFed = atDefault.collect { case s: SortExec if s.global => s.child }
        .filter(singlePartition)
      assert(sortFed.size <= 1 && atDefault.count(singlePartition) - sortFed.size ==
        nodes(df.queryExecution.executedPlan).count(singlePartition),
        s"$name: a default-conf single-partition exchange is not a root sort's:\n" +
          atDefault.head.treeString)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product:\n$plan")
      if (!bnljOk(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$plan")
      if (multiScalarOk.contains(name))
        assert(plan.split("Exchange SinglePartition").length - 1 <= multiScalarOk(name),
          s"$name: more single-partition exchanges than declared constraints:\n$plan")
      else if (!singlePartOk(name))
        assert(!plan.contains("Exchange SinglePartition"),
          s"$name plans a single-partition exchange:\n$plan")
      else
        assert(plan.split("Exchange SinglePartition").length - 1 == 1,
          s"$name: expected exactly one scalar-aggregate single-partition exchange:\n$plan")
    }
    assert(interiorSorted.result().isEmpty,
      s"global sort kept below the root in: ${interiorSorted.result().sorted.mkString(", ")}")
    // driver-loop operators (bpe_train, dedup/winnow_clusters) run
    // their rounds during construction, so the sweep above sees only
    // the final assembly — assert the ROUND plans via the factored
    // round builders on representative inputs
    import spark.implicits._
    val vocab = Seq((5L, Seq("l", "o", "w", "</w>")), (2L, Seq("l", "o", "</w>")))
      .toDF("freq", "syms")
    val roundPlans = Seq(
      "bpe pairCounts" ->
        operators.Tokenizer.pairCounts(vocab),
      "star contraction starRound" ->
        operators.Dedup.starRound(Seq((2L, 1L), (3L, 2L)).toDF("u", "v")),
      "pagerankRound" ->
        operators.Graph.pagerankRound(
          Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
          Seq((1L, 1L), (2L, 1L)).toDF("id", "outdeg"),
          Seq((1L, 1000000000L), (2L, 1000000000L)).toDF("id", "pr")),
      "kCoreFilterRound" ->
        operators.Graph.kCoreFilterRound(
          Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
          Seq(Tuple1(1L), Tuple1(2L)).toDF("id")))
    roundPlans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$name round degenerates to a nested loop:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name round plans a single-partition exchange:\n$plan")
    }
  }

  test("q41/q42: rank-function laws and an exact trailing-30-day recomputation") {
    // q41: per priority class — quartiles balanced to within one,
    // percent_rank spans [0, 1], cume_dist ends at 1, monotone
    val r41 = operators.Relational.q41(spark, sf).collect()
    for ((_, g) <- r41.groupBy(_.getString(0))) {
      val quartiles = g.groupBy(_.getAs[Long]("quartile")).view.mapValues(_.length)
      assert(quartiles.keySet.subsetOf(Set(1L, 2L, 3L, 4L)))
      assert(quartiles.values.max - quartiles.values.min <= 1,
        s"ntile unbalanced: $quartiles")
      val ordered = g.sortBy(r => (r.getDouble(2), r.getLong(1)))
      assert(ordered.head.getAs[Double]("pct_rank") == 0.0)
      assert(math.abs(ordered.last.getAs[Double]("pct_rank") - 1.0) < 1e-6)
      assert(math.abs(ordered.last.getAs[Double]("cume") - 1.0) < 1e-6)
      val cumes = ordered.map(_.getAs[Double]("cume"))
      assert(cumes.zip(cumes.tail).forall { case (a, b) => a <= b })
    }
    // q42: recompute one customer's trailing window exactly
    val r42 = operators.Relational.q42(spark, sf).collect()
    val byCust = r42.groupBy(_.getLong(0))
    val (_, orders) = byCust.maxBy(_._2.length)
    for (o <- orders) {
      val want = orders.filter(x => x.getLong(2) >= o.getLong(2) - 30 &&
        x.getLong(2) <= o.getLong(2))
      assert(o.getAs[Long]("n_orders_30d") == want.length.toLong,
        s"order ${o.getLong(1)}: count ${o.getAs[Long]("n_orders_30d")} vs ${want.length}")
    }
    // equal-day orders must see each other (RANGE, not ROWS)
    val sameDay = orders.groupBy(_.getLong(2)).find(_._2.length > 1)
    for ((_, g) <- sameDay; a <- g)
      assert(a.getAs[Long]("n_orders_30d") >= g.length,
        "RANGE frame must include same-day peers")
  }

  test("q37: NOT IN is null-aware — a NULL in the probe empties it, and the plan is NAAJ") {
    val df = operators.Relational.q37(spark, sf)
    assert(df.count() > 0, "null-free probe must keep the never-purchasers")
    // the registered form plans the null-aware BROADCAST HASH join,
    // not the nested-loop existence join of the projected variant
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the trailing `true` on the LeftAnti BroadcastHashJoin is the
    // isNullAwareAntiJoin flag (Spark doesn't print the mode by name)
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"q37 lost the null-aware anti-join plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // three-valued logic: ONE null in the probe list → zero rows
    val withNull = spark.sql(
      """SELECT e.event_id FROM q37_events e
        |WHERE e.user_id NOT IN (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN NULL ELSE user_id END
        |  FROM q37_events WHERE event_type = 'purchase')""".stripMargin)
    assert(withNull.count() == 0L, "NOT IN over a null-bearing probe must be empty")
  }

  test("dedup_fuzzy: planted single-char corruptions are found within the distance bound") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents.limit(50)
    // corrupt chars 10-12: the 3-char substitution touches at most 2
    // of the 6 aligned prefix segments, so the pigeonhole guarantee
    // puts the planted twin in at least one shared block
    val corrupted = docs.select((col("doc_id") + 100000L).as("doc_id"),
      overlay(col("text"), lit("zzz"), lit(10)).as("text"))
    val both = docs.select("doc_id", "text").unionByName(corrupted)
    val pairs = operators.Text.dedupFuzzyOn(both)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    for (id <- ids) {
      val hit = pairs.find(p => p._1 == id && p._2 == id + 100000L)
      assert(hit.isDefined, s"planted corruption of doc $id not found")
      assert(hit.get._3 <= 3L, s"distance ${hit.get._3} exceeds the 3-char edit")
    }
  }

  test("dedup_fuzzy_text: tail corruptions with an indel are found at full-text distance") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables(spark, sf).documents
      .filter(length(col("text")) >= 100).limit(40)
    // drop 3 chars at len-19, insert 2: two substitutions plus one
    // DELETION (lengths differ), entirely beyond char 64 — invisible
    // to the prefix variant's distance, visible to full-text PassJoin
    val corrupted = docs.select((col("doc_id") + 100000L).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - 20)"), lit("zq"),
        expr("substring(text, length(text) - 16)")).as("text"))
    val both = docs.select("doc_id", "text").unionByName(corrupted)
    val pairs = operators.Text.dedupFuzzyTextOn(both)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    for (id <- ids) {
      val hit = pairs.find(p => p._1 == id && p._2 == id + 100000L)
      assert(hit.isDefined, s"tail corruption of doc $id not found (recall gap)")
      assert(hit.get._3 >= 1L && hit.get._3 <= 5L,
        s"distance ${hit.get._3} out of range for 2 subs + 1 deletion")
    }
    // prefix-identical but tail-divergent docs: the prefix variant
    // false-pairs them at dist 0; the full-text variant must not
    val pref = "shared prefix words here repeated four times over " * 2 // > 64 chars
    val two = Seq(
      (1L, pref + "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, pref + "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    assert(operators.Text.dedupFuzzyOn(two).count() == 1L,
      "fixture sanity: prefix variant pairs prefix-identical docs")
    assert(operators.Text.dedupFuzzyTextOn(two).count() == 0L,
      "full-text variant must reject tail-divergent docs")
  }

  test("dedup_spans: exact maximal spans, self-repeats, sub-k phrases invisible") {
    import spark.implicits._
    val k = operators.Text.SpanK
    def ws(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = ws("dup", 40) // one 40-word verbatim run
    val short = ws("sub", k - 1) // k-1 words: below the span floor
    val docs = Seq(
      (1L, ws("a", 20) + " " + shared + " " + ws("b", 20)),
      (2L, ws("c", 25) + " " + shared + " " + ws("d", 5)),
      (3L, ws("e", 20) + " " + short + " " + ws("f", 20)),
      (4L, ws("g", 30) + " " + short),
      (5L, shared + " " + ws("x", 10) + " " + shared) // self-repeat
    ).toDF("doc_id", "text")
    val rows = operators.Text.dedupSpansOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // spans are MAXIMAL and EXACT: every position of the shared run,
    // nothing of the surrounding unique text; the k-1-word phrase
    // shared by docs 3/4 is invisible by the span floor; doc 5's two
    // occurrences stay two islands (the gap between them is unique)
    assert(rows.toSet == Set(
      (1L, 21L, 60L, 40L), (2L, 26L, 65L, 40L),
      (5L, 1L, 40L, 40L), (5L, 51L, 90L, 40L)),
      s"got: ${rows.mkString(", ")}")
    assert(rows.sortBy(r => (r._1, r._2)).sameElements(rows), "output ordering")
  }

  test("span_scrub: keep-first removal, exact counts, closure (no spans survive a scrub)") {
    import spark.implicits._
    val k = operators.Text.SpanK
    def ws(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = ws("dup", 40)
    val docs = Seq(
      (1L, ws("a", 20) + " " + shared + " " + ws("b", 20)), // keeper (min doc_id)
      (2L, ws("c", 25) + " " + shared + " " + ws("d", 5)),
      (3L, ws("e", 20) + " " + ws("sub", k - 1) + " " + ws("f", 20)),
      (5L, shared + " " + ws("x", 10) + " " + shared) // both occurrences lose
    ).toDF("doc_id", "text")
    val out = operators.Text.spanScrubOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == 0L, "keeper doc must keep every word")
    assert(byId(2L)._3 == 40L && !byId(2L)._4.contains("dup0"),
      s"doc 2 must lose exactly the shared run: ${byId(2L)}")
    assert(byId(2L)._4 == ws("c", 25) + " " + ws("d", 5))
    assert(byId(3L)._3 == 0L, "sub-k phrase must not be scrubbed")
    assert(byId(5L)._3 == 80L && byId(5L)._4 == ws("x", 10),
      s"both non-keeper occurrences must go: ${byId(5L)}")
    // closure: one copy of every duplicated run survives, so a rescan
    // of the scrubbed corpus finds no duplicated spans at all
    val rescanned = operators.Text.dedupSpansOn(
      out.map(r => (r._1, r._4)).toDF("doc_id", "text"))
    assert(rescanned.count() == 0L, "scrubbed corpus still has duplicated spans")
  }

  test("dedup_spans: output invariant under input partitioning") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    val base = operators.Text.dedupSpansOn(docs).collect().toSeq
    val shuffled = operators.Text.dedupSpansOn(
      docs.repartition(13, col("n_chars"))).collect().toSeq
    assert(base.nonEmpty, "no duplicated spans in testdata — fixture too weak")
    assert(base == shuffled, "spans depend on physical partitioning")
  }

  test("chunk_dedup: in-memory CDC reference, exact-dup saturation, insertion re-sync") {
    import spark.implicits._
    // hash60 = first 15 hex chars of md5 (the TextFunctions contract)
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    def ws(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val tail = ws("shared", 60)
    val texts = Seq(
      1L -> (ws("a", 30) + " " + tail),
      2L -> (ws("b", 7) + " " + tail), // different prefix LENGTH: fixed-size chunking would misalign
      3L -> ws("uniq", 40),
      4L -> ws("copy", 25),
      5L -> ws("copy", 25)) // exact duplicates
    val got = operators.Text.chunkDedupOn(texts.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

    // independent reference: cut after 1-based word j in [k, n-1]
    // when the trailing k-gram hashes 0 mod the divisor
    val k = operators.Text.ChunkK
    val dv = operators.Text.ChunkDiv
    def chunksOf(t: String): Seq[Seq[String]] = {
      val w = t.split(" ").toSeq
      val cuts = (k to w.size - 1).filter(j =>
        h60(w.slice(j - k, j).mkString(" ")) % dv == 0)
      val bounds = (0L +: cuts.map(_.toLong)) :+ w.size.toLong
      bounds.sliding(2).map { case Seq(a, b) =>
        w.slice(a.toInt, b.toInt) }.toSeq
    }
    val all = texts.map { case (id, t) => id -> chunksOf(t) }
    val counts = all.flatMap(_._2).groupBy(_.mkString(" "))
      .view.mapValues(_.size).toMap
    val expect = all.map { case (id, cs) =>
      val nW = cs.map(_.size).sum.toLong
      val dups = cs.filter(c => counts(c.mkString(" ")) > 1)
      val dw = dups.map(_.size).sum.toLong
      (id, cs.size.toLong, dups.size.toLong, dw, nW, dw * 1000000L / nW)
    }
    assert(got == expect)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(4L)._6 == 1000000L && byId(5L)._6 == 1000000L,
      "exact duplicates must saturate dup_ppm")
    assert(byId(3L)._4 == 0L, "unique doc must report zero duplicated words")
    assert(byId(1L)._4 >= 40L && byId(2L)._4 >= 40L,
      "content-defined boundaries must re-synchronize on the shared tail " +
        s"despite different prefixes: ${byId(1L)} / ${byId(2L)}")
  }

  test("chunk_dedup: output invariant under input partitioning") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    val base = operators.Text.chunkDedupOn(docs).collect().toSeq
    assert(base.exists(_.getLong(3) > 0L),
      "no duplicated chunk mass in testdata — fixture too weak")
    val shuffled = operators.Text.chunkDedupOn(
      docs.repartition(13, col("n_chars"))).collect().toSeq
    assert(base == shuffled)
  }

  test("q39_cube: grouping sets partition the fact table and gid labels them") {
    val rows = operators.Relational.q39(spark, sf).collect()
    val total = Tables(spark, sf).orders.count()
    // gid 3 = both columns rolled up = the grand total, exactly once
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1 && grand.head.getAs[Long]("n_orders") == total)
    assert(grand.head.getAs[String]("status") == "ALL" &&
      grand.head.getAs[String]("priority") == "ALL")
    // each grouping set's counts must sum to the fact-table total
    for (g <- 0L to 3L)
      assert(rows.filter(_.getAs[Long]("gid") == g)
        .map(_.getAs[Long]("n_orders")).sum == total, s"gid $g does not partition")
  }

  test("inverted_index: exact stats and cap-bounded postings on a planted corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cap = operators.Text.IndexPostingsCap
    // 'common' in every doc (> cap of them), 'rare' only in doc 3,
    // 'twice' twice in doc 5
    val docs = (1L to 25L).map { i =>
      val extra = (if (i == 3) " rare" else "") + (if (i == 5) " twice twice" else "")
      (i, s"common$extra")
    }.toDF("doc_id", "text")
    val got = operators.Text.invertedIndexOn(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got("common") == ((25L, 25L, (1L to cap).mkString(","))))
    assert(got("rare") == ((1L, 1L, "3")))
    assert(got("twice") == ((1L, 2L, "5")))
    // the hot term's postings are truncated at the cap, stats exact
    assert(got("common")._3.split(",").length == cap)
  }

  test("q40_lateral decorrelates: windowed group-limit + one equi-join, no re-execution") {
    val df = operators.Relational.q40(spark, sf)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the naive LATERAL interpretation is |customer| subquery runs;
    // Catalyst must rewrite to a per-key group-limit plus ONE join
    assert(plan.contains("WindowGroupLimit"), s"no group-limit rewrite:\n$plan")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size == 1, s"expected exactly one equi-join:\n$plan")
    // semantics: every customer contributes at most 3 orders, ordered
    val rows = df.collect()
    val perCust = rows.groupBy(_.getLong(0))
    assert(perCust.values.forall(_.length <= 3))
    assert(perCust.values.exists(_.length == 3), "fixture must have a 3-order customer")
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("classify_window thresholds match the reference") {
    // reference tests/test_flink_logic.py:26-35
    import graft.functions.HealthFunctions.classifyWindow
    import spark.implicits._
    val got = Seq(120.0, 40.0, 75.0, 100.0, 50.0).toDF("avg")
      .select(classifyWindow(col("avg"))).as[String].collect()
    assert(got.toSeq == Seq("tachycardia", "bradycardia", "normal", "normal", "normal"))
  }

  test("parse_event: valid payload parses, invalid JSON and missing fields yield null") {
    // reference tests/test_flink_logic.py:6-23
    import graft.functions.HealthFunctions.parseEvent
    import spark.implicits._
    val rows = Seq(
      """{"patient_id":"p001","timestamp":"2025-11-19T07:15:23.123456+00:00","heart_rate_bpm":85}""",
      "not-json",
      """{"patient_id":"p001"}""").toDF("raw")
      .select(parseEvent(col("raw")).as("p")).collect()
    assert(rows(0).getStruct(0) != null)
    assert(rows(0).getStruct(0).getAs[String]("patient_id") == "p001")
    assert(rows(0).getStruct(0).getAs[Long]("heart_rate_bpm") == 85L)
    assert(rows(0).getStruct(0).getAs[Long]("event_time") == 1763536523123L)
    assert(rows(1).isNullAt(0))
    assert(rows(2).isNullAt(0))
  }

  test("sessionize: session boundaries respect the 30min gap") {
    val df = SparkEntry.queries("q13_sessionize")(spark, sf)
    import spark.implicits._
    // within a user, consecutive sessions must be > gap apart
    val bad = df
      .withColumn("prev_end", lag(col("session_end_ms"), 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("session_id"))))
      .filter(col("prev_end").isNotNull &&
        col("session_start_ms") - col("prev_end") <= 30L * 60 * 1000)
      .count()
    assert(bad == 0)
  }

  test("tumbling windows: starts are hour-aligned and stats are consistent") {
    val df = SparkEntry.queries("hr_window_tumbling")(spark, sf)
    assert(df.filter(col("window_start_ms") % 3600000L =!= 0).count() == 0)
    assert(df.filter(col("min_hr") > col("max_hr")).count() == 0)
    assert(df.filter(col("window_end_ms") - col("window_start_ms") =!= 3600000L).count() == 0)
  }

  test("SQL extension functions are registered (cosine_sim, dot_product)") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 11.0)
    // wrong arity must fail with a clear message, not IndexOutOfBounds
    val e = intercept[Exception](spark.sql("SELECT cosine_sim(array(1.0d))").head())
    assert(e.getMessage.contains("requires exactly 2 arguments"), e.getMessage)
  }

  test("sketch aggregates stay within tolerance of exact answers") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q16_sketch")(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("approx_orders"), r.getAs[Double]("approx_p50_price"))).toMap
    val exact = Tables(spark, sf).lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("n"), r.getAs[Double]("p50"))).toMap
    for ((k, (en, ep)) <- exact) {
      val (an, ap) = approx(k)
      assert(math.abs(an - en).toDouble / en < 0.05, s"$k approx_count_distinct off >5%")
      assert(math.abs(ap - ep) / ep < 0.05, s"$k approx_percentile off >5%")
    }
  }

  test("salted aggregation equals the plain groupBy") {
    import org.apache.spark.sql.functions._
    val salted = SparkEntry.queries("q15_skew_salted")(spark, sf).collect()
    val plain = Tables(spark, sf).events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events")).orderBy(col("event_type")).collect()
    assert(salted.map(r => (r.getString(0), r.getAs[Long]("n_events"))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("prefix-filtered jaccard equals the plain inverted-index jaccard") {
    import org.apache.spark.sql.functions._
    val plain = graft.operators.Text.ngramJaccard(spark, sf).collect().map(_.toSeq).toSeq
    val prefix = graft.operators.Text.ngramJaccardPrefix(spark, sf).collect().map(_.toSeq).toSeq
    assert(plain.nonEmpty)
    assert(prefix == plain)
  }

  test("jaccard auto-select: Zipfian corpus routes to prefix filter, candidates stay bounded, result exact") {
    import spark.implicits._
    import graft.operators.Text
    // Zipf-ish corpus: token i drawn with weight ∝ 1/(i+1) from a
    // 150-word vocabulary — head tokens dominate, so head shingles
    // hit most docs (the plain-index blowup case)
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 150).map(i => s"w$i")
    val weights = vocab.indices.map(i => 1.0 / (i + 1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def draw(): String = { val u = rnd.nextDouble(); vocab(cdf.indexWhere(u <= _)) }
    // every doc opens with the same boilerplate header — the
    // real-world source of df≈n shingles (site chrome, licenses)
    val boiler = (0 until 12).map(i => s"b$i")
    val base = (0L until 100L).map(d => (d, boiler ++ Seq.fill(40)(draw())))
    // docs 100-119 are near-copies of docs 0-19 (last 3 tokens
    // replaced) so high-jaccard pairs exist to verify losslessness on
    val dupes = (0L until 20L).map(d =>
      (100L + d, base(d.toInt)._2.dropRight(3) ++ Seq.fill(3)(draw())))
    val docs = (base ++ dupes).map { case (d, t) => (d, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val sh = Text.shingleSetOf(docs).cache()
    val plainEst = Text.pairEstimateAndCount(sh)._1
    // the guard actually fires on this corpus…
    assert(plainEst > Text.MaxCandidateAmplification * sh.count(),
      s"corpus not skewed enough to exercise the guard: $plainEst pairs")
    // …and the prefix index it routes to collapses the candidate set
    val prefixEst = Text.pairEstimateAndCount(Text.prefixIndex(sh, 0.5))._1
    assert(prefixEst < plainEst / 4,
      s"prefix filter did not tame the blowup: $prefixEst vs $plainEst")
    // losslessness on the skewed corpus: auto output == brute-force
    // exact Jaccard over all doc pairs (driver-side, 120 docs)
    val got = Text.ngramJaccardOn(sh, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = sh.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      d1 <- sets.keys; d2 <- sets.keys if d1 < d2
      inter = (sets(d1) & sets(d2)).size
      j = inter.toDouble / (sets(d1).size + sets(d2).size - inter)
      jr = math.floor(j * 1e6 + 0.5) / 1e6 if jr >= 0.5
    } yield (d1, d2, jr)).toSet
    assert(expect.nonEmpty, "no high-jaccard pairs in the synthetic corpus")
    assert(got == expect)
    sh.unpersist()
  }

  test("decontaminate: a training doc copying benchmark text is flagged, unrelated text is not") {
    import spark.implicits._
    import graft.operators.Text
    // doc 3 (3 % 17 == 3) is benchmark; doc 18 (≡ 1) copies it
    // verbatim, doc 1 shares nothing (ids must avoid ≡ 3 mod 17)
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (3L, bench),
      (18L, bench),
      (21L, "nine ten eleven " + bench)).toDF("doc_id", "text")
    val out = Text.decontaminateOn(Text.shingleSetOf(docs)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(!out.contains(3L), "benchmark doc leaked into the training output")
    assert(out(1L)._2 == 0 && out(1L)._3 == 0, s"clean doc flagged: ${out(1L)}")
    assert(out(18L)._2 == out(18L)._1 && out(18L)._3 == 1, s"verbatim copy not flagged: ${out(18L)}")
    assert(out(21L)._3 == 1, s"mostly-copied doc not flagged: ${out(21L)}")
  }

  test("rep_stats: degenerate repetition is measured and flagged exactly") {
    import spark.implicits._
    import graft.operators.Text
    val docs = Seq(
      (1L, "a a a a b"), // top word 4/5; 2-grams [a a, a a, a a, a b] → dup 2/4
      (2L, "the quick brown fox jumps over the lazy dog")) // top 2/9, no dup 2-grams
      .toDF("doc_id", "text")
    val out = Text.repStatsOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(1L) == ((5L, 0.8, 0.5, 1L)), s"got ${out(1L)}")
    assert(out(2L)._1 == 9L && out(2L)._3 == 0.0 && out(2L)._4 == 0L, s"got ${out(2L)}")
  }

  test("corpus_shuffle: a deterministic permutation — every doc once, contiguous shard positions") {
    import graft.operators.Curation
    val docs = Tables(spark, sf).documents
    val shuffled = Curation.corpusShuffleOn(docs)
    // sharded windows, never a global one — same contract as seq_pack
    val plan = WithRangeSort(spark)(shuffled.queryExecution.executedPlan.toString)
    assert(!plan.contains("SinglePartition"),
      "corpus_shuffle plan has a single-partition exchange")
    val a = shuffled.collect()
    val b = Curation.corpusShuffleOn(docs).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "shuffle is not deterministic")
    assert(a.map(_.getLong(0)).toSet.size == a.length)
    assert(a.length == docs.count())
    // per shard: positions are exactly 1..n_shard
    a.groupBy(_.getLong(1)).values.foreach { rows =>
      val pos = rows.map(_.getLong(2)).sorted.toSeq
      assert(pos == (1L to rows.length.toLong), s"gapped positions: ${pos.take(5)}")
    }
    // it actually permutes: doc order within shard 0 differs from id order
    val s0 = a.filter(_.getLong(1) == 0L).sortBy(_.getLong(2)).map(_.getLong(0)).toSeq
    assert(s0 != s0.sorted, "shard order degenerated to id order")
  }

  test("dedup_lines: boilerplate survives only once, kept lines = distinct lines") {
    import graft.functions.TextFunctions.words
    val out = operators.Text.dedupLines(spark, sf).cache()
    val docs = Tables(spark, sf).documents
    // every 5th doc got the injected boilerplate line; only the first
    // (doc_id 0) keeps it — later fixture docs lose ≥1 line
    val fixture = out.filter(col("doc_id") % 5 === 0 && col("doc_id") > 0)
    assert(fixture.count() > 0)
    assert(fixture.filter(col("n_kept") >= col("n_lines")).count() == 0,
      "a later boilerplate occurrence was not removed")
    assert(out.filter(col("doc_id") === 0).head
      .getAs[String]("new_text").contains("subscribe"))
    assert(out.filter(col("doc_id") =!= 0 && col("new_text").contains("subscribe"))
      .count() == 0, "boilerplate text survived outside its first occurrence")
    // defining property: each distinct line survives exactly once
    // corpus-wide (short tail-lines collide across docs too, so this
    // is the exact global invariant — recomputed independently here)
    val kept = out.agg(sum(col("n_kept"))).head.getLong(0)
    val lw = operators.Text.LineWords
    val start = col("line_id") * lw + 1
    val nDistinct = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(operators.Text.BoilerLine + " "), col("text")))
          .otherwise(col("text")).as("text"))
      .withColumn("w", words(col("text")))
      .withColumn("line_id", explode(when(size(col("w")) > 0,
        sequence(lit(0L),
          floor((size(col("w")) + lit(lw - 1)) / lit(lw)).cast("long") - 1))))
      .select(concat_ws(" ", slice(col("w"), start, lit(lw))).as("line_text"))
      .distinct().count()
    assert(kept == nDistinct, s"kept $kept lines but corpus has $nDistinct distinct lines")
    assert(kept < out.agg(sum(col("n_lines"))).head.getLong(0), "nothing was deduplicated")
    out.unpersist()
  }

  test("dedup_incremental: statuses partition the batch by construction") {
    val out = operators.Text.dedupIncremental(spark, sf).cache()
    // batch ids are parity-encoded: real = 2·id (even), echo = 2·id+1
    // (odd); raw id classes map to encoded % 8 classes (2·(4j+2) =
    // 8j+4, 2·(4j) = 8j)
    // echoed docs duplicate an earlier same-fingerprint batch doc that
    // is NOT in history (base doc_id % 8 == 0 → % 4 == 0)
    assert(out.filter(col("doc_id") % 2 === 1 && col("status") =!= "dup_batch").count() == 0)
    // batch docs with raw doc_id % 4 == 2 (encoded % 8 == 4) are in history
    assert(out.filter(col("doc_id") % 8 === 4 &&
      col("status") =!= "dup_history").count() == 0)
    // batch docs with raw doc_id % 4 == 0 (encoded % 8 == 0) are new and first → kept
    assert(out.filter(col("doc_id") % 8 === 0 &&
      col("status") =!= "kept").count() == 0)
    // all three classes occur
    assert(out.select(col("status")).distinct().count() == 3)
    out.unpersist()
  }

  test("sample_mixture: bottleneck stratum keeps everything, rates hit the target shares") {
    import graft.functions.TextFunctions.words
    val rates = operators.Curation.sampleMixture(spark, sf)
      .groupBy(col("lang")).agg(max(col("rate_ppm")).as("rate_ppm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the bottleneck stratum keeps (almost) everything: its rate is
    // sppm·(wl·10⁶ div sppm) div wl — two integer floors shy of 10⁶
    assert(rates.values.max >= 999000L,
      s"no stratum keeps ~everything — T is not the binding min (max rate ${rates.values.max})")
    assert(rates.values.forall(r => r > 0 && r <= 1000000L))
    // expected sampled token mass per lang ≈ share · T: recompute the
    // closed form and check the operator's rates match it exactly
    val wl = Tables(spark, sf).documents
      .select(col("lang"), size(words(col("text"))).cast("long").as("nw"))
      .groupBy(col("lang")).agg(sum(col("nw")).as("wl"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val shares = operators.Curation.MixtureSharesPpm.toMap
    val t = shares.collect { case (l, s) if wl.contains(l) => wl(l) * 1000000L / s }.min
    for ((l, r) <- rates)
      assert(r == math.min(1000000L, shares(l) * t / wl(l)), s"rate mismatch for $l")
  }

  test("round-4 operators keep their scale shapes: no single-partition exchange anywhere") {
    // dedup_lines: hash joins on line-md5 and doc_id; dedup_incremental:
    // fingerprint-keyed joins. Neither may plan a SinglePartition
    // exchange (the seq_pack lesson: a global window serializes the
    // whole corpus through one task).
    Seq(
      "dedup_lines" -> operators.Text.dedupLines(spark, sf),
      "dedup_incremental" -> operators.Text.dedupIncremental(spark, sf)
    ).foreach { case (name, df) =>
      val plan = WithRangeSort(spark)(df.queryExecution.executedPlan.toString)
      assert(!plan.contains("SinglePartition"),
        s"$name plans a single-partition exchange:\n$plan")
    }
    // sample_mixture DOES plan exactly one SinglePartition exchange —
    // the min over the ≤|strata| per-language capacity rows (metadata-
    // sized, corpus-independent). The corpus itself must never feed
    // one: every corpus-side exchange is the lang aggregation or the
    // output sort.
    val pm = WithRangeSort(spark)(operators.Curation.sampleMixture(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(pm.split("Exchange SinglePartition").length - 1 == 1,
      s"sample_mixture: expected exactly the one strata-min single-partition exchange:\n$pm")
  }

  test("pipeline_e2e: stages shrink the corpus monotonically and packing conserves words") {
    import graft.functions.TextFunctions.{normalize, words}
    val docs = Tables(spark, sf).documents
    val n0 = docs.count()
    // re-run the stage chain with the same operators to observe the
    // intermediate survivor counts the composed query hides
    val s1 = docs.join(operators.Text.qualityScoreOn(docs)
      .filter(col("score") >= operators.Pipeline.MinQuality).select("doc_id"), "doc_id")
    val s2 = s1.join(s1.groupBy(md5(normalize(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id"), "doc_id")
    val s3 = s2.filter(col("doc_id") % 17 =!= 3)
      .join(operators.Text.decontaminateOn(operators.Text.shingleSetOf(s2))
        .select(col("doc_id"), col("contaminated")), Seq("doc_id"), "left")
      .filter(coalesce(col("contaminated"), lit(0L)) === 0)
      .drop("contaminated")
    val (n1, n2, n3) = (s1.count(), s2.count(), s3.count())
    assert(n1 <= n0 && n2 <= n1 && n3 < n2, s"stages did not shrink: $n0 → $n1 → $n2 → $n3")
    assert(n3 > 0, "pipeline dropped everything — thresholds broken for this corpus")
    val packs = operators.Pipeline.pipelineE2e(spark, sf).collect()
    assert(packs.nonEmpty)
    // a pack never exceeds budget by more than one straddling chunk
    val bound = operators.Curation.PackBudget + operators.Curation.ChunkWords
    packs.foreach { p =>
      assert(p.getAs[Long]("n_words") <= bound,
        s"pack ${p.getAs[Long]("pack_id")} holds ${p.getAs[Long]("n_words")} words > $bound")
    }
    // conservation: packed words = words of the surviving corpus's
    // chunks (nothing lost or duplicated by the packing stage)
    val packedWords = packs.map(_.getAs[Long]("n_words")).sum
    val sampled = operators.Curation.sampleMixtureOn(s3).select("doc_id")
    val s4words = operators.Curation.docChunkOn(s3.join(sampled, "doc_id"))
      .agg(sum(col("n_chunk_words"))).head.getLong(0)
    assert(packedWords == s4words, s"packed $packedWords words, chunks hold $s4words")
    // pack ids are contiguous from 0
    val ids = packs.map(_.getAs[Long]("pack_id")).sorted
    assert(ids.head == 0L && ids.last == ids.length - 1, "pack ids not contiguous")
  }

  test("salted fact-fact join equals the plain unsalted join") {
    import org.apache.spark.sql.functions._
    import graft.Exact._
    val salted = SparkEntry.queries("q21_skew_join")(spark, sf).collect()
    val t = Tables(spark, sf)
    val plain = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority")).collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("hr_episodes equals the batch EpisodeTracker's episodes") {
    import spark.implicits._
    import graft.streaming._
    val batch = SparkEntry.queries("hr_episodes")(spark, sf).collect()
    // feed the same tumbling alerts through the streaming state machine
    val alerts = SparkEntry.queries("hr_window_tumbling")(spark, sf)
      .select(concat(lit("u"), col("user_id")).as("patient_id"),
        timestamp_millis(col("window_start_ms")).as("window_start"),
        timestamp_millis(col("window_end_ms")).as("window_end"),
        col("avg_hr"), col("alert_type"))
      .as[WindowAlert]
    val streamed = EpisodeTracker.episodes(alerts).collect()
    // a batch Dataset holds all of its input, so the tracker emits the
    // runs still open at its end, as gaps-and-islands does: the two
    // must report the same episodes with identical bounds and peaks
    val batchKeys = batch.map(r => (s"u${r.getAs[Long]("user_id")}",
      r.getAs[Long]("episode_start_ms"), r.getAs[Long]("episode_end_ms"),
      r.getAs[Long]("n_windows"), r.getAs[Double]("peak_avg_hr"))).toSet
    val streamKeys = streamed.map(e => (e.patient_id, e.start.getTime, e.end.getTime,
      e.n_windows.toLong, e.peak_avg_hr)).toSet
    assert(streamKeys.nonEmpty)
    assert(streamed.length == batch.length && streamKeys == batchKeys,
      s"tracker-only: ${streamKeys -- batchKeys}; batch-only: ${batchKeys -- streamKeys}")
  }

  test("q18_topk_custom: same rows as the window formulation, WindowGroupLimit plan") {
    val custom = SparkEntry.queries("q18_topk_custom")(spark, sf)
    val viaWindow = SparkEntry.queries("q6_window_rank")(spark, sf)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_suppkey"), col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    assert(custom.collect().map(_.toSeq).toSeq == viaWindow.collect().map(_.toSeq).toSeq)
    // AQE's toString appends an "== Initial Plan ==" copy — examine
    // only the final plan section
    val plan = custom.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // WindowGroupLimit sorts each map partition before its partial
    // limit, so a Sort below the top-k is expected (the deleted heap
    // operator had none, and this test used to assert that)
    TopKPerKeySpec.assertGroupLimit(plan)
  }

  test("topk is ordered and bounded") {
    val rows = SparkEntry.queries("q4_topk")(spark, sf).collect()
    assert(rows.length == 50)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("winnow: rolling hash equals the naive polynomial hash, selections are rightmost-min") {
    import graft.functions.{WinnowFingerprints, WinnowFunctions}
    import spark.implicits._
    val k = operators.Text.WinnowK
    val w = operators.Text.WinnowW
    val text = "the quick brown fox jumps over the lazy dog and the quick brown cat"
    val enc = Seq(text).toDF("t")
      .select(WinnowFunctions.winnowFingerprints(col("t"), k, w).as("e"))
      .as[Seq[Long]].head()
    // naive reference: hash every k-gram from scratch, take the
    // rightmost minimum of each w-window, dedup consecutive repeats
    val M = WinnowFingerprints.M; val B = WinnowFingerprints.B
    val h = (0 to text.length - k).map { p =>
      text.substring(p, p + k).foldLeft(0L)((a, c) => (a * B + c) % M)
    }
    val naive = (0 to h.length - w).map { q =>
      val win = h.slice(q, q + w)
      val m = win.min
      q + win.lastIndexOf(m) // rightmost of equal minima
    }.distinct.map(s => ((s + 1).toLong << 32) | h(s))
    assert(enc == naive)
    // selected positions strictly increase (winnowing invariant the
    // oracle's DISTINCT relies on)
    val pos = enc.map(_ >>> 32)
    assert(pos.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    // codepoint semantics: an astral char (2 UTF-16 units, 1
    // codepoint) must hash as ONE symbol, as the oracle's
    // substr/unicode do — unit-based hashing would shift every
    // position after it
    val astral = "prefix 𝕏 suffix material to fingerprint here"
    val encA = Seq(astral).toDF("t")
      .select(WinnowFunctions.winnowFingerprints(col("t"), k, w).as("e"))
      .as[Seq[Long]].head()
    val cps = astral.codePoints().toArray
    val hA = (0 to cps.length - k).map { p =>
      cps.slice(p, p + k).foldLeft(0L)((a, c) => (a * B + c) % M)
    }
    val naiveA = (0 to hA.length - w).map { q =>
      val win = hA.slice(q, q + w)
      q + win.lastIndexOf(win.min)
    }.distinct.map(s => ((s + 1).toLong << 32) | hA(s))
    assert(encA == naiveA)
  }

  test("winnow guarantee: docs sharing a passage >= k+w-1 chars share a fingerprint hash") {
    import graft.functions.WinnowFunctions
    import spark.implicits._
    val k = operators.Text.WinnowK
    val w = operators.Text.WinnowW
    val shared = "a distinctive shared passage of text" // >> k+w-1 = 11
    val docs = Seq(
      (1L, s"first document begins here $shared and then diverges completely"),
      (2L, s"totally different opening material $shared closing words differ too"),
      (3L, "no overlap with the others at all in this unrelated filler document")
    ).toDF("doc_id", "text")
    val fps = operators.Text.fingerprintWinnowOn(docs)
      .select(col("doc_id"), col("fp")).as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, a) => d -> a.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared passage must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty == (fps(2L) & fps(3L)).isEmpty) // sanity only
    // density: winnowing selects ~2/(w+1) of k-gram hashes; allow wide slack
    val df = SparkEntry.queries("fingerprint_winnow")(spark, sf)
    val nFps = df.count().toDouble
    val nHashes = Tables(spark, sf).documents
      .select(sum(greatest(length(graft.functions.TextFunctions.normalize(col("text"))) - (k - 1), lit(0))))
      .head().getLong(0).toDouble
    val density = nFps / nHashes
    assert(density > 1.0 / (w + 1) && density < 3.0 / (w + 1),
      s"winnow density $density far from 2/(w+1)=${2.0 / (w + 1)}")
    // plan shape: winnowing is map-side inside the scan stage — the
    // only exchange is the output sort's range partitioning
    val plan = WithRangeSort(spark)(df.queryExecution.executedPlan.toString)
      .split("== Initial Plan ==")(0)
    assert(plan.split("Exchange").length - 1 == 1,
      s"fingerprint_winnow should shuffle only for the output sort:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-partition exchange:\n$plan")
  }

  test("freq_words exactness precondition: vocabulary under the counter budget, sketch = exact") {
    import graft.functions.TextFunctions.words
    // the oracle row is valid only while capacity > live vocabulary
    // (no evictions → the Misra-Gries summary IS the count table);
    // this guard turns a silent generator-vocab growth into a
    // pointed failure instead of a flaky oracle mismatch
    val wordCol = Tables(spark, sf).documents
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = wordCol.select("w").distinct().count()
    assert(vocab < operators.Text.FreqCapacity,
      s"vocabulary $vocab >= FreqCapacity=${operators.Text.FreqCapacity}: " +
        "freq_words leaves the exact regime and its oracle row must be rethought")
    val exact = wordCol.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    SparkEntry.queries("freq_words")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("est") == exact(r.getAs[String]("term")))
    }
  }

  test("funnel stages shrink monotonically; retention day-0 is the full cohort") {
    val f = SparkEntry.queries("q24_funnel")(spark, sf).collect()
    assert(f.map(_.getAs[String]("stage")).toSeq ==
      Seq("signup", "view", "click", "purchase"))
    val n = f.map(_.getAs[Long]("n_users"))
    assert(n.zip(n.drop(1)).forall(p => p._1 >= p._2), s"funnel grew: ${n.toSeq}")
    assert(n.head > 0 && n.last >= 0)
    val r = SparkEntry.queries("q25_retention")(spark, sf).collect()
    r.filter(_.getAs[Long]("day_offset") == 0L).foreach { row =>
      assert(row.getAs[Long]("n_active") == row.getAs[Long]("cohort_size"))
      assert(row.getAs[Long]("retained_ppm") == 1000000L)
    }
    assert(r.forall(row => row.getAs[Long]("n_active") <= row.getAs[Long]("cohort_size")))
    assert(r.forall(_.getAs[Long]("day_offset") >= 0L))
  }

  test("ts_resample: uniform per-user grid covering the range, monotone forward fill") {
    val step = operators.Temporal.ResampleStepMs
    val rows = SparkEntry.queries("ts_resample")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getLong(0))
    val ev = Tables(spark, sf).events
      .filter(col("value").isNotNull) // null-value events neither fill nor bound
      .select(col("user_id"), unix_millis(col("ts")).as("ms")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1))).toMap
    assert(byUser.keySet == ev.keySet)
    byUser.foreach { case (u, g) =>
      val ts = g.map(_.getLong(1)).sorted
      // consecutive multiples of the step, spanning floor(min)..floor(max)
      assert(ts.head == ev(u).min / step * step && ts.last == ev(u).max / step * step)
      assert(ts.zip(ts.drop(1)).forall(p => p._2 - p._1 == step))
      // fill is monotone: once a value appears it never reverts to
      // null, and staleness is non-negative
      val nulls = g.sortBy(_.getLong(1)).map(_.isNullAt(2))
      assert(!nulls.zip(nulls.drop(1)).exists(p => !p._1 && p._2))
      g.filter(!_.isNullAt(4)).foreach(r => assert(r.getLong(4) >= 0))
    }
  }

  test("winnow_clusters: pairs share clusters, keepers are cluster minima, singletons self-keep") {
    import spark.implicits._
    val cl = SparkEntry.queries("winnow_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = SparkEntry.queries("winnow_pairs")(spark, sf)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect()
    assert(cl.size == Tables(spark, sf).documents.count())
    pairs.foreach { case (a, b) =>
      assert(cl(a)._1 == cl(b)._1, s"pair ($a,$b) split across clusters")
    }
    // keeper iff the doc IS its cluster id, and cluster ids are their
    // own cluster's minimum member
    val members = cl.groupBy(_._2._1).view.mapValues(_.keys.min).toMap
    members.foreach { case (cid, minDoc) => assert(cid == minDoc) }
    cl.foreach { case (d, (cid, keep)) => assert((keep == 1L) == (d == cid)) }
    // paired docs reduce the keeper count below the doc count
    assert(cl.values.map(_._2).sum < cl.size)
  }

  test("corpus_stats: CUBE margins are consistent and match the raw corpus") {
    val df = SparkEntry.queries("corpus_stats")(spark, sf).collect()
    def row(l: String, s: String) = df.find(r =>
      r.getAs[String]("lang") == l && r.getAs[String]("source") == s).get
    val all = row("ALL", "ALL")
    assert(all.getAs[Long]("n_docs") == Tables(spark, sf).documents.count())
    // each margin sums to the grand total, for every measure
    for (m <- Seq("n_docs", "n_words", "n_chars", "n_hq")) {
      val byLang = df.filter(r => r.getAs[String]("lang") != "ALL" &&
        r.getAs[String]("source") == "ALL").map(_.getAs[Long](m)).sum
      val bySource = df.filter(r => r.getAs[String]("lang") == "ALL" &&
        r.getAs[String]("source") != "ALL").map(_.getAs[Long](m)).sum
      val byCell = df.filter(r => r.getAs[String]("lang") != "ALL" &&
        r.getAs[String]("source") != "ALL").map(_.getAs[Long](m)).sum
      assert(Set(byLang, bySource, byCell) == Set(all.getAs[Long](m)),
        s"$m margins disagree: lang=$byLang source=$bySource cell=$byCell all=${all.getAs[Long](m)}")
    }
    assert(df.forall(r => r.getAs[Long]("n_hq") <= r.getAs[Long]("n_docs")))
    assert(df.forall(r => r.getAs[Long]("est_tokens") == r.getAs[Long]("n_chars") / 4))
  }

  test("winnow_pairs: shared-passage pair detected, covers every jaccard pair, no degenerate plan") {
    import spark.implicits._
    // constructed: doc 2 is mostly a passage lifted from doc 1; doc 3
    // is unrelated — the lifted pair must surface, the others not
    val passage = "the entire middle section of this document was copied verbatim " +
      "from another longer source document including all of its phrasing"
    val docs = Seq(
      (1L, s"original author wrote an opening paragraph here $passage and a closing one too"),
      (2L, s"$passage with a short new tail"),
      (3L, "completely unrelated material that shares no phrasing with either other document at all")
    ).toDF("doc_id", "text")
    val pairs = operators.Text.winnowPairsOn(docs)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"expected only the lifted pair, got $pairs")
    // cross-operator recall on the corpus: every word-3-gram
    // Jaccard >= 0.5 pair is also a winnow containment pair (char
    // k-grams are strictly finer than word 3-grams)
    val wp = SparkEntry.queries("winnow_pairs")(spark, sf)
    val winnowSet = wp.select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val jaccard = SparkEntry.queries("ngram_jaccard")(spark, sf)
      .select(col("d1"), col("d2")).as[(Long, Long)].collect().toSet
    assert(jaccard.subsetOf(winnowSet),
      s"jaccard pairs missed by winnow: ${jaccard -- winnowSet}")
    // joins key on the uniform fp hash; nothing may degenerate to a
    // single partition or a nested-loop product
    val plan = wp.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("SinglePartition"), s"single-partition exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in winnow_pairs plan:\n$plan")
  }

  test("html_extract recovers the body text bit-exactly and drops script/style/comments") {
    import graft.functions.TextFunctions.normalize
    val docs = Tables(spark, sf).documents
    val got = SparkEntry.queries("html_extract")(spark, sf)
    val joined = got.join(
      docs.select(col("doc_id"), normalize(col("text")).as("norm")), "doc_id").cache()
    // wrapped docs: extraction == normalized body + the unescaped suffix
    val wrappedBad = joined.filter(col("doc_id") % 6 === 0)
      .filter(col("extracted") =!= concat(col("norm"), lit(" & more")))
    assert(wrappedBad.count() == 0, "wrapped docs must round-trip to body + ' & more'")
    // untouched docs: extraction is plain normalization, zero tags
    val plainBad = joined.filter(col("doc_id") % 6 =!= 0)
      .filter(col("extracted") =!= col("norm") || col("was_html") =!= 0)
    assert(plainBad.count() == 0, "non-HTML docs must pass through normalized")
    // flags exact; no tag residue; script/comment payloads never leak
    assert(got.filter((col("doc_id") % 6 === 0) =!= (col("was_html") === 1)).count() == 0)
    assert(got.filter(col("extracted").contains("<") ||
      col("extracted").contains("var x") ||
      col("extracted").contains("footer") ||
      col("extracted").contains("color")).count() == 0)
    joined.unpersist()
  }

  test("k_anon suppresses exactly the rare QI groups, corpus never shuffles") {
    val docs = Tables(spark, sf).documents
    val got = SparkEntry.queries("k_anon")(spark, sf).cache()
    // group_n is the true group size of the doc's QI tuple
    val expected = docs
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"n_chars div ${operators.Curation.KAnonLenBucket}").as("lb"))
    val k = operators.Curation.KAnonK
    val sizes = expected.groupBy("lang", "source", "lb").count()
    val truth = expected.join(sizes, Seq("lang", "source", "lb"))
    val merged = got.join(truth, "doc_id")
    assert(merged.filter(col("group_n") =!= col("count")).count() == 0)
    // suppression boundary is exact, and suppressed rows leak nothing
    assert(merged.filter((col("count") < k) =!= (col("suppressed") === 1)).count() == 0)
    assert(got.filter(col("suppressed") === 1)
      .filter(col("lang_out") =!= "*" || col("source_out") =!= "*" ||
        col("len_bucket_out") =!= "*").count() == 0)
    assert(got.filter(col("suppressed") === 0)
      .filter(col("lang_out") === "*").count() == 0)
    // both regimes exercised at this SF
    assert(got.filter(col("suppressed") === 1).count() > 0)
    assert(got.filter(col("suppressed") === 0).count() > 0)
    // scale shape: group sizes broadcast back — the corpus-side join
    // must be a broadcast, not a QI-keyed shuffle of every document
    val plan = got.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"k_anon lost its broadcast join:\n$plan")
    got.unpersist()
  }
}
