package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the pagerank operator: exact equality against an
  * independent in-memory integer PageRank at sf0.001, teleport-only
  * mass for isolated nodes, and partitioning invariance (integer
  * lattice ⇒ parallelism cannot change a digit).
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  /** Cold Spark-job budgets at sf0.001 (local[4]): today's measured
    * counts, so a regression fails like the plan guard does.
    */
  private val ClusterStatsJobs = 36
  private val CommunityStatsJobs = 21
  private val GraphCommunitiesJobs = 16
  private val HrEpisodesJobs = 5
  private val QualityScoreJobs = 3

  /** Plain-Scala reference: same integer arithmetic, same rounds. */
  private def referencePr(nodes: Seq[Long], edges: Seq[(Long, Long)])
      : Map[Long, (Long, Long)] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inbound = edges.groupBy(_._2)
    var pr: Map[Long, Long] = nodes.map(_ -> operators.Graph.PrScale).toMap
    for (_ <- 1 to operators.Graph.PrIters) {
      pr = nodes.map { n =>
        val s = inbound.getOrElse(n, Nil)
          .map { case (src, _) => pr(src) / outdeg(src) }
          .foldLeft(BigInt(0))(_ + _)
        n -> (operators.Graph.PrTeleport +
          (BigInt(operators.Graph.PrDampPct) * s / 100).toLong)
      }.toMap
    }
    pr.map { case (n, v) => n -> (outdeg.getOrElse(n, 0L), v) }
  }

  test("pagerank equals the in-memory integer reference on the sf0.001 trade graph") {
    val t = Tables(spark, sf)
    val got = operators.Graph.pagerank(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
    // rebuild the same graph with plain Scala
    import spark.implicits._
    val custs = t.customer.select("c_custkey").as[Long].collect().toSeq.map(_ * 2)
    val supps = t.supplier.select("s_suppkey").as[Long].collect().toSeq.map(_ * 2 + 1)
    val li = t.lineitem
    val ord = t.orders
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select("o_custkey", "l_suppkey").as[(Long, Long)]
      .collect().toSeq.map { case (c, s) => (c * 2, s * 2 + 1) }.distinct
    val edges = pairs ++ pairs.map(_.swap)
    val ref = referencePr(custs ++ supps, edges)
    assert(got.length == (custs.size + supps.size))
    for ((id, (tpe, deg, pr)) <- got) {
      assert(tpe == (if (id % 2 == 1) "s" else "c"))
      val (refDeg, refPr) = ref(id)
      assert(deg == refDeg, s"node $id degree $deg != $refDeg")
      assert(pr == refPr, s"node $id pr $pr != $refPr")
    }
  }

  test("isolated nodes hold exactly the teleport mass; connected mass exceeds it") {
    import spark.implicits._
    val customer = Seq(1L, 2L, 99L).toDF("c_custkey")
      .withColumn("c", org.apache.spark.sql.functions.lit("x"))
    val supplier = Seq(7L).toDF("s_suppkey")
    val orders = Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 7L), (11L, 7L)).toDF("l_orderkey", "l_suppkey")
    val got = operators.Graph.pagerankOn(customer, supplier, orders, lineitem)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(2L * 99L) == operators.Graph.PrTeleport, "isolated node must keep teleport only")
    val hub = 2L * 7L + 1L
    assert(got(hub) > got(2L * 1L) && got(hub) > got(2L * 99L),
      "the hub supplier must out-rank its leaf customers")
  }

  test("a pagerank round never re-shuffles the partitioned edge list") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // mirror pagerankOn's EXACT round environment: edges
    // hash-partitioned on src and materialized as row blocks, ranks
    // partitioned on id, AQE off (pagerankOn pins it off for the
    // loop — the round is never planned under AQE)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
        .toDF("src", "dst").repartition(col("src")).localCheckpoint(true)
      val base = Seq((1L, 1L), (2L, 2L), (3L, 1L))
        .toDF("id", "outdeg").repartition(col("id")).localCheckpoint(true)
      val pr = Seq((1L, 1000L), (2L, 1000L), (3L, 1000L))
        .toDF("id", "pr").repartition(col("id")).localCheckpoint(true)
      val round = operators.Graph.pagerankRound(edges, base, pr)
      val plan = round.queryExecution.executedPlan.toString
      // both join inputs are pre-partitioned on their join keys, so
      // the round's COMPLETE shuffle budget is the ONE contrib
      // aggregation exchange (dst): the shuffled-hash contrib join
      // and the rank join-back must both consume the existing
      // hash(·) partitioning with no planner-inserted exchange, and
      // the rank table must never be broadcast (node-count-sized at
      // cluster scale).
      val perRound = "Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS".r
        .findAllIn(plan).toSeq
      assert(perRound.size <= 1, s"round plans ${perRound.size} planner exchanges:\n$plan")
      assert(!perRound.exists(_.contains("src#")),
        s"the materialized edge list is being re-shuffled on src:\n$plan")
      assert(plan.contains("ShuffledHashJoin"),
        s"contrib join must be the co-partitioned shuffled-hash join:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"a round must not broadcast the node-count-sized rank table:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("pagerank is invariant to partitioning") {
    val t = Tables(spark, sf)
    val a = operators.Graph.pagerankOn(t.customer, t.supplier, t.orders, t.lineitem)
      .collect().toSeq
    val b = operators.Graph.pagerankOn(t.customer.repartition(7), t.supplier,
        t.orders.repartition(3), t.lineitem.repartition(5))
      .collect().toSeq
    assert(a == b)
  }

  /** Brute-force reference: every id triple, edge-set membership. */
  private def referenceTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (a min b, a max b) }.toSet
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val tris = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      a = nodes(i); b = nodes(j); c = nodes(k)
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield (a, b, c)
    tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("triangle_count equals the brute-force reference on the fixture graph") {
    val edges = operators.Graph.triangleEdges(Tables(spark, sf).customer)
    import spark.implicits._
    val ref = referenceTriangles(edges.as[(Long, Long)].collect().toSeq)
    val got = operators.Graph.triangleCount(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    assert(got.nonEmpty, "fixture graph must contain triangles")
  }

  test("triangle orientation handles a celebrity hub without wedge blowup at it") {
    import spark.implicits._
    // star center 1 with leaves 10..29 (degree 20), plus one genuine
    // triangle (1, 10, 11) closed by the leaf edge, plus a triangle
    // far from the hub (100, 101, 102)
    val star = (10L to 29L).map(l => (1L, l))
    val extra = Seq((10L, 11L), (100L, 101L), (101L, 102L), (100L, 102L))
    val edges = (star ++ extra).toDF("u", "v")
    val got = operators.Graph.triangleCountOn(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = referenceTriangles(star ++ extra)
    assert(got == ref)
    assert(got(1L) == 1L && got(100L) == 1L)
  }

  test("k_core equals the in-memory reference peeler on the sf0.001 trade graph") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val pairs = t.lineitem
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference: peel undirected adjacency until fixpoint
    var adj: Map[Long, Set[Long]] = (pairs.flatMap { case (c, s) =>
      Seq(c -> s, s -> c) }).groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val doomed = adj.collect { case (n, es) if es.size < operators.Graph.KCoreK => n }.toSet
      changed = doomed.nonEmpty
      if (changed)
        adj = adj.collect { case (n, es) if !doomed(n) => n -> (es -- doomed) }
    }
    val want = adj.map { case (n, es) => n -> es.size.toLong }
    val got = operators.Graph.kCore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want, s"k-core differs: got ${got.size} nodes, want ${want.size}")
    assert(got.nonEmpty, "fixture sanity: the trade graph must have a 3-core")
    assert(got.values.forall(_ >= operators.Graph.KCoreK),
      "fixpoint violated: a survivor has degree below K")
    // node_type tagging
    val types = operators.Graph.kCore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    types.foreach { case (id, tp) =>
      assert(tp == (if (id % 2 == 1) "s" else "c"))
    }
  }

  test("triangle_count is invariant to partitioning") {
    val e = operators.Graph.triangleEdges(Tables(spark, sf).customer)
    val a = operators.Graph.triangleCountOn(e).collect().toSeq
    val b = operators.Graph.triangleCountOn(e.repartition(7)).collect().toSeq
    assert(a == b)
  }

  /** One in-JVM semi-synchronous half-round: the UPDATING side
    * (customers odd r, suppliers even) takes the neighbor-majority
    * label with ties to the smallest; isolated/non-updating keep.
    */
  private def lpaHalfRound(nodes: Seq[Long], adj: Map[Long, Seq[Long]],
      lbl: Map[Long, Long], r: Int): Map[Long, Long] = {
    nodes.filter(n => if (r % 2 == 0) n % 2 == 1 else n % 2 == 0).flatMap { n =>
      val votes = adj.getOrElse(n, Seq.empty).map(lbl)
      if (votes.isEmpty) None
      else {
        val counts = votes.groupBy(identity).map { case (l, v) => (l, v.size) }
        Some(n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1)
      }
    }.toMap
  }

  /** Plain-Scala reference for the semi-synchronous LPA FIXPOINT
    * loop: same alternating schedule, same majority-with-smallest-tie
    * rule, same stopping rule (a full bipartite cycle — customer +
    * supplier half-rounds — changing no label, checked at cycle
    * boundaries) under the same [[operators.Graph.lpaCapHalfRounds]]
    * budget. Returns (labels, roundsUsed, converged).
    */
  private def referenceLpa(nodes: Seq[Long], adj: Map[Long, Seq[Long]])
      : (Map[Long, Long], Int, Boolean) = {
    val cap = operators.Graph.lpaCapHalfRounds(nodes.size.toLong)
    var lbl: Map[Long, Long] = nodes.map(n => n -> n).toMap
    var r = 0
    var converged = false
    while (!converged && r < cap) {
      var cycleChanged = 0
      for (h <- 1 to 2) {
        val updates = lpaHalfRound(nodes, adj, lbl, r + h)
        cycleChanged += updates.count { case (n, l) => lbl(n) != l }
        lbl = lbl ++ updates
      }
      r += 2
      converged = cycleChanged == 0
    }
    (lbl, r, converged)
  }

  /** Synthetic trade tables whose graph is the PATH
    * c1−s1−c2−s2−…−ck−sk (2k nodes, diameter 2k−1): trading pair
    * (ci, si) for every i plus (c(i+1), si) below k. The adversarial
    * long-diameter case for any fixed LPA budget — the minimum label
    * creeps ONE hop per half-round, so convergence takes exactly 2k
    * half-rounds.
    */
  private def pathTables(k: Int) = {
    import spark.implicits._
    val customer = (1L to k.toLong).toDF("c_custkey")
    val supplier = (1L to k.toLong).toDF("s_suppkey")
    val pairs = (1L to k.toLong).flatMap(i =>
      Seq((i, i)) ++ (if (i < k) Seq((i + 1, i)) else Nil))
    val orders = pairs.zipWithIndex.map { case ((c, _), j) => (j.toLong, c) }
      .toDF("o_orderkey", "o_custkey")
    val lineitem = pairs.zipWithIndex.map { case ((_, s), j) => (j.toLong, s) }
      .toDF("l_orderkey", "l_suppkey")
    (customer, supplier, orders, lineitem, pairs)
  }

  private def pathNodesAdj(k: Int, pairs: Seq[(Long, Long)]) = {
    val nodes = (1L to k.toLong).map(_ * 2) ++ (1L to k.toLong).map(_ * 2 + 1)
    val adj = pairs.flatMap { case (c, s) => Seq(c * 2 -> (s * 2 + 1), (s * 2 + 1) -> c * 2) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    (nodes, adj)
  }

  test("planted path: the r12 frozen 8-round budget under-propagates; the fixpoint loop converges") {
    // k=8 → n=16 nodes, diameter 15: convergence needs 16 half-rounds,
    // within the budget law's cap(16)=28 but past the old frozen 8
    val (customer, supplier, orders, lineitem, pairs) = pathTables(8)
    val (nodes, adj) = pathNodesAdj(8, pairs)
    // the old engine: exactly 8 half-rounds, no convergence test —
    // provably fragments the single path community
    var frozen: Map[Long, Long] = nodes.map(n => n -> n).toMap
    for (r <- 1 to 8) frozen = frozen ++ lpaHalfRound(nodes, adj, frozen, r)
    assert(frozen.values.toSet.size > 1,
      "fixture sanity: 8 rounds must leave the path fragmented")
    // the fixpoint engine: converges to ONE community (min label 1)
    val got = operators.Graph.graphCommunitiesOn(customer, supplier, orders, lineitem)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val (refLbl, refRounds, refConverged) = referenceLpa(nodes, adj)
    assert(refConverged && refRounds == 16, s"expected conv at 16, got $refRounds")
    assert(got.keySet == nodes.toSet)
    got.foreach { case (n, (lbl, sz)) =>
      assert(lbl == refLbl(n) && sz == 16L,
        s"node $n: ($lbl, $sz) — path must merge into one community")
    }
    assert(got.values.map(_._1).toSet.size == 1,
      "the converged path must be a single community")
    // and the card carries the convergence meta
    val card = operators.Graph.communityStatsOn(customer, supplier, orders, lineitem)
      .collect()
    assert(card.length == 1)
    assert(card.head.getLong(5) == 16L && card.head.getLong(6) == 1L,
      s"card meta: rounds_used=${card.head.getLong(5)} converged=${card.head.getLong(6)}")
  }

  test("planted long path: budget exhaustion is REPORTED, and the labeling is the exact state at the cap") {
    // k=32 → n=64 nodes: convergence would need 64 half-rounds, past
    // cap(64)=36 — the loop must stop at 36, say so on the card, and
    // emit exactly the 36-round state (not a partial or corrupt one)
    val (customer, supplier, orders, lineitem, pairs) = pathTables(32)
    val (nodes, adj) = pathNodesAdj(32, pairs)
    val cap = operators.Graph.lpaCapHalfRounds(64L)
    assert(cap == 36, s"law check: cap(64) must be 36, got $cap")
    val (refLbl, refRounds, refConverged) = referenceLpa(nodes, adj)
    assert(!refConverged && refRounds == cap)
    val got = operators.Graph.graphCommunitiesOn(customer, supplier, orders, lineitem)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == refLbl, "budget-exhausted labeling must be the exact state at the cap")
    assert(got.values.toSet.size > 1, "fixture sanity: the cap state is still fragmented")
    val card = operators.Graph.communityStatsOn(customer, supplier, orders, lineitem)
      .collect()
    assert(card.forall(r => r.getLong(5) == cap.toLong && r.getLong(6) == 0L),
      "every card row must announce the exhausted budget (converged = 0)")
  }

  test("cold job budget at sf0.001: cluster_stats, community_stats, graph_communities") {
    // Spark jobs of ONE cold call each. A second LPA loop inside
    // community_stats (≥ 3 cycle actions + the init count at
    // sf0.001), a re-run contraction loop or a new sampling job
    // breaks the budget (hr_episodes and quality_score sort their
    // output in one partition, with no range-bounds sampling job).
    val budgets = Seq(
      "cluster_stats" -> ClusterStatsJobs,
      "community_stats" -> CommunityStatsJobs,
      "graph_communities" -> GraphCommunitiesJobs,
      "hr_episodes" -> HrEpisodesJobs,
      "quality_score" -> QualityScoreJobs)
    val jobs = budgets.map { case (name, _) =>
      name -> ColdJobs(spark)(SparkEntry.queries(name)(spark, sf).collect())
    }.toMap
    info(s"cold jobs: $jobs")
    budgets.foreach { case (name, budget) =>
      assert(jobs(name) <= budget,
        s"$name ran ${jobs(name)} jobs, budget $budget (all: $jobs)")
    }
  }

  test("graph_communities equals the in-memory semi-synchronous LPA fixpoint reference") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val pairs = t.lineitem
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (t.customer.select(col("c_custkey") * 2).collect().map(_.getLong(0)) ++
      t.supplier.select(col("s_suppkey") * 2 + 1).collect().map(_.getLong(0))).toSeq
    val adj: Map[Long, Seq[Long]] = pairs.toSeq.flatMap { case (c, s) =>
      Seq(c -> s, s -> c) }.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val (lbl, refRounds, refConverged) = referenceLpa(nodes, adj)
    assert(refConverged, "gate corpus sanity: the trade graph must converge")
    assert(refRounds <= 8,
      s"gate corpus converges at $refRounds > the r12 budget — hash continuity broken")
    val want = {
      val sizes = lbl.values.groupBy(identity).map { case (l, v) => l -> v.size.toLong }
      lbl.map { case (n, l) => n -> (l, sizes(l)) }
    }
    val got = operators.Graph.graphCommunities(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"LPA differs: got ${got.size} nodes, want ${want.size}")
    // structure sanity: the dense trade graph must actually cluster
    // (labels propagate), and isolated nodes stay singletons
    assert(got.values.map(_._1).toSet.size < nodes.size,
      "no label ever propagated — LPA is inert")
    val isolated = nodes.toSet -- adj.keySet
    isolated.foreach { n =>
      assert(got(n) == ((n, 1L)), s"isolated node $n must keep its own singleton label")
    }
    val types = operators.Graph.graphCommunities(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    types.foreach { case (id, tp) => assert(tp == (if (id % 2 == 1) "s" else "c")) }
  }

  test("community_stats equals the in-memory modularity recomputation over the LPA labeling") {
    import org.apache.spark.sql.functions._
    // labels from the registered operator (already proven against the
    // in-JVM LPA reference above); recompute the card's integers
    val labels = operators.Graph.graphCommunities(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val t = Tables(spark, sf)
    val pairs = t.lineitem
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val mirrored = pairs.flatMap { case (c, s) => Seq(c -> s, s -> c) }
    val mMir = mirrored.length.toLong
    // the card's label-coverage contract: m_mir and degree_sum come
    // from the src-label join, so every edge source must carry a label
    // row (an unlabeled source would drop out of both silently)
    val edges = operators.Graph.mirroredTradeEdges(t.orders, t.lineitem)
    try {
      val lbl = operators.Graph.graphCommunities(spark, sf)
        .select(col("node_id").as("id"), col("community").as("lbl"))
      val n = edges.count()
      val joined = operators.Graph.gradeCombined(lbl, edges).agg(sum(col("pc"))).head.getLong(0)
      assert(n == mMir && joined == mMir, s"edges $n, src-label join $joined, reference $mMir")
    } finally Materialize.release(edges)
    val deg = mirrored.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    // convergence meta from the in-JVM fixpoint reference
    val nodes = (t.customer.select(col("c_custkey") * 2).collect().map(_.getLong(0)) ++
      t.supplier.select(col("s_suppkey") * 2 + 1).collect().map(_.getLong(0))).toSeq
    val adj: Map[Long, Seq[Long]] = mirrored.toSeq.groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    val (_, refRounds, refConverged) = referenceLpa(nodes, adj)
    val want = labels.values.toSeq.distinct.sorted.map { lbl =>
      val members = labels.collect { case (n, l) if l == lbl => n }.toSet
      val dSum = members.toSeq.map(n => deg.getOrElse(n, 0L)).sum
      val eMir = mirrored.count { case (a, b) => members(a) && labels(b) == lbl }.toLong
      val q = (BigInt(eMir) * 1000000 / mMir -
        BigInt(dSum) * dSum * 1000000 / (BigInt(mMir) * mMir)).toLong
      (lbl, members.size.toLong, dSum, eMir / 2, q,
        refRounds.toLong, if (refConverged) 1L else 0L)
    }
    val got = operators.Graph.communityStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == want, s"modularity card differs:\ngot  $got\nwant $want")
    // the summed Q must sit in Newman's range; singleton communities
    // (isolated nodes) contribute exactly 0
    val totalQ = got.map(_._5).sum
    assert(totalQ >= -500000L && totalQ < 1000000L, s"global Q out of range: $totalQ")
    got.filter(_._2 == 1L).foreach { r =>
      if (r._3 == 0L) assert(r._5 == 0L, s"isolated singleton with nonzero q: $r")
    }
  }

  test("an LPA half-round keeps the loop plan discipline (no edge re-shuffle, no broadcast)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // parity ids: customers 2, 4; supplier node 2·2+1 = 5
      val edges = Seq((2L, 5L), (5L, 2L), (4L, 5L), (5L, 4L))
        .toDF("src", "dst").repartition(col("src")).localCheckpoint(true)
      val labels = Seq((2L, 2L), (4L, 4L), (5L, 5L))
        .toDF("id", "lbl").repartition(col("id")).localCheckpoint(true)
      val round = operators.Graph.lpaRound(edges, labels, updateSuppliers = true)
      val plan = round.queryExecution.executedPlan.toString
      // budget: the (dst, lbl) count exchange + the dst argmax
      // exchange — the label join and join-back consume the existing
      // hash partitioning
      val perRound = "Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS".r
        .findAllIn(plan).toSeq
      assert(perRound.size <= 2, s"half-round plans ${perRound.size} exchanges:\n$plan")
      assert(!perRound.exists(_.contains("src#")),
        s"the materialized edge list is being re-shuffled on src:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), s"label join must be shuffled-hash:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"a half-round must not broadcast the node-count-sized label table:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  // planted-hub fixture: one supplier node (id 7) holds 20 of 24
  // mirrored-edge endpoints on the supplier side — the celebrity
  // shape lpaChooseSkewSafe must route to the two-exchange round
  private def hubFixture(s: org.apache.spark.sql.SparkSession) = {
    import org.apache.spark.sql.functions.col
    val ss = s
    import ss.implicits._
    val pairs = (1L to 20L).map(c => (c * 2, 7L)) ++
      Seq((2L, 9L), (4L, 11L), (6L, 13L), (8L, 15L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1)))
      .toDF("src", "dst").repartition(col("src")).localCheckpoint(true)
    val nodes = ((1L to 20L).map(_ * 2) ++ Seq(7L, 9L, 11L, 13L, 15L))
      .toDF("id").repartition(col("id")).localCheckpoint(true)
    (nodes, edges)
  }

  test("the skew-safe LPA half-round is label-identical and keeps the combine-first plan shape") {
    import org.apache.spark.sql.functions.col
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (nodes, edges) = hubFixture(spark)
      val labels = nodes.select(col("id"), col("id").as("lbl"))
        .repartition(col("id")).localCheckpoint(true)
      val a = operators.Graph.lpaRound(edges, labels, updateSuppliers = true)
      val b = operators.Graph.lpaRoundSkewSafe(edges, labels, updateSuppliers = true)
      assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet,
        "round shapes diverge on the hub fixture")
      // full-fixpoint fingerprints must also match (both sides, all rounds)
      def fp(rd: operators.Graph.LpaRound): Seq[Seq[Any]] = {
        val out = operators.Graph.lpaFixpoint(nodes, edges)(rd)
        val rows = out.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
        Materialize.release(out)
        rows
      }
      assert(fp(operators.Graph.lpaRound) == fp(operators.Graph.lpaRoundSkewSafe),
        "fixpoint labelings diverge between round shapes")
      // plan shape: the count's grouping key IS the exchange key, so
      // the map-side combine runs BEFORE the exchange; the agg path's
      // budget is the (dst, lbl) count exchange + the dst argmax
      // exchange (the tiny fixture's label frames may re-exchange on
      // id — a checkpoint-fixture artifact the dst-keyed assertions
      // below deliberately ignore)
      val plan = b.queryExecution.executedPlan.toString
      val perRound = "Exchange hashpartitioning\\([^)]*\\), ENSURE_REQUIREMENTS".r
        .findAllIn(plan).toSeq
      val dstKeyed = perRound.filter(_.contains("dst#"))
      assert(dstKeyed.size == 2,
        s"skew-safe round must plan exactly 2 dst-keyed exchanges, got ${dstKeyed.size}:\n$plan")
      assert(dstKeyed.exists(e => e.contains("lbl#")),
        s"the count exchange must key (dst, lbl) so the partial agg combines below it:\n$plan")
      assert(!perRound.exists(_.contains("src#")),
        s"the materialized edge list is being re-shuffled on src:\n$plan")
      assert(plan.contains("partial_count"),
        s"the (dst, lbl) count must plan a map-side partial aggregation:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"a half-round must not broadcast the node-count-sized label table:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("lpaChooseSkewSafe fires on a hub at cluster widths and short-circuits at loop-law widths") {
    import org.apache.spark.sql.functions.col
    val ss = spark
    import ss.implicits._
    def onClone(parts: Int)(body: org.apache.spark.sql.SparkSession => Boolean): Boolean = {
      val c = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
      c.conf.set("spark.sql.shuffle.partitions", parts.toString)
      body(c)
    }
    val (_, hubEdges) = hubFixture(spark)
    // a 64-partition exchange would deal the hub ~53x its median — fire
    assert(onClone(64) { s =>
      operators.Graph.lpaChooseSkewSafe(PlanScope.rebind(s, hubEdges))
    }, "hub at 64 partitions must choose the skew-safe round")
    // at the gate-SF loop-law width (<= 4) no deal can exceed the
    // ratio — the decision short-circuits to the one-exchange round
    assert(!onClone(4) { s =>
      operators.Graph.lpaChooseSkewSafe(PlanScope.rebind(s, hubEdges))
    }, "parts <= ratio must short-circuit to the one-exchange round")
    // an even graph at cluster width stays on the one-exchange round
    // (big enough that keys outnumber partitions — the regime the
    // estimate is calibrated for)
    val evenPairs = (1L to 200L).map(c => (c * 2, c * 2 + 1))
    val evenEdges = (evenPairs ++ evenPairs.map(p => (p._2, p._1)))
      .toDF("src", "dst").repartition(col("src")).localCheckpoint(true)
    assert(!onClone(64) { s =>
      operators.Graph.lpaChooseSkewSafe(PlanScope.rebind(s, evenEdges))
    }, "an even-degree graph must keep the one-exchange round")
  }
}
