package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the non-oracle (rows-only) operators: LSH/minhash
  * recall against their exact counterparts, simhash determinism,
  * multimodal decode plumbing.
  */
class DedupAnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  // overridable like the stream suites: SPARK_GRAFT_SPEC_SF=<fuzzDir>
  // replays the recall floors / law anchors on a perturbed corpus
  // (round 11: the clustered-embedding fuzz mode targets exactly the
  // ANN family this suite anchors)
  val sf: String =
    sys.env.getOrElse("SPARK_GRAFT_SPEC_SF", "/root/testdata/sf0.001")

  test("minhash-LSH finds all high-jaccard pairs found exactly (recall on verified candidates)") {
    val exact = SparkEntry.queries("ngram_jaccard")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact jaccard found no pairs — threshold too high for testdata")
    // LSH output is verified with exact jaccard, so no false positives:
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (${exact.size} exact, ${lsh.size} lsh)")
  }

  test("ivf_tune: probe sets nest, recall/cost monotone, nprobe=4 row equals registered ann_ivf") {
    val card = graft.operators.SimilaritySearch.ivfTune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(card.nonEmpty && card.map(_._1).toSeq == card.map(_._1).toSeq.sorted)
    // nesting: candidates and hits both nondecreasing in nprobe
    card.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 >= a._3, s"candidates shrank: $a -> $b")
        assert(b._5 >= a._5, s"hits shrank: $a -> $b")
      case _ => ()
    }
    // exact-rerank law: final recall == candidate recall, so the
    // nprobe=4 row must equal the REGISTERED ann_ivf's measured
    // recall vs ann_topk (same centroids, same Lloyd rounds)
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("ann_ivf")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits4 = (exact & ivf).size.toLong
    val row4 = card.find(_._1 == 4L).get
    assert(row4._5 == hits4, s"ivf_tune nprobe=4 hits ${row4._5} != ann_ivf $hits4")
    assert(row4._6 == hits4 * 1000000L / (row4._2 * 10),
      "recall_ppm arithmetic drifted")
  }

  test("ann_lsh signature width scales with the corpus; ranking is heap-based") {
    // the knn_graph auto-width law ported to ann_lsh (r9 verdict #2:
    // a FIXED width keeps 8 tables × 2^8 buckets constant in corpus
    // size, so bucket fill — and per-query candidate volume — grows
    // ∝ n, the O(n²/2^p) degeneracy its own sibling documents)
    import graft.operators.SimilaritySearch.lshPlanesPerTable
    assert(lshPlanesPerTable(500) == 4)
    assert(lshPlanesPerTable(5000) == 8)        // sf0.1 ≡ the old fixed width
    assert(lshPlanesPerTable(500000) == 14)     // 1000× corpus: +10 bits
    assert(lshPlanesPerTable(500000000L) == 24) // buckets keep pace with n
    assert(lshPlanesPerTable(0) == 2)           // width floor on tiny corpora
    val plan = graft.operators.SimilaritySearch.annLsh(spark, sf)
      .queryExecution.executedPlan.toString
    TopKPerKeySpec.assertGroupLimit(plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"ann_lsh degenerated to an unbucketed join:\n$plan")
  }

  test("ann_lsh recall vs brute-force ann_topk") {
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("ann_lsh")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    // multi-probe (hamming ≤ 2) over 8 tables; this synthetic corpus
    // has only weak neighbors (cos ≈ 0.4) so recall is the hard case.
    assert(recall >= 0.7, s"recall $recall < 0.7")
    // every LSH hit must rank by true cosine: spot-check ordering
    val byQ = SparkEntry.queries("ann_lsh")(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("mm_crossmodal: recall floor vs the brute-force cross-modal scan, paired hit at sim 1") {
    import graft.functions.VectorFunctions.cosineSim
    val k = 10
    val got = SparkEntry.queries("mm_crossmodal")(spark, sf).collect()
    assert(got.nonEmpty)
    // brute force: every query's exact top-k over the FULL media
    // index (test-only — bounded queries × small corpus here)
    val media = graft.multimodal.Multimodal.mediaEmbeddings(
      graft.multimodal.Multimodal.mediaTable(spark, sf))
    val ss = operators.SimilaritySearch
    // the towers align by construction, so the query batch's text
    // vectors equal its media vectors — read them off the one frame
    val qv = media
      .filter(col("media_id") % 50 === 0 && col("media_id") < lit(50L * ss.MaxQueries))
      .select(col("media_id").as("qid"), col("v").as("qv"))
    val exact = media.join(qv, lit(true))
      .select(col("qid"), col("media_id"), cosineSim(col("qv"), col("v")).as("sim"))
      .collect().groupBy(_.getLong(0))
      .flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(k)
          .map(r => (qid, r.getLong(1))).toSeq
      }.toSet
    val approx = got.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("media_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"cross-modal recall $recall < 0.7")
    // retrieval grading: the query's own media embeds identically, so
    // rank 1 must carry sim = 1.0 (the paired item or an exact-text
    // duplicate that ties it), and the paired flag marks identity
    got.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      val r1 = rows.minBy(_.getAs[Long]("rank"))
      assert(r1.getAs[Double]("sim") == 1.0, s"query $qid rank-1 sim != 1")
    }
    got.foreach { r =>
      assert((r.getAs[Long]("paired") == 1L) ==
        (r.getAs[Long]("media_id") == r.getAs[Long]("qid")))
      assert(r.getAs[String]("mime").startsWith("application/x-graft-"))
    }
  }

  test("ann_ivf recall vs brute-force ann_topk") {
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("ann_ivf")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nprobe=4 of ~10 cells on weakly-clustered random data: the
    // probed fraction bounds recall; this asserts the machinery works,
    // not state-of-the-art recall on adversarially uniform vectors
    assert(recall >= 0.4, s"recall $recall < 0.4")
  }

  test("ann_ivf trained quantizer: Lloyd refinement must not lose recall vs the stride sample") {
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(name: String): Double = {
      val got = SparkEntry.queries(name)(spark, sf)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val stride = recallOf("ann_ivf_stride")
    val trained = recallOf("ann_ivf") // trained is the default
    // the measured comparison VERDICT r4 asked for: same cell count,
    // same nprobe — only the centroid positions differ (0.58 → 0.62
    // when this was written; training became the default on that
    // measurement). A material regression means the refine loop broke.
    info(f"recall@10 stride=$stride%.3f trained=$trained%.3f")
    assert(trained >= stride - 0.02,
      s"trained quantizer lost recall: $trained vs stride $stride")
    assert(trained >= 0.4, s"trained recall $trained < 0.4")
  }

  test("ann_ivf cell assignment is map-side: no exchange keyed by vec_id (the n×√n expansion)") {
    val plan = graft.operators.SimilaritySearch.annIvf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearestcentroids") || plan.contains("NearestCentroids"),
      s"cell assignment expression missing from plan:\n$plan")
    // the old formulation shuffled every (vector × centroid) scored row
    // on vec_id for a row_number argmax; the fixed plan never
    // partitions by vec_id at all
    assert(!plan.toLowerCase.contains("hashpartitioning(vec_id"),
      s"vector-keyed exchange found:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "centroid cross join resurfaced")
  }

  test("ivf cell-count law: scales ∝ n/target between the floor and the driver cap") {
    import graft.operators.SimilaritySearch.{ivfCells, IvfMinCells, IvfMaxCells}
    // the r10 verdict fix: K is a deterministic LAW of one metadata
    // count, not a frozen constant — candidates/query stay
    // ≈ nprobe·IvfCellTarget once the law engages (the
    // lshPlanesPerTable play through the SHARED quantizer)
    assert(ivfCells(0) == IvfMinCells)
    assert(ivfCells(500) == 64)          // sf0.01: identical to r10 geometry
    assert(ivfCells(2000) == 64)         // sf0.1: identical to r10 geometry
    assert(ivfCells(40000) == 312)       // R=20 replica corpus: law engaged
    assert(ivfCells(1L << 20) == 8192)   // 1M vectors → 8192 cells
    assert(ivfCells(100000000L) == IvfMaxCells) // driver-budget cap
    // the flat/two-level gate sits where the oracle replays it
    // (ivfAssignCtes carries the same conditional) — every registered
    // and fuzz corpus (≤ ~2k vectors) assigns flat, the 40k replica
    // corpus exercises the routed branch on BOTH engines
    import graft.operators.SimilaritySearch.IvfFlatAssignMaxCells
    assert(IvfFlatAssignMaxCells == 256)
    assert(ivfCells(2000) <= IvfFlatAssignMaxCells)
    assert(ivfCells(40000) > IvfFlatAssignMaxCells)
    // monotone, never above cap or below floor
    Seq(1L, 999L, 65536L, 1L << 24, 1L << 40).foreach { n =>
      assert(ivfCells(n) >= IvfMinCells && ivfCells(n) <= IvfMaxCells)
    }
  }

  test("ivf quantizer: seed collect is K-bounded and the Lloyd sample honors its budget") {
    import graft.operators.SimilaritySearch.{ivfCells, ivfTrainSample, IvfTrainPerCell}
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonNull = Tables(spark, d).embeddings
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n = nonNull.count()
      val k = ivfCells(n)
      val seeds = nonNull.filter(col("vec_id") % 50 === 7)
        .orderBy(col("vec_id")).limit(k).count()
      assert(seeds <= k, s"$d: $seeds seeds > law $k")
      assert(seeds > 0, s"$d: empty quantizer")
      // below IvfTrainPerCell·K vectors the sample IS the corpus
      // (bit-identical to the r10 full-corpus Lloyd at sf0.01/sf0.1)
      assert(ivfTrainSample(nonNull, n, k).count() == n,
        s"$d: small corpus must train on every vector")
    }
    // the bounded regime: a corpus far past the budget samples ≤
    // IvfTrainPerCell·K rows (CEILING stride — expected n/m never
    // exceeds the budget; stride arithmetic only, no data needed)
    val n = 10000000L; val k = ivfCells(n)
    val budget = IvfTrainPerCell.toLong * k
    val m = math.max(1L, (n + budget - 1) / budget)
    assert(m > 1, "large corpus must stride-sample the Lloyd input")
    assert(n / m <= budget, s"sample ${n / m} exceeds the $budget budget")
  }

  test("ivf corpus assignment routes two-level past the flat gate, flat below — same cells") {
    import graft.operators.SimilaritySearch.{ivfCellId, IvfFlatAssignMaxCells}
    import spark.implicits._
    // synthetic quantizer: 1100 centroids (> the 256 gate) on a ring;
    // the two-level expression must be in the plan AND agree with the
    // flat argmax on every assignment (coarse ⊆ fine keeps routing
    // exact when the true cell's coarse owner is probed — on this
    // well-separated ring it always is)
    val dim = 4
    def vecOf(i: Int): Seq[Double] = {
      val a = 2 * math.Pi * i / 1100.0
      Seq(math.cos(a), math.sin(a), 0.1, 0.0)
    }
    val cids = (0 until 1100).map(_.toLong)
    val cvecs = (0 until 1100).map(vecOf)
    assert(cvecs.size > IvfFlatAssignMaxCells)
    val probe = (0 until 1100).map(i => (i.toLong, vecOf(i))).toDF("vec_id", "v")
    val twoLevel = probe.withColumn("cid", ivfCellId(col("v"), cids, cvecs))
      .select(col("vec_id"), col("cid"))
    // analyzed plan: ConvertToLocalRelation folds the projection over
    // this literal input before execution (which is also why the
    // collect below is cheap) — the expression choice is what's under
    // test, and it lives in the analyzed tree
    assert(twoLevel.queryExecution.analyzed.toString.toLowerCase
      .contains("twolevelcellid"), "two-level expression missing past the gate")
    val flat = probe.withColumn("cid",
        element_at(graft.functions.VectorFunctions.nearestCentroids(
          col("v"), cids, cvecs, 1), 1))
      .select(col("vec_id"), col("cid"))
    assert(twoLevel.collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq) ==
      flat.collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq),
      "two-level assignment disagrees with the flat argmax on its own centroids")
  }

  test("knn_graph recall vs the brute-force all-pairs graph, ordering and degree bounds") {
    import graft.functions.VectorFunctions.cosineSim
    val k = 8
    val got = SparkEntry.queries("knn_graph")(spark, sf).collect()
    // brute force: full n² cosine (test-only — 500 vectors here)
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val exact = emb.as("a").join(emb.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        cosineSim(col("a.v"), col("b.v")).as("sim"))
      .collect().groupBy(_.getAs[Long]("src"))
      .map { case (s, rows) =>
        s -> rows.sortBy(r => (-r.getAs[Double]("sim"), r.getAs[Long]("dst")))
          .take(k).map(_.getAs[Long]("dst")).toSet }
    val gotBy = got.groupBy(_.getAs[Long]("src"))
      .map { case (s, rows) => s -> rows.map(_.getAs[Long]("dst")).toSet }
    // every vector gets a neighborhood, never more than k wide
    assert(gotBy.keySet == exact.keySet, "some vectors have no neighborhood")
    assert(got.groupBy(_.getAs[Long]("src")).values.forall(_.length <= k))
    // self-join LSH (no multi-probe) on weakly-clustered vectors:
    // assert the machinery finds a solid share of true neighbors
    val recall = exact.map { case (s, ex) => (ex & gotBy(s)).size.toDouble / ex.size }
    assert(recall.sum / recall.size >= 0.5,
      s"mean recall ${recall.sum / recall.size} < 0.5")
    // ranks must follow true cosine within each neighborhood
    got.groupBy(_.getAs[Long]("src")).values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("contrastive_pairs: one in-band positive per anchor, hard negatives below the band, exact graph composition") {
    import graft.operators.Clustering.SemThreshold
    import graft.operators.SimilaritySearch.ContrastiveNegatives
    val got = SparkEntry.queries("contrastive_pairs")(spark, sf).collect()
    assert(got.nonEmpty, "fixture corpus must mine some pairs")
    val byAnchor = got.groupBy(_.getAs[Long]("anchor"))
    byAnchor.foreach { case (a, rows) =>
      val pos = rows.filter(_.getAs[String]("role") == "pos")
      val neg = rows.filter(_.getAs[String]("role") == "neg")
      assert(pos.length == 1 && pos.head.getAs[Long]("rank") == 1L,
        s"anchor $a must carry exactly one rank-1 positive")
      assert(pos.head.getAs[Double]("sim") >= SemThreshold)
      assert(neg.length <= ContrastiveNegatives)
      assert(neg.forall(_.getAs[Double]("sim") < SemThreshold),
        s"anchor $a has an in-band 'negative' (a false negative)")
      assert(neg.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to neg.length).toSeq, "negative ranks must be contiguous")
    }
    // exact composition: recompute from the REGISTERED graph's output
    val g = SparkEntry.queries("knn_graph")(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Double]("sim")))
      .filter(!_._3.isNaN) // the operator's explicit degenerate-edge drop
    val expect = g.groupBy(_._1).flatMap { case (a, edges) =>
      val (ps, ns) = edges.partition(_._3 >= SemThreshold)
      if (ps.isEmpty) Nil
      else {
        val p = ps.minBy(e => (-e._3, e._2))
        val hard = ns.sortBy(e => (-e._3, e._2)).take(ContrastiveNegatives)
        (a, "pos", 1L, p._2, p._3) ::
          hard.toList.zipWithIndex.map { case (e, i) =>
            (a, "neg", i + 1L, e._2, e._3) }
      }
    }.toSet
    val gotSet = got.map(r => (r.getAs[Long]("anchor"), r.getAs[String]("role"),
      r.getAs[Long]("rank"), r.getAs[Long]("partner"),
      r.getAs[Double]("sim"))).toSet
    assert(gotSet == expect, "contrastive_pairs drifted from its own graph")
  }

  test("knn_graph signature width scales with the corpus and the plan stays bucket-joined") {
    // the auto-width rule: ⌈log₂(n/target)⌉ planes, floored at 2 —
    // bucket occupancy stays ≈ target at any n, so candidate volume
    // is linear in n (a fixed width would go O(n²) past its capacity)
    import graft.operators.SimilaritySearch.{lshPlanesPerTable, knnPlanesPerTable}
    // the INTEGER form of the law (round 11 — oracle-replicable):
    // smallest p with 2^p·target ≥ n, floor 2, cap 24; values
    // identical to the r10 float ceil(log₂(n/target)) at every point
    assert(lshPlanesPerTable(500) == 4)
    assert(lshPlanesPerTable(5000) == 8)
    assert(lshPlanesPerTable(500000) == 14)          // 1000× corpus: +10 bits
    assert(lshPlanesPerTable(500000000L) == 24)      // buckets keep pace with n
    assert(lshPlanesPerTable(1L << 62) == 24)        // LshMaxPlanes cap
    // the knn dense-regime plane (round 13): flat law at and below
    // KnnDenseN — every gate corpus unchanged — one extra plane past
    // it (occupancy ~32 → ~16 where bucket scoring dominates), cap
    // preserved
    assert(knnPlanesPerTable(500) == 4)              // gate: unchanged
    assert(knnPlanesPerTable(2000) == 6)             // sf0.1: unchanged
    assert(knnPlanesPerTable(4096) == 7)             // at the threshold: flat
    assert(knnPlanesPerTable(4097) == 9)             // past it: base 8 + 1
    assert(knnPlanesPerTable(40000) == 12)           // the 20× replica arm
    assert(knnPlanesPerTable(1L << 62) == 24)        // cap still binds
    val plan = graft.operators.SimilaritySearch.knnGraph(spark, sf)
      .queryExecution.executedPlan.toString
    TopKPerKeySpec.assertGroupLimit(plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn_graph degenerated to an unbucketed pair join:\n$plan")
  }

  test("knn_graph probe arm: budget-nested candidate sets, per-rank sims monotone, recall never drops") {
    import graft.operators.SimilaritySearch
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    // denseN = 8 engages the dense arm on this 500-vector corpus;
    // budget 0 admits only zero-volume masks (no candidates) — the
    // three runs share IDENTICAL signatures, so their candidate sets
    // are nested by the admission law's prefix property:
    // ∅-probes ⊆ budget-50 probes ⊆ all-probes
    def run(pct: Long) =
      SimilaritySearch.knnGraphOn(emb, 8, denseN = 8L, probeBudgetPct = pct)
        .collect()
        .groupBy(_.getAs[Long]("src"))
        .map { case (s, rows) =>
          s -> rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim")).toSeq }
    val base = run(0L)
    val mid = run(SimilaritySearch.KnnProbeBudgetPct)
    val all = run(1000000L)
    def dominates(hi: Map[Long, Seq[Double]], lo: Map[Long, Seq[Double]]): Unit = {
      lo.keySet.foreach(s => assert(hi.contains(s),
        s"src $s lost its neighborhood when probes were ADDED"))
      lo.foreach { case (s, ls) =>
        val hs = hi(s)
        assert(hs.length >= ls.length)
        // more candidates can only raise the sim at each rank
        ls.indices.foreach(i => assert(hs(i) >= ls(i),
          s"src $s rank ${i + 1}: ${hs(i)} < ${ls(i)} after adding probes"))
      }
    }
    dominates(mid, base)
    dominates(all, mid)
    // the full-probe run must find strictly more or equal pair mass
    assert(all.values.map(_.length).sum >= base.values.map(_.length).sum)
  }

  test("dedup_embedding block decomposition is exact: block-count invariant (incl. auto-sizing)") {
    val a = graft.operators.Dedup.embedding(spark, sf, blocks = 3).collect().map(_.toSeq).toSeq
    val b = graft.operators.Dedup.embedding(spark, sf, blocks = 16).collect().map(_.toSeq).toSeq
    val auto = graft.operators.Dedup.embedding(spark, sf).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty, "no near-dup pairs found at all")
    assert(a == b, "block decomposition changed the exact result")
    assert(auto == b, "auto-sized block count changed the exact result")
  }

  test("dedup_embedding auto block count honors the 64MB memory bound and scales with the corpus") {
    import graft.operators.Dedup.{autoBlocks, BlockTargetBytes}
    // memory-bound regime: blocks grow linearly with corpus bytes
    val small = autoBlocks(1000000L, 1024, 32)   //   8 GB of vectors
    val big = autoBlocks(100000000L, 1024, 32)   // 800 GB of vectors
    assert(small < big, "block count does not grow with the corpus")
    Seq(small, big).zip(Seq(1000000L, 100000000L)).foreach { case (bN, n) =>
      val perBlock = n.toDouble * 1024 * 8 / bN
      assert(perBlock <= BlockTargetBytes, s"block of $perBlock bytes exceeds target")
    }
    // grid-floor regime: tiny corpus still fills 32 cores with pair tasks
    val tiny = autoBlocks(500L, 64, 32)
    assert(tiny.toLong * (tiny + 1) / 2 >= 32, s"only ${tiny * (tiny + 1) / 2} pair tasks for 32 cores")
  }

  test("simhash signatures are deterministic and near-dup counts symmetric-consistent") {
    val a = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
    val b = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.forall(r => r.getAs[Long]("simhash") >= 0))
    // total near-dup incidences must be even (pairs counted from both sides)
    assert(a.map(_.getAs[Long]("n_near_dups")).sum % 2 == 0)
  }

  test("multimodal decode pipeline: partition-batched stub decode is deterministic and complete") {
    import spark.implicits._
    import graft.multimodal._
    val media = Multimodal.mediaTable(spark, sf).as[MediaItem]
    val feats = Multimodal.decodeAll(media).collect()
    assert(feats.length == media.count())
    assert(feats.forall(f => f.width >= 1 && f.width <= 640))
    assert(feats.forall(f => f.height >= 1 && f.height <= 480))
    assert(feats.forall(f => f.feature.length == 8))
    val again = Multimodal.decodeAll(media).collect()
    assert(feats.sortBy(_.doc_id).map(_.feature.toSeq).toSeq ==
      again.sortBy(_.doc_id).map(_.feature.toSeq).toSeq)
  }

  test("dedup_clusters matches a driver-side union-find on the pair graph") {
    val pairs = graft.operators.Text.ngramJaccard(spark, sf)
      .select(col("d1"), col("d2")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.operators.Dedup.clusters(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent union-find over the same (tiny) pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    members.foreach { d =>
      val root = find(d)
      val expectCluster = members.filter(find(_) == root).min
      assert(clusters(d)._1 == expectCluster,
        s"doc $d: cluster ${clusters(d)._1} != union-find $expectCluster")
    }
    // docs not in any pair are their own singleton keeper
    val inPairs = members.toSet
    clusters.foreach { case (d, (c, keep)) =>
      if (!inPairs(d)) assert(c == d && keep == 1L)
      assert((keep == 1L) == (c == d)) // keeper iff canonical
    }
    assert(pairs.nonEmpty)
  }

  test("vec_quant: int8 range respected and dequantization error within half a step") {
    val out = graft.operators.SimilaritySearch.vecQuant(spark, sf)
    val orig = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val joined = out.join(orig, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val q = r.getAs[String]("q").split(",").map(_.toLong).toSeq
      val v = r.getSeq[Double](r.fieldIndex("v"))
      assert(q.forall(x => x >= -127 && x <= 127), s"int8 range violated: ${q.max}")
      val maxAbs = v.map(math.abs).max
      val step = maxAbs / 127.0
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(x - qi * step) <= step / 2 + 1e-12,
          s"dequant error ${math.abs(x - qi * step)} > ${step / 2}")
      }
    }
  }

  test("star-contraction clusters converge on a diameter-40 chain where propagation cannot") {
    import spark.implicits._
    // path graph 0–1–2–…–40: one component, diameter 40 — deeper
    // than the default 20-round budget of one-hop label propagation
    val docs = (0L to 40L).toDF("doc_id")
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val star = graft.operators.Dedup.clustersOf(docs, pairs, maxIters = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(star.length == 41)
    assert(star.forall(_._2 == 0L), s"not one cluster: ${star.filter(_._2 != 0L).toSeq}")
    assert(star.count(_._3 == 1L) == 1 && star.find(_._3 == 1L).get._1 == 0L)
  }

  test("default clusters kill the drift-chain pathology: 1000-link chain in ≤ 12 rounds") {
    import spark.implicits._
    // drift chain: doc i ≈ doc i+1, every pair above τ — ONE component
    // of diameter 1000. One-hop label propagation needs 1000 rounds;
    // star contraction halves path length per alternation, so the
    // 12-round budget (≈ log₂ 1000 + slack) suffices — and since star
    // is now the DEFAULT, the registered query inherits this bound.
    val n = 1000L
    val docs = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = graft.operators.Dedup.clustersOf(docs, pairs, maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n + 1)
    assert(out.forall(_._2 == 0L), "chain did not collapse to one component")
    assert(out.count(_._3 == 1L) == 1 && out.find(_._3 == 1L).get._1 == 0L)
  }

  test("a star-contraction round plans equi-joins only — no BNLJ, no broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // mirror starLabels' EXACT round environment: canonicalized
    // (u > v) edges, localCheckpoint input, AQE off
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (9L, 4L))
        .toDF("u", "v").localCheckpoint(true)
      val plan = graft.operators.Dedup.starRound(edges)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"star round degenerated to a nested loop:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastExchange"),
        s"a round must not broadcast the node-sized min table:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("vec_quant storage form: one byte per dimension, values identical to the oracle projection") {
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val codes = graft.operators.SimilaritySearch.vecQuantCodes(spark, sf)
    // the storage column is genuinely tinyint — 1 byte/dim, the
    // footprint the quantization exists to buy
    assert(codes.schema("codes").dataType == ArrayType(ByteType),
      s"codes is ${codes.schema("codes").dataType}, not array<tinyint>")
    val str = graft.operators.SimilaritySearch.vecQuant(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("q")).toMap
    val rows = codes.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = r.getSeq[Byte](r.fieldIndex("codes")).map(_.toLong)
      val expect = str(r.getLong(0)).split(",").map(_.toLong).toSeq
      assert(got == expect, s"vec ${r.getLong(0)}: codes diverge from string form")
    }
  }

  test("pq_codes: codes match an independent scala PQ, map-side plan, deterministic under repartition") {
    import graft.operators.SimilaritySearch.{PQCentroids, PQLattice, PQSubspaces}
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    // independent reference: same lattice, same argmin, plain scala
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    val lat = all.map { case (id, v) =>
      id -> v.map(x => math.floor(x * PQLattice + 0.5).toLong).toArray
    }
    val cb = lat.take(PQCentroids).map(_._2)
    val subDim = cb(0).length / PQSubspaces
    def expectCodes(lv: Array[Long]): Seq[Long] =
      (0 until PQSubspaces).map { m =>
        cb.zipWithIndex.map { case (c, j) =>
          var d = 0L
          for (i <- m * subDim until (m + 1) * subDim) {
            val diff = lv(i) - c(i); d += diff * diff
          }
          (d, j.toLong)
        }.min._2
      }
    val got = graft.operators.SimilaritySearch.pqCodes(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("q")).toMap
    lat.foreach { case (id, lv) =>
      assert(got(id) == expectCodes(lv).mkString(","), s"vec $id codes diverge")
    }
    // the assignment is a pure projection: no exchange keyed by vec_id
    val plan = graft.operators.SimilaritySearch.pqCodes(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("hashpartitioning(vec_id"),
      s"vector-keyed exchange in a map-side operator:\n$plan")
  }

  test("ann_pq: ADC recall vs brute-force lattice-L2 top-k, deterministic ranks") {
    import graft.operators.SimilaritySearch.{PQLattice}
    // exact integer-lattice L2 baseline over the same query set
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val all = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).map(x => math.floor(x * PQLattice + 0.5).toLong).toArray)
    val qs = all.filter { case (id, _) => id % 50 == 0 && id < 50L * 32 }
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L
      for (i <- a.indices) { val x = a(i) - b(i); d += x * x }
      d
    }
    val exact = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (id, v) => (qid, id, l2(qv, v)) }
        .sortBy(t => (t._3, t._2)).take(10).map(t => (qid, t._2))
    }.toSet
    val pq = SparkEntry.queries("ann_pq")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    // 16 centroids × 8 subspaces on weakly-clustered synthetic data:
    // ADC is coarse by design; this pins the machinery, not SOTA recall
    assert(recall >= 0.3, s"ADC recall $recall < 0.3 (${exact.size} exact, ${pq.size} pq)")
    // determinism across runs
    val again = SparkEntry.queries("ann_pq")(spark, sf).collect().map(_.toSeq).toSeq
    assert(again == SparkEntry.queries("ann_pq")(spark, sf).collect().map(_.toSeq).toSeq)
  }

  test("ann_pq on a corpus smaller than PQCentroids: short codebook, exact top-1") {
    // regression: the ADC table is laid out at stride |codebook|, not
    // the PQCentroids constant — with < 16 vectors the codebook is
    // short and a constant stride would read the wrong subspace row
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.PQLattice
    import spark.implicits._
    val vecs: Seq[(Long, Seq[Double])] = (0L until 10L).map { i =>
      i -> (0 until 8).map(d => math.sin(i * 8 + d + 1).abs).toSeq
    }
    val emb = vecs.toDF("vec_id", "v")
    val got = SimilaritySearch.annPqOn(emb, k = 3, refine = 2).collect()
    assert(got.length == 3, s"expected 3 neighbors for the single query, got ${got.length}")
    assert(got.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // top-1 must be the exact lattice-L2 nearest (refine re-ranks it in)
    val lat = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x * PQLattice + 0.5).toLong).toArray
    }.toMap
    val q = lat(0L)
    val exactTop = lat.removed(0L).map { case (id, v) =>
      id -> v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    }.minBy { case (id, d) => (d, id) }
    assert(got.head.getAs[Long]("nid") == exactTop._1)
    assert(got.head.getAs[Long]("dist") == exactTop._2)
  }

  test("ann_ivf_pq: composed IVF+ADC recall vs exact lattice-L2, index is one map-side scan") {
    import graft.operators.SimilaritySearch.PQLattice
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val all = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).map(x => math.floor(x * PQLattice + 0.5).toLong).toArray)
    val qs = all.filter { case (id, _) => id % 50 == 0 && id < 50L * 32 }
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L
      for (i <- a.indices) { val x = a(i) - b(i); d += x * x }
      d
    }
    val exact = qs.flatMap { case (qid, qv) =>
      all.filter(_._1 != qid).map { case (id, v) => (qid, id, l2(qv, v)) }
        .sortBy(t => (t._3, t._2)).take(10).map(t => (qid, t._2))
    }.toSet
    val got = SparkEntry.queries("ann_ivf_pq")(spark, sf)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // two approximations stack (cell pruning × ADC quantization) —
    // the composed index trades recall for the nprobe/cells scan cut
    assert(recall >= 0.2, s"IVFADC recall $recall < 0.2 (${exact.size} exact)")
    // empirical pin on the FIXED default corpus only (not a theorem —
    // the two refine stages rank different candidate pools, and cell
    // pruning can legitimately BEAT unpruned ADC by evicting
    // ADC-favored false candidates from the refine-k pool: fuzz seed
    // 27 measured exactly that, 0.5125 vs 0.475, with every oracle
    // still green). On the pinned corpus a flip still signals a
    // routing change worth noticing.
    if (sys.env.get("SPARK_GRAFT_SPEC_SF").isEmpty) {
      val pq = SparkEntry.queries("ann_pq")(spark, sf)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pqRecall = (exact & pq).size.toDouble / exact.size
      assert(recall <= pqRecall + 1e-9,
        s"cell-pruned recall $recall exceeds unpruned ADC $pqRecall — routing changed?")
    }
    // index build is a single scan stage: no exchange keyed by vec_id
    val plan = graft.operators.SimilaritySearch.annIvfPq(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("hashpartitioning(vec_id"),
      s"vector-keyed exchange in the index build:\n$plan")
  }

  test("cosine kernel matches an independent scala computation") {
    import graft.functions.VectorFunctions._
    val emb = Tables(spark, sf).embeddings.limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val rows = emb.as("a").crossJoin(emb.as("b"))
      .select(col("a.v").as("x"), col("b.v").as("y"), cosineSim(col("a.v"), col("b.v")).as("c"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Double](0); val y = r.getSeq[Double](1)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) { dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i) }
      val expect = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(r.getDouble(2) == expect)
    }
  }

  test("ann_eval: self-recall is exactly 10^6 and every grade equals the in-JVM recomputation") {
    import org.apache.spark.sql.functions._
    val k = 10
    val card = operators.SimilaritySearch.annEval(spark, sf, k).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the brute-force method grades itself perfectly by definition
    assert(card("ann_topk")._3 == 1000000L && card("ann_topk")._4 == 1000000L,
      s"self-recall broken: ${card("ann_topk")}")
    // recompute every method's grade from the operators' own outputs
    val truth = operators.SimilaritySearch.annTopK(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    def grade(rows: Array[(Long, Long)]): (Long, Long, Long, Long) = {
      val byQ = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val hits = truth.keys.toSeq.sorted.map(q =>
        byQ.getOrElse(q, Set.empty).intersect(truth(q)).size.toLong)
      (truth.size.toLong, hits.sum,
        (BigInt(hits.sum) * 1000000 / (truth.size.toLong * k)).toLong,
        (BigInt(hits.min) * 1000000 / k).toLong)
    }
    val methods = Seq(
      "ann_lsh" -> operators.SimilaritySearch.annLsh(spark, sf, k),
      "ann_ivf" -> operators.SimilaritySearch.annIvf(spark, sf, k),
      "ann_pq" -> operators.SimilaritySearch.annPq(spark, sf, k),
      "ann_ivf_pq" -> operators.SimilaritySearch.annIvfPq(spark, sf, k))
    for ((name, df) <- methods) {
      val want = grade(df.select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      assert(card(name) == want, s"$name: card ${card(name)} vs recomputed $want")
      assert(card(name)._3 > 0L, s"$name found nothing at all")
    }
  }

  test("ann_radius equals the thresholded brute-force scan, no per-query cap") {
    import operators.SimilaritySearch.RadiusSimThreshold
    val got = operators.SimilaritySearch.annRadius(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: every (query, neighbor) of the brute top-k frame is
    // a subset check; recompute the full threshold set from raw vecs
    val vecs = Tables(spark, sf).embeddings
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) Double.NaN else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qids = vecs.keys.filter(id => id % 50 == 0 && id < 1600)
    val want = (for {
      q <- qids; (n, nv) <- vecs if n != q
      s = BigDecimal(cos(vecs(q), nv)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if !s.isNaN && s >= RadiusSimThreshold
    } yield (q, n, s)).toSet
    assert(got == want, s"radius set diverges: ±${(got diff want).size}/${(want diff got).size}")
    // a radius query has NO fixed k: at least one query must exceed
    // any would-be top-k of 1, or the fixture is vacuous
    assert(got.nonEmpty)
  }

  test("cluster_stats: rollup is consistent with the clusters output") {
    val labels = graft.operators.Dedup.clusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = labels.groupBy(_._2).map(_._2.length).toSeq
    val expect = sizes.groupBy(s => math.min(s, 9).toLong)
      .map { case (k, v) =>
        k -> (v.size.toLong, v.map(_.toLong).sum, v.map(_ - 1L).sum) }
    val card = graft.operators.Dedup.clusterStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(card.map(_._1).toSet == expect.keySet)
    card.foreach { case (sc, nc, nd, nr) =>
      assert((nc, nd, nr) == expect(sc), s"size class $sc rollup mismatch") }
    // every doc is in exactly one cluster → doc totals reconcile
    assert(card.map(_._3).sum == labels.length)
  }

  test("cluster_stats: the rollup's grand-total row is the corpus word total") {
    // the card's ppm denominator is the rollup's null-key row, which
    // equals the corpus total only if every document carries exactly
    // one label row — checked against an independent documents scan
    val total = graft.operators.Dedup.clusterRollup(spark, sf)
      .filter(col("size_class").isNull).select(col("class_words")).head().getLong(0)
    val expect = Tables(spark, sf).documents
      .agg(sum(size(graft.functions.TextFunctions.words(col("text"))).cast("long")))
      .head().getLong(0)
    assert(expect > 0L, "fixture corpus has no words")
    assert(total == expect, s"rollup word total $total != corpus word total $expect")
  }

  test("lsh_tune: S-curve recurrence ≡ exact rational, anchors and monotonicity hold") {
    import graft.operators.Dedup
    // the scaled floor recurrence must agree with the exact rational
    // 1 − ((2^r − 1)^b)/2^(r·b) to ≤ 1 ppm (accumulated floor error
    // is ≤ b ulps at scale 10¹² — far below the ppm lattice)
    for (k <- 0 to 7) {
      val b = 1 << k; val r = Dedup.NumPerm / b
      val num = (BigInt(2).pow(r) - 1).pow(b)
      val den = BigInt(2).pow(r * b)
      val exact = ((den - num) * BigInt(1000000) / den).toLong
      val rec = Dedup.p50Ppm(b, r)
      assert((rec - exact).abs <= 1L, s"(b=$b, r=$r): recurrence $rec vs exact $exact")
    }
    val card = Dedup.lshTune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(card.length == 8)
    // recall anchors: one band of 128 rows ≈ never detects at s = ½;
    // 128 bands of 1 row always detect
    assert(card.head._2 == 0L && card.last._2 == 1000000L)
    assert(card.map(_._2).sliding(2).forall(p => p(0) <= p(1)),
      "p50 must be monotone in band count")
    assert(card.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "collision volume must grow with band count on this corpus")
  }

  test("dedup_eval: anchor row exact, counts consistent, minhash fidelity graded") {
    val card = operators.Dedup.dedupEval(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // the ground-truth method grades itself perfectly — a harness bug
    // cannot read as a good method
    val (np, nt, nh, rec, prec) = card("ngram_jaccard")
    assert(np == nt && nh == nt && rec == 1000000L && prec == 1000000L)
    // structural laws on every row
    card.values.foreach { case (p, t, h, r, pr) =>
      assert(h <= math.min(p, t))
      assert(if (t == 0) r == 0 else r == h * 1000000L / t)
      assert(if (p == 0) pr == 0 else pr == h * 1000000L / p)
    }
    // minhash approximates the SAME tau-0.5 jaccard: high fidelity
    assert(card("dedup_minhash")._4 >= 900000L,
      s"minhash recall ${card("dedup_minhash")._4} ppm vs exact jaccard")
  }

  test("ann_incremental: partition laws, frozen-centroid cells, growth arithmetic") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val nOld = emb.filter(col("vec_id") % 5 =!= 4 && col("v").isNotNull).count()
    val nNew = emb.filter(col("vec_id") % 5 === 4 && col("v").isNotNull).count()
    val card = operators.SimilaritySearch.annIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every vector (old and new) lands in exactly one cell
    assert(card.map(_._2).sum == nOld, "old batch not partitioned")
    assert(card.map(_._3).sum == nNew, "new batch not partitioned")
    // cells are the FROZEN old-snapshot stride centroids — never a
    // centroid trained on (or named after) a new-batch vector
    card.foreach { case (cid, o, n, g, rb) =>
      assert(cid % 50 == 7 && cid % 5 != 4, s"cell $cid not an old-stride centroid")
      assert(g == n * 1000000L / math.max(o, 1L), s"growth law broken at $cid")
      assert(rb == 0L || rb == 1L)
    }
    val overall = nNew * 1000000L / nOld
    card.foreach { case (cid, _, _, g, rb) =>
      assert((rb == 1L) == (g > 2L * overall), s"rebalance flag law at $cid")
    }
    // deterministic: a second run is bit-identical
    val again = operators.SimilaritySearch.annIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(card.toSeq == again.toSeq)
  }

  test("unordered pair-artifact shapes: same row set as the ordered operators, no global sort planned") {
    // dedup_eval / split_leak materialize each method's pair artifact
    // from the UNORDERED core (the grading is aggregation) — its row
    // set must match the registered query's exactly, the registered
    // query must stay sorted, and the core's plan must not pay the
    // range-sort exchange
    val docs = Tables(spark, sf).documents
    val (reps, membership) = operators.Dedup.collapseByText(docs)
    val sh = operators.Text.shingleSetOf(reps).localCheckpoint(true)
    val shH = sh.select(col("doc_id"),
      pmod(graft.functions.TextFunctions.hash60(col("shingle")),
        lit(operators.Dedup.P)).as("h")).distinct().localCheckpoint(true)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "ngram_jaccard" -> operators.Text.ngramJaccardFrom(sh, membership, 0.5),
      "dedup_minhash" -> operators.Dedup.minhashFrom(shH, membership),
      "winnow_pairs" -> operators.Text.winnowPairsCollapsed(reps, membership),
      "dedup_fuzzy_text" -> operators.Text.dedupFuzzyTextCollapsed(reps, membership))
    cases.foreach { case (name, core) =>
      val a = SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSeq
      val b = core.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty, s"$name: fixture produced no pairs")
      assert(a.sortBy(_.toString) == b.sortBy(_.toString),
        s"$name: core row set diverges from the registered query")
      assert(a == a.sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])),
        s"$name: registered query output is not sorted")
      val plan = core.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"),
        s"$name: unordered core still plans a global sort:\n$plan")
    }
  }
}
