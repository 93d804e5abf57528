package graft

import graft.operators.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The three curation-card operators added in round 7's second wave:
  * gopher_quality (rule-based admission gate), cms_words (Count-Min
  * point-frequency sketch vs exact counts), domain_stats (per-host
  * curation card). Each is checked against an independent
  * recomputation, its structural invariants, and — for the sketch —
  * partitioning invariance and the CMS overcount guarantee.
  */
class CurationCardsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  // ---- gopher_quality ----

  test("gopher flags are the thresholds applied to the features, keep is their conjunction") {
    val rows = Text.gopherQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nWords = r.getAs[Long]("n_words")
      val mwl = r.getAs[Double]("mean_word_len")
      val topFrac = r.getAs[Double]("top_word_frac")
      val nStop = r.getAs[Long]("n_stop_distinct")
      val alpha = r.getAs[Double]("alpha_frac")
      assert(r.getAs[Long]("r_words") ==
        (if (nWords >= Text.GopherMinWords && nWords <= Text.GopherMaxWords) 1L else 0L))
      assert(r.getAs[Long]("r_wordlen") ==
        (if (mwl >= Text.GopherMinWordLen && mwl <= Text.GopherMaxWordLen) 1L else 0L))
      assert(r.getAs[Long]("r_rep") == (if (topFrac <= Text.GopherMaxTopFrac) 1L else 0L))
      assert(r.getAs[Long]("r_stop") == (if (nStop >= Text.GopherMinStopHits) 1L else 0L))
      assert(r.getAs[Long]("r_alpha") == (if (alpha >= Text.GopherMinAlphaFrac) 1L else 0L))
      val flags = Seq("r_words", "r_wordlen", "r_rep", "r_stop", "r_alpha")
        .map(r.getAs[Long])
      assert(r.getAs[Long]("keep") == flags.product)
    }
    // the corpus must actually exercise the gate both ways
    assert(rows.exists(_.getAs[Long]("keep") == 1L))
    assert(rows.exists(_.getAs[Long]("keep") == 0L))
  }

  test("gopher features match a scalar recomputation from the raw text") {
    import spark.implicits._
    val docs = Tables(spark, sf).documents
    val raw = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val en = graft.functions.TextFunctions.stopwordProfiles.head._2.toSet
    Text.gopherQuality(spark, sf).collect().foreach { r =>
      val w = raw(r.getAs[Long]("doc_id")).toLowerCase
        .replaceAll("\\s+", " ").trim.split(" ", -1)
      assert(r.getAs[Long]("n_words") == w.length.toLong)
      def lat(x: Double) = math.rint((x + 1e-9) * 1e4) / 1e4
      assert(r.getAs[Double]("mean_word_len") ==
        lat(w.map(_.length.toLong).sum.toDouble / w.length))
      assert(r.getAs[Double]("top_word_frac") ==
        lat(w.groupBy(identity).values.map(_.size).max.toDouble / w.length))
      assert(r.getAs[Long]("n_stop_distinct") == w.distinct.count(en).toLong)
    }
  }

  test("gopher rejects each synthetic pathology on the right rule") {
    import spark.implicits._
    val bad = Seq(
      (1L, "too short a doc of the kind"),                        // < MinWords
      (2L, Seq.fill(40)("the the spam spam spam").mkString(" ")), // repetition
      (3L, Seq.fill(8)("alpha beta gamma delta").mkString(" ")))  // no stopwords
      .toDF("doc_id", "text")
    val out = Text.gopherQualityOn(bad).collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("r_words") == 0L)
    assert(out(2L).getAs[Long]("r_rep") == 0L)
    assert(out(3L).getAs[Long]("r_stop") == 0L)
    assert(out.values.forall(_.getAs[Long]("keep") == 0L))
  }

  test("gopher plan is map-only: the output sort is its single exchange") {
    val plan = Text.gopherQuality(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected map-only + sort, got:\n$plan")
  }

  // ---- cms_words ----

  test("cms estimates dominate exact counts (the one-sided CMS guarantee)") {
    val rows = Text.cmsWords(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= Text.CmsTopK)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_count"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("exact_count"))
    }
    // depth 4 x width 512 over a 31-word vocabulary: collisions are
    // possible per row but the aggregate overcount must stay small
    val n = rows.map(_.getAs[Long]("exact_count")).sum
    val over = rows.map(_.getAs[Long]("overcount")).sum
    assert(over <= n / 64, s"aggregate overcount $over too large for n=$n")
  }

  test("cms is partitioning-invariant (mergeable cell sums)") {
    val docs = Tables(spark, sf).documents
    val a = Text.cmsWordsOn(docs.repartition(1)).collect().toSeq
    val b = Text.cmsWordsOn(docs.repartition(13)).collect().toSeq
    assert(a == b)
  }

  test("cms is exact when the sketch is collision-free") {
    import spark.implicits._
    // 4 distinct words in 512 buckets: astronomically unlikely to
    // collide in ALL 4 depths; min over depths is then exact
    val tiny = Seq((1L, "alpha beta alpha"), (2L, "gamma delta alpha beta"))
      .toDF("doc_id", "text")
    Text.cmsWordsOn(tiny).collect().foreach { r =>
      assert(r.getAs[Long]("overcount") == 0L,
        s"unexpected collision for ${r.getAs[String]("term")}")
    }
  }

  // ---- bloom_decontaminate ----

  test("bloom dominates the exact overlap one-sidedly; flags are monotone") {
    val rows = Text.bloomDecontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bloom_hits") >= r.getAs[Long]("n_overlap"))
      assert(r.getAs[Long]("n_false_pos") ==
        r.getAs[Long]("n_bloom_hits") - r.getAs[Long]("n_overlap"))
      // never a false negative: exact-contaminated implies bloom-contaminated
      if (r.getAs[Long]("contaminated") == 1L)
        assert(r.getAs[Long]("bloom_contaminated") == 1L)
    }
    // the fixture slice must actually contaminate some docs
    assert(rows.exists(_.getAs[Long]("contaminated") == 1L))
  }

  test("bloom false-positive rate stays under the geometry's bound") {
    val rows = Text.bloomDecontaminate(spark, sf).collect()
    val clean = rows.map(r =>
      r.getAs[Long]("n_shingles") - r.getAs[Long]("n_overlap")).sum
    val fps = rows.map(_.getAs[Long]("n_false_pos")).sum
    // density ~0.1-0.35 at these corpus sizes -> density^3 well < 5%
    assert(fps.toDouble / clean <= 0.05, s"fp rate ${fps.toDouble / clean}")
  }

  test("bloom tests bits MAP-SIDE on the literal bitmap (getbit in the plan, no probe join)") {
    val qe = Text.bloomDecontaminate(spark, sf).queryExecution
    val optimized = qe.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("getbit") || optimized.contains("bit_get"),
      s"expected a literal-bitmap bit test:\n$optimized")
    // joins in the plan: the exact-overlap verification branch and
    // the final doc_id stitch — nothing joins the bloom probes
    val joins = "Join".r.findAllIn(qe.optimizedPlan.toString).size
    assert(joins <= 2, s"unexpected extra join:\n${qe.optimizedPlan}")
  }

  test("bloom bit-count law points (floor, growth, cap)") {
    import graft.operators.Text.bloomBits
    assert(bloomBits(0L) == 32768L)            // empty eval -> floor
    assert(bloomBits(1665L) == 32768L)         // sf0.01 sits AT the floor
    assert(bloomBits(4096L) == 32768L)         // 8*4096 = 2^15 exactly
    assert(bloomBits(4097L) == 65536L)         // first step off the floor
    assert(bloomBits(11718L) == 131072L)       // sf0.1's measured eval count
    assert(bloomBits(1000000L) == (1L << 23))  // 10^6-shingle benchmark suite
    assert(bloomBits(100000000L) == (1L << 27)) // driver cap: 16 MB bitmap
  }

  test("bloom FP rate stays bounded on a PLANTED large eval suite (the law, not the floor)") {
    import spark.implicits._
    // ~30k distinct eval shingles — the regime where the old frozen
    // 2^15-bit bitmap saturates (density ~0.94, FP ~0.8) and the
    // count-derived law keeps density <= 1-e^(-3/8) so FP <= ~3.1%.
    // Token vocabularies are disjoint across sides, so EVERY bloom
    // hit on the train side is a false positive by construction.
    val evalDocs = (0 until 12).map { d =>
      (3L + 17L * d, (0 until 2600).map(j => s"e${d}x$j").mkString(" "))
    }
    val trainDocs = (0 until 12).map { d =>
      (1L + 17L * d, (0 until 2600).map(j => s"t${d}x$j").mkString(" "))
    }
    val sh = graft.operators.Text.shingleSetOf(
      (evalDocs ++ trainDocs).toDF("doc_id", "text"))
    val nEval = sh.filter(col("doc_id") % 17 === 3)
      .select(col("shingle")).distinct().count()
    assert(nEval > 25000L, s"planted eval side too small: $nEval")
    assert(graft.operators.Text.bloomBits(nEval) == 262144L,
      "law point: next power of two >= 8 * ~30k")
    val rows = Text.bloomDecontaminateOn(sh).collect()
    val clean = rows.map(_.getAs[Long]("n_shingles")).sum
    val fps = rows.map(_.getAs[Long]("n_false_pos")).sum
    assert(rows.forall(_.getAs[Long]("n_overlap") == 0L), "sides must be disjoint")
    val rate = fps.toDouble / clean
    assert(rate <= 0.05, s"fp rate $rate exceeds the law's ~3.1% bound")
  }

  test("bloom with an empty eval slice: zero hits, zero flags, no failure") {
    import spark.implicits._
    // doc_ids chosen so none satisfy id % 17 == 3
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val out = Text.bloomDecontaminateOn(
      graft.operators.Text.shingleSetOf(docs)).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Long]("n_bloom_hits") == 0L)
      assert(r.getAs[Long]("n_overlap") == 0L)
      assert(r.getAs[Long]("bloom_contaminated") == 0L)
    }
  }

  // ---- domain_topk ----

  test("domain_topk equals the window formulation and plans WindowGroupLimit") {
    import org.apache.spark.sql.expressions.Window
    val df = Text.domainTopk(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    TopKPerKeySpec.assertGroupLimit(plan)
    val scored = Text.qualityScore(spark, sf).select(col("doc_id"), col("score"))
    val hosts = Text.urlNormalize(spark, sf)
      .withColumn("host", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]+)", 1))
      .select(col("doc_id"), col("host"))
    val expect = hosts.join(scored, "doc_id")
      .withColumn("host_rank", row_number().over(
        Window.partitionBy(col("host")).orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("host_rank") <= Text.DomainTopK)
      .select(col("host"), col("host_rank"), col("doc_id"), col("score"))
      .orderBy(col("host"), col("host_rank"))
      .collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  // ---- sample_weighted ----

  test("weighted sample equals the exact in-JVM E-S recomputation") {
    import spark.implicits._
    def hash60Jvm(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val scores = Text.qualityScore(spark, sf)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    val langs = Tables(spark, sf).documents
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
    val expected = langs.groupBy(_._2).map { case (lang, ds) =>
      val ranked = ds.map { case (id, _) =>
        val u = (hash60Jvm(id.toString) >>> 7) + 1
        val wq4 = math.max(math.round(scores(id) * 10000),
          graft.operators.Curation.WeightFloorQ4)
        (graft.functions.EsRankLat.rank(u, wq4), id)
      }.sortBy(identity).take(graft.operators.Curation.WeightedK).map(_._2)
      lang -> ranked.toSeq
    }
    val got = graft.operators.Curation.sampleWeighted(spark, sf).collect()
      .groupBy(_.getAs[String]("lang"))
      .map { case (l, rs) => l -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id")).toSeq }
    assert(got == expected)
  }

  test("weighted sample favors weight: a dominant-weight doc is always included") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, "en")).toDF("doc_id", "lang")
    val weight = when(col("doc_id") === 7L, lit(10000000000L)).otherwise(lit(1L))
    val got = graft.operators.Curation.sampleWeightedOn(docs, weight)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(got.contains(7L))
    assert(got.length == graft.operators.Curation.WeightedK)
  }

  test("weighted sample is partitioning-invariant") {
    val docs = Tables(spark, sf).documents
    def run(parts: Int) = {
      val scored = graft.operators.Text.withQualityScore(docs.repartition(parts))
        .select(col("doc_id"), col("lang"), col("score"))
      graft.operators.Curation.sampleWeightedOn(scored,
        greatest(round(col("score") * 10000, 0).cast("long"),
          lit(graft.operators.Curation.WeightFloorQ4))).collect().toSeq
    }
    assert(run(1) == run(11))
  }

  // ---- word_pmi ----

  test("word_pmi equals the BigInt scalar recomputation") {
    import spark.implicits._
    val texts = Tables(spark, sf).documents
      .select(col("text")).as[String].collect()
    val pairs = texts.flatMap { t =>
      val w = t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1)
        .filter(_.nonEmpty)
      w.iterator.zip(w.iterator.drop(1)).toSeq
    }
    val pc = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cf = pc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cs = pc.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val b = pc.values.sum
    val expected = pc.toSeq
      .filter(_._2 >= Text.PmiMinCount)
      .map { case ((w1, w2), n) =>
        val lift = (BigInt(n) * b * 1000000L / (BigInt(cf(w1)) * cs(w2))).toLong
        (w1, w2, n, cf(w1), cs(w2), lift)
      }
      .sortBy { case (w1, w2, _, _, _, lift) => (-lift, w1, w2) }
      .take(Text.PmiTopK)
    val got = Text.wordPmi(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("word_pmi surfaces a planted collocation above independent pairs") {
    import spark.implicits._
    // 'rare gem' always adjacent; the filler tail mixes its four
    // words pseudo-deterministically so filler pairs are ~independent
    val fillers = Vector("alpha", "beta", "gamma", "delta")
    val docs = (1L to 40L).map { i =>
      val tail = (0 until 10)
        .map(j => fillers(((i * 7 + j * 5 + j * j) % 4).toInt)).mkString(" ")
      (i, s"rare gem $tail")
    }.toDF("doc_id", "text")
    val out = Text.wordPmiOn(docs).collect()
    val top = out.head
    assert((top.getString(0), top.getString(1)) == ("rare", "gem"))
    val fillerMax = out.drop(1).map(_.getAs[Long]("lift_ppm")).max
    assert(top.getAs[Long]("lift_ppm") > 2 * fillerMax,
      s"planted ${top.getAs[Long]("lift_ppm")} vs filler $fillerMax")
  }

  // ---- source_overlap ----

  test("source_overlap equals exact pairwise Jaccard when the sketch holds everything") {
    val fpSets = fingerprintSets(Tables(spark, sf).documents)
    val got = graft.operators.Curation.sourceOverlap(spark, sf).collect()
    got.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      val (sa, sb) = (fpSets(a), fpSets(b))
      val inter = (sa intersect sb).size.toLong
      val union = (sa union sb).size.toLong
      assert(r.getAs[Long]("k_used") == union)
      assert(r.getAs[Long]("n_common") == inter)
      assert(r.getAs[Long]("jaccard_est_ppm") == inter * 1000000L / union)
    }
    // sources pair exhaustively: C(|sources|, 2) rows
    val n = fpSets.size.toLong
    assert(got.length.toLong == n * (n - 1) / 2)
  }

  private def fingerprintSets(docs: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] = {
    import docs.sparkSession.implicits._
    import graft.functions.TextFunctions.{hash60, normalize}
    docs.select(col("source"), hash60(normalize(col("text"))).as("fp"))
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("source_overlap under eviction: estimate within the KMV error bound") {
    import spark.implicits._
    // two sources, 4000 contents each, true overlap 1/3 of the union
    val shared = (1L to 2000L).map(i => ("both" + i, true))
    val docs = (shared.map { case (t, _) => ("sA", t) } ++
      (1L to 2000L).map(i => ("sA", s"onlyA $i")) ++
      shared.map { case (t, _) => ("sB", t) } ++
      (1L to 2000L).map(i => ("sB", s"onlyB $i")))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, t, s) }
      .toDF("doc_id", "text", "source")
    val k = 256
    val r = graft.operators.Curation.sourceOverlapOn(docs, k).collect().head
    val est = r.getAs[Long]("jaccard_est_ppm").toDouble / 1e6
    val trueJ = 2000.0 / 6000.0
    // KMV standard error ~ 1/sqrt(k) ≈ 0.0625; allow 4 sigma
    assert(math.abs(est - trueJ) < 0.25, s"est $est vs $trueJ")
    assert(r.getAs[Long]("k_used") == k)
  }

  test("source_overlap is partitioning-invariant") {
    val docs = Tables(spark, sf).documents
    def run(p: Int) =
      graft.operators.Curation.sourceOverlapOn(docs.repartition(p)).collect().toSeq
    assert(run(1) == run(9))
  }

  // ---- domain_stats ----

  test("domain card matches the url_normalize x quality_score recomputation") {
    val urls = Text.urlNormalize(spark, sf)
      .select(col("doc_id"), col("url_norm"), col("is_canonical"))
    val scored = Text.qualityScore(spark, sf)
      .select(col("doc_id"), col("n_words"), col("score"))
    val expect = urls.join(scored, "doc_id")
      .withColumn("host", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]+)", 1))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_norm")).as("n_urls"),
        sum(col("is_canonical")).as("n_canonical"),
        sum(col("n_words")).as("total_words"),
        sum(round(col("score") * 10000).cast("long")).as("s4"))
      .collect().map(r => r.getAs[String]("host") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_urls"),
          r.getAs[Long]("n_canonical"), r.getAs[Long]("total_words"))).toMap
    val got = Text.domainStats(spark, sf).collect()
    assert(got.map(_.getAs[String]("host")).toSet == expect.keySet)
    got.foreach { r =>
      val (nd, nu, nc, tw) = expect(r.getAs[String]("host"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_urls") == nu)
      assert(r.getAs[Long]("n_canonical") == nc)
      assert(r.getAs[Long]("total_words") == tw)
      val dup = r.getAs[Double]("dup_rate")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(math.abs(dup - (1.0 - nc.toDouble / nd)) < 1e-6)
    }
  }

  test("domain card invariants: canonical count is the distinct-URL count, totals add up") {
    val got = Text.domainStats(spark, sf).collect()
    // every url_norm group lives inside one host, so the per-host
    // keeper count IS the per-host distinct-URL count
    got.foreach(r =>
      assert(r.getAs[Long]("n_canonical") == r.getAs[Long]("n_urls")))
    val nDocs = Tables(spark, sf).documents.count()
    assert(got.map(_.getAs[Long]("n_docs")).sum == nDocs)
    got.foreach { r =>
      val s = r.getAs[Double]("avg_score")
      assert(s >= 0.0 && s <= 1.0)
    }
  }

  // ---- mix_budget ----

  /** Synthetic docs: one row per (source, word count). */
  private def docsWithTokens(card: Seq[(String, Int)]): DataFrame = {
    import spark.implicits._
    card.zipWithIndex.map { case ((s, k), i) =>
      (i.toLong, Seq.fill(k)("w").mkString(" "), s)
    }.toDF("doc_id", "text", "source")
  }

  test("mix_budget waterfill: both regimes, budget filled, max-min fairness invariants") {
    import operators.Curation.MixBudgetDen
    // skewed card: small sources must survive whole, the giants cap
    val card = Seq("tiny" -> 10, "small" -> 40, "mid" -> 200,
      "big" -> 900, "giant" -> 2000)
    val rows = operators.Curation.mixBudgetOn(docsWithTokens(card))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val byName = rows.map(r => r._1 -> r).toMap
    val total = card.map(_._2.toLong).sum
    val budget = total / MixBudgetDen
    val allocSum = rows.map(_._3).sum
    val n = rows.length
    // budget respected, and filled up to floor remainders (< n)
    assert(allocSum <= budget, s"over budget: $allocSum > $budget")
    assert(budget - allocSum < n, s"budget underfilled: $allocSum vs $budget")
    // uncapped sources keep every token; capped share one level
    assert(byName("tiny")._5 == 0L && byName("tiny")._3 == 10L)
    assert(byName("small")._5 == 0L && byName("small")._3 == 40L)
    val capLevels = rows.filter(_._5 == 1L).map(_._3).distinct
    assert(capLevels.length == 1, s"capped sources not at one level: $rows")
    // max-min fairness: alloc is monotone in tokens
    val sorted = rows.sortBy(_._2)
    assert(sorted.map(_._3).zip(sorted.map(_._3).tail).forall { case (a, b) => a <= b })
    // capped flag consistent
    rows.foreach { case (_, t, a, ppm, c) =>
      assert((c == 1L) == (a < t))
      assert(ppm == (BigInt(a) * 1000000 / t).toLong)
    }
    // symmetric card: two equal sources split the half-total budget
    // evenly, both capped at exactly budget/2
    val even = operators.Curation.mixBudgetOn(
      docsWithTokens(Seq("a" -> 4, "b" -> 4))).collect()
    even.foreach { r =>
      assert(r.getLong(2) == 2L && r.getLong(4) == 1L,
        s"symmetric split broken: ${r.mkString(",")}")
    }
  }

  test("mix_temperature: exact isqrt lattice, tail upweighted, shares sum to ~10⁶") {
    val rows = operators.Curation.mixTemperatureOn(
        Tables(spark, sf).documents)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // w is EXACTLY the integer square root: w² ≤ tokens < (w+1)²
    rows.foreach { case (s, t, w, _, _) =>
      assert(BigInt(w) * w <= t && BigInt(w + 1) * (w + 1) > t,
        s"$s: $w is not isqrt($t)")
    }
    // floor-division shares each sum to 10⁶ − (rounding loss < n)
    val natSum = rows.map(_._4).sum
    val tmpSum = rows.map(_._5).sum
    assert(natSum > 1000000 - rows.length && natSum <= 1000000)
    assert(tmpSum > 1000000 - rows.length && tmpSum <= 1000000)
    // α = 1/2 temperature flattens: every below-average source gains
    // share (or holds), every above-average one loses — the sqrt
    // concavity law the sampler relies on
    rows.foreach { case (s, t, _, nat, temp) =>
      if (nat < 1000000 / rows.length) assert(temp >= nat,
        s"small source $s lost share under temperature ($nat → $temp)")
    }
    val (bigS, _, _, bigNat, bigTemp) = rows.maxBy(_._2)
    assert(bigTemp <= bigNat, s"largest source $bigS gained share ($bigNat → $bigTemp)")
    // pinned micro-card: tokens 9/4/1 → w 3/2/1, temp shares 3/2/1 of 6
    val micro = operators.Curation.mixTemperatureOn(
      docsWithTokens(Seq("a" -> 9, "b" -> 4, "c" -> 1))).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq
    assert(micro == Seq(("a", 3L, 500000L), ("b", 2L, 333333L), ("c", 1L, 166666L)),
      s"micro card: $micro")
  }

  test("corpus_diff: statuses partition the id universe; every fixture class observed") {
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf).documents
    val rows = operators.Curation.corpusDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byStatus = rows.groupBy(_._2).view.mapValues(_.length).toMap
    // all four classes fire on the fixture
    Seq("added", "removed", "changed", "unchanged").foreach(s =>
      assert(byStatus.getOrElse(s, 0) > 0, s"no $s docs"))
    // id universe = v1 ∪ v2, each exactly once
    val n1 = docs.count()
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val nAdded = ids.count(_ % operators.Curation.DiffAddMod == 2)
    assert(rows.length == n1 + nAdded)
    assert(rows.map(_._1).distinct.length == rows.length)
    // moduli semantics: removed/added counts exact; changed docs are
    // exactly the edited-and-kept ones whose text actually changed
    assert(byStatus("removed") == ids.count(_ % operators.Curation.DiffRemoveMod == 5))
    assert(byStatus("added") == nAdded)
    val expectedChanged = ids.count(i =>
      i % operators.Curation.DiffRemoveMod != 5 &&
        i % operators.Curation.DiffEditMod == 3)
    assert(byStatus("changed") == expectedChanged)
    // empty snapshots diff to an empty frame
    import spark.implicits._
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(operators.Curation.corpusDiffOn(none, none).count() == 0)
    // a one-sided diff reads as all-added / all-removed
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    assert(operators.Curation.corpusDiffOn(none, one).collect()
      .map(_.getString(1)).toSeq == Seq("added"))
    assert(operators.Curation.corpusDiffOn(one, none).collect()
      .map(_.getString(1)).toSeq == Seq("removed"))
  }

  test("shard_balance: exhaustive, partitioning-invariant, bounded imbalance") {
    import operators.Curation.{BalanceBucketWidth, BalanceMaxBucket, BalanceShards}
    val docs = Tables(spark, sf).documents
    val card = operators.Curation.shardBalanceOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc lands in exactly one shard
    assert(card.map(_._2).sum == docs.count())
    // deterministic under repartitioning (bucket windows order by doc_id)
    val again = operators.Curation.shardBalanceOn(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(card.toSeq == again.toSeq)
    // the balance LAW: each bucket round-robins, so shard token totals
    // differ by at most (#buckets × (bucket width − 1)) plus the tail
    // bucket's internal spread — compute the tail spread exactly
    import org.apache.spark.sql.functions.{col, size => ssize}
    val nw = docs.select(
      ssize(graft.functions.TextFunctions.words(col("text"))).cast("long").as("nw"))
      .collect().map(_.getLong(0))
    val tail = nw.filter(_ >= BalanceBucketWidth * BalanceMaxBucket)
    val tailSpread = if (tail.isEmpty) 0L else tail.max - tail.min
    val bound = (BalanceMaxBucket + 1) * (BalanceBucketWidth - 1) + tailSpread
    val toks = card.map(_._3)
    assert(toks.max - toks.min <= bound,
      s"imbalance ${toks.max - toks.min} exceeds bound $bound")
    // and it actually used multiple shards
    assert(card.length == BalanceShards)
  }

  test("split_leak: cells partition the ngram pair set; flags mark off-diagonals") {
    val cells = operators.Curation.splitLeak(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(cells.length == 6, "the six-cell matrix must be zero-filled")
    // the cells PARTITION the registered near-dup pair set exactly
    val nPairs = Text.ngramJaccard(spark, sf).count()
    assert(cells.map(_._3).sum == nPairs,
      s"cell total ${cells.map(_._3).sum} != ngram_jaccard pairs $nPairs")
    cells.foreach { case (a, b, np, ne, leak) =>
      assert(a <= b, "cells must be canonically ordered")
      assert(ne <= np, "exact sub-count exceeds pair count")
      assert(leak == (if (a != b) 1L else 0L))
    }
  }

  test("pack_eval: packing laws hold and match an in-JVM recompute") {
    import operators.Curation.PackEvalBudgets
    val card = operators.Curation.packEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(card.map(_._1).toSeq == PackEvalBudgets)
    // independent reference from the raw word counts
    val nws = Tables(spark, sf).documents
      .select(size(graft.functions.TextFunctions.words(col("text"))).cast("long"))
      .collect().map(_.getLong(0))
    card.foreach { case (b, nd, tw, os, pad, packed, waste) =>
      assert(nd == nws.length && tw == nws.sum)
      assert(os == nws.count(_ > b))
      assert(pad == nws.map(w => (w + b - 1) / b).sum)
      assert(packed == (tw + b - 1) / b)
      assert(packed <= pad, "contiguous packing cannot need more sequences")
      assert(waste == (if (pad == 0) 0L else (pad * b - tw) * 1000000L / (pad * b)))
    }
    // a larger budget can only reduce overflow docs
    assert(card.map(_._4).sliding(2).forall(p => p(1) <= p(0)))
  }

  test("shard_balance: two-level prefix sum ≡ serial bucket window (splice law)") {
    import spark.implicits._
    import operators.Curation.{BalanceBucketWidth, BalanceMaxBucket, BalanceShards}
    // sparse non-contiguous ids force empty segments and uneven
    // (bucket, segment) occupancy — the splice arithmetic's corners
    val docs = (0 until 500).map { i =>
      val id = i.toLong * 7 + 3
      (id, Seq.fill((i * 37) % 120 + 1)("w").mkString(" "))
    }.toDF("doc_id", "text").repartition(5)
    val twoLevel = operators.Curation.shardBalanceOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // serial twin: the round-8 bucket-partitioned window (correct but
    // not scale-safe — kept here as the reference semantics)
    val w = docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.words(col("text"))).cast("long").as("nw"))
      .withColumn("bucket",
        least(expr(s"nw div $BalanceBucketWidth"), lit(BalanceMaxBucket)))
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    val serial = w.withColumn("shard",
        pmod(row_number().over(byBucket) - 1 + col("bucket"),
          lit(BalanceShards.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens"))
      .orderBy(col("shard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(twoLevel == serial, "two-level splice diverged from the serial window")
    // plan tripwire: the rank window must partition by (bucket, seg),
    // never by the bounded bucket key alone
    val plan = operators.Curation.shardBalanceOn(docs)
      .queryExecution.executedPlan.toString
    val winLines = plan.linesIterator.filter(_.contains("row_number")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("seg#")),
      s"rank window lost its segment key:\n${winLines.mkString("\n")}")
  }

  test("ngram_coverage: planted copy is full, unique eval doc is clean, laws hold") {
    import spark.implicits._
    // doc 3 (3 % 17 = 3 → eval) copies train doc 1 verbatim → full;
    // doc 20 (20 % 17 = 3 → eval) is unique → clean; doc 37 shares
    // its first 4 of 6 words with train doc 2 → partial
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (5L, "filler words that overlap nothing here"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (20L, "totally unique eval content nothing shared"),
      (37L, "one two three four nine ten"))
      .toDF("doc_id", "text")
    val got = operators.Text.ngramCoverageOn(operators.Text.shingleSetOf(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toList
    assert(got.map(t => t._1 -> t._5).toMap ==
      Map(3L -> "full", 20L -> "clean", 37L -> "partial"), s"exposure wrong: $got")
    // laws: found <= shingles; ppm consistent; full <=> ppm 10^6
    got.foreach { t =>
      assert(t._3 <= t._2 && t._4 == t._3 * 1000000L / t._2)
      assert((t._5 == "full") == (t._3 == t._2))
    }
    // doc 37: 4 shingles, the first two ("one two three", "two three
    // four") covered by train doc 2
    assert(got.find(_._1 == 37L).get._3 == 2L)
  }

  test("anneal_mix: endpoint laws, per-epoch mass, and interpolation bounds") {
    val card = operators.Curation.annealMix(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val epochs = operators.Curation.AnnealEpochs
    val nSources = card.map(_._2).distinct.length
    assert(card.length == epochs * nSources)
    // epoch 0 IS the natural mix; the last epoch IS the target mix
    // (the (E-1)·Δ div (E-1) cancellation — exact, not approximate)
    card.filter(_._1 == 0).foreach(t => assert(t._7 == t._5, s"epoch-0 drift: $t"))
    card.filter(_._1 == epochs - 1)
      .foreach(t => assert(t._7 == t._6, s"final-epoch drift: $t"))
    // every intermediate share sits between its endpoints
    card.foreach { t =>
      assert(t._7 >= math.min(t._5, t._6) && t._7 <= math.max(t._5, t._6),
        s"share outside its interpolation interval: $t")
    }
    // per-epoch sampling mass stays ~1 (truncation loses < 1 ppm per
    // source per endpoint)
    card.groupBy(_._1).values.foreach { rows =>
      val mass = rows.map(_._7).sum
      assert(math.abs(mass - 1000000L) <= 2L * nSources, s"mass $mass")
    }
    // the fixture actually anneals: some source moves between epochs
    assert(card.exists(t => t._5 != t._6), "degenerate: natural == target everywhere")
  }

  test("anneal_mix: a corpus with no high-quality tokens anneals to itself") {
    import spark.implicits._
    // every doc far below the 0.6 score bar (3 words, no stopwords)
    val docs = (1L to 40L).map(d => (d, s"xq$d yq$d zq$d", s"s${d % 4}"))
      .toDF("doc_id", "text", "source")
    val card = operators.Curation.annealMixOn(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(card.forall(t => t._4 == t._3 && t._5 == t._3),
      "hq-empty corpus must hold the natural mix at every epoch")
    assert(operators.Curation.annealMixOn(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"))
      .count() == 0, "empty corpus must yield an empty schedule")
  }
}
