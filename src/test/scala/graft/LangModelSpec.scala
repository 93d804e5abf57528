package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the language-model scoring pack (lm_score,
  * dsir_select) and the robust-anomaly operator (q26_anomaly):
  * exact-equality checks against independent in-memory references on
  * controlled fixtures, plus partitioning invariance (the scores are
  * integer-lattice arithmetic — parallelism must not change a digit).
  */
class LangModelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  private def docsOf(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("lm_score equals an independent in-memory bigram model") {
    val texts = Seq(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the hat",
      3L -> "dogs bark loudly at night",
      4L -> "one")                     // < 2 words: out of scope
    val docs = docsOf(texts.map { case (id, t) => (id, t, "en") })
    val got = operators.LangModel.lmScoreOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // reference model, built independently with plain Scala maps
    val bigrams = texts.flatMap { case (id, t) =>
      val w = t.split(" ").toSeq
      if (w.size < 2) Nil else w.sliding(2).map(p => (id, p(0), p(1))).toSeq
    }
    val c2 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val vocab = bigrams.map(_._3).distinct.size.toLong
    val pPpm = c2.map { case ((w1, w2), c) =>
      (w1, w2) -> (c + 1) * 1000000L / (c1(w1) + vocab) }
    val expect = bigrams.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, bs) =>
      val ppms = bs.map(b => pPpm((b._2, b._3)))
      (id, bs.size.toLong, ppms.sum / bs.size) }
    assert(got == expect)
    assert(!got.exists(_._1 == 4L), "a 1-word doc must have no bigram score")
  }

  test("lm_score ranks corpus-typical text above out-of-distribution text") {
    // 9 near-identical docs + 1 outlier with unseen words: the model
    // trained on this corpus must find the outlier least predictable
    val docs = docsOf((1L to 9L).map(i =>
      (i, "the cat sat on the mat again today", "en")) :+
      (10L, "zyx wvu tsr qpo nml kji hgf edc", "en"))
    val scores = operators.LangModel.lmScoreOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores(10L) < (1L to 9L).map(scores).min,
      s"outlier not ranked least predictable: $scores")
  }

  test("lm_score is invariant to partitioning") {
    val base = operators.LangModel.lmScoreOn(
      Tables(spark, sf).documents).collect().toSeq
    val shuffled = operators.LangModel.lmScoreOn(
      Tables(spark, sf).documents.repartition(13)).collect().toSeq
    assert(base == shuffled)
  }

  test("dsir_select: target-like documents outweigh out-of-distribution ones") {
    // Targets: long stopword-rich text (quality score 1.0 — the
    // shared >= 0.6 gate marks them the target slice). Non-targets:
    // short, stopword-free, disjoint vocabulary — their hashed grams
    // land in buckets with no target mass, so their ratio weights
    // must come out strictly below every target doc's.
    val targetText = (1 to 25).map(_ => "the a of to and in is the").mkString(" ")
    val docs = docsOf(Seq(
      (1L, targetText, "en"), (2L, targetText + " extra", "en"),
      (3L, "zebra xylophone quartz vortex jazzy", "en"),
      (4L, "plasma krypton wizard oxide fjord", "en")))
    val out = operators.LangModel.dsirSelectOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(Seq(1L, 2L).map(out).min > Seq(3L, 4L).map(out).max,
      s"targets do not outweigh non-targets: $out")
  }

  test("dsir_select: per-language selection respects the quota and picks the top weights") {
    val out = operators.LangModel.dsirSelectOn(Tables(spark, sf).documents).collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val sel = rows.filter(_.getAs[Long]("selected") == 1L)
      val quota = operators.LangModel.DsirQuota
      assert(sel.length == math.min(quota, rows.length), s"$lang quota violated")
      // nothing unselected may outrank a selected doc
      if (sel.length < rows.length) {
        val worstSel = sel.map(r => (r.getAs[Long]("dsir_ppm"), -r.getAs[Long]("doc_id"))).min
        val bestUnsel = rows.filter(_.getAs[Long]("selected") == 0L)
          .map(r => (r.getAs[Long]("dsir_ppm"), -r.getAs[Long]("doc_id"))).max
        assert(bestUnsel._1 <= worstSel._1, s"$lang: unselected doc outranks selected")
      }
    }
  }

  test("dsir_select is invariant to partitioning") {
    val base = operators.LangModel.dsirSelectOn(
      Tables(spark, sf).documents).collect().toSeq
    val shuffled = operators.LangModel.dsirSelectOn(
      Tables(spark, sf).documents.repartition(13)).collect().toSeq
    assert(base == shuffled)
  }

  test("ccnet_buckets: per-language tertile order statistics, ties bucketing upward") {
    // en: 3 distinct texts x 3 copies (n=9 -> clean 3/3/3 tertiles);
    // fr: 2 distinct texts x 2 copies (n=4 -> both thresholds land on
    // a tied value: 2 head, 2 middle, 0 tail — the upward-tie rule)
    val enTexts = Seq(
      "the cat sat on the mat",
      "a dog ran in the park",
      "birds sing near tall trees")
    val frTexts = Seq(
      "le chat dort sur le lit",
      "un chien court dans la rue")
    val rows =
      enTexts.zipWithIndex.flatMap { case (t, i) =>
        (0 to 2).map(c => (1L + i * 3 + c, t, "en")) } ++
      frTexts.zipWithIndex.flatMap { case (t, i) =>
        (0 to 1).map(c => (10L + i * 2 + c, t, "fr")) }
    val docs = docsOf(rows)
    val got = operators.LangModel.ccnetBucketsOn(docs)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap

    // reference: rank-based tertiles over the (already spec-verified)
    // lm_ppm scores — t_k = the ceil(k*n/3)-th largest per language
    val scores = operators.LangModel.lmScoreOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val langOf = rows.map(r => r._1 -> r._3).toMap
    val expect = scores.keys.groupBy(langOf).flatMap { case (_, ids) =>
      val vals = ids.map(scores).toSeq.sorted(Ordering[Long].reverse)
      val t1 = vals((vals.size + 2) / 3 - 1)
      val t2 = vals((2 * vals.size + 2) / 3 - 1)
      ids.map { id =>
        val s = scores(id)
        id -> (if (s >= t1) "head" else if (s >= t2) "middle" else "tail") }
    }
    assert(got == expect)
    val en = got.collect { case (id, b) if langOf(id) == "en" => b }.toSeq
    assert(Seq("head", "middle", "tail").map(b => en.count(_ == b)) == Seq(3, 3, 3))
    val fr = got.collect { case (id, b) if langOf(id) == "fr" => b }.toSeq
    assert(Seq("head", "middle", "tail").map(b => fr.count(_ == b)) == Seq(2, 2, 0),
      "tied fr thresholds must bucket all copies upward (no tail)")
  }

  test("ccnet_buckets is invariant to partitioning") {
    val base = operators.LangModel.ccnetBucketsOn(
      Tables(spark, sf).documents).collect().toSeq
    val shuffled = operators.LangModel.ccnetBucketsOn(
      Tables(spark, sf).documents.repartition(13)).collect().toSeq
    assert(base == shuffled)
  }

  test("q26_anomaly matches an in-memory median/MAD reference and flags the planted outlier") {
    import spark.implicits._
    // user 1: tight cluster around 70 plus one wild point; user 2:
    // constant series (MAD 0 — only strict deviations may flag)
    val rows = Seq(
      (1L, 1L, 70.0), (1L, 2L, 71.0), (1L, 3L, 69.0), (1L, 4L, 70.5),
      (1L, 5L, 250.0), (1L, 6L, 70.2), (1L, 7L, 69.8),
      (2L, 8L, 50.0), (2L, 9L, 50.0), (2L, 10L, 50.0))
    val ev = rows.toDF("user_id", "event_id", "value")
    val got = operators.Relational.q26On(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6))).toSeq

    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val micro = rows.map { case (u, e, v) => (u, e, math.floor(v * 10000 + 0.5).toLong) }
    val expect = micro.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val med = lowerMedian(es.map(_._3))
      val devs = es.map(e => (e._2, math.abs(e._3 - med)))
      val mad = lowerMedian(devs.map(_._2))
      devs.map { case (e, d) => (u, e, if (2 * d > 9 * mad) 1L else 0L) }
    }.sortBy(t => (t._1, t._2))
    assert(got == expect)
    assert(got.find(_._2 == 5L).get._3 == 1L, "planted outlier not flagged")
    assert(got.count(_._3 == 1L) == 1L, "exactly one anomaly expected")
  }

  test("q26_anomaly is invariant to partitioning") {
    val base = operators.Relational.q26On(
      Tables(spark, sf).events).collect().toSeq
    val shuffled = operators.Relational.q26On(
      Tables(spark, sf).events.repartition(13)).collect().toSeq
    assert(base == shuffled)
  }

  test("the LM scoring core matches an independent in-JVM recomputation") {
    import org.apache.spark.sql.functions.col
    val bi = operators.LangModel.bigramInstances(
      Tables(spark, sf).documents).localCheckpoint(true)
    val scored = operators.LangModel.lmPpm(bi)
    val rows = bi.collect().map(r => (r.getString(1), r.getString(2)))
    val c2 = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = rows.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val vocab = rows.map(_._2).distinct.length.toLong
    val byDoc = bi.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(_._1)
    val want = byDoc.map { case (d, gs) =>
      val ppms = gs.map { case (_, w1, w2) =>
        (BigInt(c2((w1, w2)) + 1) * 1000000 / (c1(w1) + vocab)).toLong
      }
      (d, gs.length.toLong, ppms.sum / gs.length)
    }.toSet
    val got = scored.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "lm_ppm differs from the independent recomputation")
  }
}
