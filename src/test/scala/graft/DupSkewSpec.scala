package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-skew hardening (the boilerplate hazard): a web corpus
  * concentrates duplication in EXACT copies — m copies of one
  * boilerplate page put m identical signatures in every LSH band,
  * simhash block and PassJoin segment bucket, so candidate
  * generation over raw documents is O(m²) on the hot text no matter
  * the blocking scheme. The candidate-pair family collapses to
  * exact-text representatives first (Dedup.collapseByText) and
  * expands verified rep pairs through group membership, which this
  * suite verifies on a corpus with two heavy duplicate groups:
  *
  *  - the collapse machinery itself (reps, gsize, min-id election);
  *  - candidate volume over reps is orders of magnitude below the
  *    raw-corpus volume (measured on the SAME frames, same code);
  *  - each operator's OUTPUT is exactly what the un-collapsed
  *    pipeline defines — within-group pairs at the self-score,
  *    cross-group pairs inheriting the rep pair's score, and
  *    signature-less docs (empty text) still producing nothing.
  */
class DupSkewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  // ~40-word texts with disjoint vocabularies so A/B never pair;
  // aVar differs from A in exactly one word (substitution) so it
  // pairs with the A group at high jaccard / small edit distance
  private val wordsA = (0 until 40).map(i => s"alpha$i")
  private val textA = wordsA.mkString(" ")
  // replacement word at edit distance 12 from "alpha20" (7 replaces +
  // 5 inserts), far beyond τ = 5, so the full-text fuzzy family must
  // NOT pair the variant while the shingle families still do
  private val textAVar = wordsA.updated(20, "zzzzzzzzzzzz").mkString(" ")
  private val textB = (0 until 40).map(i => s"bravo$i").mkString(" ")
  private val distinctTexts =
    (0 until 30).map(i => (0 until 40).map(j => s"w${i}x$j").mkString(" "))

  private val DupA = 150 // copies of textA: ids 0..149
  private val DupB = 80 //  copies of textB: ids 150..229

  private def corpus: DataFrame = {
    import spark.implicits._
    val rows =
      (0 until DupA).map(i => (i.toLong, textA)) ++
        (0 until DupB).map(i => ((DupA + i).toLong, textB)) ++
        Seq(((DupA + DupB).toLong, textAVar)) ++
        distinctTexts.zipWithIndex.map { case (t, i) =>
          ((DupA + DupB + 1 + i).toLong, t)
        } ++
        // empty texts: no shingles, no signature — must stay pair-less
        Seq(((DupA + DupB + 1 + distinctTexts.size).toLong, ""),
          ((DupA + DupB + 2 + distinctTexts.size).toLong, ""))
    rows.toDF("doc_id", "text")
  }

  private val nDocs = DupA + DupB + 1 + 30 + 2
  private val aVarId = (DupA + DupB).toLong

  test("collapseByText: min-id reps, exact group sizes, full membership") {
    val (reps, membership) = operators.Dedup.collapseByText(corpus)
    // 2 hot texts + variant + 30 distinct + "" = 34 distinct texts
    assert(reps.count() == 34L)
    assert(membership.count() == nDocs.toLong)
    val m = membership.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(0L) == (0L, DupA.toLong)) // A's rep is its min id
    (1 until DupA).foreach(i => assert(m(i.toLong) == (0L, DupA.toLong)))
    assert(m(DupA.toLong) == (DupA.toLong, DupB.toLong))
    assert(m(aVarId) == (aVarId, 1L))
    // the two empty texts form one group of 2
    assert(m((nDocs - 1).toLong)._2 == 2L)
  }

  test("minhash candidate volume: linear over reps, quadratic raw") {
    val (reps, _) = operators.Dedup.collapseByText(corpus)
    val collapsed = operators.Dedup.minhashCandidates(
      operators.Dedup.shingleHashesOf(reps)).count()
    val raw = operators.Dedup.minhashCandidates(
      operators.Dedup.shingleHashesOf(corpus)).count()
    // reps: at most C(34,2) = 561; in practice only genuinely similar
    // texts share a band (A with its variant)
    assert(collapsed <= 50L, s"rep-level candidates: $collapsed")
    // raw corpus: every within-group pair is a certain candidate —
    // ≥ C(150,2) + C(80,2) = 14335 — the O(m²) blowup the collapse removes
    assert(raw >= 14000L, s"raw candidates: $raw")
  }

  test("dedup_minhash output: within-group J=1 pairs, expanded variant pairs, no empty-text pairs") {
    val out = operators.Dedup.minhashOn(corpus).collect()
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact expected pair count: C(150,2) + C(80,2) within groups,
    // plus (A-group × variant) if minhash surfaced the rep pair
    val withinA = DupA * (DupA - 1) / 2
    val withinB = DupB * (DupB - 1) / 2
    val varPairs = out.count(r => r.getLong(1) == aVarId || r.getLong(0) == aVarId)
    assert(varPairs == 0 || varPairs == DupA,
      s"variant pairs with the A group must expand to all $DupA members or none, got $varPairs")
    assert(out.length == withinA + withinB + varPairs)
    assert(byPair((0L, 1L)) == 1.0)
    assert(byPair((DupA.toLong, DupA.toLong + 1)) == 1.0)
    // 39-of-41-shingle overlap: jaccard well above threshold, < 1
    if (varPairs > 0) {
      val j = byPair((0L, aVarId))
      assert(j > 0.8 && j < 1.0)
    }
    // no pair touches the empty-text docs
    assert(!out.exists(r => r.getLong(0) >= (nDocs - 2).toLong || r.getLong(1) >= (nDocs - 2).toLong))
  }

  test("dedup_simhash: members inherit rep signature and closed-form partner counts") {
    val out = operators.Dedup.simhashOn(corpus).collect()
    // unlike the shingle families, simhash signs EVERY doc: words("")
    // is [""] (one empty token), so even empty texts carry a
    // signature — same as the raw pipeline, where the two empty docs
    // are each other's hamming-0 partner
    assert(out.length == nDocs)
    val byDoc = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // identical docs: identical signatures
    assert((1 until DupA).forall(i => byDoc(i.toLong)._1 == byDoc(0L)._1))
    // variant within hamming ≤ 3 of A or not — both groups must agree
    val varNear = byDoc(aVarId)._2
    assert(varNear == 0L || varNear == DupA.toLong)
    val expectA = (DupA - 1).toLong + (if (varNear > 0) 1L else 0L)
    (0 until DupA).foreach(i => assert(byDoc(i.toLong)._2 == expectA,
      s"doc $i n_near_dups ${byDoc(i.toLong)._2} != $expectA"))
    (0 until DupB).foreach(i =>
      assert(byDoc((DupA + i).toLong)._2 == (DupB - 1).toLong))
    // the empty-text pair: identical signatures, one partner each
    assert(byDoc((nDocs - 1).toLong) == byDoc((nDocs - 2).toLong))
    assert(byDoc((nDocs - 1).toLong)._2 == 1L)
  }

  test("ngram_jaccard: expanded pairs match the self-score/inherited-score contract") {
    val out = operators.Text.ngramJaccardDocs(corpus, 0.5).collect()
    val withinA = DupA * (DupA - 1) / 2
    val withinB = DupB * (DupB - 1) / 2
    // exact operator: variant-vs-A jaccard = 35/41 ≈ 0.854 ≥ 0.5 —
    // the DupA cross pairs are always present
    assert(out.length == withinA + withinB + DupA)
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(byPair((0L, 1L)) == 1.0)
    val j = byPair((0L, aVarId))
    assert(math.abs(j - 35.0 / 41.0) < 1e-4, s"variant jaccard $j")
    assert(byPair((1L, aVarId)) == j) // every member inherits the rep score
  }

  test("dedup_fuzzy + dedup_fuzzy_text: dist-0 within groups, variant expands, empties excluded") {
    val fz = operators.Text.dedupFuzzyOn(corpus).collect()
    val withinA = DupA * (DupA - 1) / 2
    val withinB = DupB * (DupB - 1) / 2
    // prefix form: the substituted word (index 20) sits far past
    // char 64 of the normalized text, so variant vs A is DIST 0 on
    // the 64-char prefix and joins the A group's pair set
    val fzPairs = fz.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(fzPairs((0L, 1L)) == 0L)
    assert(fzPairs((0L, aVarId)) == 0L)
    assert(fz.length == withinA + withinB + DupA)
    assert(!fz.exists(r => r.getLong(1) >= (nDocs - 2).toLong))

    val ft = operators.Text.dedupFuzzyTextOn(corpus).collect()
    val ftPairs = ft.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ftPairs((0L, 1L)) == 0L)
    // full-text form SEES the substitution (edit distance 12 > τ = 5)
    // — the variant must NOT pair here
    assert(!ftPairs.contains((0L, aVarId)))
    assert(ft.length == withinA + withinB)
  }

  test("winnow family under duplicate skew: copies can neither hide past the df-cap nor blow up") {
    // pre-guard hazard, the OPPOSITE failure of candidate blowup:
    // 150 copies push every fingerprint of textA past WinnowDfCap=64
    // ("hot"), so the raw-corpus index emitted ZERO pairs for the
    // most duplicated content in the corpus. Collapsed, df counts
    // distinct texts: within-group pairs come back as full
    // containment, the variant still pairs char-level with the whole
    // A group, and nothing pairs the empty/distinct docs.
    val out = operators.Text.winnowPairsOn(corpus).collect()
    val withinA = DupA * (DupA - 1) / 2
    val withinB = DupB * (DupB - 1) / 2
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (s01, n01a, n01b) = byPair((0L, 1L))
    assert(s01 > 0 && s01 == n01a && s01 == n01b)
    assert(byPair.contains((DupA.toLong, DupA.toLong + 1)))
    val varPairs = out.count(r => r.getLong(0) == aVarId || r.getLong(1) == aVarId)
    assert(varPairs == DupA, s"variant must pair with every A member, got $varPairs")
    assert(out.length == withinA + withinB + varPairs)
    assert(!out.exists(r => r.getLong(1) >= (nDocs - 2).toLong))
    // nf sides follow their ids through the expansion flip
    val (sv, nv1, nv2) = byPair((0L, aVarId))
    assert(sv < math.max(nv1, nv2) && sv * 100 >= 50L * math.min(nv1, nv2))

    val cl = operators.Text.winnowClustersOn(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until DupA).foreach(i => assert(cl(i.toLong) == 0L))
    assert(cl(aVarId) == 0L)
    (0 until DupB).foreach(i => assert(cl((DupA + i).toLong) == DupA.toLong))
    assert(cl((nDocs - 1).toLong) == (nDocs - 1).toLong)
    assert(cl((DupA + DupB + 1).toLong) == (DupA + DupB + 1).toLong)
  }

  test("no net cache growth: dedup-family queries leave the CacheManager empty") {
    // the collapse guard's membership frame and the per-operator
    // signature/shingle sets materialize via localCheckpoint, not
    // cache() — a library user running dedup repeatedly from a
    // long-lived session must not accumulate pinned storage that
    // only spark.catalog.clearCache() would release
    assert(spark.sharedState.cacheManager.isEmpty)
    operators.Dedup.minhashOn(corpus).count()
    operators.Text.ngramJaccardDocs(corpus, 0.5).count()
    operators.Dedup.simhashOn(corpus).count()
    operators.Dedup.clustersDocs(corpus, maxIters = 20).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dedup-family operator pinned storage in the session CacheManager")
  }

  test("dedup_clusters: linear star edges produce the exact component labels") {
    val out = operators.Dedup.clustersDocs(corpus, maxIters = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == nDocs)
    // A group ∪ variant: one component labeled by doc 0
    (0 until DupA).foreach(i => assert(out(i.toLong)._1 == 0L))
    assert(out(aVarId)._1 == 0L)
    assert(out(0L)._2 == 1L && out(1L)._2 == 0L)
    // B group: labeled by its min id
    (0 until DupB).foreach(i => assert(out((DupA + i).toLong)._1 == DupA.toLong))
    // empty-text docs: singletons (no shingles → no edges), NOT merged
    assert(out((nDocs - 1).toLong)._1 == (nDocs - 1).toLong)
    assert(out((nDocs - 2).toLong)._1 == (nDocs - 2).toLong)
    // distinct docs: singletons
    assert(out((DupA + DupB + 1).toLong)._1 == (DupA + DupB + 1).toLong)
  }

  test("dedup_containment: member expansion equals brute-force ground truth; quote-inclusion caught") {
    import spark.implicits._
    // plant the asymmetric case Jaccard misses: a 20-word prefix of
    // textA — fully contained in every A copy, J ≈ 18/38 below 0.5
    val containedId = nDocs.toLong
    val docs = corpus.union(
      Seq((containedId, wordsA.take(20).mkString(" "))).toDF("doc_id", "text"))
    val got = operators.Text.containmentOn(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // brute force over every doc (no collapse, no expansion)
    def shingleSet(t: String): Set[String] = {
      val w = t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").filter(_.nonEmpty)
      if (w.length < 3) Set.empty[String] else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.collect().map(r => (r.getLong(0), shingleSet(r.getString(1))))
      .filter(_._2.nonEmpty)
    val ref = sets.map { case (id, s) =>
      val overlapping = sets.iterator.filter(_._1 != id).map { case (oid, os) =>
        (oid, s.intersect(os).size.toLong * 1000000L / s.size)
      }.filter(_._2 > 0).toSeq
      val best =
        if (overlapping.isEmpty) (0L, -1L)
        else {
          val m = overlapping.map(_._2).max
          (m, overlapping.filter(_._2 == m).map(_._1).min)
        }
      id -> ((s.size.toLong, best._1, best._2,
        overlapping.count(_._2 >= operators.Text.ContainTPpm).toLong))
    }.toMap
    assert(got.keySet == ref.keySet, "row coverage differs from ground truth")
    for ((id, exp) <- ref)
      assert(got(id) == exp, s"doc $id: got ${got(id)} want $exp")
    // the planted doc is contained in all 150 A copies AND the
    // variant (39 of its 40 words intact), and Jaccard would miss it
    assert(got(containedId)._2 == 1000000L)
    assert(got(containedId)._4 >= DupA.toLong)
    val j = 18.0 / (18 + 38 - 18)
    assert(j < 0.5, "fixture sanity: the planted pair must be sub-Jaccard-threshold")
  }
}
