package graft.operators

import graft.Materialize
import graft.Materialize.MatOps
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis pack over `documents` (SURVEY §2 #22-23, 29-32):
  * the per-document operators a training-data pipeline runs before
  * dedup/filtering. All pure column expressions — one scan, no
  * shuffle except where an aggregation is the point.
  */
object Text {

  /** dedup_exact — exact duplicate groups by md5 of normalized text.
    * At 100 TB: one shuffle on a 128-bit hash (uniform keys, no
    * skew); the groups are tiny so map-side partial aggregation
    * collapses almost everything.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    docs.select(col("doc_id"), md5(normalize(col("text"))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Candidate-amplification budget for the auto-selection in
    * [[ngramJaccard]]: the plain inverted index emits Σ f·(f−1)/2
    * candidate pairs for Σ f input rows; when that ratio (join output
    * per join input row) exceeds this factor the corpus is skewed
    * enough that the prefix filter wins. Amplification — not an
    * absolute pair count — is the right dial: it is what a hot
    * (df ≈ n) shingle drives quadratic, it is invariant to corpus
    * size on healthy (Heaps-law) vocabularies, and bounding it
    * bounds the candidate shuffle at C·|input|, i.e. linear.
    * Measured: this driver's uniform corpus sits at ≈0.5–5×
    * (plain is ~3× cheaper there); a boilerplate-headed Zipfian
    * corpus crosses ~12× and keeps growing with n.
    */
  val MaxCandidateAmplification = 8.0

  /** ngram_jaccard — exact word-3-gram Jaccard over candidate pairs
    * generated by an inverted-index self-join (pairs share ≥1
    * shingle). The shuffle key is the shingle, never the document —
    * no O(n²) cross join at any scale.
    *
    * Skewed (stopword-y) shingles are the known hazard of the plain
    * index: a shingle hitting f docs emits f·(f−1)/2 candidate pairs,
    * so Zipfian text blows up on its head terms. The operator
    * MEASURES that quantity — Σ f·(f−1)/2 over the document-frequency
    * histogram, the exact join-output size — and auto-selects:
    * within [[MaxCandidateAmplification]]× the input row count it
    * runs the plain index (cheapest on uniform vocabularies, this
    * corpus included); above
    * it, the prefix-filtered AllPairs form ([[ngramJaccardPrefix]]),
    * which never indexes hot shingles outside a doc's rarest-first
    * prefix. Both are LOSSLESS for J ≥ t, so the selection changes
    * cost, never results (equality asserted in QueryPackSpec; the
    * df histogram is vocabulary-sized metadata the prefix path needs
    * anyway).
    *
    * Materialization contract: the shingle set is eagerly
    * localCheckpoint'd (three consumers, lineage truncated); the
    * stored blocks free with the RDD once the returned frame is
    * garbage — no session CacheManager growth.
    */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    ngramJaccardDocs(Tables(spark, dir).documents, threshold)

  /** Docs-level entry with the exact-duplicate skew guard
    * ([[Dedup.collapseByText]]): both candidate paths (plain index
    * and prefix filter) degrade to O(m²) when m exact copies of one
    * text share every (prefix) shingle bucket, so the Jaccard
    * machinery runs over distinct-text representatives and verified
    * pairs expand through group membership (within-group pairs are
    * J = 1 by definition — no verification needed). Output is
    * unchanged: Jaccard is a pure function of the text.
    */
  private[graft] def ngramJaccardDocs(docs: DataFrame, threshold: Double): DataFrame = {
    val (reps, membership) = Dedup.collapseByText(docs)
    ngramJaccardFrom(shingleSetOf(reps).materialized, membership, threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** The post-collapse tail of [[ngramJaccardDocs]] over a CALLER-
    * SUPPLIED materialized rep shingle set + membership — lets
    * [[Dedup.dedupEval]] feed one shared collapse + shingle scan to
    * every shingle-derived method instead of re-deriving the corpus
    * per method (the r10 cold-cost item). Same code path, so the
    * row set is identical to the standalone operator by construction.
    *
    * Rows come back UNORDERED: dedup_eval's grading and split_leak's
    * cells are aggregations, so a global range-sort here (bounds-
    * sampling job + range exchange + per-partition sort, once per
    * method arm) would buy nothing. The ordered caller
    * ([[ngramJaccardDocs]]) sorts at the edge.
    */
  private[graft] def ngramJaccardFrom(sh: DataFrame, membership: DataFrame,
      threshold: Double): DataFrame =
    Dedup.expandPairs(ngramJaccardOn(sh, threshold), membership,
        "d1", "d2", "jaccard", lit(1.0), sh.select(col("doc_id")).distinct())

  /** Auto-selecting Jaccard over any (doc_id, shingle) set. */
  private[graft] def ngramJaccardOn(shingles: DataFrame, threshold: Double): DataFrame = {
    // contract: callers pass a materialized shingle frame — the
    // estimate action and candidate join below then read stored
    // partitions instead of re-deriving the corpus. ENFORCED, not
    // comment-only (the r6 advisory): an unmaterialized caller is
    // materialized here rather than silently paying the full shingle
    // plan once per consumer (estimate + both self-join sides).
    val sh = Materialize.ensure(shingles)
    // one action decides the path: the pair estimate and the row
    // count come out of the same df-histogram aggregation (separate
    // sh.count() was a second full pass over the cached set)
    val (est, nRows) = pairEstimateAndCount(sh)
    if (est <= MaxCandidateAmplification * nRows) {
      val pairs = sh.as("a").join(sh.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
      scoreJaccard(pairs, sh, threshold)
    } else ngramJaccardPrefixOn(sh, threshold)
  }

  /** (candidate-pair estimate, total shingle rows) in ONE aggregation
    * pass: Σ f·(f−1)/2 and Σ f over the same document-frequency
    * histogram — the row count is free once the histogram exists.
    */
  private[graft] def pairEstimateAndCount(sh: DataFrame): (Long, Long) = {
    val r = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
      .agg(coalesce(sum(col("f") * (col("f") - 1) / 2), lit(0L)).cast("long"),
        coalesce(sum(col("f")), lit(0L)).cast("long"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Same output via PREFIX-FILTERED candidate generation
    * (AllPairs/PPJoin): shingles rank per doc by global document-
    * frequency ascending (rarest first, canonical tie-break) and only
    * the first `n − ⌈t·n⌉ + 1` shingles of each doc enter the
    * inverted index; any pair with J ≥ t provably shares a prefix
    * shingle, so nothing is lost, and exact Jaccard is verified on
    * candidates only.
    *
    * Tradeoff (measured): on ZIPFIAN text the hot stopword-shingle
    * buckets never enter the index and candidates collapse — this is
    * the scale path. On this driver's synthetic corpus the token
    * distribution is near-uniform over a ~30-word vocabulary, so
    * "rare" prefix shingles still hit dozens of docs and the extra
    * freq/rank passes cost more than they save (≈3× slower at
    * sf0.1) — which is why the PLAIN index stays registered. Pick by
    * corpus: heavy-tailed vocabulary → prefix; uniform/synthetic →
    * plain. Equality of the two is asserted in QueryPackSpec.
    */
  def ngramJaccardPrefix(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    ngramJaccardPrefixOn(shingleSet(spark, dir).materialized, threshold)

  private[graft] def ngramJaccardPrefixOn(sh: DataFrame, threshold: Double): DataFrame = {
    val prefix = prefixIndex(sh, threshold)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val pairs = candidates
      .join(sh.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sh.as("s2"),
        col("d2") === col("s2.doc_id") && col("s1.shingle") === col("s2.shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    scoreJaccard(pairs, sh, threshold)
  }

  /** The rarest-first prefix of each doc's shingle set — the only
    * rows the prefix-filtered form indexes. Any pair with J ≥ t
    * provably shares a prefix shingle (AllPairs/PPJoin), so the
    * filter is lossless; hot shingles rank last and never enter.
    */
  private[graft] def prefixIndex(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("sfreq"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("sfreq"), col("shingle"))
    sh.join(freq, "shingle")
      .withColumn("rnk", row_number().over(byRarity))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rnk") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("shingle"))
  }

  /** Distinct (doc_id, shingle) rows for the Jaccard operators. */
  private def shingleSet(spark: SparkSession, dir: String): DataFrame =
    shingleSetOf(Tables(spark, dir).documents)

  private[graft] def shingleSetOf(docs: DataFrame): DataFrame =
    docs.withColumn("w", words(col("text")))
      .select(col("doc_id"), explode(shingles("w")).as("shingle"))

  /** Shared exact-Jaccard scoring over (d1, d2, inter) pairs. */
  private def scoreJaccard(pairs: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Containment threshold (ppm): `other` counts as a CONTAINER of
    * a doc when the doc's shingle set is ≥ 90% inside other's.
    */
  val ContainTPpm = 900000L

  /** dedup_containment — ASYMMETRIC shingle containment, the
    * partial-inclusion duplicate class symmetric Jaccard misses: a
    * short quote-post fully inside a long article has
    * C(A→B) = |S(A)∩S(B)|/|S(A)| ≈ 1 while J(A,B) ≈ |A|/|B| stays
    * far below any Jaccard threshold. Per document (one row per doc
    * with shingles — informative even on a containment-free corpus,
    * the dedup_simhash convention): its shingle count, its BEST
    * containment into any other doc (ppm lattice, tie → smallest
    * partner; −1/0 when it overlaps nothing), and how many docs
    * contain ≥ [[ContainTPpm]] of it.
    *
    * Scale shape: candidates come from the same shingle equi-join
    * class as [[ngramJaccard]] (the shuffle key is the shingle,
    * never the doc — no O(n²) at any scale) over exact-text
    * REPRESENTATIVES ([[Dedup.collapseByText]] — m copies of one
    * text would otherwise go O(m²) in every shared bucket), and
    * member rows expand in closed form: siblings are containment
    * 10⁶ by text identity, external partner counts weight by the
    * partner group's size, and the best-partner tie rule resolves
    * against the group minimum (= the rep) or the second member.
    * All-integer output — the DuckDB oracle computes the direct
    * all-pairs ground truth and the collapse guard must be
    * invisible in it.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentOn(Tables(spark, dir).documents)

  private[graft] def containmentOn(docs: DataFrame): DataFrame = {
    val (reps, membership) = Dedup.collapseByText(docs)
    val sh = shingleSetOf(reps).materialized
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val und = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .materialized // mirrored into both directions below
    val directed = und.select(col("d1").as("doc_id"), col("d2").as("other"), col("inter"))
      .union(und.select(col("d2").as("doc_id"), col("d1").as("other"), col("inter")))
    val gsz = membership.filter(col("doc_id") === col("rep"))
      .select(col("rep").as("other"), col("gsize").as("g_other"))
    val scored = directed
      .join(sizes, "doc_id")
      .withColumn("cont_ppm", expr("inter * 1000000 div n_sh"))
      .join(gsz, "other")
    val repCard = scored.groupBy(col("doc_id"))
      .agg(
        max(struct(col("cont_ppm"), (col("other") * -1).as("neg"))).as("best"),
        sum(when(col("cont_ppm") >= ContainTPpm, col("g_other"))
          .otherwise(0L)).as("n_ext"))
      .select(col("doc_id").as("rep"), col("best.cont_ppm").as("ext_cont"),
        (col("best.neg") * -1).as("ext_partner"), col("n_ext"))
    val second = membership.groupBy(col("rep"))
      .agg(min(when(col("doc_id") =!= col("rep"), col("doc_id"))).as("second_id"))
    val extC = coalesce(col("ext_cont"), lit(0L))
    val extP = coalesce(col("ext_partner"), lit(-1L))
    val sibPartner =
      when(col("doc_id") =!= col("rep"), col("rep")).otherwise(col("second_id"))
    val useSib = col("gsize") > 1 &&
      (extC < 1000000L || (extC === 1000000L && sibPartner < extP))
    membership
      .join(sizes.withColumnRenamed("doc_id", "rep"), "rep") // docs with shingles
      .join(repCard, Seq("rep"), "left")
      .join(second, "rep")
      .select(col("doc_id"), col("n_sh").as("n_shingles"),
        when(useSib, lit(1000000L)).otherwise(extC).as("best_cont_ppm"),
        when(useSib, sibPartner).otherwise(extP).as("best_partner"),
        (coalesce(col("n_ext"), lit(0L)) + col("gsize") - 1L).as("n_containers"))
      .orderBy(col("doc_id"))
  }

  /** decontaminate — benchmark-overlap decontamination: the step
    * that keeps eval data out of a training corpus. A deterministic
    * slice of the corpus (doc_id ≡ 3 mod 17) stands in for the
    * benchmark set; every training doc is scored by how many of its
    * word-3-gram shingles appear anywhere in the benchmark, and
    * flagged contaminated at ≥ 25% overlap (integer arithmetic —
    * `4·overlap ≥ n` — so the flag is cross-engine exact).
    *
    * Scale shape: one equi-join on the shingle key (never on doc
    * pairs). In a real deployment the benchmark side is a fixed,
    * small eval suite — a candidate for `broadcast()` — but the
    * registered form leaves the choice to Catalyst/AQE, which is
    * correct for any benchmark size. Docs with fewer than 3 words
    * have no shingles and are out of scope on both engines.
    */
  /** ngram_coverage — the BENCHMARK-side contamination report, the
    * mirror of [[decontaminate]] and the number papers actually
    * publish ("N% of benchmark X overlaps the training set", the
    * GPT-3 appendix-C analysis): per EVAL document, how many of its
    * word-3-gram shingles appear anywhere in the training side, its
    * coverage ppm, and a full/partial/clean exposure class. The two
    * directions answer different questions — decontaminate CLEANS
    * the train set (per-train-doc flag, actionable by dropping);
    * this one grades eval VALIDITY after the fact (a benchmark
    * cannot be "cleaned" — a fully-covered eval doc's score is
    * memorization, and the report is what you publish next to the
    * number). Same split fixture (doc_id ≡ 3 mod 17), same shingle
    * lattice, so the two cards are directly comparable.
    *
    * Scale shape: identical to decontaminate — ONE shingle-keyed
    * equi-join (never doc pairs) against the DISTINCT train shingle
    * set, then a doc-keyed count. In deployment the eval side is a
    * fixed small suite; the train side is the 100 TB corpus — the
    * join ships the (small) eval shingles to the (huge) train scan,
    * and Catalyst/AQE picks the broadcast direction.
    */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame =
    ngramCoverageOn(shingleSetOf(Tables(spark, dir).documents))

  private[graft] def ngramCoverageOn(sh0: DataFrame): DataFrame = {
    // three consumers below — enforce the materialized-shingle
    // contract (the ngramJaccardOn convention; round 16: a lazy
    // caller re-planned the corpus shingle explode per consumer)
    val sh = graft.Materialize.ensure(sh0)
    val train = sh.filter(col("doc_id") % 17 =!= 3)
      .select(col("shingle")).distinct()
    val ev = sh.filter(col("doc_id") % 17 === 3)
    val sizes = ev.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val found = ev.join(train, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_found"))
    sizes.join(found, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
      .withColumn("coverage_ppm", expr("n_found * 1000000 div n_shingles"))
      .withColumn("exposure",
        when(col("n_found") === col("n_shingles"), "full")
          .when(col("n_found") > 0, "partial")
          .otherwise("clean"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOn(shingleSetOf(Tables(spark, dir).documents))

  private[graft] def decontaminateOn(sh0: DataFrame): DataFrame = {
    // three consumers below — the ngramCoverageOn ensure rationale
    val sh = graft.Materialize.ensure(sh0)
    val eval = sh.filter(col("doc_id") % 17 === 3).select(col("shingle")).distinct()
    val train = sh.filter(col("doc_id") % 17 =!= 3)
    val sizes = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val overlaps = train.join(eval, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    sizes.join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * 4 >= col("n_shingles"))
          .cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Bloom geometry for [[bloomDecontaminate]] — the bit count is a
    * COUNT-DERIVED LAW, not a frozen constant (the ivfCells/autoShards
    * play, closing the r11 frozen-constant class): the smallest power
    * of two ≥ [[BloomBitsPerShingle]]·n_eval, floored at 2¹⁵ (4 KB —
    * today's corpora, 1.5-12k eval shingles, sit at or near the
    * floor) and capped at 2²⁷ (a 16 MB bitmap, the broadcast-model
    * footprint class). With ≥ 8 bits per eval shingle the expected
    * bit density 1−e^(−k·n/bits) stays ≤ 1−e^(−3/8) ≈ 0.31, so the
    * false-positive rate density^k stays ≤ ~3.1% for ANY eval-suite
    * size up to the cap (2²⁷/8 ≈ 16.7 M shingles — a real benchmark
    * suite is 10⁶-10⁷); past the cap density degrades gracefully and
    * VISIBLY (n_false_pos sits in the output next to the exact
    * overlap). Integer arithmetic on purpose: the DuckDB oracle
    * replays the same shift-compare loop from COUNT(*).
    */
  val BloomBitsPerShingle = 8L
  val BloomK = 3

  private[graft] def bloomBits(nEval: Long): Long = {
    var b = 15
    while (b < 27 && (1L << b) < BloomBitsPerShingle * nEval) b += 1
    1L << b
  }

  /** bloom_decontaminate — benchmark-overlap decontamination through
    * a Bloom filter: [[decontaminate]]'s exact form ships the eval
    * shingle set through an equi-join; this one collapses the eval
    * side to a REAL bitmap ([[bloomBits]]-law bits, k double-hashed
    * probes derived from ONE md5 per shingle) embedded in the plan
    * as a literal — so at
    * 100 TB the training corpus is checked purely MAP-SIDE (getbit
    * on the broadcast array; no join, no probe explode, no
    * eval-side shuffle) and the per-doc tally fuses into the same
    * single doc-keyed aggregation that counts shingles. The
    * one-sided Bloom contract (never a false negative, overcount
    * visible) is IN the output: bloom hits next to the exact
    * overlap, the false-positive count, and both flags — a doc the
    * exact join flags is always bloom-flagged.
    *
    * The bitmap is built by collecting per-WORD bit-ORs — BOUNDED
    * metadata (≤ bits/64 ≤ 2²¹ longs at the cap regardless of
    * eval-set size, the centroid-cap/BPE-artifact convention), which
    * makes the operator eager at construction like the other
    * artifact-building operators; the sizing count is one metadata
    * action over the already-materialized shingle frame. The
    * exact-overlap join is kept deliberately as the verification
    * side; a deployment checking only the Bloom flag drops it and
    * ships zero eval bytes per task beyond the bitmap.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminateOn(shingleSetOf(Tables(spark, dir).documents))

  private[graft] def bloomDecontaminateOn(sh0: DataFrame): DataFrame = {
    // three consumers (eval positions, train tally, exact overlap)
    val sh = sh0.materialized
    val eval = sh.filter(col("doc_id") % 17 === 3).select(col("shingle")).distinct()
    // ONE metadata action sizes the law (the ivfQuantizer convention)
    val bits = bloomBits(eval.count())
    // ONE md5 per shingle, k probes DERIVED from it — the standard
    // Kirsch–Mitzenmacher double hashing (probe_i = h1 + i·h2 mod m,
    // h2 forced odd so it is coprime to the power-of-two bit count
    // and the k probes are distinct): the r12 first cut hashed k
    // times per shingle, and md5 is the whole per-row cost on the
    // 100 TB train side. FP guarantees are asymptotically those of k
    // independent hashes (Kirsch & Mitzenmacher 2006); the planted
    // large-eval spec re-measures the bound on this scheme.
    def bhash(c: Column): Column = hash60(concat(lit("bl|"), c))
    def bprobe(h: Column, i: Int): Column =
      pmod(shiftrightunsigned(h, 30) +
        lit(i.toLong) * h.bitwiseAND(lit((1L << 30) - 1)).bitwiseOR(lit(1L)),
        lit(bits))
    // bounded collect: ≤ bits/64 OR-ed words, ever
    val words = eval
      .select(bhash(col("shingle")).as("h"))
      .select(explode(array((0 until BloomK).map(i => bprobe(col("h"), i)): _*)).as("p"))
      .select(shiftrightunsigned(col("p"), 6).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 63 AS INT))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect()
    val bitmap = new Array[Long]((bits / 64).toInt)
    words.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
    val bm = typedLit(bitmap.toSeq)
    def bitSet(p: Column): Column =
      call_function("getbit",
        element_at(bm, shiftrightunsigned(p, 6).cast("int") + 1),
        p.bitwiseAND(lit(63L)).cast("int")) === 1
    // the train side carries its ONE hash as a column so the k probe
    // tests share it (never k md5 evaluations per row)
    val isHit = (0 until BloomK)
      .map(i => bitSet(bprobe(col("bh"), i))).reduce(_ && _)
    val train = sh.filter(col("doc_id") % 17 =!= 3)
      .withColumn("bh", bhash(col("shingle")))
    val tally = train.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_shingles"),
      sum(when(isHit, 1L).otherwise(0L)).as("n_bloom_hits"))
    val overlaps = train.join(eval, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    tally
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (col("n_bloom_hits") -
          coalesce(col("n_overlap"), lit(0L))).as("n_false_pos"),
        (col("n_bloom_hits") * 4 >= col("n_shingles"))
          .cast("long").as("bloom_contaminated"),
        (coalesce(col("n_overlap"), lit(0L)) * 4 >= col("n_shingles"))
          .cast("long").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** rep_stats — repetition quality rules (the MassiveText/Gopher
    * family): fraction of the doc taken by its most frequent word,
    * and the fraction of word-2-gram instances that are repeats.
    * High values mark degenerate/boilerplate text a pre-training
    * filter drops. Flags computed from the ROUNDED fractions so both
    * engines compare identical lattice points.
    *
    * Scale shape: two explode+groupBy aggregations keyed by doc —
    * map-side combinable, one shuffle each, joined on doc_id.
    */
  def repStats(spark: SparkSession, dir: String): DataFrame =
    repStatsOn(Tables(spark, dir).documents)

  private[graft] def repStatsOn(docs: DataFrame): DataFrame = {
    val w = docs.withColumn("w", words(col("text")))
    val wordTop = w.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_words"))
    // the `when` guard keeps sequence(0, -1) from fabricating grams
    // on single-word docs (same corner as doc_chunk)
    val grams = w.select(col("doc_id"),
        explode(when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> w[i] || ' ' || w[i+1])"))).as("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_g"), countDistinct(col("g")).as("n_gd"))
    wordTop.join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        round(col("top_c").cast("double") / col("n_words") + lit(1e-9), 4)
          .as("top_word_frac"),
        round(coalesce((col("n_g") - col("n_gd")).cast("double") / col("n_g"), lit(0.0))
          + lit(1e-9), 4).as("dup_2gram_frac"))
      .withColumn("flagged",
        (col("top_word_frac") > 0.3 || col("dup_2gram_frac") > 0.2).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Words per line for [[dedupLines]]: the synthetic corpus has no
    * newline structure, so "lines" are fixed 20-word segments — the
    * same role newline-split lines play on real crawl text.
    */
  val LineWords = 20

  /** Deterministic boilerplate fixture for [[dedupLines]]: the corpus
    * texts are all distinct, so every 5th document gets this exact
    * [[LineWords]]-word header injected IN-QUERY (the pii_scrub /
    * hr_parse fixture pattern) — the repeated "subscribe" line real
    * crawl dedup exists to remove. The operator then provably strips
    * it from all but its first occurrence.
    */
  private[graft] val BoilerLine =
    "subscribe now for updates follow us on social media all rights " +
      "reserved terms of service privacy policy apply here today"

  /** dedup_lines — line-level (CCNet-style) deduplication with
    * document reassembly: split every document into [[LineWords]]-word
    * lines, keep only the globally FIRST occurrence of each distinct
    * line (ordered by doc_id, line_id), and rebuild each document
    * from its surviving lines. This is the shape of crawl-corpus
    * boilerplate removal — repeated headers/footers vanish everywhere
    * but their first sighting, and a fully-boilerplate document
    * collapses to empty text (reported, not dropped, so the caller
    * decides).
    *
    * Scale shape: one shuffle keyed by the line's md5 (uniform
    * 128-bit key — no skew even on a hot boilerplate line, since the
    * groups collapse map-side to one keeper each), one doc_id-keyed
    * shuffle to reassemble. No windows, no driver state. At 100 TB
    * both joins are plain hash joins on high-entropy keys.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    dedupLinesOn(Tables(spark, dir).documents)

  private[graft] def dedupLinesOn(docs: DataFrame): DataFrame = {
    val aug = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(lit(BoilerLine + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val start = col("line_id") * LineWords + 1 // slice() is 1-based
    // the exploded line set feeds three consumers (keeper, kept,
    // totals) — materialize it once, eagerly, with no CacheManager
    // pin (the dedup-family localCheckpoint contract)
    val lines = aug.withColumn("w", words(col("text")))
      // the `when` guard keeps sequence(0, -1) from fabricating lines
      // on empty docs (same corner as doc_chunk)
      .withColumn("line_id",
        explode(when(size(col("w")) > 0, sequence(lit(0L),
          floor((size(col("w")) + lit(LineWords - 1)) / lit(LineWords)).cast("long") - 1))))
      .select(col("doc_id"), col("line_id"),
        concat_ws(" ", slice(col("w"), start, lit(LineWords))).as("line_text"))
      .materialized
    // global first occurrence per line content: min (doc_id, line_id),
    // grouped on the md5 of the line (join/shuffle key stays a fixed-
    // width uniform hash rather than arbitrary-length text)
    val keeper = lines
      .groupBy(md5(col("line_text")).as("lh"))
      .agg(min(struct(col("doc_id"), col("line_id"))).as("k"))
      .select(col("k.doc_id").as("kd"), col("k.line_id").as("kl"))
    // (kd, kl) already names the keeper row uniquely — joining the
    // hash back in would just recompute md5 over every line
    val kept = lines.join(keeper,
        col("doc_id") === col("kd") && col("line_id") === col("kl"))
      .select(col("doc_id"), col("line_id"), col("line_text"))
    val totals = lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("line_id"), col("line_text")))),
          s => s.getField("line_text"))).as("new_text"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** In-query fixture knob for [[repScrub]]: every 4th document gets
    * [[BoilerLine]] injected TWICE at its head, creating the exact
    * intra-document repeated-line run the scrub exists to remove
    * (the dedup_lines / pii_scrub fixture pattern — the synthetic
    * corpus has no natural intra-doc repetition).
    */
  private[graft] val RepScrubMod = 4L

  /** rep_scrub — INTRA-document repetition removal (the Gopher /
    * FineWeb cleanup step next to [[repStats]], which only FLAGS):
    * split each document into [[LineWords]]-word lines (the
    * [[dedupLines]] lattice) and drop every line whose content
    * already appeared EARLIER in the SAME document — first occurrence
    * kept, document rebuilt in place, (n_lines, n_kept) reported.
    * [[dedupLines]] is the CROSS-document complement (global first
    * occurrence); nothing else repairs repetition inside one
    * document.
    *
    * Scale shape: pure map-side higher-order array functions — NO
    * shuffle, NO explode, NO window; the corpus is scanned once and
    * every document is scrubbed inside its own task, so the operator
    * is embarrassingly parallel at any corpus size. The first-
    * occurrence filter is O(L²) in the document's LINE count
    * (array_position over the line prefix) — L is doc-sized, never
    * corpus-sized, so the quadratic is bounded by the longest single
    * document, not the data volume.
    */
  def repScrub(spark: SparkSession, dir: String): DataFrame =
    repScrubOn(Tables(spark, dir).documents)

  private[graft] def repScrubOn(docs: DataFrame): DataFrame = {
    val aug = docs.select(col("doc_id"),
      when(col("doc_id") % RepScrubMod === 0,
        concat(lit(BoilerLine + " " + BoilerLine + " "), col("text")))
        .otherwise(col("text")).as("text"))
    aug.withColumn("w", words(col("text")))
      // the CASE guard keeps sequence(0, -1) from fabricating a line
      // on empty docs (same corner as doc_chunk / dedup_lines)
      .withColumn("lines", expr(
        s"""CASE WHEN size(w) > 0 THEN transform(
           |  sequence(0, (size(w) + ${LineWords - 1}) div $LineWords - 1),
           |  i -> concat_ws(' ', slice(w, i * $LineWords + 1, $LineWords)))
           |ELSE CAST(array() AS array<string>) END""".stripMargin))
      // keep a line iff its content is absent from the line PREFIX
      // before it (array_position = 0 ⇔ not found; i is 0-based, so
      // slice(lines, 1, i) is exactly the preceding lines)
      .withColumn("kept", expr(
        "filter(lines, (x, i) -> array_position(slice(lines, 1, i), x) = 0)"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** [[dedupIncremental]]'s synthetic batch carries PARITY-encoded
    * doc ids: real batch docs = doc_id·2 (even), the echoed
    * within-batch duplicates = doc_id·2+1 (odd) — so the duplicate
    * class exists in a corpus of all-distinct texts (in-query
    * fixture, the dedup_lines pattern) and an echo id can never
    * alias a real doc at any key range (replaces the r13
    * `EchoOffset = 10⁶`, a frozen constant of the retired
    * SupplierNodeOffset class: past 10⁶ documents the echo ids
    * collided with real ones). The encoding is strictly monotone
    * (a < b ⟺ 2a < 2b, and 2a < 2a+1), so the first-in-batch
    * MIN(doc_id) semantics are preserved exactly; decode real
    * id = id div 2.
    */

  /** dedup_incremental — snapshot-vs-corpus deduplication: the
    * operation a 100 TB pipeline actually runs on every new crawl —
    * dedup the INCOMING batch against the already-ingested corpus's
    * fingerprint index, and within itself, WITHOUT re-deduplicating
    * the historical corpus. Every batch document is labeled
    * `dup_history` (its fingerprint already exists in the corpus),
    * `dup_batch` (new to the corpus, but an earlier batch doc — by
    * doc_id — carries the same fingerprint), or `kept`.
    *
    * Synthetic snapshot model (deterministic, in-query): history =
    * docs with doc_id % 4 ≠ 0; batch = docs with doc_id % 2 = 0
    * (half its fingerprints are in history), plus an echo of docs
    * with doc_id % 8 = 0 under the parity encoding (real = 2·id,
    * echo = 2·id+1 — see the note above) — the within-batch
    * duplicate class. All three statuses occur.
    *
    * Scale shape: the history side reduces to a distinct-fingerprint
    * index (in production: a bucketed table maintained across
    * snapshots, so the join is co-located and the batch — orders of
    * magnitude smaller than the corpus — is the streamed side); the
    * within-batch min is one map-side-combinable aggregation on the
    * same 128-bit key. Nothing rescans history text.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(Tables(spark, dir).documents)

  private[graft] def dedupIncrementalOn(docs: DataFrame): DataFrame = {
    // ONE fingerprint pass (round 16): history, both batch branches
    // and the two batch consumers re-planned md5(normalize(text))
    // over the corpus — five scans, five hash passes — for a value
    // that is a pure function of the text; the shared narrow
    // (doc_id, fingerprint) frame materializes once
    val fps = graft.Materialize.eager(docs.select(col("doc_id"),
      md5(normalize(col("text"))).as("fingerprint")))
    val hist = fps.filter(col("doc_id") % 4 =!= 0)
      .select(col("fingerprint")).distinct().withColumn("in_hist", lit(1L))
    val batch = fps.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") * 2).as("doc_id"), col("fingerprint"))
      .unionAll(fps.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("fingerprint")))
    val firstInBatch = batch.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("first_id"))
    batch.join(hist, Seq("fingerprint"), "left")
      .join(firstInBatch, "fingerprint")
      .select(col("doc_id"), col("fingerprint"),
        when(col("in_hist") === 1, "dup_history")
          .when(col("doc_id") =!= col("first_id"), "dup_batch")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id"))
  }

  /** lang_id — stopword-profile language ID: per-language hit counts
    * and a deterministic argmax (ties resolve in profile order).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(Tables(spark, dir).documents)

  private[graft] def langIdOn(docs: DataFrame): DataFrame =
    withLangPred(docs.withColumn("w", words(col("text"))))
      .select(col("doc_id") +: col("lang").as("labeled_lang") +: col("pred_lang") +:
        stopwordProfiles.map { case (l, _) => col(s"hits_$l") }: _*)
      .orderBy(col("doc_id"))

  /** Appends the per-language hit counts and the argmax `pred_lang`
    * to a frame already carrying `w` (normalized word array) — THE
    * single language-ID definition: the batch operator above and
    * [[graft.operators.Quality.qualityEnsembleOn]]'s fused gate scan
    * both call this, so the two paths cannot drift (the
    * withQualityScore convention).
    */
  private[graft] def withLangPred(docs: DataFrame): DataFrame = {
    val withHits = stopwordProfiles.foldLeft(docs) {
      case (df, (lang, vocab)) => df.withColumn(s"hits_$lang", hitCount("w", vocab))
    }
    val langs = stopwordProfiles.map(_._1)
    // argmax with first-wins tie-break, as a CASE chain
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): org.apache.spark.sql.Column) {
      case ((lang, i), elseCol) =>
        val later = langs.drop(i + 1)
        val isMax = later.map(o => col(s"hits_$lang") >= col(s"hits_$o")).reduce(_ && _)
        when(isMax, lit(lang)).otherwise(elseCol)
    }
    withHits.withColumn("pred_lang", pred)
  }

  /** quality_score — length/stopword-ratio features and a bucketed
    * composite score (the classic pre-training quality filter shape).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOn(Tables(spark, dir).documents)

  /** The scoring columns themselves — appends norm / w / n_words /
    * stopword_ratio / score. THE single definition of the quality
    * score: the batch operator below and the streaming ingest gate
    * ([[graft.streaming.CurationStream]]) both call this, so the two
    * paths cannot drift.
    *
    * Ratios are rational values on a coarse lattice, so exact
    * half-way rounding cases DO occur; the 1e-9 shift (mirrored in
    * the oracle SQL) moves them off the boundary identically in both
    * engines before rounding.
    */
  private[graft] def withQualityScore(docs: DataFrame): DataFrame = {
    val en = stopwordProfiles.head._2
    docs
      .withColumn("norm", normalize(col("text")))
      .withColumn("w", split(col("norm"), " "))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("stopword_ratio", round(
        hitCount("w", en).cast("double") / col("n_words") + lit(1e-9), 4))
      .withColumn("score", round(
        least(lit(1.0), col("n_words").cast("double") / 100.0) * 0.5 +
          least(lit(1.0), col("stopword_ratio") * 5.0) * 0.5 + lit(1e-9), 4))
  }

  private[graft] def qualityScoreOn(docs: DataFrame): DataFrame =
    withQualityScore(docs)
      .withColumn("n_chars_norm", length(col("norm")).cast("long"))
      .withColumn("avg_word_len", round(
        (col("n_chars_norm") - (col("n_words") - 1)).cast("double") / col("n_words")
          + lit(1e-9), 4))
      .withColumn("bucket",
        when(col("score") >= 0.6, "high")
          .when(col("score") >= 0.3, "medium")
          .otherwise("low"))
      .select(col("doc_id"), col("n_chars_norm"), col("n_words"),
        col("avg_word_len"), col("stopword_ratio"), col("score"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Gopher-rule thresholds (Rae et al. 2021 §A1.1, the public
    * rule-based pre-training filter). Word-count floor calibrated to
    * this corpus's 10-99-word documents (the paper's 50 would reject
    * half of an already-short-form corpus); every other constant is
    * the paper's. The paper's duplicate-line rules have no object
    * here (single-line documents), so repetition is measured at the
    * finest available granularity: the top-word fraction.
    */
  val GopherMinWords = 25L
  val GopherMaxWords = 100000L
  val GopherMinWordLen = 3.0
  val GopherMaxWordLen = 10.0
  val GopherMaxTopFrac = 0.10
  val GopherMinStopHits = 2L
  val GopherMinAlphaFrac = 0.80

  /** gopher_quality — the rule-based document filter (Gopher class):
    * per-rule boolean flags plus the conjunction, with the measured
    * features alongside so downstream triage can see WHY a document
    * was rejected (the flags, not just the verdict, are the useful
    * artifact). Where [[qualityScore]] produces a soft score for
    * ranking/bucketing, this is the hard admission gate a curation
    * stack runs first.
    *
    * All pure column expressions over one scan — the per-doc
    * top-word count and alpha fraction are higher-order-function
    * lambdas on the doc's own word array (document-sized, codegen'd),
    * never a corpus-level explode: at 100 TB this is a map-only
    * stage with NO shuffle except the output sort. Feature ratios
    * round on the same 1e-9-shifted 4-decimal lattice as
    * [[withQualityScore]] so the rule comparisons are bit-identical
    * in both engines.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQualityOn(Tables(spark, dir).documents)

  private[graft] def gopherQualityOn(docs: DataFrame): DataFrame =
    withGopherFlags(docs
        .withColumn("w", words(col("text")))
        .withColumn("n_words", size(col("w")).cast("long")))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("top_word_frac"), col("n_stop_distinct"), col("alpha_frac"),
        col("r_words"), col("r_wordlen"), col("r_rep"), col("r_stop"),
        col("r_alpha"), col("keep"))
      .orderBy(col("doc_id"))

  /** Appends the Gopher features/flags/keep columns to a frame that
    * already carries `w` (normalized word array) and `n_words` —
    * THE single rule definition: the batch operator above and the
    * streaming strict-admission gate
    * ([[graft.streaming.CurationStream.curateStrict]]) both call
    * this, so the two paths cannot drift (the withQualityScore
    * convention).
    */
  private[graft] def withGopherFlags(docs: DataFrame): DataFrame = {
    val en = stopwordProfiles.head._2
    docs
      .withColumn("wd", array_distinct(col("w")))
      .withColumn("mean_word_len", round(
        expr("aggregate(w, 0L, (acc, x) -> acc + length(x))").cast("double")
          / col("n_words") + lit(1e-9), 4))
      // top word count = longest equal-run of the SORTED word array —
      // one O(n log n) pass (round 16, guide §4). The r15 form
      // `array_max(transform(wd, x -> size(filter(w, y -> y = x))))`
      // re-filtered the whole word array once per DISTINCT word
      // (O(|wd|·|w|) interpreted lambda evals plus one array
      // allocation per distinct word — measured as the dominant
      // per-doc term of every gopher-chain consumer: dedup_keepbest,
      // gopher_quality, quality_ensemble, pipeline_e2e). Identical
      // value: the max run of equal adjacent sorted words IS the max
      // word multiplicity; the empty-array case stays NULL-identical
      // because 0/0 and NULL/0 both divide to NULL.
      .withColumn("top_word_frac", round(
        expr("""aggregate(array_sort(w),
                  named_struct('p', cast(null as string), 'r', 0, 'b', 0),
                  (a, x) -> named_struct(
                    'p', x,
                    'r', IF(x <=> a.p, a.r + 1, 1),
                    'b', greatest(a.b, IF(x <=> a.p, a.r + 1, 1))),
                  a -> a.b)""")
          .cast("double") / col("n_words") + lit(1e-9), 4))
      .withColumn("n_stop_distinct", hitCount("wd", en))
      .withColumn("alpha_frac", round(
        expr("size(filter(w, x -> x rlike '[a-z]'))").cast("double")
          / col("n_words") + lit(1e-9), 4))
      .withColumn("r_words",
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
          .cast("long"))
      .withColumn("r_wordlen",
        (col("mean_word_len") >= GopherMinWordLen &&
          col("mean_word_len") <= GopherMaxWordLen).cast("long"))
      .withColumn("r_rep", (col("top_word_frac") <= GopherMaxTopFrac).cast("long"))
      .withColumn("r_stop", (col("n_stop_distinct") >= GopherMinStopHits).cast("long"))
      .withColumn("r_alpha", (col("alpha_frac") >= GopherMinAlphaFrac).cast("long"))
      .withColumn("keep",
        (col("r_words") * col("r_wordlen") * col("r_rep") *
          col("r_stop") * col("r_alpha")).cast("long"))
  }

  /** token_count — whitespace tokens, a BPE-ish regex token count,
    * and the chars/4 estimate.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    docs
      .withColumn("ws_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
      .withColumn("est_tokens", ceil(length(col("text")).cast("double") / 4.0).cast("long"))
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("est_tokens"))
      .orderBy(col("doc_id"))
  }

  /** fingerprint — md5 content fingerprint of the normalized text
    * plus its 60-bit integer form (partition-friendly dedup key).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    docs
      .withColumn("fp_md5", md5(normalize(col("text"))))
      .withColumn("fp60", hash60(normalize(col("text"))))
      .select(col("doc_id"), col("fp_md5"), col("fp60"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing geometry: character k-grams of [[WinnowK]], windows of
    * [[WinnowW]] hashes — any shared substring of length ≥ k+w−1 = 11
    * normalized characters between two documents is guaranteed a
    * shared selected fingerprint.
    */
  val WinnowK = 8
  val WinnowW = 4

  /** fingerprint_winnow — winnowed rolling-hash fingerprints (the
    * MOSS document-fingerprinting scheme): per doc, the rightmost-min
    * k-gram hash of every w-hash window, positions included. Where
    * [[fingerprint]] detects only EXACT duplicates, this is the
    * partial-overlap index: shared passages between documents surface
    * as shared (hash) fingerprints at ~2/(w+1) the k-gram density.
    *
    * The whole per-document computation is ONE custom expression
    * ([[graft.functions.WinnowFingerprints]]): an O(n) Rabin-Karp
    * rolling hash plus an amortized-O(1) monotonic-deque window
    * minimum — map-side inside the scan stage; the only shuffle is
    * the output sort. Arithmetic on the mod-2³¹−1 lattice makes the
    * operator bit-exact against the oracle engine.
    */
  def fingerprintWinnow(spark: SparkSession, dir: String): DataFrame =
    fingerprintWinnowOn(Tables(spark, dir).documents)

  private[graft] def fingerprintWinnowOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.winnowFingerprints(
          normalize(col("text")), WinnowK, WinnowW)).as("enc"))
      .select(col("doc_id"),
        shiftright(col("enc"), 32).as("pos"),
        col("enc").bitwiseAND(0xffffffffL).as("fp"))
      .orderBy(col("doc_id"), col("pos"))

  /** Hot-fingerprint cutoff for [[winnowPairs]]: a fingerprint seen
    * in more docs than this is boilerplate (a hot phrase) and never
    * enters the inverted index — the MOSS move, and the same skew
    * bound as the jaccard prefix filter: an indexed fingerprint emits
    * at most DfCap·(DfCap−1)/2 candidate pairs, so the candidate
    * shuffle stays linear in the corpus regardless of text skew.
    */
  val WinnowDfCap = 64

  /** Report a pair when the shared rare fingerprints cover at least
    * this percent of the smaller doc's fingerprint set (containment,
    * not Jaccard — catches a small doc pasted into a big one).
    * Measured on the test corpus: a plateau — 50% and 60% select the
    * identical 29 pairs, which are exactly the 28 word-3-gram
    * Jaccard ≥ 0.5 pairs plus one char-level near-dup the coarser
    * word shingles miss.
    */
  val WinnowMinContainPct = 50

  /** winnow_pairs — near-duplicate detection over the
    * [[fingerprintWinnow]] index: pairs of documents whose shared
    * winnowed fingerprints cover ≥ [[WinnowMinContainPct]]% of the
    * smaller document's fingerprint set. The end-to-end MOSS shape:
    * winnow (map-side) → inverted index on the fingerprint →
    * candidate pairs → containment filter.
    *
    * Scale: the shuffle key is the 31-bit fingerprint hash (uniform);
    * [[WinnowDfCap]] caps per-key join fan-out, so candidates are
    * O(DfCap · corpus), never O(n²). The containment test is pure
    * integer arithmetic (`shared·100 ≥ pct·min(nf)`) — no float
    * division to drift from the oracle.
    *
    * Exact-duplicate collapse guard ([[Dedup.collapseByText]]),
    * round 6: over RAW docs, m exact copies of one text don't just
    * threaten O(m²) candidates — once m exceeds [[WinnowDfCap]]
    * every fingerprint of that text goes "hot" and the most
    * duplicated content in the corpus silently STOPS pairing (the
    * df-cap was meant for shared passages across distinct docs, not
    * exact clones). The index now runs over distinct-text
    * representatives — df counts DISTINCT TEXTS — and verified rep
    * pairs expand through membership; within-group pairs are full
    * containment by definition (shared = nf1 = nf2 = the group's
    * fingerprint count). Boilerplate can neither blow up candidate
    * volume nor hide from the detector (both asserted in
    * DupSkewSpec).
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOn(Tables(spark, dir).documents)

  /** Per-doc distinct winnow fingerprint SET (positions dropped). */
  private[graft] def winnowFpSet(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.winnowFingerprints(
          normalize(col("text")), WinnowK, WinnowW)).as("enc"))
      .select(col("doc_id"), col("enc").bitwiseAND(0xffffffffL).as("fp"))
      .distinct()

  /** Rep-level MOSS pairs over a materialized (doc_id, fp) set:
    * df-capped inverted index → shared counts → integer containment.
    * Returns (id1, id2, shared, nf1, nf2), unsorted.
    */
  private[graft] def winnowRepPairs(fps: DataFrame): DataFrame = {
    val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val rare = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= WinnowDfCap).select(col("fp")),
      "fp")
    val shared = rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(nf.select(col("doc_id").as("id1"), col("nf").as("nf1")), "id1")
      .join(nf.select(col("doc_id").as("id2"), col("nf").as("nf2")), "id2")
      .filter(col("shared") * 100 >= lit(WinnowMinContainPct.toLong) * least(col("nf1"), col("nf2")))
      .select(col("id1"), col("id2"), col("shared"), col("nf1"), col("nf2"))
  }

  private[graft] def winnowPairsOn(docs: DataFrame): DataFrame = {
    val (reps, membership) = Dedup.collapseByText(docs)
    winnowPairsCollapsed(reps, membership).orderBy(col("id1"), col("id2"))
  }

  /** Post-collapse tail of [[winnowPairsOn]] (the ngramJaccardFrom
    * convention — shares the caller's collapse; unordered rows).
    */
  private[graft] def winnowPairsCollapsed(reps: DataFrame,
      membership: DataFrame): DataFrame = {
    val fps = winnowFpSet(reps).materialized
    val repPairs = winnowRepPairs(fps)
    val nfReps = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    // cross-group expansion: (shared, nf1, nf2) are text properties,
    // but nf1 belongs to id1's SIDE — when member ids flip order
    // relative to their reps, the nf columns flip with them (the
    // generic Dedup.expandPairs carries one symmetric score and
    // can't express this)
    val m1 = membership.select(col("rep").as("__r1"), col("doc_id").as("__m1"))
    val m2 = membership.select(col("rep").as("__r2"), col("doc_id").as("__m2"))
    val cross = repPairs
      .join(m1, col("id1") === col("__r1"))
      .join(m2, col("id2") === col("__r2"))
      .select(
        least(col("__m1"), col("__m2")).as("id1"),
        greatest(col("__m1"), col("__m2")).as("id2"),
        col("shared"),
        when(col("__m1") < col("__m2"), col("nf1")).otherwise(col("nf2")).as("nf1"),
        when(col("__m1") < col("__m2"), col("nf2")).otherwise(col("nf1")).as("nf2"))
    // within-group pairs: identical texts share every fingerprint —
    // full containment at the group's own nf; the nfReps join gates
    // out fingerprint-less reps (short/empty texts stay pair-less)
    val dups = membership
      .join(nfReps.select(col("doc_id").as("rep"), col("nf")), Seq("rep"))
      .filter(col("gsize") > 1)
    val within = dups.as("a").join(dups.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.nf").as("shared"), col("a.nf").as("nf1"), col("b.nf").as("nf2"))
    cross.unionByName(within)
  }

  /** winnow_clusters — the passage-level KEEP-LIST: connected
    * components over the [[winnowPairs]] near-dup graph via the
    * engine's distributed star contraction ([[Dedup.clustersOf]],
    * the dedup_clusters machinery — O(log n) rounds for any graph
    * shape, data never visits the driver).
    * Where dedup_clusters closes the word-shingle Jaccard graph,
    * this closes the finer char-level winnow graph — the actionable
    * output of the whole winnowing scheme: keep `is_keeper = 1`,
    * drop the rest. Oracle: the same recursive-CTE transitive
    * closure, over the shared winnow-pair SQL.
    */
  def winnowClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    winnowClustersOn(docs)
  }

  /** Duplicate-skew-proof winnow components (the clustersDocs
    * pattern): the MOSS pair graph is built over exact-text
    * representatives and members attach by one member→rep star edge
    * each — a LINEAR edge list where the expanded member pair graph
    * is quadratic in the hottest duplicate group. Labels are
    * unchanged: members are mutually reachable through their rep,
    * and the rep is the group's min doc_id.
    */
  private[graft] def winnowClustersOn(docs: DataFrame): DataFrame = {
    val (reps, membership) = Dedup.collapseByText(docs)
    val fps = winnowFpSet(reps).materialized
    val repPairs = winnowRepPairs(fps).select(col("id1").as("d1"), col("id2").as("d2"))
    val starEdges = membership
      .join(fps.select(col("doc_id")).distinct()
        .withColumnRenamed("doc_id", "rep"), Seq("rep"), "left_semi")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("d1"), col("rep").as("d2"))
    Dedup.clustersOf(docs.select(col("doc_id")),
      repPairs.unionByName(starEdges), maxIters = 20)
      .orderBy(col("doc_id"))
  }

  /** Counter budget for [[freqWords]]. Above the live vocabulary
    * (31 words here) the Misra-Gries summary never evicts and is the
    * EXACT count table — which is what makes the registered query
    * oracle-checkable; the eviction regime is property-tested on a
    * synthetic over-capacity corpus instead.
    */
  val FreqCapacity = 64
  val FreqTopK = 20

  /** freq_words — approximate heavy hitters over the corpus's words
    * ([[graft.functions.MisraGriesAgg]]): the exact
    * top-terms query shuffles every term; this keeps [[FreqCapacity]]
    * counters per partition and merges capacity-bounded buffers —
    * at 100 TB the corpus never shuffles, only sketch buffers do,
    * with every term of frequency > n/(capacity+1) guaranteed
    * surfaced at count error ≤ n/(capacity+1). The final rank/top-k
    * runs on the ≤ capacity survivors (metadata-sized).
    */
  def freqWords(spark: SparkSession, dir: String): DataFrame =
    freqWordsOn(Tables(spark, dir).documents)

  private[graft] def freqWordsOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .agg(graft.functions.MisraGriesAgg.frequentTerms(col("w"), FreqCapacity).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term").as("term"), col("e.est").as("est"))
      .withColumn("term_rank",
        row_number().over(Window.orderBy(col("est").desc, col("term"))).cast("long"))
      .filter(col("term_rank") <= FreqTopK)
      .select(col("term_rank"), col("term"), col("est"))
      .orderBy(col("term_rank"))
  }

  /** Count-Min geometry for [[cmsWords]]: depth×width cells. Width
    * 512 at depth 4 bounds every estimate's overcount by n/512 with
    * probability 1−e⁻⁴ per the classic CMS guarantee — and the whole
    * summary is 2048 longs (16 KB) regardless of corpus size.
    */
  val CmsDepth = 4
  val CmsWidth = 512
  val CmsTopK = 30

  /** cms_words — Count-Min-sketch word-frequency estimates next to
    * their exact counts (the remaining member of the mergeable-
    * summary family: HLL distincts in sketch_cube, Misra-Gries heavy
    * hitters in freq_words, bottom-k reservoir in sample_reservoir,
    * log-histogram quantiles in quantile_sketch — CMS is the
    * point-frequency one, and unlike Misra-Gries it answers counts
    * for ANY term, not only survivors, always overestimating).
    *
    * Sketch build: each token maps to [[CmsDepth]] (depth, bucket)
    * cells keyed by an md5-lattice hash — only depth×width = 2048
    * distinct keys exist, so map-side partial aggregation collapses
    * everything per partition and the shuffle moves kilobytes at
    * any corpus size; that is the whole CMS contract. Here the
    * cells fold the VOCABULARY histogram (which the probe side
    * needs anyway — summing word counts per cell equals counting
    * tokens per cell), so the corpus is scanned once; a pure-stream
    * deployment with no exact side builds the same cells directly
    * from tokens, map-side. The exact-count side (the verification
    * harness, same shape as the [[freqWords]] oracle) picks the
    * [[CmsTopK]] probe terms; at 100 TB the probe list would come
    * from the Misra-Gries sketch instead and the exact side drops.
    * Estimates are integer cell sums on the md5 lattice — bit-exact
    * in any engine, hence oracle-checkable, overcount ≥ 0 by
    * construction.
    */
  def cmsWords(spark: SparkSession, dir: String): DataFrame =
    cmsWordsOn(Tables(spark, dir).documents)

  private[graft] def cmsWordsOn(docs: DataFrame): DataFrame = {
    val toks = docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val depths = array((0 until CmsDepth).map(lit): _*)
    def bucket(word: Column, d: Column): Column =
      pmod(hash60(concat(d.cast("string"), lit("|"), word)), lit(CmsWidth.toLong))
    // ONE corpus scan: the vocabulary histogram (which the probe side
    // needs anyway) folds into the cells — summing word counts per
    // cell is identical to counting tokens per cell. A pure-stream
    // deployment with no exact verification side builds the same
    // 2048 cells directly from tokens, map-side. (A/B: the
    // two-scan token-stream build measured 1.9-2.7 s at sf0.1;
    // this form ~1.3 s, same rows, same oracle hash.)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_count"))
      .materialized
    val cells = vocab
      .select(col("exact_count"), explode(depths).as("d"),
        col("w"))
      .select(col("d"), bucket(col("w"), col("d")).as("b"), col("exact_count"))
      .groupBy(col("d"), col("b")).agg(sum(col("exact_count")).as("cell"))
    val top = vocab
      .orderBy(col("exact_count").desc, col("w")).limit(CmsTopK)
    top
      .select(col("w"), col("exact_count"), explode(depths).as("d"))
      .withColumn("b", bucket(col("w"), col("d")))
      .join(broadcast(cells), Seq("d", "b"))
      .groupBy(col("w"), col("exact_count"))
      .agg(min(col("cell")).as("cms_est"))
      .select(col("w").as("term"), col("exact_count"), col("cms_est"),
        (col("cms_est") - col("exact_count")).as("overcount"))
      .orderBy(col("exact_count").desc, col("term"))
  }

  /** Collocation thresholds for [[wordPmi]]: minimum pair support
    * (below it lift estimates are noise) and the shortlist size.
    */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** word_pmi — collocation mining (the PMI/lift family): the
    * adjacent word pairs whose co-occurrence most exceeds chance,
    * the corpus-analysis card behind phrase detection, tokenizer
    * seeding and boilerplate diagnosis. Probabilities are the bigram
    * distribution's own positional marginals (p(x,·), p(·,y)), so
    * lift = c_xy·B / (c_first(x)·c_second(y)) — a pure integer
    * rational. PMI = ln(lift) is monotone in it, so ranking on the
    * integer ppm lattice IS the PMI ranking, with no float in
    * either engine: `lift_ppm` is an exact DECIMAL(38) integral
    * division (at 100 TB: c_xy·B·10⁶ ≤ 10¹²·10¹⁴·10⁶ = 10³² — the
    * lm_score overflow-guard convention, 6 spare digits).
    *
    * Scale shape: bigram explode → one (w1,w2) groupBy (map-side
    * combinable); both marginals and the scalar B derive from the
    * VOCABULARY-sized pair-count table, never from a second corpus
    * scan — the table MATERIALIZES for its four consumers (round 16:
    * as lazy subtrees they planned four separate corpus scans +
    * explodes, verified on the executed plan — Catalyst does not
    * dedupe the repeated aggregation subtree); final shortlist via
    * TakeOrdered. The 1-row B aggregate is a documented scalar-class
    * broadcast (plan-guard allowlist).
    */
  def wordPmi(spark: SparkSession, dir: String): DataFrame =
    wordPmiOn(Tables(spark, dir).documents)

  private[graft] def wordPmiOn(docs: DataFrame): DataFrame = {
    val pairs = docs.withColumn("w", words(col("text")))
      .select(explode(when(size(col("w")) >= 2, expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val pc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .materialized
    val cf = pc.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1_first"))
    val cs = pc.groupBy(col("w2")).agg(sum(col("n_pair")).as("n_w2_second"))
    val b = pc.agg(sum(col("n_pair")).as("b_total"))
    pc.join(cf, "w1").join(cs, "w2").crossJoin(broadcast(b))
      .filter(col("n_pair") >= PmiMinCount)
      .withColumn("lift_ppm", expr(
        """(CAST(n_pair AS DECIMAL(38,0)) * b_total * 1000000) div
          |(CAST(n_w1_first AS DECIMAL(38,0)) * n_w2_second)""".stripMargin).cast("long"))
      .select(col("w1"), col("w2"), col("n_pair"),
        col("n_w1_first"), col("n_w2_second"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  /** Posting-list truncation cap for [[invertedIndex]]. */
  val IndexPostingsCap = 10

  /** inverted_index — term → postings index build (the retrieval-side
    * artifact a curation stack needs for decontamination lookups,
    * duplicate triage, and corpus search): per-term document
    * frequency, total term frequency, and the first
    * [[IndexPostingsCap]] posting doc_ids as a joined string.
    *
    * The scale hazard is the posting list itself: a stopword's list
    * IS the corpus, so building lists with a bare collect_list makes
    * the hottest term materialize one corpus-length array in one
    * task. Truncation happens BEFORE collection, in
    * [[graft.plans.TopK]]'s rank filter (Spark's `WindowGroupLimit`),
    * so no list ever holds more than the cap, at any corpus size and
    * any term skew. The df/tf stats
    * stay exact (they aggregate scalars, where skew is absorbed by
    * partial aggregation, not arrays).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndexOn(Tables(spark, dir).documents)

  private[graft] def invertedIndexOn(docs: DataFrame): DataFrame = {
    // ONE corpus scan: tf aggregates on the fine-grained (term,
    // doc_id) key FIRST — map-side combine there absorbs hot terms
    // (a stopword's tokens spread over docs), where repartitioning
    // raw tokens by term would funnel a stopword's whole token
    // stream through one task. The term×doc result is then
    // re-partitioned by term once and eagerly localCheckpoint'd: the
    // stats aggregate, the top-k truncation, and the final join
    // all consume that partitioning with no further shuffle (term×doc
    // rows, already orders of magnitude smaller than the token
    // stream). localCheckpoint preserves the physical partitioning
    // in the LogicalRDD (consumers still plan shuffle-free — the
    // plan spec asserts it) and pins nothing in the CacheManager;
    // the build work is owed regardless, so eager costs nothing.
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
      .materialized
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val top = graft.plans.TopK.topKPerKey(tf.select(col("term"), col("doc_id")),
      keys = Seq(col("term")), order = Seq(col("doc_id").asc), k = IndexPostingsCap)
    val postings = top.groupBy(col("term"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("term"),
        array_join(expr("transform(ids, x -> CAST(x AS STRING))"), ",").as("postings"))
    stats.join(postings, Seq("term"))
      .select(col("term"), col("df"), col("total_tf").cast("long").as("total_tf"),
        col("postings"))
      .orderBy(col("term"))
  }

  /** html_extract — main-text extraction from HTML (the true first
    * stage of a web-corpus pipeline, upstream of every other text
    * operator): drop script/head/style/comment blocks wholesale, strip
    * the remaining tags, unescape the five XML entities, re-collapse
    * whitespace. The HTML is a deterministic in-query fixture —
    * every 6th doc is wrapped in a realistic page shell (title,
    * styled head, script with entity-escaped code, HTML comment) —
    * so extraction provably recovers the original body text
    * (asserted in QueryPackSpec).
    *
    * Pure regexp/replace column expressions — map-side, one scan,
    * codegen; patterns restricted to the dialect-portable subset
    * ((?s), non-greedy, character classes) so Java and RE2 agree.
    */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlExtractOn(Tables(spark, dir).documents)

  private[graft] def htmlWrap(docId: Column, text: Column): Column =
    concat(
      lit("<html><head><title>Doc "), docId.cast("string"),
      lit("</title><style>p {color: red}</style></head><body><p>"),
      text,
      lit(" &amp; more</p><script>var x = 1 &amp;&amp; 2;</script><!-- footer --></body></html>"))

  private[graft] def htmlExtractOn(docs: DataFrame): DataFrame = {
    val aug = when(col("doc_id") % 6 === 0, htmlWrap(col("doc_id"), col("text")))
      .otherwise(col("text"))
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<head[^>]*>.*?</head>", " "), // head is metadata (title/style/meta), not main text
      "(?s)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val unescaped = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'")
      .foldLeft(regexp_replace(col("nb"), "<[^>]+>", " ")) {
        case (c, (from, to)) =>
          regexp_replace(c, java.util.regex.Pattern.quote(from), to)
      }
    docs
      .withColumn("nb", noBlocks)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(nb, '<[^>]+>', 0)")).cast("long").as("n_tags"),
        trim(regexp_replace(unescaped, "\\s+", " ")).as("extracted"))
      .withColumn("was_html", (col("n_tags") > 0).cast("long"))
      .select(col("doc_id"), col("was_html"), col("n_tags"), col("extracted"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance threshold and blocking constants for
    * [[dedupFuzzy]] (injected into the oracle).
    */
  val FuzzyPrefixLen = 64
  val FuzzyMaxDist = 5

  /** The τ+1 = 6 aligned prefix segments as 1-based (offset, length)
    * slices: 64 = 4×11 + 2×10. Shared with the oracle's VALUES list
    * so both engines block identically.
    */
  private[graft] val FuzzySegments: Seq[(Int, Int)] = {
    val n = FuzzyMaxDist + 1
    val base = FuzzyPrefixLen / n
    val lens = Seq.tabulate(n)(i => if (i < FuzzyPrefixLen % n) base + 1 else base)
    lens.scanLeft(1)(_ + _).zip(lens).map { case (off, len) => (off, len) }
  }

  /** dedup_fuzzy — EDIT-DISTANCE near-dup pairs (the typo/OCR-noise
    * modality the token-based families miss: shingle Jaccard and
    * MinHash see a doc with single-character corruptions as mostly
    * novel shingles, while its Levenshtein distance stays tiny).
    * Distance runs on the 64-char normalized prefix — O(prefix²)
    * per pair, constant — and candidate pairs come from SEGMENT
    * blocking (the PassJoin partitioning scheme, Li et al.,
    * VLDB'11): the prefix splits into τ+1 = 6 aligned segments, and
    * two docs are candidates iff they agree on at least one
    * (segment-index, segment-content) key. Pigeonhole: ≤ τ
    * substitutions can corrupt at most τ of the τ+1 segments, so
    * every substitution-noise pair within the bound is found
    * (indels shift alignment and are matched best-effort — the
    * right trade for OCR/typo noise, which is substitution-heavy).
    *
    * The scale story vs naive blocking: a (first-char,
    * length-bucket) key has O(alphabet × lengths) distinct values,
    * so block population — and candidate pairs, quadratically —
    * grows with the corpus (measured slope 21× for 10× data at
    * sf0.1). An 11-char aligned segment is drawn from a practically
    * unbounded key space: blocks collect only genuine near-dup
    * clusters plus rare coincidences, candidate volume tracks the
    * true-duplicate density, and the join scales linearly in corpus
    * size. Distance is evaluated once per DISTINCT candidate pair.
    */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame =
    dedupFuzzyOn(Tables(spark, dir).documents)

  private[graft] def dedupFuzzyOn(docs: DataFrame): DataFrame = {
    // exact-duplicate skew guard (Dedup.collapseByText): identical
    // texts share every segment key, so the block join over raw docs
    // is O(m²) on a hot text; segments/verification run over reps
    // and pairs expand through membership (dist = 0 within a group)
    val (reps, membership) = Dedup.collapseByText(docs)
    // materialized once: the segment self-join's two sides and the
    // eligibility frame otherwise re-evaluate the collapse + prefix
    // plan three times (the union-branch lesson, join flavored)
    val d = reps.select(col("doc_id"),
      substring(normalize(col("text")), 1, FuzzyPrefixLen).as("prefix"))
      .materialized
    val segCols = FuzzySegments.map { case (off, len) =>
      substring(col("prefix"), off, len)
    }
    // posexplode keys each slice by its index; empty slices (docs
    // shorter than the offset) must not form a catch-all block
    val segs = d.select(col("doc_id"), col("prefix"),
        posexplode(array(segCols: _*)).as(Seq("seg_i", "seg")))
      .filter(length(col("seg")) > 0)
    val left = segs.select(col("doc_id").as("id1"), col("prefix").as("p1"),
      col("seg_i"), col("seg"))
    val right = segs.select(col("doc_id").as("id2"), col("prefix").as("p2"),
      col("seg_i"), col("seg"))
    val repPairs = left.join(right, Seq("seg_i", "seg"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("p1"), col("p2"))
      .distinct()
      .withColumn("dist", levenshtein(col("p1"), col("p2")))
      .filter(col("dist") <= FuzzyMaxDist)
      .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
    Dedup.expandPairs(repPairs, membership, "id1", "id2", "dist", lit(0L),
        d.filter(length(col("prefix")) > 0).select(col("doc_id")))
      .orderBy(col("id1"), col("id2"))
  }

  /** dedup_fuzzy_text — FULL-TEXT edit-distance near-dup pairs
    * (closing [[dedupFuzzy]]'s blind spot: that variant matches on
    * the 64-char normalized prefix, so an OCR-corrupted tail beyond
    * char 64 is invisible to it; this one blocks and verifies on the
    * whole normalized text, indels included).
    *
    * Blocking is the full PassJoin scheme (Li et al., VLDB'11) rather
    * than the aligned-prefix shortcut: every doc INDEXES its τ+1
    * proportional segments keyed by (own length, segment index,
    * content), and PROBES with the substrings that could equal a
    * segment of a NO-LONGER doc — for each target length
    * l2 ∈ [len−τ, len] and segment i of the l2-partition, the probe
    * emits that segment-length substring at every start within ±τ of
    * the segment's home offset. Probing only downward (the PassJoin
    * asymmetry) is complete because every pair has a shorter member:
    * the longer doc probes the shorter's length partition; equal
    * lengths probe each other, deduped by `distinct`. Pigeonhole over
    * an optimal alignment: ≤ τ edits leave ≥ 1 of the τ+1 index
    * segments edit-free, and its aligned copy in the other doc starts
    * within ±τ (position shift = net indels before it) — so every
    * pair within the bound is a candidate, indels included.
    * Verification is Spark's THRESHOLDED levenshtein — banded
    * O(len·τ), not O(len²), per distinct candidate pair.
    *
    * Scale shape: probe expansion is a constant factor (≤ (τ+1)² ≈
    * 66 keys per doc, ~350 measured at τ=5 with clamping) on a
    * map-side explode; the candidate join is a hash equi-join on
    * (length, segment index, content) whose key space grows with the
    * corpus, so — like [[dedupFuzzy]]'s segments but unlike
    * length-bucket blocking — block population tracks true-duplicate
    * density, not corpus size (measured: 175k probe rows → 24
    * verified pairs at sf0.01, identical to the brute-force pair
    * set; downward-only probing halved the two-sided 308k volume and
    * cut sf0.1 warm time 6.1→4.2 s). No driver state, no cartesian.
    */
  def dedupFuzzyText(spark: SparkSession, dir: String): DataFrame =
    dedupFuzzyTextOn(Tables(spark, dir).documents)

  private[graft] def dedupFuzzyTextOn(docs: DataFrame): DataFrame = {
    // exact-duplicate skew guard (Dedup.collapseByText): identical
    // texts index and probe identical (length, segment, content)
    // keys, so the candidate join over raw docs is O(m²) on a hot
    // text; the PassJoin machinery runs over reps and pairs expand
    // through membership (dist = 0 within a group)
    val (reps, membership) = Dedup.collapseByText(docs)
    dedupFuzzyTextCollapsed(reps, membership).orderBy(col("id1"), col("id2"))
  }

  /** Post-collapse tail of [[dedupFuzzyTextOn]] (the ngramJaccardFrom
    * convention — shares the caller's collapse; unordered rows).
    */
  private[graft] def dedupFuzzyTextCollapsed(reps: DataFrame,
      membership: DataFrame): DataFrame = {
    val tau = FuzzyMaxDist
    val n = tau + 1
    // spread docs across tasks BEFORE the ~350×/doc probe explode: the
    // parquet scan plans ~1 partition for a small file, and generation
    // (substring + hash per probe key) is the CPU-bound step — a 1.5 MB
    // pre-shuffle buys full-cluster parallelism on it
    val d = reps.select(col("doc_id"),
        normalize(col("text")).as("t"))
      .withColumn("len", length(col("t")).cast("long"))
      .repartition(col("doc_id"))
      // materialized once: index, probe, both candidate re-joins and
      // the eligibility frame otherwise re-run collapse + normalize
      // five times
      .materialized
    // Join keys are xxhash64 of the segment content, never the text:
    // the probe side explodes to ~350 keys/doc, and shipping ~50-char
    // substrings (let alone the full text) through that shuffle was
    // measured 6× slower. A hash collision only ADDS a candidate pair
    // — verification filters it — so the output is unchanged.
    //
    // Round 16 (guide §4): key GENERATION is one
    // [[graft.functions.PassJoinKernel]] eval per document + explode.
    // The r15 form — three chained explode(sequence(...)) Generates
    // plus a per-row xxhash64(substring(...)) — measured 1.8-2.2 s of
    // the query's 3.5-4.2 s at sf0.1: every probe row allocated boxed
    // sequence arrays and substring re-walked the text's UTF-8 bytes
    // from position 0 (O(position) per key). The kernel indexes char
    // starts once per doc and hashes byte slices in place with the
    // SAME XXH64(seed 42), so every (length, segment, hash) key — and
    // therefore the candidate set and the output — is bit-identical
    // (PassJoinKernelSpec pins kernel ≡ SQL keys on the corpus).
    // index side: each doc's own τ+1 proportional segments — integer
    // boundary arithmetic (i·len div n) shared verbatim with the oracle
    val idx = d.select(col("doc_id").as("id_b"), col("len").as("len_b"),
        explode(graft.functions.PassJoinKernel.passJoinIndex(col("t"), tau)).as("m"))
      .select(col("id_b"), col("len_b"), col("m.i_b").as("i_b"), col("m.h").as("h"))
    // probe side: substrings that could equal a segment of any doc of
    // length l2 ≤ own (downward-only probing — see scaladoc), at every
    // start within ±τ of its home offset
    val probe = d.select(col("doc_id").as("id_a"),
        explode(graft.functions.PassJoinKernel.passJoinProbes(col("t"), tau)).as("m"))
      .select(col("id_a"), col("m.l2").as("l2"), col("m.i_a").as("i_a"),
        col("m.h").as("h"))
    // round 16 (guide §3.1 — pick the strategy deliberately): the
    // planner's size estimate misses the ~350×/doc probe explode (it
    // sees the 1.5 MB materialized d) and chose BroadcastHashJoin
    // BuildLeft — collecting the ~1.75M-row PROBE side to the driver
    // and building its hash relation single-threaded (measured: 2.9 s
    // of the query's 4.2 s sat in this stage; and at corpus scale a
    // data-sized broadcast is an OOM, not a plan). SHUFFLE_HASH with
    // the τ+1-rows/doc index side as build keeps both sides
    // partitioned by the (length, segment, content-hash) key —
    // parallel at any scale. Candidates, hence results, unchanged.
    val cand = probe.join(idx.hint("SHUFFLE_HASH"),
        probe("l2") === idx("len_b") && probe("i_a") === idx("i_b") &&
          probe("h") === idx("h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id1"),
        greatest(col("id_a"), col("id_b")).as("id2"))
      .distinct() // one verification per unordered pair
    // texts re-attach to the (tiny) candidate set only
    val repPairs = cand
      .join(d.select(col("doc_id").as("id1"), col("t").as("t1")), "id1")
      .join(d.select(col("doc_id").as("id2"), col("t").as("t2")), "id2")
      .withColumn("dist", levenshtein(col("t1"), col("t2"), FuzzyMaxDist))
      .filter(col("dist") >= 0) // thresholded form returns -1 above τ
      .select(col("id1"), col("id2"), col("dist").cast("long").as("dist"))
    Dedup.expandPairs(repPairs, membership, "id1", "id2", "dist", lit(0L),
        d.filter(col("len") >= 1L).select(col("doc_id")))
  }

  /** Minimum duplicated-span length, in words, for [[dedupSpans]].
    * Lee et al. use 50 BPE tokens on web corpora; 15 words sits at
    * the same "beyond-coincidence" scale for this corpus's 10-99-word
    * docs (median 56) while leaving sub-k shared phrases unflagged.
    */
  val SpanK = 15

  /** dedup_spans — EXACT-SUBSTRING duplicate spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * every maximal run of words that appears verbatim (≥ [[SpanK]]
    * words, post-normalize) more than once in the corpus — the spans
    * that exact doc-level dedup misses (shared boilerplate, quoted
    * passages, templated sections inside otherwise-distinct docs)
    * and that a training pipeline masks or drops. Output is one row
    * per maximal span occurrence: (doc_id, span_start, span_end,
    * span_words), 1-based word positions.
    *
    * The paper's suffix array is a single-machine structure; the
    * distributed equivalent flags every k-word gram position whose
    * gram occurs >1 time globally, then merges overlapping/adjacent
    * flagged positions per doc (gaps-and-islands) into maximal
    * spans — exact for every duplicated run ≥ k words (any such run
    * contains only duplicated k-grams and is fully covered by them;
    * runs < k are invisible by design, the same k-token floor the
    * paper applies).
    *
    * Scale shape: gram generation is a map-side explode (≤ |words|
    * rows/doc); the occurrence count shuffles on [[hash60]] of the
    * gram — an 8-byte key with map-side combine, never the 100-char
    * gram text (hash collisions are deterministic AND mirrored in
    * the oracle's identical md5-derived hash, so the compare cannot
    * diverge); position flagging is a LEFT SEMI join against the
    * duplicated-gram set — output ≤ input positions even when a
    * boilerplate gram hits a million docs; the island merge windows
    * per doc_id. No driver state, no cartesian, nothing
    * corpus-quadratic.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSpansOn(Tables(spark, dir).documents)

  private[graft] def dedupSpansOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanK
    // 1-based gram start positions; sequence(1, len-k+1) only when the
    // doc has ≥ k words (sequence(1, 0) would DESCEND, the doc_chunk
    // corner)
    val grams = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(w) - $k + 1)")).as("pos"),
        col("w"))
      .select(col("doc_id"), col("pos"),
        hash60(expr(s"concat_ws(' ', slice(w, pos, $k))")).as("g"))
      // materialized once: the occurrence count and the flagging join
      // otherwise run the per-position md5 explode twice
      .materialized
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("g"))
    val flagged = grams.join(dup, Seq("g"), "left_semi")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("prev", lag(col("pos"), 1).over(byPos))
      // overlap OR adjacency merges: [prev, prev+k-1] and [pos, pos+k-1]
      // stay one span while pos ≤ prev + k
      .withColumn("brk", when(col("prev").isNull || col("pos") > col("prev") + k, 1L)
        .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** span_scrub — the TRANSFORMATION companion to [[dedupSpans]]
    * (what Lee et al.'s released dedup tool actually does to the
    * corpus): remove every duplicated-span occurrence except the
    * globally FIRST one and rebuild the text. Keeper rule, per
    * duplicated k-gram: the occurrence with the smallest
    * (doc_id, pos) — encoded as one BIGINT doc_id·2²⁰ + pos so the
    * lexicographic min is a plain MIN aggregate in any engine. A word
    * is removed iff some non-keeper duplicated gram covers it; the
    * keeper doc's words survive, so exactly one copy of every
    * duplicated run remains in the corpus. Output per doc: surviving
    * text (normalized-word join), word counts before/after.
    *
    * Scale shape: everything [[dedupSpans]] does (hash60 gram keys,
    * map-side combine, semi-join-sized flagging) plus a bounded ×k
    * explode of REMOVED positions to covered word indices (≤ k·|flagged|,
    * linear with constant 15) and a per-doc rebuild whose
    * collect_list is doc-sized — never corpus-sized. No cartesian,
    * no driver state.
    */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    spanScrubOn(Tables(spark, dir).documents)

  private[graft] def spanScrubOn(docs: DataFrame): DataFrame = {
    val k = SpanK
    val toks = docs.select(col("doc_id"), words(col("text")).as("w"))
    val grams = toks
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(w) - $k + 1)")).as("pos"), col("w"))
      .select(col("doc_id"), col("pos"),
        hash60(expr(s"concat_ws(' ', slice(w, pos, $k))")).as("g"))
      // materialized once: the keeper aggregation and the covered
      // join otherwise run the per-position md5 explode twice
      .materialized
    // one row per duplicated gram: its occurrence count and keeper key
    val keepers = grams
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        min(shiftleft(col("doc_id"), 20) + col("pos")).as("keep_key"))
      .filter(col("n") > 1)
      .select(col("g"), col("keep_key"))
    // flagged NON-KEEPER occurrences → the k word indices they cover
    val covered = grams.join(keepers, "g")
      .filter(shiftleft(col("doc_id"), 20) + col("pos") =!= col("keep_key"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("widx"))
      .distinct()
    val keptAgg = toks
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i0", "word")))
      .withColumn("widx", col("i0") + 1)
      .join(covered, Seq("doc_id", "widx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(widx, word))), s -> s.word)"))
          .as("scrubbed"))
    // left join: a FULLY-covered doc (exact duplicate of a keeper)
    // has zero kept words but must still appear, scrubbed empty
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** Rolling window (words) for [[chunkDedup]]'s cut decision. */
  val ChunkK = 3

  /** Cut-point divisor: a boundary lands after a word when the
    * trailing [[ChunkK]]-gram's hash ≡ 0 (mod [[ChunkDiv]]), so the
    * expected chunk is [[ChunkDiv]] words.
    */
  val ChunkDiv = 8L

  /** chunk_dedup — content-defined chunking + corpus-wide duplicate-
    * chunk statistics (the FastCDC/LBFS rolling-hash boundary idea,
    * word-granular): every doc is split at CONTENT-DERIVED cut
    * points — after any word whose trailing [[ChunkK]]-gram hashes to
    * 0 mod [[ChunkDiv]] — so a shared passage produces the SAME
    * chunks in every doc that contains it regardless of what was
    * inserted before it (fixed-size chunking loses alignment after
    * one insertion; content-defined chunking re-synchronizes within
    * one chunk). Each doc reports how much of it is corpus-duplicated
    * chunk mass: the boilerplate-fraction signal a curation pipeline
    * reads before deciding to scrub ([[spanScrub]]) or drop.
    *
    * Chunk identity is the hash of the chunk's words; a chunk is
    * duplicated when its content occurs more than once corpus-wide
    * (in-doc repeats count — repetition is repetition). dup_ppm =
    * dup_words·10⁶ div n_words on the integer lattice.
    *
    * Scale shape: the cut flags are map-side (one hash per word over
    * the codegen'd array); chunk assignment is ONE doc-keyed window
    * (doc-bounded partitions, the q13_sessionize class) whose
    * partitioning the chunk aggregation then reuses shuffle-free;
    * chunk counts are a map-side-combinable groupBy on the chunk
    * hash; the count join is fan-out 1; the final rollup is keyed by
    * doc. No all-pairs stage anywhere — duplicate detection is
    * exact-match on chunk hashes, the dedup_exact cost shape at
    * sub-document granularity.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOn(Tables(spark, dir).documents)

  private[graft] def chunkDedupOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = ChunkK
    // per-word rows with the cut-after flag; no cut after the last
    // word (a trailing no-op boundary) or before the k-th (no full
    // trailing gram exists yet)
    val perWord = docs.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(1, size(w))")).as("j"))
      .select(col("doc_id"), col("j"),
        expr("element_at(w, CAST(j AS INT))").as("word"),
        when(col("j") >= k && col("j") < size(col("w")),
          hash60(expr(s"concat_ws(' ', slice(w, CAST(j - ${k - 1} AS INT), $k))"))
            % ChunkDiv === 0L)
          .otherwise(lit(false)).as("cut"))
    // chunk id = 1 + cuts strictly before this word
    val byJ = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    val assigned = perWord.withColumn("chunk_id",
      lit(1L) + coalesce(
        sum(when(col("cut"), 1L).otherwise(0L))
          .over(byJ.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    // two consumers (corpus counts, the stats join): materialize once
    val chunks = assigned.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("nw"),
        hash60(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(j, word))), s -> s.word)")))
          .as("chash"))
      .materialized
    val counts = chunks.groupBy(col("chash")).agg(count(lit(1)).as("cnt"))
    chunks.join(counts, "chash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("cnt") > 1, col("nw")).otherwise(0L)).as("dup_words"),
        sum(col("nw")).as("n_words"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        col("dup_words"), col("n_words"),
        expr("dup_words * 1000000 div n_words").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  /** url_normalize — URL canonicalization + URL-level dedup (the
    * crawl-frontier stage that runs BEFORE any content fetch at web
    * scale: normalizing away scheme/host case, default ports, www,
    * tracking parameters, fragments and trailing slashes collapses
    * re-crawl candidates without touching document bytes). URLs are a
    * deterministic in-query fixture (the html_extract pattern):
    * mixed-case hosts, http/https with their default ports, utm/fbclid
    * tracking params, fragments — with doc_id-residue collisions so
    * the dedup stage has real work.
    *
    * Every rewrite is a capture-free regex in the Java∩RE2 subset
    * (replacement backreferences are `$1` in Java but `\1` in RE2 —
    * the one divergence this operator must never touch). Map-side
    * expressions + ONE url_norm-keyed window for the keeper choice.
    */
  def urlNormalize(spark: SparkSession, dir: String): DataFrame =
    urlNormalizeOn(Tables(spark, dir).documents)

  private[graft] def urlNormalizeOn(docs: DataFrame): DataFrame =
    withNormalizedUrl(docs)
      .select(col("doc_id"), col("url"), col("url_norm"), col("url_key"),
        col("keep_id"), col("n_dups"), col("is_canonical"))
      .orderBy(col("doc_id"))

  /** Appends url / url_norm / url_key to the input frame, keeping
    * every input column — the MAP-SIDE core of the URL pipeline
    * (fixture + capture-free rewrite chain, zero shuffle), shared by
    * [[urlNormalizeOn]], [[domainStats]] and [[domainTopk]]. Input
    * needs doc_id and source (the URL fixture); keep the frame
    * narrow before calling when a shuffling consumer follows.
    */
  private[graft] def withUrlColumns(docs: DataFrame): DataFrame = {
    val url = concat(
      when(col("doc_id") % 4 === 0,
        concat(lit("HTTP://Www."), col("source"), lit(".EXAMPLE.com:80")))
        .otherwise(concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443"))),
      lit("/News/Item-"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?id="), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 5 =!= 0, lit("&utm_source=rss&fbclid=x1Y2")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("#top")).otherwise(lit("")))
    val withParts = docs.withColumn("url", url)
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("pre", regexp_extract(col("nofrag"), "^[A-Za-z]+://[^/?#]*", 0))
      .withColumn("rest", expr("substring(nofrag, length(pre) + 1)"))
    val preNorm = {
      val lowered = lower(col("pre"))
      val noPort = when(lowered.startsWith("http://"),
        regexp_replace(lowered, ":80$", ""))
        .otherwise(regexp_replace(lowered, ":443$", ""))
      regexp_replace(noPort, "://www\\.", "://")
    }
    val restNorm = {
      val r1 = regexp_replace(col("rest"), "&(utm_[a-z]+|fbclid)=[^&]*", "")
      val r2 = regexp_replace(r1, "\\?(utm_[a-z]+|fbclid)=[^&]*&", "?")
      val r3 = regexp_replace(r2, "\\?(utm_[a-z]+|fbclid)=[^&]*$", "")
      regexp_replace(regexp_replace(r3, "/\\?", "?"), "/$", "")
    }
    withParts
      .withColumn("url_norm", concat(preNorm, restNorm))
      .withColumn("url_key", md5(col("url_norm")))
      .drop("nofrag", "pre", "rest")
  }

  /** [[withUrlColumns]] plus the url_norm-keyed keeper window
    * (keep_id / n_dups / is_canonical) — the shuffling half of the
    * URL pipeline; map-side-only consumers use [[withUrlColumns]].
    */
  private[graft] def withNormalizedUrl(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url_norm"))
    withUrlColumns(docs)
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("is_canonical",
        (col("doc_id") === col("keep_id")).cast("long"))
  }

  /** domain_stats — the per-host curation card (the RefinedWeb /
    * C4-style table every web-scale pipeline keys policy off: which
    * domains are boilerplate farms, which carry quality text, where
    * the URL-dup mass lives): per registered host, document and
    * distinct-URL counts, canonical share, URL-dup rate, total
    * words, and the mean quality score.
    *
    * One scan: quality features ([[withQualityScore]]) and URL
    * normalization ([[withNormalizedUrl]]) compose on the same
    * narrow frame, then ONE url_norm window (the keeper choice) and
    * ONE host groupBy — all sums map-side combinable, so web-scale
    * host skew (a giant domain) never concentrates rows beyond the
    * partial-agg collapse. The mean score crosses engines on the
    * integer 1e-4 lattice (scores summed as lattice longs, divided
    * once at the end) — float-summation order can't break the hash.
    */
  def domainStats(spark: SparkSession, dir: String): DataFrame =
    domainStatsOn(Tables(spark, dir).documents)

  private[graft] def domainStatsOn(docs: DataFrame): DataFrame = {
    val scored = withQualityScore(docs)
      .select(col("doc_id"), col("source"), col("n_words"), col("score"))
    withNormalizedUrl(scored)
      .withColumn("host", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]+)", 1))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("url_norm")).as("n_urls"),
        sum(col("is_canonical")).as("n_canonical"),
        sum(col("n_words")).as("total_words"),
        sum(round(col("score") * 10000).cast("long")).as("s4"))
      .select(col("host"), col("n_docs"), col("n_urls"), col("n_canonical"),
        round(lit(1.0) - col("n_canonical").cast("double") / col("n_docs")
          + lit(1e-9), 4).as("dup_rate"),
        col("total_words"),
        round(col("s4").cast("double") / 10000.0 / col("n_docs")
          + lit(1e-9), 4).as("avg_score"))
      .orderBy(col("host"))
  }

  /** Per-host exemplar count for [[domainTopk]]. */
  val DomainTopK = 5

  /** domain_topk — the [[DomainTopK]] highest-quality documents per
    * host (the exemplar shortlist a curation reviewer reads next to
    * [[domainStats]]'s aggregates): host from the map-side
    * [[withUrlColumns]] (no keeper window — top-k doesn't need it),
    * ranked by quality score through [[graft.plans.TopK]] (Spark's
    * `WindowGroupLimit`): each map task keeps ≤ k rows per host
    * before the exchange, so a big host never lands whole on one
    * task. The final rank window runs on the ≤ k·hosts survivors
    * (metadata-sized).
    */
  def domainTopk(spark: SparkSession, dir: String): DataFrame =
    domainTopkOn(Tables(spark, dir).documents)

  private[graft] def domainTopkOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = withQualityScore(docs)
      .select(col("doc_id"), col("source"), col("score"))
    val hosted = withUrlColumns(scored)
      .withColumn("host", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]+)", 1))
      .select(col("host"), col("doc_id"), col("score"))
    graft.plans.TopK.topKPerKey(hosted,
        keys = Seq(col("host")),
        order = Seq(col("score").desc, col("doc_id").asc),
        k = DomainTopK)
      .withColumn("host_rank", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("host"), col("host_rank"), col("doc_id"), col("score"))
      .orderBy(col("host"), col("host_rank"))
  }

  /** url_filter — the URL-level document gate (the RefinedWeb /
    * C4-style first pass that runs BEFORE any text is read: block
    * known-bad hosts, score URL-shape spam signals): per document,
    * the registered host, an additive penalty from the RAW URL's
    * shape (tracking parameters, fragment, path residue, high item
    * ids — the stand-ins for the published keyword/soft-word lists),
    * and the verdict. The host blocklist membership is a
    * deterministic 60-bit-hash bucket test here (a fixture standing
    * in for the curated list); a production run swaps in a BROADCAST
    * blocklist join — same plan shape, the blocklist is
    * metadata-sized by definition.
    *
    * Scale: entirely map-side (URL synthesis, normalization, host
    * extraction, regexp penalties — one scan, zero shuffle before
    * the output sort); the cheapest gate in the pipeline, which is
    * the point — it reads ONLY doc_id/source, never text, so the
    * scan prunes to two columns (ReadSchema-verified class).
    */
  def urlFilter(spark: SparkSession, dir: String): DataFrame =
    urlFilterOn(Tables(spark, dir).documents)

  private[graft] def urlFilterOn(docs: DataFrame): DataFrame =
    withUrlVerdict(docs.select(col("doc_id"), col("source")))
      .select(col("doc_id"), col("host"), col("penalty"), col("verdict"))
      .orderBy(col("doc_id"))

  /** Appends host / blocked / penalty / verdict to a frame carrying
    * `doc_id` and `source` — THE single URL-gate definition: the
    * batch operator above and
    * [[graft.operators.Quality.qualityEnsembleOn]]'s fused gate scan
    * both call this, so the two paths cannot drift.
    */
  private[graft] def withUrlVerdict(docs: DataFrame): DataFrame =
    withUrlColumns(docs)
      .withColumn("host", regexp_extract(col("url_norm"), "^[a-z]+://([^/:?#]+)", 1))
      .withColumn("blocked", hash60(concat(lit("blk:"), col("host"))) % 5 === 0)
      .withColumn("penalty",
        (when(col("url").rlike("utm_|fbclid"), 2L).otherwise(0L)
          + when(col("url").contains("#"), 1L).otherwise(0L)
          + when(col("url").rlike("/\\?"), 1L).otherwise(0L)
          + when(col("url").rlike("\\?id=1[0-2]"), 1L).otherwise(0L)))
      .withColumn("verdict",
        when(col("blocked"), lit("blocked"))
          .when(col("penalty") >= 3, lit("flagged"))
          .otherwise(lit("pass")))

  /** tok_fertility — the tokenizer compression card: per source,
    * whitespace-word and regex-token totals, character mass, and the
    * three ratios a tokenizer evaluation reads — fertility
    * (tokens per word), compression (chars per token), and type-token
    * ratio (distinct normalized words per word) — the per-source
    * comparison that decides whether a tokenizer underserves a slice
    * of the mix (the fertility metric of the multilingual-BPE
    * literature). Ratios live on the exact ppm lattice (integer
    * `div`, positive operands — identical truncation both engines).
    *
    * Scale: one scan computes the per-doc counts map-side; the totals
    * collapse in a source-keyed partial-aggregated groupBy. The
    * distinct-word term is the one genuine shuffle (explode →
    * (source, word) distinct → count), the same shape freq_words
    * already carries — map-side combinable and never all-pairs.
    */
  def tokFertility(spark: SparkSession, dir: String): DataFrame =
    tokFertilityOn(Tables(spark, dir).documents)

  private[graft] def tokFertilityOn(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("ws"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("re"),
      length(col("text")).cast("long").as("chars"))
    val totals = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("words"),
        sum(col("re")).as("toks"), sum(col("chars")).as("chars"))
    val distinctWords = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"))
      .agg(countDistinct(col("w")).as("types"))
    totals.join(distinctWords, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("words"), col("toks"),
        col("chars"),
        expr("toks * 1000000 div words").as("fertility_ppm"),
        // a source of whitespace-only documents has toks = 0 (words
        // stays ≥ 1 per doc — split of an empty trim is [""]); guard
        // like the sibling cards or ANSI mode raises DIVIDE_BY_ZERO
        expr("CASE WHEN toks = 0 THEN 0L ELSE chars * 1000000 div toks END")
          .as("chars_per_tok_ppm"),
        expr("coalesce(types, 0L) * 1000000 div words").as("ttr_ppm"))
      .orderBy(col("source"))
  }

  /** quality_calib — gate-calibration card (the evaluation-layer
    * row next to dedup_eval/pack_eval/ann_eval: before a team trusts
    * the cheap continuous score as a ranking signal, it reads how
    * the score's deciles agree with the rule-based Gopher gate):
    * per score decile, document count, Gopher keep count, and the
    * keep rate in ppm. A calibrated score shows keep_ppm rising
    * monotonically with the decile; an inversion localizes WHERE the
    * two quality notions disagree.
    *
    * Exactness: the decile is floor(score·10) on the SAME rounded
    * double both engines already hash-agree on (quality_score is
    * oracle-green), so the bucket boundary lands identically even
    * where score·10 sits on an ulp; keep is the oracle-green gopher
    * product flag; the rate is positive-integer `div` ppm.
    *
    * Scale: two map-side per-doc feature chains (shared definitions
    * with quality_score / gopher_quality — the withGopherFlags
    * single-rule convention) joined on the unique doc_id, then ONE
    * ≤ 10-row groupBy — map-side combinable, card-sized output.
    */
  def qualityCalib(spark: SparkSession, dir: String): DataFrame =
    qualityCalibOn(Tables(spark, dir).documents)

  private[graft] def qualityCalibOn(docs: DataFrame): DataFrame = {
    val scored = withQualityScore(docs).select(col("doc_id"), col("score"))
    val gate = gopherQualityOn(docs).select(col("doc_id"), col("keep"))
    scored.join(gate, "doc_id")
      .withColumn("decile", least(floor(col("score") * 10).cast("long"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"))
      .select(col("decile"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"))
      .orderBy(col("decile"))
  }

  /** Repetitive-text cutoff for [[compRatio]]: a document whose
    * deflate ratio lands below this many ppm of its raw size is
    * template/boilerplate-class (natural prose deflates to roughly
    * 300-600k ppm; heavy repetition collapses far below).
    */
  val CompRepetitiveppm = 250000L

  /** comp_ratio — compression-ratio quality signal (the zlib
    * entropy proxy of the Gopher/data-juicer filtering lines, the
    * model-free cousin of lm_score: repetitive or templated text
    * deflates far below the prose norm, random noise barely deflates
    * at all): per doc, raw UTF-8 bytes, deflate bytes
    * ([[graft.functions.CompressKernel]] — one thread-local Deflater,
    * zero per-row allocation), ratio ppm, and the repetitive flag
    * below [[CompRepetitiveppm]]. Complements [[repStats]] (which
    * counts STRUCTURED line/word repetition): deflate sees every
    * periodicity at once, including the ones no tokenizer notices.
    *
    * Rows-only class: DEFLATE length has no cross-engine oracle (the
    * ratio is zlib-version-scoped — the kernel's scaladoc states the
    * determinism contract); IngestOpsSpec pins an independent
    * java.util.zip recompute of every row plus planted
    * repetitive/prose fixtures. Scale: map-only — the scan IS the
    * query (the url_filter class), output one row per doc.
    */
  def compRatio(spark: SparkSession, dir: String): DataFrame =
    compRatioOn(Tables(spark, dir).documents)

  private[graft] def compRatioOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_bytes"),
        graft.functions.CompressKernel.compressLen(col("text")).as("comp_bytes"))
      .filter(col("raw_bytes") > 0)
      .withColumn("ratio_ppm", expr("comp_bytes * 1000000 div raw_bytes"))
      .withColumn("repetitive",
        (col("ratio_ppm") < CompRepetitiveppm).cast("long"))
      .select(col("doc_id"), col("raw_bytes"), col("comp_bytes"),
        col("ratio_ppm"), col("repetitive"))
      .orderBy(col("doc_id"))
}
