package graft.operators

import graft.Materialize.MatOps
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical language-model corpus scoring over `documents` — the
  * CCNet / DSIR family of data-curation signals: a bigram LM trained
  * on the corpus itself scores each document's predictability
  * ([[lmScore]]), and hashed-n-gram importance weights rank documents
  * by closeness to a high-quality target slice ([[dsirSelect]]).
  *
  * Both run entirely on integer lattices (ppm ratios under floor
  * division): the papers' log-space formulations are deliberately
  * re-expressed as rational surrogates — monotone per feature,
  * deterministic at any parallelism, and bit-exact against the
  * DuckDB oracle where cross-engine `ln` would drift in the last ulp.
  */
object LangModel {

  /** lm_score — bigram-LM predictability (the KenLM/CCNet perplexity
    * filter shape, integerized): add-one-smoothed bigram statistics
    * are trained on the corpus in one pass, then every document is
    * scored by the MEAN smoothed bigram probability of its text in
    * parts-per-million:
    *
    *   p_ppm(w1,w2) = (c(w1,w2)+1)·10⁶ div (c(w1)+V)
    *   lm_ppm(doc)  = Σ p_ppm over the doc's bigram instances div n
    *
    * c(w1) counts w1 as a bigram context, V is the distinct next-word
    * vocabulary (the add-one denominator). Low lm_ppm marks text the
    * corpus model finds unpredictable — the same tail a log-space
    * perplexity filter drops (the arithmetic mean replaces the
    * geometric one so the score stays on an integer lattice the
    * oracle reproduces bit-exactly).
    *
    * Scale shape: the model is two map-side-combinable aggregations
    * keyed by word / word-pair whose outputs are VOCABULARY-sized
    * (Heaps-law sublinear in the corpus — the bpe_train regime), and
    * scoring is ONE equi-join of the doc bigram instances against the
    * model on (w1,w2): the model side is unique per key, so join
    * fan-out is exactly 1 even on stopword-heavy keys — never a
    * candidate blowup. The numerator is promoted to DECIMAL(38,0)
    * before the ×10⁶: at 100 TB a hot bigram count ~10¹⁴ would
    * overflow int64 under the multiply (the sample_mixture lesson).
    * V is the one scalar aggregate (the q20_subquery class,
    * allowlisted in the plan guard); docs with fewer than 2 words
    * have no bigrams and are out of scope on both engines.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreOn(Tables(spark, dir).documents)

  private[graft] def lmScoreOn(docs: DataFrame): DataFrame =
    trainAndScore(docs).orderBy(col("doc_id"))

  /** The one scoring path of [[lmScoreOn]] and [[ccnetBucketsOn]]:
    * train the bigram model on `docs` and score every doc — the
    * MATERIALIZED per-doc (doc_id, n_bigrams, lm_ppm) frame. The
    * bigram instances feed four consumers (c2, c1, V, the scoring
    * join), so they materialize once; the scores materialize too,
    * so the instances — corpus-sized, far larger than the scores —
    * are released before the caller's action, and the caller's plan
    * carries no scalar vocabulary aggregate.
    */
  private def trainAndScore(docs: DataFrame): DataFrame = {
    val bi = bigramInstances(docs).materialized
    val scored = lmPpm(bi).materialized
    // release NOW instead of at the async ContextCleaner's leisure —
    // measured at the R=20 scale point, leaving them to GC made
    // back-to-back trains degrade 11 → 26 s as dead blocks
    // accumulated faster than collection
    graft.Materialize.release(bi)
    scored
  }

  /** Bigram INSTANCES (not distinct — counts are the model); the
    * `when` guard keeps sequence(0, -1) from fabricating grams on
    * sub-2-word docs (the doc_chunk corner).
    */
  private[graft] def bigramInstances(docs: DataFrame): DataFrame =
    docs.withColumn("w", words(col("text")))
      .select(col("doc_id"),
        explode(when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))")))
          .as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))

  // Round-16 note (measured, left alone): deriving c1/vocab from the
  // pair-count table instead of the instances looks like two saved
  // passes, but each of the three agg branches already combines
  // map-side to a vocabulary-sized exchange and all three run as
  // PARALLEL subtrees of one job over the materialized blocks — the
  // derived form either duplicates c2's subtree (no ReuseExchange
  // across the branches in this plan shape, verified on the executed
  // plan) or serializes the job behind an eager c2 (measured 0.3-0.5 s
  // SLOWER at sf0.1). The gate trainer below is the different case:
  // its consumers are separate collect ACTIONS, so there the shared
  // materialized pair table genuinely removes full instance scans.
  /** Unordered per-doc (doc_id, n_bigrams, lm_ppm) over the bigram
    * instances — the scoring core of [[trainAndScore]]. Callers pass
    * a materialized `bi`: it has four consumers.
    */
  private[graft] def lmPpm(bi: DataFrame): DataFrame = {
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = bi.agg(countDistinct(col("w2")).as("vocab"))
    val model = c2.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        expr("CAST(CAST(c2 + 1 AS DECIMAL(38,0)) * 1000000 div (c1 + vocab) AS BIGINT)")
          .as("p_ppm"))
    bi.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("lm_ppm"))
  }

  /** Hard driver-side size cap on EACH of the gate model's two maps
    * ([[perplexityGateData]]) — 2²² ≈ 4.2M entries. Bigram TYPES grow
    * far faster than unigram vocabulary (they are NOT Heaps-bounded
    * the way the vocab is), so an uncapped collect of c2 is
    * corpus-sized in the limit and OOMs the driver on a 100 TB train
    * corpus. Real CCNet ships a PRUNED model file; this cap is that
    * pruning.
    */
  val GateModelCap: Int = 1 << 22

  /** Batch-trained CCNet admission artifacts for the STREAMING gate
    * ([[graft.streaming.CurationStream.curateGated]]): the raw bigram
    * model (c2, c1, V — what add-one smoothing needs to score unseen
    * bigrams, which the batch scorer never meets because it trains on
    * the corpus it scores) plus the per-language tail thresholds t2 —
    * calibrated on the SHIPPED (pruned) model's own scores so the
    * model file and its cutoffs are one consistent artifact.
    *
    * The model that reaches the driver is BOUNDED, never
    * corpus-sized: each count map is pruned distributedly to its
    * `modelCap` highest-count entries (count desc, then key — fully
    * deterministic) via orderBy+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition heaps, only the winners
    * cross the wire; the c1 side additionally retains the contexts of
    * every retained bigram (so c2 ≤ c1 holds for every SEEN scored
    * bigram — independent pruning could orphan a surviving hot bigram
    * from its context and emit an impossible > 1 probability). The
    * collect is ≤ 3·modelCap + |langs| rows at ANY corpus scale. A
    * pruned (rare) bigram scores as UNSEEN under the same add-one
    * formula (c2 = 0; a FULLY pruned context takes c1 = 0)
    * — the natural smoothing extension [[graft.functions.LmPpmKernel]]
    * already defines, so pruning degrades scores smoothly on exactly
    * the low-count tail where the probabilities were near the
    * smoothing floor anyway. This is CCNet's production shape: the LM
    * trains once in batch and a pruned model FILE ships to every
    * ingest node; these maps are that file. GateModelSpec pins both
    * laws: decisions are unchanged when the cap doesn't bind, and the
    * map sizes obey a binding cap.
    */
  private[graft] def perplexityGateData(docs: DataFrame,
      modelCap: Int = GateModelCap)
      : (Map[(String, String), Long], Map[String, Long], Long, Seq[(String, Long)]) = {
    // ONE pass over the corpus-sized instances (round 16, the
    // lmPpm play): the capped c2 collect, the c1 marginal and
    // the vocab scalar all derive from the pair-count table — the
    // instances release as soon as it materializes
    val bi = bigramInstances(docs).materialized
    val pc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .materialized
    graft.Materialize.release(bi)
    val c2m = pc
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(modelCap)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1agg = pc.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val c1top = c1agg.orderBy(col("c1").desc, col("w1")).limit(modelCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // CONSISTENCY law: every retained bigram's context must keep its
    // c1 — pruning the two maps independently can drop a surviving
    // bigram's context (c1 counts rank differently from c2 counts),
    // making the add-one score (c2+1)/(0+V), potentially > 1 — a
    // positive log-probability no distribution admits, inflating
    // admission scores for exactly the hottest bigrams. So the
    // retained c1 set = top-count entries ∪ contexts of retained
    // bigrams; the union only fires when the cap binds, adds ≤
    // modelCap rows (the collect stays ≤ 3·cap + |langs| total), and
    // the missing contexts travel as a broadcast-joined frame, never
    // an isin literal list.
    val missing = c2m.keysIterator.map(_._1).toSet -- c1top.keySet
    val c1m = if (missing.isEmpty) c1top else {
      val spark = docs.sparkSession
      import spark.implicits._
      val extra = c1agg
        .join(broadcast(missing.toSeq.toDF("w1")), Seq("w1"), "left_semi")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      c1top ++ extra
    }
    val vRow = pc.agg(countDistinct(col("w2"))).collect()
    val vocab = if (vRow.isEmpty || vRow(0).isNullAt(0)) 0L else vRow(0).getLong(0)
    graft.Materialize.release(pc) // all count consumers collected — release the blocks
    // tail thresholds calibrated on the SHIPPED model's own scores
    // (one map-side kernel pass — the exact expression the ingest
    // gate evaluates): model file and cutoffs are ONE artifact, so a
    // binding cap shifts scores and thresholds together and the
    // tertile admission split is preserved. Calibrating on full-model
    // scores instead would silently reject everything once pruning
    // lowers the whole distribution below full-trained cutoffs. When
    // the cap does not bind, kernel ≡ batch scorer bit-for-bit
    // (LangModelSpec), so thresholds equal the unpruned calibration.
    val scored = docs.select(col("doc_id"), col("lang"),
        graft.functions.LmPpmKernel.lmPpm(words(col("text")), c2m, c1m, vocab)
          .as("lm_ppm"))
      .filter(col("lm_ppm").isNotNull)
    val th = tertileThresholds(scored)
      .filter(col("lang").isNotNull && col("t2").isNotNull)
      .select(col("lang"), col("t2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    (c2m, c1m, vocab, th)
  }

  /** ccnet_buckets — per-language perplexity tertiles (the CCNet
    * head/middle/tail split, Wenzek et al. 2020): every document is
    * scored by the corpus bigram LM ([[lmScore]]'s lm_ppm — HIGH =
    * predictable), and within each language the corpus is cut into
    * three buckets at the exact tertile ORDER STATISTICS of the
    * score distribution — head = the most predictable third (the
    * slice CCNet keeps outright), tail = the least. Thresholds are
    * data values, never interpolated: t_k = the ⌈k·n/3⌉-th largest
    * lm_ppm per language, docs at the threshold bucket upward — so
    * the split is deterministic on the integer ppm lattice and
    * bit-exact in the oracle (no cross-engine float quantile drift).
    *
    * Scale shape: the tertiles come from a HISTOGRAM, not a per-doc
    * sort — scores aggregate to distinct (lang, lm_ppm) cells (≤ 10⁶
    * lattice values per language, constant metadata at any corpus
    * size), the cumulative window runs over those cells, and the
    * lang→(t1, t2) table (one row per language) broadcast-joins back
    * to the docs with fan-out 1. No per-language global sort, no
    * single-partition window over the corpus — the per-doc side is
    * two map-side-combinable aggregations and one broadcast join.
    * Sub-2-word docs have no bigrams and are out of scope on both
    * engines (the [[lmScore]] contract).
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsOn(Tables(spark, dir).documents)

  private[graft] def ccnetBucketsOn(docs: DataFrame): DataFrame = {
    val ppm = trainAndScore(docs)
    // three consumers (histogram, per-lang counts, the final bucket
    // join): eager localCheckpoint — reused blocks, no pin
    val scored = ppm
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("lm_ppm"))
      .materialized
    graft.Materialize.release(ppm)
    val th = tertileThresholds(scored)
    scored.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("lm_ppm"),
        when(col("lm_ppm") >= col("t1"), lit("head"))
          .when(col("lm_ppm") >= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Per-language tertile order statistics over a (lang, lm_ppm)
    * frame, from a lattice-bounded HISTOGRAM window — never a
    * per-doc sort. t_k = the largest lm_ppm whose cumulative
    * descending count reaches ⌈k·n/3⌉ (the rank-k order statistic);
    * docs at the threshold bucket upward.
    */
  private[graft] def tertileThresholds(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("lang"), col("lm_ppm"))
      .agg(count(lit(1)).as("c"))
    // distinct (lang, lm_ppm) cells: the window's per-lang row count
    // is lattice-bounded, so rowsBetween over it is safe at any SF
    val byPpmDesc = Window.partitionBy(col("lang"))
      .orderBy(col("lm_ppm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(byPpmDesc))
    val n = scored.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    cum.join(n, "lang")
      .groupBy(col("lang"))
      .agg(
        max(when(col("cum") >= expr("(n + 2) div 3"), col("lm_ppm"))).as("t1"),
        max(when(col("cum") >= expr("(2 * n + 2) div 3"), col("lm_ppm"))).as("t2"))
  }

  /** Hashed-feature space for [[dsirSelect]] — fixed bucket count, so
    * both distribution estimates are constant-size metadata tables at
    * any corpus scale (the broadcast-dimension class).
    */
  val DsirBuckets = 1024

  /** Per-language selection quota for [[dsirSelect]]. */
  val DsirQuota = 25

  /** dsir_select — hashed-n-gram importance weighting (the DSIR
    * data-selection shape): the TARGET distribution is estimated from
    * the corpus's own high-quality slice (score ≥ 0.6 under THE shared
    * quality score — the single definition quality_score /
    * corpus_stats / the streaming gate all use), the RAW distribution
    * from the whole corpus; every document is weighted by the mean
    * target/raw likelihood ratio of its hashed word-2-gram features
    * and the top [[DsirQuota]] per language are selected:
    *
    *   bucket(g)   = hash60(g) mod [[DsirBuckets]]
    *   r_ppm(b)    = (ct(b)+1)·10⁶ div (cr(b)+1)
    *   weight(doc) = Σ r_ppm over the doc's gram instances div n
    *
    * The paper's log-ratio sum becomes a ratio mean on the ppm
    * lattice — monotone per feature and bit-exact in the oracle.
    *
    * Scale shape: both count tables aggregate down to ≤
    * [[DsirBuckets]] rows (constant metadata); scoring is one
    * equi-join on the bucket id with fan-out 1; selection is the
    * [[graft.plans.TopK]] rank filter (map-side collapse
    * to ≤ [[DsirQuota]] rows per lang) + a doc_id membership join —
    * never a corpus-sized lang-partitioned window, lang cardinality
    * being semantic.
    * The ×10⁶ numerator is DECIMAL(38,0)-promoted like [[lmScore]].
    * Docs with fewer than 2 words have no features and are out of
    * scope on both engines.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOn(Tables(spark, dir).documents)

  private[graft] def dsirSelectOn(docs: DataFrame): DataFrame = {
    val grams = Text.withQualityScore(docs)
      .select(col("doc_id"), col("lang"), (col("score") >= 0.6).as("is_target"),
        explode(when(size(col("w")) >= 2,
          expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))")))
          .as("g"))
      .select(col("doc_id"), col("lang"), col("is_target"),
        (hash60(col("g")) % DsirBuckets).as("b"))
      // three consumers (raw counts, target counts, scoring):
      // eager localCheckpoint — reused blocks, no CacheManager pin
      .materialized
    val raw = grams.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = grams.filter(col("is_target"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val ratio = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        expr("CAST(CAST(coalesce(ct, 0) + 1 AS DECIMAL(38,0)) * 1000000 div (cr + 1) AS BIGINT)")
          .as("r_ppm"))
    val weighted = grams.join(ratio, "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r_ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("lang"), col("n_grams"),
        expr("sum_ppm div n_grams").as("dsir_ppm"))
    // selection flag via TopK.topKPerKey: lang cardinality is
    // semantic (a handful of languages), so a plain window would put
    // corpus/|langs| rows on single tasks — the shard_balance
    // bounded-key hazard. Its rank filter plans as WindowGroupLimit,
    // which collapses map-side to ≤ DsirQuota rows per lang before
    // the exchange; membership joins back on the unique doc_id.
    val top = graft.plans.TopK.topKPerKey(
        weighted.select(col("doc_id"), col("lang"), col("dsir_ppm")),
        keys = Seq(col("lang")),
        order = Seq(col("dsir_ppm").desc, col("doc_id").asc),
        k = DsirQuota)
      .select(col("doc_id"), lit(1L).as("sel"))
    weighted.join(top, Seq("doc_id"), "left")
      .withColumn("selected", coalesce(col("sel"), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_grams"),
        col("dsir_ppm"), col("selected"))
      .orderBy(col("doc_id"))
  }
}
