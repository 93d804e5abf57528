package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"            -> (Relational.q1 _),
    "q2_filter_project" -> (Relational.q2 _),
    "q3_join_agg"       -> (Relational.q3 _),
    "q4_topk"           -> (Relational.q4 _),
    "q5_star_join"      -> (Relational.q5 _),
    "q6_window_rank"    -> (Relational.q6 _),
    "q7_semi_anti"      -> (Relational.q7 _),
    "q8_rollup"         -> (Relational.q8 _),
    "q9_distinct"       -> (Relational.q9 _),
    "q10_cond_agg"      -> (Relational.q10 _),
    "q11_setops"        -> (Relational.q11 _),
    "q12_percentile"    -> (Relational.q12 _),
    "q13_sessionize"    -> (Relational.q13 _),
    "q14_scalar_funcs"  -> (Relational.q14 _),
    "q15_skew_salted"   -> (Relational.q15 _),
    "q16_sketch"        -> (Relational.q16 _),
    "q17_running"       -> (Relational.q17 _),
    "q18_topk_custom"   -> (Relational.q18 _),
    "q19_pivot"         -> (Relational.q19 _),
    "q20_subquery"      -> (Relational.q20 _),
    "q21_skew_join"     -> ((s, d) => Relational.q21(s, d)),
    "q22_asof"          -> (Temporal.q22 _),
    "q23_range_join"    -> ((s, d) => Temporal.q23(s, d)),
    "q24_funnel"        -> (Relational.q24 _),
    "q25_retention"     -> (Relational.q25 _),
    "hr_episodes"       -> (Health.hrEpisodes _),
    "hr_parse"           -> (Health.hrParse _),
    "hr_classify"        -> (Health.hrClassify _),
    "hr_window_tumbling" -> (Health.hrWindowTumbling _),
    "hr_window_sliding"  -> (Health.hrWindowSliding _),
    "hr_alert_stats"     -> (Health.hrAlertStats _),
    "dedup_exact"     -> (Text.dedupExact _),
    "ngram_jaccard"   -> ((s, d) => Text.ngramJaccard(s, d)),
    "lang_id"         -> (Text.langId _),
    "quality_score"   -> (Text.qualityScore _),
    "token_count"     -> (Text.tokenCount _),
    "fingerprint"     -> (Text.fingerprint _),
    "dedup_minhash"   -> (Dedup.minhash _),
    "dedup_clusters"  -> ((s, d) => Dedup.clusters(s, d)),
    "dedup_simhash"   -> (Dedup.simhash _),
    "dedup_embedding" -> ((s, d) => Dedup.embedding(s, d)),
    "ann_topk"        -> ((s, d) => SimilaritySearch.annTopK(s, d)),
    "ann_lsh"         -> ((s, d) => SimilaritySearch.annLsh(s, d)),
    "ann_ivf"         -> ((s, d) => SimilaritySearch.annIvf(s, d)),
    "ann_ivf_stride"  -> ((s, d) => SimilaritySearch.annIvf(s, d, trained = false)),
    "vec_quant"       -> (SimilaritySearch.vecQuant _),
    "mm_meta"         -> (graft.multimodal.Multimodal.mmMeta _),
    "mm_frames"       -> (graft.multimodal.Multimodal.mmFrames _),
    "mm_resize"       -> (graft.multimodal.Multimodal.mmResize _),
    "mm_phash"        -> (graft.multimodal.Multimodal.mmPhash _),
    "url_normalize"   -> (Text.urlNormalize _),
    "doc_chunk"         -> (Curation.docChunk _),
    "pii_scrub"         -> (Curation.piiScrub _),
    "tfidf"             -> ((s, d) => Curation.tfidf(s, d)),
    "sample_stratified" -> (Curation.sampleStratified _),
    "sample_quota"      -> ((s, d) => Curation.sampleQuota(s, d)),
    "sample_reservoir"  -> (Curation.sampleReservoir _),
    "doc_embed"         -> (Curation.docEmbed _),
    "seq_pack"          -> (Curation.seqPack _),
    "decontaminate"     -> (Text.decontaminate _),
    "ngram_coverage"    -> (Text.ngramCoverage _),
    "rep_stats"         -> (Text.repStats _),
    "rep_scrub"         -> (Text.repScrub _),
    "corpus_shuffle"    -> (Curation.corpusShuffle _),
    "dedup_lines"       -> (Text.dedupLines _),
    "dedup_incremental" -> (Text.dedupIncremental _),
    "dedup_fuzzy"       -> (Text.dedupFuzzy _),
    "dedup_fuzzy_text"  -> (Text.dedupFuzzyText _),
    "dedup_spans"       -> (Text.dedupSpans _),
    "span_scrub"        -> (Text.spanScrub _),
    "chunk_dedup"       -> (Text.chunkDedup _),
    "sample_mixture"    -> (Curation.sampleMixture _),
    "pq_codes"          -> (SimilaritySearch.pqCodes _),
    "ann_pq"            -> ((s, d) => SimilaritySearch.annPq(s, d)),
    "ann_ivf_pq"        -> ((s, d) => SimilaritySearch.annIvfPq(s, d)),
    "semdedup"          -> (Clustering.semdedup _),
    "pipeline_e2e"      -> (Pipeline.pipelineE2e _),
    "fingerprint_winnow" -> (Text.fingerprintWinnow _),
    "winnow_pairs"      -> (Text.winnowPairs _),
    "winnow_clusters"   -> (Text.winnowClusters _),
    "bpe_train"         -> (Tokenizer.bpeTrain _),
    "bpe_encode"        -> (Tokenizer.bpeEncode _),
    "corpus_stats"      -> (Curation.corpusStats _),
    "quantile_sketch"   -> (Curation.quantileCard _),
    "ts_resample"       -> (Temporal.tsResample _),
    "freq_words"        -> (Text.freqWords _),
    "lm_score"          -> (LangModel.lmScore _),
    "ccnet_buckets"     -> (LangModel.ccnetBuckets _),
    "dsir_select"       -> (LangModel.dsirSelect _),
    "q26_anomaly"       -> (Relational.q26 _),
    "q27_window_pack"   -> (Relational.q27 _),
    "q28_correlated"    -> (Relational.q28 _),
    "q30_ewma"          -> (Relational.q30 _),
    "q31_stats"         -> (Relational.q31 _),
    "q32_intervals"     -> (Relational.q32 _),
    "q33_json"          -> (Relational.q33 _),
    "q34_window_distinct" -> (Relational.q34 _),
    "q35_session_window"  -> (Relational.q35 _),
    "q36_nullsafe"      -> (Relational.q36 _),
    "q37_notin"         -> (Relational.q37 _),
    "q38_dates"         -> (Relational.q38 _),
    "sketch_cube"       -> (Curation.sketchCube _),
    "data_split"        -> (Curation.dataSplit _),
    "user_history"      -> (Curation.userHistory _),
    "knn_graph"         -> ((s, d) => SimilaritySearch.knnGraph(s, d)),
    "contrastive_pairs" -> (SimilaritySearch.contrastivePairs _),
    "scd2_merge"        -> (Warehouse.scd2Merge _),
    "cdc_apply"         -> (Warehouse.cdcApply _),
    "html_extract"      -> (Text.htmlExtract _),
    "k_anon"            -> (Curation.kAnon _),
    "pagerank"          -> (Graph.pagerank _),
    "triangle_count"    -> (Graph.triangleCount _),
    "q29_zorder"        -> (Layout.q29 _),
    "q39_cube"          -> (Relational.q39 _),
    "q40_lateral"       -> (Relational.q40 _),
    "inverted_index"    -> (Text.invertedIndex _),
    "gopher_quality"    -> (Text.gopherQuality _),
    "cms_words"         -> (Text.cmsWords _),
    "domain_stats"      -> (Text.domainStats _),
    "bloom_decontaminate" -> (Text.bloomDecontaminate _),
    "domain_topk"       -> (Text.domainTopk _),
    "sample_weighted"   -> (Curation.sampleWeighted _),
    "word_pmi"          -> (Text.wordPmi _),
    "source_overlap"    -> (Curation.sourceOverlap _),
    "mm_audio_fp"       -> (graft.multimodal.Multimodal.mmAudioFp _),
    "bm25_search"       -> (Retrieval.bm25Search _),
    "ann_maxsim"        -> (Retrieval.annMaxsim _),
    "hybrid_search"     -> (Retrieval.hybridSearch _),
    "unigram_train"     -> (Tokenizer.unigramTrain _),
    "unigram_encode"    -> (Tokenizer.unigramEncode _),
    "mix_budget"        -> (Curation.mixBudget _),
    "dedup_containment" -> (Text.dedupContainment _),
    "k_core"            -> (Graph.kCore _),
    "graph_communities" -> (Graph.graphCommunities _),
    "community_stats"   -> (Graph.communityStats _),
    "dq_check"          -> (Quality.dqCheck _),
    "drift_check"       -> (Quality.driftCheck _),
    "emb_pca"           -> (Clustering.embPca _),
    "emb_health"        -> (Clustering.embHealth _),
    "emb_drift"         -> (Clustering.embDrift _),
    "coreset_select"    -> (Clustering.coresetSelect _),
    "mm_scenes"         -> (graft.multimodal.Multimodal.mmScenes _),
    "ann_eval"          -> ((s, d) => SimilaritySearch.annEval(s, d)),
    "q41_rank_funcs"    -> (Relational.q41 _),
    "q42_range_frame"   -> (Relational.q42 _),
    "q43_hierarchy"     -> (Warehouse.q43Hierarchy _),
    "view_refresh"      -> (Warehouse.viewRefresh _),
    "view_retract"      -> (Warehouse.viewRetract _),
    "mix_temperature"   -> (Curation.mixTemperature _),
    "mm_audio_match"    -> (graft.multimodal.Multimodal.mmAudioMatch _),
    "mm_video_dedup"    -> (graft.multimodal.Multimodal.mmVideoDedup _),
    "mm_crossmodal"     -> ((s, d) => graft.multimodal.Multimodal.mmCrossmodal(s, d)),
    "ts_seasonal"       -> (Temporal.tsSeasonal _),
    "q44_dynamic_pivot" -> (Relational.q44 _),
    "exact_pctl"        -> (Relational.exactPctl _),
    "shard_balance"     -> (Curation.shardBalance _),
    "token_budget"      -> (Curation.tokenBudget _),
    "anneal_mix"        -> (Curation.annealMix _),
    "ann_radius"        -> (SimilaritySearch.annRadius _),
    "dedup_eval"        -> (Dedup.dedupEval _),
    "lsh_tune"          -> (Dedup.lshTune _),
    "bitext_mine"       -> ((s, d) => SimilaritySearch.bitextMine(s, d)),
    "split_leak"        -> (Curation.splitLeak _),
    "pack_eval"         -> (Curation.packEval _),
    "cluster_stats"     -> (Dedup.clusterStats _),
    "corpus_diff"       -> (Curation.corpusDiff _),
    "q45_gap_fill"      -> (Relational.q45 _),
    "proto_prune"       -> (Clustering.protoPrune _),
    "url_filter"        -> (Text.urlFilter _),
    "tok_fertility"     -> (Text.tokFertility _),
    "quality_calib"     -> (Text.qualityCalib _),
    "quality_ensemble"  -> (Quality.qualityEnsemble _),
    "dedup_keepbest"    -> (Quality.dedupKeepbest _),
    "ivf_tune"          -> ((s: org.apache.spark.sql.SparkSession, d: String) => SimilaritySearch.ivfTune(s, d)),
    "ts_forecast"       -> (Temporal.tsForecast _),
    "event_paths"       -> (Curation.eventPaths _),
    "ann_incremental"   -> ((s, d) => SimilaritySearch.annIncremental(s, d)),
    "ts_gaps"           -> (Temporal.tsGaps _),
    "comp_ratio"        -> (Text.compRatio _)
  )

  // Shared SQL fragments for the DuckDB oracle (exact-decimal money
  // arithmetic mirrored from graft.Exact).
  private val sumDisc =
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
  private def moneyAvgSql(c: String) =
    s"ROUND(CAST(CAST(SUM(CAST($c AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*), 4)"
  private val classifySql =
    "CASE WHEN avg_hr > 100.0 THEN 'tachycardia' WHEN avg_hr < 50.0 THEN 'bradycardia' ELSE 'normal' END"
  // normalized text + word list + portable 60-bit md5 hash (DuckDB forms)
  private val normSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
  private val wordsSql = s"string_split($normSql, ' ')"
  private def hash60Sql(c: String) = s"CAST('0x' || substr(md5($c), 1, 15) AS BIGINT)"

  /** DuckDB replica of the WinnowFingerprints expression — one
    * (doc_id, pos, fp) row per selected fingerprint, on the identical
    * mod-2³¹−1 polynomial lattice (power constants injected from the
    * same Scala source of truth). Shared by the fingerprint_winnow
    * and winnow_pairs oracles.
    */
  private lazy val winnowFpsSql: String = {
    val k = operators.Text.WinnowK
    val w = operators.Text.WinnowW
    val m = graft.functions.WinnowFingerprints.M
    val powList = graft.functions.WinnowFingerprints.powers(k).mkString("[", ", ", "]")
    s"""WITH d AS (
      |  SELECT doc_id, $normSql AS norm FROM documents
      |  WHERE length($normSql) >= ${k + w - 1}
      |), codes AS (
      |  SELECT doc_id,
      |    list_transform(range(1, length(norm) + 1),
      |      i -> CAST(unicode(substr(norm, CAST(i AS INT), 1)) AS BIGINT)) AS c
      |  FROM d
      |), hpos AS (
      |  SELECT doc_id, CAST(p AS BIGINT) AS pos,
      |    list_sum(list_transform(range(0, $k),
      |      j -> c[p + j] * ($powList)[j + 1])) % $m AS fp
      |  FROM codes, unnest(range(1, len(c) - $k + 2)) AS t(p)
      |), nq AS (SELECT doc_id, COUNT(*) AS nh FROM hpos GROUP BY 1),
      |wins0 AS (
      |  SELECT doc_id, pos AS q,
      |    MIN(fp) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin
      |  FROM hpos
      |), wins AS (
      |  SELECT w0.doc_id, w0.q, w0.wmin FROM wins0 w0 JOIN nq USING (doc_id)
      |  WHERE w0.q <= nq.nh - ${w - 1}
      |), sel AS (
      |  SELECT w.doc_id, MAX(h.pos) AS pos, w.wmin AS fp
      |  FROM wins w JOIN hpos h
      |    ON h.doc_id = w.doc_id AND h.pos BETWEEN w.q AND w.q + ${w - 1}
      |      AND h.fp = w.wmin
      |  GROUP BY w.doc_id, w.q, w.wmin
      |)
      |SELECT DISTINCT doc_id, pos, CAST(fp AS BIGINT) AS fp FROM sel""".stripMargin
  }

  /** The winnow_pairs CTE chain over a `wfp` fingerprint CTE: distinct
    * per-doc fp sets → set sizes → df-capped index → shared counts →
    * `wp`, the containment-filtered pair list. Shared by the
    * winnow_pairs and winnow_clusters oracles.
    */
  // round 6: the index runs over exact-text REPRESENTATIVES (df
  // counts distinct texts — m exact copies can neither blow up
  // candidates nor push their own fingerprints past the df-cap and
  // vanish), then verified rep pairs expand through membership with
  // the nf columns following their side; within-group pairs are full
  // containment (shared = nf1 = nf2) gated on the rep having ≥1 fp
  private lazy val winnowPairsCoreSql: String =
    s"""wreps AS (SELECT md5(text) AS tkey, MIN(doc_id) AS rep,
      |            CAST(COUNT(*) AS BIGINT) AS gsize
      |          FROM documents GROUP BY 1),
      |memb AS (SELECT d.doc_id, r.rep FROM documents d
      |         JOIN wreps r ON md5(d.text) = r.tkey),
      |s AS (SELECT DISTINCT w.doc_id, fp FROM wfp w
      |      JOIN wreps r ON w.doc_id = r.rep),
      |nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM s GROUP BY 1),
      |rare AS (SELECT fp FROM s GROUP BY fp
      |         HAVING COUNT(*) <= ${operators.Text.WinnowDfCap}),
      |p AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2,
      |    CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  JOIN rare r ON r.fp = a.fp
      |  GROUP BY 1, 2),
      |rp AS (
      |  SELECT id1, id2, shared, n1.nf AS nf1, n2.nf AS nf2
      |  FROM p
      |  JOIN nf n1 ON n1.doc_id = id1
      |  JOIN nf n2 ON n2.doc_id = id2
      |  WHERE shared * 100 >= ${operators.Text.WinnowMinContainPct} * least(n1.nf, n2.nf)),
      |wp AS (
      |  SELECT least(m1.doc_id, m2.doc_id) AS id1,
      |    greatest(m1.doc_id, m2.doc_id) AS id2, rp.shared,
      |    CASE WHEN m1.doc_id < m2.doc_id THEN rp.nf1 ELSE rp.nf2 END AS nf1,
      |    CASE WHEN m1.doc_id < m2.doc_id THEN rp.nf2 ELSE rp.nf1 END AS nf2
      |  FROM rp
      |  JOIN memb m1 ON rp.id1 = m1.rep
      |  JOIN memb m2 ON rp.id2 = m2.rep
      |  UNION ALL
      |  SELECT a.doc_id, b.doc_id, n.nf, n.nf, n.nf
      |  FROM memb a JOIN memb b ON a.rep = b.rep AND a.doc_id < b.doc_id
      |  JOIN nf n ON n.doc_id = a.rep)""".stripMargin
  private def hitsSql(vocab: Seq[String]) = {
    val arr = vocab.map(w => s"'$w'").mkString("[", ", ", "]")
    s"CAST(len(list_filter(w, x -> list_contains($arr, x))) AS BIGINT)"
  }
  private val profiles = graft.functions.TextFunctions.stopwordProfiles
  // shared by ngram_jaccard and dedup_clusters (which builds its
  // component graph from the same pair query)
  private val ngramCtes =
    s"""d AS (SELECT doc_id, $wordsSql AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM d WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT d1, d2,
      |    ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
      |  FROM pr JOIN sz s1 ON pr.d1 = s1.doc_id JOIN sz s2 ON pr.d2 = s2.doc_id)""".stripMargin

  /** The LSH signature relation rebuilt bit-for-bit in SQL (round-11
    * promotion of ann_lsh/knn_graph — the lsh_tune play for the
    * hyperplane family): plane coefficients re-derive from the same
    * hash60 formula (`hash60("hp:tag:t:j:d") mod 2001 − 1000`),
    * vectors quantize to the 10⁴ lattice, per-plane dots are integer
    * sums, bit j of table t is set iff the dot is strictly positive
    * — every step is exact integer arithmetic, so the bucket relation
    * cannot drift across engines. The signature width replays the
    * integer [[operators.SimilaritySearch.lshPlanesPerTable]] law
    * (smallest p with target·2^p ≥ n, floor 2, cap interpolated from
    * the same constants). Produces CTEs: e (non-null vectors), w
    * (the width), sg (vec_id, t, sig).
    */
  /** Unrolled budget for the LPA oracle chain: 16 half-rounds ≥ the
    * engine's observed convergence on every registered corpus (the
    * gates converge at 5-7; /tmp replica trade graphs in the same
    * band), and = the [[operators.Graph.lpaCapHalfRounds]] law's
    * FLOOR, so `LEAST(conv, cap)` below is exact whenever the chain
    * is long enough to find conv at all. A corpus converging past 16
    * hash-mismatches LOUDLY (the k_core 16-round convention) — the
    * chain can never silently agree with an unconverged engine,
    * because every chain round past the engine's fixpoint is an
    * identity and every round before it is a real update.
    */
  private val LpaOracleBudget = 16

  /** The semi-synchronous LPA chain rebuilt in SQL, shared by the
    * graph_communities and community_stats oracles: trade nodes +
    * mirrored edges, then [[LpaOracleBudget]] unrolled
    * alternating half-rounds (customers odd, suppliers even —
    * mirroring the engine's bipartite schedule), majority label with
    * ties to the SMALLEST via (count DESC, lbl) row_number, AS
    * MATERIALIZED per round (each references its predecessor twice).
    * Budget ≥ the engine's convergence round ⇒ l{B} IS the converged
    * labeling (every past-fixpoint half-round is an identity — the
    * k_core unrolled-oracle play, now applied to a fixpoint loop).
    * Produces CTEs: nodes, pairs, edges, l0..l{LpaOracleBudget}.
    */
  private def lpaCtes: String = {
    val LpaRounds = LpaOracleBudget
    val rounds = (1 to LpaRounds).map { i =>
      val side =
        if (i % 2 == 0) "e.dst % 2 = 1"
        else "e.dst % 2 = 0"
      s"""c$i AS (SELECT e.dst AS id, a.lbl, COUNT(*) AS c
        |  FROM edges e JOIN l${i - 1} a ON e.src = a.id
        |  WHERE $side GROUP BY 1, 2),
        |b$i AS (SELECT id, lbl FROM (
        |    SELECT id, lbl,
        |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rk
        |    FROM c$i) WHERE rk = 1),
        |l$i AS MATERIALIZED (SELECT l.id, COALESCE(b.lbl, l.lbl) AS lbl
        |  FROM l${i - 1} l LEFT JOIN b$i b ON b.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS (
      |  SELECT c_custkey * 2 AS id FROM customer
      |  UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier
      |), pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), edges AS MATERIALIZED (
      |  SELECT c AS src, s AS dst FROM pairs
      |  UNION ALL SELECT s AS src, c AS dst FROM pairs
      |),
      |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
      |$rounds""".stripMargin
  }

  /** The fixpoint loop's convergence META replayed in SQL (for the
    * community_stats card): per-round change counts over the
    * [[lpaCtes]] chain, conv = the first EVEN round closing a full
    * bipartite cycle in which neither half-round changed a label
    * (the engine's exact stopping rule — convergence is checked at
    * cycle boundaries, one action per cycle), cap = the
    * [[operators.Graph.lpaCapHalfRounds]] law replayed from COUNT(*)
    * via the exact integer bit-length (length(bin(n)) — no float
    * log; the law is even by construction, so cycle stepping lands
    * on it exactly), rounds_used = LEAST(conv, cap) with a
    * non-converging chain falling back to cap, converged as BIGINT
    * 0/1 (the scd2 is_current convention). Produces CTEs: ch, conv,
    * cap, meta(rounds_used, converged).
    */
  private def lpaMetaCtes: String = {
    val ch = (1 to LpaOracleBudget).map { i =>
      s"""SELECT $i AS r, (SELECT COUNT(*) FROM l$i a
        |    JOIN l${i - 1} b ON a.id = b.id WHERE a.lbl <> b.lbl) AS c""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""ch AS MATERIALIZED ($ch),
      |conv AS (SELECT MIN(a.r) AS v FROM ch a JOIN ch b ON b.r = a.r - 1
      |  WHERE a.c = 0 AND b.c = 0 AND a.r % 2 = 0),
      |cap AS (SELECT LEAST(96, GREATEST(16,
      |    4 * length(bin((SELECT COUNT(*) FROM nodes))) + 8)) AS v),
      |meta AS (SELECT
      |    CAST(LEAST(COALESCE(conv.v, cap.v), cap.v) AS BIGINT) AS rounds_used,
      |    CAST(CASE WHEN conv.v IS NOT NULL AND conv.v <= cap.v
      |      THEN 1 ELSE 0 END AS BIGINT) AS converged
      |  FROM conv CROSS JOIN cap)""".stripMargin
  }

  private def lshSigCtes(tag: String, tables: Int,
      eSql: String = """SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL""".stripMargin,
      preCtes: String = "", denseBumpOver: Long = 0L): String = {
    val ss = operators.SimilaritySearch
    val range = 2 * ss.LshCoefRange + 1
    // denseBumpOver > 0 replays knnPlanesPerTable's dense-regime
    // plane (+1 past the threshold, still capped) — the knn_graph
    // oracle passes KnnDenseN; query-side families keep the flat law
    val bumpSql =
      if (denseBumpOver > 0L)
        s" + (SELECT CASE WHEN n > $denseBumpOver THEN 1 ELSE 0 END FROM nn)"
      else ""
    s"""${preCtes}e AS ($eSql),
      |nn AS (SELECT COUNT(*) AS n FROM e),
      |w AS (SELECT LEAST(${ss.LshMaxPlanes}, GREATEST(2, (SELECT MIN(b)
      |    FROM range(0, ${ss.LshMaxPlanes + 1}) AS t(b), nn
      |    WHERE (CAST(${ss.KnnBucketTarget} AS BIGINT) << b) >= nn.n
      |      OR b = ${ss.LshMaxPlanes}))$bumpSql) AS p),
      |pl AS (SELECT t.t, j.j, d.d,
      |    ${hash60Sql(s"'hp:$tag:' || t.t || ':' || j.j || ':' || d.d")}
      |      % $range - ${ss.LshCoefRange} AS coef
      |  FROM range(0, $tables) t(t),
      |    range(0, ${ss.LshMaxPlanes}) j(j),
      |    range(0, ${ss.Dim}) d(d)
      |  WHERE j.j < (SELECT p FROM w)),
      |ql AS (SELECT vec_id, d.d,
      |    CAST(floor(v[d.d + 1] * ${ss.PQLattice} + 0.5) AS BIGINT) AS qd
      |  FROM e, range(0, ${ss.Dim}) d(d)),
      |dt AS (SELECT q.vec_id, p.t, p.j, SUM(q.qd * p.coef) AS dot
      |  FROM ql q JOIN pl p ON q.d = p.d GROUP BY 1, 2, 3),
      |sg AS (SELECT vec_id, t,
      |    SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
      |  FROM dt GROUP BY 1, 2)""".stripMargin
  }

  /** The engine's GATE-CONDITIONAL corpus→cell assignment
    * ([[operators.SimilaritySearch.ivfCellId]]) replayed in SQL —
    * flat argmax while the centroid count is ≤
    * [[operators.SimilaritySearch.IvfFlatAssignMaxCells]], the
    * two-level coarse/owners/probe-2/argmax routing above it (the
    * semdedup promotion's CTE pattern: coarse = every ⌈√K⌉-th
    * centroid by cid rank, owners = nearest coarse per centroid,
    * probe the 2 nearest coarse buckets, argmax over their members —
    * all cosine ranks via the proven fold, ties to the lower
    * cid/index, NaN-first under DESC). Because the SQL carries the
    * SAME `k ≤ gate` conditional the engine branches on, oracle
    * parity holds on BOTH sides of the gate instead of ending at it
    * (the r11 ADVICE finding; the r12 interim fix had raised the gate
    * to 1024 so every corpus assigned flat — parity at an O(n²/128)
    * price this replay removes). The inert branch's rank input is
    * gated EMPTY by the one-row k relation, so DuckDB never builds
    * the n×K cross product it isn't using. `{out}_fr` and `{out}`
    * are MATERIALIZED, and every branch reads `{out}_fr` rather than
    * `cent` directly, so `cent` (often the full unrolled Lloyd
    * chain) is referenced exactly ONCE — without this, DuckDB's
    * default CTE inlining re-evaluated the Lloyd chain per reference
    * (measured: the ann_ivf oracle alone burned 200+ CPU-minutes at
    * the 40k replica; the k_core AS MATERIALIZED lesson).
    *
    * `src` must expose (vec_id, v), `cent` (cid, cv); emits helper
    * CTEs prefixed `{out}_` plus the final `{out}` (vec_id, cid).
    */
  private def ivfAssignCtes(src: String, cent: String,
      out: String): String = {
    val gate = operators.SimilaritySearch.IvfFlatAssignMaxCells
    s"""${out}_fr AS MATERIALIZED (SELECT cid, cv,
      |    ROW_NUMBER() OVER (ORDER BY cid) - 1 AS fi FROM $cent),
      |${out}_kc AS (SELECT COUNT(*) AS k FROM ${out}_fr),
      |${out}_st AS (SELECT GREATEST(1,
      |    CAST(CEIL(SQRT(CAST(k AS DOUBLE))) AS BIGINT)) AS step
      |  FROM ${out}_kc),
      |${out}_co AS (SELECT fi AS ci, cv FROM ${out}_fr, ${out}_st
      |  WHERE fi % step = 0),
      |${out}_ow AS (SELECT fi, ci FROM (
      |    SELECT f.fi, c.ci, ROW_NUMBER() OVER (PARTITION BY f.fi
      |      ORDER BY list_cosine_similarity(f.cv, c.cv) DESC, c.ci) AS rk
      |    FROM ${out}_fr f, ${out}_co c, ${out}_kc WHERE k > $gate)
      |  WHERE rk = 1),
      |${out}_p2 AS (SELECT vec_id, ci FROM (
      |    SELECT s.vec_id, c.ci, ROW_NUMBER() OVER (PARTITION BY s.vec_id
      |      ORDER BY list_cosine_similarity(s.v, c.cv) DESC, c.ci) AS rk
      |    FROM $src s, ${out}_co c, ${out}_kc WHERE k > $gate)
      |  WHERE rk <= 2),
      |$out AS MATERIALIZED (
      |  SELECT vec_id, cid FROM (
      |    SELECT s.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY s.vec_id
      |      ORDER BY list_cosine_similarity(s.v, c.cv) DESC, c.cid) AS rk
      |    FROM $src s, ${out}_fr c, ${out}_kc WHERE k <= $gate)
      |  WHERE rk = 1
      |  UNION ALL
      |  SELECT vec_id, cid FROM (
      |    SELECT p.vec_id, f.cid, ROW_NUMBER() OVER (PARTITION BY p.vec_id
      |      ORDER BY list_cosine_similarity(ev.v, f.cv) DESC, f.cid) AS rk
      |    FROM ${out}_p2 p JOIN ${out}_ow o ON o.ci = p.ci
      |      JOIN ${out}_fr f ON f.fi = o.fi
      |      JOIN $src ev ON ev.vec_id = p.vec_id)
      |  WHERE rk = 1)""".stripMargin
  }

  /** The BPE trainer's full merge-round chain rebuilt in SQL
    * (round-12 promotion of bpe_train / bpe_encode — the "30 rounds
    * of argmax are not oracle SQL" claim was wrong the same way
    * emb_pca's was): the word-frequency vocabulary (the
    * corpus-independent Heaps-law table both engines train on), then
    * `rounds` unrolled rounds of pair-count → gated argmax
    * (cnt ≥ 2 = the engine's min-frequency stop; cnt DESC, then
    * lexicographic pair — binary collation in BOTH engines) →
    * vocabulary rewrite. The rewrite replays
    * [[graft.functions.BpeFunctions.mergeOnce]]'s greedy
    * left-to-right overlap rule exactly via gaps-and-islands parity:
    * match positions chain into runs (`p − ROW_NUMBER()` groups),
    * and greedy keeps the ODD-rank members of each run (a kept merge
    * consumes its right neighbor, so the next possible keep is two
    * positions on). Early-stop replays as the same one-row gate
    * ivfAssignCtes uses: an empty winner passes the vocabulary
    * through unchanged, which keeps every later round's winner empty
    * too. `rewriteLast` = encode wants the post-round-`rounds`
    * vocabulary state (the engine's encoder applies ALL merges in
    * rank order — identical to the training rewrite sequence on
    * corpus words); train skips the dead final rewrite exactly like
    * the engine. Emits v0..v`rounds` and w1..w`rounds`.
    */
  private def bpeCtes(rounds: Int, rewriteLast: Boolean): String = {
    def rnd(r: Int, rewrite: Boolean): String = {
      val head = s"""ex$r AS MATERIALIZED (SELECT word, freq, syms,
        |    unnest(range(1, len(syms) + 1)) AS p FROM v${r - 1}),
        |pc$r AS (SELECT syms[p] AS l, syms[p + 1] AS r2, SUM(freq) AS cnt
        |  FROM ex$r WHERE syms[p + 1] IS NOT NULL GROUP BY 1, 2),
        |w$r AS MATERIALIZED (SELECT l, r2, cnt FROM pc$r WHERE cnt >= 2
        |  ORDER BY cnt DESC, l, r2 LIMIT 1)""".stripMargin
      if (!rewrite) head
      else head + s""",
        |mk$r AS (SELECT e.word, e.p,
        |    e.p - ROW_NUMBER() OVER (PARTITION BY e.word ORDER BY e.p) AS grp
        |  FROM ex$r e, w$r w
        |  WHERE e.syms[e.p] = w.l AND e.syms[e.p + 1] = w.r2),
        |kp$r AS MATERIALIZED (SELECT word, p FROM (
        |    SELECT word, p,
        |      ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY p) AS rn
        |    FROM mk$r) WHERE rn % 2 = 1),
        |v$r AS MATERIALIZED (
        |  SELECT e.word AS word, any_value(e.freq) AS freq,
        |    list(CASE WHEN k.p IS NOT NULL THEN e.syms[e.p] || e.syms[e.p + 1]
        |      ELSE e.syms[e.p] END ORDER BY e.p) AS syms
        |  FROM ex$r e
        |  LEFT JOIN kp$r k ON k.word = e.word AND k.p = e.p
        |  LEFT JOIN kp$r k2 ON k2.word = e.word AND k2.p = e.p - 1
        |  WHERE k2.p IS NULL AND EXISTS (SELECT 1 FROM w$r)
        |  GROUP BY e.word
        |  UNION ALL
        |  SELECT word, freq, syms FROM v${r - 1}
        |  WHERE NOT EXISTS (SELECT 1 FROM w$r))""".stripMargin
    }
    val chain = (1 to rounds)
      .map(r => rnd(r, rewrite = r < rounds || rewriteLast)).mkString(",\n")
    s"""vb AS MATERIALIZED (
      |  SELECT word, COUNT(*) AS freq FROM (
      |    SELECT unnest($wordsSql) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |v0 AS MATERIALIZED (
      |  SELECT word, freq,
      |    list_append(string_split(word, ''), '</w>') AS syms FROM vb),
      |$chain""".stripMargin
  }

  /** The UNTRAINED IVF index rebuilt in SQL (round-11 promotion of
    * ann_ivf_stride / ann_ivf_pq): seeds = the first K stride-50
    * vectors by id under the [[operators.SimilaritySearch.ivfCells]]
    * law replayed from COUNT(*); cell assignment is the
    * gate-conditional [[ivfAssignCtes]] replay (flat below
    * [[operators.SimilaritySearch.IvfFlatAssignMaxCells]] cells,
    * two-level routing above — parity on both sides of the gate);
    * query probing is flat cosine ranks over (query, seed) pairs —
    * `list_cosine_similarity` is the same sequential fold the
    * engine's NearestCentroids runs (the ann_topk/ann_radius
    * equivalence proof), ties to the lower seed id, NaN-first under
    * DESC on both engines. Produces CTEs: e (vec_id, v DOUBLE[],
    * lv 10⁴-lattice BIGINT[]), nn, w (the cell law), seeds (cid,
    * cv), cells (vec_id, cid), q (qid), qp (qid, cid — the nprobe
    * probes).
    */
  private def ivfStrideCtes(nprobe: Int): String = {
    val ss = operators.SimilaritySearch
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x * ${ss.PQLattice.toLong} + 0.5) AS BIGINT)) AS lv
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |nn AS (SELECT COUNT(*) AS n FROM e),
      |w AS (SELECT LEAST(${ss.IvfMaxCells}, GREATEST(${ss.IvfMinCells},
      |    n // ${ss.IvfCellTarget})) AS k FROM nn),
      |seeds AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM (
      |    SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
      |    FROM e WHERE vec_id % 50 = 7)
      |  WHERE rn <= (SELECT k FROM w)),
      |${ivfAssignCtes("e", "seeds", "cells")},
      |q AS (SELECT vec_id AS qid FROM e
      |  WHERE vec_id % 50 = 0 AND vec_id < ${50L * ss.MaxQueries}),
      |qp AS (SELECT qid, cid FROM (
      |    SELECT q.qid, seeds.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid
      |        ORDER BY list_cosine_similarity(eq.v, seeds.cv) DESC, seeds.cid) AS rk
      |    FROM q JOIN e eq ON eq.vec_id = q.qid, seeds)
      |  WHERE rk <= $nprobe)""".stripMargin
  }

  /** The TRAINED IVF quantizer rebuilt in SQL (round-11 promotion of
    * ann_ivf / ivf_tune / ann_incremental — possible because the
    * Lloyd means went INTEGER-lattice, see
    * [[operators.Clustering.KmLatScale]]): stride seeds under the
    * cell law, then [[operators.Clustering.KmeansIters]] unrolled
    * Lloyd rounds over the ceiling-stride train sample — assignment
    * = cosine rank (the proven fold), means = lattice-integer sums,
    * truncating division, one double division by the scale; empty
    * cells keep their previous centroid via COALESCE. `src` lets
    * ann_incremental train on a snapshot predicate. Produces CTEs:
    * e/nn/w/seeds as [[ivfStrideCtes]], ts (train sample), cN (the
    * trained (cid, cv) centroids, N = KmeansIters).
    */
  private def ivfTrainedCtes(src: String = "e",
      extraAfterE: String = ""): String = {
    val ss = operators.SimilaritySearch
    val lat = operators.Clustering.KmLatScale
    val per = ss.IvfTrainPerCell
    val dim = ss.Dim
    val round = (r: Int) =>
      s"""a$r AS (SELECT vec_id, cid FROM (
        |    SELECT ts.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY ts.vec_id
        |        ORDER BY list_cosine_similarity(ts.v, c.cv) DESC, c.cid) AS rk
        |    FROM ts, c${r - 1} c)
        |  WHERE rk = 1),
        |s$r AS (SELECT a$r.cid, dd.d AS pos,
        |    SUM(CAST(floor(ts.v[dd.d + 1] * $lat + 0.5) AS BIGINT)) AS s,
        |    COUNT(*) AS n
        |  FROM a$r JOIN ts ON ts.vec_id = a$r.vec_id, range(0, $dim) dd(d)
        |  GROUP BY 1, 2),
        |m$r AS (SELECT cid,
        |    list(CAST(s // n AS DOUBLE) / $lat ORDER BY pos) AS mv
        |  FROM s$r GROUP BY cid),
        |c$r AS MATERIALIZED (SELECT c.cid, COALESCE(m$r.mv, c.cv) AS cv
        |  FROM c${r - 1} c LEFT JOIN m$r USING (cid))""".stripMargin
    val rounds = (1 to operators.Clustering.KmeansIters).map(round)
      .mkString(",\n")
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor(x * ${ss.PQLattice.toLong} + 0.5) AS BIGINT)) AS lv
      |  FROM embeddings WHERE embedding IS NOT NULL),$extraAfterE
      |nn AS (SELECT COUNT(*) AS n FROM $src),
      |w AS (SELECT LEAST(${ss.IvfMaxCells}, GREATEST(${ss.IvfMinCells},
      |    n // ${ss.IvfCellTarget})) AS k FROM nn),
      |seeds AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM (
      |    SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
      |    FROM $src WHERE vec_id % 50 = 7)
      |  WHERE rn <= (SELECT k FROM w)),
      |sc AS (SELECT COUNT(*) AS c FROM seeds),
      |mm AS (SELECT GREATEST(1, (nn.n + GREATEST(1, $per * sc.c) - 1)
      |    // GREATEST(1, $per * sc.c)) AS m
      |  FROM nn, sc),
      |ts AS MATERIALIZED (SELECT vec_id, v FROM $src, mm WHERE vec_id % mm.m = 0),
      |c0 AS (SELECT cid, cv FROM seeds),
      |$rounds""".stripMargin
  }

  /** The PQ code/distance relations rebuilt in SQL (the pq_codes
    * oracle's fragments, shared by ann_pq / ann_ivf_pq): codebook =
    * first [[operators.SimilaritySearch.PQCentroids]] lattice vectors
    * by id; `d` holds the EXACT integer subspace distance of every
    * vector to every centroid — the same relation is the per-vector
    * code argmin AND the per-query ADC distance table (PQDistTable
    * computes exactly these rows for the query vector). Requires the
    * `e` CTE from [[ivfStrideCtes]] (or an identical one) in scope.
    */
  private def pqCtes: String = {
    val ss = operators.SimilaritySearch
    val sub = ss.Dim / ss.PQSubspaces
    s"""cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, lv AS cv
      |  FROM (SELECT vec_id, lv FROM e ORDER BY vec_id LIMIT ${ss.PQCentroids})),
      |ms AS (SELECT unnest(range(0, ${ss.PQSubspaces})) AS m),
      |d AS MATERIALIZED (SELECT e.vec_id, ms.m, cb.j,
      |    list_sum(list_transform(range(1, ${sub + 1}),
      |      i -> (e.lv[ms.m*$sub+i] - cb.cv[ms.m*$sub+i])
      |         * (e.lv[ms.m*$sub+i] - cb.cv[ms.m*$sub+i]))) AS dist
      |  FROM e CROSS JOIN ms CROSS JOIN cb),
      |codes AS (SELECT vec_id, m, j AS code FROM (
      |    SELECT vec_id, m, j,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rk
      |    FROM d)
      |  WHERE rk = 1)""".stripMargin
  }

  /** The ADC + exact-refine tail shared by the ann_pq / ann_ivf_pq
    * oracles (mirrors SimilaritySearch.refineAndRank): `adc` must
    * provide (qid, vec_id, adist); keeps the refine·k best per query
    * (adist asc, vec_id), re-ranks them by exact integer lattice L2
    * over the full vectors, emits (qid, nid, rank, dist).
    */
  private def pqRefineTail(k: Int, refine: Int): String = {
    val ss = operators.SimilaritySearch
    s"""cand AS (SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
      |    FROM adc)
      |  WHERE rk <= ${refine * k}),
      |ex AS (SELECT cand.qid, cand.vec_id,
      |    list_sum(list_transform(range(1, ${ss.Dim + 1}),
      |      i -> (eq.lv[i] - ec.lv[i]) * (eq.lv[i] - ec.lv[i]))) AS dist
      |  FROM cand JOIN e eq ON eq.vec_id = cand.qid
      |    JOIN e ec ON ec.vec_id = cand.vec_id),
      |r AS (SELECT qid, vec_id, dist,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rk
      |  FROM ex)
      |SELECT qid, vec_id AS nid, CAST(rk AS BIGINT) AS rank,
      |  CAST(dist AS BIGINT) AS dist
      |FROM r WHERE rk <= $k
      |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB-runnable oracle SQL per query (same table names, same
    * output column names — the driver hash-compares values with
    * columns sorted by name).
    */
  def oracleSql: Map[String, String] = baseOracleSql ++ derivedOracleSql

  /** Oracles defined by COMPOSING base entries (CTE-wrapping the full
    * SELECTs, ORDER BY and all — legal as DuckDB subqueries), so a
    * composed card can never drift from the operators it grades.
    */
  private lazy val derivedOracleSql: Map[String, String] = Map(
    // the contrastive training-pair card composed over the registered
    // knn_graph oracle (round 12): band the graph edges at the
    // SemThreshold duplicate boundary, rank within (anchor, band),
    // keep rank-1 pos + top-J negs for anchors that HAVE a positive —
    // thresholds compare on the graph's round(·,6) sims, identical
    // doubles in both engines
    "contrastive_pairs" -> {
      val thr = operators.Clustering.SemThreshold
      val j = operators.SimilaritySearch.ContrastiveNegatives
      "WITH g AS MATERIALIZED (\n" + baseOracleSql("knn_graph") + "\n),\n" +
        s"""r AS (SELECT src, dst, sim, role,
          |    ROW_NUMBER() OVER (PARTITION BY src, role
          |      ORDER BY sim DESC, dst) AS rk,
          |    MAX(CASE WHEN role = 'pos' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY src) AS has_pos
          |  FROM (SELECT src, dst, sim,
          |      CASE WHEN sim >= $thr THEN 'pos' ELSE 'neg' END AS role
          |    FROM g WHERE NOT isnan(sim)))
          |SELECT src AS anchor, role, CAST(rk AS BIGINT) AS rank,
          |  dst AS partner, sim
          |FROM r
          |WHERE has_pos = 1 AND ((role = 'pos' AND rk = 1)
          |  OR (role = 'neg' AND rk <= $j))
          |ORDER BY anchor, role DESC, rank""".stripMargin
    },

    // five admission gates from the REGISTERED oracles, melted,
    // pair-joined on doc_id, with exact-integer agreement and Cohen's
    // kappa on HUGEINT (the cross-terms overflow int64 at scale);
    // // and div both truncate toward zero (kappa can be negative)
    "quality_ensemble" -> {
      val peN = "(CAST(ka AS HUGEINT) * kb + CAST(n - ka AS HUGEINT) * (n - kb))"
      // the base SQL interpolates AFTER stripMargin (its own lines
      // may legitimately start with `|` — a concat operator split
      // across lines — which a second stripMargin would eat)
      val card = s"""g0 AS (
        |  SELECT doc_id, 'gopher' AS gate, CAST(keep AS BIGINT) AS v FROM gq
        |  UNION ALL SELECT doc_id, 'score', CAST(score >= ${operators.Quality.EnsembleScoreFloor} AS BIGINT) FROM qs
        |  UNION ALL SELECT doc_id, 'url', CAST(verdict = 'pass' AS BIGINT) FROM uf
        |  UNION ALL SELECT doc_id, 'lang', CAST(pred_lang = labeled_lang AS BIGINT) FROM li
        |  UNION ALL SELECT doc_id, 'ccnet', CAST(bucket = 'head' AS BIGINT) FROM cb),
        |p AS (SELECT a.gate AS gate_a, b.gate AS gate_b, a.v AS va, b.v AS vb
        |  FROM g0 a JOIN g0 b ON a.doc_id = b.doc_id AND a.gate < b.gate),
        |c AS (SELECT gate_a, gate_b, COUNT(*) AS n,
        |    SUM(va * vb) AS bk, SUM((1 - va) * (1 - vb)) AS bd,
        |    SUM(va) AS ka, SUM(vb) AS kb
        |  FROM p GROUP BY 1, 2)
        |SELECT gate_a, gate_b, CAST(n AS BIGINT) AS n_docs,
        |  CAST(bk AS BIGINT) AS n_both_keep, CAST(bd AS BIGINT) AS n_both_drop,
        |  CAST(n - bk - bd AS BIGINT) AS n_disagree,
        |  CAST(CAST(bk + bd AS HUGEINT) * 1000000 // n AS BIGINT) AS agree_ppm,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * n - $peN = 0 THEN 0
        |    ELSE (CAST(bk + bd AS HUGEINT) * n - $peN) * 1000000
        |      // (CAST(n AS HUGEINT) * n - $peN) END AS BIGINT) AS kappa_ppm
        |FROM c ORDER BY gate_a, gate_b""".stripMargin
      "WITH gq AS (\n" + baseOracleSql("gopher_quality") + "\n),\n" +
        "qs AS (\n" + baseOracleSql("quality_score") + "\n),\n" +
        "uf AS (\n" + baseOracleSql("url_filter") + "\n),\n" +
        "li AS (\n" + baseOracleSql("lang_id") + "\n),\n" +
        "cb AS (\n" + baseOracleSql("ccnet_buckets") + "\n),\n" + card
    },

    // the IVF nprobe parameter card (round-11 promotion): trained
    // centroids, probe RANKS ride the assignment (probe sets nest),
    // two rank-keyed histograms, the brute-force truth composed from
    // the ann_topk oracle, integer cumulation per probe budget
    "ivf_tune" -> {
      val ss = operators.SimilaritySearch
      val cN = s"c${operators.Clustering.KmeansIters}"
      val probesList = ss.IvfTuneProbes.mkString("[", ", ", "]")
      s"""WITH ${ivfTrainedCtes()},
        |${ivfAssignCtes("e", cN, "cells")},
        |qq AS (SELECT vec_id AS qid FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < ${50L * ss.MaxQueries}),
        |mp AS (SELECT LEAST(${ss.IvfTuneProbes.max}, c) AS mx FROM sc),
        |probes AS (SELECT qid, cid, rk - 1 AS pr FROM (
        |    SELECT q.qid, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(eq.v, c.cv) DESC, c.cid) AS rk
        |    FROM qq q JOIN e eq ON eq.vec_id = q.qid, $cN c)
        |  WHERE rk <= (SELECT mx FROM mp)),
        |cand AS MATERIALIZED (SELECT p.qid, cells.vec_id, p.pr
        |  FROM cells JOIN probes p ON cells.cid = p.cid
        |  WHERE cells.vec_id <> p.qid),
        |tk AS MATERIALIZED (
        |${baseOracleSql("ann_topk")}
        |),
        |cb AS (SELECT pr, COUNT(*) AS c FROM cand GROUP BY 1),
        |hb AS (SELECT pr, COUNT(*) AS c FROM cand
        |  JOIN tk ON cand.qid = tk.qid AND cand.vec_id = tk.nid GROUP BY 1),
        |nq AS (SELECT COUNT(*) AS v FROM qq),
        |nt AS (SELECT COUNT(*) AS v FROM tk),
        |cfg AS (SELECT unnest($probesList) AS np),
        |agg AS (SELECT cfg.np,
        |    (SELECT COALESCE(SUM(c), 0) FROM cb WHERE pr < cfg.np) AS nc,
        |    (SELECT COALESCE(SUM(c), 0) FROM hb WHERE pr < cfg.np) AS nh
        |  FROM cfg WHERE cfg.np <= (SELECT mx FROM mp))
        |SELECT CAST(np AS BIGINT) AS nprobe,
        |  CAST((SELECT v FROM nq) AS BIGINT) AS n_queries,
        |  CAST(nc AS BIGINT) AS n_candidates,
        |  CAST(CASE WHEN (SELECT v FROM nq) > 0
        |    THEN nc // (SELECT v FROM nq) ELSE 0 END AS BIGINT) AS cand_per_query,
        |  CAST(nh AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN (SELECT v FROM nt) > 0
        |    THEN nh * 1000000 // (SELECT v FROM nt) ELSE 0 END AS BIGINT) AS recall_ppm
        |FROM agg ORDER BY nprobe""".stripMargin
    },

    // the ANN recall card composed from the five registered method
    // oracles (round-11 promotion — the last composition unlocked by
    // the ann_ivf / ann_pq / ann_ivf_pq promotions): truth =
    // ann_topk (MATERIALIZED: read as a method, as the qid universe
    // and as the grading target), per-(method, qid) hit counts, a
    // query the method found nothing for still counts via the
    // (method × qids) left join, integer ppm
    "ann_eval" -> {
      val methods = Seq("ann_topk", "ann_lsh", "ann_ivf", "ann_pq", "ann_ivf_pq")
      val k = 10
      val card = s"""qids AS (SELECT DISTINCT qid FROM tk),
        |tagged AS (
        |  SELECT 'ann_topk' AS method, qid, nid FROM tk
        |  UNION ALL SELECT 'ann_lsh', qid, nid FROM lshm
        |  UNION ALL SELECT 'ann_ivf', qid, nid FROM ivfm
        |  UNION ALL SELECT 'ann_pq', qid, nid FROM pqm
        |  UNION ALL SELECT 'ann_ivf_pq', qid, nid FROM ipqm),
        |hits AS (SELECT method, a.qid, COUNT(*) AS h
        |  FROM tagged a JOIN tk t ON a.qid = t.qid AND a.nid = t.nid
        |  GROUP BY 1, 2),
        |ml AS (SELECT unnest(['ann_topk', 'ann_lsh', 'ann_ivf',
        |    'ann_pq', 'ann_ivf_pq']) AS method),
        |mq AS (SELECT ml.method, q.qid FROM ml, qids q),
        |perq AS (SELECT mq.method, mq.qid, COALESCE(h.h, 0) AS h
        |  FROM mq LEFT JOIN hits h ON h.method = mq.method AND h.qid = mq.qid),
        |card AS (SELECT method, COUNT(*) AS nq, SUM(h) AS nh, MIN(h) AS wh
        |  FROM perq GROUP BY 1)
        |SELECT ml.method,
        |  CAST(COALESCE(nq, 0) AS BIGINT) AS n_queries,
        |  CAST(COALESCE(nh, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN COALESCE(nq, 0) = 0 THEN 0
        |    ELSE COALESCE(nh, 0) * 1000000 // (nq * $k) END AS BIGINT)
        |    AS mean_recall_ppm,
        |  CAST(COALESCE(wh, 0) * 1000000 // $k AS BIGINT) AS worst_recall_ppm
        |FROM ml LEFT JOIN card USING (method)
        |ORDER BY ml.method""".stripMargin
      "WITH tk AS MATERIALIZED (\n" + baseOracleSql("ann_topk") + "\n),\n" +
        "lshm AS MATERIALIZED (\n" + baseOracleSql("ann_lsh") + "\n),\n" +
        "ivfm AS MATERIALIZED (\n" + baseOracleSql("ann_ivf") + "\n),\n" +
        "pqm AS MATERIALIZED (\n" + baseOracleSql("ann_pq") + "\n),\n" +
        "ipqm AS MATERIALIZED (\n" + baseOracleSql("ann_ivf_pq") + "\n),\n" + card
    },

    // the near-dup METHOD EVALUATION card composed from the four
    // registered pair oracles (round-11 promotion — the card that
    // grades methods is itself graded): tagged union, truth left
    // join, per-method counts, integer ppm. nj is MATERIALIZED (read
    // twice: as a method and as the truth — default inlining would
    // run the heaviest base twice)
    "dedup_eval" -> {
      val card = """tagged AS (
        |  SELECT 'ngram_jaccard' AS method, d1, d2 FROM nj
        |  UNION ALL SELECT 'dedup_minhash', d1, d2 FROM mh
        |  UNION ALL SELECT 'winnow_pairs', id1, id2 FROM wp
        |  UNION ALL SELECT 'dedup_fuzzy_text', id1, id2 FROM ft),
        |g AS (SELECT method, COUNT(*) AS np,
        |    SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS nh
        |  FROM tagged a LEFT JOIN nj t ON a.d1 = t.d1 AND a.d2 = t.d2
        |  GROUP BY 1),
        |m AS (SELECT unnest(['dedup_fuzzy_text', 'dedup_minhash',
        |    'ngram_jaccard', 'winnow_pairs']) AS method),
        |nt AS (SELECT COUNT(*) AS ntr FROM nj)
        |SELECT m.method,
        |  CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
        |  CAST(ntr AS BIGINT) AS n_truth,
        |  CAST(COALESCE(nh, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN ntr = 0 THEN 0
        |    ELSE COALESCE(nh, 0) * 1000000 // ntr END AS BIGINT) AS recall_ppm,
        |  CAST(CASE WHEN COALESCE(np, 0) = 0 THEN 0
        |    ELSE COALESCE(nh, 0) * 1000000 // np END AS BIGINT) AS precision_ppm
        |FROM m LEFT JOIN g USING (method), nt
        |ORDER BY m.method""".stripMargin
      "WITH nj AS MATERIALIZED (\n" + baseOracleSql("ngram_jaccard") + "\n),\n" +
        "mh AS (\n" + baseOracleSql("dedup_minhash") + "\n),\n" +
        "wp AS (\n" + baseOracleSql("winnow_pairs") + "\n),\n" +
        "ft AS (\n" + baseOracleSql("dedup_fuzzy_text") + "\n),\n" + card
    },

    // quality-aware survivorship: the dedup_clusters transitive
    // closure + the two quality oracles, keeper = per-cluster argmax
    // (rule gate DESC, score DESC, doc_id) — the oracle may use the
    // native window, as the engine does through TopK.topKPerKey
    "dedup_keepbest" -> {
      val card = """b AS (
        |  SELECT dc.doc_id, dc.cluster_id, CAST(gq.keep AS BIGINT) AS gq, qs.score
        |  FROM dc JOIN gq ON dc.doc_id = gq.doc_id
        |  JOIN qs ON dc.doc_id = qs.doc_id),
        |m AS (SELECT cluster_id, doc_id AS best_id FROM (
        |    SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY cluster_id
        |      ORDER BY gq DESC, score DESC, doc_id) AS rn FROM b)
        |  WHERE rn = 1)
        |SELECT b.doc_id, b.cluster_id, b.gq, CAST(b.score AS DOUBLE) AS score,
        |  CAST(b.doc_id = m.best_id AS BIGINT) AS best
        |FROM b JOIN m ON b.cluster_id = m.cluster_id
        |ORDER BY b.doc_id""".stripMargin
      "WITH dc AS (\n" + baseOracleSql("dedup_clusters") + "\n),\n" +
        "gq AS (\n" + baseOracleSql("gopher_quality") + "\n),\n" +
        "qs AS (\n" + baseOracleSql("quality_score") + "\n),\n" + card
    })

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST($sumDisc AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  ${moneyAvgSql("l_extendedprice")} AS avg_price,
        |  ${moneyAvgSql("l_discount")} AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount >= 0.05 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_join_agg" ->
      s"""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
        |  CAST($sumDisc AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin,

    "q4_topk" ->
      """SELECT o_orderkey, o_totalprice, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderstatus
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50""".stripMargin,

    "q5_star_join" ->
      s"""SELECT n_name, CAST($sumDisc AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_window_rank" ->
      """SELECT * FROM (
        |  SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_extendedprice,
        |    CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |    LAG(l_extendedprice) OVER w AS prev_price
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |) WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q7_semi_anti" ->
      """SELECT c_custkey, c_name, CAST(1 AS BIGINT) AS has_big_order
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |UNION ALL
        |SELECT c_custkey, c_name, CAST(0 AS BIGINT) AS has_big_order
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q8_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    // GROUPING_ID bit order matches Spark's (first cube column =
    // most significant bit) in both engines
    "q39_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    // identical LATERAL text runs on both engines
    "q40_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 3
        |) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,

    "q9_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q10_cond_agg" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS sum_f_price,
        |  COUNT(*) AS n_total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q11_setops" ->
      """SELECT nationkey, 'both' AS tag FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS tag FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin,

    "q12_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  ROUND(quantile_cont(l_quantity, 0.99), 4) AS p99_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q13_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts_ms,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM y)
        |SELECT user_id, session_id,
        |  MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
        |  COUNT(*) AS n_events
        |FROM z
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q14_scalar_funcs" ->
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
        |  CAST(day(ts) AS BIGINT) AS d, CAST(hour(ts) AS BIGINT) AS h,
        |  epoch_ms(date_trunc('day', ts)) AS day_ms,
        |  upper(event_type) AS type_upper,
        |  substring(event_type, 1, 3) AS type_pfx,
        |  CAST(length(event_type) AS BIGINT) AS type_len,
        |  concat_ws('#', event_type, CAST(user_id AS VARCHAR)) AS type_user,
        |  CAST(FLOOR(value) AS BIGINT) AS value_floor,
        |  CAST(CEIL(value) AS BIGINT) AS value_ceil,
        |  CASE WHEN value >= 0 THEN sqrt(value) END AS value_sqrt
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q15_skew_salted" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value,
        |  MAX(value) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "hr_parse" ->
      """SELECT event_id,
        |  'p' || CAST(user_id AS VARCHAR) AS patient_id,
        |  CAST(FLOOR(value) AS BIGINT) AS heart_rate_bpm,
        |  epoch_ms(ts) AS event_time
        |FROM events
        |WHERE event_id % 13 <> 0 AND FLOOR(value) > 0
        |  AND ts IS NOT NULL AND user_id IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    "hr_classify" ->
      """SELECT event_id, user_id, value AS hr,
        |  CASE WHEN value > 100.0 THEN 'tachycardia'
        |       WHEN value < 50.0 THEN 'bradycardia'
        |       ELSE 'normal' END AS alert_type
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "hr_window_tumbling" ->
      s"""SELECT user_id, window_start_ms, window_end_ms, avg_hr, min_hr, max_hr, n_readings,
        |  $classifySql AS alert_type
        |FROM (
        |  SELECT user_id,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |    (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS window_end_ms,
        |    ${moneyAvgSql("value")} AS avg_hr,
        |    MIN(value) AS min_hr, MAX(value) AS max_hr, COUNT(*) AS n_readings
        |  FROM events
        |  GROUP BY user_id, (epoch_ms(ts) // 3600000) * 3600000)
        |ORDER BY user_id, window_start_ms""".stripMargin,

    "hr_window_sliding" ->
      s"""SELECT user_id, window_start_ms,
        |  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*), 4) AS avg_hr,
        |  MIN(value) AS min_hr, MAX(value) AS max_hr, COUNT(*) AS n_readings
        |FROM (
        |  SELECT user_id, value,
        |    ((epoch_ms(ts) // 900000) - k.k) * 900000 AS window_start_ms
        |  FROM events
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k)
        |GROUP BY user_id, window_start_ms
        |ORDER BY user_id, window_start_ms""".stripMargin,

    "hr_alert_stats" ->
      s"""SELECT user_id, alert_type, COUNT(*) AS n_alerts
        |FROM (
        |  SELECT user_id, $classifySql AS alert_type
        |  FROM (
        |    SELECT user_id, ${moneyAvgSql("value")} AS avg_hr
        |    FROM events
        |    GROUP BY user_id, (epoch_ms(ts) // 3600000) * 3600000))
        |GROUP BY user_id, alert_type
        |ORDER BY user_id, alert_type""".stripMargin,

    "q17_running" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events)
        |SELECT user_id, event_id, ts_ms,
        |  CAST(SUM(v) OVER w AS DOUBLE) AS running_sum,
        |  ROUND(CAST(CAST(SUM(v) OVER w4 * 100 AS BIGINT) AS DOUBLE) / 100.0
        |    / (COUNT(*) OVER w4) + 1e-9, 4) AS moving_avg
        |FROM e
        |WINDOW
        |  w AS (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING),
        |  w4 AS (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,

    "q18_topk_custom" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3
        |ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,

    "q19_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q20_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders, (
        |  SELECT COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
        |  FROM orders) t
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * cnt > total_cents
        |ORDER BY o_orderkey""".stripMargin,

    // the salted replicate-and-join must equal the plain join
    "q21_skew_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST($sumDisc AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // independent formulation: DuckDB's native ASOF LEFT JOIN
    "q22_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_ms(ts) AS click_ts_ms, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), purchases AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS ts_ms
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.purchase_id, p.user_id, p.ts_ms,
        |  c.click_id, c.click_ts_ms, p.ts_ms - c.click_ts_ms AS gap_ms
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts_ms >= c.click_ts_ms
        |ORDER BY p.purchase_id""".stripMargin,

    "q24_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t4
        |  FROM events GROUP BY 1
        |), g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM f)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users FROM g
        |UNION ALL SELECT 2, 'view', n2 FROM g
        |UNION ALL SELECT 3, 'click', n3 FROM g
        |UNION ALL SELECT 4, 'purchase', n4 FROM g
        |ORDER BY stage_idx""".stripMargin,

    "q25_retention" ->
      s"""WITH a AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // ${operators.Relational.CohortDayMs} AS day FROM events
        |), c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1),
        |s AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM c GROUP BY 1),
        |m AS (
        |  SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM a JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_day, m.day_offset, s.cohort_size, m.n_active,
        |  CAST(m.n_active * 1000000 // s.cohort_size AS BIGINT) AS retained_ppm
        |FROM m JOIN s USING (cohort_day)
        |ORDER BY m.cohort_day, m.day_offset""".stripMargin,

    // independent formulation: native ASOF LEFT JOIN of a
    // generate_series grid against the MAX-event_id-deduped events
    "ts_resample" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms,
        |    arg_max(value, event_id) AS value
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), b AS (
        |  SELECT user_id,
        |    (min(ts_ms) // ${operators.Temporal.ResampleStepMs}) * ${operators.Temporal.ResampleStepMs} AS t0,
        |    (max(ts_ms) // ${operators.Temporal.ResampleStepMs}) * ${operators.Temporal.ResampleStepMs} AS t1
        |  FROM e GROUP BY 1
        |), g AS (
        |  SELECT user_id, CAST(unnest(range(t0, t1 + ${operators.Temporal.ResampleStepMs}, ${operators.Temporal.ResampleStepMs})) AS BIGINT) AS grid_ms
        |  FROM b
        |)
        |SELECT g.user_id, g.grid_ms, e.value AS last_value, e.ts_ms AS last_ts_ms,
        |  g.grid_ms - e.ts_ms AS staleness_ms
        |FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.grid_ms >= e.ts_ms
        |ORDER BY g.user_id, g.grid_ms""".stripMargin,

    // independent formulation: plain inequality join (DuckDB plans
    // its own range join; Spark runs the bin-and-refine equi-join)
    "q23_range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
        |  COUNT(c.event_id) AS n_nearby_clicks
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND abs(epoch_ms(c.ts) - epoch_ms(p.ts)) <= 300000
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2, 3
        |ORDER BY purchase_id""".stripMargin,

    "hr_episodes" ->
      s"""WITH t AS (
        |  SELECT user_id, window_start_ms, window_end_ms, avg_hr,
        |    $classifySql AS alert_type
        |  FROM (
        |    SELECT user_id,
        |      (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |      (epoch_ms(ts) // 3600000) * 3600000 + 3600000 AS window_end_ms,
        |      ${moneyAvgSql("value")} AS avg_hr
        |    FROM events
        |    GROUP BY user_id, (epoch_ms(ts) // 3600000) * 3600000)),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY window_start_ms)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, alert_type ORDER BY window_start_ms) AS grp
        |  FROM t)
        |SELECT user_id, alert_type,
        |  MIN(window_start_ms) AS episode_start_ms,
        |  MAX(window_end_ms) AS episode_end_ms,
        |  COUNT(*) AS n_windows,
        |  MAX(avg_hr) AS peak_avg_hr
        |FROM r
        |WHERE alert_type <> 'normal'
        |GROUP BY user_id, alert_type, grp
        |ORDER BY user_id, episode_start_ms, alert_type""".stripMargin,

    "dedup_exact" ->
      s"""SELECT md5($normSql) AS fingerprint,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keep_id""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH $ngramCtes
        |SELECT d1, d2, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    // per-dimension lattice moments: l = floor(x·10⁶ + 0.5) is the
    // identical IEEE double op chain both engines run; sums ride
    // HUGEINT/DECIMAL(38) (the variance cross-term overflows int64);
    // // and div both truncate toward zero on integers
    "emb_health" -> {
      import operators.Clustering.EmbCollapseVarLattice
      s"""WITH l AS (
        |  SELECT t.d AS dim,
        |    CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS l
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(d)
        |  WHERE embedding IS NOT NULL),
        |g AS (SELECT dim, COUNT(*) AS n_vecs,
        |    SUM(CAST(l AS HUGEINT)) AS sl,
        |    SUM(CAST(l AS HUGEINT) * CAST(l AS HUGEINT)) AS sl2,
        |    MIN(l) AS min_ppm, MAX(l) AS max_ppm
        |  FROM l GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(sl // n_vecs AS BIGINT) AS mean_ppm,
        |  CAST(sl2 // n_vecs AS BIGINT) AS msq_ppm2,
        |  CAST(min_ppm AS BIGINT) AS min_ppm, CAST(max_ppm AS BIGINT) AS max_ppm,
        |  CAST(CAST(n_vecs AS HUGEINT) * sl2 - sl * sl
        |    < CAST(n_vecs AS HUGEINT) * CAST(n_vecs AS HUGEINT)
        |      * $EmbCollapseVarLattice AS BIGINT) AS collapsed
        |FROM g ORDER BY dim""".stripMargin
    },

    // two-snapshot drift card (round 11 — emb_health's discipline
    // over the ann_incremental old/new split): lattice sums per
    // side, truncating-div means and old variance, and the z² ≥ 9
    // two-sample test as one exact integer product comparison
    "emb_drift" -> {
      import operators.Clustering.EmbDriftZ2
      s"""WITH l AS (
        |  SELECT vec_id, t.d AS dim,
        |    CAST(floor(CAST(embedding[t.d + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS l
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(d)
        |  WHERE embedding IS NOT NULL),
        |o AS (SELECT dim, COUNT(*) AS n_old,
        |    SUM(CAST(l AS HUGEINT)) AS sl_old,
        |    SUM(CAST(l AS HUGEINT) * CAST(l AS HUGEINT)) AS sl2_old
        |  FROM l WHERE vec_id % 5 <> 4 GROUP BY 1),
        |nw AS (SELECT dim, COUNT(*) AS n_new,
        |    SUM(CAST(l AS HUGEINT)) AS sl_new
        |  FROM l WHERE vec_id % 5 = 4 GROUP BY 1),
        |j AS (SELECT COALESCE(o.dim, nw.dim) AS dim,
        |    COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
        |    CASE WHEN COALESCE(n_old, 0) = 0 THEN 0
        |      ELSE sl_old // n_old END AS mean_old_ppm,
        |    CASE WHEN COALESCE(n_new, 0) = 0 THEN 0
        |      ELSE sl_new // n_new END AS mean_new_ppm,
        |    CASE WHEN COALESCE(n_old, 0) = 0 THEN 0
        |      ELSE (CAST(n_old AS HUGEINT) * sl2_old - sl_old * sl_old)
        |        // (CAST(n_old AS HUGEINT) * n_old) END AS var_old_ppm2
        |  FROM o FULL OUTER JOIN nw ON o.dim = nw.dim)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(mean_old_ppm AS BIGINT) AS mean_old_ppm,
        |  CAST(mean_new_ppm AS BIGINT) AS mean_new_ppm,
        |  CAST(var_old_ppm2 AS BIGINT) AS var_old_ppm2,
        |  CAST(mean_new_ppm - mean_old_ppm AS BIGINT) AS shift_ppm,
        |  CAST(n_old > 0 AND n_new > 0 AND
        |    CAST(mean_new_ppm - mean_old_ppm AS HUGEINT)
        |      * (mean_new_ppm - mean_old_ppm) * n_old * n_new
        |    > $EmbDriftZ2 * CAST(var_old_ppm2 AS HUGEINT) * (n_old + n_new)
        |    AS BIGINT) AS drifted
        |FROM j ORDER BY dim""".stripMargin
    },

    // SimHash replicated bit-for-bit (round 10, the dedup_minhash
    // promotion applied to its sibling): hash60 word lattice
    // (multiset — frequency-weighted, so NO distinct), per-bit ±1
    // majority with the agg's strict > 0 (ties → 0), 4×15-bit
    // pigeonhole blocks, bit_count(xor) <= 3 verify, then the
    // collapse/expansion closed form:
    // n_near_dups = Σ gsize(partner reps) + gsize − 1
    "dedup_simhash" ->
      s"""WITH mem AS (SELECT doc_id,
        |    MIN(doc_id) OVER (PARTITION BY text) AS rep,
        |    COUNT(*) OVER (PARTITION BY text) AS gsize
        |  FROM documents),
        |reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |d AS (SELECT doc_id, $wordsSql AS w FROM reps),
        |wh AS (SELECT doc_id, ${hash60Sql("word")} AS h
        |  FROM (SELECT doc_id, unnest(w) AS word FROM d)),
        |bt AS (SELECT unnest(range(0, 60)) AS b),
        |bs AS (SELECT wh.doc_id, bt.b,
        |    SUM(CASE WHEN (h >> bt.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM wh CROSS JOIN bt GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
        |      ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bs GROUP BY 1),
        |bj AS (SELECT unnest(range(0, 4)) AS j),
        |blk AS (SELECT doc_id, simhash, bj.j,
        |    (simhash >> (15 * bj.j)) & 32767 AS key
        |  FROM sig CROSS JOIN bj),
        |prs AS (SELECT DISTINCT x.doc_id, y.doc_id AS other,
        |    x.simhash AS sx, y.simhash AS sy
        |  FROM blk x JOIN blk y ON x.j = y.j AND x.key = y.key
        |    AND x.doc_id <> y.doc_id),
        |prf AS (SELECT doc_id, other FROM prs
        |  WHERE bit_count(xor(sx, sy)) <= 3),
        |gsz AS (SELECT doc_id AS other, gsize AS g FROM mem WHERE doc_id = rep),
        |ext AS (SELECT p.doc_id, SUM(g.g) AS ext
        |  FROM prf p JOIN gsz g ON p.other = g.other GROUP BY 1)
        |SELECT m.doc_id, s.simhash,
        |  CAST(COALESCE(e.ext, 0) + m.gsize - 1 AS BIGINT) AS n_near_dups
        |FROM mem m JOIN sig s ON m.rep = s.doc_id
        |LEFT JOIN ext e ON m.rep = e.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    // MinHash(128) + 16×8 LSH banding + exact-Jaccard verify,
    // replicated bit-for-bit: the lsh_tune signature machinery
    // (hash60-mod-P shingle lattice, perm constants interpolated from
    // the SAME Scala source of truth, min-hash per permutation), band
    // keys as joined 8-tuples (injective for longs — the exact tuple
    // equality the Spark side's array-slice band key joins on), then
    // the collapse/expansion algebra: signatures over exact-text
    // REPRESENTATIVES, verified rep pairs expand through membership,
    // within-group pairs at J = 1 gated on the rep having shingles
    "dedup_minhash" -> {
      import operators.Dedup.{NumPerm, P, permA, permB}
      val aList = permA.mkString("[", ", ", "]")
      val bList = permB.mkString("[", ", ", "]")
      s"""WITH mem AS (SELECT doc_id,
        |    MIN(doc_id) OVER (PARTITION BY text) AS rep,
        |    COUNT(*) OVER (PARTITION BY text) AS gsize
        |  FROM documents),
        |reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |d AS (SELECT doc_id, $wordsSql AS w FROM reps),
        |shg AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM d WHERE len(w) >= 3),
        |hh AS (SELECT DISTINCT doc_id,
        |    ${hash60Sql("shingle")} % $P AS h FROM shg),
        |perm AS (SELECT unnest(range(0, $NumPerm)) AS i,
        |    unnest($aList) AS a, unnest($bList) AS b),
        |sig AS (SELECT doc_id, i, MIN((a * h + b) % $P) AS m
        |  FROM hh CROSS JOIN perm GROUP BY 1, 2),
        |bandkey AS (SELECT doc_id, i // ${NumPerm / 16} AS band,
        |    string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM hh GROUP BY 1),
        |ins AS (SELECT c.d1, c.d2, COUNT(*) AS inter FROM cand c
        |  JOIN hh h1 ON c.d1 = h1.doc_id
        |  JOIN hh h2 ON c.d2 = h2.doc_id AND h1.h = h2.h
        |  GROUP BY 1, 2),
        |rp AS (SELECT i.d1, i.d2,
        |    ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
        |  FROM ins i JOIN sz s1 ON i.d1 = s1.doc_id
        |  JOIN sz s2 ON i.d2 = s2.doc_id),
        |rp5 AS (SELECT * FROM rp WHERE jaccard >= 0.5),
        |crossp AS (SELECT LEAST(m1.doc_id, m2.doc_id) AS d1,
        |    GREATEST(m1.doc_id, m2.doc_id) AS d2, r.jaccard
        |  FROM rp5 r JOIN mem m1 ON r.d1 = m1.rep JOIN mem m2 ON r.d2 = m2.rep),
        |withinp AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(1.0 AS DOUBLE) AS jaccard
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |  WHERE a.gsize > 1 AND a.rep IN (SELECT doc_id FROM hh))
        |SELECT d1, d2, CAST(jaccard AS DOUBLE) AS jaccard
        |FROM (SELECT * FROM crossp UNION ALL SELECT * FROM withinp)
        |ORDER BY d1, d2""".stripMargin
    },

    // transitive closure of the near-dup pair graph (recursive CTE);
    // the engine runs distributed star contraction instead
    "dedup_clusters" ->
      s"""WITH RECURSIVE $ngramCtes,
        |p2 AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT d1 AS a, d2 AS b FROM p2 UNION SELECT d2 AS a, d1 AS b FROM p2),
        |reach AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |m AS (SELECT a AS doc_id, MIN(b) AS minb FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  LEAST(d.doc_id, COALESCE(m.minb, d.doc_id)) AS cluster_id,
        |  CAST(d.doc_id = LEAST(d.doc_id, COALESCE(m.minb, d.doc_id)) AS BIGINT) AS is_keeper
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "lang_id" ->
      s"""WITH d AS (SELECT doc_id, lang AS labeled_lang, $wordsSql AS w FROM documents),
        |h AS (SELECT doc_id, labeled_lang,
        |  ${profiles.map { case (l, v) => s"${hitsSql(v)} AS hits_$l" }.mkString(",\n  ")}
        |  FROM d)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |       WHEN hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |       WHEN hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |       WHEN hits_fr >= hits_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  hits_en, hits_es, hits_de, hits_fr, hits_zh
        |FROM h
        |ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      s"""WITH e AS (
        |  SELECT doc_id, $wordsSql AS w,
        |    CAST(length($normSql) AS BIGINT) AS n_chars_norm,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents),
        |f AS (SELECT doc_id, n_chars_norm, n_words,
        |    ROUND(CAST(n_chars_norm - (n_words - 1) AS DOUBLE) / n_words + 1e-9, 4) AS avg_word_len,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e),
        |g AS (SELECT doc_id, n_chars_norm, n_words, avg_word_len, stopword_ratio,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f)
        |SELECT doc_id, n_chars_norm, n_words, avg_word_len, stopword_ratio, score,
        |  CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.3 THEN 'medium' ELSE 'low' END AS bucket
        |FROM g
        |ORDER BY doc_id""".stripMargin,

    // anneal endpoints: signed (target - natural) under toward-zero
    // integer division on BOTH engines (BigInt / and DuckDB //)
    "anneal_mix" ->
      s"""WITH e AS (
        |  SELECT source, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents),
        |f AS (SELECT source, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e),
        |g AS (SELECT source, n_words,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f),
        |c AS (SELECT source, CAST(SUM(n_words) AS BIGINT) AS tokens,
        |    CAST(SUM(CASE WHEN score >= 0.6 THEN n_words ELSE 0 END) AS BIGINT) AS hq_tokens
        |  FROM g GROUP BY source),
        |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
        |    CAST(SUM(hq_tokens) AS BIGINT) AS hqtot FROM c),
        |p AS (SELECT source, tokens, hq_tokens,
        |    tokens * 1000000 // tot AS natural_ppm,
        |    CASE WHEN hqtot = 0 THEN tokens * 1000000 // tot
        |         ELSE hq_tokens * 1000000 // hqtot END AS target_ppm
        |  FROM c, t)
        |SELECT CAST(ep AS BIGINT) AS epoch, source, tokens, hq_tokens,
        |  CAST(natural_ppm AS BIGINT) AS natural_ppm,
        |  CAST(target_ppm AS BIGINT) AS target_ppm,
        |  CAST(natural_ppm + (ep * (target_ppm - natural_ppm))
        |    // ${operators.Curation.AnnealEpochs - 1} AS BIGINT) AS share_ppm
        |FROM p, (SELECT UNNEST([${(0 until operators.Curation.AnnealEpochs)
             .mkString(", ")}]) AS ep) AS eps
        |ORDER BY epoch, source""".stripMargin,

    // greedy budget prefix: the oracle IS the serial global-window
    // formulation the two-level decomposition must reproduce exactly
    "token_budget" ->
      s"""WITH e AS (
        |  SELECT doc_id, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents),
        |f AS (SELECT doc_id, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e),
        |g AS (SELECT doc_id, n_words,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f),
        |b AS (SELECT CAST(SUM(n_words) AS BIGINT)
        |             // ${operators.Curation.BudgetDivisor} AS budget FROM g),
        |c AS (SELECT doc_id, score, n_words,
        |    SUM(n_words) OVER (ORDER BY score DESC, doc_id
        |                       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM g)
        |SELECT doc_id, score, CAST(n_words AS BIGINT) AS n_words
        |FROM c, b WHERE cum <= budget ORDER BY doc_id""".stripMargin,

    // the dataset card: same score CTE as quality_score, CUBE'd
    "corpus_stats" ->
      s"""WITH e AS (
        |  SELECT lang, source,
        |    CAST(length($normSql) AS BIGINT) AS nc,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words,
        |    $wordsSql AS w
        |  FROM documents),
        |f AS (SELECT lang, source, nc, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e),
        |g AS (SELECT lang, source, nc, n_words,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f)
        |SELECT COALESCE(lang, 'ALL') AS lang,
        |  COALESCE(source, 'ALL') AS source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(SUM(CASE WHEN score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_hq,
        |  CAST(SUM(nc) // 4 AS BIGINT) AS est_tokens
        |FROM g
        |GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin,

    // the mergeable log-histogram quantile card: the bucket lattice
    // (exponent + 5 mantissa bits) is integer-exact in both engines —
    // bin()/shift/mask reproduce QuantileSketchAgg.bucketOf/repOf
    // bit-for-bit, and each percentile is the lattice order statistic
    // at ceil(p·n/100) (the ccnet_buckets max/when threshold trick,
    // mirrored as min over ascending reps)
    "quantile_sketch" ->
      """WITH v AS (SELECT lang, CAST(length(text) AS BIGINT) AS len FROM documents),
        |b AS (SELECT lang,
        |    CASE WHEN len < 32 THEN len
        |         ELSE (length(bin(len)) - 5) * 32 + ((len >> (length(bin(len)) - 6)) & 31)
        |    END AS idx, COUNT(*) AS c
        |  FROM v GROUP BY 1, 2),
        |cum AS (SELECT lang, idx, c,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY idx) AS cum,
        |    SUM(c) OVER (PARTITION BY lang) AS n
        |  FROM b),
        |r AS (SELECT lang, n, cum,
        |    CASE WHEN idx < 32 THEN idx
        |         ELSE (32 + (idx & 31)) << CAST((idx // 32) - 1 AS INT) END AS rep
        |  FROM cum)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  CAST(MIN(CASE WHEN cum >= (25*n+99)//100 THEN rep END) AS BIGINT) AS len_p25,
        |  CAST(MIN(CASE WHEN cum >= (50*n+99)//100 THEN rep END) AS BIGINT) AS len_p50,
        |  CAST(MIN(CASE WHEN cum >= (75*n+99)//100 THEN rep END) AS BIGINT) AS len_p75,
        |  CAST(MIN(CASE WHEN cum >= (90*n+99)//100 THEN rep END) AS BIGINT) AS len_p90,
        |  CAST(MIN(CASE WHEN cum >= (99*n+99)//100 THEN rep END) AS BIGINT) AS len_p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // exact counts: capacity > vocabulary means the sketch IS exact
    "freq_words" ->
      s"""WITH t AS (SELECT unnest($wordsSql) AS w FROM documents),
        |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS est FROM t
        |      WHERE length(w) > 0 GROUP BY 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY est DESC, w) AS BIGINT) AS term_rank,
        |  w AS term, est
        |FROM c ORDER BY est DESC, w LIMIT ${operators.Text.FreqTopK}""".stripMargin,

    // the BPE merge table replayed end to end (round-12 promotion):
    // 32 unrolled rounds over the word-frequency vocabulary via
    // bpeCtes (greedy-overlap rewrite as gaps-and-islands parity,
    // min-frequency stop as the one-row gate); ranks are the rounds
    // that produced a winner. SUM returns HUGEINT — cast (the
    // mix_budget lesson). The final round's rewrite is skipped like
    // the engine's (nothing consumes it).
    "bpe_train" -> {
      val R = operators.Tokenizer.NumMerges
      val picks = (1 to R)
        .map(r => s"SELECT $r AS rank, l AS lsym, r2 AS rsym, cnt FROM w$r")
        .mkString("\n|  UNION ALL ")
      s"""WITH ${bpeCtes(R, rewriteLast = false)}
        |SELECT CAST(rank AS BIGINT) AS rank, lsym, rsym,
        |  CAST(cnt AS BIGINT) AS pair_count
        |FROM ($picks)
        |ORDER BY rank""".stripMargin
    },

    // tokenization with the learned merges (round-12 promotion):
    // because encode runs on the SAME corpus the merges were trained
    // on, every document word's token sequence IS the trained
    // vocabulary's final state (the engine's rank-order merge replay
    // and the training rewrite are the same sequence), so encode =
    // the bpeCtes chain with the final rewrite + a per-doc join;
    // token order is (word position, symbol position); n_words
    // counts the RAW split (empties included) like the engine's
    // size(words(text))
    "bpe_encode" -> {
      val R = operators.Tokenizer.NumMerges
      s"""WITH ${bpeCtes(R, rewriteLast = true)},
        |dw AS (SELECT doc_id, unnest(ws) AS word,
        |    unnest(range(1, len(ws) + 1)) AS wi
        |  FROM (SELECT doc_id, $wordsSql AS ws FROM documents)),
        |tk AS (SELECT d.doc_id, d.wi,
        |    unnest(v.syms) AS tok, unnest(range(1, len(v.syms) + 1)) AS si
        |  FROM dw d JOIN v$R v ON v.word = d.word),
        |ag AS (SELECT doc_id, COUNT(*) AS n_tokens,
        |    string_agg(CASE WHEN rn <= 8 THEN tok END, ' ' ORDER BY wi, si)
        |      AS prev
        |  FROM (SELECT doc_id, wi, si, tok,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi, si) AS rn
        |    FROM tk)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len($wordsSql) AS BIGINT) AS n_words,
        |  CAST(COALESCE(ag.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  COALESCE(ag.prev, '') AS tok_preview
        |FROM documents d LEFT JOIN ag ON ag.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin
    },

    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(CEIL(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "fingerprint" ->
      s"""SELECT doc_id,
        |  md5($normSql) AS fp_md5,
        |  ${hash60Sql(normSql)} AS fp60
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // winnowing over the same mod-2³¹−1 polynomial lattice the
    // WinnowFingerprints expression rolls on (see winnowFpsSql)
    "fingerprint_winnow" ->
      s"""WITH wfp AS ($winnowFpsSql)
        |SELECT doc_id, pos, fp FROM wfp
        |ORDER BY doc_id, pos""".stripMargin,

    // MOSS pair detection over the winnow index: distinct fp sets →
    // df-capped inverted index → shared counts → integer containment
    "winnow_pairs" ->
      s"""WITH wfp AS ($winnowFpsSql),
        |$winnowPairsCoreSql
        |SELECT id1, id2, shared, nf1, nf2 FROM wp
        |ORDER BY id1, id2""".stripMargin,

    // passage-level keep-list: transitive closure of the winnow
    // near-dup graph (the dedup_clusters formulation over MOSS pairs)
    "winnow_clusters" ->
      s"""WITH RECURSIVE wfp AS ($winnowFpsSql),
        |$winnowPairsCoreSql,
        |e AS (SELECT id1 AS a, id2 AS b FROM wp
        |      UNION SELECT id2 AS a, id1 AS b FROM wp),
        |reach AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |m AS (SELECT a AS doc_id, MIN(b) AS minb FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  LEAST(d.doc_id, COALESCE(m.minb, d.doc_id)) AS cluster_id,
        |  CAST(d.doc_id = LEAST(d.doc_id, COALESCE(m.minb, d.doc_id)) AS BIGINT) AS is_keeper
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_embedding" ->
      """SELECT id1, id2, cos FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.4
        |ORDER BY id1, id2""".stripMargin,

    // the driver eigensolve replayed end to end (round-12 promotion —
    // the last float rows-only entry with a deterministic fixed
    // sequence): the integer scatter matrix is order-free BIGINT
    // sums on the q = floor(x·scale + 0.5) lattice (ScatterAgg's
    // math.round); every driver double op — covariance division,
    // the 100 power-iteration matrix-vector folds, norms, Rayleigh
    // quotient, sign canonicalization, deflation — is replayed in
    // the SAME sequence via list_transform/list_sum (DuckDB's
    // list_sum is the left fold, verified on non-associative
    // adversarial values; Scala foldLeft/Seq.sum are the same fold),
    // so eigenvalues hash bit-exactly and %.6f formatting agrees —
    // a 6-decimal midpoint IS double-representable (any odd/2^k,
    // k ≥ 7, e.g. 0.0078125, where Java HALF_UP and printf's
    // half-even would split), but the iterates are sqrt-normalized
    // quotients for which landing exactly on such a dyadic midpoint
    // is measure-zero; the gate corpora and fuzz replays confirm no
    // occurrence. Iteration CTEs are MATERIALIZED 1-row relations
    // (the ivfAssignCtes inlining lesson). The lattice transform
    // mirrors math.round's full non-finite contract (NaN → 0, ±Inf
    // saturating to the Long bounds), so a non-finite embedding
    // element compares instead of crashing the CAST.
    "emb_pca" -> {
      val cl = operators.Clustering
      val d = cl.PcaDim
      def comp(c: Int, mat: String): String = {
        val iters = (1 to cl.PcaIters).map { t =>
          s"""v${c}_$t AS MATERIALIZED (
            |  SELECT CASE WHEN nrm > 0 THEN list_transform(w, x -> x / nrm)
            |    ELSE pv END AS v
            |  FROM (SELECT pv, w,
            |      sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
            |    FROM (SELECT p.v AS pv,
            |        list_transform(range(0, $d), i ->
            |          list_sum(list_transform(range(0, $d),
            |            j -> m.c[i + 1][j + 1] * p.v[j + 1]))) AS w
            |      FROM v${c}_${t - 1} p, $mat m)))""".stripMargin
        }.mkString(",\n")
        s"""st$c AS (SELECT i FROM (
          |    SELECT ii.i AS i, ROW_NUMBER() OVER (
          |      ORDER BY m.c[ii.i + 1][ii.i + 1] DESC, ii.i) AS rk
          |    FROM $mat m, range(0, $d) ii(i))
          |  WHERE rk = 1),
          |v${c}_0 AS (SELECT list_transform(range(0, $d),
          |    i -> CASE WHEN i = st$c.i THEN 1.0 ELSE 0.0 END) AS v
          |  FROM st$c),
          |$iters,
          |lm$c AS (SELECT list_sum(list_transform(range(0, $d),
          |    i -> p.v[i + 1] * list_sum(list_transform(range(0, $d),
          |      j -> m.c[i + 1][j + 1] * p.v[j + 1])))) AS l, p.v AS v
          |  FROM v${c}_${cl.PcaIters} p, $mat m),
          |vc$c AS MATERIALIZED (SELECT CASE
          |    WHEN COALESCE(list_filter(v, x -> abs(x) > 1e-12)[1], 0.0) < 0
          |    THEN list_transform(v, x -> -x) ELSE v END AS v, l
          |  FROM lm$c)""".stripMargin
      }
      val deflate = (c: Int) =>
        s"""cm${c + 1} AS MATERIALIZED (SELECT list_transform(range(0, $d),
          |    i -> list_transform(range(0, $d),
          |      j -> m.c[i + 1][j + 1] - k.l * k.v[i + 1] * k.v[j + 1])) AS c
          |  FROM cm$c m, vc$c k)""".stripMargin
      val chain = (0 until cl.PcaComponents).map { c =>
        comp(c, s"cm$c") +
          (if (c < cl.PcaComponents - 1) ",\n" + deflate(c) else "")
      }.mkString(",\n")
      val picks = (0 until cl.PcaComponents)
        .map(c => s"SELECT $c AS cc, l, v FROM vc$c")
        .mkString("\n|  UNION ALL ")
      s"""WITH e AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |lat AS MATERIALIZED (SELECT list_transform(v,
        |    x -> CASE WHEN isnan(x * ${cl.PcaScale}) THEN 0
        |      WHEN x * ${cl.PcaScale} >= 9223372036854775807 THEN 9223372036854775807
        |      WHEN x * ${cl.PcaScale} <= -9223372036854775808 THEN -9223372036854775808
        |      ELSE CAST(floor(x * ${cl.PcaScale} + 0.5) AS BIGINT) END) AS q FROM e),
        |sc AS MATERIALIZED (SELECT ii.i AS i, jj.j AS j,
        |    SUM(COALESCE(q[ii.i + 1], 0) * COALESCE(q[jj.j + 1], 0)) AS s
        |  FROM lat, range(0, $d) ii(i), range(0, $d) jj(j) GROUP BY 1, 2),
        |sv AS MATERIALIZED (SELECT ii.i AS i,
        |    SUM(COALESCE(q[ii.i + 1], 0)) AS s
        |  FROM lat, range(0, $d) ii(i) GROUP BY 1),
        |cij AS (SELECT sc.i AS i, sc.j AS j,
        |    CAST(sc.s AS DOUBLE) / nn.n
        |      - (CAST(a.s AS DOUBLE) / nn.n) * (CAST(b.s AS DOUBLE) / nn.n)
        |      AS cv
        |  FROM sc JOIN sv a ON a.i = sc.i JOIN sv b ON b.i = sc.j, nn),
        |cm0 AS MATERIALIZED (SELECT list(cr ORDER BY i) AS c FROM (
        |    SELECT i, list(cv ORDER BY j) AS cr FROM cij GROUP BY i)),
        |tr AS (SELECT list_sum(list_transform(range(0, $d),
        |    i -> c[i + 1][i + 1])) AS t FROM cm0),
        |$chain
        |SELECT CAST(cc + 1 AS BIGINT) AS component,
        |  l / ${cl.PcaScale * cl.PcaScale} AS eigenvalue,
        |  CASE WHEN (SELECT t FROM tr) > 0
        |    THEN CAST(trunc(l * 1000000.0 / (SELECT t FROM tr)) AS BIGINT)
        |    ELSE 0 END AS explained_ppm,
        |  array_to_string(list_transform(v, x -> printf('%.6f', x)), ',')
        |    AS eigvec
        |FROM ($picks), nn
        |WHERE nn.n > 0
        |ORDER BY component""".stripMargin
    },

    // SemDeDup replayed end to end (round-11 promotion): the fine
    // centroids are RAW stride-sampled corpus vectors (no Lloyd), the
    // coarse level is every ⌈√m⌉-th fine centroid, owners/probing/
    // argmax are cosine ranks via the proven fold (ties to the lower
    // index, NaN-first — TwoLevelCellId's exact conventions), and the
    // within-cell prune reuses dedup_embedding's round-4 lattice.
    // The ceil(n/k) and ceil(sqrt(m)) float forms equal their integer
    // twins for all feasible n (quotient gaps ≥ 1/k ≫ ulp)
    "semdedup" -> {
      val cl = operators.Clustering
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |kk AS (SELECT GREATEST(2, LEAST(${cl.MaxCells},
        |    n // ${cl.TargetCell})) AS k FROM nn),
        |st AS (SELECT GREATEST(${cl.TargetCell},
        |    (nn.n + kk.k - 1) // kk.k) AS s FROM nn, kk),
        |fs AS (SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS fi
        |  FROM e, st WHERE vec_id % st.s = 0),
        |fine AS MATERIALIZED (
        |  SELECT fi, v FROM fs
        |  UNION ALL
        |  SELECT 0 AS fi, v FROM (SELECT v FROM e ORDER BY vec_id LIMIT 1)
        |  WHERE NOT EXISTS (SELECT 1 FROM fs)),
        |nf AS (SELECT COUNT(*) AS m FROM fine),
        |cs AS (SELECT GREATEST(1, CAST(CEIL(SQRT(m)) AS BIGINT)) AS step FROM nf),
        |coarse AS MATERIALIZED (SELECT fi AS ci, v FROM fine, cs
        |  WHERE fi % cs.step = 0),
        |own AS MATERIALIZED (SELECT fi, ci FROM (
        |    SELECT f.fi, c.ci, ROW_NUMBER() OVER (PARTITION BY f.fi
        |      ORDER BY list_cosine_similarity(f.v, c.v) DESC, c.ci) AS rk
        |    FROM fine f, coarse c)
        |  WHERE rk = 1),
        |p2 AS (SELECT vec_id, ci FROM (
        |    SELECT e.vec_id, c.ci, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.ci) AS rk
        |    FROM e, coarse c)
        |  WHERE rk <= 2),
        |cells AS MATERIALIZED (SELECT vec_id, fi AS cluster_id FROM (
        |    SELECT p2.vec_id, f.fi, ROW_NUMBER() OVER (PARTITION BY p2.vec_id
        |      ORDER BY list_cosine_similarity(ev.v, f.v) DESC, f.fi) AS rk
        |    FROM p2 JOIN own ON own.ci = p2.ci
        |      JOIN fine f ON f.fi = own.fi
        |      JOIN e ev ON ev.vec_id = p2.vec_id)
        |  WHERE rk = 1),
        |dup AS (SELECT DISTINCT b.vec_id
        |  FROM cells a JOIN cells b
        |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 4) >= ${cl.SemThreshold})
        |SELECT e.vec_id, cells.cluster_id,
        |  CAST(dup.vec_id IS NULL AS BIGINT) AS keep
        |FROM e JOIN cells ON cells.vec_id = e.vec_id
        |LEFT JOIN dup ON dup.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin
    },

    // greedy k-center replayed as K unrolled rounds (round-11
    // promotion; the k_core unroll pattern): every float step is a
    // single correctly-rounded op both engines share — the proven
    // cosine fold, 1.0 − x, LEAST selection — so the raw-double radii
    // hash-match; argmax ties to the lower vec_id, NaN-first
    "coreset_select" -> {
      val K = operators.Clustering.CoresetK
      val rounds = (1 until K).map { k =>
        s"""d$k AS MATERIALIZED (SELECT d${k - 1}.vec_id, d${k - 1}.v,
          |    LEAST(d${k - 1}.mind,
          |      1.0 - list_cosine_similarity(d${k - 1}.v, cc$k.v)) AS mind
          |  FROM d${k - 1}, (SELECT e.v FROM e, p${k - 1}
          |    WHERE e.vec_id = p${k - 1}.far_id) cc$k),
          |p$k AS (SELECT vec_id AS far_id, mind AS radius FROM d$k
          |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val picks = (0 until K).map { k =>
        if (k == 0)
          s"SELECT CAST(0 AS BIGINT) AS k, seed.vec_id, p0.radius FROM seed, p0"
        else
          s"SELECT CAST($k AS BIGINT) AS k, p${k - 1}.far_id AS vec_id, " +
            s"p$k.radius FROM p${k - 1}, p$k"
      }.mkString("\n|UNION ALL ")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
        |d0 AS MATERIALIZED (SELECT e.vec_id, e.v,
        |    1.0 - list_cosine_similarity(e.v, seed.v) AS mind FROM e, seed),
        |p0 AS (SELECT vec_id AS far_id, mind AS radius FROM d0
        |  ORDER BY mind DESC, vec_id LIMIT 1),
        |$rounds
        |$picks
        |ORDER BY k""".stripMargin
    },

    "ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < 1600),
        |s AS (
        |  SELECT qid, vec_id AS nid,
        |    list_cosine_similarity(qv, embedding::DOUBLE[]) AS rawsim
        |  FROM q, embeddings WHERE vec_id <> qid),
        |r AS (
        |  SELECT qid, nid, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rawsim DESC, nid) AS rk
        |  FROM s)
        |SELECT qid, nid, CAST(rk AS BIGINT) AS rank, ROUND(rawsim, 6) AS sim
        |FROM r WHERE rk <= 10
        |ORDER BY qid, rank""".stripMargin,

    // multi-probe hyperplane LSH, oracle-replicated end to end
    // (round-11 promotion): the hash60-lattice signature relation
    // (lshSigCtes), hamming ≤ 2 probe masks generated combinatorially
    // (0, one-bit, two-bit — never a 2^p enumeration), bucket-join
    // candidates, exact-cosine re-rank with the ann_topk rank/round
    // conventions. Queries are corpus members, so their signatures
    // come from the SAME sg relation the corpus shuffles on.
    "ann_lsh" -> {
      val ss = operators.SimilaritySearch
      s"""WITH ${lshSigCtes("lsh", ss.Tables_)},
        |mk AS (SELECT CAST(0 AS BIGINT) AS m
        |  UNION ALL SELECT (CAST(1 AS BIGINT) << i.i)
        |    FROM range(0, ${ss.LshMaxPlanes}) i(i)
        |    WHERE i.i < (SELECT p FROM w)
        |  UNION ALL SELECT (CAST(1 AS BIGINT) << i.i) | (CAST(1 AS BIGINT) << j.j)
        |    FROM range(0, ${ss.LshMaxPlanes}) i(i),
        |      range(0, ${ss.LshMaxPlanes}) j(j)
        |    WHERE i.i < j.j AND j.j < (SELECT p FROM w)),
        |qs AS (SELECT s.vec_id AS qid, s.t, xor(s.sig, mk.m) AS sig
        |  FROM sg s, mk
        |  WHERE s.vec_id % 50 = 0 AND s.vec_id < ${50L * ss.MaxQueries}),
        |cand AS (SELECT DISTINCT q.qid, c.vec_id
        |  FROM sg c JOIN qs q ON c.t = q.t AND c.sig = q.sig
        |  WHERE c.vec_id <> q.qid),
        |sc AS (SELECT qid, cand.vec_id AS nid,
        |    list_cosine_similarity(eq.v, ec.v) AS rawsim
        |  FROM cand JOIN e eq ON eq.vec_id = cand.qid
        |    JOIN e ec ON ec.vec_id = cand.vec_id),
        |r AS (SELECT qid, nid, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rawsim DESC, nid) AS rk
        |  FROM sc)
        |SELECT qid, nid, CAST(rk AS BIGINT) AS rank, ROUND(rawsim, 6) AS sim
        |FROM r WHERE rk <= 10
        |ORDER BY qid, rank""".stripMargin
    },

    // the all-pairs k-NN graph, oracle-replicated end to end
    // (round-11 promotion): same hash60-lattice signatures (knn tag),
    // the KnnBucketCap skew guard as a bucket-frequency filter,
    // bucket self-join candidates, exact-cosine re-rank per source.
    // Round 14 adds the dense-regime multi-probe arm: 1-bit (t, m)
    // probes admitted cheapest-first under the measured-volume budget
    // (cum·100 ≤ V0·pct — integer multiply-compare, no division),
    // gated like the width bump on n > KnnDenseN, so every gate
    // corpus replays the empty probe set. fc/idx are MATERIALIZED
    // (multiply referenced — the k_core CTE-inlining lesson).
    "knn_graph" -> {
      val ss = operators.SimilaritySearch
      s"""WITH ${lshSigCtes("knn", ss.KnnTables, denseBumpOver = ss.KnnDenseN)},
        |f AS (SELECT t, sig, COUNT(*) AS bf FROM sg GROUP BY 1, 2),
        |small AS (SELECT t, sig FROM f WHERE bf <= ${ss.KnnBucketCap}),
        |fc AS MATERIALIZED (SELECT f.t, f.sig, f.bf
        |  FROM f JOIN small USING (t, sig)),
        |idx AS MATERIALIZED (SELECT s.vec_id, s.t, s.sig
        |  FROM sg s JOIN small USING (t, sig)),
        |v0 AS (SELECT COALESCE(SUM(bf * bf), 0) AS v FROM fc),
        |pmk AS (SELECT t.t, (CAST(1 AS BIGINT) << i.i) AS m
        |  FROM range(0, ${ss.KnnTables}) t(t),
        |    range(0, ${ss.LshMaxPlanes}) i(i)
        |  WHERE i.i < (SELECT p FROM w)
        |    AND (SELECT n FROM nn) > ${ss.KnnDenseN}),
        |pv AS (SELECT a.t, pmk.m, SUM(a.bf * b.bf) AS vol
        |  FROM pmk JOIN fc a ON a.t = pmk.t
        |    JOIN fc b ON b.t = pmk.t AND b.sig = xor(a.sig, pmk.m)
        |  GROUP BY 1, 2),
        |adm AS (SELECT t, m FROM (
        |    SELECT t, m, vol, SUM(vol) OVER (ORDER BY vol, t, m
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM pv)
        |  WHERE cum * 100 <= (SELECT v FROM v0) * ${ss.KnnProbeBudgetPct}),
        |cand AS (SELECT DISTINCT src, dst FROM (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |    FROM idx a JOIN idx b
        |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id
        |  UNION ALL
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |    FROM adm JOIN idx a ON a.t = adm.t
        |    JOIN idx b ON b.t = adm.t AND b.sig = xor(a.sig, adm.m)
        |    WHERE a.vec_id <> b.vec_id)),
        |sc AS (SELECT src, dst, list_cosine_similarity(es.v, ed.v) AS rawsim
        |  FROM cand JOIN e es ON es.vec_id = src
        |    JOIN e ed ON ed.vec_id = dst),
        |r AS (SELECT src, dst, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY rawsim DESC, dst) AS rk
        |  FROM sc)
        |SELECT src, dst, CAST(rk AS BIGINT) AS rank, ROUND(rawsim, 6) AS sim
        |FROM r WHERE rk <= 8
        |ORDER BY src, rank""".stripMargin
    },

    // text→media retrieval over the shared hashing-trick space: the
    // ann_lsh chain (xm-tag planes, width law from the MEDIA count)
    // over EmbedKernel vectors rebuilt exactly as doc_embed's oracle
    // does; the paired media item is KEPT (retrieval grading, no
    // self-exclusion) and flagged; mime re-derives from source as the
    // media-table stand-in does
    "mm_crossmodal" -> {
      val ss = operators.SimilaritySearch
      val dim = operators.Curation.EmbedDim
      val embedPre =
        s"""w0 AS (SELECT doc_id,
          |    list_filter(string_split($normSql, ' '), x -> x <> '') AS ws
          |  FROM documents),
          |b0 AS (SELECT doc_id,
          |    list_transform(ws, x -> struct_pack(
          |      b := ${hash60Sql("'emb:' || x")} % $dim,
          |      s := CASE WHEN ${hash60Sql("'sgn:' || x")} % 2 = 0 THEN 1 ELSE -1 END)) AS bs
          |  FROM w0),
          |v0 AS (SELECT doc_id,
          |    list_transform(range(0, $dim), i ->
          |      coalesce(list_sum(list_transform(list_filter(bs, z -> z.b = i), z -> z.s)), 0)) AS vec
          |  FROM b0),
          |""".stripMargin
      val eSql =
        "SELECT doc_id AS vec_id, list_transform(vec, x -> CAST(x AS DOUBLE)) AS v FROM v0"
      s"""WITH ${lshSigCtes("xm", ss.Tables_, eSql, embedPre)},
        |mk AS (SELECT CAST(0 AS BIGINT) AS m
        |  UNION ALL SELECT (CAST(1 AS BIGINT) << i.i)
        |    FROM range(0, ${ss.LshMaxPlanes}) i(i)
        |    WHERE i.i < (SELECT p FROM w)
        |  UNION ALL SELECT (CAST(1 AS BIGINT) << i.i) | (CAST(1 AS BIGINT) << j.j)
        |    FROM range(0, ${ss.LshMaxPlanes}) i(i),
        |      range(0, ${ss.LshMaxPlanes}) j(j)
        |    WHERE i.i < j.j AND j.j < (SELECT p FROM w)),
        |qs AS (SELECT s.vec_id AS qid, s.t, xor(s.sig, mk.m) AS sig
        |  FROM sg s, mk
        |  WHERE s.vec_id % 50 = 0 AND s.vec_id < ${50L * ss.MaxQueries}),
        |cand AS (SELECT DISTINCT q.qid, c.vec_id
        |  FROM sg c JOIN qs q ON c.t = q.t AND c.sig = q.sig),
        |sc AS (SELECT qid, cand.vec_id AS media_id,
        |    list_cosine_similarity(eq.v, ec.v) AS rawsim
        |  FROM cand JOIN e eq ON eq.vec_id = cand.qid
        |    JOIN e ec ON ec.vec_id = cand.vec_id),
        |r AS (SELECT qid, media_id, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rawsim DESC, media_id) AS rk
        |  FROM sc)
        |SELECT r.qid, CAST(r.rk AS BIGINT) AS rank, r.media_id,
        |  'application/x-graft-' || d.source AS mime,
        |  ROUND(r.rawsim, 6) AS sim,
        |  CAST(r.media_id = r.qid AS BIGINT) AS paired
        |FROM r JOIN documents d ON d.doc_id = r.media_id
        |WHERE r.rk <= 10
        |ORDER BY r.qid, r.rk""".stripMargin
    },

    // the TRAINED IVF index replayed end to end (round-11 promotion —
    // unlocked by the integer-lattice Lloyd means): trained centroids
    // from ivfTrainedCtes, gate-conditional assignment of the FULL
    // corpus (ivfAssignCtes — flat below the gate, two-level routing
    // above), flat query probes, exact re-rank with the ann_topk
    // conventions
    "ann_ivf" -> {
      val ss = operators.SimilaritySearch
      val cN = s"c${operators.Clustering.KmeansIters}"
      s"""WITH ${ivfTrainedCtes()},
        |${ivfAssignCtes("e", cN, "cells")},
        |q AS (SELECT vec_id AS qid FROM e
        |  WHERE vec_id % 50 = 0 AND vec_id < ${50L * ss.MaxQueries}),
        |qp AS (SELECT qid, cid FROM (
        |    SELECT q.qid, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(eq.v, c.cv) DESC, c.cid) AS rk
        |    FROM q JOIN e eq ON eq.vec_id = q.qid, $cN c)
        |  WHERE rk <= 4),
        |scd AS (SELECT qp.qid, cells.vec_id,
        |    list_cosine_similarity(eq.v, ec.v) AS rawsim
        |  FROM cells JOIN qp ON cells.cid = qp.cid
        |    JOIN e eq ON eq.vec_id = qp.qid
        |    JOIN e ec ON ec.vec_id = cells.vec_id
        |  WHERE cells.vec_id <> qp.qid),
        |r AS (SELECT qid, vec_id, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rawsim DESC, vec_id) AS rk
        |  FROM scd)
        |SELECT qid, vec_id AS nid, CAST(rk AS BIGINT) AS rank, ROUND(rawsim, 6) AS sim
        |FROM r WHERE rk <= 10
        |ORDER BY qid, rank""".stripMargin
    },

    // incremental IVF maintenance (round-11 promotion): the trained
    // quantizer over the OLD snapshot only, both snapshots assigned
    // against its frozen centroids via the gate-conditional
    // ivfAssignCtes replay, integer growth/rebalance card
    "ann_incremental" -> {
      val cN = s"c${operators.Clustering.KmeansIters}"
      s"""WITH ${ivfTrainedCtes("old",
          "\n      |old AS (SELECT * FROM e WHERE vec_id % 5 <> 4),")},
        |neu AS (SELECT * FROM e WHERE vec_id % 5 = 4),
        |${ivfAssignCtes("old", cN, "ao")},
        |${ivfAssignCtes("neu", cN, "an")},
        |oc AS (SELECT cid, COUNT(*) AS old_n FROM ao GROUP BY 1),
        |ncn AS (SELECT cid, COUNT(*) AS new_n FROM an GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM old) AS ot,
        |    (SELECT COUNT(*) FROM neu) AS nt),
        |opm AS (SELECT CASE WHEN ot > 0 THEN nt * 1000000 // ot ELSE 0 END AS p
        |  FROM tot)
        |SELECT COALESCE(oc.cid, ncn.cid) AS cid,
        |  CAST(COALESCE(old_n, 0) AS BIGINT) AS old_n,
        |  CAST(COALESCE(new_n, 0) AS BIGINT) AS new_n,
        |  CAST(COALESCE(new_n, 0) * 1000000
        |    // GREATEST(COALESCE(old_n, 0), 1) AS BIGINT) AS growth_ppm,
        |  CAST(COALESCE(new_n, 0) * 1000000
        |    // GREATEST(COALESCE(old_n, 0), 1) > 2 * (SELECT p FROM opm)
        |    AS BIGINT) AS rebalance
        |FROM oc FULL OUTER JOIN ncn ON oc.cid = ncn.cid
        |ORDER BY cid""".stripMargin
    },

    // the untrained IVF index replayed end to end (round-11
    // promotion): stride seeds under the cell law, flat cosine
    // assignment and probing (the proven list_cosine_similarity
    // fold), exact re-rank with the ann_topk conventions
    "ann_ivf_stride" ->
      s"""WITH ${ivfStrideCtes(4)},
        |sc AS (SELECT qp.qid, cells.vec_id,
        |    list_cosine_similarity(eq.v, ec.v) AS rawsim
        |  FROM cells JOIN qp ON cells.cid = qp.cid
        |    JOIN e eq ON eq.vec_id = qp.qid
        |    JOIN e ec ON ec.vec_id = cells.vec_id
        |  WHERE cells.vec_id <> qp.qid),
        |r AS (SELECT qid, vec_id, rawsim,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rawsim DESC, vec_id) AS rk
        |  FROM sc)
        |SELECT qid, vec_id AS nid, CAST(rk AS BIGINT) AS rank, ROUND(rawsim, 6) AS sim
        |FROM r WHERE rk <= 10
        |ORDER BY qid, rank""".stripMargin,

    // ADC over PQ codes + exact refine, ALL integer (round-11
    // promotion): the `d` relation doubles as the per-vector code
    // argmin and the per-query ADC distance table (PQDistTable
    // computes exactly these rows), so the whole index is one
    // lattice-exact rebuild
    "ann_pq" -> {
      val ss = operators.SimilaritySearch
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * ${ss.PQLattice.toLong} + 0.5) AS BIGINT)) AS lv
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (SELECT vec_id AS qid FROM e
        |  WHERE vec_id % 50 = 0 AND vec_id < ${50L * ss.MaxQueries}),
        |$pqCtes,
        |adc AS (SELECT dq.vec_id AS qid, c.vec_id, SUM(dq.dist) AS adist
        |  FROM codes c
        |  JOIN d dq ON dq.m = c.m AND dq.j = c.code
        |  JOIN q ON dq.vec_id = q.qid
        |  WHERE c.vec_id <> dq.vec_id
        |  GROUP BY 1, 2),
        |${pqRefineTail(10, 4)}""".stripMargin
    },

    // the composed IVF+ADC index (round-11 promotion): untrained
    // stride cells route both the stored codes and the query probes;
    // ADC scores only the probed cells; exact integer refine
    "ann_ivf_pq" ->
      s"""WITH ${ivfStrideCtes(4)},
        |$pqCtes,
        |adc AS (SELECT qp.qid, c.vec_id, SUM(dq.dist) AS adist
        |  FROM cells JOIN qp ON cells.cid = qp.cid
        |  JOIN codes c ON c.vec_id = cells.vec_id
        |  JOIN d dq ON dq.vec_id = qp.qid AND dq.m = c.m AND dq.j = c.code
        |  WHERE cells.vec_id <> qp.qid
        |  GROUP BY 1, 2),
        |${pqRefineTail(10, 4)}""".stripMargin,

    // the ann_topk scan without the top-k: threshold on the rounded
    // cosine (ulp-stable cut on both engines)
    "ann_radius" -> {
      val t = operators.SimilaritySearch.RadiusSimThreshold
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < 1600),
        |s AS (
        |  SELECT qid, vec_id AS nid,
        |    ROUND(list_cosine_similarity(qv, embedding::DOUBLE[]), 6) AS sim
        |  FROM q, embeddings WHERE vec_id <> qid)
        |SELECT qid, nid, sim FROM s WHERE sim >= $t
        |ORDER BY qid, sim DESC, nid""".stripMargin
    },

    // both snapshots derive from the same fixture moduli, status by
    // full-outer presence + fingerprint compare; snapshot ids are
    // parity-encoded (real = 2·id, fixture-added = 2·id+1 — the
    // retired-offset recipe), moduli classify on the RAW id
    "corpus_diff" -> {
      import operators.Curation.{DiffAddMod, DiffEditMod, DiffRemoveMod}
      val norm2 = normSql.replace("lower(text)", "lower(text2)")
      s"""WITH v2d AS (
        |  SELECT doc_id * 2 AS doc_id,
        |    CASE WHEN doc_id % $DiffEditMod = 3 THEN text || ' v2 edit'
        |      ELSE text END AS text2
        |  FROM documents WHERE doc_id % $DiffRemoveMod <> 5
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, text || ' brand new'
        |  FROM documents WHERE doc_id % $DiffAddMod = 2),
        |v1 AS (SELECT doc_id * 2 AS doc_id, md5($normSql) AS fp1 FROM documents),
        |v2 AS (SELECT doc_id, md5($norm2) AS fp2 FROM v2d)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN fp2 IS NULL THEN 'removed'
        |    WHEN fp1 IS NULL THEN 'added'
        |    WHEN fp1 <> fp2 THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  COALESCE(fp2, fp1) AS fingerprint
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin
    },

    // same stub-PCM lattice: frame energies via list folds, delta
    // bits via LEAD, both engines on pure integer arithmetic
    "mm_audio_fp" -> {
      import graft.multimodal.Multimodal.{AudioFrame, AudioMinSamples, AudioSamplesMod}
      s"""WITH d AS (SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |p AS (SELECT doc_id, fp60,
        |    fp60 % $AudioSamplesMod + $AudioMinSamples AS n_samples,
        |    (fp60 % $AudioSamplesMod + $AudioMinSamples) // $AudioFrame AS n_frames
        |  FROM d),
        |e AS (SELECT doc_id, n_samples, n_frames, t.f AS f,
        |    list_sum(list_transform(
        |      range(t.f * $AudioFrame, t.f * $AudioFrame + $AudioFrame),
        |      x -> ABS((fp60 + 37 * x + (x * x) % 97) % 65536 - 32768))) AS en
        |  FROM p, unnest(range(0, n_frames)) AS t(f)),
        |w AS (SELECT doc_id, n_samples, n_frames, f, en,
        |    LEAD(en) OVER (PARTITION BY doc_id ORDER BY f) AS en_next
        |  FROM e)
        |SELECT doc_id, CAST(MAX(n_samples) AS BIGINT) AS n_samples,
        |  CAST(MAX(n_frames) AS BIGINT) AS n_frames,
        |  CAST(SUM(CASE WHEN en_next IS NOT NULL AND en_next > en
        |    THEN (CAST(1 AS BIGINT) << CAST(f AS INT)) ELSE 0 END) AS BIGINT) AS afp,
        |  CAST(SUM((f + 1) * en) AS BIGINT) AS energy_checksum
        |FROM w GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    },

    "mm_meta" ->
      s"""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  fp60 % 640 + 1 AS stub_width,
        |  (fp60 // 640) % 480 + 1 AS stub_height
        |FROM (SELECT doc_id, text, ${hash60Sql(normSql)} AS fp60 FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // same stub-pixel lattice as mm_resize, dHash gradient bits, and
    // the pigeonhole block join replicated relationally
    "mm_phash" -> {
      val m = graft.multimodal.Multimodal
      val phash = s"list_sum(flatten(list_transform(range(0, ${m.PHashDim}), j -> " +
        s"list_transform(range(0, ${m.PHashDim - 1}), i -> " +
        s"CASE WHEN cells[j + 1][i + 2] > cells[j + 1][i + 1] " +
        s"THEN (1::BIGINT << (${m.PHashDim - 1} * j + i)) ELSE 0 END))))"
      s"""WITH h AS (SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |d AS (
        |  SELECT doc_id, fp60,
        |    fp60 % ${m.ResizeSrcWMod} + ${m.ResizeSrcMin} AS src_w,
        |    (fp60 // ${m.ResizeSrcWMod}) % ${m.ResizeSrcHMod} + ${m.ResizeSrcMin} AS src_h
        |  FROM h),
        |c AS (SELECT doc_id, ${m.phashCellsSql} AS cells FROM d),
        |ph AS (SELECT doc_id, CAST($phash AS BIGINT) AS phash FROM c),
        |blk AS (
        |  SELECT doc_id, phash, b,
        |    (phash >> (b * ${m.PHashBlockBits})) % ${1 << m.PHashBlockBits} AS key
        |  FROM ph, range(0, ${m.PHashBlocks}) t(b)),
        |prs AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS o
        |  FROM blk x JOIN blk y ON x.b = y.b AND x.key = y.key AND x.doc_id <> y.doc_id
        |  WHERE bit_count(xor(x.phash, y.phash)) <= 3),
        |cnt AS (SELECT a AS doc_id, count(*) AS n FROM prs GROUP BY a)
        |SELECT p.doc_id, p.phash, CAST(coalesce(c2.n, 0) AS BIGINT) AS n_near_dups
        |FROM ph p LEFT JOIN cnt c2 ON p.doc_id = c2.doc_id
        |ORDER BY p.doc_id""".stripMargin
    },

    // same fake-video metadata arithmetic, range() for the stride walk
    "mm_frames" -> {
      val target = graft.multimodal.Multimodal.FrameTargetSamples
      s"""WITH m AS (
        |  SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |v AS (
        |  SELECT doc_id, fp60 % 120000 + 1000 AS duration_ms,
        |    (fp60 // 7) % 30 + 1 AS fps
        |  FROM m),
        |s AS (
        |  SELECT doc_id, fps, (duration_ms * fps) // 1000 AS n_frames_total,
        |    (((duration_ms * fps) // 1000) + ${target - 1}) // $target AS stride
        |  FROM v)
        |SELECT doc_id, n_frames_total, stride,
        |  CAST(fi AS BIGINT) AS frame_idx,
        |  (CAST(fi AS BIGINT) * 1000) // fps AS frame_ts_ms
        |FROM s, unnest(range(0, n_frames_total, stride)) AS t(fi)
        |ORDER BY doc_id, frame_idx""".stripMargin
    },

    // same schedule CTEs as mm_frames + the per-scene stub signature
    // and the LAG/running-sum cut segmentation
    "mm_scenes" -> {
      val target = graft.multimodal.Multimodal.FrameTargetSamples
      val sceneMs = graft.multimodal.Multimodal.SceneMs
      val sigSql = hash60Sql(
        "'scene:' || CAST(fp60 AS VARCHAR) || ':' || CAST(frame_ts_ms // " +
          sceneMs + " AS VARCHAR)")
      s"""WITH m AS (
        |  SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |v AS (
        |  SELECT doc_id, fp60, fp60 % 120000 + 1000 AS duration_ms,
        |    (fp60 // 7) % 30 + 1 AS fps
        |  FROM m),
        |s AS (
        |  SELECT doc_id, fp60, fps, (duration_ms * fps) // 1000 AS n_frames_total,
        |    (((duration_ms * fps) // 1000) + ${target - 1}) // $target AS stride
        |  FROM v),
        |f AS (
        |  SELECT doc_id, fp60, CAST(fi AS BIGINT) AS frame_idx,
        |    (CAST(fi AS BIGINT) * 1000) // fps AS frame_ts_ms
        |  FROM s, unnest(range(0, n_frames_total, stride)) AS t(fi)),
        |g AS (SELECT doc_id, frame_idx, frame_ts_ms, $sigSql AS frame_sig FROM f),
        |h AS (SELECT *, LAG(frame_sig) OVER (PARTITION BY doc_id
        |    ORDER BY frame_idx) AS prev FROM g)
        |SELECT doc_id, frame_idx, frame_ts_ms, frame_sig,
        |  CAST(prev IS NOT NULL AND prev <> frame_sig AS BIGINT) AS is_cut,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> frame_sig
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
        |    ORDER BY frame_idx ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_no
        |FROM h ORDER BY doc_id, frame_idx""".stripMargin
    },

    // tie-free ordering: every rank function deterministic, the
    // ratios are pure IEEE divisions on identical row positions
    "q41_rank_funcs" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w + 1e-9, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w + 1e-9, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,

    // integer epoch-day order key + DECIMAL money sum: the RANGE
    // frame arithmetic is identical in both engines
    "q42_range_frame" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |      AS day_num,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, day_num,
        |  CAST(SUM(p) OVER w AS DOUBLE) AS spend_30d,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // full resize arithmetic replicated: same geometry, same stub
    // pixel lattice, HUGEINT-safe with final BIGINT casts
    "mm_resize" -> {
      val m = graft.multimodal.Multimodal
      s"""WITH h AS (SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |d AS (
        |  SELECT doc_id, fp60,
        |    fp60 % ${m.ResizeSrcWMod} + ${m.ResizeSrcMin} AS src_w,
        |    (fp60 // ${m.ResizeSrcWMod}) % ${m.ResizeSrcHMod} + ${m.ResizeSrcMin} AS src_h
        |  FROM h)
        |SELECT doc_id, src_w, src_h,
        |  CAST(${m.boxSql("0", "0")} AS BIGINT) AS r00,
        |  CAST(${m.boxSql((m.ResizeOutDim - 1).toString, (m.ResizeOutDim - 1).toString)} AS BIGINT) AS r77,
        |  CAST(list_sum(list_transform(range(0, ${m.ResizeOutDim}), i ->
        |    list_sum(list_transform(range(0, ${m.ResizeOutDim}), j ->
        |      (${m.ResizeOutDim} * i + j + 1) * ${m.boxSql("i", "j")})))) AS BIGINT) AS checksum
        |FROM d
        |ORDER BY doc_id""".stripMargin
    },

    // identical fixture + capture-free rewrite chain ('g' flag: DuckDB
    // replaces first match by default, Java replaces all)
    "url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Www.' || source || '.EXAMPLE.com:80'
        |          ELSE 'HTTPS://WWW.' || source || '.Example.COM:443' END)
        |    || '/News/Item-' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?id=' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 <> 0 THEN '&utm_source=rss&fbclid=x1Y2' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, url,
        |    regexp_extract(regexp_replace(url, '#.*$', '', 'g'), '^[A-Za-z]+://[^/?#]*') AS pre,
        |    substr(regexp_replace(url, '#.*$', '', 'g'),
        |      length(regexp_extract(regexp_replace(url, '#.*$', '', 'g'), '^[A-Za-z]+://[^/?#]*')) + 1) AS rest
        |  FROM u),
        |n AS (
        |  SELECT doc_id, url,
        |    regexp_replace(
        |      CASE WHEN lower(pre) LIKE 'http://%' THEN regexp_replace(lower(pre), ':80$', '', 'g')
        |           ELSE regexp_replace(lower(pre), ':443$', '', 'g') END,
        |      '://www\.', '://', 'g') ||
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(rest,
        |        '&(utm_[a-z]+|fbclid)=[^&]*', '', 'g'),
        |        '\?(utm_[a-z]+|fbclid)=[^&]*&', '?', 'g'),
        |        '\?(utm_[a-z]+|fbclid)=[^&]*$', '', 'g'),
        |      '/\?', '?', 'g'), '/$', '', 'g') AS url_norm
        |  FROM q)
        |SELECT doc_id, url, url_norm, md5(url_norm) AS url_key,
        |  MIN(doc_id) OVER (PARTITION BY url_norm) AS keep_id,
        |  COUNT(*) OVER (PARTITION BY url_norm) AS n_dups,
        |  CAST(doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS BIGINT) AS is_canonical
        |FROM n
        |ORDER BY doc_id""".stripMargin,

    "vec_quant" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), s AS (
        |  SELECT vec_id, v,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM e
        |)
        |SELECT vec_id,
        |  ROUND(sqrt(list_dot_product(v, v)), 6) AS norm,
        |  array_to_string(list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)), ',') AS q
        |FROM s WHERE isfinite(scale)
        |ORDER BY vec_id""".stripMargin,

    // integer-lattice PQ assignment (ann_pq itself is rows-only: ADC
    // is approximate; its recall bound lives in DedupAnnSpec)
    "pq_codes" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS lv
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), cb AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, lv AS cv
        |  FROM (SELECT vec_id, lv FROM e ORDER BY vec_id LIMIT 16)
        |), ms AS (SELECT unnest(range(0, 8)) AS m),
        |d AS (
        |  SELECT e.vec_id, ms.m, cb.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (e.lv[ms.m*8+i] - cb.cv[ms.m*8+i]) * (e.lv[ms.m*8+i] - cb.cv[ms.m*8+i])))
        |      AS dist
        |  FROM e CROSS JOIN ms CROSS JOIN cb
        |), a AS (
        |  SELECT vec_id, m, j,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rk
        |  FROM d)
        |SELECT vec_id, string_agg(CAST(j AS VARCHAR), ',' ORDER BY m) AS q
        |FROM a WHERE rk = 1
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,

    "sample_quota" ->
      s"""WITH b AS (
        |  SELECT doc_id, lang,
        |    ${hash60Sql("'quota:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, bucket,
        |    row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rk
        |  FROM b
        |)
        |SELECT doc_id, lang, bucket FROM r WHERE rk <= 40
        |ORDER BY lang, bucket, doc_id""".stripMargin,

    // hashing-trick vector, integer-exact: same bucket/sign hashes,
    // same signed counts, same squared norm — list dialect
    "doc_embed" -> {
      val dim = graft.operators.Curation.EmbedDim
      s"""WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split($normSql, ' '), x -> x <> '') AS ws
        |  FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    list_transform(ws, x -> struct_pack(
        |      b := ${hash60Sql("'emb:' || x")} % $dim,
        |      s := CASE WHEN ${hash60Sql("'sgn:' || x")} % 2 = 0 THEN 1 ELSE -1 END)) AS bs
        |  FROM w
        |), v AS (
        |  SELECT doc_id,
        |    list_transform(range(0, $dim), i ->
        |      coalesce(list_sum(list_transform(list_filter(bs, e -> e.b = i), e -> e.s)), 0)) AS vec
        |  FROM b
        |)
        |SELECT doc_id,
        |  list_aggregate(list_transform(vec, x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS vec_str,
        |  CAST(coalesce(list_sum(list_transform(vec, x -> x * x)), 0) AS BIGINT) AS n2
        |FROM v
        |ORDER BY doc_id""".stripMargin
    },

    // the bottom-k sketch is definitionally this window query — the
    // engine runs it as a mergeable aggregate instead of a full sort
    // the E-S rank's integer binary logarithm unrolled: 40
    // square-and-compare rounds over HUGEINT (m² < 2¹²⁶ fits), the
    // EsRankLat spec verbatim — bitlength via length(bin(U)), mantissa
    // shift as a BIGINT multiply, `//` ≡ the JVM's truncating shifts
    // and BigInteger division on positives; the weight is the
    // oracle-proven 4-decimal quality score in 10⁻⁴ units
    "sample_weighted" -> {
      import operators.Curation.{WeightedK, WeightFloorQ4}
      val ln2q4 = graft.functions.EsRankLat.Ln2Q40 * 10000L
      val p125 = java.math.BigInteger.ONE.shiftLeft(125).toString
      val p63 = java.math.BigInteger.ONE.shiftLeft(63).toString
      val p62 = java.math.BigInteger.ONE.shiftLeft(62).toString
      val steps = (1 to 40).map { i =>
        s"""s$i AS (SELECT doc_id, lang, wq4, e,
          |    CASE WHEN mm >= $p125 THEN mm // $p63 ELSE mm // $p62 END AS m,
          |    f * 2 + CASE WHEN mm >= $p125 THEN 1 ELSE 0 END AS f
          |  FROM (SELECT *, m * m AS mm FROM s${i - 1}))""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
        |  SELECT doc_id, lang, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents),
        |sw AS (SELECT doc_id, lang,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio,
        |    n_words
        |  FROM q),
        |sc AS (SELECT doc_id, lang,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM sw),
        |s0 AS (SELECT doc_id, lang,
        |    GREATEST(CAST(ROUND(score * 10000, 0) AS BIGINT), $WeightFloorQ4) AS wq4,
        |    length(bin(u)) AS e,
        |    CAST(u * (CAST(1 AS BIGINT) << (63 - length(bin(u)))) AS HUGEINT) AS m,
        |    CAST(0 AS BIGINT) AS f
        |  FROM (SELECT doc_id, lang, score,
        |      (${hash60Sql("CAST(doc_id AS VARCHAR)")} >> 7) + 1 AS u
        |    FROM sc)),
        |$steps,
        |rk AS (SELECT doc_id, lang,
        |    CAST((CAST(54 - e AS HUGEINT) * 1099511627776 - f) * $ln2q4
        |      // (CAST(wq4 AS HUGEINT) * 1099511627776) AS BIGINT) AS esr
        |  FROM s40),
        |r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY esr, doc_id) AS rn
        |  FROM rk)
        |SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id
        |FROM r WHERE rn <= $WeightedK
        |ORDER BY lang, rank""".stripMargin
    },

    "sample_reservoir" ->
      s"""WITH h AS (
        |  SELECT lang, doc_id,
        |    ${hash60Sql("CAST(doc_id AS VARCHAR)")} AS hk
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h
        |)
        |SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id
        |FROM r WHERE rn <= ${graft.operators.Curation.ReservoirK}
        |ORDER BY lang, rank""".stripMargin,

    "doc_chunk" ->
      s"""WITH t AS (
        |  SELECT doc_id, $wordsSql AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 79) // 80 - 1)) AS chunk_id
        |  FROM t
        |)
        |SELECT doc_id, chunk_id,
        |  CAST(len(w[CAST(chunk_id*80+1 AS INT) : CAST(chunk_id*80+100 AS INT)]) AS BIGINT)
        |    AS n_chunk_words,
        |  array_to_string(w[CAST(chunk_id*80+1 AS INT) : CAST(chunk_id*80+100 AS INT)], ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "seq_pack" ->
      s"""WITH t AS (
        |  SELECT doc_id, $wordsSql AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 79) // 80 - 1)) AS chunk_id
        |  FROM t
        |), ch AS (
        |  SELECT doc_id, chunk_id,
        |    CAST(len(w[CAST(chunk_id*80+1 AS INT) : CAST(chunk_id*80+100 AS INT)]) AS BIGINT)
        |      AS n_chunk_words
        |  FROM c
        |), p AS (
        |  SELECT doc_id, chunk_id, n_chunk_words,
        |    SUM(n_chunk_words) OVER (ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ch
        |)
        |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_chunk_words) AS BIGINT) AS n_words,
        |  MIN(CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_id AS VARCHAR)) AS first_chunk
        |FROM (SELECT *, CAST(ceil(CAST(cum AS DOUBLE) / 256) AS BIGINT) - 1 AS pack_id FROM p)
        |GROUP BY pack_id
        |ORDER BY pack_id""".stripMargin,

    "decontaminate" ->
      s"""WITH $ngramCtes,
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 3),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 3),
        |dsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM tr GROUP BY 1),
        |dov AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1)
        |SELECT dsz.doc_id, dsz.n_shingles,
        |  CAST(COALESCE(dov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(COALESCE(dov.n_overlap, 0) * 4 >= dsz.n_shingles AS BIGINT) AS contaminated
        |FROM dsz LEFT JOIN dov ON dsz.doc_id = dov.doc_id
        |ORDER BY dsz.doc_id""".stripMargin,

    // the benchmark-side mirror: per EVAL doc's exposure to train
    "ngram_coverage" ->
      s"""WITH $ngramCtes,
        |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 <> 3),
        |ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 3),
        |esz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        |  FROM ev GROUP BY 1),
        |ef AS (SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_found
        |  FROM ev JOIN tr ON ev.shingle = tr.shingle GROUP BY 1)
        |SELECT esz.doc_id, esz.n_shingles,
        |  CAST(COALESCE(ef.n_found, 0) AS BIGINT) AS n_found,
        |  CAST(COALESCE(ef.n_found, 0) * 1000000 // esz.n_shingles
        |    AS BIGINT) AS coverage_ppm,
        |  CASE WHEN COALESCE(ef.n_found, 0) = esz.n_shingles THEN 'full'
        |       WHEN COALESCE(ef.n_found, 0) > 0 THEN 'partial'
        |       ELSE 'clean' END AS exposure
        |FROM esz LEFT JOIN ef ON esz.doc_id = ef.doc_id
        |ORDER BY esz.doc_id""".stripMargin,

    // Bloom filter rebuilt relationally: ONE md5 per shingle with the
    // k Kirsch–Mitzenmacher double-hashed probes derived from it
    // (h1 = h >> 30, h2 = low 30 bits forced odd, probe_i = h1 + i·h2
    // mod bits), distinct position set, all-k-bits membership; the
    // bit count replays the integer [[operators.Text.bloomBits]] law
    // from COUNT(*) over the eval side (smallest power of two ≥
    // BloomBitsPerShingle·n, floor 2¹⁵, cap 2²⁷ — same
    // shift-compare both engines run exactly)
    "bloom_decontaminate" -> {
      import operators.Text.{BloomBitsPerShingle, BloomK}
      val h = hash60Sql("'bl|' || shingle")
      val probe = s"((h >> 30) + i * ((h & 1073741823) | 1)) % (SELECT bits FROM bb)"
      s"""WITH $ngramCtes,
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 3),
        |nc AS (SELECT COUNT(*) AS n FROM ev),
        |bb AS (SELECT (CAST(1 AS BIGINT) << (SELECT MIN(b)
        |    FROM range(15, 28) t(b), nc
        |    WHERE (CAST(1 AS BIGINT) << b) >= $BloomBitsPerShingle * nc.n
        |      OR b = 27)) AS bits),
        |ks AS (SELECT unnest(range(0, $BloomK)) AS i),
        |eh AS (SELECT shingle, $h AS h FROM ev),
        |ep AS (SELECT DISTINCT $probe AS p FROM eh CROSS JOIN ks),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 17 <> 3),
        |dsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM tr GROUP BY 1),
        |th AS (SELECT doc_id, shingle, $h AS h FROM tr),
        |pb AS (SELECT doc_id, shingle, $probe AS p
        |  FROM th CROSS JOIN ks),
        |bh AS (SELECT doc_id, shingle FROM pb JOIN ep USING (p)
        |  GROUP BY 1, 2 HAVING COUNT(*) = $BloomK),
        |bl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits FROM bh GROUP BY 1),
        |dov AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY 1)
        |SELECT dsz.doc_id, dsz.n_shingles,
        |  CAST(COALESCE(bl.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
        |  CAST(COALESCE(dov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(COALESCE(bl.n_bloom_hits, 0) - COALESCE(dov.n_overlap, 0) AS BIGINT) AS n_false_pos,
        |  CAST(COALESCE(bl.n_bloom_hits, 0) * 4 >= dsz.n_shingles AS BIGINT) AS bloom_contaminated,
        |  CAST(COALESCE(dov.n_overlap, 0) * 4 >= dsz.n_shingles AS BIGINT) AS contaminated
        |FROM dsz
        |LEFT JOIN bl ON dsz.doc_id = bl.doc_id
        |LEFT JOIN dov ON dsz.doc_id = dov.doc_id
        |ORDER BY dsz.doc_id""".stripMargin
    },

    // same positional-marginal lift on DuckDB's HUGEINT; // is
    // integer division (both engines floor an exact rational)
    "word_pmi" -> {
      import operators.Text.{PmiMinCount, PmiTopK}
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |pr AS (SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM d, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
        |p AS (SELECT w1, w2 FROM pr WHERE length(w1) > 0 AND length(w2) > 0),
        |pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM p GROUP BY 1, 2),
        |cf AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1_first FROM pc GROUP BY 1),
        |cs AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_w2_second FROM pc GROUP BY 1),
        |b AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b_total FROM pc)
        |SELECT pc.w1, pc.w2, pc.n_pair, cf.n_w1_first, cs.n_w2_second,
        |  CAST((CAST(pc.n_pair AS HUGEINT) * b.b_total * 1000000)
        |    // (CAST(cf.n_w1_first AS HUGEINT) * cs.n_w2_second) AS BIGINT) AS lift_ppm
        |FROM pc JOIN cf USING (w1) JOIN cs USING (w2) CROSS JOIN b
        |WHERE pc.n_pair >= $PmiMinCount
        |ORDER BY lift_ppm DESC, w1, w2
        |LIMIT $PmiTopK""".stripMargin
    },

    "rep_stats" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |wc AS (SELECT doc_id, unnest(w) AS word FROM d),
        |tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM wc GROUP BY doc_id, word),
        |top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c,
        |    CAST(SUM(c) AS BIGINT) AS n_words
        |  FROM tc GROUP BY doc_id),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM d),
        |gs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_gd
        |  FROM g GROUP BY doc_id),
        |f AS (
        |  SELECT top.doc_id, top.n_words,
        |    ROUND(CAST(top.top_c AS DOUBLE) / top.n_words + 1e-9, 4) AS top_word_frac,
        |    ROUND(COALESCE(CAST(gs.n_g - gs.n_gd AS DOUBLE) / gs.n_g, 0.0) + 1e-9, 4)
        |      AS dup_2gram_frac
        |  FROM top LEFT JOIN gs ON top.doc_id = gs.doc_id
        |)
        |SELECT doc_id, n_words, top_word_frac, dup_2gram_frac,
        |  CAST(top_word_frac > 0.3 OR dup_2gram_frac > 0.2 AS BIGINT) AS flagged
        |FROM f ORDER BY doc_id""".stripMargin,

    // shard count replays the autoShards law from COUNT(*) (floor 64,
    // ⌈n/1024⌉ docs per training shard, cap 2^20 — integer arithmetic
    // on both engines)
    "corpus_shuffle" -> {
      import operators.Curation.{ShuffleShards, ShuffleShardDocs, ShuffleMaxShards}
      s"""WITH k AS (SELECT LEAST($ShuffleMaxShards, GREATEST($ShuffleShards,
        |    (COUNT(*) + ${ShuffleShardDocs - 1}) // $ShuffleShardDocs)) AS sh
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    ${hash60Sql("'shuffle7:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |SELECT doc_id, h % (SELECT sh FROM k) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY h % (SELECT sh FROM k)
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin
    },

    "pii_scrub" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199 ' || text
        |    ELSE text END AS aug
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g') AS scrubbed
        |FROM a ORDER BY doc_id""".stripMargin,

    "tfidf" ->
      s"""WITH terms AS (
        |  SELECT doc_id, unnest($wordsSql) AS word FROM documents
        |), t2 AS (SELECT doc_id, word FROM terms WHERE word <> ''),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    (tf.tf * 1000000) // df.df AS score_ppm
        |  FROM tf JOIN df USING (word)
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, word) AS BIGINT) AS rk,
        |  word, tf, df, score_ppm
        |FROM s QUALIFY rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "dedup_lines" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '${operators.Text.BoilerLine} ' || text ELSE text END AS text
        |  FROM documents
        |), d AS (SELECT doc_id, $wordsSql AS w FROM aug),
        |l AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 19) // 20 - 1)) AS line_id
        |  FROM d WHERE len(w) > 0
        |), lt AS (
        |  SELECT doc_id, line_id,
        |    array_to_string(w[CAST(line_id*20+1 AS INT) : CAST(line_id*20+20 AS INT)], ' ')
        |      AS line_text
        |  FROM l
        |), r AS (
        |  SELECT doc_id, line_id, line_text,
        |    row_number() OVER (PARTITION BY line_text ORDER BY doc_id, line_id) AS rk
        |  FROM lt
        |), tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lt GROUP BY 1),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line_text, ' ' ORDER BY line_id) AS new_text
        |  FROM r WHERE rk = 1 GROUP BY 1)
        |SELECT doc.doc_id,
        |  CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(reb.new_text, '') AS new_text
        |FROM documents doc
        |LEFT JOIN tot ON doc.doc_id = tot.doc_id
        |LEFT JOIN reb ON doc.doc_id = reb.doc_id
        |ORDER BY doc.doc_id""".stripMargin,

    // INTRA-doc first-occurrence keep: row_number partitioned by
    // (doc_id, line_text) replicates the map-side prefix filter; the
    // fixture (BoilerLine twice on every 4th doc) matches in-query
    "rep_scrub" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % ${operators.Text.RepScrubMod} = 0
        |      THEN '${operators.Text.BoilerLine} ${operators.Text.BoilerLine} ' || text
        |      ELSE text END AS text
        |  FROM documents
        |), d AS (SELECT doc_id, $wordsSql AS w FROM aug),
        |l AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 19) // 20 - 1)) AS line_id
        |  FROM d WHERE len(w) > 0
        |), lt AS (
        |  SELECT doc_id, line_id,
        |    array_to_string(w[CAST(line_id*20+1 AS INT) : CAST(line_id*20+20 AS INT)], ' ')
        |      AS line_text
        |  FROM l
        |), r AS (
        |  SELECT doc_id, line_id, line_text,
        |    row_number() OVER (PARTITION BY doc_id, line_text ORDER BY line_id) AS rk
        |  FROM lt
        |), tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lt GROUP BY 1),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line_text, ' ' ORDER BY line_id) AS new_text
        |  FROM r WHERE rk = 1 GROUP BY 1)
        |SELECT doc.doc_id,
        |  CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(reb.new_text, '') AS new_text
        |FROM documents doc
        |LEFT JOIN tot ON doc.doc_id = tot.doc_id
        |LEFT JOIN reb ON doc.doc_id = reb.doc_id
        |ORDER BY doc.doc_id""".stripMargin,

    // batch ids parity-encoded (real = 2·id, echo = 2·id+1 — the
    // retired-offset recipe; monotone, so MIN semantics carry over)
    "dedup_incremental" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fingerprint FROM documents),
        |hist AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id * 2 AS doc_id, fingerprint FROM f WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS doc_id, fingerprint FROM f WHERE doc_id % 8 = 0
        |), fib AS (SELECT fingerprint, MIN(doc_id) AS first_id FROM batch GROUP BY 1)
        |SELECT b.doc_id, b.fingerprint,
        |  CASE WHEN hist.fingerprint IS NOT NULL THEN 'dup_history'
        |       WHEN b.doc_id <> fib.first_id THEN 'dup_batch'
        |       ELSE 'kept' END AS status
        |FROM batch b
        |LEFT JOIN hist ON b.fingerprint = hist.fingerprint
        |JOIN fib ON b.fingerprint = fib.fingerprint
        |ORDER BY b.doc_id""".stripMargin,

    "sample_mixture" -> {
      val shareCase = operators.Curation.MixtureSharesPpm
        .map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""WITH d AS (
        |  SELECT doc_id, lang, CAST(len($wordsSql) AS BIGINT) AS nw FROM documents
        |), caps AS (
        |  SELECT lang, SUM(nw) AS wl,
        |    CASE lang $shareCase ELSE 0 END AS sppm
        |  FROM d GROUP BY lang
        |), caps2 AS (SELECT * FROM caps WHERE sppm > 0),
        |t AS (SELECT MIN(wl * 1000000 // sppm) AS t FROM caps2),
        |rates AS (
        |  SELECT lang,
        |    least(1000000, CAST(CAST(sppm AS HUGEINT) * t.t // wl AS BIGINT)) AS rate_ppm
        |  FROM caps2, t)
        |SELECT d.doc_id, d.lang, d.nw,
        |  ${hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket,
        |  CAST(rates.rate_ppm AS BIGINT) AS rate_ppm
        |FROM d JOIN rates ON d.lang = rates.lang
        |WHERE ${hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000 < rates.rate_ppm
        |ORDER BY d.doc_id""".stripMargin
    },

    // the composed curation chain: every fragment mirrors an already-
    // hash-matched per-operator oracle, chained on survivors
    "pipeline_e2e" -> {
      val shareCase = operators.Curation.MixtureSharesPpm
        .map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""WITH e0 AS (
        |  SELECT doc_id, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents
        |), f0 AS (
        |  SELECT doc_id, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4)
        |      AS stopword_ratio
        |  FROM e0
        |), g0 AS (
        |  SELECT doc_id,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f0
        |), s1 AS (
        |  SELECT d.doc_id, d.text, d.lang FROM documents d
        |  JOIN g0 USING (doc_id) WHERE g0.score >= 0.3
        |), k2 AS (SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY md5($normSql)),
        |s2 AS (SELECT s1.* FROM s1 JOIN k2 USING (doc_id)),
        |d2 AS (SELECT doc_id, $wordsSql AS w FROM s2),
        |sh2 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM d2 WHERE len(w) >= 3
        |), ev AS (SELECT DISTINCT shingle FROM sh2 WHERE doc_id % 17 = 3),
        |tr AS (SELECT doc_id, shingle FROM sh2 WHERE doc_id % 17 <> 3),
        |dsz AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY 1),
        |dov AS (SELECT tr.doc_id, COUNT(*) AS o FROM tr JOIN ev USING (shingle) GROUP BY 1),
        |contam AS (
        |  SELECT dsz.doc_id FROM dsz LEFT JOIN dov USING (doc_id)
        |  WHERE COALESCE(dov.o, 0) * 4 >= dsz.n
        |), s3 AS (
        |  SELECT * FROM s2 WHERE doc_id % 17 <> 3
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |), d3 AS (SELECT doc_id, lang, CAST(len($wordsSql) AS BIGINT) AS nw FROM s3),
        |caps AS (
        |  SELECT lang, SUM(nw) AS wl, CASE lang $shareCase ELSE 0 END AS sppm
        |  FROM d3 GROUP BY lang
        |), caps2 AS (SELECT * FROM caps WHERE sppm > 0),
        |tm AS (SELECT MIN(wl * 1000000 // sppm) AS t FROM caps2),
        |rates AS (
        |  SELECT lang,
        |    least(1000000, CAST(CAST(sppm AS HUGEINT) * tm.t // wl AS BIGINT)) AS rate_ppm
        |  FROM caps2, tm
        |), s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  JOIN d3 USING (doc_id) JOIN rates ON d3.lang = rates.lang
        |  WHERE ${hash60Sql("'mix:' || CAST(s3.doc_id AS VARCHAR)")} % 1000000 < rates.rate_ppm
        |), t4 AS (SELECT doc_id, $wordsSql AS w FROM s4),
        |c4 AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, (len(w) + 79) // 80 - 1)) AS chunk_id
        |  FROM t4
        |), ch AS (
        |  SELECT doc_id, chunk_id,
        |    CAST(len(w[CAST(chunk_id*80+1 AS INT) : CAST(chunk_id*80+100 AS INT)]) AS BIGINT)
        |      AS n_chunk_words
        |  FROM c4
        |), p AS (
        |  SELECT doc_id, chunk_id, n_chunk_words,
        |    SUM(n_chunk_words) OVER (ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ch
        |)
        |SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_chunk_words) AS BIGINT) AS n_words,
        |  MIN(CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_id AS VARCHAR)) AS first_chunk
        |FROM (SELECT *, CAST(ceil(CAST(cum AS DOUBLE) / 256) AS BIGINT) - 1 AS pack_id FROM p)
        |GROUP BY pack_id
        |ORDER BY pack_id""".stripMargin
    },

    "sample_stratified" ->
      s"""WITH b AS (
        |  SELECT doc_id, lang,
        |    ${hash60Sql("'smpl:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 150000 WHEN 'zh' THEN 500000
        |  WHEN 'es' THEN 500000 WHEN 'de' THEN 500000 WHEN 'fr' THEN 500000
        |  ELSE 0 END
        |ORDER BY doc_id""".stripMargin,

    // add-one-smoothed bigram LM on the ppm lattice; HUGEINT mirrors
    // the Spark side's DECIMAL(38,0) overflow guard
    "lm_score" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |bi AS (
        |  SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        |  FROM d, unnest(range(1, len(w))) AS t(i)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM bi),
        |m AS (
        |  SELECT c2.w1, c2.w2,
        |    CAST(CAST(c2.c2 + 1 AS HUGEINT) * 1000000 // (c1.c1 + v.vocab) AS BIGINT) AS p_ppm
        |  FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v)
        |SELECT bi.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(SUM(p_ppm) AS HUGEINT) // COUNT(*) AS BIGINT) AS lm_ppm
        |FROM bi JOIN m ON bi.w1 = m.w1 AND bi.w2 = m.w2
        |GROUP BY bi.doc_id
        |ORDER BY bi.doc_id""".stripMargin,

    // CCNet tertiles: lm_score's CTEs verbatim, then exact per-lang
    // order-statistic thresholds from a (lang, lm_ppm) histogram —
    // t_k = the largest score whose descending cumulative count
    // reaches ceil(k*n/3); ties bucket upward on both engines
    "ccnet_buckets" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |bi AS (
        |  SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
        |  FROM d, unnest(range(1, len(w))) AS t(i)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w2) AS vocab FROM bi),
        |m AS (
        |  SELECT c2.w1, c2.w2,
        |    CAST(CAST(c2.c2 + 1 AS HUGEINT) * 1000000 // (c1.c1 + v.vocab) AS BIGINT) AS p_ppm
        |  FROM c2 JOIN c1 ON c2.w1 = c1.w1 CROSS JOIN v),
        |s AS (
        |  SELECT bi.doc_id,
        |    CAST(CAST(SUM(p_ppm) AS HUGEINT) // COUNT(*) AS BIGINT) AS lm_ppm
        |  FROM bi JOIN m ON bi.w1 = m.w1 AND bi.w2 = m.w2
        |  GROUP BY bi.doc_id),
        |sc AS (
        |  SELECT s.doc_id, doc.lang, s.lm_ppm
        |  FROM s JOIN documents doc ON s.doc_id = doc.doc_id),
        |hist AS (SELECT lang, lm_ppm, COUNT(*) AS c FROM sc GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, lm_ppm,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY lm_ppm DESC
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |n AS (SELECT lang, COUNT(*) AS n FROM sc GROUP BY 1),
        |th AS (
        |  SELECT cum.lang,
        |    MAX(CASE WHEN cum >= (n + 2) // 3 THEN lm_ppm END) AS t1,
        |    MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_ppm END) AS t2
        |  FROM cum JOIN n ON cum.lang = n.lang GROUP BY 1)
        |SELECT sc.doc_id, sc.lang, sc.lm_ppm,
        |  CASE WHEN sc.lm_ppm >= t1 THEN 'head'
        |       WHEN sc.lm_ppm >= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc JOIN th ON sc.lang = th.lang
        |ORDER BY sc.doc_id""".stripMargin,

    // hashed-2-gram importance ratios against the high-quality slice
    // (score CTE identical to quality_score's — the shared definition)
    "dsir_select" ->
      s"""WITH e AS (
        |  SELECT doc_id, lang, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words
        |  FROM documents),
        |f AS (SELECT doc_id, lang, w, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e),
        |q AS (SELECT doc_id, lang, w,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f),
        |g AS (
        |  SELECT doc_id, lang, score >= 0.6 AS is_target,
        |    ${hash60Sql("w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]")}
        |      % ${operators.LangModel.DsirBuckets} AS b
        |  FROM q, unnest(range(1, len(w))) AS t(i)),
        |raw AS (SELECT b, COUNT(*) AS cr FROM g GROUP BY 1),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM g WHERE is_target GROUP BY 1),
        |r AS (
        |  SELECT raw.b,
        |    CAST(CAST(COALESCE(ct, 0) + 1 AS HUGEINT) * 1000000 // (cr + 1) AS BIGINT) AS r_ppm
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
        |wt AS (
        |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(CAST(SUM(r_ppm) AS HUGEINT) // COUNT(*) AS BIGINT) AS dsir_ppm
        |  FROM g JOIN r USING (b) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_grams, dsir_ppm,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dsir_ppm DESC, doc_id)
        |    <= ${operators.LangModel.DsirQuota} AS BIGINT) AS selected
        |FROM wt
        |ORDER BY doc_id""".stripMargin,

    // lower median at rank ⌈n/2⌉ — a selected element, never an
    // interpolated float, so median and MAD are integer-exact
    "q26_anomaly" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS micro
        |  FROM events),
        |r1 AS (
        |  SELECT user_id, event_id, micro,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY micro, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM e),
        |med AS (SELECT user_id, micro AS med FROM r1 WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT e.user_id, e.event_id, e.micro, med.med,
        |    abs(e.micro - med.med) AS dev
        |  FROM e JOIN med USING (user_id)),
        |r2 AS (
        |  SELECT user_id, event_id, dev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM d),
        |mad AS (SELECT user_id, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.user_id, d.event_id, d.micro, d.med, d.dev, mad.mad,
        |  CAST(d.dev * 2 > mad.mad * 9 AS BIGINT) AS anomaly
        |FROM d JOIN mad USING (user_id)
        |ORDER BY d.user_id, d.event_id""".stripMargin,

    // frames explicit for the first/last/nth family; the rank-family
    // ratios are divisions of identical integers → identical doubles
    "q27_window_pack" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  first_value(o_orderkey) OVER wf AS top_key,
        |  last_value(o_orderkey) OVER wf AS bottom_key,
        |  nth_value(o_orderkey, 2) OVER wf AS runnerup_key,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey),
        |  wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,

    // independent formulation: the correlated subqueries decorrelated
    // BY HAND into the per-custkey aggregate + join Catalyst derives
    "q28_correlated" ->
      """WITH s AS (
        |  SELECT o_custkey AS ck, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice, cnt AS n_cust_orders
        |FROM orders JOIN s ON o_custkey = ck
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * cnt > total_cents
        |ORDER BY o_orderkey""".stripMargin,

    // the 2⁰…2¹⁹ kernel weights injected from the Scala constant;
    // num/den fold on BIGINT, final ewma_cents by integer division
    "q30_ewma" -> {
      val k = operators.Relational.EwmaDepth
      val pows = (0 until k).map(1L << _).mkString("[", ", ", "]")
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |f AS (
        |  SELECT user_id, event_id, ts_ms, cents,
        |    list(cents) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW) AS frame
        |  FROM e)
        |SELECT user_id, event_id, ts_ms, cents,
        |  CAST(len(frame) AS BIGINT) AS n_terms,
        |  CAST(list_sum(list_transform(range(1, len(frame) + 1),
        |      i -> frame[CAST(i AS INT)] * ($pows)[CAST(i AS INT)]))
        |    // ((CAST(1 AS BIGINT) << len(frame)) - 1) AS BIGINT) AS ewma_cents
        |FROM f
        |ORDER BY user_id, ts_ms, event_id""".stripMargin
    },

    // every moment an exact DECIMAL(38) integer; only the final
    // sqrt/divide in double — identical integers → identical doubles
    "q31_stats" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(hour(ts) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_rows,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
        |  FROM e GROUP BY 1),
        |b AS (
        |  SELECT event_type, n_rows, sx, sy,
        |    CAST(n_rows AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS num,
        |    CAST(n_rows AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS dx,
        |    CAST(n_rows AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS dy
        |  FROM a)
        |SELECT event_type, n_rows, sx, sy,
        |  CAST(num AS DOUBLE) / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))) AS corr_value_hour,
        |  sqrt(CAST(dx AS DOUBLE)) / CAST(n_rows AS DOUBLE) AS stddev_cents
        |FROM b
        |ORDER BY event_type""".stripMargin,

    // running-max island detection: a long interval can swallow
    // several successors, hence max over ALL preceding ends
    "q32_intervals" -> {
      val len = operators.Relational.IntervalLenMs
      s"""WITH iv AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS start_ms,
        |    epoch_ms(ts) + $len AS end_ms
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, start_ms, end_ms,
        |    MAX(end_ms) OVER (PARTITION BY user_id ORDER BY start_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM iv),
        |f AS (
        |  SELECT user_id, event_id, start_ms, end_ms,
        |    CASE WHEN prev_max_end IS NULL OR start_ms > prev_max_end
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM m),
        |g AS (
        |  SELECT user_id, start_ms, end_ms,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY start_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM f)
        |SELECT user_id, island,
        |  MIN(start_ms) AS island_start_ms, MAX(end_ms) AS island_end_ms,
        |  COUNT(*) AS n_intervals,
        |  MAX(end_ms) - MIN(start_ms) AS covered_ms
        |FROM g
        |GROUP BY 1, 2
        |ORDER BY user_id, island""".stripMargin
    },

    // same in-query nested wrap; DuckDB json_extract* mirror the
    // schemaful from_json field accesses
    "q33_json" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"meta":{"device":"d' || CAST(user_id % 7 AS VARCHAR) || '","tags":' ||
        |    (CASE WHEN event_id % 3 = 0 THEN '["a","b","c"]' ELSE '["a","b"]' END) ||
        |    '},"payload":' || props || '}' AS js
        |  FROM events)
        |SELECT event_id,
        |  json_extract_string(js, '$.meta.device') AS device,
        |  CAST(json_array_length(js, '$.meta.tags') AS BIGINT) AS n_tags,
        |  CAST(json_extract(js, '$.payload.k') AS BIGINT) AS k
        |FROM j
        |ORDER BY event_id""".stripMargin,

    // frame-list distinct: list() over the same 10-row frame
    "q34_window_distinct" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
        |  FROM events)
        |SELECT user_id, event_id, ts_ms, event_type,
        |  CAST(len(list_distinct(list(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT) AS distinct_types_10
        |FROM e
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,

    // native session_window semantics: a gap of EXACTLY the
    // threshold starts a new session (>=), end = last event + gap
    "q35_session_window" -> {
      val gap = operators.Relational.SessionGapMs
      s"""WITH x AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_id, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms >= $gap THEN 1 ELSE 0 END AS is_new
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts_ms,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM y)
        |SELECT user_id,
        |  MIN(ts_ms) AS sess_start_ms,
        |  MAX(ts_ms) + $gap AS sess_end_ms,
        |  MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms,
        |  COUNT(*) AS n_events
        |FROM z
        |GROUP BY user_id, sess
        |ORDER BY user_id, sess_start_ms""".stripMargin
    },

    // IS NOT DISTINCT FROM ≡ Spark's <=> null-safe join key
    "q36_nullsafe" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE user_id END AS uid
        |  FROM events),
        |g AS (SELECT uid, COUNT(*) AS n_key_events FROM e GROUP BY uid)
        |SELECT e.event_id, e.uid, g.n_key_events
        |FROM e JOIN g ON e.uid IS NOT DISTINCT FROM g.uid
        |ORDER BY e.event_id""".stripMargin,

    // same aligned-segment blocking, same 64-char-prefix Levenshtein
    "dedup_fuzzy" -> {
      val t = operators.Text
      val segValues = t.FuzzySegments.zipWithIndex
        .map { case ((off, len), i) => s"($i, $off, $len)" }.mkString(", ")
      s"""WITH d AS (
        |  SELECT doc_id, substr($normSql, 1, ${t.FuzzyPrefixLen}) AS prefix
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, prefix, s.i, substr(prefix, s.off, s.len) AS seg
        |  FROM d, (VALUES $segValues) AS s(i, off, len)
        |  WHERE length(substr(prefix, s.off, s.len)) > 0),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |    a.prefix AS p1, b.prefix AS p2
        |  FROM seg a JOIN seg b ON a.i = b.i AND a.seg = b.seg
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id1, id2, CAST(levenshtein(p1, p2) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(p1, p2) <= ${t.FuzzyMaxDist}
        |ORDER BY id1, id2""".stripMargin
    },

    // full PassJoin: same segment boundaries (integer div), same
    // downward-only ±τ probe-substring enumeration, same full-text
    // Levenshtein verify
    "dedup_fuzzy_text" -> {
      val tau = operators.Text.FuzzyMaxDist
      val n = tau + 1
      s"""WITH d AS (
        |  SELECT doc_id, $normSql AS t, length($normSql) AS len FROM documents),
        |idx AS (
        |  SELECT doc_id AS id_b, t AS t_b, len AS len_b, i,
        |    substr(t, CAST(1 + (i*len)//$n AS INT),
        |              CAST(((i+1)*len)//$n - (i*len)//$n AS INT)) AS seg
        |  FROM d, (SELECT unnest(generate_series(0, $tau)) AS i)
        |  WHERE ((i+1)*len)//$n - (i*len)//$n >= 1),
        |probe0 AS (
        |  SELECT id_a, t_a, len_a, l2 FROM (
        |    SELECT doc_id AS id_a, t AS t_a, len AS len_a,
        |      unnest(generate_series(len - $tau, len)) AS l2 FROM d)
        |  WHERE l2 >= 1),
        |probe1 AS (
        |  SELECT id_a, t_a, len_a, l2, i,
        |    1 + (i*l2)//$n AS off2,
        |    ((i+1)*l2)//$n - (i*l2)//$n AS slen
        |  FROM probe0, (SELECT unnest(generate_series(0, $tau)) AS i)
        |  WHERE ((i+1)*l2)//$n - (i*l2)//$n >= 1),
        |probe AS (
        |  SELECT id_a, t_a, l2, i, substr(t_a, CAST(p AS INT), CAST(slen AS INT)) AS sub
        |  FROM (SELECT *, unnest(generate_series(GREATEST(1, off2 - $tau),
        |                           LEAST(len_a - slen + 1, off2 + $tau))) AS p
        |        FROM probe1
        |        WHERE GREATEST(1, off2 - $tau) <= LEAST(len_a - slen + 1, off2 + $tau))),
        |cand AS (
        |  SELECT DISTINCT
        |    CASE WHEN id_a < id_b THEN id_a ELSE id_b END AS id1,
        |    CASE WHEN id_a < id_b THEN id_b ELSE id_a END AS id2,
        |    CASE WHEN id_a < id_b THEN t_a ELSE t_b END AS t1,
        |    CASE WHEN id_a < id_b THEN t_b ELSE t_a END AS t2
        |  FROM probe JOIN idx ON probe.l2 = idx.len_b AND probe.i = idx.i
        |    AND probe.sub = idx.seg
        |  WHERE id_a <> id_b)
        |SELECT id1, id2, CAST(levenshtein(t1, t2) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(t1, t2) <= $tau
        |ORDER BY id1, id2""".stripMargin
    },

    // same tokenization, same hash60 gram key (collisions mirrored),
    // same overlap-or-adjacency island merge
    "dedup_spans" -> {
      val k = operators.Text.SpanK
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ${hash60Sql(s"list_aggregate(w[i:i+${k - 1}], 'string_agg', ' ')")} AS gh
        |  FROM d, unnest(range(1, len(w) - $k + 2)) AS t(i)
        |  WHERE len(w) >= $k),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
        |f AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $k
        |         THEN 0 ELSE 1 END AS brk
        |  FROM f),
        |isl AS (SELECT doc_id, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + $k - 1 AS BIGINT) AS span_end,
        |  CAST(MAX(pos) + $k - MIN(pos) AS BIGINT) AS span_words
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin
    },

    // same grams/hash60; keeper = MIN(doc_id<<20 + pos) per duplicated
    // gram; covered word indices from non-keeper occurrences; rebuild
    // by string_agg over surviving positions
    "span_scrub" -> {
      val k = operators.Text.SpanK
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    ${hash60Sql(s"list_aggregate(w[i:i+${k - 1}], 'string_agg', ' ')")} AS gh
        |  FROM d, unnest(range(1, len(w) - $k + 2)) AS t(i)
        |  WHERE len(w) >= $k),
        |keep AS (SELECT gh, MIN(doc_id * 1048576 + pos) AS keep_key
        |  FROM g GROUP BY gh HAVING COUNT(*) > 1),
        |cov AS (SELECT DISTINCT g.doc_id, CAST(j AS BIGINT) AS widx
        |  FROM g JOIN keep USING (gh), unnest(range(g.pos, g.pos + $k)) AS u(j)
        |  WHERE g.doc_id * 1048576 + g.pos <> keep.keep_key),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS widx, w[i] AS word
        |  FROM d, unnest(range(1, len(w) + 1)) AS t(i)),
        |kept AS (SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok.word, ' ' ORDER BY tok.widx) AS scrubbed
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.widx = cov.widx
        |  WHERE cov.doc_id IS NULL GROUP BY tok.doc_id),
        |nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM d)
        |SELECT nw.doc_id, nw.n_words,
        |  CAST(nw.n_words - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(kept.scrubbed, '') AS scrubbed
        |FROM nw LEFT JOIN kept ON nw.doc_id = kept.doc_id
        |ORDER BY nw.doc_id""".stripMargin
    },

    // content-defined chunk boundaries: cut after word j when the
    // trailing k-gram hashes 0 mod the divisor; chunk id = cuts
    // strictly before the word; chunk hash over the ordered words
    "chunk_dedup" -> {
      val k = operators.Text.ChunkK
      val dv = operators.Text.ChunkDiv
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |p AS (SELECT doc_id, w, CAST(j AS BIGINT) AS j
        |  FROM d, unnest(range(1, len(w) + 1)) AS t(j)),
        |c AS (SELECT doc_id, j, w[CAST(j AS INT)] AS word,
        |    CASE WHEN j >= $k AND j < len(w)
        |      THEN ${hash60Sql(s"list_aggregate(w[CAST(j AS INT) - ${k - 1}:CAST(j AS INT)], 'string_agg', ' ')")} % $dv = 0
        |      ELSE FALSE END AS cut
        |  FROM p),
        |a AS (SELECT doc_id, j, word,
        |    1 + COALESCE(SUM(CASE WHEN cut THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |  FROM c),
        |ch AS (SELECT doc_id, chunk_id, CAST(COUNT(*) AS BIGINT) AS nw,
        |    ${hash60Sql("string_agg(word, ' ' ORDER BY j)")} AS chash
        |  FROM a GROUP BY doc_id, chunk_id),
        |cnt AS (SELECT chash, COUNT(*) AS cnt FROM ch GROUP BY chash)
        |SELECT ch.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN nw ELSE 0 END) AS BIGINT) AS dup_words,
        |  CAST(SUM(nw) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN nw ELSE 0 END) * 1000000 // SUM(nw) AS BIGINT) AS dup_ppm
        |FROM ch JOIN cnt USING (chash)
        |GROUP BY ch.doc_id
        |ORDER BY ch.doc_id""".stripMargin
    },

    // same tokenization, same posting cap; row_number replicates the
    // topKPerKey truncation order (doc_id asc)
    "inverted_index" -> {
      val cap = operators.Text.IndexPostingsCap
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($wordsSql) AS term FROM documents),
        |t AS (
        |  SELECT term, doc_id, COUNT(*) AS tf
        |  FROM tok WHERE length(term) > 0 GROUP BY term, doc_id),
        |stats AS (
        |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
        |  FROM t GROUP BY term),
        |top AS (
        |  SELECT term, doc_id FROM (
        |    SELECT term, doc_id,
        |      row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |    FROM t) WHERE rn <= $cap),
        |p AS (
        |  SELECT term,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM top GROUP BY term)
        |SELECT s.term, s.df, s.total_tf, p.postings
        |FROM stats s JOIN p USING (term)
        |ORDER BY s.term""".stripMargin
    },

    // one hash, non-overlapping ranges: disjoint + exhaustive splits
    "data_split" -> {
      val v = operators.Curation.SplitValPpm
      val t = operators.Curation.SplitTestPpm
      s"""WITH b AS (
        |  SELECT doc_id, lang,
        |    ${hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < $v THEN 'val'
        |       WHEN bucket < $t THEN 'test'
        |       ELSE 'train' END AS split
        |FROM b
        |ORDER BY doc_id""".stripMargin
    },

    // string_agg with explicit ORDER BY mirrors the sort_array'd
    // struct collect (strict ts,event_id order on both engines)
    "user_history" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type
        |  FROM events)
        |SELECT user_id,
        |  COUNT(*) AS n_events,
        |  string_agg(event_type, ',' ORDER BY ts_ms, event_id) AS history,
        |  MIN(ts_ms) AS first_ms,
        |  MAX(ts_ms) AS last_ms
        |FROM e
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // identical three-valued logic on both engines; the null-trap
    // variant (NULL in the probe → zero rows) is spec-asserted
    "q37_notin" ->
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM events e
        |WHERE e.user_id NOT IN (SELECT user_id FROM events
        |                        WHERE event_type = 'purchase' AND user_id % 7 = 3)
        |ORDER BY e.event_id""".stripMargin,

    // dayofweek: DuckDB is Sunday-0, Spark Sunday-1 — shifted here
    "q38_dates" ->
      """SELECT event_id,
        |  epoch_ms(date_trunc('week', ts)) AS week_ms,
        |  epoch_ms(date_trunc('quarter', ts)) AS quarter_ms,
        |  epoch_ms(CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS TIMESTAMP)) AS plus2mo_ms,
        |  epoch_ms(CAST(CAST(ts AS DATE) + 45 AS TIMESTAMP)) AS plus45d_ms,
        |  epoch_ms(CAST(last_day(ts) AS TIMESTAMP)) AS month_end_ms,
        |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |  CAST(date_diff('day', CAST(ts AS DATE), DATE '1997-01-01') AS BIGINT)
        |    AS days_to_97
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // SCD2 MERGE: the three UNION branches mirror the engine's one
    // full-outer-join + explode (old-kept / old-closed / new-version);
    // dimension keys parity-encoded (existing = 2·k, fixture inserts
    // = 2·k+1 — the retired-offset recipe), moduli on the RAW key
    "scd2_merge" ->
      s"""WITH dim AS (
        |  SELECT c_custkey * 2 AS k, c_mktsegment AS seg, c_acctbal AS bal FROM customer
        |), upd AS (
        |  SELECT c_custkey * 2 AS k,
        |    CASE WHEN c_custkey % 5 = 2 THEN 'MACHINERY' ELSE c_mktsegment END AS useg,
        |    CASE WHEN c_custkey % 3 = 1
        |      THEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100.00 AS DECIMAL(18,2)) AS DOUBLE)
        |      ELSE c_acctbal END AS ubal,
        |    (c_custkey % 3 = 1 OR
        |     (CASE WHEN c_custkey % 5 = 2 THEN 'MACHINERY' ELSE c_mktsegment END) <> c_mktsegment) AS changed
        |  FROM customer
        |  WHERE c_custkey % 3 = 1 OR c_custkey % 5 = 2
        |  UNION ALL
        |  SELECT c_custkey * 2 + 1, c_mktsegment, c_acctbal, true
        |  FROM customer WHERE c_custkey % 50 = 0
        |)
        |SELECT k AS c_custkey, CAST(0 AS BIGINT) AS valid_from_ms,
        |  CAST(NULL AS BIGINT) AS valid_to_ms, CAST(1 AS BIGINT) AS is_current,
        |  seg AS c_mktsegment, bal AS c_acctbal
        |FROM dim WHERE k NOT IN (SELECT k FROM upd WHERE changed)
        |UNION ALL
        |SELECT d.k, CAST(0 AS BIGINT), CAST(${operators.Warehouse.Scd2EffMs} AS BIGINT),
        |  CAST(0 AS BIGINT), d.seg, d.bal
        |FROM dim d JOIN upd u ON d.k = u.k AND u.changed
        |UNION ALL
        |SELECT u.k, CAST(${operators.Warehouse.Scd2EffMs} AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(1 AS BIGINT), u.useg, u.ubal
        |FROM upd u WHERE u.changed
        |ORDER BY c_custkey, valid_from_ms""".stripMargin,

    // last-writer-wins compaction: arg_max per column ≡ the engine's
    // max(struct(seq, …)) because seq (orderkey) is unique
    "cdc_apply" ->
      s"""WITH log AS (
        |  SELECT o_orderkey % ${operators.Warehouse.CdcEntities} AS entity_id,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 11 = 3 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice, o_orderstatus
        |  FROM orders
        |), c AS (
        |  SELECT entity_id,
        |    CAST(arg_max(seq, seq) AS BIGINT) AS last_seq,
        |    arg_max(op, seq) AS last_op,
        |    arg_max(o_totalprice, seq) AS o_totalprice,
        |    arg_max(o_orderstatus, seq) AS o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_ops
        |  FROM log GROUP BY 1)
        |SELECT entity_id, last_seq, o_totalprice, o_orderstatus, n_ops
        |FROM c WHERE last_op = 'U'
        |ORDER BY entity_id""".stripMargin,

    // same fixture wrap + block-strip + tag-strip + entity unescape,
    // in the RE2 dialect (every pattern is in the Java∩RE2 subset)
    "html_extract" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN
        |      '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |      '</title><style>p {color: red}</style></head><body><p>' || text ||
        |      ' &amp; more</p><script>var x = 1 &amp;&amp; 2;</script><!-- footer --></body></html>'
        |    ELSE text END AS aug
        |  FROM documents
        |), nb AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<head[^>]*>.*?</head>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g') AS nb
        |  FROM a
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(nb, '<[^>]+>')) > 0 AS BIGINT) AS was_html,
        |  CAST(len(regexp_extract_all(nb, '<[^>]+>')) AS BIGINT) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(nb, '<[^>]+>', ' ', 'g'),
        |      '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '\s+', ' ', 'g')) AS extracted
        |FROM nb
        |ORDER BY doc_id""".stripMargin,

    "k_anon" ->
      s"""WITH qi AS (
        |  SELECT doc_id, lang, source, n_chars // ${operators.Curation.KAnonLenBucket} AS len_bucket
        |  FROM documents
        |), g AS (
        |  SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS group_n
        |  FROM qi GROUP BY 1, 2, 3)
        |SELECT qi.doc_id,
        |  CASE WHEN g.group_n >= ${operators.Curation.KAnonK} THEN qi.lang ELSE '*' END AS lang_out,
        |  CASE WHEN g.group_n >= ${operators.Curation.KAnonK} THEN qi.source ELSE '*' END AS source_out,
        |  CASE WHEN g.group_n >= ${operators.Curation.KAnonK} THEN CAST(qi.len_bucket AS VARCHAR) ELSE '*' END AS len_bucket_out,
        |  g.group_n,
        |  CAST(g.group_n < ${operators.Curation.KAnonK} AS BIGINT) AS suppressed
        |FROM qi JOIN g USING (lang, source, len_bucket)
        |ORDER BY qi.doc_id""".stripMargin,

    // the engine's fixed PrIters rounds unrolled as CTEs — identical
    // integer flooring per round (HUGEINT sum mirrors DECIMAL(38,0)).
    // AS MATERIALIZED per round (the k_core lesson, round 13): each
    // round is referenced once, but un-materialized DuckDB plans the
    // whole 10-round chain as ONE nested aggregation pipeline and at
    // the 20× replica (4.2M mirrored edges × 320k nodes) exceeds a
    // 100 GB memory + 72 GB spill budget; materialized, peak state is
    // one 320k-row round at a time and the replica replays in ~40 s
    "pagerank" -> {
      val rounds = (1 to operators.Graph.PrIters).map { i =>
        s"""p$i AS MATERIALIZED (
          |  SELECT b.id, b.outdeg,
          |    CAST(${operators.Graph.PrTeleport} + ${operators.Graph.PrDampPct} *
          |      COALESCE(SUM(a.pr // a.outdeg), 0) // 100 AS BIGINT) AS pr
          |  FROM n0 b
          |  LEFT JOIN edges e ON e.dst = b.id
          |  LEFT JOIN p${i - 1} a ON a.id = e.src
          |  GROUP BY b.id, b.outdeg)""".stripMargin
      }.mkString(",\n")
      s"""WITH nodes AS (
        |  SELECT c_custkey * 2 AS id FROM customer
        |  UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier
        |), pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), edges AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs
        |), deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
        |n0 AS MATERIALIZED (
        |  SELECT n.id, COALESCE(d.outdeg, 0) AS outdeg
        |  FROM nodes n LEFT JOIN deg d ON d.src = n.id
        |), p0 AS (SELECT id, outdeg, CAST(${operators.Graph.PrScale} AS BIGINT) AS pr FROM n0),
        |$rounds
        |SELECT id AS node_id,
        |  CASE WHEN id % 2 = 1 THEN 's' ELSE 'c' END AS node_type,
        |  outdeg AS degree, pr AS pr_ppb
        |FROM p${operators.Graph.PrIters}
        |ORDER BY node_id""".stripMargin
    },

    // k-core peel UNROLLED (the pagerank convention — the engine runs
    // the data-dependent fixpoint loop; SQL unrolls a fixed round
    // budget): each round keeps edges whose both endpoints have
    // degree >= K, and once the peel converges further rounds are
    // identities, so any budget >= the true round count yields the
    // exact fixpoint. The sf trade graphs converge in 0 rounds (min
    // degree >= K already — measured via an iterative DuckDB peel);
    // 16 rounds is margin for fuzz/scale corpora. A graph needing
    // MORE than 16 rounds would diverge from the engine loudly
    // (hash mismatch), never silently agree.
    "k_core" -> {
      import operators.Graph.KCoreK
      val rounds = 16
      // AS MATERIALIZED: DuckDB inlines CTEs by default, and each
      // round references its predecessor 2× — un-materialized, the
      // 16-round chain expands to 2^16 scan references and dies on
      // file handles before it dies on work
      val peel = (1 to rounds).map { i =>
        s"""a$i AS MATERIALIZED (SELECT src FROM
          |  (SELECT src, COUNT(*) AS dg FROM e${i - 1} GROUP BY src) WHERE dg >= $KCoreK),
          |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
          |  JOIN a$i x ON e.src = x.src JOIN a$i y ON e.dst = y.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), e0 AS MATERIALIZED (
        |  SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs
        |),
        |$peel
        |SELECT CAST(src AS BIGINT) AS node_id,
        |  CASE WHEN src % 2 = 1 THEN 's' ELSE 'c' END AS node_type,
        |  CAST(COUNT(*) AS BIGINT) AS core_degree
        |FROM e$rounds GROUP BY 1, 2
        |ORDER BY node_id""".stripMargin
    },

    // label propagation UNROLLED past the fixpoint (the k_core
    // convention applied to a convergence loop): LpaOracleBudget
    // alternating half-rounds — customers update on odd rounds,
    // suppliers on even (the bipartite semi-synchronous schedule the
    // engine runs) — majority neighbor label with ties to the
    // SMALLEST via the (count DESC, lbl) row_number. AS MATERIALIZED
    // per round (the k_core lesson: each round references its
    // predecessor twice). The engine stops at its convergence round;
    // every chain round past it is an identity, so l{B} equals the
    // converged labeling exactly. Shared with the community_stats
    // oracle via lpaCtes (nodes/pairs/edges/l0..l{B}).
    "graph_communities" -> {
      s"""WITH $lpaCtes,
        |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
        |  FROM l$LpaOracleBudget GROUP BY 1)
        |SELECT l.id AS node_id,
        |  CASE WHEN l.id % 2 = 1 THEN 's' ELSE 'c' END AS node_type,
        |  CAST(l.lbl AS BIGINT) AS community, sz.csize
        |FROM l$LpaOracleBudget l JOIN sz ON sz.lbl = l.lbl
        |ORDER BY node_id""".stripMargin
    },

    // the community QUALITY card: degree mass + mirrored internal
    // edges per label over the SAME unrolled LPA chain, Newman's Q
    // summand as two truncating integer divisions on the ppm lattice
    // (HUGEINT cross-terms ≡ the engine's DECIMAL(38)), plus the
    // loop's convergence meta (rounds_used / converged) replayed
    // from the chain's per-round change counts + the bit-length cap
    // law (lpaMetaCtes)
    "community_stats" -> {
      val LpaRounds = LpaOracleBudget
      s"""WITH $lpaCtes,
        |$lpaMetaCtes,
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
        |dm AS (SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS degree_sum
        |  FROM l$LpaRounds l LEFT JOIN deg ON deg.src = l.id GROUP BY 1),
        |ie AS (SELECT a.lbl, CAST(COUNT(*) AS BIGINT) AS e_mir
        |  FROM edges e JOIN l$LpaRounds a ON e.src = a.id
        |    JOIN l$LpaRounds b ON e.dst = b.id
        |  WHERE a.lbl = b.lbl GROUP BY 1),
        |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m_mir FROM edges)
        |SELECT CAST(dm.lbl AS BIGINT) AS community, dm.n_nodes, dm.degree_sum,
        |  CAST(COALESCE(ie.e_mir, 0) // 2 AS BIGINT) AS internal_edges,
        |  CASE WHEN mm.m_mir = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(CAST(COALESCE(ie.e_mir, 0) AS HUGEINT) * 1000000
        |      // mm.m_mir AS BIGINT) -
        |    CAST(CAST(dm.degree_sum AS HUGEINT) * dm.degree_sum * 1000000
        |      // (mm.m_mir * mm.m_mir) AS BIGINT)
        |  END AS q_ppm,
        |  meta.rounds_used, meta.converged
        |FROM dm LEFT JOIN ie ON dm.lbl = ie.lbl CROSS JOIN mm CROSS JOIN meta
        |ORDER BY community""".stripMargin
    },

    // independent formulation: naive a<b<c enumeration (the engine
    // runs the degree-oriented wedge join; identical triangle set)
    "triangle_count" ->
      """WITH ids AS (SELECT c_custkey AS id FROM customer),
        |raw AS (
        |  SELECT id AS u, id + 1 AS v FROM ids
        |  UNION ALL SELECT id, id + 2 FROM ids WHERE id % 3 <> 0
        |  UNION ALL SELECT id, id + 5 FROM ids WHERE id % 4 = 1),
        |e AS (SELECT u, v FROM raw JOIN ids ON v = id),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT a AS node_id FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t) x
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // same thresholds injected from the Scala constants; lateral
    // alias references avoided (flags recomputed in the outer CTE)
    "gopher_quality" -> {
      import operators.Text._
      val en = profiles.head._2
      val stopArr = en.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |f AS (SELECT doc_id, w, list_distinct(w) AS wd,
        |    CAST(len(w) AS BIGINT) AS n_words FROM e),
        |g AS (SELECT doc_id, n_words,
        |    ROUND(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / n_words + 1e-9, 4) AS mean_word_len,
        |    ROUND(CAST(list_max(list_transform(wd,
        |        x -> len(list_filter(w, y -> y = x)))) AS DOUBLE)
        |      / n_words + 1e-9, 4) AS top_word_frac,
        |    CAST(len(list_filter(wd, x -> list_contains($stopArr, x))) AS BIGINT)
        |      AS n_stop_distinct,
        |    ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |        AS DOUBLE) / n_words + 1e-9, 4) AS alpha_frac
        |  FROM f),
        |r AS (SELECT *,
        |    CAST(n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS BIGINT) AS r_words,
        |    CAST(mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen AS BIGINT) AS r_wordlen,
        |    CAST(top_word_frac <= $GopherMaxTopFrac AS BIGINT) AS r_rep,
        |    CAST(n_stop_distinct >= $GopherMinStopHits AS BIGINT) AS r_stop,
        |    CAST(alpha_frac >= $GopherMinAlphaFrac AS BIGINT) AS r_alpha
        |  FROM g)
        |SELECT doc_id, n_words, mean_word_len, top_word_frac, n_stop_distinct,
        |  alpha_frac, r_words, r_wordlen, r_rep, r_stop, r_alpha,
        |  r_words * r_wordlen * r_rep * r_stop * r_alpha AS keep
        |FROM r
        |ORDER BY doc_id""".stripMargin
    },

    // identical md5-lattice hash per (depth, word); cells and probes
    // recomputed relationally — CMS is purely relational
    "cms_words" -> {
      import operators.Text._
      s"""WITH t AS (SELECT unnest($wordsSql) AS w FROM documents),
        |tw AS (SELECT w FROM t WHERE length(w) > 0),
        |dep AS (SELECT unnest(range(0, $CmsDepth)) AS d),
        |cells AS (
        |  SELECT d, ${hash60Sql("CAST(d AS VARCHAR) || '|' || w")} % $CmsWidth AS b,
        |    CAST(COUNT(*) AS BIGINT) AS cell
        |  FROM tw CROSS JOIN dep GROUP BY 1, 2),
        |top AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_count FROM tw
        |  GROUP BY 1 ORDER BY exact_count DESC, w LIMIT $CmsTopK),
        |probes AS (
        |  SELECT top.w, top.exact_count, dep.d,
        |    ${hash60Sql("CAST(dep.d AS VARCHAR) || '|' || top.w")} % $CmsWidth AS b
        |  FROM top CROSS JOIN dep)
        |SELECT p.w AS term, p.exact_count, MIN(c.cell) AS cms_est,
        |  MIN(c.cell) - p.exact_count AS overcount
        |FROM probes p JOIN cells c ON c.d = p.d AND c.b = p.b
        |GROUP BY 1, 2
        |ORDER BY exact_count DESC, term""".stripMargin
    },

    // url_normalize's fixture + rewrite chain, quality_score's score
    // lattice, aggregated per host (scores sum as 1e-4-lattice longs)
    "domain_stats" ->
      s"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Www.' || source || '.EXAMPLE.com:80'
        |          ELSE 'HTTPS://WWW.' || source || '.Example.COM:443' END)
        |    || '/News/Item-' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?id=' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 <> 0 THEN '&utm_source=rss&fbclid=x1Y2' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    regexp_extract(regexp_replace(url, '#.*$$', '', 'g'), '^[A-Za-z]+://[^/?#]*') AS pre,
        |    substr(regexp_replace(url, '#.*$$', '', 'g'),
        |      length(regexp_extract(regexp_replace(url, '#.*$$', '', 'g'), '^[A-Za-z]+://[^/?#]*')) + 1) AS rest
        |  FROM u),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      CASE WHEN lower(pre) LIKE 'http://%' THEN regexp_replace(lower(pre), ':80$$', '', 'g')
        |           ELSE regexp_replace(lower(pre), ':443$$', '', 'g') END,
        |      '://www\\.', '://', 'g') ||
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(rest,
        |        '&(utm_[a-z]+|fbclid)=[^&]*', '', 'g'),
        |        '\\?(utm_[a-z]+|fbclid)=[^&]*&', '?', 'g'),
        |        '\\?(utm_[a-z]+|fbclid)=[^&]*$$', '', 'g'),
        |      '/\\?', '?', 'g'), '/$$', '', 'g') AS url_norm
        |  FROM q),
        |e2 AS (SELECT doc_id, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words FROM documents),
        |f2 AS (SELECT doc_id, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e2),
        |g2 AS (SELECT doc_id, n_words,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f2),
        |j AS (SELECT doc_id, url_norm,
        |    CAST(doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS BIGINT) AS is_canonical
        |  FROM n),
        |h AS (SELECT regexp_extract(j.url_norm, '^[a-z]+://([^/:?#]+)', 1) AS host,
        |    j.url_norm, j.is_canonical, g2.n_words,
        |    CAST(ROUND(g2.score * 10000, 0) AS BIGINT) AS s4
        |  FROM j JOIN g2 ON j.doc_id = g2.doc_id)
        |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_urls,
        |  CAST(SUM(is_canonical) AS BIGINT) AS n_canonical,
        |  ROUND(1.0 - CAST(SUM(is_canonical) AS DOUBLE) / COUNT(*) + 1e-9, 4) AS dup_rate,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  ROUND(CAST(SUM(s4) AS DOUBLE) / 10000.0 / COUNT(*) + 1e-9, 4) AS avg_score
        |FROM h GROUP BY host
        |ORDER BY host""".stripMargin,

    // KMV rebuilt relationally: bottom-k distinct fingerprints per
    // source, k-min-of-union membership count per pair
    "source_overlap" -> {
      val k = operators.Curation.KmvK
      s"""WITH f AS (SELECT DISTINCT source, ${hash60Sql(normSql)} AS fp FROM documents),
        |sk AS (SELECT source, fp FROM (
        |    SELECT source, fp,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY fp) AS r
        |    FROM f) WHERE r <= $k),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |m AS (SELECT p.src_a, p.src_b, s.fp,
        |    MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS ina,
        |    MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS inb
        |  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT src_a, src_b, ina, inb,
        |    ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY fp) AS rr
        |  FROM m)
        |SELECT src_a, src_b,
        |  CAST(LEAST($k, COUNT(*)) AS BIGINT) AS k_used,
        |  CAST(SUM(CASE WHEN rr <= $k AND ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST(SUM(CASE WHEN rr <= $k AND ina = 1 AND inb = 1 THEN 1 ELSE 0 END) * 1000000
        |    // LEAST($k, COUNT(*)) AS BIGINT) AS jaccard_est_ppm
        |FROM r GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin
    },

    // same url fixture + score lattice as domain_stats; the window
    // formulation is the oracle for topKPerKey
    "domain_topk" ->
      s"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Www.' || source || '.EXAMPLE.com:80'
        |          ELSE 'HTTPS://WWW.' || source || '.Example.COM:443' END)
        |    || '/News/Item-' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?id=' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 <> 0 THEN '&utm_source=rss&fbclid=x1Y2' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    regexp_extract(regexp_replace(url, '#.*$$', '', 'g'), '^[A-Za-z]+://[^/?#]*') AS pre,
        |    substr(regexp_replace(url, '#.*$$', '', 'g'),
        |      length(regexp_extract(regexp_replace(url, '#.*$$', '', 'g'), '^[A-Za-z]+://[^/?#]*')) + 1) AS rest
        |  FROM u),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      CASE WHEN lower(pre) LIKE 'http://%' THEN regexp_replace(lower(pre), ':80$$', '', 'g')
        |           ELSE regexp_replace(lower(pre), ':443$$', '', 'g') END,
        |      '://www\\.', '://', 'g') ||
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(rest,
        |        '&(utm_[a-z]+|fbclid)=[^&]*', '', 'g'),
        |        '\\?(utm_[a-z]+|fbclid)=[^&]*&', '?', 'g'),
        |        '\\?(utm_[a-z]+|fbclid)=[^&]*$$', '', 'g'),
        |      '/\\?', '?', 'g'), '/$$', '', 'g') AS url_norm
        |  FROM q),
        |e2 AS (SELECT doc_id, $wordsSql AS w,
        |    CAST(len($wordsSql) AS BIGINT) AS n_words FROM documents),
        |f2 AS (SELECT doc_id, n_words,
        |    ROUND(CAST(${hitsSql(profiles.head._2)} AS DOUBLE) / n_words + 1e-9, 4) AS stopword_ratio
        |  FROM e2),
        |g2 AS (SELECT doc_id,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |          least(1.0, stopword_ratio * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f2),
        |h AS (SELECT regexp_extract(n.url_norm, '^[a-z]+://([^/:?#]+)', 1) AS host,
        |    n.doc_id, g2.score
        |  FROM n JOIN g2 ON n.doc_id = g2.doc_id),
        |r AS (SELECT host, doc_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY host
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS host_rank
        |  FROM h)
        |SELECT host, host_rank, doc_id, score FROM r
        |WHERE host_rank <= ${operators.Text.DomainTopK}
        |ORDER BY host, host_rank""".stripMargin,

    // same spread constants, same fold order as Layout.SpreadSteps
    "q29_zorder" -> {
      val zx = operators.Layout.spreadSql("l_partkey % 256")
      val zy = operators.Layout.spreadSql("l_orderkey % 256")
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey,
        |  (l_partkey % 256) AS x8, (l_orderkey % 256) AS y8,
        |  ($zx | ($zy << 1)) AS zval
        |FROM lineitem
        |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    // same rational-idf / rational-tf-norm ppm lattice as the
    // operator: every per-term weight is one HUGEINT integral
    // division, summed as integers — no ln, no float
    "bm25_search" -> {
      val stride = operators.Retrieval.QueryStride
      val cap = stride.toLong * operators.Retrieval.MaxQueries
      val nq = operators.Retrieval.QueryTermCount
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($wordsSql) AS term FROM documents),
        |tf AS (
        |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS a_words FROM dlen),
        |qe AS (
        |  SELECT doc_id AS query_id, unnest(($wordsSql)[1:$nq]) AS term
        |  FROM documents WHERE doc_id % $stride = 0 AND doc_id < $cap),
        |q AS (SELECT DISTINCT query_id, term FROM qe WHERE length(term) > 0),
        |m AS (
        |  SELECT q.query_id, tf.doc_id, tf.tf, stats.df, dlen.dl
        |  FROM q JOIN tf USING (term) JOIN stats USING (term)
        |  JOIN dlen ON tf.doc_id = dlen.doc_id),
        |s AS (
        |  SELECT query_id, m.doc_id,
        |    SUM((CAST(2 * n_docs - 2 * df + 1 AS HUGEINT) * 22 * a_words * tf * 1000000)
        |      // (CAST(2 * df + 1 AS HUGEINT) *
        |          (CAST(10 AS HUGEINT) * a_words * tf + 3 * a_words + 9 * dl * n_docs))) AS score_ppm,
        |    CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM m CROSS JOIN sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_ppm, n_terms,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_ppm DESC, doc_id) AS rk
        |  FROM s)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
        |  CAST(score_ppm AS BIGINT) AS score_ppm, n_terms
        |FROM r WHERE rk <= ${operators.Retrieval.Bm25TopK}
        |ORDER BY query_id, rank""".stripMargin
    },

    // the bm25_search chain verbatim for the lexical shortlist, the
    // doc_embed hashing-trick vectors for the dense one (same stride
    // fixture, self-match included on both sides), then RRF: each
    // contribution is 10^6 // (60 + rank) on positive integers —
    // same truncation both engines, no float anywhere
    "hybrid_search" -> {
      val stride = operators.Retrieval.QueryStride
      val cap = stride.toLong * operators.Retrieval.MaxQueries
      val nq = operators.Retrieval.QueryTermCount
      val k = operators.Retrieval.HybridTopK
      val rrfK = operators.Retrieval.RrfK
      val dim = operators.Curation.EmbedDim
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($wordsSql) AS term FROM documents),
        |tf AS (
        |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS BIGINT) AS a_words FROM dlen),
        |qe AS (
        |  SELECT doc_id AS query_id, unnest(($wordsSql)[1:$nq]) AS term
        |  FROM documents WHERE doc_id % $stride = 0 AND doc_id < $cap),
        |q AS (SELECT DISTINCT query_id, term FROM qe WHERE length(term) > 0),
        |m AS (
        |  SELECT q.query_id, tf.doc_id, tf.tf, stats.df, dlen.dl
        |  FROM q JOIN tf USING (term) JOIN stats USING (term)
        |  JOIN dlen ON tf.doc_id = dlen.doc_id),
        |s AS (
        |  SELECT query_id, m.doc_id,
        |    SUM((CAST(2 * n_docs - 2 * df + 1 AS HUGEINT) * 22 * a_words * tf * 1000000)
        |      // (CAST(2 * df + 1 AS HUGEINT) *
        |          (CAST(10 AS HUGEINT) * a_words * tf + 3 * a_words + 9 * dl * n_docs))) AS score_ppm
        |  FROM m CROSS JOIN sc GROUP BY 1, 2),
        |lr AS (SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_ppm DESC, doc_id) AS lex_rank
        |  FROM s),
        |lex AS (SELECT query_id, doc_id, lex_rank FROM lr WHERE lex_rank <= $k),
        |w2 AS (
        |  SELECT doc_id,
        |    list_filter(string_split($normSql, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |b2 AS (
        |  SELECT doc_id,
        |    list_transform(ws, x -> struct_pack(
        |      b := ${hash60Sql("'emb:' || x")} % $dim,
        |      s := CASE WHEN ${hash60Sql("'sgn:' || x")} % 2 = 0 THEN 1 ELSE -1 END)) AS bs
        |  FROM w2),
        |v2 AS (
        |  SELECT doc_id,
        |    list_transform(range(0, $dim), i ->
        |      coalesce(list_sum(list_transform(list_filter(bs, e -> e.b = i), e -> e.s)), 0)) AS vec
        |  FROM b2),
        |e2 AS (SELECT doc_id, vec,
        |    CAST(coalesce(list_sum(list_transform(vec, x -> x * x)), 0) AS BIGINT) AS n2
        |  FROM v2),
        |qd AS (SELECT doc_id AS qid, vec AS qv, n2 AS qn2 FROM e2
        |  WHERE doc_id % $stride = 0 AND doc_id < $cap),
        |p2 AS (SELECT qd.qid, e2.doc_id, e2.n2, qd.qn2,
        |    CAST(coalesce(list_sum(list_transform(range(0, $dim), i ->
        |      CAST(qd.qv[i+1] AS BIGINT) * e2.vec[i+1])), 0) AS HUGEINT) AS dot
        |  FROM qd CROSS JOIN e2),
        |sc2 AS (SELECT qid, doc_id,
        |    CASE WHEN dot > 0 AND qn2 > 0 AND n2 > 0
        |      THEN CAST((dot * dot * 1000000) // (CAST(qn2 AS HUGEINT) * n2) AS BIGINT)
        |      ELSE 0 END AS s2_ppm
        |  FROM p2),
        |dr AS (SELECT qid, doc_id, s2_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY s2_ppm DESC, doc_id) AS dense_rank
        |  FROM sc2),
        |dense AS (SELECT qid AS query_id, doc_id, dense_rank FROM dr
        |  WHERE dense_rank <= $k),
        |f AS (
        |  SELECT COALESCE(lex.query_id, dense.query_id) AS query_id,
        |    COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
        |    COALESCE(lex.lex_rank, 0) AS lex_rank,
        |    COALESCE(dense.dense_rank, 0) AS dense_rank
        |  FROM lex FULL OUTER JOIN dense
        |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id),
        |g AS (
        |  SELECT query_id, doc_id, lex_rank, dense_rank,
        |    (CASE WHEN lex_rank > 0 THEN 1000000 // ($rrfK + lex_rank) ELSE 0 END) +
        |    (CASE WHEN dense_rank > 0 THEN 1000000 // ($rrfK + dense_rank) ELSE 0 END)
        |      AS rrf_ppm
        |  FROM f),
        |h AS (SELECT query_id, doc_id, lex_rank, dense_rank, rrf_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rrf_ppm DESC, doc_id) AS rk
        |  FROM g)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
        |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
        |  CAST(lex_rank AS BIGINT) AS lex_rank,
        |  CAST(dense_rank AS BIGINT) AS dense_rank
        |FROM h WHERE rk <= $k
        |ORDER BY query_id, rank""".stripMargin
    },

    // doc_chunk's slicing + doc_embed's hashing trick per chunk,
    // then the signed-cos² ppm MaxSim — all integers end to end
    "ann_maxsim" -> {
      val dim = operators.Curation.EmbedDim
      val cw = operators.Curation.ChunkWords
      val cs = operators.Curation.ChunkStride
      val stride = operators.Retrieval.MaxsimStride
      val cap = stride.toLong * operators.Retrieval.MaxQueries
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(generate_series(0, (len(w) + ${cs - 1}) // $cs - 1)) AS chunk_id, w
        |  FROM d WHERE len(w) > 0),
        |cw AS (SELECT doc_id, chunk_id,
        |    list_filter(w[CAST(chunk_id*$cs+1 AS INT):CAST(chunk_id*$cs+$cw AS INT)],
        |      x -> x <> '') AS ws
        |  FROM c),
        |cb AS (SELECT doc_id, chunk_id,
        |    list_transform(ws, x -> struct_pack(
        |      b := ${hash60Sql("'emb:' || x")} % $dim,
        |      s := CASE WHEN ${hash60Sql("'sgn:' || x")} % 2 = 0 THEN 1 ELSE -1 END)) AS bs
        |  FROM cw),
        |cv AS (SELECT doc_id, chunk_id,
        |    list_transform(range(0, $dim), i ->
        |      coalesce(list_sum(list_transform(list_filter(bs, e -> e.b = i), e -> e.s)), 0)) AS vec
        |  FROM cb),
        |ce AS (SELECT doc_id, chunk_id, vec,
        |    CAST(coalesce(list_sum(list_transform(vec, x -> x * x)), 0) AS BIGINT) AS n2
        |  FROM cv),
        |q AS (SELECT doc_id AS qid, chunk_id AS qcid, vec AS qv, n2 AS qn2 FROM ce
        |  WHERE doc_id % $stride = 0 AND doc_id < $cap),
        |p AS (SELECT q.qid, q.qcid, ce.doc_id, ce.chunk_id,
        |    CAST(coalesce(list_sum(list_transform(range(0, $dim), i ->
        |      CAST(q.qv[i+1] AS BIGINT) * ce.vec[i+1])), 0) AS BIGINT) AS dot,
        |    q.qn2, ce.n2
        |  FROM ce JOIN q ON ce.doc_id <> q.qid),
        |s AS (SELECT qid, qcid, doc_id,
        |    CASE WHEN dot > 0 AND qn2 > 0 AND n2 > 0
        |      THEN (dot * dot * 1000000) // (qn2 * n2) ELSE 0 END AS s2
        |  FROM p),
        |mx AS (SELECT qid, qcid, doc_id, MAX(s2) AS best FROM s GROUP BY 1, 2, 3),
        |scd AS (SELECT qid, doc_id, CAST(SUM(best) AS BIGINT) AS score_ppm
        |  FROM mx GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, score_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id) AS rk
        |  FROM scd)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id, score_ppm
        |FROM r WHERE rk <= ${operators.Retrieval.MaxsimTopK}
        |ORDER BY qid, rank""".stripMargin
    },

    // waterfilling in window functions: sorted prefix sums find the
    // last uncapped source (violators form a suffix — monotone
    // condition), integer cap + rates match the driver's BigInt
    "mix_budget" ->
      s"""WITH t AS (
        |  SELECT source, CAST(SUM(len($wordsSql)) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |s AS (SELECT source, tokens,
        |    ROW_NUMBER() OVER (ORDER BY tokens, source) AS idx,
        |    SUM(tokens) OVER (ORDER BY tokens, source
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    COUNT(*) OVER () AS n,
        |    SUM(tokens) OVER () // ${operators.Curation.MixBudgetDen} AS budget
        |  FROM t),
        |u AS (SELECT *, CASE WHEN tokens * (n - idx + 1) <= budget - (cum - tokens)
        |    THEN idx ELSE 0 END AS unc FROM s),
        |jj AS (SELECT MAX(unc) AS j FROM u),
        |pp AS (SELECT COALESCE(MAX(CASE WHEN idx = j THEN cum END), 0) AS pj
        |  FROM u CROSS JOIN jj),
        |f AS (SELECT u.*, jj.j, pp.pj,
        |    CASE WHEN jj.j >= u.n THEN u.tokens
        |      ELSE LEAST(u.tokens, (u.budget - pp.pj) // (u.n - jj.j)) END AS alloc
        |  FROM u CROSS JOIN jj CROSS JOIN pp)
        |SELECT source, tokens, CAST(alloc AS BIGINT) AS alloc,
        |  CAST(CASE WHEN tokens = 0 THEN 0
        |    ELSE CAST(alloc AS HUGEINT) * 1000000 // tokens END AS BIGINT)
        |    AS rate_ppm,
        |  CAST(alloc < tokens AS BIGINT) AS capped
        |FROM f ORDER BY source""".stripMargin,

    // ground truth is the DIRECT all-pairs containment over every
    // doc — the Spark side's collapse guard + closed-form member
    // expansion must be invisible here
    "dedup_containment" ->
      s"""WITH $ngramCtes,
        |dir2 AS (SELECT d1 AS doc_id, d2 AS other, inter FROM pr
        |  UNION ALL SELECT d2, d1, inter FROM pr),
        |sc AS (SELECT dir2.doc_id, dir2.other,
        |    inter * 1000000 // sz.n AS cont
        |  FROM dir2 JOIN sz ON dir2.doc_id = sz.doc_id),
        |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY cont DESC, other) AS rk FROM sc),
        |best AS (SELECT doc_id, cont AS best_cont, other AS best_partner
        |  FROM rr WHERE rk = 1),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_containers
        |  FROM sc WHERE cont >= ${operators.Text.ContainTPpm} GROUP BY 1)
        |SELECT sz.doc_id, CAST(sz.n AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(best_cont, 0) AS BIGINT) AS best_cont_ppm,
        |  CAST(COALESCE(best_partner, -1) AS BIGINT) AS best_partner,
        |  COALESCE(n_containers, 0) AS n_containers
        |FROM sz LEFT JOIN best USING (doc_id) LEFT JOIN cnt USING (doc_id)
        |ORDER BY sz.doc_id""".stripMargin,

    "dq_check" ->
      """WITH r AS (
        |  SELECT 'unique_c_custkey' AS check_name,
        |    CAST(COUNT(*) AS BIGINT) AS n_checked,
        |    CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS n_violations
        |  FROM customer
        |  UNION ALL SELECT 'unique_o_orderkey', COUNT(*),
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'complete_c_name', COUNT(*),
        |    SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) FROM customer
        |  UNION ALL SELECT 'range_l_quantity_1_50', COUNT(*),
        |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'range_l_discount_0_01', COUNT(*),
        |    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'accepted_l_returnflag', COUNT(*),
        |    SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL SELECT 'ref_o_custkey_in_customer', COUNT(*),
        |    SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL SELECT 'ref_l_orderkey_in_orders', COUNT(*),
        |    SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT check_name, n_checked, CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(n_violations = 0 AS BIGINT) AS pass
        |FROM r ORDER BY check_name""".stripMargin,

    "drift_check" ->
      s"""WITH f AS (
        |  SELECT CAST(doc_id % 2 = 1 AS BIGINT) AS late, lang,
        |    LEAST(${operators.Quality.DriftLenMax},
        |      len($wordsSql) // ${operators.Quality.DriftLenBucket}) AS len_b
        |  FROM documents),
        |x AS (
        |  SELECT late, 'lang' AS feature, lang AS bucket FROM f
        |  UNION ALL SELECT late, 'len', 'b' || CAST(len_b AS VARCHAR) FROM f),
        |b AS (SELECT feature, bucket,
        |    CAST(SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS early_cnt,
        |    CAST(SUM(late) AS BIGINT) AS late_cnt
        |  FROM x GROUP BY 1, 2),
        |t AS (SELECT
        |    CAST(SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
        |    CAST(SUM(late) AS BIGINT) AS n_late FROM f),
        |e AS (SELECT b.*, CASE WHEN n_early > 0
        |    THEN CAST(CAST(early_cnt AS HUGEINT) * n_late // n_early AS BIGINT)
        |    ELSE 0 END AS expected
        |  FROM b CROSS JOIN t)
        |SELECT feature, bucket, early_cnt, late_cnt, expected,
        |  CAST(CAST(late_cnt - expected AS HUGEINT) * (late_cnt - expected) * 1000000
        |    // GREATEST(expected, 1) AS BIGINT) AS chi2_ppm
        |FROM e ORDER BY feature, bucket""".stripMargin,

    // the recursion IS the oracle: DuckDB's native WITH RECURSIVE
    // resolves the same arithmetic forest the pointer-jumping loop
    // walks. Base case = the operator's FULL root rule: keys below
    // the bound OR keys whose parent (key div 10) is absent from
    // part (the documented orphan-as-root semantics — without the
    // NOT EXISTS arm an orphan and its entire subtree would be
    // silently absent from the oracle; benign on the contiguous sf
    // corpora, live under make_scale.py's offset key universe)
    "q43_hierarchy" ->
      s"""WITH RECURSIVE h(id, root, depth) AS (
        |  SELECT p_partkey, p_partkey, 0 FROM part s
        |  WHERE s.p_partkey < ${operators.Warehouse.HierarchyRootBound}
        |    OR NOT EXISTS (SELECT 1 FROM part q
        |      WHERE q.p_partkey = s.p_partkey // 10)
        |  UNION ALL
        |  SELECT p.p_partkey, h.root, h.depth + 1
        |  FROM part p JOIN h ON p.p_partkey // 10 = h.id
        |  WHERE p.p_partkey >= ${operators.Warehouse.HierarchyRootBound})
        |SELECT CAST(id AS BIGINT) AS p_partkey, CAST(root AS BIGINT) AS root,
        |  CAST(depth AS BIGINT) AS depth
        |FROM h ORDER BY p_partkey""".stripMargin,

    // IVM contract: the incremental merge must equal the FULL
    // recompute — so the oracle is exactly that, over base ∪ delta
    "view_refresh" ->
      s"""SELECT o_orderpriority,
        |  CAST(year(o_orderdate) AS BIGINT) AS oyear,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS total_cents,
        |  CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    // COUNT(*) AS BIGINT) AS avg_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // retraction contract: signed merge + targeted MAX rescan must
    // equal the full recompute over SURVIVING rows
    "view_retract" ->
      s"""SELECT o_orderpriority,
        |  CAST(year(o_orderdate) AS BIGINT) AS oyear,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS total_cents,
        |  CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    // COUNT(*) AS BIGINT) AS avg_cents
        |FROM orders
        |WHERE o_orderkey % ${operators.Warehouse.ViewDeltaMod}
        |  != ${operators.Warehouse.RetractClass}
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // isqrt on the ±1-corrected floor(sqrt) lattice — exact for
    // token counts < 2^52, matching the driver's BigInt isqrt
    "mix_temperature" ->
      s"""WITH t AS (
        |  SELECT source, CAST(SUM(len($wordsSql)) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |c AS (SELECT source, tokens,
        |    CAST(floor(sqrt(CAST(GREATEST(tokens, 0) AS DOUBLE))) AS BIGINT) AS c0
        |  FROM t),
        |iw AS (SELECT source, tokens,
        |    CASE WHEN tokens <= 0 THEN 0
        |      WHEN (c0 + 1) * (c0 + 1) <= tokens THEN c0 + 1
        |      WHEN c0 * c0 > tokens THEN c0 - 1 ELSE c0 END AS w
        |  FROM c),
        |s AS (SELECT *, SUM(tokens) OVER () AS tt, SUM(w) OVER () AS tw FROM iw)
        |SELECT source, tokens, CAST(w AS BIGINT) AS w,
        |  CAST(CASE WHEN tt = 0 THEN 0
        |    ELSE CAST(tokens AS HUGEINT) * 1000000 // tt END AS BIGINT) AS nat_ppm,
        |  CAST(CASE WHEN tw = 0 THEN 0
        |    ELSE CAST(w AS HUGEINT) * 1000000 // tw END AS BIGINT) AS temp_ppm
        |FROM s ORDER BY source""".stripMargin,

    // same energy lattice as mm_audio_fp; landmark = exact encoded
    // delta pair, clips cut at the fp60-derived offset, offset vote
    // + deterministic argmax replicated with QUALIFY/ROW_NUMBER
    "mm_audio_match" -> {
      val m = graft.multimodal.Multimodal
      import m.{AudioFrame, AudioMinSamples, AudioSamplesMod}
      val lm = s"en * ${m.AudioAnchorBase} + lead(en, 1) OVER w"
      s"""WITH d AS (SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |p AS (SELECT doc_id, fp60,
        |    (fp60 % $AudioSamplesMod + $AudioMinSamples) // $AudioFrame AS n_frames
        |  FROM d),
        |e AS (SELECT doc_id, fp60, n_frames, t.f AS f,
        |    list_sum(list_transform(
        |      range(t.f * $AudioFrame, t.f * $AudioFrame + $AudioFrame),
        |      x -> ABS((fp60 + 37 * x + (x * x) % 97) % 65536 - 32768))) AS en
        |  FROM p, unnest(range(0, n_frames)) AS t(f)),
        |tm AS (SELECT doc_id AS track_id, f AS t, $lm AS h
        |  FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY f)
        |  QUALIFY lead(en, 1) OVER w IS NOT NULL),
        |cd AS (SELECT doc_id AS clip_id,
        |    fp60 % (n_frames - ${m.AudioMatchClipLen}) AS k
        |  FROM p WHERE doc_id % ${m.AudioMatchClipMod} = 0
        |    AND n_frames >= ${m.AudioMatchClipLen} + 2),
        |cf AS (SELECT clip_id, e.f - k AS tc, en FROM e
        |  JOIN cd ON e.doc_id = cd.clip_id
        |  WHERE e.f >= k AND e.f < k + ${m.AudioMatchClipLen}),
        |cm AS (SELECT clip_id, tc AS t, $lm AS h
        |  FROM (SELECT clip_id, tc, en FROM cf) cfx
        |  WINDOW w AS (PARTITION BY clip_id ORDER BY tc)
        |  QUALIFY lead(en, 1) OVER w IS NOT NULL),
        |v AS (SELECT clip_id, track_id, tm.t - cm.t AS offset_frames,
        |    CAST(COUNT(*) AS BIGINT) AS votes
        |  FROM cm JOIN tm USING (h) GROUP BY 1, 2, 3),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY clip_id
        |    ORDER BY votes DESC, track_id, offset_frames) AS rk FROM v)
        |SELECT clip_id, track_id, CAST(offset_frames AS BIGINT) AS offset_frames, votes,
        |  CAST(track_id = clip_id AS BIGINT) AS recovered
        |FROM r WHERE rk = 1 ORDER BY clip_id""".stripMargin
    },

    // floor-division means on the cents lattice. DuckDB's integer //
    // TRUNCATES toward zero (-7 // 2 = -3; only float // floors), so
    // the oracle floors explicitly via (s - ((s % n) + n) % n) // n —
    // the pmod-corrected numerator is exactly divisible, landing on
    // the same floor the Spark side's (s − pmod(s,n)) div n computes,
    // including on NEGATIVE per-group cent sums (reachable via the
    // fuzz corpus's ±2.00 value jitter). mad_cents needs no guard:
    // its numerator is SUM(ABS(...)), non-negative by construction.
    "ts_seasonal" ->
      """WITH c AS (SELECT event_id, event_type,
        |    CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
        |  FROM events),
        |p AS (SELECT event_type, hod,
        |    CAST((SUM(value_cents)
        |        - ((SUM(value_cents) % COUNT(*)) + COUNT(*)) % COUNT(*))
        |      // COUNT(*) AS BIGINT) AS seasonal_cents
        |  FROM c GROUP BY 1, 2),
        |s AS (SELECT c.*, seasonal_cents,
        |    value_cents - seasonal_cents AS resid_cents
        |  FROM c JOIN p USING (event_type, hod)),
        |m AS (SELECT event_type,
        |    CAST(SUM(ABS(resid_cents)) // COUNT(*) AS BIGINT) AS mad_cents
        |  FROM s GROUP BY 1)
        |SELECT event_id, s.event_type, hod, value_cents, seasonal_cents,
        |  CAST(resid_cents AS BIGINT) AS resid_cents,
        |  CAST(ABS(resid_cents) > 2 * mad_cents AS BIGINT) AS flagged
        |FROM s JOIN m ON s.event_type = m.event_type
        |ORDER BY event_id""".stripMargin,

    // dynamic on BOTH sides: DuckDB derives the column set from the
    // data exactly like the two-phase Spark plan (count fills 0)
    "q44_dynamic_pivot" ->
      """PIVOT events ON event_type USING count(*)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // percentile_disc by explicit rank rule (NOT quantile_disc — the
    // oracle states the smallest-value-reaching-ceil(q*n) definition
    // both engines must honor, engine conventions left out of it)
    "exact_pctl" ->
      s"""WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM v GROUP BY 1),
        |c AS (SELECT event_type, cents, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
        |w AS (SELECT event_type, cents,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |                   ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c),
        |q AS (SELECT UNNEST([${operators.Relational.PctlPpms.mkString(", ")}]) AS q_ppm)
        |SELECT w.event_type, CAST(q_ppm AS BIGINT) AS q_ppm, n.n,
        |  CAST(MIN(cents) AS BIGINT) AS pctl_cents
        |FROM w JOIN n USING (event_type), q
        |WHERE cum >= (n.n * q_ppm + 999999) // 1000000
        |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // dedup ROI rollup over the same recursive closure the
    // dedup_clusters oracle walks; size classes exact, 9 = "9+"
    "cluster_stats" -> {
      val cap = operators.Dedup.ClusterSizeCap
      s"""WITH RECURSIVE $ngramCtes,
        |p2 AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT d1 AS a, d2 AS b FROM p2
        |  UNION SELECT d2 AS a, d1 AS b FROM p2),
        |reach AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |m AS (SELECT a AS doc_id, MIN(b) AS minb FROM reach GROUP BY a),
        |lab AS (SELECT dd.doc_id,
        |    LEAST(dd.doc_id, COALESCE(m.minb, dd.doc_id)) AS cluster_id,
        |    CAST(len($wordsSql) AS BIGINT) AS nw
        |  FROM documents dd LEFT JOIN m ON dd.doc_id = m.doc_id),
        |pc AS (SELECT cluster_id, COUNT(*) AS csize,
        |    SUM(CASE WHEN doc_id = cluster_id THEN 0 ELSE nw END) AS rm_words
        |  FROM lab GROUP BY 1),
        |tot AS (SELECT COALESCE(SUM(nw), 0) AS total_words FROM lab)
        |SELECT CAST(LEAST(csize, $cap) AS BIGINT) AS size_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(csize) AS BIGINT) AS n_docs,
        |  CAST(SUM(csize - 1) AS BIGINT) AS n_removable,
        |  CAST(SUM(rm_words) AS BIGINT) AS removable_words,
        |  CAST(CASE WHEN total_words = 0 THEN 0
        |    ELSE SUM(rm_words) * 1000000 // total_words END AS BIGINT)
        |    AS removable_ppm
        |FROM pc CROSS JOIN tot
        |GROUP BY 1, total_words
        |ORDER BY 1""".stripMargin
    },

    // cross-split leakage: the shared ngram pair CTE + the data_split
    // hash rule re-derived per pair side, zero-filled six-cell matrix
    "split_leak" -> {
      import operators.Curation.{SplitTestPpm, SplitValPpm}
      s"""WITH $ngramCtes,
        |pp AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.5),
        |sp AS (SELECT doc_id,
        |    CASE WHEN h < $SplitValPpm THEN 'val'
        |         WHEN h < $SplitTestPpm THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM (SELECT doc_id,
        |      ${hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
        |    FROM documents)),
        |tx AS (SELECT doc_id, md5(text) AS tkey FROM documents),
        |cell AS (SELECT
        |    LEAST(s1.split, s2.split) AS split_a,
        |    GREATEST(s1.split, s2.split) AS split_b,
        |    CAST(t1.tkey = t2.tkey AS BIGINT) AS exact
        |  FROM pp JOIN sp s1 ON pp.d1 = s1.doc_id
        |  JOIN sp s2 ON pp.d2 = s2.doc_id
        |  JOIN tx t1 ON pp.d1 = t1.doc_id
        |  JOIN tx t2 ON pp.d2 = t2.doc_id),
        |agg AS (SELECT split_a, split_b, COUNT(*) AS n_pairs,
        |    SUM(exact) AS n_exact FROM cell GROUP BY 1, 2),
        |cells(split_a, split_b) AS (VALUES
        |  ('test', 'test'), ('test', 'train'), ('test', 'val'),
        |  ('train', 'train'), ('train', 'val'), ('val', 'val'))
        |SELECT c.split_a, c.split_b,
        |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(c.split_a <> c.split_b AS BIGINT) AS is_leak
        |FROM cells c LEFT JOIN agg
        |  ON c.split_a = agg.split_a AND c.split_b = agg.split_b
        |ORDER BY 1, 2""".stripMargin
    },

    // packing-budget card: pure integer arithmetic on the word-count
    // lattice, budgets as a VALUES list
    "pack_eval" -> {
      val budgets = operators.Curation.PackEvalBudgets
        .map(b => s"($b)").mkString(", ")
      s"""WITH w AS (SELECT CAST(len($wordsSql) AS BIGINT) AS nw FROM documents),
        |b(budget) AS (VALUES $budgets),
        |x AS (SELECT CAST(budget AS BIGINT) AS budget, nw FROM w CROSS JOIN b),
        |a AS (SELECT budget,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nw) AS BIGINT) AS total_words,
        |    CAST(SUM(CASE WHEN nw > budget THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oversize,
        |    CAST(SUM((nw + budget - 1) // budget) AS BIGINT) AS n_seqs_padded
        |  FROM x GROUP BY 1)
        |SELECT budget, n_docs, total_words, n_oversize, n_seqs_padded,
        |  CAST((total_words + budget - 1) // budget AS BIGINT) AS n_seqs_packed,
        |  CAST(CASE WHEN n_seqs_padded = 0 THEN 0
        |    ELSE (n_seqs_padded * budget - total_words) * 1000000
        |      // (n_seqs_padded * budget) END AS BIGINT) AS waste_ppm
        |FROM a ORDER BY budget""".stripMargin
    },

    // margin-based bitext mining: cosines land on the 10^-6 lattice
    // (the ann rounding convention), then k-NN means / margins are
    // pure integer arithmetic — both engines truncate integer
    // division toward zero, so the card is exact by construction
    "bitext_mine" -> {
      val k = operators.SimilaritySearch.BitextK
      s"""WITH q AS (
        |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < 1600),
        |yv AS (SELECT vec_id AS yid, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |s AS (SELECT qid, yid,
        |    CAST(ROUND(list_cosine_similarity(qv, v) * 1000000) AS BIGINT) AS c
        |  FROM q, yv),
        |f AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY c DESC, yid) AS rk FROM s),
        |fwd AS (SELECT qid, yid, c FROM f WHERE rk <= $k),
        |af AS (SELECT qid, SUM(c) // $k AS avg_f FROM fwd GROUP BY 1),
        |bk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY yid
        |    ORDER BY c DESC, qid) AS rk FROM s),
        |ab AS (SELECT yid, SUM(c) // $k AS avg_b FROM bk
        |  WHERE rk <= $k GROUP BY 1),
        |cand AS (SELECT fwd.qid, fwd.yid, c,
        |    (c * 2000000) // (avg_f + avg_b) AS margin_ppm
        |  FROM fwd JOIN af USING (qid) JOIN ab USING (yid)
        |  WHERE avg_f + avg_b > 0),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY margin_ppm DESC, yid) AS rq FROM cand),
        |bb AS (SELECT yid, qid AS bq FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY yid
        |      ORDER BY margin_ppm DESC, qid) AS ry FROM cand)
        |  WHERE ry = 1)
        |SELECT b.qid, b.yid, CAST(c AS BIGINT) AS c_ppm,
        |  CAST(margin_ppm AS BIGINT) AS margin_ppm,
        |  CAST(bq = b.qid AS BIGINT) AS mutual
        |FROM best b JOIN bb ON b.yid = bb.yid
        |WHERE rq = 1 ORDER BY b.qid""".stripMargin
    },

    // video copy detection on the stub lattice: per-second frame
    // signatures from each video's OWN sampling schedule, content
    // hash inherited from doc_id − 1 for the re-edit fixture docs,
    // signature equi-join + per-pair match count
    "mm_video_dedup" -> {
      val m = graft.multimodal.Multimodal
      val target = m.FrameTargetSamples
      val sigSql = hash60Sql(
        "'vf:' || CAST(content_fp AS VARCHAR) || ':' || CAST(sec AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, ${hash60Sql(normSql)} AS fp60 FROM documents),
        |wb AS (SELECT d.doc_id, d.fp60,
        |    CASE WHEN d.doc_id % ${m.VideoEditMod} = ${m.VideoEditRes}
        |      AND s.fp60 IS NOT NULL THEN s.fp60 ELSE d.fp60 END AS content_fp
        |  FROM d LEFT JOIN d s ON s.doc_id = d.doc_id - 1),
        |v AS (SELECT doc_id, fp60, content_fp,
        |    fp60 % 120000 + 1000 AS duration_ms, (fp60 // 7) % 30 + 1 AS fps
        |  FROM wb),
        |sch AS (SELECT *, (duration_ms * fps) // 1000 AS nft FROM v),
        |sch2 AS (SELECT *, (nft + ${target - 1}) // $target AS stride FROM sch),
        |fr AS (SELECT doc_id, content_fp,
        |    ((CAST(t.f AS BIGINT) * 1000) // fps) // 1000 AS sec
        |  FROM sch2, unnest(range(0, nft, stride)) AS t(f)),
        |sg AS (SELECT DISTINCT doc_id, $sigSql AS sig FROM fr),
        |pr AS (SELECT a.doc_id AS v1, b.doc_id AS v2,
        |    CAST(COUNT(*) AS BIGINT) AS n_match
        |  FROM sg a JOIN sg b ON a.sig = b.sig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT v1, v2, n_match, CAST(v2 = v1 + 1 AS BIGINT) AS recovered
        |FROM pr ORDER BY v1, v2""".stripMargin
    },

    // banding parameter card: md5/hash60-lattice minhash signatures
    // recomputed bit-for-bit (perm constants interpolated from the
    // SAME Scala source of truth), band keys = the joined r-tuples,
    // S-curve p50 via the identical integer floor recurrence at
    // scale 10^12 (float pow differs across libms; the recurrence is
    // deterministic by construction) — see Dedup.p50Ppm
    "lsh_tune" -> {
      import operators.Dedup.{NumPerm, P, permA, permB}
      val aList = permA.mkString("[", ", ", "]")
      val bList = permB.mkString("[", ", ", "]")
      val s = "1000000000000"
      s"""WITH RECURSIVE reps AS (
        |  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
        |), d AS (SELECT doc_id, $wordsSql AS w FROM reps),
        |shg AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        |  FROM d WHERE len(w) >= 3),
        |hh AS (SELECT DISTINCT doc_id,
        |    ${hash60Sql("shingle")} % $P AS h FROM shg),
        |perm AS (SELECT unnest(range(0, $NumPerm)) AS i,
        |    unnest($aList) AS a, unnest($bList) AS b),
        |sig AS (SELECT doc_id, i, MIN((a * h + b) % $P) AS m
        |  FROM hh CROSS JOIN perm GROUP BY 1, 2),
        |cfg AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS b),
        |bandkey AS (SELECT c.b, $NumPerm // c.b AS r, s.doc_id,
        |    s.i // ($NumPerm // c.b) AS band,
        |    string_agg(CAST(s.m AS VARCHAR), ',' ORDER BY s.i) AS key
        |  FROM sig s CROSS JOIN cfg c GROUP BY 1, 2, 3, 4),
        |bucket AS (SELECT b, r, band, key, COUNT(*) AS m
        |  FROM bandkey GROUP BY 1, 2, 3, 4),
        |card AS (SELECT b, r,
        |    CAST(COUNT(*) AS BIGINT) AS n_collide_buckets,
        |    CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_collisions
        |  FROM bucket WHERE m >= 2 GROUP BY 1, 2),
        |it(b, r, i, x) AS (
        |  SELECT b, $NumPerm // b, 0, CAST($s AS HUGEINT) FROM cfg
        |  UNION ALL
        |  SELECT b, r, i + 1,
        |    x * ($s - CASE WHEN r >= 40 THEN 0
        |      ELSE $s // (CAST(1 AS BIGINT) << r) END) // $s
        |  FROM it WHERE i < b),
        |curve AS (SELECT b, r,
        |    CAST(($s - x) // 1000000 AS BIGINT) AS p50_ppm
        |  FROM it WHERE i = b)
        |SELECT CAST(curve.b AS BIGINT) AS b, CAST(curve.r AS BIGINT) AS r,
        |  p50_ppm,
        |  COALESCE(n_collide_buckets, 0) AS n_collide_buckets,
        |  COALESCE(n_collisions, 0) AS n_collisions
        |FROM curve LEFT JOIN card ON curve.b = card.b AND curve.r = card.r
        |ORDER BY b""".stripMargin
    },

    "shard_balance" -> {
      import operators.Curation.{BalanceBucketWidth, BalanceMaxBucket, BalanceShards}
      s"""WITH w AS (SELECT doc_id, CAST(len($wordsSql) AS BIGINT) AS nw
        |  FROM documents),
        |b AS (SELECT doc_id, nw,
        |    LEAST(nw // $BalanceBucketWidth, $BalanceMaxBucket) AS bucket
        |  FROM w),
        |a AS (SELECT nw,
        |    (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 + bucket)
        |      % $BalanceShards AS shard
        |  FROM b)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS tokens
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // IGNORE NULLS forward fill: the frame's total order (ts,
    // event_id) makes the carried value exact; the filled double is
    // copied, never computed, so bit-exactness is structural
    "q45_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type IN ('purchase', 'signup') THEN value END AS reading
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(COALESCE(LAST_VALUE(reading IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS DOUBLE) AS filled,
        |  CAST(COUNT(reading) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS readings_seen
        |FROM e
        |ORDER BY user_id, event_id""".stripMargin,

    // ×10⁴ lattice quantization, truncating integer centroid mean
    // (// here ≡ Spark div — both truncate toward zero), exact
    // integer dist², rank ties to the lower vec_id
    "proto_prune" -> {
      val lat = operators.Clustering.ProtoLattice
      val pct = operators.Clustering.ProtoKeepPct
      s"""WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * $lat + 0.5) AS BIGINT)) AS q
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (SELECT vec_id, label, unnest(q) AS qd,
        |    unnest(range(1, len(q) + 1)) AS d FROM e),
        |c AS (SELECT label, d,
        |    CAST(CAST(SUM(qd) AS HUGEINT) // COUNT(*) AS BIGINT) AS cd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM x GROUP BY 1, 2),
        |dist AS (
        |  SELECT x.vec_id, x.label,
        |    CAST(SUM((x.qd - c.cd) * (x.qd - c.cd)) AS BIGINT) AS dist2,
        |    MAX(c.n) AS n
        |  FROM x JOIN c ON x.label = c.label AND x.d = c.d
        |  GROUP BY 1, 2),
        |r AS (SELECT vec_id, label, dist2, n,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rnk
        |  FROM dist)
        |SELECT vec_id, label, dist2, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(rnk <= ($pct * n + 99) // 100 AS BIGINT) AS kept
        |FROM r
        |ORDER BY vec_id""".stripMargin
    },

    // same URL fixture + normalization chain as url_normalize; the
    // blocklist is the hash60 bucket test, penalties are regexps on
    // the RAW url — identical RE2∩Java patterns
    "url_filter" ->
      s"""WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Www.' || source || '.EXAMPLE.com:80'
        |          ELSE 'HTTPS://WWW.' || source || '.Example.COM:443' END)
        |    || '/News/Item-' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?id=' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 <> 0 THEN '&utm_source=rss&fbclid=x1Y2' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#top' ELSE '' END) AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, url,
        |    regexp_extract(regexp_replace(url, '#.*$$', '', 'g'), '^[A-Za-z]+://[^/?#]*') AS pre
        |  FROM u),
        |n AS (
        |  SELECT doc_id, url,
        |    regexp_extract(
        |      regexp_replace(
        |        CASE WHEN lower(pre) LIKE 'http://%' THEN regexp_replace(lower(pre), ':80$$', '', 'g')
        |             ELSE regexp_replace(lower(pre), ':443$$', '', 'g') END,
        |        '://www\\.', '://', 'g'),
        |      '^[a-z]+://([^/:?#]+)', 1) AS host
        |  FROM q),
        |v AS (
        |  SELECT doc_id, host,
        |    (CASE WHEN regexp_matches(url, 'utm_|fbclid') THEN 2 ELSE 0 END
        |     + CASE WHEN contains(url, '#') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(url, '/\\?') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(url, '\\?id=1[0-2]') THEN 1 ELSE 0 END) AS penalty,
        |    ${hash60Sql("'blk:' || host")} % 5 = 0 AS blocked
        |  FROM n)
        |SELECT doc_id, host, CAST(penalty AS BIGINT) AS penalty,
        |  CASE WHEN blocked THEN 'blocked'
        |    WHEN penalty >= 3 THEN 'flagged'
        |    ELSE 'pass' END AS verdict
        |FROM v
        |ORDER BY doc_id""".stripMargin,

    // the quality_score chain and the gopher keep chain verbatim
    // (both oracle-green on their own), joined on doc_id; decile =
    // floor(score*10) on the SAME rounded double both engines hash
    "quality_calib" -> {
      import operators.Text._
      val en = profiles.head._2
      val stopArr = en.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT doc_id, $wordsSql AS w FROM documents),
        |f AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words FROM e),
        |sc AS (SELECT doc_id,
        |    ROUND(least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5 +
        |      least(1.0, ROUND(CAST(${hitsSql(en)} AS DOUBLE) / n_words + 1e-9, 4)
        |        * 5.0) * 0.5 + 1e-9, 4) AS score
        |  FROM f),
        |g AS (SELECT doc_id, n_words, list_distinct(w) AS wd, w FROM f),
        |h AS (SELECT doc_id, n_words,
        |    ROUND(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / n_words + 1e-9, 4) AS mean_word_len,
        |    ROUND(CAST(list_max(list_transform(wd,
        |        x -> len(list_filter(w, y -> y = x)))) AS DOUBLE)
        |      / n_words + 1e-9, 4) AS top_word_frac,
        |    CAST(len(list_filter(wd, x -> list_contains($stopArr, x))) AS BIGINT)
        |      AS n_stop_distinct,
        |    ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |        AS DOUBLE) / n_words + 1e-9, 4) AS alpha_frac
        |  FROM g),
        |r AS (SELECT doc_id,
        |    CAST(n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS BIGINT)
        |    * CAST(mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen AS BIGINT)
        |    * CAST(top_word_frac <= $GopherMaxTopFrac AS BIGINT)
        |    * CAST(n_stop_distinct >= $GopherMinStopHits AS BIGINT)
        |    * CAST(alpha_frac >= $GopherMinAlphaFrac AS BIGINT) AS keep
        |  FROM h),
        |d AS (SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS decile, keep
        |  FROM sc JOIN r USING (doc_id))
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(keep) AS BIGINT) AS n_keep,
        |  CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
        |FROM d GROUP BY 1
        |ORDER BY decile""".stripMargin
    },

    // epoch-ms integers, strict > at the threshold; both engines
    // truncate the sub-ms residue identically
    "ts_gaps" -> {
      val t = operators.Temporal.GapThresholdMs
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS t_ms FROM events),
        |l AS (
        |  SELECT user_id, t_ms,
        |    LEAD(t_ms) OVER (PARTITION BY user_id ORDER BY t_ms, event_id) AS next_ms
        |  FROM e)
        |SELECT user_id, t_ms AS gap_start_ms, next_ms AS gap_end_ms,
        |  next_ms - t_ms AS gap_ms
        |FROM l
        |WHERE next_ms IS NOT NULL AND next_ms - t_ms > $t
        |ORDER BY user_id, gap_start_ms, gap_end_ms""".stripMargin
    },

    // token_count's per-doc counters re-aggregated per source; ppm
    // ratios on positive integers — identical truncation both engines
    // seasonal-naive backtest: hourly cents series, forecast(h) =
    // obs(h-24), integer means (signed bias truncates toward zero on
    // both engines), WAPE numerator on HUGEINT
    "ts_forecast" ->
      s"""WITH hb AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS obs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |j AS (SELECT a.event_type, a.obs, b.obs AS p FROM hb a
        |  JOIN hb b ON a.event_type = b.event_type
        |    AND a.h = b.h + ${operators.Temporal.ForecastPeriodHours})
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(ABS(obs - p)) // COUNT(*) AS BIGINT) AS mae_cents,
        |  CAST(SUM(obs - p) // COUNT(*) AS BIGINT) AS bias_cents,
        |  CAST(CASE WHEN SUM(ABS(obs)) = 0 THEN 0
        |    ELSE CAST(SUM(ABS(obs - p)) AS HUGEINT) * 1000000 // SUM(ABS(obs)) END
        |    AS BIGINT) AS wape_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // 3-step path mining: the window order carries the full tie-break
    // and the top-50 cut is a total order, so the frontier matches;
    // all three legs filtered non-null AFTER the leads, symmetric
    // with the engine (a null-typed event breaks paths, never bridges)
    "event_paths" ->
      s"""WITH l AS (
        |  SELECT user_id,
        |    event_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS e2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS e3
        |  FROM events),
        |p AS (SELECT user_id, event_type || '>' || e2 || '>' || e3 AS path
        |  FROM l WHERE event_type IS NOT NULL
        |    AND e2 IS NOT NULL AND e3 IS NOT NULL)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM p GROUP BY 1
        |ORDER BY n_occurrences DESC, path LIMIT ${operators.Curation.PathTopK}""".stripMargin,

    "tok_fertility" ->
      s"""WITH p AS (
        |  SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents),
        |t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ws) AS BIGINT) AS words, CAST(SUM(re) AS BIGINT) AS toks,
        |    CAST(SUM(chars) AS BIGINT) AS chars
        |  FROM p GROUP BY 1),
        |d AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS types
        |  FROM (SELECT source, unnest($wordsSql) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1)
        |SELECT t.source, n_docs, words, toks, chars,
        |  CAST(toks * 1000000 // words AS BIGINT) AS fertility_ppm,
        |  CAST(CASE WHEN toks = 0 THEN 0
        |    ELSE chars * 1000000 // toks END AS BIGINT) AS chars_per_tok_ppm,
        |  CAST(COALESCE(types, 0) * 1000000 // words AS BIGINT) AS ttr_ppm
        |FROM t LEFT JOIN d ON t.source = d.source
        |ORDER BY t.source""".stripMargin
  )
}
