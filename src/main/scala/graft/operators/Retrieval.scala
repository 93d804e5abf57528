package graft.operators

import graft.Materialize.MatOps
import graft.Tables
import graft.functions.TextFunctions.words
import graft.functions.VectorFunctions.dotProductLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query-time retrieval over the curated corpus (SURVEY §2 #56d,
  * #28c): the lookup side of the index artifacts the engine already
  * builds — BM25 lexical ranking next to [[Text.invertedIndex]]'s
  * postings, and ColBERT-style late-interaction (MaxSim) ranking
  * next to the [[Curation.docEmbed]] / ANN vector family. Reference
  * behavior (hw-kafka-flink-health has no retrieval layer): both are
  * engine-native additions for the training-data pipeline — corpus
  * search drives dedup triage, decontamination lookups, and
  * eval-neighbor audits.
  */
object Retrieval {

  /** Query fixture for [[bm25Search]]: every [[QueryStride]]-th
    * document poses a query (its first [[QueryTermCount]] words,
    * distinct), capped at [[MaxQueries]] so the query set — like
    * [[SimilaritySearch.MaxQueries]] — NEVER grows with the corpus:
    * retrieval cost is O(matches · q) with constant q at any scale.
    */
  val QueryStride = 97
  val QueryTermCount = 5
  val MaxQueries = 32
  val Bm25TopK = 10

  /** bm25_search — BM25-ranked lexical retrieval (k1 = 1.2,
    * b = 0.75): for each query, the [[Bm25TopK]] highest-scoring
    * documents under the Robertson term weighting
    *
    *   Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Cross-engine exactness: with k1 = 6/5 and b = 3/4 the tf
    * normalization is the pure integer rational
    * 22·A·tf / (10·A·tf + 3·A + 9·dl·N) (A = corpus words, N = doc
    * count, avgdl = A/N folded in), and the log-idf is replaced by
    * its rank-equivalent rational argument (2N − 2df + 1)/(2df + 1)
    * — ln is monotone, so every per-term weight ranks identically to
    * textbook BM25's, and each term contributes one exact DECIMAL(38)
    * integral division on the ppm lattice (the word_pmi convention).
    * Summed as integers, both engines hash identically — no float
    * anywhere. Overflow guard: numerator ≤ 2N·22·A·tf·10⁶; at
    * N = 10¹², A = 10¹⁴ tokens (100 TB), tf ≤ 10⁴ that is ~4·10³⁷ <
    * 10³⁸ (the lm_score DECIMAL(38) convention).
    *
    * Scale shape: NO full-corpus shuffle anywhere. Doc length is a
    * map-side array-size column (no token explode feeds an
    * aggregation); the global (N, A) scalar folds those sizes in one
    * pass (the word_pmi 1-row broadcast class); the token stream is
    * PRUNED against the broadcast ≤ [[MaxQueries]]·[[QueryTermCount]]
    * query-term set before any aggregation, so the only shuffled
    * rows are (query term × holding doc) pairs — and df comes from
    * that same pruned set (it holds exactly the docs containing each
    * query term), never from a corpus-wide term table. The final
    * shortlist runs on [[graft.plans.TopK]] (Spark's
    * `WindowGroupLimit`), which cuts each query to k rows per map
    * task before the exchange. (A first cut built the full
    * inverted_index-style (term, doc, tf) table — three full-token
    * shuffles, 6-9 s at sf0.1; the pruned form measures ~1 s with
    * identical output.)
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25SearchOn(Tables(spark, dir).documents)

  private[graft] def bm25SearchOn(docs: DataFrame): DataFrame = {
    // dl: map-side word count; normalize() collapses whitespace, so
    // split() never yields empty tokens except on empty text — the
    // length guard replaces a per-element lambda filter (interpreted
    // HOFs measured wildly erratic here: 5-27 s run spreads at
    // sf0.1; this form is pure codegen). Docs with no tokens drop
    // out (they can't match and must not count toward N/avgdl — the
    // inverted-file convention the oracle mirrors).
    val dl = docs
      .filter(length(graft.functions.TextFunctions.normalize(col("text"))) > 0)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("dl"))
    val scalars = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("a_words"))
    val qterms = docs
      .filter(col("doc_id") % QueryStride === 0 &&
        col("doc_id") < lit(QueryStride.toLong * MaxQueries))
      .select(col("doc_id").as("query_id"),
        explode(slice(words(col("text")), 1, QueryTermCount)).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    // prune the token stream to query terms BEFORE aggregating: the
    // distinct-term broadcast acts as a semi filter inside the scan
    // stage, so only (query term, holding doc) rows ever shuffle.
    // dl attaches AFTERWARDS via a narrow doc-keyed join — carrying
    // size(words(text)) through the explode makes Catalyst hoist
    // that projection ABOVE the Generate and recompute the
    // regex+split per TOKEN (measured 0.5 s → 4-5 s at sf0.1);
    // the join moves 16-byte rows on both sides instead
    val tfm = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .materialized // feeds df AND the scoring join: one scan, not two
    val stats = tfm.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val matched = tfm
      .join(broadcast(stats), "term")  // ≤ |query terms| rows
      .join(broadcast(qterms), "term") // fan out per asking query
      .crossJoin(broadcast(scalars))   // the 1-row scalar class
      .withColumn("term_ppm", expr(
        """(CAST(2 * n_docs - 2 * df + 1 AS DECIMAL(38,0)) * 22 * a_words * tf * 1000000) div
          |(CAST(2 * df + 1 AS DECIMAL(38,0)) *
          | (CAST(10 AS DECIMAL(38,0)) * a_words * tf + 3 * a_words + 9 * dl * n_docs))"""
          .stripMargin).cast("long"))
    val scored = matched.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_ppm")).as("score_ppm"), count(lit(1)).as("n_terms"))
    val topk = graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("score_ppm").desc, col("doc_id").asc), k = Bm25TopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    topk
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_ppm"), col("n_terms"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Reciprocal-rank-fusion constant (Cormack & Clarke 2009's k=60 —
    * the TREC-standard damping that keeps one list's tail from
    * swamping the other's head) and the fused shortlist size.
    */
  val RrfK = 60
  val HybridTopK = 10

  /** hybrid_search — lexical + dense retrieval fused by reciprocal
    * rank fusion: the two ranking modalities the engine already
    * ships ([[bm25Search]]'s Robertson term weighting and the
    * [[Curation.docEmbed]] hashing-trick cosine) answer the SAME
    * query set, and each document's fused score is
    * Σ_lists 1/(k + rank) — rank-only fusion, so the incomparable
    * score scales (BM25 ppm vs cos² ppm) never mix. The standard
    * first-stage sharpener: a doc ranked well by BOTH signals beats
    * a doc topping only one list. Reference behavior
    * (hw-kafka-flink-health has no retrieval layer): engine-native
    * addition for the training-data pipeline — hybrid shortlists
    * drive dedup triage and eval-neighbor audits where either
    * modality alone misses (lexical: paraphrase; dense: rare exact
    * terms).
    *
    * Cross-engine exactness: each contribution is the pure integral
    * division 10⁶ div (k + rank) on positive integers (Spark `div` ≡
    * DuckDB `//` on non-negatives), summed as longs; the dense
    * cosine is the maxsim signed-cos² ppm lattice (clamped at 0,
    * integral division, DECIMAL(38) intermediates so doc-level dot²
    * can never overflow at unbounded document length — the bm25
    * overflow convention). No float anywhere.
    *
    * Scale shape: both constituent rankings keep their own
    * contracts — BM25's pruned token stream (only query-term rows
    * shuffle) and the dense side's map-only broadcast-query scan
    * with [[graft.plans.TopK]] shortlists — and the fusion
    * itself runs on two ≤ q·k-row shortlists (a metadata-sized
    * full-outer join), so at 100 TB the fusion stage costs nothing
    * beyond its inputs. One documents scan feeds BOTH sides' query
    * fixtures; the corpus never shuffles for the dense half.
    */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    hybridSearchOn(Tables(spark, dir).documents)

  private[graft] def hybridSearchOn(docs: DataFrame): DataFrame = {
    val lex = bm25SearchOn(docs)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    // dense side: doc-level hashing-trick vectors (integer counts +
    // exact squared norm), queries = the SAME stride fixture as BM25
    // so both modalities answer one query set. Self-match included on
    // both sides (the query doc is a legitimate corpus member and
    // BM25 retrieves it; excluding it on one side only would skew
    // the fusion).
    val vecs = docs
      .withColumn("ev", graft.functions.EmbedKernel.embedKernel(words(col("text"))))
      .select(col("doc_id"), col("ev.vec").as("vec"), col("ev.n2").as("n2"))
    val qv = vecs
      .filter(col("doc_id") % QueryStride === 0 &&
        col("doc_id") < lit(QueryStride.toLong * MaxQueries))
      .select(col("doc_id").as("qid"), col("vec").as("qv"), col("n2").as("qn2"))
    val scored = vecs.crossJoin(broadcast(qv))
      .withColumn("dot", dotProductLong(col("qv"), col("vec")))
      .withColumn("s2_ppm",
        when(col("dot") > 0 && col("qn2") > 0 && col("n2") > 0,
          expr("(CAST(dot AS DECIMAL(38,0)) * dot * 1000000) div " +
            "(CAST(qn2 AS DECIMAL(38,0)) * n2)").cast("long"))
          .otherwise(lit(0L)))
      .select(col("qid"), col("doc_id"), col("s2_ppm"))
    val dtop = graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("qid")),
      order = Seq(col("s2_ppm").desc, col("doc_id").asc), k = HybridTopK)
    val dw = Window.partitionBy(col("qid")).orderBy(col("s2_ppm").desc, col("doc_id"))
    val dense = dtop
      .withColumn("dense_rank", row_number().over(dw).cast("long"))
      .select(col("qid").as("query_id"), col("doc_id"), col("dense_rank"))
    // fusion over the two shortlists: rank 0 = absent from that list
    // (contributes nothing); ties on the fused score break by doc_id
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .na.fill(0L, Seq("lex_rank", "dense_rank"))
      .withColumn("rrf_ppm",
        when(col("lex_rank") > 0,
            expr(s"CAST(1000000 AS BIGINT) div (${RrfK}L + lex_rank)")).otherwise(lit(0L)) +
          when(col("dense_rank") > 0,
            expr(s"CAST(1000000 AS BIGINT) div (${RrfK}L + dense_rank)")).otherwise(lit(0L)))
    val ftop = graft.plans.TopK.topKPerKey(fused,
      keys = Seq(col("query_id")),
      order = Seq(col("rrf_ppm").desc, col("doc_id").asc), k = HybridTopK)
    val fw = Window.partitionBy(col("query_id")).orderBy(col("rrf_ppm").desc, col("doc_id"))
    ftop
      .withColumn("rank", row_number().over(fw).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_ppm"),
        col("lex_rank"), col("dense_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Query fixture for [[annMaxsim]]: stride co-prime to the BM25
    * one so the two query sets differ; same [[MaxQueries]] cap.
    */
  val MaxsimStride = 131
  val MaxsimTopK = 10

  /** ann_maxsim — late-interaction (ColBERT-style MaxSim) retrieval:
    * documents and queries are BAGS of chunk vectors (the
    * [[Curation.docChunk]] 100-word/80-stride segmentation, each
    * chunk embedded by the [[graft.functions.EmbedKernel]] hashing
    * trick), and score(q, d) = Σ_{qc ∈ q} max_{dc ∈ d} sim(qc, dc) —
    * the retrieval granularity single-vector ANN can't express: a
    * long document matching a query on ONE strong passage ranks by
    * that passage, not its diluted mean.
    *
    * Cross-engine exactness: sim is the signed-cos² ppm lattice
    * max(dot, 0)²·10⁶ div (n2_q·n2_d) — monotone in cosine on the
    * non-negative half (and negative-cosine chunk pairs clamp to 0,
    * the ReLU convention, which also keeps the integral division
    * positive where Spark's `div` truncates but DuckDB's `//`
    * floors). All integers: dot and the squared norms come from the
    * integer hashing-trick vectors, and chunks are ≤ 100 words by
    * construction so dot²·10⁶ ≤ 10¹⁴ is LONG-safe at ANY corpus
    * size. Float sums never cross engines (a float MaxSim sum would
    * be partition-order-dependent).
    *
    * Scale shape: corpus chunks embed MAP-SIDE inside the scan stage
    * (EmbedKernel per chunk — no vocabulary, no shuffle); the
    * ≤ [[MaxQueries]] queries' chunk vectors broadcast from their
    * own pruned scan, and the pairwise scoring is the designed
    * O(corpus_chunks · query_chunks) pass of the ann_topk class;
    * both MaxSim reductions (max over doc chunks, sum over query
    * chunks) are map-side-combinable aggregates, so the shuffle
    * carries ≤ one row per (query, doc) key; shortlist via
    * [[graft.plans.TopK]]. An IVF-routed candidate cut
    * (score only cells the query probes — [[SimilaritySearch.annIvf]])
    * composes upstream when corpus_chunks · q outgrows the scan.
    */
  def annMaxsim(spark: SparkSession, dir: String): DataFrame =
    annMaxsimOn(Tables(spark, dir).documents)

  private[graft] def annMaxsimOn(docs: DataFrame): DataFrame = {
    def chunkVecs(d: DataFrame): DataFrame =
      Curation.chunksOf(d)
        .withColumn("ev", graft.functions.EmbedKernel.embedKernel(words(col("chunk_text"))))
        .select(col("doc_id"), col("chunk_id"),
          col("ev.vec").as("vec"), col("ev.n2").as("n2"))
    val corpus = chunkVecs(docs)
    val queries = chunkVecs(
        docs.filter(col("doc_id") % MaxsimStride === 0 &&
          col("doc_id") < lit(MaxsimStride.toLong * MaxQueries)))
      .select(col("doc_id").as("qid"), col("chunk_id").as("qcid"),
        col("vec").as("qv"), col("n2").as("qn2"))
    val pairs = corpus.join(broadcast(queries), col("doc_id") =!= col("qid"))
      .withColumn("dot", dotProductLong(col("qv"), col("vec")))
      .withColumn("s2_ppm",
        when(col("dot") > 0 && col("qn2") > 0 && col("n2") > 0,
          expr("(dot * dot * 1000000L) div (qn2 * n2)")).otherwise(lit(0L)))
    val best = pairs.groupBy(col("qid"), col("qcid"), col("doc_id"))
      .agg(max(col("s2_ppm")).as("best_ppm"))
    val scored = best.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("best_ppm")).as("score_ppm"))
    val topk = graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("qid")),
      order = Seq(col("score_ppm").desc, col("doc_id").asc), k = MaxsimTopK)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    topk
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("qid"), col("rank"), col("doc_id"), col("score_ppm"))
      .orderBy(col("qid"), col("rank"))
  }
}
