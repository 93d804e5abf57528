package graft.operators

import graft.Tables
import graft.functions.{BpeFunctions, TextFunctions}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer training and encoding (SURVEY §2 #53/#54) — the
  * corpus-scale job a training-data pipeline runs before packing:
  * learn subword merges from corpus statistics, then tokenize.
  *
  * The 100 TB shape is the word-frequency trick every production BPE
  * trainer uses: ONE corpus pass aggregates `word → frequency`, and
  * all merge rounds run on that VOCABULARY-sized table (Heaps' law:
  * sublinear in corpus size; here 31 rows at every SF — the rounds
  * are corpus-size-independent, which the bench slope shows). Pair
  * counting weights each distinct word by its frequency, so the
  * result is identical to counting over the raw corpus.
  */
object Tokenizer {

  /** Merge-table size. Small enough that the ~31-word test vocabulary
    * does not fully collapse (real corpora use 30k-100k; the
    * ALGORITHM is identical, only this constant grows).
    */
  val NumMerges = 32

  /** bpe_train — learn the merge table: per round, count adjacent
    * symbol pairs over the frequency-weighted vocabulary, take the
    * deterministic argmax (max count, then lexicographic pair), and
    * rewrite the vocabulary with the winning merge
    * ([[graft.functions.BpeMergePair]], map-side).
    *
    * Each round is one vocabulary-sized aggregation; only the single
    * argmax row visits the driver per round (metadata, like
    * dedup_clusters' convergence counts). localCheckpoint per round
    * truncates the exponential plan-nesting (the dedup_clusters
    * lesson). Oracle-pass (round-12 promotion, previously
    * rows-only): the DuckDB oracle unrolls all [[NumMerges]] rounds
    * over the same word-frequency vocabulary — pair counts, the
    * gated (cnt ≥ 2) argmax under the identical (count DESC,
    * lexicographic) order, and [[graft.functions.BpeFunctions
    * .mergeOnce]]'s greedy left-to-right rewrite replayed as
    * gaps-and-islands parity (SparkEntry.bpeCtes). TokenizerSpec
    * additionally proves equality against an independent in-memory
    * reference trainer on the full corpus.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOn(spark, Tables(spark, dir).documents, NumMerges)

  private[graft] def bpeTrainOn(spark: SparkSession, docs: DataFrame,
      numMerges: Int): DataFrame = {
    import spark.implicits._
    trainMerges(docs, numMerges).toDF("rank", "lsym", "rsym", "pair_count")
      .orderBy(col("rank"))
  }

  /** Driver-side merge-loop bound: the in-memory loop engages only
    * while the word-frequency VOCABULARY (never the corpus — Heaps'
    * law keeps it sublinear) fits comfortably on the driver. 2¹⁷
    * (word, freq) rows is a few MB — the broadcast-dimension class,
    * the same order as the Bloom filters and codebooks the engine
    * already ships driver-side. Above it the vocabulary-sized
    * distributed loop runs unchanged, so the bound is volume-adaptive
    * (guide §1.2/§5), never a local-core-count constant.
    */
  val DriverVocabCap = 1 << 17

  /** The merge list itself, for callers composing an encoder.
    *
    * Volume-adaptive (optimization guide §1.2 — fix the distributed
    * algorithm first): ONE corpus pass builds the word-frequency
    * vocabulary either way; when the vocabulary is driver-bounded
    * (≤ [[DriverVocabCap]] rows) the [[NumMerges]] merge rounds run
    * in-memory on the collected table — each distributed round is a
    * vocabulary-SIZED job whose cost at any corpus scale is pure
    * job/checkpoint overhead (measured ~90 ms × 32 rounds ≈ 2.9 s at
    * sf0.1 over a 31-row vocabulary) — and above the cap the
    * distributed loop runs as before. Both paths implement the
    * identical algorithm (same pair counting, same (count DESC, l, r)
    * UTF-8-binary argmax, same greedy left-to-right rewrite, same
    * min-frequency-2 stop), so the merge table is bit-identical by
    * construction; TokenizerSpec pins in-memory ≡ distributed ≡ the
    * independent reference trainer, and bpe_train's oracle hash
    * covers the registered query.
    */
  private[graft] def trainMerges(docs: DataFrame,
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    // the one corpus pass both paths share, checkpointed so the
    // distributed fallback never re-scans the corpus
    val wordFreq = docs
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .transform(graft.Materialize.round(_))
    val head = wordFreq.limit(DriverVocabCap + 1).collect()
    if (head.length <= DriverVocabCap) {
      graft.Materialize.release(wordFreq)
      trainMergesInMemory(
        head.map(r => (r.getString(0), r.getLong(1))), numMerges)
    } else
      try trainMergesDistributed(wordFreq, numMerges)
      finally graft.Materialize.release(wordFreq)
  }

  /** The merge loop on the collected (word, freq) vocabulary — the
    * exact distributed algorithm run where the data already is:
    * count adjacent symbol pairs frequency-weighted, argmax by
    * (count DESC, l, r) in UTF-8 BINARY order (UTF8String.compareTo —
    * what the distributed orderBy sorts strings by), rewrite with
    * [[BpeFunctions.mergeOnce]], stop below min frequency 2.
    */
  private[graft] def trainMergesInMemory(wordFreq: Array[(String, Long)],
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    var vocab: Array[(Array[String], Long)] =
      wordFreq.map { case (w, f) => (BpeFunctions.initialSymbols(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      for ((syms, f) <- vocab) {
        var i = 0
        while (i + 1 < syms.length) {
          counts.merge((syms(i), syms(i + 1)), f, _ + _)
          i += 1
        }
      }
      // deterministic argmax: max count, ties to the UTF-8-binary
      // smallest (l, r) — Spark's string order, the winnow lesson
      var best: (String, String) = null
      var bestCnt = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey; val c = e.getValue
        val better = best == null || c > bestCnt || (c == bestCnt && {
          val l = UTF8String.fromString(k._1).compareTo(UTF8String.fromString(best._1))
          l < 0 || (l == 0 &&
            UTF8String.fromString(k._2).compareTo(UTF8String.fromString(best._2)) < 0)
        })
        if (better) { best = k; bestCnt = c }
      }
      if (best == null || bestCnt < 2) done = true
      else {
        val (l, rr) = best
        merges += ((r.toLong, l, rr, bestCnt))
        if (r < numMerges) vocab = vocab.map { case (syms, f) =>
          // rewrite only words containing the pair (the encodeText
          // pre-check — the common no-op merge allocates nothing)
          var hit = false
          var i = 0
          while (!hit && i + 1 < syms.length) {
            if (syms(i) == l && syms(i + 1) == rr) hit = true
            i += 1
          }
          (if (hit) BpeFunctions.mergeOnce(syms, l, rr) else syms, f)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** The distributed merge loop over a MATERIALIZED (word, freq)
    * vocabulary — the 100 TB path for vocabularies past
    * [[DriverVocabCap]].
    */
  private[graft] def trainMergesDistributed(wordFreq: DataFrame,
      numMerges: Int): Seq[(Long, String, String, Long)] = {
    val chars = expr(
      "transform(sequence(1, length(word)), i -> substring(word, CAST(i AS INT), 1))")
    // LAZY localCheckpoint throughout: the rewrite materializes as a
    // side effect of the NEXT round's argmax job, so each round costs
    // ONE job (an eager checkpoint would double it) while lineage
    // still truncates (the dedup_clusters exponential-plan lesson)
    var vocab = wordFreq
      .select(col("freq"),
        concat(chars, array(lit(BpeFunctions.EndOfWord))).as("syms"))
      .transform(graft.Materialize.round(_))
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      // this round's vocab is now materialized; the one it was
      // derived from is dead
      if (prev != null) { graft.Materialize.release(prev); prev = null }
      // stop when no pair repeats: merging a hapax pair is noise
      // (min_frequency=2, the reference trainers' default)
      if (top.isEmpty || top(0).getLong(2) < 2) done = true
      else {
        val l = top(0).getString(0); val rr = top(0).getString(1)
        merges += ((r.toLong, l, rr, top(0).getLong(2)))
        // the final round's winner needs no vocabulary rewrite —
        // nothing would consume it
        if (r < numMerges) {
          val next = graft.Materialize.round(vocab
            .withColumn("syms", BpeFunctions.mergePair(col("syms"), l, rr)))
          prev = vocab
          vocab = next
        }
        r += 1
      }
    }
    if (prev != null) graft.Materialize.release(prev)
    graft.Materialize.release(vocab)
    merges.toSeq
  }

  /** One training round's pair-count aggregation over a (freq, syms)
    * vocabulary — factored out so its PLAN is directly assertable
    * (the driver-loop rounds never surface in a registered query's
    * final plan). Single-symbol (fully merged) words have no pairs —
    * and sequence(1, 0) would fabricate [1, 0] (descending default,
    * the doc_chunk corner), so they must not reach the transform.
    */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) > 1)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** bpe_encode — tokenize every document with the learned merges:
    * [[graft.functions.BpeEncodeText]] carries the merge table as
    * expression data and encodes a whole document per eval, map-side
    * inside the scan stage — the corpus is never joined or shuffled
    * (the output sort is the only exchange). Emits per-doc token
    * counts plus a deterministic preview of the first tokens; the
    * compression ratio (tokens per word < chars per word) is the
    * learning signal the spec asserts.
    *
    * Encode trains the merge table inline (the bpe_train pass, then
    * the map-side encode): training is deterministic in the corpus,
    * so encode and train agree on the table by construction.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val merges = trainMerges(docs, NumMerges).map { case (_, l, r, _) => (l, r) }
    bpeEncodeOn(docs, merges)
  }

  private[graft] def bpeEncodeOn(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        BpeFunctions.encodeText(normalize(col("text")), merges).as("toks"))
      .select(col("doc_id"), col("n_words"),
        size(col("toks")).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), 1, 8)).as("tok_preview"))
      .orderBy(col("doc_id"))

  // ---- Unigram-LM tokenizer (SentencePiece class, Kudo 2018) ----

  /** Candidate piece length bound, seed-vocabulary cap, hard-EM
    * rounds, and final vocabulary size. The caps are what keep every
    * driver-side collect METADATA-sized at any corpus scale: the
    * seed shortlist is a TakeOrdered over the substring-count frame
    * (never a full collect), and each E-step ships ≤ UniSeedCap
    * (piece, count) rows to the driver.
    */
  val UniMaxPieceLen = 5
  val UniSeedCap = 256
  val UniEmRounds = 3
  val UniVocabTarget = 64

  /** unigram_train — estimate the unigram-LM piece vocabulary (the
    * OTHER production subword family next to BPE; SentencePiece's
    * default): seed with the [[UniSeedCap]] most frequent word
    * substrings (≤ [[UniMaxPieceLen]] chars, plus every single
    * character for total coverage), then [[UniEmRounds]] hard-EM
    * rounds — each word Viterbi-segments under the current model
    * ([[graft.functions.UnigramEncodeText]], model as expression
    * data) and piece counts re-estimate from the frequency-weighted
    * best segmentations.
    *
    * 100 TB shape = the bpe_train shape: ONE corpus pass builds the
    * word-frequency vocabulary (Heaps-law sublinear), every EM round
    * is one vocabulary-sized aggregation with the bounded model
    * broadcast inside the expression, and only capped (piece, count)
    * shortlists reach the driver. Rows-only — and unlike bpe_train
    * (whose "loops aren't SQL" claim round 12 disproved by unrolling
    * them), the blocker here is REAL: the Viterbi scores are libm
    * `math.log` values (UnigramFunctions.scala), which no SQL engine
    * reproduces bit-exactly. (sample_weighted escaped this class by
    * swapping its ln for a SPECIFIED integer logarithm; doing that
    * here would change the trained vocabulary itself — a semantics
    * change, not a replay.) UnigramSpec proves
    * exact equality against an independent in-JVM reference trainer
    * (the bpe_train convention) plus lossless round-trip and
    * compression.
    */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame =
    unigramModelDf(spark, trainUnigramModel(Tables(spark, dir).documents))

  private[graft] def unigramModelDf(spark: SparkSession,
      model: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    val b = math.max(1L, model.map(_._2).sum)
    model.zipWithIndex.map { case ((p, c), i) =>
      (i + 1L, p, c, (BigInt(c) * 1000000 / b).toLong)
    }.toDF("piece_rank", "piece", "cnt", "prob_ppm")
      .orderBy(col("piece_rank"))
  }

  /** The trained (piece, count) model, count-descending. */
  private[graft] def trainUnigramModel(docs: DataFrame): Seq[(String, Long)] = {
    val wordFreq = docs
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .transform(graft.Materialize.round(_))
    val subsExpr = expr(
      "flatten(transform(sequence(1, length(word)), i -> " +
        s"transform(sequence(i, least(i + ${UniMaxPieceLen - 1}, length(word))), " +
        "j -> substring(word, CAST(i AS INT), CAST(j - i + 1 AS INT)))))")
    val subs = wordFreq
      .select(col("freq"), explode(subsExpr).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .transform(graft.Materialize.round(_)) // two bounded consumers: shortlist + charset
    val top = subs.orderBy(col("cnt").desc, col("piece")).limit(UniSeedCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chars = subs.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var model: Seq[(String, Long)] =
      (top ++ chars).distinctBy(_._1).sortBy { case (p, c) => (-c, p) }.toSeq
    for (_ <- 1 to UniEmRounds if model.nonEmpty) {
      val counts = wordFreq
        .select(col("freq"), explode(graft.functions.UnigramFunctions
          .encodeText(array(col("word")), model)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val inModel = model.map(_._1).toSet
      // observed pieces keep their counts; cover characters stay
      // alive at count 1 (the SentencePiece required-char set);
      // unknown chars the encoder surfaced join the model
      val kept = model.flatMap { case (p, _) =>
        counts.get(p) match {
          case Some(c) => Some((p, c))
          case None if p.length == 1 => Some((p, 1L))
          case None => None
        }
      } ++ counts.collect { case (p, c) if !inModel(p) => (p, c) }
      model = kept.sortBy { case (p, c) => (-c, p) }
    }
    val capped = (model.take(UniVocabTarget) ++ model.filter(_._1.length == 1))
      .distinctBy(_._1).sortBy { case (p, c) => (-c, p) }.toSeq
    graft.Materialize.release(subs)
    graft.Materialize.release(wordFreq)
    capped
  }

  /** unigram_encode — Viterbi-tokenize every document with the
    * trained model: one [[graft.functions.UnigramEncodeText]] eval
    * per doc, map-side inside the scan stage, corpus never joined or
    * shuffled (the output sort is the only exchange). Trains the
    * model inline, like bpe_encode.
    */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    unigramEncodeOn(docs, trainUnigramModel(docs))
  }

  private[graft] def unigramEncodeOn(docs: DataFrame,
      model: Seq[(String, Long)]): DataFrame =
    docs
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_words"),
        graft.functions.UnigramFunctions
          .encodeText(words(col("text")), model).as("toks"))
      .select(col("doc_id"), col("n_words"),
        size(col("toks")).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), 1, 8)).as("tok_preview"))
      .orderBy(col("doc_id"))
}
