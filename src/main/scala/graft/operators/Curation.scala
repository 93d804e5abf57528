package graft.operators

import graft.Materialize.MatOps
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation pack (SURVEY §2 #35-38): the document-
  * shaping operators between raw corpus and training shards —
  * chunking, PII scrubbing, term scoring, stratified sampling. All
  * pure column expressions (codegen, no UDFs), all oracle-checked.
  */
object Curation {

  val ChunkWords = 100
  val ChunkStride = 80 // 20-word overlap between consecutive chunks

  /** doc_chunk — split each document into fixed-size word windows
    * with overlap (context-window packing for training). Chunk i
    * covers words [i·stride, i·stride + size); starts advance while
    * they're inside the doc, so every word lands in ≥1 chunk and
    * interior words in 2. Pure integer arithmetic + array slicing —
    * a map-side explode, no shuffle before the output sort; at
    * 100 TB this pipelines inside the scan stage.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame =
    docChunkOn(Tables(spark, dir).documents)

  /** Same chunking over any (doc_id, text) DataFrame. */
  def docChunkOn(docs: DataFrame): DataFrame =
    chunksOf(docs).orderBy(col("doc_id"), col("chunk_id"))

  /** The unsorted map-side chunking (shared by doc_chunk and
    * seq_pack, which imposes its own ordering). A doc whose word
    * list is empty produces no chunks — the `when` guard keeps
    * `sequence(0, -1)` (which Spark evaluates as [0, -1], step
    * defaulting to -1) from fabricating chunk ids, matching
    * DuckDB's empty generate_series(0, -1).
    */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    val start = col("chunk_id") * ChunkStride + 1 // slice() is 1-based
    docs.withColumn("w", words(col("text")))
      .withColumn("chunk_id",
        explode(when(size(col("w")) > 0, sequence(lit(0L),
          floor((size(col("w")) + lit(ChunkStride - 1)) / lit(ChunkStride)).cast("long") - 1))))
      .select(
        col("doc_id"), col("chunk_id"),
        size(slice(col("w"), start, lit(ChunkWords))).cast("long").as("n_chunk_words"),
        concat_ws(" ", slice(col("w"), start, lit(ChunkWords))).as("chunk_text"))
  }

  /** Self-sizing law for the parallelism-knob shard counts (round 11
    * — the r10 watch item: ShuffleShards/PackShards/BudgetShards were
    * constants carrying a "deployment MUST raise with corpus size"
    * comment-contract; the contract is now CODE, the ann_lsh
    * width-law play): shards = clamp(floor, ⌈n / target⌉, cap),
    * derived from a row count the operator already has (or one
    * metadata action). The floor keeps every registered SF at
    * exactly the historical constant — outputs bit-identical where
    * the shard count is output-visible (corpus_shuffle) and plans
    * unchanged where it is pure parallelism (seq_pack/token_budget,
    * whose two-level prefix sums are shard-count-independent by
    * construction). The cap bounds the driver-folded offset tables
    * and the shard-file count.
    */
  private[graft] def autoShards(n: Long, floor: Int, target: Long,
      cap: Int): Int =
    math.min(cap.toLong,
      math.max(floor.toLong, (n + target - 1) / target)).toInt

  val ShuffleShards = 64   // floor: training-order shards of corpus_shuffle
  val ShuffleShardDocs = 1024L // target docs per training shard file
  val ShuffleMaxShards = 1 << 20

  /** corpus_shuffle — deterministic global training-order
    * permutation: every doc gets a portable 60-bit hash of a seeded
    * key, a shard (hash mod [[ShuffleShards]]), and a position
    * within its shard — (shard, pos) IS the training read order, and
    * a trainer streams shard files in index order. Changing the seed
    * string re-shuffles; same seed is bit-identical across runs,
    * engines, and parallelism.
    *
    * Scale shape: the per-shard row_number windows partition by
    * shard — [[ShuffleShards]]-way parallel, NO global window (the
    * same reasoning as seq_pack's sharded prefix sum); everything
    * before them is map-side hashing. This is how a 100 TB corpus
    * gets a reproducible epoch order without a global sort.
    *
    * The shard count is the [[autoShards]] LAW (floor
    * [[ShuffleShards]], target [[ShuffleShardDocs]] docs per training
    * shard file, cap [[ShuffleMaxShards]]) from one metadata count —
    * each shard's window stays ≈ task-sized at any corpus size where
    * the former constant let shards grow linearly with the corpus.
    * The count is OUTPUT-VISIBLE (shard = h mod shards), so the
    * DuckDB oracle replays the identical integer law from its own
    * COUNT(*); below 64·1024 docs the law floors at the historical 64
    * and the output is bit-identical to every earlier round. The
    * output contract ((shard, pos) = read order, deterministic in the
    * seed AND the corpus) holds at every size.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    corpusShuffleOn(Tables(spark, dir).documents)

  private[graft] def corpusShuffleOn(docs: DataFrame): DataFrame = {
    val shards = autoShards(docs.count(), ShuffleShards, ShuffleShardDocs,
      ShuffleMaxShards)
    val h = hash60(concat(lit("shuffle7:"), col("doc_id").cast("string")))
    val perShard = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(perShard).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val PackBudget = 256 // words per training sequence

  val PackShards = 32       // floor: parallelism of the seq_pack prefix sum
  val PackShardDocs = 1024L // target docs per prefix-sum shard
  val PackMaxShards = 65536 // bounds the driver-folded offset table

  /** seq_pack — sequence packing: assign chunks to fixed-budget
    * training sequences by contiguous fill in canonical (doc_id,
    * chunk_id) order — pack p holds the chunks whose running word
    * total lands in (p·budget, (p+1)·budget]. Deterministic, and the
    * pack id doubles as the shard key for the training-shard write.
    * (True first-fit bin packing is inherently sequential; contiguous
    * fill is the standard distributed approximation — waste is
    * bounded by the max chunk size per boundary and the fill factor
    * is reported per pack.)
    *
    * The running sum is a TWO-LEVEL prefix sum, never a global
    * window: docs are split into contiguous doc_id ranges (so shard
    * order == global order); level 1 is a per-shard cumulative sum
    * (one hash shuffle, all shards in parallel); level 2 folds the
    * per-shard totals into exclusive offsets on the driver (bounded
    * by [[PackMaxShards]], like a broadcast) and broadcast-joins them
    * back. cum = local + offset is bit-identical to the serial global
    * window at any parallelism — and the plan has no single-partition
    * exchange (asserted in CurationTemporalSpec). The shard count is
    * the [[autoShards]] law (floor [[PackShards]], target
    * [[PackShardDocs]] docs/shard) from a count that rides the
    * min/max bounds aggregation already paid — per-shard window size
    * stays ≈ constant at any corpus size, and the decomposition's
    * exactness makes the count invisible in the output.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    seqPackOn(Tables(spark, dir).documents)

  private[graft] def seqPackOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // shard span from a single-column scan of the raw table (min/max
    // pushdown-friendly; never touches the exploded chunks); the row
    // count for the shard law rides the same aggregation
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id")),
      count(lit(1))).head()
    // empty input (legal: an aggressive upstream filter chain can
    // remove every doc — found live when a pathological corpus
    // decontaminated to nothing inside pipeline_e2e) → empty output,
    // not a null-row crash on the typed bound reads below
    if (bounds.isNullAt(0)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, String)]
        .toDF("pack_id", "n_chunks", "n_words", "first_chunk")
    }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val shards = autoShards(bounds.getLong(2), PackShards, PackShardDocs,
      PackMaxShards)
    val span = math.max(1L, (hi - lo) / shards + 1)
    val chunks = chunksOf(docs)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_words"))
      // integer div, not `/`: Spark's `/` is double division and a
      // 53-bit mantissa misplaces rows near shard boundaries for
      // very large ids; `div` is exact at any id magnitude
      .withColumn("shard", expr(s"(doc_id - $lo) div $span"))
    // level 2 first: per-shard totals → exclusive prefix offsets.
    // Driver sees ≤ PackMaxShards rows — the broadcast-dimension class.
    val totals = chunks.groupBy(col("shard"))
      .agg(sum(col("n_chunk_words")).as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = {
      var acc = 0L
      val rows = totals.map { case (s, t) => val o = acc; acc += t; (s, o) }
      import spark.implicits._
      rows.toSeq.toDF("shard", "offset")
    }
    // level 1: per-shard running sum, shifted by the shard's offset
    val perShard = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = chunks
      .withColumn("scum", sum(col("n_chunk_words")).over(perShard))
      .join(broadcast(offsets), "shard")
      .withColumn("cum", col("scum") + col("offset"))
      // ceil(cum/budget) - 1: the pack whose (p+1)·budget the running
      // total first fits under; pure integer arithmetic both engines
      .withColumn("pack_id", ceil(col("cum").cast("double") / PackBudget).cast("long") - 1)
    packed.groupBy(col("pack_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_words")).as("n_words"),
        min(concat_ws("#", col("doc_id"), col("chunk_id"))).as("first_chunk"))
      .orderBy(col("pack_id"))
  }

  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\d{3}-\\d{3}-\\d{4}"

  /** pii_scrub — regex redaction of emails and phone numbers with
    * per-document counts. The synthetic corpus contains no PII, so
    * every 7th document gets a deterministic injected email+phone
    * prefix INSIDE the query (the same fixture pattern as hr_parse's
    * 1-in-13 corruption) — the scrub then provably removes it. Both
    * patterns are RE2-safe (no backtracking constructs) so Spark's
    * Java regex and DuckDB's RE2 agree; at scale this is a pure
    * map-side pass, regex-bound like quality_score.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val aug = when(col("doc_id") % 7 === 0,
      concat(lit("contact user"), col("doc_id").cast("string"), lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199 "), col("text")))
      .otherwise(col("text"))
    docs.withColumn("aug", aug)
      .select(
        col("doc_id"),
        regexp_count(col("aug"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(PhonePat)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("aug"), EmailPat, "[EMAIL]"),
          PhonePat, "[PHONE]").as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** tfidf — top-5 distinguishing terms per document. Rarity weight
    * is integer-exact: score_ppm = tf·10⁶ div df (floor division on
    * both engines — same ranking as tf·idf without cross-engine
    * float log drift). Two shuffles (per-doc tf, per-term df) then a
    * broadcast-size join of df back onto tf at any corpus size where
    * the vocabulary ≪ corpus; top-5 via one windowed rank over the
    * doc-keyed partial.
    */
  def tfidf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables(spark, dir).documents
    val terms = docs.withColumn("word", explode(words(col("text"))))
      .filter(col("word") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("word"))
    tf.join(df, "word")
      .withColumn("score_ppm", expr("tf * 1000000 div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score_ppm"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Embedding width for [[docEmbed]] (fixed by the kernel). */
  val EmbedDim: Int = graft.functions.EmbedKernel.Dim

  /** doc_embed — text → vector entirely in-engine via the hashing
    * trick (feature hashing, Weinberger et al. 2009): each word maps
    * to bucket hash60("emb:"+w) mod [[EmbedDim]] with sign ±1 from
    * an independent hash bit, and the document vector is the signed
    * occurrence count per bucket. This is the bridge from the text
    * corpus to the ANN/semdedup family when no model embeddings
    * exist yet (the first clustering pass of a curation loop);
    * [[docEmbeddings]] adapts the output to the (vec_id, v) frame
    * every similarity operator consumes.
    *
    * Scale shape: per-word (bucket, sign) is computed ONCE into an
    * array, then the vector accumulates map-side inside the scan
    * stage — no shuffle, no vocabulary table, O(dim · words) integer
    * ops per doc. Output ships the INTEGER vector (joined string,
    * the vec_quant convention) plus its exact squared norm — no
    * float normalization in the oracle-compared columns, so the
    * DuckDB twin is bit-exact; consumers normalize at use.
    */
  def docEmbed(spark: SparkSession, dir: String): DataFrame =
    docEmbedOn(Tables(spark, dir).documents)

  /** The signed-count hashing-trick vector + squared norm, one
    * tight-loop pass over the codegen'd word array per document via
    * [[graft.functions.EmbedKernel]] — shared by [[docEmbedOn]] and
    * [[docEmbeddings]]. All map-side, no shuffle, no vocabulary
    * table; same md5-derived bucket/sign math as the DuckDB oracle.
    */
  private def embedVec(docs: DataFrame): DataFrame =
    docs
      .withColumn("ev", graft.functions.EmbedKernel.embedKernel(words(col("text"))))
      .withColumn("vec", col("ev.vec"))

  private[graft] def docEmbedOn(docs: DataFrame): DataFrame =
    embedVec(docs)
      .select(col("doc_id"),
        concat_ws(",", col("vec")).as("vec_str"),
        col("ev.n2").as("n2"))
      .orderBy(col("doc_id"))

  /** The [[docEmbed]] vectors as the (vec_id, v: array<double>)
    * frame the ANN/embedding family consumes (L2-unnormalized;
    * cosine is scale-invariant so similarity operators are
    * unaffected).
    */
  private[graft] def docEmbeddings(docs: DataFrame): DataFrame =
    embedVec(docs)
      .select(col("doc_id").as("vec_id"),
        expr("transform(vec, x -> cast(x as double))").as("v"))

  /** Per-language keep rates (ppm): downsample the dominant language
    * toward a balanced corpus. Literal spec so both engines see the
    * same CASE.
    */
  val SampleRatesPpm: Seq[(String, Long)] =
    Seq("en" -> 150000L, "zh" -> 500000L, "es" -> 500000L, "de" -> 500000L, "fr" -> 500000L)

  /** sample_stratified — deterministic hash sampling with per-stratum
    * rates: keep a document iff its seeded 60-bit content-independent
    * hash mod 10⁶ falls under its language's rate. Reproducible on
    * any engine (md5-derived hash, no rand()), map-side only, and at
    * 100 TB the sample decision needs no shuffle at all — it's a
    * scan-level filter.
    */
  /** sample_quota — exact per-stratum quotas: exactly K documents
    * per language (or all of a smaller stratum), selected by seeded
    * hash order so the draw is uniform, deterministic, and stable
    * under corpus growth in expectation. Runs on
    * [[graft.plans.TopK]] (Spark's `WindowGroupLimit`): each map task
    * keeps ≤ K rows per language before the one shuffle on lang, so
    * no stratum lands whole on one task. Oracle:
    * row_number over the same hash order.
    */
  def sampleQuota(spark: SparkSession, dir: String, k: Int = 40): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("bucket",
        pmod(hash60(concat(lit("quota:"), col("doc_id").cast("string"))), lit(1000000L)))
      .select(col("doc_id"), col("lang"), col("bucket"))
    graft.plans.TopK.topKPerKey(docs,
        keys = Seq(col("lang")),
        order = Seq(col("bucket").asc, col("doc_id").asc), k = k)
      .orderBy(col("lang"), col("bucket"), col("doc_id"))
  }

  /** Target token shares (ppm, summing to 10⁶) per language for
    * [[sampleMixture]] — the "data mixture" spec a training run
    * fixes up front. Literal so both engines see the same CASE.
    */
  val MixtureSharesPpm: Seq[(String, Long)] =
    Seq("en" -> 300000L, "zh" -> 175000L, "es" -> 175000L, "de" -> 175000L, "fr" -> 175000L)

  /** sample_mixture — mixture-weighted downsampling: pick per-stratum
    * keep rates so the SAMPLED corpus hits the target token-share mix
    * ([[MixtureSharesPpm]]) at the largest total the corpus supports.
    * The bottleneck stratum is the one with the least supply relative
    * to its target (min over l of Wₗ·10⁶ div shareₗ); it keeps
    * everything (rate 10⁶) and every other stratum downsamples to
    * shareₗ·T div Wₗ. Documents are then kept by the usual seeded
    * hash draw — so the realized mix matches the target in
    * expectation, token-weighted, with no sorting and no global
    * coordination.
    *
    * Determinism: all rate arithmetic is integer (the intermediate
    * shareₗ·T runs in DECIMAL(38,0) / HUGEINT — at 100 TB scale
    * Wₗ·10⁶ exceeds an int64, the seq_pack `div` lesson one level
    * up); the draw is the md5-derived 60-bit hash. Scale shape: one
    * words-per-doc aggregation to ≤|langs| rows, a broadcast of the
    * rate table, then a scan-level filter — the sample itself costs
    * no shuffle, exactly like sample_stratified.
    */
  /** Budget denominator for [[mixBudget]]: the fixture budget is
    * half the corpus's tokens — enough that small sources survive
    * whole and large ones cap (both regimes exercised at every SF).
    */
  val MixBudgetDen = 2L

  /** mix_budget — token-budget waterfilling across sources (the
    * mixture-construction solver a training run uses when the token
    * budget is smaller than the corpus: sources below the water
    * level keep every token, sources above it are capped at a
    * common level c chosen so the total exactly fills the budget —
    * the allocation that maximizes the minimum source share, i.e.
    * the standard max-min fair / waterfilling solution). Emits the
    * per-source card: tokens, allocated tokens, keep rate (ppm),
    * capped flag; [[sampleStratified]]-style hash sampling applies
    * the rates map-side downstream.
    *
    * Exactness: sort sources by size, then source i is uncapped iff
    * Tᵢ·(n−i+1) ≤ B − P_{i−1} (prefix sums; the condition is
    * monotone — g(i+1)−g(i) = (n−i)(T_{i+1}−Tᵢ) ≥ 0 — so violators
    * form a suffix) and the cap is c = (B − P_j) div (n − j) for the
    * last uncapped j. Pure integer arithmetic — DuckDB reproduces it
    * with window functions bit-for-bit.
    *
    * Scale shape: ONE corpus aggregation (map-side-combinable token
    * sums per source) produces a card that is metadata-sized BY
    * NATURE (one row per source); the solve runs on the driver over
    * that bounded card (the BPE-argmax collect class) in exact
    * BigInt. At 100 TB only the groupBy scales; the solver does not.
    */
  def mixBudget(spark: SparkSession, dir: String): DataFrame =
    mixBudgetOn(Tables(spark, dir).documents)

  private[graft] def mixBudgetOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val card = docs
      .select(col("source"), size(words(col("text"))).cast("long").as("nw"))
      .groupBy(col("source")).agg(sum(col("nw")).as("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (s, t) => (t, s) } // waterfill order: size, then name
    val total = card.map(_._2).sum
    val budget = total / MixBudgetDen
    val n = card.length
    val prefix = card.scanLeft(0L) { case (acc, (_, t)) => acc + t }
    // last uncapped index (1-based); violators form a suffix
    val j = (1 to n).takeWhile(i =>
      BigInt(card(i - 1)._2) * (n - i + 1) <= BigInt(budget) - prefix(i - 1)).lastOption
      .getOrElse(0)
    val cap = if (j == n) Long.MaxValue else (budget - prefix(j)) / (n - j)
    card.map { case (s, t) =>
      val alloc = math.min(t, cap)
      val rate = if (t == 0) 0L else (BigInt(alloc) * 1000000 / t).toLong
      (s, t, alloc, rate, if (t > cap) 1L else 0L)
    }.sortBy(_._1).toSeq
      .toDF("source", "tokens", "alloc", "rate_ppm", "capped")
  }

  /** Fixture moduli for [[corpusDiff]]'s deterministic v2 snapshot
    * (the scd2Updates in-query-fixture convention): removals, edits,
    * additions. Fixture-spawned ADDITIONS are parity-encoded — real
    * snapshot rows carry doc_id·2 (even), brand-new fixture docs
    * doc_id·2+1 (odd); decode real id = id div 2 — the same recipe
    * that retired the graph family's SupplierNodeOffset (r13): the
    * old `DiffAddOffset = 10⁶` aliased a synthetic id with a real one
    * past 10⁶ documents (any production corpus), collapsing the
    * fixture's id-distinctness. Parity is collision-free at every key
    * range to 2⁶², with no constant left to freeze.
    */
  val DiffRemoveMod = 13L
  val DiffEditMod = 7L
  val DiffAddMod = 11L

  /** corpus_diff — dataset-version delta (the snapshot-diff
    * primitive a versioned training corpus needs before every
    * re-curation: what changed since the run I already validated?):
    * two corpus snapshots compared by doc id + CONTENT FINGERPRINT,
    * each doc classified added / removed / changed / unchanged. The
    * v2 snapshot derives deterministically in-query — every
    * [[DiffRemoveMod]]-th doc dropped, every [[DiffEditMod]]-th
    * edited (new fingerprint), every [[DiffAddMod]]-th spawning a
    * brand-new doc — so both engines construct the identical pair of
    * snapshots (Verify is stateless; a deployment passes two real
    * frames to [[corpusDiffOn]]).
    *
    * Scale shape: map-side fingerprints on both snapshots, then ONE
    * doc_id-keyed full-outer shuffle join — the MERGE-class plan
    * (scd2's shape without the version explode). With both
    * snapshots bucketed on doc_id (the storage-layout pattern) the
    * diff shuffles nothing.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // moduli classify on the RAW doc_id; both snapshots then carry
    // parity-encoded ids (real = 2·id, fixture-added = 2·id+1) so a
    // synthetic addition can never alias a real doc at any key range
    val v1 = docs.select((col("doc_id") * 2).as("doc_id"), col("text"))
    val v2 = docs.filter(col("doc_id") % DiffRemoveMod =!= 5)
      .select((col("doc_id") * 2).as("doc_id"),
        when(col("doc_id") % DiffEditMod === 3,
          concat(col("text"), lit(" v2 edit"))).otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % DiffAddMod === 2)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), lit(" brand new")).as("text")))
    corpusDiffOn(v1, v2)
  }

  private[graft] def corpusDiffOn(v1docs: DataFrame, v2docs: DataFrame): DataFrame = {
    val v1 = v1docs.select(col("doc_id"), md5(normalize(col("text"))).as("fp1"))
    val v2 = v2docs.select(col("doc_id"), md5(normalize(col("text"))).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp2").isNull, lit("removed"))
          .when(col("fp1").isNull, lit("added"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("fp2"), col("fp1")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Shard count for [[shardBalance]] and the linear size-bucket
    * width/cap (bucket = min(tokens div 32, 63) — integer-exact on
    * both engines, unlike a float log2 whose ulp could flip a
    * boundary doc's bucket).
    */
  val BalanceShards = 16
  val BalanceBucketWidth = 32L
  val BalanceMaxBucket = 63L

  /** Segment count for [[shardBalance]]'s two-level prefix sum — the
    * PARALLELISM knob (a deployment raises it with corpus size),
    * deliberately separate from the bucket count, which is a SEMANTIC
    * constant fixed by the size-class definition and must never be
    * widened just to buy parallelism.
    */
  val BalanceSegments = 32

  /** shard_balance — SIZE-BALANCED shard assignment (the LPT-class
    * complement of [[corpusShuffle]]'s hash sharding): docs are
    * size-bucketed, each bucket round-robins its members across the
    * [[BalanceShards]] shards (staggered by bucket id so remainders
    * don't all favor shard 0), and the emitted card is per-shard
    * (n_docs, tokens). Because every bucket spreads evenly and
    * within-bucket sizes differ by < [[BalanceBucketWidth]] tokens,
    * shard token totals differ by at most ~(buckets ×
    * bucket width) regardless of the size distribution — the bound
    * ShardBalanceSpec asserts. Hash sharding by contrast inherits
    * the full variance of the size distribution.
    *
    * Scale shape: the within-bucket rank is a TWO-LEVEL prefix sum
    * (seq_pack's pattern), never a bucket-partitioned global window —
    * the bucket key is BOUNDED (≤ 64 size classes, a semantic
    * constant), so a `Window.partitionBy(bucket)` row_number would
    * hand each task corpus/64 rows to sort at ANY scale (the round-8
    * verdict's one weak). Instead docs split into [[BalanceSegments]]
    * contiguous doc_id ranges (segment order == doc_id order, so
    * per-(bucket, segment) local ranks splice into the exact global
    * bucket rank); level 2 folds the ≤ 64·segments (bucket, segment)
    * counts into exclusive offsets on the driver (constant metadata)
    * and broadcast-joins them back; level 1 is a (bucket, segment)-
    * partitioned row_number — 64·[[BalanceSegments]]-way parallel,
    * each partition ~corpus/(64·segments) rows, and the segment knob
    * scales with the cluster. rank = offset + local rank is
    * bit-identical to the serial bucket window at any parallelism
    * (ShardBalanceSpec asserts equality against the serial twin).
    */
  def shardBalance(spark: SparkSession, dir: String): DataFrame =
    shardBalanceOn(Tables(spark, dir).documents)

  private[graft] def shardBalanceOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bounds.isNullAt(0)) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("shard", "n_docs", "tokens")
    }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / BalanceSegments + 1)
    // two consumers (level-2 counts, level-1 rank pass): materialize
    // the tokenized card ONCE — it is 4 longs per doc, orders of
    // magnitude below the text it summarizes, and without this the
    // dominant tokenization map runs twice
    val w = docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("nw"))
      .withColumn("bucket",
        least(expr(s"nw div $BalanceBucketWidth"), lit(BalanceMaxBucket)))
      // integer `div` (not `/`): exact segment placement at any id
      // magnitude (the seq_pack mantissa reasoning)
      .withColumn("seg", expr(s"(doc_id - $lo) div $span"))
      .materialized
    // level 2: (bucket, segment) counts → exclusive within-bucket
    // offsets. Driver sees ≤ 64·BalanceSegments rows — constant.
    val counts = w.groupBy(col("bucket"), col("seg"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val offsets = {
      val rows = Seq.newBuilder[(Long, Long, Long)]
      var curBucket = -1L
      var acc = 0L
      counts.foreach { case (b, s, c) =>
        if (b != curBucket) { curBucket = b; acc = 0L }
        rows += ((b, s, acc)); acc += c
      }
      import spark.implicits._
      rows.result().toDF("bucket", "seg", "off")
    }
    // level 1: local rank within (bucket, segment), spliced by offset
    val bySeg = Window.partitionBy(col("bucket"), col("seg"))
      .orderBy(col("doc_id"))
    w.withColumn("r", row_number().over(bySeg).cast("long"))
      .join(broadcast(offsets), Seq("bucket", "seg"))
      .withColumn("shard",
        pmod(col("off") + col("r") - 1 + col("bucket"), lit(BalanceShards.toLong)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens"))
      .orderBy(col("shard"))
  }

  /** mix_temperature — temperature-scaled mixture weights (the
    * multilingual-LM sampling convention: p(source) ∝ tokensᵅ with
    * α < 1 upweighting small sources so head domains don't drown the
    * tail). α is pinned to 1/2 so the weight is the INTEGER SQUARE
    * ROOT of the token count — exact on both engines (a float pow
    * would drift in the last ulp across engines; the oracle
    * reproduces isqrt from floor(sqrt(·)) with a ±1 lattice
    * correction, exact for token counts < 2⁵²). Emits the per-source
    * card: tokens, weight, natural share (ppm) and temperature share
    * (ppm) — the rate table a [[sampleMixture]]-style hash sampler
    * applies map-side downstream.
    *
    * Scale shape: identical to [[mixBudget]] — ONE map-side-
    * combinable token-sum aggregation to a per-source card that is
    * metadata-sized by nature, then the exact-BigInt share
    * arithmetic on the driver over that bounded card. At 100 TB only
    * the groupBy scales.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    mixTemperatureOn(Tables(spark, dir).documents)

  private[graft] def mixTemperatureOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def isqrt(n: Long): Long = {
      if (n <= 0) 0L
      else {
        var x = math.sqrt(n.toDouble).toLong
        while (x > 0 && x * x > n) x -= 1
        while ((x + 1) * (x + 1) <= n) x += 1
        x
      }
    }
    val card = docs
      .select(col("source"), size(words(col("text"))).cast("long").as("nw"))
      .groupBy(col("source")).agg(sum(col("nw")).as("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val totalT = card.map(t => BigInt(t._2)).sum
    val weights = card.map { case (s, t) => (s, t, isqrt(t)) }
    val totalW = weights.map(w => BigInt(w._3)).sum
    weights.map { case (s, t, w) =>
      val nat = if (totalT == 0) 0L else (BigInt(t) * 1000000 / totalT).toLong
      val temp = if (totalW == 0) 0L else (BigInt(w) * 1000000 / totalW).toLong
      (s, t, w, nat, temp)
    }.sortBy(_._1).toSeq
      .toDF("source", "tokens", "w", "nat_ppm", "temp_ppm")
  }

  /** Epoch count of [[annealMix]]'s schedule (epoch 0 = natural
    * corpus mix, epoch AnnealEpochs−1 = fully annealed target mix).
    */
  val AnnealEpochs = 4

  /** anneal_mix — the DATA-CURRICULUM schedule card (the decay-phase
    * mixture shift: train most of the run on the natural corpus mix,
    * then anneal the sampling distribution toward high-quality data
    * for the final epochs — the published Llama-3/MiniCPM-style
    * two-phase recipe). For each epoch e, each source's sampling
    * share interpolates linearly on the integer ppm lattice between
    * its NATURAL token share and its HIGH-QUALITY token share (share
    * of tokens in docs whose quality score clears the
    * [[Text.qualityScore]] 'high' bucket, ≥ 0.6):
    *
    *   share_e = nat + (e·(tgt − nat)) div (E−1)
    *
    * tgt − nat is SIGNED; both BigInt `/` here and DuckDB integer
    * `//` truncate toward zero (the ts_seasonal round-8 lesson — do
    * not claim floor), so the lattice is engine-exact, and at
    * e = E−1 the division cancels exactly: the last epoch's share IS
    * the target share (spec-pinned endpoint law). A corpus with no
    * high-quality tokens anneals to itself (tgt := nat).
    *
    * Scale shape: the mixBudget/mixTemperature contract — ONE
    * map-side-combinable aggregation (per-source token + hq-token
    * sums, reusing the single quality-score definition) to a
    * metadata-sized card, exact BigInt share arithmetic on the
    * driver over that bounded card, E×|sources| output rows. At
    * 100 TB only the groupBy scales; the ppm products run in BigInt
    * so the ~9·10¹² - token int64 overflow point does not exist here
    * (the oracle's BIGINT lattice is the binding bound, as with
    * sample_mixture).
    */
  def annealMix(spark: SparkSession, dir: String): DataFrame =
    annealMixOn(Tables(spark, dir).documents)

  private[graft] def annealMixOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val card = Text.withQualityScore(docs)
      .select(col("source"), col("n_words"),
        when(col("score") >= 0.6, col("n_words")).otherwise(lit(0L)).as("hqw"))
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("tokens"), sum(col("hqw")).as("hq_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val tot = card.map(t => BigInt(t._2)).sum
    val hqTot = card.map(t => BigInt(t._3)).sum
    val rows = for {
      e <- 0 until AnnealEpochs
      (s, tok, hq) <- card
    } yield {
      val nat = if (tot == 0) BigInt(0) else BigInt(tok) * 1000000 / tot
      val tgt = if (hqTot == 0) nat else BigInt(hq) * 1000000 / hqTot
      val share = nat + BigInt(e) * (tgt - nat) / (AnnealEpochs - 1)
      (e.toLong, s, tok, hq, nat.toLong, tgt.toLong, share.toLong)
    }
    rows.sortBy(t => (t._1, t._2)).toDF("epoch", "source", "tokens",
      "hq_tokens", "natural_ppm", "target_ppm", "share_ppm")
  }

  def sampleMixture(spark: SparkSession, dir: String): DataFrame =
    sampleMixtureOn(Tables(spark, dir).documents)

  private[graft] def sampleMixtureOn(docs: DataFrame): DataFrame = {
    val withW = docs.select(col("doc_id"), col("lang"),
      size(words(col("text"))).cast("long").as("nw"))
    val share = MixtureSharesPpm.foldLeft(lit(0L)) { case (acc, (lang, ppm)) =>
      when(col("lang") === lang, lit(ppm)).otherwise(acc)
    }
    // capacity_l = the largest total sampled-token count stratum l can
    // support at its target share; the realizable total T is the min.
    // Wl·10⁶ runs in DECIMAL(38,0) like the rates below (the oracle's
    // SUM is HUGEINT): an int64 multiply overflows once a stratum
    // holds ~9·10¹² words — i.e. at exactly the 100 TB design point.
    val caps = withW.groupBy(col("lang")).agg(sum(col("nw")).as("wl"))
      .withColumn("sppm", share)
      .filter(col("sppm") > 0)
      .withColumn("cap", expr("CAST(wl AS DECIMAL(38,0)) * 1000000 div sppm"))
    val t = caps.agg(min(col("cap")).as("t"))
    // rate_ppm = share·T div W, computed in 38-digit decimals: share·T
    // alone can exceed int64 once W reaches ~10¹² words (a few TB of
    // text); `div` on decimals yields an exact integral BIGINT.
    val rates = caps.crossJoin(broadcast(t))
      .select(col("lang"), least(lit(1000000L),
        expr("CAST(sppm AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) div wl")).as("rate_ppm"))
    withW
      .join(broadcast(rates), "lang")
      .withColumn("bucket",
        pmod(hash60(concat(lit("mix:"), col("doc_id").cast("string"))), lit(1000000L)))
      .filter(col("bucket") < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("nw"), col("bucket"), col("rate_ppm"))
      .orderBy(col("doc_id"))
  }

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bucket = pmod(hash60(concat(lit("smpl:"), col("doc_id").cast("string"))), lit(1000000L))
    val rate = SampleRatesPpm.foldLeft(lit(0L)) { case (acc, (lang, ppm)) =>
      when(col("lang") === lang, lit(ppm)).otherwise(acc)
    }
    docs.withColumn("bucket", bucket)
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Reservoir size for [[sampleReservoir]]. */
  val ReservoirK = 8

  /** sample_reservoir — uniform k examples per group in ONE pass,
    * via the mergeable bottom-k sketch
    * ([[graft.functions.ReservoirAgg]]): each group keeps the
    * [[ReservoirK]] docs whose seeded rank hash is smallest. The
    * inspect-my-data primitive every 100 TB curation loop runs
    * ("show me 8 random docs per language/source/quality bucket"),
    * and the scale contrast to [[sampleStratified]]'s rate filter:
    * exact per-group COUNT k (not a rate), no full sort — map-side
    * partial aggregation reduces every partition to ≤ k rows per
    * group before the exchange, where the equivalent window form
    * (`row_number() OVER (ORDER BY hash)` — the oracle) shuffles and
    * sorts the whole corpus. Bottom-k is a pure function of the
    * input set, so the result is deterministic at any parallelism
    * and identical to the oracle's.
    */
  def sampleReservoir(spark: SparkSession, dir: String): DataFrame =
    sampleReservoirOn(Tables(spark, dir).documents)

  /** Same sketch sample over any (doc_id, lang) DataFrame. */
  private[graft] def sampleReservoirOn(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(graft.functions.ReservoirAgg.reservoir(
        hash60(col("doc_id").cast("string")), col("doc_id"), ReservoirK).as("rs"))
      .select(col("lang"), posexplode(col("rs")).as(Seq("i", "doc_id")))
      .select(col("lang"), (col("i") + 1).cast("long").as("rank"), col("doc_id"))
      .orderBy(col("lang"), col("rank"))

  /** Weighted-sample size for [[sampleWeighted]], and the weight
    * floor in 10⁻⁴ units (a zero weight would make the E-S key
    * infinite; 1 q4 unit ≡ the old 1e-4 double floor).
    */
  val WeightedK = 8
  val WeightFloorQ4 = 1L

  /** sample_weighted — Efraimidis–Spirakis weighted k-sample per
    * group through the SAME mergeable bottom-k sketch as
    * [[sampleReservoir]]: each doc's rank is −ln(u)/w on a 2⁴⁰
    * integer lattice, where u is the doc's seeded 53-bit md5 uniform
    * and w the quality score in 10⁻⁴ units — the k smallest ranks
    * per group are a weighted-without-replacement sample with
    * inclusion odds proportional to weight (the A-ES result). The
    * quality-weighted subsampling a curation mix actually ships
    * (sample MORE from what's good) where [[sampleReservoir]]
    * samples uniformly.
    *
    * Scale shape identical to the uniform sketch: ≤ k rows per group
    * leave each partition map-side; only kilobyte buffers shuffle.
    * Deterministic at any parallelism (bottom-k of a pure function
    * of the row). PROMOTED to the oracle gate round 12: the rank's
    * libm `ln` — the one non-replicable step that kept this
    * rows-only — is replaced by the SPECIFIED integer binary
    * logarithm of [[graft.functions.EsRankLat]] (40 exact
    * square-and-compare rounds, ln2 frozen as an integer constant),
    * which DuckDB unrolls over HUGEINT and matches bit for bit. The
    * weight enters as round(score·10⁴) — `score` is itself
    * oracle-proven 4-decimal, so the integerization is exact on both
    * engines — and scaling w by any constant leaves the rank ORDER
    * (hence the sample) unchanged, so q4 units lose nothing.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val scored = Text.withQualityScore(Tables(spark, dir).documents)
      .select(col("doc_id"), col("lang"), col("score"))
    sampleWeightedOn(scored,
      greatest(round(col("score") * 10000, 0).cast("long"), lit(WeightFloorQ4)))
  }

  /** The E-S rank of the doc_id column under the given q4-integer
    * weight (see [[graft.functions.EsRankLat]] for the exact spec).
    */
  private[graft] def esRank(weightQ4: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = shiftrightunsigned(hash60(col("doc_id").cast("string")), 7) + 1
    graft.functions.EsRankLat.esRankLat(u, weightQ4)
  }

  private[graft] def sampleWeightedOn(
      docs: DataFrame, weightQ4: org.apache.spark.sql.Column): DataFrame =
    docs.groupBy(col("lang"))
      .agg(graft.functions.ReservoirAgg.reservoir(
        esRank(weightQ4), col("doc_id"), WeightedK).as("rs"))
      .select(col("lang"), posexplode(col("rs")).as(Seq("i", "doc_id")))
      .select(col("lang"), (col("i") + 1).cast("long").as("rank"), col("doc_id"))
      .orderBy(col("lang"), col("rank"))

  /** KMV sketch size for [[sourceOverlap]]. Above the per-source
    * distinct-content count (25-2500 docs/source at test SFs) the
    * k-minimum-values sketch never evicts and IS the exact
    * fingerprint set — which makes the registered query
    * oracle-checkable; the eviction regime (estimate error
    * ≤ ~1/√k) is property-tested on an over-capacity synthetic.
    */
  val KmvK = 4096

  /** source_overlap — pairwise content overlap BETWEEN sources from
    * per-source KMV (k-minimum-values) sketches: which crawls/feeds
    * duplicate each other, the provenance card that decides source
    * dedup order and mixture double-counting corrections. Per
    * source, the [[KmvK]] smallest distinct content fingerprints
    * (the same mergeable bottom-k aggregate as the samplers — the
    * corpus never shuffles, only kilobyte sketches do); per source
    * pair, the standard KMV estimator Ĵ = |k-min of union ∩ both| /
    * k′ on an integer ppm lattice. The pair grid is |sources|²
    * metadata (the embedding block-grid class, plan-guard
    * allowlisted); everything pairwise happens on sketch ARRAYS
    * with higher-order functions — doc-level rows never meet across
    * sources.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(Tables(spark, dir).documents)

  private[graft] def sourceOverlapOn(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val fps = docs
      .select(col("source"), hash60(normalize(col("text"))).as("fp"))
      .distinct()
    val sk = fps.groupBy(col("source"))
      .agg(graft.functions.ReservoirAgg.reservoir(
        col("fp"), col("fp"), k).as("fps"))
    val a = sk.select(col("source").as("src_a"), col("fps").as("fa"))
    val b = sk.select(col("source").as("src_b"), col("fps").as("fb"))
    a.crossJoin(broadcast(b))
      .filter(col("src_a") < col("src_b"))
      .withColumn("u", expr("array_sort(array_union(fa, fb))"))
      .withColumn("k_used", least(lit(k), size(col("u"))).cast("long"))
      .withColumn("n_common", expr(
        s"size(array_intersect(slice(u, 1, $k), array_intersect(fa, fb)))").cast("long"))
      .select(col("src_a"), col("src_b"), col("k_used"), col("n_common"),
        expr("CAST(n_common * 1000000 AS BIGINT) div k_used").as("jaccard_est_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** corpus_stats — the dataset card: doc / word / char / token-
    * estimate / high-quality counts per language × source with CUBE
    * subtotals ('ALL' rows), in ONE pass over the corpus. The
    * summary every curation decision starts from (what's in the mix,
    * which sources carry quality), and what a data release publishes.
    *
    * The quality column is [[Text.withQualityScore]] — the same
    * single score definition the gate and the stream use. All
    * aggregates are integer-exact (sums of longs; token estimate is
    * chars div 4 after summing). Scale: one map pass + one CUBE
    * aggregation whose output is |langs|·|sources| rows — partial
    * aggregation collapses everything map-side.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    corpusStatsOn(Tables(spark, dir).documents)

  private[graft] def corpusStatsOn(docs: DataFrame): DataFrame =
    Text.withQualityScore(docs)
      .select(col("lang"), col("source"), col("n_words"),
        length(col("norm")).cast("long").as("nc"),
        (col("score") >= 0.6).cast("long").as("hq"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("nc")).as("n_chars"), sum(col("hq")).as("n_hq"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_words"), col("n_chars"), col("n_hq"),
        expr("n_chars div 4").as("est_tokens"))
      .orderBy(col("lang"), col("source"))

  /** quantile_sketch — per-language doc-length quantile card from a
    * MERGEABLE log-histogram summary
    * ([[graft.functions.QuantileSketchAgg]], the DDSketch/HDR class):
    * the dataset-card percentile column [[corpusStats]] couldn't
    * provide without a per-group sort. One map pass collapses every
    * doc into a ≤ 2048-cell bucket map map-side; only kilobyte
    * summaries shuffle, and p25/p50/p75/p90/p99 read off the merged
    * histogram as lattice order statistics — the corpus is NEVER
    * re-sorted, at any scale. Relative value error ≤ 2^-5 (spec-
    * bounded vs the exact per-group percentiles); the bucket lattice
    * is integer-exact, so the oracle reproduces the card bit-for-bit
    * with `bin()`/shift/mask SQL.
    */
  def quantileCard(spark: SparkSession, dir: String): DataFrame =
    quantileCardOn(Tables(spark, dir).documents)

  private[graft] def quantileCardOn(docs: DataFrame): DataFrame = {
    import graft.functions.QuantileSketchAgg.quantileSketch
    docs
      .select(col("lang"), length(col("text")).cast("long").as("len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        quantileSketch(col("len"), Seq(25, 50, 75, 90, 99)).as("qs"))
      .select(col("lang"), col("n_docs"),
        col("qs").getItem(0).as("len_p25"),
        col("qs").getItem(1).as("len_p50"),
        col("qs").getItem(2).as("len_p75"),
        col("qs").getItem(3).as("len_p90"),
        col("qs").getItem(4).as("len_p99"))
      .orderBy(col("lang"))
  }

  /** Split fractions (ppm of the hash space) for [[dataSplit]]:
    * train/val/test = 90/5/5. Boundaries injected into the oracle.
    */
  val SplitValPpm = 50000L
  val SplitTestPpm = 100000L

  /** data_split — deterministic train/val/test assignment (the
    * train-eval hygiene operator): each doc hashes ONCE into the
    * ppm space under a split-specific salt; [0,val) → val,
    * [val,test) → test, rest → train. Disjoint and exhaustive BY
    * CONSTRUCTION (one hash, non-overlapping ranges — not three
    * independent samples that could collide), stable across runs
    * and cluster sizes, and new documents never reshuffle old
    * assignments (the property a growing corpus needs: assignment
    * depends only on doc_id). Scan-level filterless map — no
    * shuffle before the output sort.
    */
  /** The split of the doc id held in column `side` — the single
    * hash-range rule shared by [[dataSplit]] and [[splitLeak]].
    */
  private def splitOf(side: String): org.apache.spark.sql.Column = {
    val bucket = pmod(hash60(concat(lit("split:"), col(side).cast("string"))),
      lit(1000000L))
    when(bucket < SplitValPpm, "val")
      .when(bucket < SplitTestPpm, "test")
      .otherwise("train")
  }

  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bucket = pmod(hash60(concat(lit("split:"), col("doc_id").cast("string"))),
      lit(1000000L))
    docs.withColumn("bucket", bucket)
      .withColumn("split", splitOf("doc_id"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** split_leak — CROSS-SPLIT contamination audit (decontaminate's
    * sibling INSIDE the corpus: decontaminate checks train against an
    * external benchmark; this checks the corpus's own train/val/test
    * cut against its near-duplicate structure — a val doc whose
    * near-copy sits in train inflates eval exactly like benchmark
    * leakage): every ngram_jaccard near-dup pair (τ = 0.5, the
    * registered operator's pair core — same code, same constants)
    * lands in a (split_a ≤ split_b) cell with its
    * exact-duplicate sub-count (md5 text equality), zero-filled over
    * all six cells. The off-diagonal cells ARE the leakage; the fix
    * is content-keyed splitting, which this card motivates and
    * measures.
    *
    * Scale shape: the pair set is the dedup family's (bucketed
    * candidate generation, never all-pairs); split assignment is a
    * map-side hash re-derived on each pair side (cheaper than
    * shuffling an assignment join — it is a pure doc_id function);
    * one six-cell aggregation.
    */
  def splitLeak(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val md5s = docs.select(col("doc_id"), md5(col("text")).as("tkey"))
    val pairs = Dedup.ngramJaccardPairs(spark, dir)
    val celled = pairs
      .join(md5s.select(col("doc_id").as("d1"), col("tkey").as("k1")), "d1")
      .join(md5s.select(col("doc_id").as("d2"), col("tkey").as("k2")), "d2")
      .select(
        least(splitOf("d1"), splitOf("d2")).as("split_a"),
        greatest(splitOf("d1"), splitOf("d2")).as("split_b"),
        (col("k1") === col("k2")).cast("long").as("exact"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("exact")).as("n_exact"))
    val cells = Seq(("test", "test"), ("test", "train"), ("test", "val"),
      ("train", "train"), ("train", "val"), ("val", "val"))
      .toDF("split_a", "split_b")
    cells.join(celled, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        (col("split_a") =!= col("split_b")).cast("long").as("is_leak"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Candidate sequence budgets for [[packEval]]. */
  val PackEvalBudgets: Seq[Long] = Seq(64L, 128L, 256L, 512L)

  /** pack_eval — sequence-packing BUDGET evaluation card (the
    * decision table before fixing a training sequence length): for
    * each candidate budget B, the number of documents that overflow
    * B, the sequence count under pad-per-doc (Σ ⌈w/B⌉) vs contiguous
    * packing (⌈Σw / B⌉ — seq_pack's lower bound), and the padding
    * waste in ppm of the padded token grid. All integer arithmetic
    * on the word-count lattice.
    *
    * Scale shape: ONE corpus scan producing 4 budget-tagged rows per
    * doc (a constant-factor map explode), one map-side-combinable
    * aggregation to a 4-row card. At 100 TB only the scan scales.
    */
  def packEval(spark: SparkSession, dir: String): DataFrame =
    packEvalOn(Tables(spark, dir).documents)

  private[graft] def packEvalOn(docs: DataFrame): DataFrame = {
    // budgets ride a map-side literal-array explode (a 4-row literal
    // cross join would plan a BroadcastNestedLoopJoin — legal but
    // needlessly a join; the explode keeps the scan stage joinless)
    docs.select(size(words(col("text"))).cast("long").as("nw"))
      .withColumn("budget", explode(array(PackEvalBudgets.map(lit): _*)))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        sum((col("nw") > col("budget")).cast("long")).as("n_oversize"),
        sum(expr("(nw + budget - 1) div budget")).as("n_seqs_padded"))
      .withColumn("n_seqs_packed",
        expr("(total_words + budget - 1) div budget"))
      .withColumn("waste_ppm", expr(
        """CASE WHEN n_seqs_padded = 0 THEN 0L
          |ELSE (n_seqs_padded * budget - total_words) * 1000000
          |  div (n_seqs_padded * budget) END""".stripMargin))
      .orderBy(col("budget"))
  }

  /** user_history — per-user ordered event sequence assembly (the
    * "flatten a user's activity into one training example" operator
    * behind behavioral-sequence models): events collapse to one row
    * per user with the event-type sequence in strict (ts, event_id)
    * order. Determinism trick: collect_list order after a shuffle is
    * NOT guaranteed, so the structs are collected UNORDERED and then
    * `sort_array`ed — sorting happens inside the row, making the
    * result parallelism-independent without a window sort. One
    * user-keyed aggregation with map-side partial collect.
    */
  def userHistory(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    ev.select(col("user_id"),
        struct(graft.Exact.epochMs(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        expr("array_join(transform(seq, x -> x.event_type), ',')").as("history"),
        col("seq")(0).getField("ts_ms").as("first_ms"),
        element_at(col("seq"), -1).getField("ts_ms").as("last_ms"))
      .orderBy(col("user_id"))
  }

  /** Card size for [[eventPaths]]. */
  val PathTopK = 50

  /** event_paths — frequent behavioral PATH mining (the Sankey /
    * funnel-discovery query behind q24's fixed funnel: q24 measures a
    * KNOWN sequence; this DISCOVERS which 3-step paths users
    * actually walk): per user the event stream in strict (ts,
    * event_id) order, every consecutive 3-gram of event types as a
    * `a>b>c` path, and the top [[PathTopK]] paths by occurrence count
    * with their distinct-user reach.
    *
    * Determinism: the window order carries the full (ts_ms,
    * event_id) tie-break, so every path multiset is exact; the final
    * cut orders by (count DESC, path) — a total order, so the top-50
    * frontier is identical on both engines.
    *
    * Scale shape: ONE user-keyed window (user cardinality is
    * unbounded — the safe partition class) producing the two leads,
    * a path-keyed count + distinct-user aggregation (map-side
    * partial), and a global top-k via TakeOrdered — a bounded driver
    * collect (PathTopK rows), never a single-partition sort of the
    * path universe.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame =
    eventPathsOn(Tables(spark, dir).events)

  private[graft] def eventPathsOn(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.Exact.epochMs(col("ts")).as("ts_ms"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      // all three legs non-null, SYMMETRICALLY with the oracle's `||`
      // concatenation (the r10 advisory): concat_ws silently SKIPS a
      // null leg — a null event_type would emit a 2-part 'a>c' path
      // here while nulling the whole path there. A null-typed event
      // still occupies its stream position (filter AFTER the leads),
      // so it breaks paths through it rather than bridging neighbors.
      .filter(col("event_type").isNotNull &&
        col("e2").isNotNull && col("e3").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(PathTopK)
  }

  /** lgConfigK for [[sketchCube]]'s DataSketches HLL (2¹² registers
    * ≈ 1.6% relative error, 4 KB per sketch).
    */
  val SketchLgK = 12

  /** sketch_cube — the MERGEABLE-SKETCH-COLUMN pattern (the datacube
    * design behind every "distinct users per segment AND overall"
    * dashboard at scale): one pass builds a DataSketches HLL sketch
    * of the content fingerprints PER LANGUAGE; the corpus-wide
    * distinct count then comes from hll_union_agg over those few
    * kilobyte-sized sketch values — the corpus is NEVER rescanned
    * for the rollup, which is the entire point: at 100 TB the
    * per-segment sketches are computed once and every further
    * rollup/combination is metadata-sized. Estimates stay within the
    * configured error at any parallelism, but are NOT bit-stable
    * across merge orders: DataSketches HLL promotes sparse→dense at
    * a point that depends on union order, so the estimate can move
    * by ±1 under repartitioning (measured; SketchCubeSpec asserts
    * the tolerance laws, not equality — and this is WHY the query is
    * registered rows-only).
    */
  def sketchCube(spark: SparkSession, dir: String): DataFrame =
    sketchCubeOn(Tables(spark, dir).documents)

  private[graft] def sketchCubeOn(docs: DataFrame): DataFrame = {
    val fp = docs
      .select(col("lang"), hash60(normalize(col("text"))).as("fp60"))
    val perLang = fp.groupBy(col("lang"))
      .agg(hll_sketch_agg(col("fp60"), lit(SketchLgK)).as("sk"),
        count(lit(1)).as("n_docs"))
    val langRows = perLang.select(col("lang"), col("n_docs"),
      hll_sketch_estimate(col("sk")).as("est_distinct"))
    // the rollup reads |langs| sketch rows, not the corpus
    val allRow = perLang
      .agg(sum(col("n_docs")).as("n_docs"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_distinct"))
      .select(lit("ALL").as("lang"), col("n_docs"), col("est_distinct"))
    langRows.unionAll(allRow).orderBy(col("lang"))
  }

  /** Minimum group size for [[kAnon]]: a quasi-identifier
    * combination carried by fewer documents than this is suppressed.
    */
  val KAnonK = 10L

  /** Width of the k_anon length bucket (chars). */
  val KAnonLenBucket = 400L

  /** k_anon — k-anonymity suppression over the release metadata: a
    * document's quasi-identifier tuple (lang, source, length bucket)
    * is published only when at least [[KAnonK]] documents share it;
    * rarer combinations — the re-identifiable tail — are generalized
    * to '*'. The privacy gate a corpus release runs over its
    * metadata columns.
    *
    * Scale shape: the quasi-identifier space is tiny (|langs| ×
    * |sources| × |buckets|), so group sizes come from ONE map-side-
    * combined aggregation whose output is metadata-sized, broadcast
    * back over the corpus — the corpus itself never shuffles (a
    * window over the QI partition would shuffle all of it; plan
    * asserted broadcast in QueryPackSpec).
    */
  def kAnon(spark: SparkSession, dir: String): DataFrame =
    kAnonOn(Tables(spark, dir).documents)

  private[graft] def kAnonOn(docs: DataFrame): DataFrame = {
    val qi = docs.select(col("doc_id"), col("lang"), col("source"),
      expr(s"n_chars div $KAnonLenBucket").as("len_bucket"))
    val sizes = qi.groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("group_n"))
    val ok = col("group_n") >= KAnonK
    qi.join(broadcast(sizes), Seq("lang", "source", "len_bucket"))
      .select(col("doc_id"),
        when(ok, col("lang")).otherwise(lit("*")).as("lang_out"),
        when(ok, col("source")).otherwise(lit("*")).as("source_out"),
        when(ok, col("len_bucket").cast("string")).otherwise(lit("*")).as("len_bucket_out"),
        col("group_n"), (!ok).cast("long").as("suppressed"))
      .orderBy(col("doc_id"))
  }

  /** Budget for [[tokenBudget]] as a fraction of the corpus: select
    * the best docs until total tokens reach corpus_tokens div 3.
    */
  val BudgetDivisor = 3L

  val BudgetShards = 32       // floor: parallelism of the boundary prefix sum
  val BudgetShardDocs = 1024L // target boundary-class docs per shard
  val BudgetMaxShards = 65536

  /** token_budget — data selection under a token budget: keep the
    * highest-quality documents (greedy by (score DESC, doc_id)) whose
    * cumulative word count stays within budget — the "best N tokens"
    * selection a team runs when compute, not data, is the binding
    * constraint (complement of [[sampleMixture]]'s per-source shares
    * and dsir_select's importance weights: THIS one is a hard global
    * budget with a total order).
    *
    * The textbook formulation is a GLOBAL running sum over the
    * quality order — a single-partition window at any scale. Instead,
    * the greedy prefix is decomposed exactly:
    *
    *  1. per-score-CLASS token totals: the score is a ROUND(·,4)
    *     lattice value in [0,1] — ≤ 10001 classes, metadata class —
    *     one map-side-combinable aggregation; the driver walks the
    *     classes in descending order to find the BOUNDARY class s*
    *     (first to cross the budget) and the budget remainder R.
    *  2. classes above s* are selected WHOLESALE (a map-side filter —
    *     no ordering work at all for ~all of the output);
    *  3. only the boundary class runs a prefix sum, and that one is
    *     seq_pack's TWO-LEVEL decomposition (contiguous doc_id-range
    *     shards → per-shard window + driver-folded broadcast
    *     offsets) — bit-identical to the serial running sum, no
    *     single-partition exchange; the shard count is the
    *     [[autoShards]] law over the boundary class's OWN row count
    *     (which rides the class histogram for free), so the worst
    *     case (every doc in one class) keeps per-shard windows
    *     ≈ [[BudgetShardDocs]] docs at any corpus size.
    *
    * Oracle: DuckDB's global `SUM() OVER (ORDER BY score DESC,
    * doc_id)` prefix filter — the serial formulation the
    * decomposition must reproduce exactly.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOn(Tables(spark, dir).documents)

  private[graft] def tokenBudgetOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialize the NARROW scored projection once: four consumers
    // follow (class totals, boundary bounds, shard totals, the final
    // selection) and without this each would re-run the text scan —
    // the corpus-sized work — instead of reading 24 bytes/doc
    val scored = graft.Materialize.eager(Text.withQualityScore(docs)
      .select(col("doc_id"), col("score"), col("n_words")))
    // level A: score-class totals (≤ |round-4 lattice| rows); the
    // per-class row count rides along to size the boundary shard law
    val classes = scored.groupBy(col("score"))
      .agg(sum(col("n_words")).as("tok"), count(lit(1)).as("n"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    if (classes.isEmpty)
      return Seq.empty[(Long, Double, Long)].toDF("doc_id", "score", "n_words")
    val budget = classes.map(_._2).sum / BudgetDivisor
    // walk down the lattice to the boundary class
    var acc = 0L; var i = 0
    while (i < classes.length && acc + classes(i)._2 <= budget) {
      acc += classes(i)._2; i += 1
    }
    val wholesale =
      if (i == 0) scored.filter(lit(false))
      else scored.filter(col("score") >= classes(i - 1)._1)
    if (i == classes.length) return wholesale.orderBy(col("doc_id"))
    val (sStar, remain) = (classes(i)._1, budget - acc)
    // boundary class only: two-level prefix sum in doc_id order
    val shards = autoShards(classes(i)._3, BudgetShards, BudgetShardDocs,
      BudgetMaxShards)
    val cls = scored.filter(col("score") === sStar)
    val bounds = cls.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / shards + 1)
    val sharded = cls.withColumn("shard", expr(s"(doc_id - $lo) div $span"))
    val totals = sharded.groupBy(col("shard"))
      .agg(sum(col("n_words")).as("tot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = {
      var off = 0L
      totals.map { case (s, t) => val o = off; off += t; (s, o) }.toSeq
        .toDF("shard", "offset")
    }
    val perShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = sharded
      .withColumn("scum", sum(col("n_words")).over(perShard))
      .join(broadcast(offsets), "shard")
      .filter(col("scum") + col("offset") <= remain)
      .select(col("doc_id"), col("score"), col("n_words"))
    wholesale.unionByName(boundary).orderBy(col("doc_id"))
  }
}
