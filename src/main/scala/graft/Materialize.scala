package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The library's one materialization point: fan-out intermediates (a
  * frame about to be consumed by several downstream plans — dedup
  * membership tables, shingle sets, scored corpora) go through
  * [[Materialize.eager]], and the per-round states of driver loops
  * (pagerank, k_core, label propagation, Lloyd, BPE/unigram training,
  * SCD2 advance) go through [[Materialize.round]]. Both read ONE
  * session setting, so what survives a lost executor is one choice:
  *
  *   spark.graft.materialize = localCheckpoint (default) | checkpoint
  *
  * - `localCheckpoint` — blocks live on the executors that computed
  *   them, non-replicated, and the truncated lineage cannot recompute
  *   them: the fastest form, and no session CacheManager pin (the
  *   cache-hygiene contract, CacheHygieneSpec). An executor loss (or a
  *   dynamic-allocation decommission, which the Spark docs warn
  *   against combining with local checkpoints) FAILS the query with
  *   `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; nothing restarts the
  *   operator. Right for a dedicated batch run, wrong for clusters
  *   with dynamic allocation or preemptible executors.
  * - `checkpoint` — every materialization lands in the RELIABLE
  *   checkpoint dir (the caller must have called
  *   `sc.setCheckpointDir`): a lost executor's blocks are re-read from
  *   the files, nothing is recomputed. One filesystem write per
  *   materialization, always eager — lazy `rdd.checkpoint()` marks are
  *   only finalized for a job's TOP RDD (doCheckpoint does not recurse
  *   to marked ancestors unless
  *   `spark.checkpoint.checkpointAllMarkedAncestors` is set at context
  *   start), so a lazily-marked round would never reach the dir. The
  *   transient persist around the write keeps the plan from computing
  *   twice (once for the eager action, once inside the checkpoint-file
  *   writer).
  *
  * Any other value is an error: a typo must not silently select the
  * least recoverable form. BlockLossSpec unpersists every block after
  * pagerank, k_core, dedup_clusters and graph_communities return and
  * shows the two values behaving differently; TaskFailureSpec shows
  * both surviving a failed scan task.
  *
  * Both forms replace the logical plan with a LogicalRDD (lineage must
  * not nest round-over-round — the r4 exponential-plan failure) and
  * preserve the child plan's output partitioning, so co-partitioned
  * join plans downstream are strategy-independent and results are
  * bit-identical under both (LoopStrategySpec, CacheHygieneSpec).
  */
object Materialize {

  val StrategyKey = "spark.graft.materialize"

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(StrategyKey).getOrElse("localCheckpoint") match {
      case "localCheckpoint" => false
      case "checkpoint" => true
      case other => throw new IllegalArgumentException(
        s"$StrategyKey = '$other': expected localCheckpoint or checkpoint")
    }

  private def checkpointed(df: DataFrame): DataFrame = {
    val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    try persisted.checkpoint(eager = true)
    finally persisted.unpersist()
  }

  /** Eagerly materialize a multiply-consumed intermediate (see object
    * doc). Eager on purpose: the consumers are typically parallel
    * stages of one job, and a lazy shared frame gets recomputed per
    * consumer (the r5 self-union double-evaluation failure). Note the
    * library-API consequence: calling an operator that materializes
    * runs Spark jobs at DataFrame CONSTRUCTION time (documented per
    * operator).
    */
  def eager(df: DataFrame): DataFrame =
    if (reliable(df)) checkpointed(df) else df.localCheckpoint(eager = true)

  /** Per-round lineage truncation for DRIVER LOOPS. Under the default
    * the local checkpoint is LAZY: rounds materialize inside the NEXT
    * action's job (the bpe_train lesson) instead of one eager job per
    * round. Under `checkpoint` it is the same eager reliable write as
    * [[eager]].
    *
    * `serialized` stores a default round's blocks as raw UnsafeRow
    * bytes (MEMORY_AND_DISK_SER) instead of row objects: the measured
    * footprint HALVES — 42.2 vs 84.0 B/node for pagerank's (id, pr)
    * state at sf0.1 (PagerankStorageSpec prints all three shapes) —
    * because serialized storage drops the per-object JVM overhead,
    * and UnsafeRow's writeExternal is a byte copy, not reflection.
    * The cost is one deserialize pass PER READ, so it is opt-in per
    * loop: right for single-read round states (pagerank — each round
    * is consumed exactly once, by the next), wrong for twice-read
    * states (k_core's edges feed the degree agg AND the filter;
    * LPA's labels feed the contrib join AND the join-back; BPE's
    * vocab feeds pair counts AND the rewrite — k_core measured
    * min 2.6 → 3.5 s at sf0.1 under blanket SER, which is why this
    * is a parameter and not the default).
    */
  def round(df: DataFrame, serialized: Boolean = false): DataFrame =
    if (reliable(df)) checkpointed(df)
    else if (serialized)
      df.localCheckpoint(eager = false,
        storageLevel = StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(eager = false)

  /** Defensive variant for operators whose CONTRACT says "pass a
    * materialized frame" (ngramJaccardOn): a frame that is already a
    * checkpoint product or a cached relation passes through; anything
    * else is materialized here instead of silently re-deriving its
    * whole plan once per downstream consumer.
    */
  def ensure(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val settled =
      plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] ||
      plan.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation] ||
      plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (settled) df else eager(df)
  }

  /** Release a DEAD materialized frame's storage NOW. A checkpoint
    * product's blocks live on its underlying LogicalRDD, which
    * `Dataset.unpersist` never touches (it only removes CacheManager
    * entries) — they linger until the async ContextCleaner collects
    * the RDD, which is exactly the retention the r9 driver bench
    * measured as pagerank runs growing 10.0 → 14.9 s inside one JVM.
    * Callers must guarantee the frame is dead: a local-checkpoint RDD
    * cannot be recomputed after unpersisting (truncated lineage), so
    * releasing a frame something still reads is a downstream job
    * failure, not a slowdown.
    *
    * Scope (the r10 advisory): this unpersists the frame's OWN
    * storage only — the CacheManager entry plus the RDD when the
    * analyzed plan IS a checkpoint root (the shape every
    * [[eager]]/[[round]] product has). It deliberately does NOT
    * sweep LogicalRDDs buried deeper in a derived plan: a lazy frame
    * built over another materialized frame must never truncate that
    * frame's blocks out from under its other consumers — later reads
    * would be job failures, not recomputes.
    */
  def release(df: DataFrame): Unit = {
    try df.unpersist()
    catch { case scala.util.control.NonFatal(_) => () }
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** `df.materialized` sugar so operator chains read like the
    * `localCheckpoint(true)` calls they replace.
    */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = eager(df)
  }
}
