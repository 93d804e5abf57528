package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The library's one materialization point for fan-out intermediates
  * (a frame about to be consumed by several downstream plans — dedup
  * membership tables, shingle sets, scored corpora). Every operator
  * that used to call `localCheckpoint(true)` inline routes through
  * [[Materialize.eager]], so the STRATEGY is a session-level choice
  * instead of a hard-coded failure-semantics decision:
  *
  *   spark.graft.materialize = localCheckpoint (default) | cache | checkpoint
  *
  * - `localCheckpoint` — eager local checkpoint: blocks free with the
  *   RDD (no session CacheManager pin — the cache-hygiene contract,
  *   CacheHygieneSpec), lineage truncated, fastest. CLUSTER CAVEAT
  *   (the round-6 advisory): local-checkpoint blocks are
  *   non-replicated and the truncated lineage cannot recompute them —
  *   an executor loss (or a dynamic-allocation decommission, which
  *   the Spark docs explicitly warn against combining with local
  *   checkpoints) fails every downstream stage unrecoverably. The
  *   right default for a single-app analytics run (this bench, a
  *   dedicated batch job), the wrong one for long-lived clusters
  *   with dynamic allocation.
  * - `cache` — persist(MEMORY_AND_DISK) + an eager count: keeps full
  *   lineage, so a lost executor transparently recomputes — at the
  *   cost of CacheManager-pinned entries (callers' unpersist() calls
  *   still release loop intermediates) and re-derivation work on
  *   failure. Set this on clusters with dynamic allocation.
  * - `checkpoint` — reliable checkpoint to the SparkContext
  *   checkpoint dir (caller must have set one): survives executor
  *   loss WITHOUT lineage recompute — the strongest (and slowest)
  *   option, for expensive intermediates on flaky fleets.
  *
  * All three preserve the child plan's output partitioning
  * (LogicalRDD carries it for both checkpoint flavors;
  * InMemoryTableScan reports it because the session pins
  * `canChangeCachedPlanOutputPartitioning=false`), so co-partitioned
  * join plans downstream are strategy-independent — results are
  * bit-identical under every strategy, only failure semantics and
  * memory accounting move.
  *
  * The lazy per-round checkpoints inside driver loops (pagerank, BPE
  * training, label propagation) are a SEPARATE knob: they exist to
  * truncate lineage that would otherwise nest per round, so `cache`
  * cannot replace them — they route through [[round]] and its
  * `spark.graft.loopMaterialize` config (see [[round]]'s scaladoc
  * for the loop recovery contract).
  */
object Materialize {

  val StrategyKey = "spark.graft.materialize"

  /** Eagerly materialize a multiply-consumed intermediate under the
    * session's configured strategy (see object doc). Eager on
    * purpose: the consumers are typically parallel stages of one
    * job, and a lazy shared frame gets recomputed per consumer (the
    * r5 self-union double-evaluation failure). Note the library-API
    * consequence: calling an operator that materializes runs Spark
    * jobs at DataFrame CONSTRUCTION time (documented per operator).
    */
  def eager(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(StrategyKey).getOrElse("localCheckpoint") match {
      case "cache" =>
        val c = df.persist(StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      case "checkpoint" => df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }

  /** Per-round lineage truncation for DRIVER LOOPS (pagerank, k_core,
    * label propagation, star contraction, Lloyd, BPE/unigram
    * training, SCD2 advance): every loop that used to call
    * `localCheckpoint` inline per round routes through here, so loop
    * FAILURE SEMANTICS are one session-level choice:
    *
    *   spark.graft.loopMaterialize = localCheckpoint (default) | checkpoint
    *
    * - `localCheckpoint` — per-round blocks are LOCAL and
    *   non-replicated: the fastest truncation, and the right default
    *   for a dedicated batch run, but a mid-loop executor loss (or
    *   dynamic-allocation decommission) cannot recompute a lost
    *   round — the whole OPERATOR restarts. That is the documented
    *   recovery contract of the default.
    * - `checkpoint` — per-round state lands in the RELIABLE
    *   checkpoint dir (caller must have called
    *   `sc.setCheckpointDir`): an executor loss mid-loop recomputes
    *   nothing — the next round re-reads the surviving round files —
    *   which is what a 100 TB, multi-hour loop on a shared fleet
    *   wants. Costs one filesystem write per round, plus the
    *   standard lazy-checkpoint caveat that the round's plan runs
    *   once more at write time unless already persisted.
    *
    * Both forms replace the logical plan with a LogicalRDD
    * immediately (lineage must not nest round-over-round — the r4
    * exponential-plan failure) and both preserve the child's output
    * partitioning, so per-round join plans are strategy-independent
    * and results are bit-identical (LoopStrategySpec pins this).
    * `eager` applies to the default branch only, and defaults false:
    * rounds materialize inside the NEXT action's job (the bpe_train
    * lesson) instead of one eager job per round. The reliable branch
    * is ALWAYS eager — lazy `rdd.checkpoint()` marks are only
    * finalized for a job's TOP RdD (doCheckpoint does not recurse to
    * marked ancestors unless `spark.checkpoint.checkpointAllMarkedAncestors`
    * is set at context start), so a lazily-marked round would never
    * reach the checkpoint dir — and a write that happens after the
    * loop ends would provide no mid-loop recovery anyway. The
    * transient persist around the write is the standard move that
    * keeps the round's plan from computing twice (once for the
    * eager action, once inside the checkpoint-file writer).
    *
    * `serialized` stores the round's blocks as raw UnsafeRow bytes
    * (MEMORY_AND_DISK_SER) instead of row objects: the measured
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
  val LoopStrategyKey = "spark.graft.loopMaterialize"

  def round(df: DataFrame, eager: Boolean = false,
      serialized: Boolean = false): DataFrame =
    df.sparkSession.conf.getOption(LoopStrategyKey).getOrElse("localCheckpoint") match {
      case "checkpoint" =>
        val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        try persisted.checkpoint(eager = true)
        finally persisted.unpersist()
      case _ =>
        if (serialized)
          df.localCheckpoint(eager = eager,
            storageLevel = StorageLevel.MEMORY_AND_DISK_SER)
        else df.localCheckpoint(eager = eager)
    }

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

  /** Release a DEAD materialized frame's storage NOW, under every
    * strategy. `Dataset.unpersist()` only removes CacheManager
    * entries (the `cache` strategy); a checkpoint-strategy frame's
    * blocks live on its underlying LogicalRDD, which
    * Dataset.unpersist never touches — they linger until the async
    * ContextCleaner collects the RDD, which is exactly the retention
    * the r9 driver bench measured as pagerank runs growing 10.0 →
    * 14.9 s inside one JVM. Callers must guarantee the frame is dead:
    * a local-checkpoint RDD cannot be recomputed after unpersisting
    * (truncated lineage), so releasing a frame something still reads
    * is a downstream job failure, not a slowdown.
    *
    * Scope (the r10 advisory): this unpersists the frame's OWN
    * storage only — the CacheManager entry plus the RDD when the
    * analyzed plan IS a checkpoint root (the shape every
    * [[eager]]/localCheckpoint product has). It deliberately does NOT
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
