package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the synthetic health-event stream
  * (SURVEY §2 #6b): the CONNECTOR-AUTHORING surface of the engine —
  * TableProvider → Table → ScanBuilder → Batch → PartitionReader —
  * with the two pushdowns that matter at 100 TB implemented for
  * real:
  *
  *   - **column pruning** (SupportsPushDownRequiredColumns): the
  *     per-row generator materializes ONLY requested fields — the
  *     DSv2 contract that lets a 2-column projection skip the other
  *     field entirely (the parquet ReadSchema analog, here applied
  *     to generation work);
  *   - **partition pruning via filter pushdown**
  *     (SupportsPushDownFilters): an `EqualTo(patient_id, …)`
  *     predicate prunes input partitions at PLANNING time — the scan
  *     runs one task instead of one per patient (observable as
  *     `df.rdd.getNumPartitions`);
  *   - **limit pushdown** (SupportsPushDownLimit): `LIMIT n` caps
  *     every partition's generation horizon at n rows — the source
  *     stops producing instead of relying on the downstream
  *     LocalLimit to stop pulling;
  *   - **aggregate pushdown** (SupportsPushDownAggregates): ungrouped
  *     COUNT(*) / MIN / MAX over event_time_ms are answered in closed
  *     form at planning time (cardinality and time bounds are affine
  *     in the generator parameters) — zero event rows generated.
  *
  * One input partition per patient: embarrassingly parallel, no
  * shuffle, work scales with patients × rate like the Kafka topic
  * partitioning it stands in for (reference kafka_producer.py:10-28).
  * Generation is seeded splitmix64 arithmetic — deterministic at any
  * parallelism (SourceV2Spec re-derives rows in plain Scala).
  *
  * Usage: `spark.read.format(classOf[HealthSource].getName)
  * .option("patients", 5).option("perPatient", 1000).load()`.
  */
class HealthSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HealthSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HealthTable()
}

object HealthSource {
  val Schema: StructType = StructType(Seq(
    StructField("patient_id", StringType, nullable = false),
    StructField("event_time_ms", LongType, nullable = false),
    StructField("heart_rate_bpm", LongType, nullable = false)))

  val DefaultStartMs = 1735689600000L // 2025-01-01T00:00:00Z

  /** splitmix64 — the deterministic per-(seed, patient, k) noise
    * kernel, replicated in plain Scala by the spec.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The row model of the synthetic producer (kafka_producer.py:
    * 10-28; [[graft.sources.HealthDataGenerator]] is a batch read of
    * this source): per-patient baseline 65-80, noise -10..15 from the
    * seeded kernel, and abnormal runs — every 50th run of 5 events
    * goes hot (+45: tachycardia), every 83rd goes low (-35:
    * bradycardia).
    */
  def heartRate(seed: Long, patient: Int, k: Long): Long = {
    val noise = java.lang.Math.floorMod(mix(seed ^ (patient.toLong << 32) ^ k), 26L) - 10L
    val episode = k / 5
    val bump =
      if (episode % 50 == 0) 45L
      else if (episode % 83 == 1) -35L
      else 0L
    65L + (patient * 31) % 16 + noise + bump
  }
}

private[v2] class HealthTable extends Table with SupportsRead {
  override def name(): String = "graft_health_events"
  override def schema(): StructType = HealthSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HealthScanBuilder(
      options.getInt("patients", 5),
      options.getLong("perPatient", 1000L),
      options.getLong("startTs", HealthSource.DefaultStartMs),
      options.getLong("seed", 42L),
      options.getLong("kPerBatch", 100L),
      // rows/sec across ALL patients; 0 = unpaced (every index is
      // available immediately, admission control alone paces batches)
      options.getLong("rowsPerSecond", 0L))
}

private[graft] class HealthScanBuilder(patients: Int, perPatient: Long,
    startTs: Long, seed: Long, kPerBatch: Long = 100L, rowsPerSecond: Long = 0L)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var required: StructType = HealthSource.Schema
  private var patientFilter: Option[Int] = None
  private var accepted: Array[Filter] = Array.empty
  private var limit: Option[Long] = None
  private var pushedAgg: Option[Aggregation] = None

  private def isTimeRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames.sameElements(Array("event_time_ms"))
      case _ => false
    }

  private def isPatientRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames.sameElements(Array("patient_id"))
      case _ => false
    }

  /** Aggregate pushdown: the generator KNOWS its cardinality and its
    * time bounds at planning time — COUNT(*) is patients × horizon
    * (one patient under a pushed filter), and event_time_ms is the
    * affine `startTs + k·10000 + p·7`, monotone in both k and p, so
    * MIN/MAX close over the patient range and horizon. The same
    * holds PER PATIENT, so grouping by patient_id is also answered
    * whole: one metadata row per patient (count = horizon, extrema
    * at k = 0 / horizon−1), still zero event rows generated. Complete
    * pushdown (Spark applies no final re-aggregation), hence accepted
    * only for shapes this source can answer whole; heart_rate_bpm
    * aggregates are NOT closed-form (seeded noise) and any other
    * grouping key falls through to a raw scan.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    val groupOk = agg.groupByExpressions.isEmpty ||
      (agg.groupByExpressions.length == 1 && isPatientRef(agg.groupByExpressions.head))
    groupOk && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => isTimeRef(m.column)
        case m: Max => isTimeRef(m.column)
        case _ => false
      }
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (supportCompletePushDown(agg)) { pushedAgg = Some(agg); true }
    else false // anything else: Spark aggregates the raw rows itself
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown: each partition generates at most `n` rows (the
    * DSv2 contract — Spark still applies the final global limit, so
    * the source's job is only to stop producing early). `LIMIT 5`
    * over 1000 patients × 10⁶ rows generates ≤ 5 rows per partition
    * instead of the full horizon.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n.toLong)
    true // fully honored per partition
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition {
      case EqualTo("patient_id", v: String) =>
        // accept only well-formed ids inside the configured range
        v.matches("p\\d{3}") && {
          val p = v.drop(1).toInt
          p >= 1 && p <= patients
        }
      case _ => false
    }
    // an ACCEPTED filter is never re-applied by Spark, so accept only
    // what planInputPartitions fully honors: exactly one equality
    // (two contradictory ones normally fold to `false` upstream, but
    // this connector must not rely on that)
    if (ours.length == 1) {
      accepted = ours
      patientFilter = Some(ours.head.asInstanceOf[EqualTo].value.asInstanceOf[String].drop(1).toInt)
      rest
    } else {
      accepted = Array.empty
      patientFilter = None
      filters
    }
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = {
    pushedAgg match {
      case Some(agg) =>
        // Spark pushes LIMIT AFTER a complete aggregate pushdown, so a
        // pushed limit bounds the scan's OUTPUT (metadata) rows — never
        // the generation horizon the aggregates are computed over.
        // Computing COUNT/MIN/MAX over min(limit, perPatient) here
        // corrupted the answers (e.g. groupBy.count().limit(2) returned
        // count=2 per group); Spark re-applies the global limit anyway
        // (isPartiallyPushed defaults true), so taking it on the
        // metadata rows is purely an early stop.
        val horizon = perPatient
        val ps: Seq[Int] = patientFilter.map(Seq(_)).getOrElse(1 to patients)
        // an empty horizon answers COUNT=0 and NULL extrema — the
        // same values Spark would aggregate from zero rows; each null
        // extremum keeps its own aggregate's name so MIN+MAX on an
        // empty horizon still yield distinct schema fields
        def aggCols(minP: Long, maxP: Long, n: Long): Seq[(String, Any)] =
          agg.aggregateExpressions.toSeq.map {
            case _: CountStar => "count(*)" -> (n * horizon)
            case _: Min if horizon > 0 =>
              "min(event_time_ms)" -> (startTs + minP * 7L)
            case _: Max if horizon > 0 =>
              "max(event_time_ms)" -> (startTs + (horizon - 1L) * 10000L + maxP * 7L)
            case _: Min => "min(event_time_ms)" -> null
            case _: Max => "max(event_time_ms)" -> null
            case other => throw new IllegalStateException(
              s"unpushable aggregate accepted: $other") // guarded by supportCompletePushDown
          }
        if (agg.groupByExpressions.nonEmpty) {
          // grouped by patient_id: one metadata row per patient
          val template = aggCols(0L, 0L, 1L)
          val fields = StructField("patient_id", StringType, nullable = false) +:
            template.map { case (n, v) => StructField(n, LongType, nullable = v == null) }
          val rows: Seq[Seq[Any]] = ps.map { p =>
            UTF8String.fromString(f"p$p%03d") +:
              aggCols(p.toLong, p.toLong, 1L).map(_._2)
          }
          new AggScan(fields, limit.fold(rows)(n => rows.take(n.toInt)))
        } else {
          val cols = aggCols(ps.head.toLong, ps.last.toLong, ps.size.toLong)
          new AggScan(
            cols.map { case (n, v) => StructField(n, LongType, nullable = v == null) },
            Seq(cols.map(_._2)))
        }
      case None =>
        val horizon = limit.fold(perPatient)(_ min perPatient)
        new HealthScan(patients, horizon,
          startTs, seed, required, patientFilter, kPerBatch, rowsPerSecond)
    }
  }
}

/** The planning-time answer to a fully-pushed aggregation (any mix of
  * COUNT(*) / MIN / MAX over event_time_ms, optionally grouped by
  * patient_id): one partition of metadata rows — one row ungrouped,
  * one per patient grouped — zero event rows generated.
  */
private[graft] class AggScan(fields: Seq[StructField], rows: Seq[Seq[Any]])
  extends Scan with Batch {
  override def readSchema(): StructType = StructType(fields)
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(HealthPartition(0, 0L, 1L))
  override def createReaderFactory(): PartitionReaderFactory =
    AggReaderFactory(rows.map(_.toArray).toArray) // standalone: must not capture the Scan (not serializable)
}

private[graft] case class AggReaderFactory(rows: Array[Array[Any]]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = InternalRow.fromSeq(rows(i).toSeq)
      override def close(): Unit = ()
    }
}

private[graft] case class HealthPartition(patient: Int, fromK: Long, untilK: Long)
  extends InputPartition

private[graft] class HealthScan(patients: Int, perPatient: Long, startTs: Long,
    seed: Long, required: StructType, patientFilter: Option[Int], kPerBatch: Long,
    rowsPerSecond: Long = 0L)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The SAME scan serves streaming reads: micro-batches advance a
    * per-patient event index k in [[kPerBatch]] steps (offset = k),
    * so batch and stream produce identical rows from one source
    * definition — the dual-mode contract a Kafka-backed table has.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new HealthMicroBatchStream(patients, perPatient, startTs, seed,
      required.fieldNames, patientFilter, kPerBatch, rowsPerSecond)

  private def ps: Seq[Int] = patientFilter.map(Seq(_)).getOrElse(1 to patients)

  /** One partition per patient; a pushed patient filter prunes the
    * plan to a single partition BEFORE any task launches.
    */
  override def planInputPartitions(): Array[InputPartition] =
    ps.map(p => HealthPartition(p, 0L, perPatient): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new HealthReaderFactory(startTs, seed,
      required.fieldNames) // field names, not StructType: keep the task payload tiny
}

/** Streaming offset: the next per-patient event index to emit. */
private[graft] case class KOffset(k: Long) extends Offset {
  override def json(): String = k.toString
}

/** MicroBatchStream over the generator: offsets are per-patient event
  * indices; each trigger admits new indices per the ReadLimit Spark
  * hands back (SupportsAdmissionControl, the rate-source pattern) —
  * the source's own default is maxRows(kPerBatch × patients), i.e.
  * ≤ kPerBatch new indices per patient per trigger — until the
  * configured horizon, then reports caught-up (processAllAvailable
  * returns). With `rowsPerSecond` > 0 the source additionally models
  * ARRIVAL pacing (the reference producer's ~10 events/sec sleep
  * loop, kafka_producer.py:45): an event index only becomes
  * available once enough wall-clock time has elapsed since the
  * stream started, so batch sizes track the configured rate rather
  * than draining the horizon at once. Trigger.AvailableNow is
  * supported (SupportsTriggerAvailableNow): everything that will
  * ever exist is the static horizon, so AvailableNow bypasses
  * arrival pacing and drains it in admission-paced batches.
  * Restart-safe by construction: partitions derive purely from the
  * (start, end) offsets the checkpoint hands back.
  */
private[graft] class HealthMicroBatchStream(patients: Int, perPatient: Long,
    startTs: Long, seed: Long, fields: Array[String],
    patientFilter: Option[Int], kPerBatch: Long, rowsPerSecond: Long = 0L,
    nowMs: () => Long = () => System.currentTimeMillis())
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = KOffset(0L)
  override def deserializeOffset(json: String): Offset = KOffset(json.toLong)

  private def nPatients: Long = patientFilter.fold(patients.toLong)(_ => 1L)

  // arrival clock origin: first trigger that asks what's available
  // (volatile: the streaming thread and progress reporter both read)
  @volatile private var t0Ms: Long = -1L
  @volatile private var drainAll = false

  /** Per-patient indices available `elapsedMs` into the stream under
    * the configured rate — the pure pacing model, spec-tested
    * directly. Unpaced (rate ≤ 0) means the full horizon.
    */
  private[v2] def availableK(elapsedMs: Long): Long =
    if (rowsPerSecond <= 0L || drainAll) perPatient
    else math.min(perPatient, elapsedMs * rowsPerSecond / 1000L / nPatients)

  private def availableNow(): Long = {
    if (t0Ms < 0L) t0Ms = nowMs()
    availableK(nowMs() - t0Ms)
  }

  override def reportLatestOffset(): Offset = KOffset(availableNow())
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KOffset].k
    // honor the limit Spark actually passes: rows = patients × Δk
    val dk = limit match {
      case m: ReadMaxRows => math.max(1L, m.maxRows() / nPatients)
      case _: ReadAllAvailable => perPatient
      case _ => kPerBatch // composite/minRows: fall back to the configured pace
    }
    KOffset(math.min(availableNow(), s + dk))
  }
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows((kPerBatch * nPatients).min(Int.MaxValue.toLong).toInt)
  // the horizon is static — AvailableNow's target is all of it,
  // arrival pacing suspended (drain what will ever exist, now)
  override def prepareForTriggerAvailableNow(): Unit = drainAll = true

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KOffset].k
    val e = end.asInstanceOf[KOffset].k
    val ps = patientFilter.map(Seq(_)).getOrElse(1 to patients)
    ps.map(p => HealthPartition(p, s, e): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HealthReaderFactory(startTs, seed, fields)

  override def commit(end: Offset): Unit = () // nothing to release
  override def stop(): Unit = ()
}

private[v2] class HealthReaderFactory(startTs: Long,
    seed: Long, fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[HealthPartition]
    val p = part.patient
    new PartitionReader[InternalRow] {
      private var k = part.fromK - 1L
      override def next(): Boolean = { k += 1; k < part.untilK }
      override def get(): InternalRow = {
        // materialize ONLY the pruned columns, in the pruned order
        val values: Array[Any] = fields.map {
          case "patient_id" => UTF8String.fromString(f"p$p%03d")
          case "event_time_ms" => startTs + k * 10000L + p * 7L
          case "heart_rate_bpm" => HealthSource.heartRate(seed, p, k)
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        InternalRow.fromSeq(values.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}
