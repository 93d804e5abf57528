package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level re-expression of the reference's pure functions.
  *
  * `parse_event` (reference src/flink_job.py:19-32): JSON string →
  * (patient_id, heart_rate_bpm, event_time epoch-millis), NULL on
  * any parse/validation failure.
  * `classify_window` (src/flink_job.py:35-46): avg>100 tachycardia,
  * avg<50 bradycardia, else normal.
  *
  * Both are pure `functions._` expression trees — whole-stage
  * codegen'd, no UDF boxing, usable identically in batch and
  * Structured Streaming.
  */
object HealthFunctions {

  /** Kafka-payload schema of the reference producer
    * (src/kafka_producer.py:23-27).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("patient_id", StringType),
    StructField("timestamp", StringType),
    StructField("heart_rate_bpm", LongType)))

  /** The reference's alert record (src/flink_job.py:113-122), window
    * bounds in epoch millis: [[graft.streaming.HealthMonitor.alertJson]]
    * renders it and [[graft.sources.AlertStore.readJson]] reads it.
    */
  val alertSchema: StructType = StructType(Seq(
    StructField("patient_id", StringType),
    StructField("window_start", LongType),
    StructField("window_end", LongType),
    StructField("avg_hr", DoubleType),
    StructField("min_hr", LongType),
    StructField("max_hr", LongType),
    StructField("alert_type", StringType)))

  /** The reference producer's Kafka payload (src/kafka_producer.py:
    * 23-27): `to_json` of the [[eventSchema]] fields, the timestamp
    * rendered ISO-8601 with milliseconds and offset.
    */
  def eventPayload(patientId: Column, ts: Column, heartRateBpm: Column): Column =
    to_json(struct(
      patientId.as("patient_id"),
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("timestamp"),
      heartRateBpm.as("heart_rate_bpm")))

  /** parse_event: raw JSON → struct(patient_id, heart_rate_bpm,
    * event_time). Any failure (malformed JSON, missing field,
    * unparseable timestamp, non-positive rate) yields NULL, matching
    * the reference's None (tests/test_flink_logic.py:14-23).
    *
    * Usage note: to keep only the valid events of a frame, call
    * [[validEvents]], not `select(parse.as("e")).filter(e.isNotNull)`:
    * Catalyst pushes that filter below the projection, and the
    * optimized plan then parses every row twice (see [[validEvents]]).
    */
  def parseEvent(raw: Column): Column = {
    val j = from_json(raw, eventSchema)
    // try_to_timestamp: under ANSI mode (Spark 4 default) a plain
    // to_timestamp THROWS on malformed input instead of yielding null
    // — the reference drops such events (parse_event → None)
    val eventTime = unix_millis(try_to_timestamp(j.getField("timestamp")))
    val ok = j.isNotNull &&
      j.getField("patient_id").isNotNull &&
      j.getField("heart_rate_bpm").isNotNull &&
      eventTime.isNotNull &&
      j.getField("heart_rate_bpm") > lit(0L)
    when(ok, struct(
      j.getField("patient_id").as("patient_id"),
      j.getField("heart_rate_bpm").as("heart_rate_bpm"),
      eventTime.as("event_time")))
  }

  /** parse_event with the specialized fast path: identical semantics
    * (the strict [[FastEventParse]] yields null for anything outside
    * its profile and the general parser takes over via lazy
    * coalesce), ~10× faster on well-formed traffic.
    */
  def parseEventFast(raw: Column): Column =
    coalesce(FastEventParse.fastParseEvent(raw), parseEvent(raw))

  /** The valid events of `df`: the `keep` columns plus patient_id,
    * heart_rate_bpm and event_time of every row whose `raw` payload
    * parses ([[parseEventFast]]); rows that do not parse are dropped.
    *
    * The payload is parsed exactly ONCE per row. Filtering a parsed
    * alias (`select(parse.as("e")).filter(e.isNotNull)`) does not do
    * that: Catalyst pushes the filter below the projection by
    * substituting the alias, so the optimized plan holds the whole
    * parse tree twice — once in the Filter, once in the Project —
    * and every row is parsed twice (a multi-conjunct filter on the
    * parsed fields makes one copy per conjunct). Here the parse is
    * the input of a generator, `explode(array(parse))`, and the null
    * filter reads the generated column, which no rule can push below
    * the Generate or substitute back into the parse.
    */
  def validEvents(df: DataFrame, raw: Column, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(array(parseEventFast(raw))).as("e"): _*)
      .filter(col("e").isNotNull)
      .select(keep.map(col) :+ col("e.*"): _*)

  /** classify_window: avg heart rate → alert label. */
  def classifyWindow(avgHr: Column): Column =
    when(avgHr > lit(100.0), "tachycardia")
      .when(avgHr < lit(50.0), "bradycardia")
      .otherwise("normal")
}
