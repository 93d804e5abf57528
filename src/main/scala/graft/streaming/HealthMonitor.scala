package graft.streaming

import graft.functions.HealthFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.Row

/** The reference streaming job (/root/reference/src/flink_job.py)
  * re-expressed as Structured Streaming:
  *
  *  - Kafka value-only string source       (flink_job.py:66-73)
  *  - parse_event + drop invalid           (flink_job.py:94-100)
  *  - event-time + bounded-lateness        (flink_job.py:75-84):
  *    `withWatermark(5 seconds)` ≙ Flink's bounded out-of-orderness
  *  - keyed tumbling window avg/min/max    (flink_job.py:104-111)
  *  - classify_window on the window avg    (flink_job.py:113-122)
  *  - alert JSON to Kafka sink             (flink_job.py:131-143)
  *
  * The pipeline core is source-agnostic (any DataFrame with a
  * string `value` column), so the identical plan runs from Kafka in
  * production and from MemoryStream/files in tests — Spark's
  * incremental execution handles state, triggers and recovery.
  */
object HealthMonitor {

  val DefaultWatermark = "5 seconds"
  val DefaultWindow = "1 minute"

  /** The reference consumer's source options (flink_job.py:66-73):
    * subscribe to the event topic, read from the latest offset.
    * Exposed separately from [[kafkaSource]] so the wiring is
    * assertable in-sandbox, where the spark-sql-kafka connector jar
    * is absent and `.load()` cannot run (KafkaPathSpec documents
    * that boundary).
    */
  def kafkaSourceOptions(
      bootstrap: String = "localhost:9092",
      topic: String = "heart_rate_events"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> "latest")

  /** Kafka source with the reference's topic/consumer settings
    * (requires the spark-sql-kafka connector on the classpath).
    * Value-only cast: the payload is the JSON event string, keys and
    * headers are unused — same as the reference's value deserializer.
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String = "localhost:9092",
      topic: String = "heart_rate_events"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic))
      .load()
      .select(col("value").cast("string").as("value"))

  /** Parsed, validated, event-timestamped readings: each line is
    * parsed once, and invalid lines are dropped below the watermark,
    * so they never reach its event-time statistics.
    */
  private def readings(raw: DataFrame, watermark: String): DataFrame =
    validEvents(raw, col("value"))
      .select(
        col("patient_id"),
        col("heart_rate_bpm").as("hr"),
        timestamp_millis(col("event_time")).as("event_ts"))
      .withWatermark("event_ts", watermark)

  /** Raw JSON strings → per-window alert records. `slide` turns the
    * tumbling window into the reference README's suggested sliding
    * variant (e.g. 1 minute sliding every 10 seconds).
    */
  def alerts(
      raw: DataFrame,
      watermark: String = DefaultWatermark,
      windowSize: String = DefaultWindow,
      slide: Option[String] = None): DataFrame =
    windowStats(raw, watermark, slide.fold(window(col("event_ts"), windowSize))(s =>
      window(col("event_ts"), windowSize, s)))

  /** Session-window variant: per-patient activity sessions closed by
    * `gap` of silence (Spark's native session_window state merging —
    * the dynamic-window complement to the fixed tumbling/sliding
    * forms).
    */
  def sessionAlerts(
      raw: DataFrame,
      watermark: String = DefaultWatermark,
      gap: String = "5 minutes"): DataFrame =
    windowStats(raw, watermark, session_window(col("event_ts"), gap))

  /** Per-patient stats and class of each `w` window over the readings.
    * `window_time` is the window's event time (end − 1 µs) and keeps
    * the watermark tag that `w.start` drops, so a stateful operator
    * chained after the aggregate — [[EpisodeTracker]]'s event-time
    * timeout — can run in the same query.
    */
  private def windowStats(raw: DataFrame, watermark: String, w: Column): DataFrame =
    readings(raw, watermark)
      .groupBy(col("patient_id"), w.as("w"))
      .agg(
        avg(col("hr")).as("avg_hr"),
        min(col("hr")).as("min_hr"),
        max(col("hr")).as("max_hr"),
        count(lit(1)).as("n_readings"))
      .select(
        col("patient_id"),
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("avg_hr"), col("min_hr"), col("max_hr"), col("n_readings"),
        classifyWindow(col("avg_hr")).as("alert_type"),
        window_time(col("w")).as("window_time"))

  /** Alert rows → the reference's JSON alert payload
    * (flink_job.py:113-122): the [[alertSchema]] fields in order, the
    * window timestamps as epoch millis.
    */
  def alertJson(alerts: DataFrame): DataFrame =
    alerts.select(to_json(struct(alertSchema.fields.toSeq.map { f =>
      val c = col(f.name)
      (if (alerts.schema(f.name).dataType == TimestampType) unix_millis(c)
       else c.cast(f.dataType)).as(f.name)
    }: _*)).as("value"))

  /** The reference producer's sink options (flink_job.py:131-143):
    * alert topic plus the checkpoint dir that makes delivery
    * resumable. Assertable without the connector jar, like
    * [[kafkaSourceOptions]].
    */
  def kafkaSinkOptions(
      bootstrap: String = "localhost:9092",
      topic: String = "heart_rate_alerts",
      checkpoint: String = "/tmp/graft-hm-checkpoint"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "topic" -> topic,
    "checkpointLocation" -> checkpoint)

  /** Kafka sink for the alert topic (flink_job.py:131-143). It keeps
    * Spark's default trigger, which starts the next micro-batch as
    * soon as the last one ends, so a window's alert leaves once the
    * watermark passes the window's end, as in the reference's Flink
    * job.
    */
  def kafkaSink(
      alertsJson: DataFrame,
      bootstrap: String = "localhost:9092",
      topic: String = "heart_rate_alerts",
      checkpoint: String = "/tmp/graft-hm-checkpoint"): DataStreamWriter[Row] =
    alertsJson.writeStream
      .format("kafka")
      .options(kafkaSinkOptions(bootstrap, topic, checkpoint))
      .outputMode("append")

  /** Test/debug sink: in-memory table, synchronous drain. */
  def memorySink(alerts: DataFrame, name: String, mode: String = "append"): StreamingQuery =
    alerts.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
}
