package graft.operators

import graft.{Exact, Tables}
import graft.functions.HealthFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Health-monitoring pack: the reference pipeline's semantics
  * (/root/reference/src/flink_job.py) over the driver's `events`
  * table (user_id ↔ patient, value ↔ heart-rate, ts ↔ event time).
  *
  * Batch forms are oracle-checked here; the streaming form with
  * watermarks lives in [[graft.streaming.HealthMonitor]] and shares
  * these column functions.
  */
object Health {
  import Exact._

  /** Rebuild the reference producer's JSON payload from the events
    * table, with a deterministic corruption on every 13th event so
    * the null-on-invalid path is exercised (reference drops
    * unparseable messages, src/flink_job.py:99-100).
    */
  private[graft] def rawPayload(dfCols: (String, String, String)): org.apache.spark.sql.Column = {
    val (id, ts, value) = dfCols
    val json = eventPayload(
      concat(lit("p"), col(id)), col(ts), floor(col(value)).cast("long"))
    when(col("event_id") % 13 === 0, concat(lit("corrupt"), json)).otherwise(json)
  }

  /** hr_parse — JSON round-trip through parse_event: build the Kafka
    * payload, corrupt 1/13 deterministically, parse, keep valid rows.
    */
  def hrParse(spark: SparkSession, dir: String): DataFrame =
    hrParseOn(Tables(spark, dir).events)

  private[graft] def hrParseOn(ev: DataFrame): DataFrame = {
    // Validity here is derivable from the base columns (the harness
    // itself injects the corruption), so the scan-level predicate
    // drops the corrupt rows before any payload is built. The payload
    // is a column of its own, so it is built once per row rather than
    // once per reference inside the parse. validEvents parses it
    // exactly once per surviving row and drops the rows whose parse
    // fails: a NULL ts/user_id survives the pre-filter but fails the
    // JSON round-trip (field omitted → parse returns null). The oracle
    // mirrors this with ts/user_id IS NOT NULL, which is exactly the
    // set of rows whose parse fails given the pre-filter.
    val payloads = ev.filter(col("event_id") % 13 =!= 0 && floor(col("value")) > 0)
      .select(col("event_id"), rawPayload(("user_id", "ts", "value")).as("raw"))
    validEvents(payloads, col("raw"), "event_id")
      .orderBy(col("event_id"))
  }

  /** hr_classify — per-reading classification (the classify_window
    * CASE applied row-wise).
    */
  def hrClassify(spark: SparkSession, dir: String): DataFrame =
    hrClassifyOn(Tables(spark, dir).events)

  private[graft] def hrClassifyOn(ev: DataFrame): DataFrame = {
    ev.select(
        col("event_id"),
        col("user_id"),
        col("value").as("hr"),
        classifyWindow(col("value")).as("alert_type"))
      .orderBy(col("event_id"))
  }

  /** hr_window_tumbling — the reference's core operator: event-time
    * tumbling window (1 h here; 1 min in the reference — same
    * machinery) per patient with avg/min/max/count and the window
    * classification: the alert record of src/flink_job.py:113-122
    * keyed on `user_id`, with `_ms` bounds and `n_readings`. One
    * shuffle on (user, window). The
    * composed cards (hr_episodes, hr_alert_stats) consume the
    * unordered rows; only the registered query sorts.
    */
  def hrWindowTumbling(spark: SparkSession, dir: String): DataFrame =
    hrWindowTumblingOn(Tables(spark, dir).events)
      .orderBy(col("user_id"), col("window_start_ms"))

  private[graft] def hrWindowTumblingOn(ev: DataFrame): DataFrame = {
    ev.groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .agg(
        moneyAvg(col("value")).as("avg_hr"),
        min(col("value")).as("min_hr"),
        max(col("value")).as("max_hr"),
        count(lit(1)).as("n_readings"))
      .select(
        col("user_id"),
        epochMs(col("w.start")).as("window_start_ms"),
        epochMs(col("w.end")).as("window_end_ms"),
        col("avg_hr"), col("min_hr"), col("max_hr"), col("n_readings"),
        classifyWindow(col("avg_hr")).as("alert_type"))
  }

  /** hr_window_sliding — sliding event-time windows (1 h size, 15 min
    * slide): Spark's window() expands each row into size/slide
    * epoch-aligned windows before the single (user, window) shuffle
    * — no per-slide re-aggregation.
    */
  def hrWindowSliding(spark: SparkSession, dir: String): DataFrame =
    hrWindowSlidingOn(Tables(spark, dir).events)

  private[graft] def hrWindowSlidingOn(ev: DataFrame): DataFrame = {
    ev.groupBy(col("user_id"), window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(
        moneyAvg(col("value")).as("avg_hr"),
        min(col("value")).as("min_hr"),
        max(col("value")).as("max_hr"),
        count(lit(1)).as("n_readings"))
      .select(
        col("user_id"),
        epochMs(col("w.start")).as("window_start_ms"),
        col("avg_hr"), col("min_hr"), col("max_hr"), col("n_readings"))
      .orderBy(col("user_id"), col("window_start_ms"))
  }

  /** hr_episodes — batch episode detection (gaps-and-islands): maximal
    * runs of consecutive same-type abnormal windows per patient,
    * purely declarative (island id = difference of two row_numbers —
    * one shuffle, no state store). The streaming twin with real keyed
    * state is [[graft.streaming.EpisodeTracker]]; on a batch Dataset of
    * the same windows it emits the runs still open at the end of input
    * too, so the two report the same episodes.
    */
  def hrEpisodes(spark: SparkSession, dir: String): DataFrame =
    hrEpisodesOn(Tables(spark, dir).events)

  private[graft] def hrEpisodesOn(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alerts = hrWindowTumblingOn(ev)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("window_start_ms"))
    val byUserType = Window.partitionBy(col("user_id"), col("alert_type"))
      .orderBy(col("window_start_ms"))
    alerts
      .withColumn("grp",
        row_number().over(byUser) - row_number().over(byUserType))
      .filter(col("alert_type") =!= "normal")
      .groupBy(col("user_id"), col("alert_type"), col("grp"))
      .agg(
        min(col("window_start_ms")).as("episode_start_ms"),
        max(col("window_end_ms")).as("episode_end_ms"),
        count(lit(1)).as("n_windows"),
        max(col("avg_hr")).as("peak_avg_hr"))
      .select(col("user_id"), col("alert_type"), col("episode_start_ms"),
        col("episode_end_ms"), col("n_windows"), col("peak_avg_hr"))
      .orderBy(col("user_id"), col("episode_start_ms"), col("alert_type"))
  }

  /** hr_alert_stats — the reference's Spark batch analysis
    * (src/spark_batch_analysis.py:22-26): the stream's alert-file
    * rollup [[graft.sources.AlertStore.analyze]] over the
    * [[hrWindowTumbling]] rows, keyed on `user_id`.
    */
  def hrAlertStats(spark: SparkSession, dir: String): DataFrame =
    hrAlertStatsOn(Tables(spark, dir).events)

  private[graft] def hrAlertStatsOn(ev: DataFrame): DataFrame =
    graft.sources.AlertStore.analyze(hrWindowTumblingOn(ev), "user_id")
}
