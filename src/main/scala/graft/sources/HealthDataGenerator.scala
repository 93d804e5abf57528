package graft.sources

import graft.functions.HealthFunctions.eventPayload
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic heart-rate event generator — the producer side of the
  * reference (kafka_producer.py:10-28): per-patient baselines, noise,
  * and injected abnormal episodes (tachycardia/bradycardia runs),
  * emitted as the exact JSON payload shape the producer sends to
  * Kafka.
  *
  * One `spark.range` frame and one `select`: row `id` is event `k` of
  * patient `p`, and every column is a function of `id` alone, so the
  * rows are the same at any parallelism. One range partition per
  * patient, no driver-side loop: it generates test load at any scale,
  * `perPatient` events per patient, any horizon.
  */
object HealthDataGenerator {

  val DefaultStartMs = 1735689600000L // 2025-01-01T00:00:00Z

  /** Events as structured rows (patient_id, event_time_ms,
    * heart_rate_bpm). Patient `p` (1-based) sends event `k` at
    * `startTs + k·10000 + p·7`; its rate is the baseline
    * `65 + (p·31) % 16` (65–80), plus noise −10..15 from `xxhash64`
    * of (seed, p, k), plus the abnormal runs: every 50th run of 5
    * events goes hot (+45: tachycardia), every 83rd goes low (−35:
    * bradycardia). The noise is Spark's own hash because a mixer
    * written as Column arithmetic (splitmix64) wraps its multiplies,
    * which ANSI mode rejects as overflow.
    *
    * @param nPatients  patients p001..pNNN (reference uses 5)
    * @param perPatient events per patient, 10s apart (ref: ~0.1s)
    * @param startTs    epoch millis of the first event
    */
  def events(
      spark: SparkSession,
      nPatients: Int = 5,
      perPatient: Long = 1000,
      startTs: Long = DefaultStartMs,
      seed: Long = 42L): DataFrame = {
    // `div` is integer division; `/` would divide doubles
    val p = expr(s"id div $perPatient + 1")
    val k = col("id") % perPatient
    val run = expr(s"(id % $perPatient) div 5")
    val noise = pmod(xxhash64(lit(seed), p, k), lit(26L)) - 10
    val bump = when(run % 50 === 0, 45L).when(run % 83 === 1, -35L).otherwise(0L)
    spark.range(0, nPatients * perPatient, 1, nPatients).select(
      format_string("p%03d", p).as("patient_id"),
      (lit(startTs) + k * 10000L + p * 7L).as("event_time_ms"),
      (lit(65L) + p * 31L % 16L + noise + bump).as("heart_rate_bpm"))
  }

  /** The Kafka payload: JSON strings with the reference's field
    * names and ISO-8601 timestamps (kafka_producer.py:23-27).
    */
  def payloads(
      spark: SparkSession,
      nPatients: Int = 5,
      perPatient: Long = 1000,
      startTs: Long = DefaultStartMs,
      seed: Long = 42L): DataFrame =
    events(spark, nPatients, perPatient, startTs, seed).select(
      eventPayload(col("patient_id"), timestamp_millis(col("event_time_ms")),
        col("heart_rate_bpm")).as("value"))
}
