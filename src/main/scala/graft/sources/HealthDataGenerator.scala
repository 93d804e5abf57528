package graft.sources

import graft.functions.HealthFunctions.eventPayload
import graft.sources.v2.HealthSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic heart-rate event generator — the producer side of the
  * reference (/root/reference/src/kafka_producer.py:10-28): per-
  * patient baselines, noise, and injected abnormal episodes
  * (tachycardia/bradycardia runs), emitted as the exact JSON payload
  * shape the producer sends to Kafka.
  *
  * A batch read of [[HealthSource]], whose row model this is: fully
  * deterministic (seeded arithmetic, no RNG state) and distributed
  * (one partition per patient, no driver-side loop), so it can
  * generate test load at any scale: `rate` per patient, any horizon.
  */
object HealthDataGenerator {

  /** Events as structured rows (patient_id, event_time_ms,
    * heart_rate_bpm).
    *
    * @param nPatients  patients p001..pNNN (reference uses 5)
    * @param perPatient events per patient, 10s apart (ref: ~0.1s)
    * @param startTs    epoch millis of the first event
    */
  def events(
      spark: SparkSession,
      nPatients: Int = 5,
      perPatient: Long = 1000,
      startTs: Long = HealthSource.DefaultStartMs,
      seed: Long = 42L): DataFrame =
    spark.read.format(classOf[HealthSource].getName)
      .option("patients", nPatients)
      .option("perPatient", perPatient)
      .option("startTs", startTs)
      .option("seed", seed)
      .load()

  /** The Kafka payload: JSON strings with the reference's field
    * names and ISO-8601 timestamps (kafka_producer.py:23-27).
    */
  def payloads(
      spark: SparkSession,
      nPatients: Int = 5,
      perPatient: Long = 1000,
      startTs: Long = HealthSource.DefaultStartMs,
      seed: Long = 42L): DataFrame =
    events(spark, nPatients, perPatient, startTs, seed).select(
      eventPayload(col("patient_id"), timestamp_millis(col("event_time_ms")),
        col("heart_rate_bpm")).as("value"))
}
