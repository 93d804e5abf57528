package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-based storage for BATCH alert rows — the reference's
  * "alerts to files, Spark batch-analyzes them" path (README Part 3,
  * src/spark_batch_analysis.py) over the rows
  * [[graft.operators.Health.hrWindowTumbling]] emits (`user_id`
  * BIGINT, `window_*_ms`): JSON or CSV, with explicit schemas on read
  * (schema inference is a full extra pass at 100 TB — never infer on
  * the hot path).
  *
  * It does NOT read the streaming pipeline's alert files:
  * [[graft.streaming.HealthMonitor.alertJson]] writes `patient_id`
  * STRING and `window_start`/`window_end` millis, which
  * [[alertSchema]] reads back with a NULL `user_id` on every row.
  */
object AlertStore {

  /** The hr_window_tumbling alert row (not the stream's alertJson). */
  val alertSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("window_start_ms", LongType),
    StructField("window_end_ms", LongType),
    StructField("avg_hr", DoubleType),
    StructField("min_hr", DoubleType),
    StructField("max_hr", DoubleType),
    StructField("n_readings", LongType),
    StructField("alert_type", StringType)))

  def writeJson(alerts: DataFrame, path: String): Unit =
    alerts.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(alertSchema).json(path)

  def writeCsv(alerts: DataFrame, path: String): Unit =
    alerts.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(alertSchema).option("header", "true").csv(path)

  /** The reference batch analysis (spark_batch_analysis.py:22-26):
    * alert counts per patient × alert_type.
    */
  def analyze(alerts: DataFrame): DataFrame =
    alerts.groupBy(col("user_id"), col("alert_type"))
      .agg(count(lit(1)).as("n_alerts"))
      .orderBy(col("user_id"), col("alert_type"))
}
