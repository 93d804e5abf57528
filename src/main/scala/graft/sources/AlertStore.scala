package graft.sources

import graft.functions.HealthFunctions.alertSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's "alerts to files, Spark batch-analyzes them" path
  * (README Part 3, src/spark_batch_analysis.py) over the alert files
  * that [[graft.streaming.HealthMonitor.alertJson]] streams to a sink.
  */
object AlertStore {

  /** Alert JSON files under `path`, read with the explicit
    * [[alertSchema]] (inference is a full extra pass). A streaming
    * file sink's directory is read through its `_spark_metadata` log,
    * so only committed files count.
    */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(alertSchema).json(path)

  /** The reference batch analysis (spark_batch_analysis.py:22-26):
    * alert counts per `key` (the patient) × alert_type.
    */
  def analyze(alerts: DataFrame, key: String = "patient_id"): DataFrame =
    alerts.groupBy(col(key), col("alert_type"))
      .agg(count(lit(1)).as("n_alerts"))
      .orderBy(col(key), col("alert_type"))
}
