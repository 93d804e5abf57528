package graft

import java.nio.file.Files

import graft.sources.AlertStore
import graft.streaming.HealthMonitor
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference pipeline's last handoff (spark_batch_analysis.py):
  * the stream's alert files, read back by [[AlertStore.readJson]],
  * must roll up under [[AlertStore.analyze]] to the same per-patient
  * counts as the stream's own alerts.
  */
class AlertHandoffSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private def ev(patient: String, ts: String, hr: Int): String =
    s"""{"patient_id":"$patient","timestamp":"$ts","heart_rate_bpm":$hr}"""

  test("stream → alert files → AlertStore.readJson → analyze counts the stream's alerts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("graft-handoff")
    val sink = dir.resolve("sink").toString
    val input = MemoryStream[String]
    val raw = input.toDF().toDF("value")
    val files = HealthMonitor.alertJson(HealthMonitor.alerts(raw))
      .writeStream.format("text")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .outputMode("append")
      .start(sink)
    val memory = HealthMonitor.memorySink(HealthMonitor.alerts(raw), "handoff_alerts")
    try {
      // one batch every other minute; each batch's watermark closes the
      // windows before it, so four windows per patient emit
      for (m <- 0 to 4) {
        val ts = f"2025-01-01T00:${m * 2}%02d:10+00:00"
        input.addData(
          ev("p1", ts, 120 + m),
          ev("p2", ts, 45),
          ev("p3", ts, if (m % 2 == 0) 70 else 110))
        files.processAllAvailable()
        memory.processAllAvailable()
      }
    } finally { files.stop(); memory.stop() }

    // a task's file that the sink never committed
    Files.write(dir.resolve("sink").resolve("part-99999-uncommitted.txt"),
      java.util.Arrays.asList(
        """{"patient_id":"stray","window_start":0,"window_end":60000,"avg_hr":120.0,"min_hr":120,"max_hr":120,"alert_type":"tachycardia"}"""))
    assert(spark.read.text(s"$sink/part-*").as[String].collect().exists(_.contains("stray")),
      "the planted file is not where a plain listing reads")

    try {
      def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expected = rows(spark.table("handoff_alerts")
        .groupBy(col("patient_id"), col("alert_type")).count())
      assert(expected.map(_._1) == Set("p1", "p2", "p3"))
      assert(expected.map(_._2) == Set("tachycardia", "bradycardia", "normal"))
      assert(expected.contains(("p3", "normal", 2L)) && expected.contains(("p3", "tachycardia", 2L)),
        s"the fixture does not close the expected windows: $expected")
      val got = rows(AlertStore.analyze(AlertStore.readJson(spark, sink)))
      assert(got == expected)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
