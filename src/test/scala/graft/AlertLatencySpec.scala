package graft

import graft.functions.HealthFunctions.alertSchema
import graft.streaming.HealthMonitor
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Alert latency on the shipped alert path, counted in micro-batches:
  * MemoryStream → `alerts` → `alertJson` → the Kafka writer as built,
  * retargeted at a memory table (as in KafkaPathSpec), on its own
  * trigger. A window's alert must be committed within two batch ids
  * of the batch holding the reading that closes it. Batch ids are a
  * counter, so the bound holds on a slow box as on a fast one.
  */
class AlertLatencySpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[2]", 2).getOrCreate()

  private def ev(ts: String, hr: Int): String =
    s"""{"patient_id":"p1","timestamp":"2025-01-01T$ts+00:00","heart_rate_bpm":$hr}"""

  test("the [00:00, 00:01) alert commits within two batches of the reading past 00:01:05") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val dir = java.nio.file.Files.createTempDirectory("alert_latency")
    val q = HealthMonitor.kafkaSink(
        HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value"))),
        checkpoint = dir.resolve("checkpoint").toString)
      .format("memory").queryName("alert_latency").start()
    val windowStart = java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli
    def alerts(): Seq[(Long, String)] = spark.table("alert_latency")
      .select(from_json(col("value"), alertSchema).as("a"))
      .select(col("a.window_start"), col("a.alert_type")).as[(Long, String)].collect().toSeq
    // the id of the last batch that read input, once the query is idle
    def lastDataBatch(q: StreamingQuery): Long =
      q.recentProgress.filter(_.numInputRows > 0).last.batchId
    try {
      input.addData((0 to 50 by 10).map(s => ev(f"00:00:$s%02d", 120)): _*)
      q.processAllAvailable()
      // 00:01:03 is past the window's end but within the 5 s watermark
      input.addData(ev("00:01:03", 70))
      q.processAllAvailable()
      assert(alerts().isEmpty, "the window closed before the watermark passed its end")
      input.addData(ev("00:01:06", 70))
      q.processAllAvailable()
      val closing = lastDataBatch(q)
      assert(alerts() == Seq(windowStart -> "tachycardia"))
      // every batch up to the last one ran by now, so the alert's
      // commit is at most the last batch id
      assert(q.lastProgress.batchId - closing <= 2,
        s"reading in batch $closing, alert by batch ${q.lastProgress.batchId}")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
