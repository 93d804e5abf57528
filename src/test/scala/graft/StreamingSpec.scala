package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming behavior with MemoryStream sources: the
  * same pipeline code the Kafka path runs, driven synchronously.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private def ev(patient: String, ts: String, hr: Int): String =
    s"""{"patient_id":"$patient","timestamp":"$ts","heart_rate_bpm":$hr}"""

  test("streaming alerts: windowed stats + classification, invalid rows dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val alerts = HealthMonitor.alerts(input.toDF().toDF("value"))
    val q = HealthMonitor.memorySink(alerts, "alerts_t1", "update")
    try {
      input.addData(
        ev("p1", "2025-01-01T00:00:10+00:00", 120),
        ev("p1", "2025-01-01T00:00:30+00:00", 130),
        ev("p2", "2025-01-01T00:00:20+00:00", 45),
        "garbage-not-json",
        """{"patient_id":"p3"}""")
      q.processAllAvailable()
      val out = spark.table("alerts_t1").collect()
        .map(r => (r.getAs[String]("patient_id"), r.getAs[Double]("avg_hr"),
          r.getAs[String]("alert_type"))).toSet
      assert(out == Set(("p1", 125.0, "tachycardia"), ("p2", 45.0, "bradycardia")))
    } finally q.stop()
  }

  test("streaming alerts honor the watermark: late data beyond 5s is dropped (append mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val alerts = HealthMonitor.alerts(input.toDF().toDF("value"))
    val q = HealthMonitor.memorySink(alerts, "alerts_t2", "append")
    try {
      input.addData(ev("p1", "2025-01-01T00:00:10+00:00", 80))
      q.processAllAvailable()
      // advance event time far past the first window + watermark
      input.addData(ev("p1", "2025-01-01T00:05:00+00:00", 85))
      q.processAllAvailable()
      // late event for the long-closed first window: must not resurrect it
      input.addData(ev("p1", "2025-01-01T00:00:40+00:00", 200))
      q.processAllAvailable()
      val w1 = spark.table("alerts_t2")
        .filter(col("window_start") === lit("2025-01-01 00:00:00").cast("timestamp"))
        .collect()
      assert(w1.length == 1)
      assert(w1.head.getAs[Double]("avg_hr") == 80.0) // late 200-bpm reading excluded
      assert(w1.head.getAs[Long]("n_readings") == 1L)
    } finally q.stop()
  }

  test("alert JSON payload has the reference's fields") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val json = HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value")))
    val q = HealthMonitor.memorySink(json, "alerts_t3", "update")
    try {
      input.addData(
        ev("p9", "2025-01-01T10:00:05+00:00", 110),
        ev("p8", "2025-01-01T10:00:15+00:00", 40),
        ev("p8", "2025-01-01T10:00:25+00:00", 60))
      q.processAllAvailable()
      val schema = graft.functions.HealthFunctions.alertSchema
      val lines = spark.table("alerts_t3")
      assert(lines.count() == 2)
      val parsed = lines.select(from_json(col("value"), schema).as("a")).select("a.*")
      assert(parsed.columns.toSeq == schema.fieldNames.toSeq)
      for (r <- parsed.collect(); i <- 0 until r.length)
        assert(!r.isNullAt(i), s"${parsed.columns(i)} is NULL in $r")
      assert(lines.as[String].collect().toSet == Set(
        """{"patient_id":"p9","window_start":1735725600000,"window_end":1735725660000,""" +
          """"avg_hr":110.0,"min_hr":110,"max_hr":110,"alert_type":"tachycardia"}""",
        """{"patient_id":"p8","window_start":1735725600000,"window_end":1735725660000,""" +
          """"avg_hr":50.0,"min_hr":40,"max_hr":60,"alert_type":"normal"}"""))
    } finally q.stop()
  }

  test("a checkpointed alert stream to a file sink starts no chmod/readlink/ls/stat process") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fork-free")
    val ckpt = dir.resolve("checkpoint")
    val input = MemoryStream[String]
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val q = HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value")))
        .writeStream.format("text")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .start(dir.resolve("sink").toString)
      try {
        // four 1-minute windows, one batch each: every batch's
        // watermark closes the window before it, so windows 0–2 emit
        for (m <- 0 until 4) {
          input.addData(ev("p1", f"2025-01-01T00:$m%02d:10+00:00", 120 + m),
            ev("p2", f"2025-01-01T00:$m%02d:20+00:00", 45))
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      } finally q.stop()
      rec.stop()
      val jfr = dir.resolve("process-start.jfr")
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val forks = commands.filter { c =>
        Seq("chmod", "readlink", "ls", "stat").contains(c.split(' ').head.split('/').last)
      }
      assert(forks.size == 0, s"${forks.size} file-I/O process starts, e.g. ${forks.take(3)}")

      val sink = spark.read.text(dir.resolve("sink").toString).as[String].collect()
      assert(sink.length == 6, s"expected the 6 closed windows' alerts: ${sink.toSeq}")
      val state = Files.walk(ckpt.resolve("state")).iterator().asScala.map(_.getFileName.toString).toSeq
      val deltas = state.filter(_.endsWith(".delta"))
      assert(deltas.nonEmpty, s"no state deltas in ${state.sorted}")
      // Spark's checkpoint checksum (`n.delta.crc`) and the local file
      // system's own (`.n.delta.crc`) are both still written
      for (d <- deltas; crc <- Seq(s"$d.crc", s".$d.crc"))
        assert(state.contains(crc), s"no $crc in ${state.sorted}")
    } finally {
      rec.close()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  /** Runs `batches` through `HealthMonitor.alerts` into an append
    * memory sink, one micro-batch each; returns the data batches'
    * progress and the last batch's optimized plan.
    */
  private def runAlerts(name: String, batches: Seq[Seq[String]])
      : (Seq[StreamingQueryProgress], LogicalPlan) = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val q = HealthMonitor.memorySink(HealthMonitor.alerts(input.toDF().toDF("value")), name, "append")
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
      (q.recentProgress.toSeq.filter(_.numInputRows > 0),
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan)
    } finally q.stop()
  }

  test("the alert stream parses each line once: one FastEventParse in its optimized plan") {
    // the second batch leaves the watermark where it is, so no
    // no-data batch follows it and the last execution read the source
    val (_, plan) = runAlerts("alerts_once", Seq(Seq(ev("p1", "2025-01-01T00:00:10+00:00", 80)),
      Seq(ev("p1", "2025-01-01T00:00:08+00:00", 82))))
    assert(FastParseSpec.fastParses(plan) == 1, plan.treeString)
  }

  test("malformed lines never reach the watermark operator") {
    // Spark's watermark operator records a null event time as 0, so a
    // malformed line that got past the parse filter would show as a
    // 1970 minimum in the batch's event-time stats
    val valid = Seq(
      Seq(ev("p1", "2025-01-01T00:00:10+00:00", 80), ev("p2", "2025-01-01T00:00:25+00:00", 90)),
      Seq(ev("p1", "2025-01-01T00:02:00+00:00", 85)),
      // 65 s behind the watermark: the one row it drops
      Seq(ev("p1", "2025-01-01T00:00:50+00:00", 200), ev("p2", "2025-01-01T00:02:05+00:00", 95)))
    val malformed = Seq("garbage-not-json", """{"patient_id":"p3"}""",
      """{"patient_id":"p4","timestamp":"1970-01-01T00:00Z","heart_rate_bpm":70}""",
      """{"patient_id":"p5","timestamp":"2025-01-01t00:00:00Z","heart_rate_bpm":70}""",
      """{"patient_id":"p6","timestamp":"2025-01-01T00:00:05Z","heart_rate_bpm":0}""")
    val (clean, _) = runAlerts("alerts_clean", valid)
    val (planted, _) = runAlerts("alerts_planted", valid.map(_ ++ malformed))

    def mins(ps: Seq[StreamingQueryProgress]) = ps.map(_.eventTime.get("min"))
    assert(mins(planted) == Seq("2025-01-01T00:00:10.000Z", "2025-01-01T00:02:00.000Z",
      "2025-01-01T00:00:50.000Z"))
    assert(mins(planted) == mins(clean))
    def dropped(ps: Seq[StreamingQueryProgress]) =
      ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped(clean) == 1)
    assert(dropped(planted) == dropped(clean))
  }

  test("sliding windows: one event lands in size/slide windows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val alerts = HealthMonitor.alerts(input.toDF().toDF("value"),
      windowSize = "1 minute", slide = Some("15 seconds"))
    val q = HealthMonitor.memorySink(alerts, "alerts_sl", "update")
    try {
      input.addData(ev("p1", "2025-01-01T00:01:00+00:00", 90))
      q.processAllAvailable()
      val rows = spark.table("alerts_sl").collect()
      assert(rows.length == 4, s"expected 4 sliding windows, got ${rows.length}")
      assert(rows.forall(_.getAs[Long]("n_readings") == 1L))
    } finally q.stop()
  }

  test("session windows: readings within the gap merge, a silent gap splits") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    // session aggregation only supports append mode: sessions emit
    // once the watermark passes their close
    val alerts = HealthMonitor.sessionAlerts(input.toDF().toDF("value"), gap = "5 minutes")
    val q = HealthMonitor.memorySink(alerts, "alerts_se", "append")
    try {
      input.addData(
        ev("p1", "2025-01-01T00:00:00+00:00", 80),
        ev("p1", "2025-01-01T00:03:00+00:00", 90), // within gap → same session
        ev("p1", "2025-01-01T00:20:00+00:00", 70)) // 17 min silence → new session
      q.processAllAvailable()
      // advance the watermark far past both p1 sessions so they close
      input.addData(ev("p2", "2025-01-01T02:00:00+00:00", 85))
      q.processAllAvailable()
      val rows = spark.table("alerts_se").filter(col("patient_id") === "p1").collect()
      assert(rows.length == 2, s"expected 2 closed p1 sessions, got ${rows.length}")
      val byN = rows.map(_.getAs[Long]("n_readings")).sorted.toSeq
      assert(byN == Seq(1L, 2L))
    } finally q.stop()
  }

  test("hello pipeline adds processed_by like the reference hello job") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val q = HealthMonitor.memorySink(
      HelloPipeline.transform(input.toDF().toDF("value")), "hello_t", "append")
    try {
      input.addData("""{"id": "0", "message": "hello spark"}""", "not json",
        """{"processed_by": "someone_else"}""") // pre-existing key: overwrite, don't crash
      q.processAllAvailable()
      val out = spark.table("hello_t").as[String].collect().sorted
      assert(out.count(_.contains(""""processed_by":"hello_spark_job"""")) == 2)
      assert(!out.exists(_.contains("someone_else")))
      assert(out.contains("not json")) // defensive passthrough
    } finally q.stop()
  }

  test("episode tracker merges consecutive abnormal windows and closes on normal") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[WindowAlert]
    input.addData(
      WindowAlert("p1", ts("2025-01-01 00:00:00"), ts("2025-01-01 00:01:00"), 120, "tachycardia"),
      WindowAlert("p1", ts("2025-01-01 00:01:00"), ts("2025-01-01 00:02:00"), 140, "tachycardia"),
      WindowAlert("p1", ts("2025-01-01 00:02:00"), ts("2025-01-01 00:03:00"), 80, "normal"),
      WindowAlert("p2", ts("2025-01-01 00:00:00"), ts("2025-01-01 00:01:00"), 40, "bradycardia"))
    // AvailableNow: a bounded drain. The tracker's timeout runs off
    // event time, so the query finishes once the input is consumed.
    val q = EpisodeTracker.episodes(
        input.toDS().withWatermark("window_start", "0 seconds").as[WindowAlert])
      .writeStream
      .format("memory").queryName("episodes_t").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(120000), "query did not finish")
      val eps = spark.table("episodes_t").as[Episode].collect()
      // p1's run closed by the normal window; p2's episode still open:
      // the watermark (00:02) is short of its flush point (00:11)
      assert(eps.length == 1)
      val e = eps.head
      assert(e.patient_id == "p1" && e.episode_type == "tachycardia")
      assert(e.n_windows == 2 && e.peak_avg_hr == 140.0)
      assert(e.start == ts("2025-01-01 00:00:00") && e.end == ts("2025-01-01 00:02:00"))
    } finally q.stop()
  }
}
