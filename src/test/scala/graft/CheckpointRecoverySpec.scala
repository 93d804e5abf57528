package graft

import graft.streaming.HealthMonitor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Stop → restart → resume from the same checkpointLocation: the
  * property checkpointing exists for (reference enables it at
  * /root/reference/src/flink_job.py:58). Two separate streaming
  * queries share one checkpoint; the second must (a) not re-emit
  * windows the first already emitted (no duplication), (b) restore
  * the watermark and the partial window aggregates (no loss) — one
  * window's readings deliberately straddle the restart, so its count
  * is only correct if run 2 resumes run 1's state rather than
  * starting fresh.
  */
class CheckpointRecoverySpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private def payload(p: String, t: String, hr: Int) =
    s"""{"patient_id": "$p", "timestamp": "$t", "heart_rate_bpm": $hr}"""
  private def at(m: Int, s: Int) = f"2024-03-01T08:$m%02d:$s%02dZ"

  test("restart from checkpoint: no loss, no duplication, straddling window completes") {
    import spark.implicits._
    val base = "target/tmp/ckpt-recovery"
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(base))
    new java.io.File(inDir).mkdirs()

    // phase 1: minutes 0-3 complete; window 04:00-05:00 gets 3 of its
    // 5 readings. Watermark after run 1 ≈ 04:20 - 5s, so windows 00-03
    // emit in run 1 but 04 stays open in state.
    val phase1 =
      (0 until 4).flatMap(m => (0 until 6).map(s =>
        payload("p1", at(m, s * 10), if (m % 2 == 0) 120 else 80))) ++
      (0 until 3).map(s => payload("p1", at(4, s * 10), 45)) ++
      (0 until 4).flatMap(m => (0 until 6).map(s => payload("p2", at(m, s * 10), 75)))
    // phase 2: the 2 remaining window-04 readings, minutes 5-6, and a
    // late flush pushing the watermark past everything below 30:00
    val phase2 =
      (3 until 5).map(s => payload("p1", at(4, s * 10), 45)) ++
      (0 until 6).map(s => payload("p1", at(5, s * 10), 110)) ++
      (0 until 6).map(s => payload("p2", at(6, s * 10), 130)) ++
      Seq(payload("p1", at(30, 0), 75), payload("p2", at(30, 0), 75))

    def writeInput(name: String, rows: Seq[String]): Unit = {
      val f = new java.io.PrintWriter(s"$inDir/$name")
      try rows.foreach(f.println) finally f.close()
    }
    def runOnce(): Unit = {
      val streamIn = spark.readStream.schema("value STRING").text(inDir)
      val q = HealthMonitor.alerts(streamIn).writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish")
      q.stop()
    }

    writeInput("part1.txt", phase1)
    runOnce() // run 1: emits windows 00-03, checkpoints watermark + open window 04
    val afterRun1 = spark.read.parquet(outDir).count()
    assert(afterRun1 > 0, "run 1 emitted nothing — watermark never advanced")

    writeInput("part2.txt", phase2)
    runOnce() // run 2: NEW query object, same checkpoint — must resume

    val out = spark.read.parquet(outDir)
      .select("patient_id", "window_start", "avg_hr", "min_hr", "max_hr",
        "n_readings", "alert_type")
    val rows = out.collect().map(_.toSeq).toSeq

    // no duplication: run 2 reprocessing part1.txt would append copies
    assert(rows.size == rows.toSet.size, "duplicate windows after restart")

    // no loss: everything the batch run closes below the final open
    // window must be present
    val all = (phase1 ++ phase2).toDF("value")
    val expected = HealthMonitor.alerts(all)
      .filter(col("window_start") < lit("2024-03-01T08:30:00Z").cast("timestamp"))
      .select("patient_id", "window_start", "avg_hr", "min_hr", "max_hr",
        "n_readings", "alert_type")
      .collect().map(_.toSeq).toSet
    assert(rows.toSet == expected,
      s"missing=${(expected -- rows.toSet).take(3)} extra=${(rows.toSet -- expected).take(3)}")

    // the straddling window (04:00) combined 3 readings from run 1
    // with 2 from run 2 — only possible via recovered state
    val w4 = out.filter(col("window_start") === lit("2024-03-01T08:04:00Z").cast("timestamp"))
      .filter(col("patient_id") === "p1").collect()
    assert(w4.length == 1)
    assert(w4.head.getAs[Long]("n_readings") == 5,
      s"straddling window saw ${w4.head.getAs[Long]("n_readings")} readings, state not recovered")
    assert(w4.head.getAs[String]("alert_type") == "bradycardia")
  }

  test("fused window+episode pipeline recovers BOTH state stores across a restart") {
    import spark.implicits._
    import graft.streaming.{EpisodeTracker, WindowAlert}
    val base = "target/tmp/ckpt-recovery-fused"
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(base))
    new java.io.File(inDir).mkdirs()

    // p1 runs tachycardic for minutes 0-2; phase 2 breaks the run at
    // minute 3 and flushes. The episode spans the restart: its first
    // two windows close in run 1 (inside the window-agg AND episode
    // state stores), the third window and the break arrive in run 2 —
    // a correct 3-window episode REQUIRES both stores to resume.
    val phase1 =
      (0 until 3).flatMap(m => (0 until 6).map(s => payload("p1", at(m, s * 10), 130))) ++
      Seq(payload("p1", at(10, 0), 120)) // watermark pusher: closes 00-02
    val phase2 =
      Seq(payload("p1", at(10, 10), 120)) ++ // extend window 10 (tachy run cont.)
      (0 until 6).map(s => payload("p1", at(11, s * 10), 80)) ++ // normal: breaks the run
      Seq(payload("p1", at(30, 0), 80)) // flush windows below 30:00

    def writeInput(name: String, rows: Seq[String]): Unit = {
      val f = new java.io.PrintWriter(s"$inDir/$name")
      try rows.foreach(f.println) finally f.close()
    }
    def runOnce(): Unit = {
      val streamIn = spark.readStream.schema("value STRING").text(inDir)
      val eps = EpisodeTracker.episodes(
        graft.streaming.HealthMonitor.alerts(streamIn)
          .select(col("patient_id"), col("window_start"), col("window_end"),
            col("avg_hr"), col("alert_type"), col("window_time")).as[WindowAlert])
      val q = eps.writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish")
      q.stop()
    }

    writeInput("part1.txt", phase1)
    runOnce()
    writeInput("part2.txt", phase2)
    runOnce()

    val eps = spark.read.parquet(outDir).collect()
    assert(eps.map(_.toSeq).toSeq.size == eps.map(_.toSeq).toSet.size, "duplicate episodes")
    // the tachy episode: windows 00,01,02 (4 windows incl. 10? no —
    // 10:00-11:00 avg 120 is also tachy and consecutive-by-order, so
    // the run is windows 00,01,02,10 → broken by window 11 (normal)
    val tachy = eps.filter(r => r.getAs[String]("episode_type") == "tachycardia")
    assert(tachy.length == 1, s"expected one episode: ${eps.toSeq}")
    assert(tachy.head.getAs[Int]("n_windows") == 4,
      s"episode merged ${tachy.head.getAs[Int]("n_windows")} windows — state lost across restart")
  }
}
