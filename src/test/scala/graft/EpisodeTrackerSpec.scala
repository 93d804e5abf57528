package graft

import graft.streaming.{Episode, EpisodeTracker, WindowAlert}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Episode tracking on the default state store: a run break closes
  * an episode, and the event-time timeout flushes a still-open
  * episode once the watermark passes its quiet gap — off event time
  * only, no wall-clock wait.
  */
class EpisodeTrackerSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def alert(p: String, start: String, end: String, hr: Double, t: String) =
    WindowAlert(p, ts(start), ts(end), hr, t)

  test("closed runs; the event-time timer flushes the open run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[WindowAlert]
    val eps = EpisodeTracker.episodes(
      in.toDS().withWatermark("window_start", "0 seconds").as[WindowAlert])
    val q = eps.writeStream
      .format("memory").queryName("eps_flush").outputMode("append").start()
    try {
      // p1: two tachy windows then normal (closed by the break);
      // p2: one brady window then silence (closed by the timer)
      in.addData(
        alert("p1", "2025-01-01 00:00:00", "2025-01-01 00:01:00", 130, "tachycardia"),
        alert("p1", "2025-01-01 00:01:00", "2025-01-01 00:02:00", 140, "tachycardia"),
        alert("p2", "2025-01-01 00:00:00", "2025-01-01 00:01:00", 40, "bradycardia"))
      q.processAllAvailable()
      in.addData(
        alert("p1", "2025-01-01 00:02:00", "2025-01-01 00:03:00", 80, "normal"))
      q.processAllAvailable()
      val afterBreak = spark.table("eps_flush").as[Episode].collect()
      assert(afterBreak.length == 1)
      assert(afterBreak.head.patient_id == "p1" &&
        afterBreak.head.episode_type == "tachycardia" &&
        afterBreak.head.n_windows == 2 && afterBreak.head.peak_avg_hr == 140.0)

      // advance the watermark past p2's window_end + 10min quiet gap
      // (watermark moves off event time only — no wall-clock wait)
      in.addData(
        alert("p3", "2025-01-01 01:00:00", "2025-01-01 01:01:00", 75, "normal"))
      q.processAllAvailable()
      // one more microbatch so the timed-out state's output commits
      in.addData(
        alert("p3", "2025-01-01 01:01:00", "2025-01-01 01:02:00", 75, "normal"))
      q.processAllAvailable()

      val all = spark.table("eps_flush").as[Episode].collect()
      val p2 = all.filter(_.patient_id == "p2")
      assert(p2.length == 1, s"timer did not flush p2: ${all.toSeq}")
      assert(p2.head.episode_type == "bradycardia" && p2.head.n_windows == 1)
      assert(all.length == 2) // no duplicate emissions
    } finally q.stop()
  }
}
