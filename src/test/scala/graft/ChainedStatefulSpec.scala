package graft

import graft.streaming.{Episode, EpisodeTracker, HealthMonitor, WindowAlert}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Two stateful operators fused in ONE streaming query (Spark 4
  * multi-stateful-operator support): watermarked tumbling-window
  * aggregation (HealthMonitor.alerts) feeding keyed episode state
  * (EpisodeTracker.episodes) — raw JSON in, episodes out, no
  * intermediate topic or batch hop. `window_time` carries the
  * watermark from the aggregate into the tracker's event-time
  * timeout, on the default state store.
  */
class ChainedStatefulSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  private def payload(p: String, t: String, hr: Int) =
    s"""{"patient_id": "$p", "timestamp": "$t", "heart_rate_bpm": $hr}"""
  private def minute(m: Int, s: Int) = f"2024-01-01T10:$m%02d:$s%02dZ"

  private def episodesOf(raw: DataFrame): Dataset[Episode] = {
    import spark.implicits._
    EpisodeTracker.episodes(
      HealthMonitor.alerts(raw).select(
        col("patient_id"), col("window_start"), col("window_end"),
        col("avg_hr"), col("alert_type"), col("window_time")).as[WindowAlert])
  }

  private def collected(name: String): Array[Episode] = {
    import spark.implicits._
    spark.table(name).as[Episode].collect()
  }

  test("windowed aggregation chains into flatMapGroupsWithState in one query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the fused query runs on the default state store: no session-wide
    // provider override may be needed to run it
    val providerKey = SQLConf.STATE_STORE_PROVIDER_CLASS.key
    assert(!spark.conf.getAll.contains(providerKey) &&
      !spark.sparkContext.getConf.contains(providerKey),
      s"session overrides $providerKey")

    val in = MemoryStream[String]
    val q = episodesOf(in.toDF()).writeStream
      .format("memory").queryName("chained_eps").outputMode("append").start()
    try {
      // p1: two tachycardia windows then a normal one closes the run;
      // p2: stays normal throughout. Readings 10s apart, windows 1min.
      val batch1 =
        (0 until 6).map(i => payload("p1", minute(0, i * 10), 130)) ++
        (0 until 6).map(i => payload("p1", minute(1, i * 10), 140)) ++
        (0 until 6).map(i => payload("p2", minute(0, i * 10), 80))
      val batch2 =
        (0 until 6).map(i => payload("p1", minute(2, i * 10), 70)) ++
        (0 until 6).map(i => payload("p2", minute(2, i * 10), 85))
      // push the watermark far past every earlier window so the agg
      // finalizes them and the tracker sees the run break
      val flush = Seq(payload("p1", minute(30, 0), 75), payload("p2", minute(30, 0), 75))

      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      in.addData(flush); q.processAllAvailable()

      val eps = collected("chained_eps")
      assert(eps.length == 1, s"expected exactly one closed episode, got: ${eps.toSeq}")
      val ep = eps.head
      assert(ep.patient_id == "p1")
      assert(ep.episode_type == "tachycardia")
      assert(ep.n_windows == 2)
      assert(ep.peak_avg_hr == 140.0)
      assert(ep.start.getTime == java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli)
      assert(ep.end.getTime == java.time.Instant.parse("2024-01-01T10:02:00Z").toEpochMilli)
      assertDefaultStore(q)
    } finally q.stop()
  }

  test("an episode whose window arrives after the watermark passed its flush point is emitted once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val in = MemoryStream[String]
    val q = episodesOf(in.toDF()).writeStream
      .format("memory").queryName("jump_eps").outputMode("append").start()
    try {
      // p1's only abnormal window is 10:00-10:01; the 10:40 reading
      // moves the watermark to 10:39:55, so the aggregate finalizes
      // that window only when the watermark is already past its flush
      // point 10:11 — the tracker must emit it at once
      in.addData((0 until 6).map(i => payload("p1", minute(0, i * 10), 130)))
      q.processAllAvailable()
      in.addData(Seq(payload("p1", minute(40, 0), 75)))
      q.processAllAvailable()
      in.addData(Seq(payload("p1", minute(50, 0), 75)))
      q.processAllAvailable()

      val eps = collected("jump_eps")
      assert(eps.length == 1, s"expected the one episode once, got: ${eps.toSeq}")
      val ep = eps.head
      assert(ep.patient_id == "p1" && ep.episode_type == "tachycardia")
      assert(ep.n_windows == 1 && ep.peak_avg_hr == 130.0)
      assert(ep.start.getTime == java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli)
      assert(ep.end.getTime == java.time.Instant.parse("2024-01-01T10:01:00Z").toEpochMilli)
    } finally q.stop()
  }

  /** Both stateful operators reported the HDFS-backed (default)
    * provider's own metrics in the last micro-batch.
    */
  private def assertDefaultStore(q: StreamingQuery): Unit = {
    val ops = q.lastProgress.stateOperators
    assert(ops.length == 2, s"expected window agg + episode state: ${ops.map(_.operatorName).toSeq}")
    assert(ops.forall(_.customMetrics.containsKey("loadedMapCacheHitCount")),
      s"not on the default state store: ${ops.map(_.customMetrics).toSeq}")
  }
}
