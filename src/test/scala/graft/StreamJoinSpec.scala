package graft

import graft.streaming.Attribution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream interval join semantics (watermark-bounded state). */
class StreamJoinSpec extends AnyFunSuite {
  lazy val spark = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("stream-stream interval join: in-band clicks attribute, out-of-band do not") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Attribution.attribute(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id"))
    val q = joined.writeStream.format("memory").queryName("attrib_t1")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, ts("2025-01-01T00:00:00Z"), 100L), // 2 min before purchase: in band
        (1L, ts("2025-01-01T00:10:00Z"), 101L), // 8 min after: out of band
        (2L, ts("2025-01-01T00:01:00Z"), 102L)) // other user
      purchases.addData((1L, ts("2025-01-01T00:02:00Z"), 900L))
      q.processAllAvailable()
      val got = spark.table("attrib_t1").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"),
          r.getAs[Long]("gap_ms"))).toSet
      assert(got == Set((900L, 100L, -120000L)))
    } finally q.stop()
  }

  test("stream-stream join state is watermark-bounded: a too-late click never joins") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Attribution.attribute(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id"))
    val q = joined.writeStream.format("memory").queryName("attrib_t2")
      .outputMode("append").start()
    try {
      // advance both watermarks far past T0
      clicks.addData((9L, ts("2025-01-01T02:00:00Z"), 500L))
      purchases.addData((9L, ts("2025-01-01T02:00:00Z"), 501L))
      q.processAllAvailable()
      // purchase at T0 arrives hours late (beyond watermark+band):
      // its matching click can no longer be buffered on either side
      purchases.addData((1L, ts("2025-01-01T00:02:00Z"), 900L))
      clicks.addData((1L, ts("2025-01-01T00:01:00Z"), 100L))
      q.processAllAvailable()
      val got = spark.table("attrib_t2").collect()
      assert(!got.exists(_.getAs[Long]("purchase_id") == 900L),
        "state for a long-expired window must be gone")
    } finally q.stop()
  }
}
