package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Episode tracking on Spark 4's transformWithState API — the
  * successor to [[EpisodeTracker]]'s flatMapGroupsWithState with two
  * production-relevant upgrades the old API cannot express:
  *
  *  - **Event-time timers**: a still-open episode force-emits when
  *    the WATERMARK passes `window_end + flushGapMs` — a quiet
  *    patient's episode closes deterministically from event time,
  *    whereas the old ProcessingTimeTimeout depended on wall-clock
  *    and kept bounded (AvailableNow) drains from ever quiescing.
  *  - **Typed state cells** (ValueState) in the RocksDB state store
  *    with per-cell TTL available; state schema evolves per cell
  *    instead of one opaque blob.
  *
  * Run with the RocksDB state-store provider (transformWithState
  * requires it):
  * `spark.sql.streaming.stateStore.providerClass =
  *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  */
object EpisodeTrackerV2 {

  /** Default quiet-gap after which an open episode is flushed. */
  val FlushGapMs: Long = 10 * 60 * 1000L

  class EpisodeProcessor(flushGapMs: Long)
      extends StatefulProcessor[String, WindowAlert, Episode] {
    @transient private var open: ValueState[OpenEpisode] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenEpisode]("open",
        Encoders.product[OpenEpisode], TTLConfig.NONE)

    override def handleInputRows(
        patientId: String,
        rows: Iterator[WindowAlert],
        timers: TimerValues): Iterator[Episode] = {
      val (closed, cur) = EpisodeTracker.foldRuns(patientId, Option(open.get()), rows)
      // one timer per key: re-arm at the newest window's end + gap
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      cur match {
        case Some(ep) =>
          open.update(ep)
          getHandle.registerTimer(ep.end.getTime + flushGapMs)
        case None => open.clear()
      }
      closed.iterator
    }

    override def handleExpiredTimer(
        patientId: String,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[Episode] = {
      val out = Option(open.get()).map(_.closed(patientId))
      open.clear()
      out.iterator
    }
  }

  /** Wire the processor over a watermarked stream of window alerts.
    * Event-time mode: timers fire off the stream's watermark.
    */
  def episodes(
      alerts: Dataset[WindowAlert],
      flushGapMs: Long = FlushGapMs): Dataset[Episode] = {
    import alerts.sparkSession.implicits._
    alerts
      .groupByKey(_.patient_id)
      .transformWithState(new EpisodeProcessor(flushGapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
