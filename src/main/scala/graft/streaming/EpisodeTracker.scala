package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One finalized window-level alert (input to episode tracking). */
final case class WindowAlert(
    patient_id: String,
    window_start: java.sql.Timestamp,
    window_end: java.sql.Timestamp,
    avg_hr: Double,
    alert_type: String)

/** A maximal run of consecutive abnormal windows for one patient. */
final case class Episode(
    patient_id: String,
    episode_type: String,
    start: java.sql.Timestamp,
    end: java.sql.Timestamp,
    n_windows: Int,
    peak_avg_hr: Double)

/** Mutable keyed state: the currently-open abnormal run. */
final case class OpenEpisode(
    episode_type: String,
    start: java.sql.Timestamp,
    end: java.sql.Timestamp,
    n_windows: Int,
    peak_avg_hr: Double) {
  def closed(patientId: String): Episode =
    Episode(patientId, episode_type, start, end, n_windows, peak_avg_hr)
}

/** Custom keyed state on top of the window alerts — the Spark
  * analog of Flink keyed ProcessFunction state the reference's
  * design points at (README "per-key (per-patient) state"):
  * consecutive abnormal windows of the same type merge into an
  * episode; the episode is emitted when the run breaks (normal
  * window / type change) or its patient goes quiet.
  *
  * `flatMapGroupsWithState` keeps state per patient in the default
  * state store — scales horizontally with the number of keys,
  * survives restarts via checkpointing. The contract:
  *
  *  - streaming input must carry a watermark (an event-time column
  *    such as `window_time` of [[HealthMonitor.alerts]], or a
  *    `withWatermark` column); Spark refuses the event-time timeout
  *    without one;
  *  - a still-open episode is emitted once the watermark passes its
  *    `end` + [[FlushGapMs]] (event-time timeout — no wall clock, so
  *    bounded drains quiesce); if the watermark has already passed
  *    that point when the window arrives, it is emitted at once;
  *  - batch input holds all of its data, so runs still open at the
  *    end of input are emitted.
  */
object EpisodeTracker {

  /** Quiet gap after which an open episode is flushed. */
  val FlushGapMs: Long = 10 * 60 * 1000L

  /** The run fold: window alerts, in window order, extend the open
    * run while the type repeats; a type change or a normal window
    * closes it. Returns the closed episodes and the run still open
    * afterwards.
    */
  private def foldRuns(patientId: String, open: Option[OpenEpisode],
      rows: Iterator[WindowAlert]): (Seq[Episode], Option[OpenEpisode]) = {
    var cur = open
    val out = Seq.newBuilder[Episode]
    for (a <- rows.toSeq.sortBy(_.window_start.getTime)) {
      cur match {
        case Some(ep) if a.alert_type == ep.episode_type =>
          cur = Some(ep.copy(
            end = a.window_end,
            n_windows = ep.n_windows + 1,
            peak_avg_hr = math.max(ep.peak_avg_hr, a.avg_hr)))
        case Some(ep) =>
          out += ep.closed(patientId)
          cur =
            if (a.alert_type == "normal") None
            else Some(OpenEpisode(a.alert_type, a.window_start, a.window_end, 1, a.avg_hr))
        case None =>
          if (a.alert_type != "normal")
            cur = Some(OpenEpisode(a.alert_type, a.window_start, a.window_end, 1, a.avg_hr))
      }
    }
    (out.result(), cur)
  }

  private def trackEpisodes(streaming: Boolean)(patientId: String,
      rows: Iterator[WindowAlert], state: GroupState[OpenEpisode]): Iterator[Episode] = {
    val (closed, open) = foldRuns(patientId, state.getOption, rows)
    def flushAt(ep: OpenEpisode) = ep.end.getTime + FlushGapMs
    open match {
      // setTimeoutTimestamp rejects a time below the watermark, so a
      // run whose flush point has passed (a timed-out one included)
      // takes the emitting branch
      case Some(ep) if streaming && flushAt(ep) >= state.getCurrentWatermarkMs() =>
        state.update(ep)
        state.setTimeoutTimestamp(flushAt(ep))
        closed.iterator
      case _ =>
        if (state.exists) state.remove()
        (closed ++ open.map(_.closed(patientId))).iterator
    }
  }

  /** Wire the tracker over a stream (or a batch Dataset) of window
    * alerts; see the object scaladoc for the watermark contract.
    */
  def episodes(alerts: Dataset[WindowAlert]): Dataset[Episode] = {
    import alerts.sparkSession.implicits._
    alerts
      .groupByKey(_.patient_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        trackEpisodes(alerts.isStreaming))
  }
}
