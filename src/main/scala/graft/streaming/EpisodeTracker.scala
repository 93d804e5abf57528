package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
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
  * window / type change) or the state times out.
  *
  * `flatMapGroupsWithState` keeps state per patient in the state
  * store — scales horizontally with the number of keys, survives
  * restarts via checkpointing.
  */
object EpisodeTracker {

  /** The run fold both trackers share: window alerts, in window
    * order, extend the open run while the type repeats; a type change
    * or a normal window closes it. Returns the closed episodes and the
    * run still open afterwards.
    */
  private[streaming] def foldRuns(patientId: String, open: Option[OpenEpisode],
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

  def trackEpisodes(useTimeout: Boolean)(patientId: String, rows: Iterator[WindowAlert],
      state: GroupState[OpenEpisode]): Iterator[Episode] = {
    val (closed, open) = foldRuns(patientId, state.getOption, rows)
    if (state.hasTimedOut) {
      state.remove()
      (closed ++ open.map(_.closed(patientId))).iterator
    } else {
      open match {
        case Some(ep) =>
          state.update(ep)
          if (useTimeout) state.setTimeoutDuration("10 minutes")
        case None => state.removeIfExists()
      }
      closed.iterator
    }
  }

  /** Wire the tracker over a stream (or batch Dataset in tests) of
    * window alerts.
    *
    * `flushOpenEpisodes=true` adds a 10-minute processing-time
    * timeout that force-emits still-open episodes for quiet patients
    * (production setting; it keeps the trigger loop alive, so
    * AvailableNow/processAllAvailable-style drains never quiesce —
    * leave it off for bounded runs).
    */
  def episodes(alerts: Dataset[WindowAlert],
      flushOpenEpisodes: Boolean = false): Dataset[Episode] = {
    import alerts.sparkSession.implicits._
    val timeout =
      if (flushOpenEpisodes) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    alerts
      .groupByKey(_.patient_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        trackEpisodes(flushOpenEpisodes))
  }

  implicit private class StateOps(private val s: GroupState[OpenEpisode]) extends AnyVal {
    def removeIfExists(): Unit = if (s.exists) s.remove()
  }
}
