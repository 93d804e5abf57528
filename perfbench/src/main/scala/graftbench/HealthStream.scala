package graftbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.streaming.HealthMonitor
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.json4s.jackson.JsonMethods.parse

/** The reference topology, end to end: JSON event files →
  * `HealthMonitor.alerts` (parse, 5 s watermark, 1-minute per-patient
  * window, classify) → `HealthMonitor.alertJson` → a text file sink,
  * with the default as-soon-as-possible trigger.
  *
  * The input directory holds `backlog/` and `live/` files written
  * beforehand. Phase A copies the backlog into the watched directory
  * and drains it `maxFiles` files per micro-batch. Phase B is an open
  * loop: a generator thread publishes live file i when it is due, at
  * `liveStart + i * tickMs`, however far behind the query is, and
  * logs when it was due and when it was published.
  */
object HealthStream {
  final case class Config(inputDir: String, tickMs: Long, maxFiles: Int)

  /** A stream that has not finished by then has failed. */
  val TimeoutMs = 120000L

  private def lines(p: Path): Long = {
    val b = Files.readAllBytes(p)
    b.count(_ == '\n'.toByte).toLong
  }

  private def listSorted(dir: File): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq.filter(_.isFile).sortBy(_.getName)).getOrElse(Seq.empty)

  private def watermarkMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli)

  private def maxEventMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("max")).map(Instant.parse(_).toEpochMilli)

  /** Runs both phases in `runDir` (fresh source, checkpoint and sink
    * directories) and returns what the checks and metrics need.
    */
  def run(spark: SparkSession, cfg: Config, runDir: String,
      tracer: Option[Tracer]): Map[String, Any] = {
    def traced[T](kind: String, name: String)(body: => T): T = Tracer.span(tracer, kind, name)(body)
    val src = new File(runDir, "src"); src.mkdirs()
    val staging = new File(runDir, "staging"); staging.mkdirs()
    val ckpt = new File(runDir, "checkpoint")
    val sink = new File(runDir, "sink")
    val backlog = listSorted(new File(cfg.inputDir, "backlog"))
    val live = listSorted(new File(cfg.inputDir, "live"))
    val backlogLines = backlog.map(f => lines(f.toPath)).sum
    val totalLines = backlogLines + live.map(f => lines(f.toPath)).sum

    // the file source reads in modification-time order: give the
    // backlog distinct, increasing times older than any live file
    val base = System.currentTimeMillis() - backlog.size - 1000L
    backlog.zipWithIndex.foreach { case (f, i) =>
      val to = new File(src, f.getName).toPath
      Files.copy(f.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(to, FileTime.fromMillis(base + i))
    }

    val progress = mutable.ArrayBuffer.empty[String]
    val listener = tracer.map { _ =>
      new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized(progress += e.progress.json)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
    }
    listener.foreach(spark.streams.addListener)

    val gc0 = BatchPass.gcMs()
    val startMs = System.currentTimeMillis()
    val deadline = startMs + TimeoutMs
    def consumed(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum
    def await(q: StreamingQuery, what: String)(done: => Boolean): Unit = {
      while (!done) {
        q.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"stream timed out waiting for $what")
        Thread.sleep(2)
      }
    }

    val query = traced("frame_build", "health_stream") {
      val raw = spark.readStream.option("maxFilesPerTrigger", cfg.maxFiles.toString)
        .text(src.getPath)
      HealthMonitor.alertJson(HealthMonitor.alerts(raw))
        .writeStream.format("text")
        .option("checkpointLocation", ckpt.getPath)
        .outputMode("append")
        .start(sink.getPath)
    }
    val startedMs = System.currentTimeMillis()
    val published = mutable.ArrayBuffer.empty[Map[String, Any]]
    var liveStartMs = 0L
    try {
      traced("catchup", "health_stream") {
        await(query, "the backlog")(consumed(query) >= backlogLines)
      }
      traced("live", "health_stream") {
        liveStartMs = System.currentTimeMillis()
        val generator = new Thread(() => {
          live.zipWithIndex.foreach { case (f, i) =>
            val due = liveStartMs + i * cfg.tickMs
            var now = System.currentTimeMillis()
            while (now < due) {
              LockSupport.parkNanos((due - now) * 1000000L)
              now = System.currentTimeMillis()
            }
            val staged = new File(staging, f.getName).toPath
            Files.copy(f.toPath, staged, StandardCopyOption.REPLACE_EXISTING)
            Files.setLastModifiedTime(staged, FileTime.fromMillis(System.currentTimeMillis()))
            Files.move(staged, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
            published += Map("file" -> f.getName, "due_ms" -> due,
              "published_ms" -> System.currentTimeMillis())
          }
        }, "perfbench-generator")
        generator.setDaemon(true)
        generator.start()
        generator.join()
        await(query, "the live input")(consumed(query) >= totalLines)
        // the batch after the last data batch evicts every window the
        // final watermark closed
        await(query, "the closing batch") {
          val ps = query.recentProgress
          val finalWm = ps.flatMap(maxEventMs).maxOption.map(_ - 5000L)
          ps.lastOption.exists(p => p.numInputRows == 0 && watermarkMs(p) == finalWm)
        }
      }
    } finally query.stop()
    tracer.foreach(_.drain())
    val events = if (listener.isDefined) progress.synchronized(progress.toSeq)
      else query.recentProgress.toSeq.map(_.json)
    listener.foreach(spark.streams.removeListener)
    Map(
      "backlog_files" -> backlog.size, "live_files" -> live.size,
      "backlog_lines" -> backlogLines, "total_lines" -> totalLines,
      "tick_ms" -> cfg.tickMs, "max_files" -> cfg.maxFiles,
      "start_ms" -> startMs, "started_ms" -> startedMs, "live_start_ms" -> liveStartMs,
      "end_ms" -> System.currentTimeMillis(), "gc_s" -> (BatchPass.gcMs() - gc0) / 1e3,
      "sink" -> sink.getPath, "checkpoint" -> ckpt.getPath,
      "published" -> published.toSeq,
      "progress" -> events.map(parse(_)))
  }
}
