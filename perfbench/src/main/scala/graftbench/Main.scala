package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side. `perfbench/run.py` prepares the inputs,
  * starts this main with `key=value` arguments, and reads back the
  * run record it writes (`<work>/record.json`): set-up times, every
  * timed call, the stream's progress events and, in a traced run, the
  * spans. The checks and the metrics are computed by `run.py`.
  *
  * The first set-up, timed from process launch (`t0_ms`), builds a
  * session and runs the untimed warm-up (a pass at the warm-up scale,
  * or a short stream). The run is then `rounds` rounds. Each round sets
  * up afresh `SetupsPerRound` times (stop the session, build a new one,
  * run one action), each timed, and on the batch workloads then times
  * its passes; the stream is run once, after the last round.
  */
object Main {
  val SetupsPerRound = 4

  def main(argv: Array[String]): Unit = {
    val arg = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")
    val cores = arg("cores").toInt
    val t0Ms = arg("t0_ms").toLong
    val rounds = arg("rounds").toInt
    val queries = arg.get("queries").map(_.split(",").toSeq).getOrElse(Seq.empty)
    def streamCfg(dir: String) =
      HealthStream.Config(arg(dir), arg("tick_ms").toLong, arg("max_files").toInt)
    val isStream = workload == "health_stream"

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "java_version" -> System.getProperty("java.version"))

    var spark: SparkSession = null
    def warmUp(): Map[String, Any] =
      if (isStream) HealthStream.run(spark, streamCfg("warm_in"), s"$work/warm", None)
      else BatchPass.run(spark, arg("warm"), queries, s"$work/warm", None)

    def shuffled(k: Int): Seq[String] = new Random(seed * 7919L + k).shuffle(queries)
    val dir = arg.getOrElse("data", "")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(out: String): Map[String, Any] =
      BatchPass.run(spark, dir, shuffled(passes.size), s"$work/out/$out", None)

    spark = session(s"local[$cores]", cores, work)
    record("warm_up") = warmUp()
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - t0Ms) / 1e3)
    // Each round sets up afresh, several times, and on the batch
    // workloads then times as many whole passes as fit its share of
    // the run length, at least one.
    (0 until rounds).foreach { _ =>
      (0 until SetupsPerRound).foreach { _ =>
        // as before each query: the heap the previous work left is not
        // the set-up's cost
        System.gc()
        val t = System.nanoTime()
        spark.stop()
        spark = session(s"local[$cores]", cores, work)
        setups += (System.nanoTime() - t) / 1e9
      }
      if (!isStream) {
        val roundStart = System.nanoTime()
        var last = 0.0
        do {
          passes += pass(s"p${passes.size}")
          last = passes.last("wall_s").asInstanceOf[Double]
        } while ((System.nanoTime() - roundStart) / 1e9 + last <= seconds / rounds)
      }
    }
    record("setups_s") = setups.toSeq
    record("spark_version") = spark.version

    if (isStream) {
      val cfg = streamCfg("stream_in")
      record("stream") = HealthStream.run(spark, cfg, s"$work/stream/untraced", None)
      if (trace) {
        // one more untraced run, then the traced one, so the two compare
        // at the same warmth
        record("untraced_stream") = HealthStream.run(spark, cfg, s"$work/stream/untraced2", None)
        val tracer = new Tracer(spark)
        tracer.install()
        record("traced_stream") = tracer.span("workload", workload) {
          HealthStream.run(spark, cfg, s"$work/stream/traced", Some(tracer))
        }
        tracer.uninstall()
        record("spans") = tracer.spanMaps
      }
    } else {
      if (trace) {
        // one more untraced pass, then the same order traced, so the
        // two compare at the same warmth
        val untraced = pass("untraced")
        val tracer = new Tracer(spark)
        tracer.install()
        record("untraced_pass") = untraced
        record("traced_pass") = tracer.span("workload", workload) {
          BatchPass.run(spark, dir, untraced("order").asInstanceOf[Seq[String]],
            s"$work/out/traced", Some(tracer))
        }
        tracer.uninstall()
        record("spans") = tracer.spanMaps
      }
      record("passes") = passes.toSeq
    }

    if (trace) {
      // the single-core baseline of the stream, the same topology on local[1]
      spark.stop()
      spark = session("local[1]", 1, work)
      record("baseline") = HealthStream.run(spark, streamCfg("baseline_in"), s"$work/baseline", None)
    }
    spark.stop()
    record("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(s"$work/record.json"), Serialization.write(record)(DefaultFormats))
  }

  def session(master: String, cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(master, cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // no compaction or purging of the stream's logs: the checks map
      // every source and sink file to the micro-batch that handled it
      .config("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
      .config("spark.sql.streaming.minBatchesToRetain", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // one action, so the session state (analyzer, optimizer and the
    // planner extensions) is built here and not in the first query
    s.range(1).count()
    s
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
