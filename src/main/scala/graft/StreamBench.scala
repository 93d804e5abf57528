package graft

import graft.Materialize.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-path scale benchmark: drives the two production
  * streaming topologies (HealthMonitor alerts over raw JSON events,
  * CurationStream ingest curation over documents) through the real
  * file-source micro-batch engine at two scale factors and reports
  * throughput plus the 10× scaling slope — the batch Bench's
  * superlinear guard applied to the streaming runtime (state store,
  * watermark bookkeeping, sink commits included).
  *
  * Methodology mirrors Bench: input layout is prepared OUTSIDE the
  * timed region; each topology runs once untimed at the small SF
  * (JIT/codegen/state-store init are engine fixed costs), then the
  * timed run covers `start()` → `awaitTermination` of an
  * AvailableNow query split into multiple micro-batches
  * (maxFilesPerTrigger), so per-batch state replay — not one giant
  * batch — is what's measured.
  *
  * Output: ONE JSON line, also written to target/stream_bench.json:
  * `{"metric":"stream_total","value":S,"unit":"sec","paths":{...}}`
  * with per-path rows, seconds, rows/sec at each SF, the slope
  * t_big/t_small (data grows 10×; slope ≫ 10 = superlinear state or
  * shuffle growth) and the rows the watermark dropped in the first
  * big-SF pass.
  */
object StreamBench {

  private val InFiles = 16        // arrival chunks written per input
  private val FilesPerTrigger = 4 // → 4 micro-batches per run

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
    f.delete()
  }

  /** Health ingest fixture: the events table rendered as the Kafka
    * value payload (same expression hr_parse round-trips, including
    * the every-13th corrupt row the parser must drop), cut into
    * [[InFiles]] event-time chunks (`chunk` 1..InFiles in `ts`
    * order) — the arrival order of a real feed, so the watermark
    * drops only rows that are late in the data itself.
    */
  private def healthInput(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .withColumn("value", operators.Health.rawPayload(("user_id", "ts", "value")))
      .withColumn("chunk",
        ntile(InFiles).over(Window.orderBy(col("ts"), col("event_id"))))
      .select("chunk", "value")

  /** Curation ingest fixture: documents timestamped like the
    * CurationStreamSpec fixture (monotone in doc_id, one watermark
    * horizon — worst case for dedup state: nothing evicts early).
    */
  private def curationInput(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("event_ts",
        expr("timestamp_micros(CAST(1700000000000000 + doc_id * 1000 AS BIGINT))"))

  /** Run one topology AvailableNow over a pre-written input dir;
    * returns wall seconds for the whole query (all micro-batches) and
    * the rows its watermark dropped.
    */
  private def runStream(build: DataFrame => DataFrame, streamIn: DataFrame,
      outDir: String, ckpt: String): (Double, Long) = {
    rm(new java.io.File(outDir)); rm(new java.io.File(ckpt))
    val t0 = System.nanoTime()
    val q = build(streamIn).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(600000)) sys.error("stream did not finish in 600s")
    ((System.nanoTime() - t0) / 1e9, droppedByWatermark(q))
  }

  /** Σ numRowsDroppedByWatermark over the query's stateful operators
    * and micro-batches.
    */
  private def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.iterator.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

  private final case class PathResult(rows: Long, sec: Double, dropped: Long) {
    def rps: Long = if (sec > 0) (rows / sec).toLong else 0L
  }

  /** Prepare inputs + run both topologies at one SF dir. */
  private def runSf(spark: SparkSession, sfDir: String,
      base: String): Map[String, PathResult] = {
    // health: text payload files → alerts
    val hIn = s"$base/h_in"
    // one write per chunk, in event-time order, so file mtimes (the
    // file source's arrival order) follow event time
    val health = healthInput(spark, sfDir).materialized
    (1 to InFiles).foreach { c =>
      health.filter(col("chunk") === c).select("value").coalesce(1)
        .write.mode(if (c == 1) "overwrite" else "append").text(hIn)
    }
    Materialize.release(health)
    val hRows = spark.read.text(hIn).count()
    val hStream = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", FilesPerTrigger).text(hIn)
    val (hSec, hDrop) = runStream(streaming.HealthMonitor.alerts(_), hStream,
      s"$base/h_out", s"$base/h_ckpt")

    // curation: parquet doc files → admitted set
    val cIn = s"$base/c_in"
    val curation = curationInput(spark, sfDir)
    curation.repartition(InFiles).write.mode("overwrite").parquet(cIn)
    val cRows = spark.read.parquet(cIn).count()
    val cStream = spark.readStream.schema(curation.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(cIn)
    val (cSec, cDrop) = runStream(streaming.CurationStream.curate(_), cStream,
      s"$base/c_out", s"$base/c_ckpt")

    // gated curation: same ingest through the batch-trained ccnet
    // gate — the training (the lambda split's slow path) happens
    // OUTSIDE the timed region, like any shipped model artifact;
    // the timed delta vs `curation` is the gate's map-side cost
    val gate = streaming.CurationStream.trainPerplexityGate(
      Tables(spark, sfDir).documents.select(col("doc_id"), col("text"), col("lang")))
    val gStream = spark.readStream.schema(curation.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(cIn)
    val (gSec, gDrop) = runStream(streaming.CurationStream.curateGated(_, gate), gStream,
      s"$base/g_out", s"$base/g_ckpt")

    // strict curation: the same ingest through the Gopher rule gate
    // — pure map-side flags, no artifact; the delta vs `curation` is
    // the per-doc lambda cost of the rules
    val sStream = spark.readStream.schema(curation.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(cIn)
    val (sSec, sDrop) = runStream(streaming.CurationStream.curateStrict(_), sStream,
      s"$base/s_out", s"$base/s_ckpt")

    // near-dup gate: band-keyed SimHash state + windowed per-doc OR
    // (two chained stateful operators); worst case for state — the
    // monotone timestamps keep every bucket live
    val nStream = spark.readStream.schema(curation.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(cIn)
    val (nSec, nDrop) = runStream(
      df => streaming.NearDupStream.nearDupFlags(
        df.select(col("doc_id"), col("text"), col("event_ts"))),
      nStream, s"$base/n_out", s"$base/n_ckpt")

    // drift card: batch-trained baseline + per-window Misra-Gries
    // histograms in state; training outside the timed region (the
    // shipped-model convention of the gated path)
    val driftBase = streaming.DriftStream.trainBaseline(
      Tables(spark, sfDir).documents.select(col("doc_id"), col("text"), col("lang")))
    val dStream = spark.readStream.schema(curation.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(cIn)
    val (dSec, dDrop) = runStream(
      df => streaming.DriftStream.driftCard(
        df.select(col("text"), col("lang"), col("event_ts")), driftBase),
      dStream, s"$base/d_out", s"$base/d_ckpt")

    // changelog retract view: CDC inserts + deletes maintaining the
    // grouped revenue view; complete-mode MEMORY sink (legal here
    // because the view is card-sized — |groups| rows at any ingest
    // volume, which is the operator's whole scale argument)
    val rIn = s"$base/r_in"
    val orders = Tables(spark, sfDir).orders
      .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    val inserts = orders.withColumn("op", lit("I"))
    val deletes = orders
      .filter(col("o_orderkey") % operators.Warehouse.ViewDeltaMod
        === operators.Warehouse.RetractClass)
      .withColumn("op", lit("D"))
    inserts.repartition(InFiles).write.mode("overwrite").parquet(rIn)
    deletes.repartition(4).write.mode("append").parquet(rIn)
    val rRows = spark.read.parquet(rIn).count()
    val rStream = spark.readStream.schema(inserts.schema)
      .option("maxFilesPerTrigger", FilesPerTrigger).parquet(rIn)
    val (rSec, rDrop) = {
      val ckpt = s"$base/r_ckpt"
      rm(new java.io.File(ckpt))
      val qn = "sb_retract_" + java.lang.Integer.toHexString(base.hashCode)
      val t0 = System.nanoTime()
      val q = streaming.RetractStream.retractView(rStream).writeStream
        .format("memory").queryName(qn)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(600000)) sys.error("retract stream did not finish in 600s")
      ((System.nanoTime() - t0) / 1e9, droppedByWatermark(q))
    }

    Map("health_alerts" -> PathResult(hRows, hSec, hDrop),
      "curation" -> PathResult(cRows, cSec, cDrop),
      "curation_gated" -> PathResult(cRows, gSec, gDrop),
      "curation_strict" -> PathResult(cRows, sSec, sDrop),
      "neardup" -> PathResult(cRows, nSec, nDrop),
      "drift" -> PathResult(cRows, dSec, dDrop),
      "retract_view" -> PathResult(rRows, rSec, rDrop))
  }

  def main(args: Array[String]): Unit = {
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val smallDir = new java.io.File(new java.io.File(bigDir).getParentFile, "sf0.01").getPath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = "target/tmp/streambench"
    rm(new java.io.File(base))

    // untimed warmup at BOTH SFs (engine + sink init, JIT — round 15:
    // the r14 artifact's run_totals spread 3.3× [136, 80, 41] because
    // a small-SF-only warmup leaves the big-SF codegen/state-store
    // paths cold, so the first timed big pass carried the JIT bill
    // inside the measurement; warm-only passes are what the medians
    // must summarize), then MEDIANS of ≥ 3 big-SF passes (the Bench
    // methodology, extended here per the r13 verdict: micro-batch
    // trigger wall-clock is multi-second weather on this class of
    // box, and a single sample cannot separate a regression from it).
    // Two small-SF passes give the slope denominator the same
    // treatment (median of 2 = midpoint).
    runSf(spark, smallDir, s"$base/warm")
    runSf(spark, bigDir, s"$base/warmbig")
    val smallRuns = (1 to 2).map(i => runSf(spark, smallDir, s"$base/small$i"))
    val bigRuns = (1 to 3).map(i => runSf(spark, bigDir, s"$base/big$i"))

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val keys = bigRuns.head.keys.toSeq.sorted
    val paths = keys.map { k =>
      val sSecs = smallRuns.map(_(k).sec)
      val bSecs = bigRuns.map(_(k).sec)
      val sSec = median(sSecs); val bSec = median(bSecs)
      val rowsS = smallRuns.head(k).rows; val rowsB = bigRuns.head(k).rows
      val rpsS = if (sSec > 0) (rowsS / sSec).toLong else 0L
      val rpsB = if (bSec > 0) (rowsB / bSec).toLong else 0L
      val slope = if (sSec > 0.3) bSec / sSec else bSec / 0.3
      "\"" + k + "\":{" +
        s""""rows_small":$rowsS,"sec_small":${fmt(sSec)},"rps_small":$rpsS,""" +
        s""""rows_big":$rowsB,"sec_big":${fmt(bSec)},"rps_big":$rpsB,""" +
        s""""runs_big":${bSecs.map(fmt).mkString("[", ",", "]")},""" +
        s""""dropped_big":${bigRuns.head(k).dropped},""" +
        s""""slope":${fmt(slope)}}"""
    }.mkString("{", ",", "}")
    // headline = sum of per-path big medians; run totals ride along so
    // the artifact itself shows the weather band
    val total = fmt(keys.map(k => median(bigRuns.map(_(k).sec))).sum)
    val runTotals = bigRuns.map(r => fmt(r.values.map(_.sec).sum))
      .mkString("[", ",", "]")
    // box state IN the artifact (the BENCH.json r14 lesson applied to
    // the streaming surface): load/uptime at measurement end, so a
    // future delta is attributable from the artifact alone.
    val boxJson = {
      def slurp(p: String): String =
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8").trim
        catch { case _: Throwable => "" }
      val load = slurp("/proc/loadavg").split(" ").take(3).mkString(",")
      val up = slurp("/proc/uptime").split(" ").headOption.getOrElse("")
      s""""box":{"loadavg_end":"$load","uptime_s":"$up","cpus":"$cpus"}"""
    }
    // slope semantics, recorded where the number lives: every path
    // runs a FIXED 4-micro-batch schedule, so at the 500-row small SF
    // the denominator is trigger/commit/state-store fixed cost, not
    // data work — path slopes therefore measure fixed-cost
    // amortization plus box weather around ~1, and the data-scaling
    // signal is rps_big vs rps_small (rows grow 10×). A slope is
    // only a red flag here when it approaches the 10× data ratio.
    // curation_gated's r14 slope 1.583 was this artifact shape: its
    // gate is a broadcast model applied map-side (the timed delta vs
    // `curation` is per-doc scoring), so its slope must track
    // curation's once warm — the warm-only medians below are the
    // comparable numbers.
    val notes = """"notes":"fixed 4-micro-batch schedule; small-SF seconds are dominated by per-batch trigger+commit fixed cost, so slope≈1 is amortization, not state growth; scale signal = rps_big/rps_small; all passes are warm (untimed warmup at both SFs precedes measurement)""""
    val line = s"""{"metric":"stream_total","value":$total,"unit":"sec","methodology":"median_of_3_warm","run_totals":$runTotals,$boxJson,$notes,"sf":"$bigDir","slope_vs":"$smallDir","paths":$paths}"""
    // target/ copy (historic location) + a COMMITTED evidence/ copy —
    // the r12 skew artifact was wiped by a later build from target/
    Seq("target/stream_bench.json", "evidence/stream_bench.json").foreach { p =>
      val f = new java.io.File(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      val out = new java.io.PrintWriter(f)
      try out.println(line) finally out.close()
    }
    println(line)
    spark.stop()
  }
}
