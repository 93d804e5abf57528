package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Timing methodology: a warmup pass at sf0.001 first (JIT + codegen
  * caches + FileSystem init are Spark fixed costs, not operator
  * cost), then each query materialized fully through the `noop`
  * datasource (forces every column/row to be produced, unlike
  * count() which lets Catalyst prune the plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional dev filter: bench only the named queries, same
    // warmup/GC/min-of-two/slope methodology (driver passes no args)
    val only: Set[String] = if (args.nonEmpty) args(0).split(",").toSet else Set.empty
    def selected: Seq[String] =
      SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String, dir: String): Double = {
      // isolate every pass: drop CacheManager entries AND any leaked
      // persisted blocks from the previous query, so one query's
      // retained storage can no longer bleed into the next
      // measurement (the r9 pagerank ×1.7 driver regression with runs
      // growing 10.0 → 14.9 s inside one JVM).
      CacheLedger.drain(spark)
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warmup (not timed): smallest-SF sibling pass over every query,
    // falling back to the target dir so a relocated dataset tree
    // still gets JIT/codegen warmup rather than silently none
    val warmupDir = {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory) sibling.getPath else sfDir
    }
    selected.foreach(runOnce(_, warmupDir))

    // min over ≥ 3 timed runs (plus a MEDIAN per query in the
    // artifact). Min-of-two was NOT converging on the heavy tail
    // (r6: dedup_clusters 8.26 s driver vs 3.97 s same-code builder
    // run, pagerank bouncing 10↔18 s across rounds) — GC/JIT noise
    // at this scale is multi-second and concentrates on the longest
    // queries — and two samples cannot separate a code regression
    // from machine weather (the r12 +25.6% driver headline took
    // cross-session builder runs to attribute; the r12 advisory asks
    // for medians of ≥ 3 in ONE artifact). Damping rule: every run
    // is preceded by a GC drain; a query gets extra passes (≤ 6
    // total) while its runs diverge >1.5× without the two BEST runs
    // agreeing within 25% (two agreeing runs mean the min is
    // reproducible, not a fluke). Per-run times are recorded in the
    // artifact so variance is visible rather than inferred from
    // round-to-round diffs.
    def timeQuery(n: String, dir: String): Seq[Double] = {
      val runs = scala.collection.mutable.ArrayBuffer[Double]()
      // the GC drain before EVERY pass matters: multi-round queries
      // late in the run otherwise pay earlier queries' old-gen debt
      // as mid-query pauses (pagerank measured 16.4 s in a full
      // bench vs 9.2 s isolated-warm — same code)
      def pass(): Unit = { System.gc(); runs += runOnce(n, dir) }
      pass(); pass(); pass()
      def pos = runs.filter(_ >= 0)
      def needMore: Boolean = {
        if (runs.exists(_ < 0) || runs.size >= 6) return false
        val s = pos.sorted
        val divergentUnsettled =
          s.last > 1.5 * s.head && s(1) > 1.25 * s.head
        divergentUnsettled
      }
      while (needMore) pass()
      runs.toSeq
    }
    def timeAll(dir: String): Seq[(String, Seq[Double])] =
      selected.map(n => n -> timeQuery(n, dir))
    // either run failing marks the query failed (-1) in the JSON —
    // reporting the surviving runs would hide intermittent failures
    def minOf(runs: Seq[Double]): Double =
      if (runs.exists(_ < 0)) -1.0 else runs.min
    val allRuns = timeAll(sfDir)
    val results = allRuns.map { case (n, rs) => n -> minOf(rs) }
    // ms precision: sub-ms digits are pure noise at this scale, and a
    // compact line survives the driver's bounded tail capture (r01-r03
    // all recorded parsed:null with the front of the line truncated)
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = fmt(results.map(_._2).filter(_ >= 0).sum)

    // scaling slope: time ratio vs the 10×-smaller sf0.01 sibling.
    // Data grows 10×, so a scan/shuffle-linear query must stay well
    // under ratio 10 (fixed JVM/planning overhead pushes it lower);
    // ratio > 10 means superlinear work — candidate-pair blowup,
    // O(n²) kernels — exactly the failure class that kills a 100 TB
    // run while still looking fine at one SF.
    val slopeJson = {
      val small = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
      if (!small.isDirectory || small.getPath == new java.io.File(sfDir).getPath) ""
      else {
        val base = timeAll(small.getPath)
          .map { case (n, rs) => n -> minOf(rs) }.toMap
        // denominator floor 0.3 s: below it the sf0.01 timing is JVM
        // fixed cost, not operator work, and the ratio flags noise —
        // html_extract was flagged at slope 13.2 off a ~0.15 s cold
        // denominator; its warm ratio is 1.8 (0.36 s → 0.65 s). A real
        // superlinear operator still trips the floor: 0.3 s × 10 = 3 s
        // at sf0.1 is far above any fixed cost.
        val slopes = results.collect {
          case (n, t) if t > 0 && base.getOrElse(n, -1.0) > 0 =>
            n -> BigDecimal(t / math.max(base(n), 0.3))
              .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        }
        val sl = slopes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        val sup = slopes.collect { case (n, r) if r > 10 => "\"" + n + "\"" }
          .mkString("[", ",", "]")
        s""","slope_vs":"${small.getPath}","slope":$sl,"superlinear":$sup"""
      }
    }
    // per-run times (the damping rule's evidence): queries with > 3
    // entries got extra variance passes; the spread between entries
    // IS the measured bench noise for that query
    val runsJson = allRuns
      .map { case (k, rs) => "\"" + k + "\":" + rs.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // medians of the ≥ 3 runs (the r12 advisory): the median is the
    // variance-robust per-query number a round-over-round diff should
    // read — a regression moves the median, weather moves the spread.
    // Even-sized run lists (the damping rule's 4/6-pass queries)
    // take the conventional midpoint of the two middle elements —
    // the upper-middle alone biased exactly the divergent queries
    // high (the r13 advisory)
    def medianOf(runs: Seq[Double]): Double =
      if (runs.exists(_ < 0)) -1.0
      else {
        val s = runs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    val medians = allRuns.map { case (n, rs) => n -> medianOf(rs) }
    val mediansJson = medians
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val medianTotal = fmt(medians.map(_._2).filter(_ >= 0).sum)
    // box state IN the artifact (the r13 builder-vs-driver 35% band
    // took cross-session runs to attribute — this box class moves
    // whole bands between sessions, so the artifact records the
    // load/uptime it was measured under)
    val boxJson = {
      def slurp(p: String): String =
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8").trim
        catch { case _: Throwable => "" }
      val load = slurp("/proc/loadavg").split(" ").take(3).mkString(",")
      val up = slurp("/proc/uptime").split(" ").headOption.getOrElse("")
      s""","box":{"loadavg_end":"$load","uptime_s":"$up","cpus":"$cpus"}"""
    }
    // cold_artifacts: no operator memoizes across queries, so every
    // per-query time is cold operator cost by construction (the
    // field stays for the readers of this line)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cold_artifacts":true,"queries":$qs,"medians":$mediansJson,"median_total":$medianTotal,"runs":$runsJson,"sf":"$sfDir"$slopeJson$boxJson}"""
    // persist to a file first: log capture truncates long lines (r02's
    // tail lost the front half of the per-query map), the file never
    // two copies: target/bench.json (historic location) and a
    // repo-root BENCH.json — a machine-readable artifact the driver
    // can read directly, since its 2000-char log tail has recorded
    // parsed:null for four rounds straight
    // a filtered dev run must never clobber the full-suite artifact
    val outFiles = if (only.isEmpty) Seq("target/bench.json", "BENCH.json")
      else Seq("target/bench_subset.json")
    outFiles.foreach { p =>
      try {
        val out = java.nio.file.Paths.get(p)
        Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] wrote ${out.toAbsolutePath}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
    // Two lines, big first, compact LAST. The harness keeps only the
    // final 2000 chars of output (measured from BENCH_r01-r03, all
    // parsed:null with the line's front truncated) — the full line
    // (~5 KB at 100 queries) can never survive it, so the last line
    // is a compact digest that always fits: total + the slowest
    // queries, trimmed to a 1400-char budget. Full detail stays in
    // the big line and target/bench.json.
    println(line)
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2)
    val budget = 1200
    val sb = new StringBuilder
    slowest.foreach { case (k, v) =>
      val ent = (if (sb.nonEmpty) "," else "") + "\"" + k + "\":" + fmt(v)
      if (sb.length + ent.length <= budget) sb.append(ent)
    }
    val failed = results.collect { case (n, t) if t < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"median_total":$medianTotal,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"failed":$failed,"queries":{${sb.toString}},"detail":"target/bench.json"}""")
  }
}
