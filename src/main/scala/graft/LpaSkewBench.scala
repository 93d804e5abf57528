package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The LPA half-round exchange skew artifact (round-16 verdict #5):
  * quantifies the trade between the one-exchange half-round
  * ([[operators.Graph.lpaRound]] — hash(dst) alone, every edge of a
  * hub transits ONE partition) and the skew-safe two-exchange shape
  * ([[operators.Graph.lpaRoundSkewSafe]] — map-side (dst, lbl)
  * combine before a hash(dst, lbl) exchange), on the base corpus and
  * a planted-hub twin (one supplier carrying ~10% of all trade edges
  * — the SkewBench celebrity rule).
  *
  * Per corpus × partition width (the loop-law width and a
  * cluster-width proxy), it records the MODELED per-partition row
  * spread of each shape's first exchange: partition placement is
  * `pmod(hash(keys), P)` with the same Murmur3(seed 42) the planner's
  * HashPartitioning uses, so the histogram is exactly what the
  * exchange would deal, without a listener. The two-exchange shape's
  * rows are first combined per map partition (groupBy(mp, dst, lbl))
  * — the partial-agg model. Both the round-0 state (all labels
  * distinct — best case for the (dst,lbl) key spread) and the
  * CONVERGED state (worst case: a hub community's labels are
  * homogeneous, only the map-side combine protects the reducer) are
  * measured.
  *
  * Also records: the [[operators.Graph.lpaChooseSkewSafe]] decision
  * each (corpus, width) lands on, full-fixpoint wall times per shape,
  * and the label fingerprint equality check (the shapes must be
  * bit-identical). Writes evidence/lpa_skew.json and prints the JSON
  * line. runMain graft.LpaSkewBench [baseDir]
  */
object LpaSkewBench {

  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Cluster-width proxies for the modeled histograms: 64 keeps a
    * meaningful median on the sf0.1 supplier side (1k nodes); 512 is
    * where the planted hub (distinct-pair-capped at ~1.8% of side
    * rows — the celebrity's degree is bounded by |customers|) crosses
    * [[operators.Graph.LpaSkewRatio]] and the fixpoint's decision
    * must flip to the skew-safe round.
    */
  private val ProxyParts = Seq(64, 512)

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import operators.Graph

    val hubDir = "target/tmp/lpaskew/hub"
    buildHubCorpus(spark, baseDir, hubDir)

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    // modeled exchange deal: max and median rows per partition under
    // pmod(hash(keys), p) — hash() IS HashPartitioning's Murmur3(42)
    def hist(df: DataFrame, keys: Seq[String], p: Int): (Long, Long) = {
      val counts = df
        .groupBy(pmod(hash(keys.map(col): _*), lit(p)).as("pp"))
        .agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1))
      val full = (counts ++ Array.fill(p - counts.length)(0L)).sorted
      (full.last, full(p / 2))
    }

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    val decisions = scala.collection.mutable.ArrayBuffer[String]()
    val shares = scala.collection.mutable.ArrayBuffer[String]()

    for ((cname, dir) <- Seq("uniform" -> baseDir, "hub" -> hubDir)) {
      val lawParts = Graph.loopShufflePartitions(spark,
        spark.read.parquet(s"$dir/lineitem.parquet").count())
      for (p <- (lawParts +: ProxyParts).distinct) {
        CacheLedger.drain(spark); System.gc()
        val loop = Bridge.cloneSession(spark)
        loop.conf.set("spark.sql.adaptive.enabled", "false")
        loop.conf.set("spark.sql.shuffle.partitions", p.toString)
        val tl = Tables(loop, dir)
        val edges = Graph.mirroredTradeEdges(tl.orders, tl.lineitem)
        val nodes = tl.customer.select((col("c_custkey") * 2).as("id"))
          .unionAll(tl.supplier.select((col("s_suppkey") * 2 + 1).as("id")))
        // supplier-updating side — where the planted hub sits
        def joinedOver(labels: DataFrame): DataFrame =
          edges.filter(pmod(col("dst"), lit(2L)) === 1L)
            .join(labels.hint("SHUFFLE_HASH"), edges("src") === labels("id"))
            .select(col("dst"), col("lbl"))
        def measure(state: String, labels: DataFrame): Unit = {
          val joined = Materialize.eager(joinedOver(labels))
          val (m1, d1) = hist(joined, Seq("dst"), p)
          val combined = joined.withColumn("mp", spark_partition_id())
            .groupBy(col("mp"), col("dst"), col("lbl"))
            .agg(count(lit(1)).as("c"))
          val (m2, d2) = hist(combined, Seq("dst", "lbl"), p)
          Materialize.release(joined)
          def row(shape: String, mx: Long, md: Long): String = {
            val ratio = mx.toDouble / math.max(md, 1L)
            System.err.println(f"[lpaskew] $cname%-8s P=$p%-3d $state%-9s " +
              f"$shape%-13s max=$mx%8d median=$md%8d ratio=${fmt(ratio)}%8s")
            s"""{"corpus":"$cname","P":$p,"state":"$state","shape":"$shape",""" +
              s""""max":$mx,"median":$md,"ratio":${fmt(ratio)}}"""
          }
          rows += row("one_exchange", m1, d1)
          rows += row("two_exchange", m2, d2)
        }
        val labels0 = Materialize.eager(
          nodes.select(col("id"), col("id").as("lbl")).repartition(col("id")))
        measure("round0", labels0)
        val labF = Graph.lpaFixpoint(nodes, edges)(Graph.lpaRound)
        measure("converged", labF.select(col("id"), col("lbl")))
        val choose = Graph.lpaChooseSkewSafe(edges)
        decisions += s""""$cname@$p":$choose"""
        if (p == lawParts) {
          val side = edges.filter(pmod(col("dst"), lit(2L)) === 1L)
            .groupBy(col("dst")).agg(count(lit(1)).as("d"))
            .agg(max(col("d")).as("mx"), sum(col("d")).as("tot")).head()
          shares += s""""$cname":${fmt(side.getLong(0).toDouble / side.getLong(1))}"""
        }
        Materialize.release(labels0)
        Materialize.release(labF)
        Materialize.release(edges)
      }
    }

    // full-fixpoint wall A/B per corpus at the law width, fingerprint-
    // checked. Shapes ALTERNATE (a straight per-shape sequence hands
    // the later shape the warmer JIT) after one untimed warmup
    // fixpoint per corpus.
    val shapes = Seq[(String, Graph.LpaRound)](
      "one_exchange" -> (Graph.lpaRound _),
      "two_exchange" -> (Graph.lpaRoundSkewSafe _))
    val walls = scala.collection.mutable.Map[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    var fpsEqual = true
    for ((cname, dir) <- Seq("uniform" -> baseDir, "hub" -> hubDir)) {
      val fps = scala.collection.mutable.Map[String, (Long, Long)]()
      def runShape(shape: String, rd: Graph.LpaRound, timed: Boolean): Unit = {
        CacheLedger.drain(spark); System.gc()
        val t0 = System.nanoTime()
        val t = Tables(spark, dir)
        val parts = Graph.loopShufflePartitions(spark, t.lineitem.count())
        val out = PlanScope.static(spark, parts) { loop =>
          val tl = Tables(loop, dir)
          val nodes = tl.customer.select((col("c_custkey") * 2).as("id"))
            .unionAll(tl.supplier.select((col("s_suppkey") * 2 + 1).as("id")))
          val edges = Graph.mirroredTradeEdges(tl.orders, tl.lineitem)
          try Graph.lpaFixpoint(nodes, edges)(rd)
          finally Materialize.release(edges)
        }
        val fp = out.agg(count(lit(1)), coalesce(
          expr("bit_xor(xxhash64(id, lbl, rounds_used, converged))"), lit(0L))).head()
        Materialize.release(out)
        fps(shape) = (fp.getLong(0), fp.getLong(1))
        if (timed) walls.getOrElseUpdate(s"${cname}_$shape",
          scala.collection.mutable.ArrayBuffer[Double]()) +=
          (System.nanoTime() - t0) / 1e9
      }
      runShape(shapes.head._1, shapes.head._2, timed = false) // warmup
      for (_ <- 1 to 2; (shape, rd) <- shapes) runShape(shape, rd, timed = true)
      shapes.foreach { case (shape, _) =>
        System.err.println(f"[lpaskew] wall $cname%-8s $shape%-13s " +
          walls(s"${cname}_$shape").map(fmt).mkString(" "))
      }
      if (fps("one_exchange") != fps("two_exchange")) {
        fpsEqual = false
        System.err.println(s"[lpaskew] FINGERPRINT MISMATCH on $cname: " +
          s"${fps("one_exchange")} vs ${fps("two_exchange")}")
      }
    }
    val wallsJson = walls.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":[${v.map(fmt).mkString(",")}]""" }

    val line = s"""{"metric":"lpa_skew","sf":"$baseDir",""" +
      s""""rows":[${rows.mkString(",")}],""" +
      s""""hub_share_supplier_side":{${shares.mkString(",")}},""" +
      s""""choose_skew_safe":{${decisions.mkString(",")}},""" +
      s""""fixpoint_wall_s":{${wallsJson.mkString(",")}},""" +
      s""""fingerprints_equal":$fpsEqual,""" +
      s""""box":{"cpus":"$cpus","loadavg":"${loadavg()}"}}"""
    try {
      val out = java.nio.file.Paths.get("evidence/lpa_skew.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[lpaskew] could not write artifact: ${e.getMessage}")
    }
    spark.stop()
    println(line)
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** The planted-hub twin: the SkewBench celebrity rule (l_suppkey = 7
    * on every 10th order's lines → one supplier node with ~10% of all
    * trade edges); every other table symlinked.
    */
  private def buildHubCorpus(spark: SparkSession, baseDir: String,
      hubDir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) { f.delete(); return }
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(hubDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(hubDir))
    AllTables.filterNot(_ == "lineitem").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$hubDir/$t.parquet"),
        java.nio.file.Paths.get(s"$baseDir/$t.parquet").toAbsolutePath)
    }
    spark.read.parquet(s"$baseDir/lineitem.parquet")
      .withColumn("l_suppkey",
        when(col("l_orderkey") % 10 === 0, lit(7L)).otherwise(col("l_suppkey")))
      .write.mode("overwrite").parquet(s"$hubDir/lineitem.parquet")
  }
}
