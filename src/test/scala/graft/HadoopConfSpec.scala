package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.streaming._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.DefaultCodec
import org.apache.hadoop.mapreduce.{JobContext, JobID}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat, SequenceFileOutputFormat}
import org.apache.hadoop.mapreduce.task.JobContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The Hadoop conf a graft session ships with every broadcast and
  * file-sink task ([[GraftPlugin]]): no key that only the MapReduce or
  * YARN defaults define, every other key unchanged, and no source
  * record for a key that existed when the context started, on every
  * context.
  */
class HadoopConfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private def ev(patient: String, ts: String, hr: Int): String =
    s"""{"patient_id":"$patient","timestamp":"$ts","heart_rate_bpm":$hr}"""

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-lean-conf")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def bytes(conf: Configuration): Int = {
    val out = new ByteArrayOutputStream()
    conf.write(new DataOutputStream(out))
    out.size()
  }

  /** The same conf untrimmed: every default resource re-read under its program-set keys. */
  private def untrimmed(conf: Configuration): Configuration = {
    val full = new Configuration(conf)
    full.reloadConfiguration()
    full
  }

  private def keys(conf: Configuration): Set[String] = conf.iterator().asScala.map(_.getKey).toSet

  /** Keys only `mapred-default.xml` or `yarn-default.xml` define in a
    * freshly loaded conf, less those `conf` sets to a value of its own
    * (Spark sets the committer's algorithm version). The trimmed conf
    * keeps no source records, so they come from the fresh conf.
    */
  private def defaultOnly(conf: Configuration): Set[String] = {
    val fresh = new Configuration()
    GraftPlugin.defaultOnlyKeys(fresh).filter(k => Option(conf.getRaw(k)).forall(_ == fresh.getRaw(k))).toSet
  }

  private def assertTrimmed(conf: Configuration): Unit = {
    val left = defaultOnly(conf).filter(conf.getRaw(_) != null)
    if (left.nonEmpty) fail(s"${left.size} mapred-/yarn-default keys, e.g. ${left.take(3).mkString(", ")}")
  }

  /** Keys of `conf` that still record a source. None may name a
    * default resource: only keys set after the context started keep a
    * record, and `setLater` must hold them all.
    */
  private def sourced(conf: Configuration, setLater: Set[String]): Set[String] = {
    val fresh = new Configuration()
    val resources = keys(fresh).flatMap(k => Option(fresh.getPropertySources(k)).toSeq.flatten)
    assert(Set("core-default.xml", "mapred-default.xml", "yarn-default.xml").subsetOf(resources))
    val recorded = keys(conf).filter(conf.getPropertySources(_) != null)
    val fromResources = recorded.filter(k => conf.getPropertySources(k).exists(resources))
    if (fromResources.nonEmpty) fail(s"${fromResources.size} keys record a default resource, e.g. " +
      fromResources.take(3).map(k => s"$k ${conf.getPropertySources(k).mkString("[", ", ", "]")}").mkString(", "))
    assert(recorded.subsetOf(setLater), s"set before the context started: ${(recorded -- setLater).take(3)}")
    recorded
  }

  /** The keys set after the context started: on the context's conf by
    * the first session's shared state, and on each copy by the session.
    */
  private def sessionKeys(session: SparkSession): Set[String] =
    session.sessionState.conf.getAllConfs.keySet ++
      sourced(session.sparkContext.hadoopConfiguration, Set("hive.metastore.warehouse.dir"))

  test("after a checkpointed stream, a parquet write and HdfsConfiguration, the shipped conf has no mapred-/yarn-default key") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    withDir { dir =>
      val input = MemoryStream[String]
      val q = HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value")))
        .writeStream.format("text")
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .outputMode("append")
        .start(dir.resolve("sink").toString)
      try {
        for (m <- 0 until 3) {
          input.addData(ev("p1", f"2025-01-01T00:$m%02d:10+00:00", 120 + m))
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
      } finally q.stop()
      assert(spark.read.text(dir.resolve("sink").toString).count() == 2)
      spark.range(100).write.parquet(dir.resolve("pq").toString)
      assert(spark.read.parquet(dir.resolve("pq").toString).count() == 100)
    }
    org.apache.hadoop.hdfs.HdfsConfiguration.init()

    // the JVM has loaded both resources: a conf built now carries them
    assert(GraftPlugin.defaultOnlyKeys(new Configuration()).size > 700)
    val shipped = spark.sessionState.newHadoopConf()
    assertTrimmed(shipped)
    assertTrimmed(spark.sparkContext.hadoopConfiguration)
    val recorded = sourced(shipped, sessionKeys(spark))
    assert(recorded.size <= 30 && 10 * recorded.size < shipped.size, s"${recorded.size} of ${shipped.size} keys record a source")
    val (size, full) = (bytes(shipped), untrimmed(shipped))
    info(s"shipped conf: ${shipped.size} keys, ${recorded.size} with a source, $size bytes; " +
      s"untrimmed: ${full.size} keys, ${bytes(full)} bytes")
    assert(size <= 26 * 1024, s"shipped conf is $size bytes")
    assert(bytes(full) > 4 * size)
  }

  test("the trim drops only mapred-/yarn-default keys: every other key, committer read and _SUCCESS unchanged") {
    val trimmed = spark.sessionState.newHadoopConf()
    val full = untrimmed(trimmed)
    val dropped = defaultOnly(full)
    assert(dropped.size > 700)
    assert(keys(trimmed) == keys(full) -- dropped, s"${keys(full).size - keys(trimmed).size} keys dropped, ${dropped.size} expected")
    for (k <- keys(trimmed)) assert(trimmed.getRaw(k) == full.getRaw(k), k)

    val core = new Configuration(false)
    core.addResource("core-default.xml")
    assert(keys(core).size > 300)
    for (k <- keys(core)) assert(trimmed.getRaw(k) != null && trimmed.getRaw(k) == full.getRaw(k), k)
    val sparkHadoop = spark.sparkContext.getConf.getAllWithPrefix("spark.hadoop.").toMap
    assert(sparkHadoop("fs.file.impl") == classOf[NioLocalFileSystem].getName)
    assert(sparkHadoop("fs.AbstractFileSystem.file.impl") == classOf[NioLocalFs].getName)
    for ((k, v) <- sparkHadoop) assert(trimmed.get(k) == v, k)
    // yarn.sharedcache.checksum.algo.impl is YARN's shared cache, not a file system's
    val fsKeys = keys(full).filter(k => k.startsWith("fs.") || (k.contains("checksum") && !k.startsWith("yarn.")))
    assert(fsKeys.size > 100 && (fsKeys & dropped).isEmpty)

    // what the file committer and output format read is unchanged: a
    // dropped key's in-code default equals its mapred-default.xml value
    val mapred = new Configuration(false)
    mapred.addResource("mapred-default.xml")
    def ctx(c: Configuration): JobContext = new JobContextImpl(c, new JobID())
    import FileOutputCommitter._
    val reads: Map[String, JobContext => Any] = Map(
      FILEOUTPUTCOMMITTER_ALGORITHM_VERSION -> (c => c.getConfiguration.getInt(
        FILEOUTPUTCOMMITTER_ALGORITHM_VERSION, FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT)),
      FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED -> (c => c.getConfiguration.getBoolean(
        FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED, FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED_DEFAULT)),
      FileOutputFormat.COMPRESS -> (c => FileOutputFormat.getCompressOutput(c)),
      FileOutputFormat.COMPRESS_TYPE -> (c => SequenceFileOutputFormat.getOutputCompressionType(c)),
      // the codec's default is the caller's (SequenceFileOutputFormat's
      // here); Spark's writers read it only when compress is true
      FileOutputFormat.COMPRESS_CODEC -> (c => FileOutputFormat.getOutputCompressorClass(c, classOf[DefaultCodec])))
    val committerKeys = keys(mapred).filter(k =>
      k.startsWith("mapreduce.fileoutputcommitter.") || k.startsWith("mapreduce.output.fileoutputformat."))
    assert(committerKeys == reads.keySet)
    for ((k, read) <- reads) {
      assert(read(ctx(trimmed)) == read(ctx(full)), k)
      if (trimmed.getRaw(k) == null) assert(read(ctx(trimmed)) == read(ctx(mapred)), k)
    }
    assert(reads.keys.count(trimmed.getRaw(_) == null) == reads.size - 1)
    // Spark sets the algorithm version itself (1); Hadoop's in-code
    // default and mapred-default.xml agree on 2 underneath
    assert(reads(FILEOUTPUTCOMMITTER_ALGORITHM_VERSION)(ctx(trimmed)) == 1)
    assert(FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT == 2 &&
      mapred.getInt(FILEOUTPUTCOMMITTER_ALGORITHM_VERSION, 0) == 2)

    withDir { dir =>
      spark.range(10).write.parquet(dir.resolve("pq").toString)
      assert(Files.exists(dir.resolve("pq").resolve(SUCCEEDED_FILE_NAME)))
    }
  }

  test("a restarted session and getOrCreate over a running context both ship the trimmed conf") {
    val first = spark.sparkContext
    spark.stop()
    val restarted = GraftSession.builder("local[2]", 2).getOrCreate()
    assert(restarted.sparkContext ne first)
    assertTrimmed(restarted.sparkContext.hadoopConfiguration)
    assertTrimmed(restarted.sessionState.newHadoopConf())
    sourced(restarted.sessionState.newHadoopConf(), sessionKeys(restarted))

    // a new session over the running context builds its shared state anew
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val again = GraftSession.builder("local[2]", 2).getOrCreate()
    assert((again ne restarted) && (again.sparkContext eq restarted.sparkContext))
    assertTrimmed(again.sessionState.newHadoopConf())
    sourced(again.sessionState.newHadoopConf(), sessionKeys(again))
    assert(again.range(10).count() == 10)
  }
}
