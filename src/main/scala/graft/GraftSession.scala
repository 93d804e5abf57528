package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a multi-executor cluster: every knob
  * here (AQE, shuffle partitions, broadcast threshold) is chosen so
  * the same plans scale to a real cluster — nothing relies on
  * single-JVM behavior.
  *
  * The two `fs.*.impl` entries put `file:` paths on [[NioLocalFs]].
  * With no libhadoop on the machine, Hadoop's local file system runs
  * `chmod` for every file and directory it creates and `readlink` on
  * both sides of every `FileContext.rename`, for every offset,
  * commit, state-store delta, checksum and sink file. On a 4-core
  * Linux box, one run of the perfbench `health_stream` workload
  * (seed 1, catch-up plus live phase) started 5,701 child processes
  * without these entries (4,256 `readlink`, 1,422 `chmod`) and 21
  * with them (`rm`, `setsid`, `getconf`; none for file I/O).
  *
  * The `spark.plugins` entry ([[GraftPlugin]]) ships the Hadoop conf
  * without the MapReduce and YARN defaults. Once any code touches
  * `JobConf`, every Hadoop conf also holds the keys of
  * `mapred-default.xml` and `yarn-default.xml`, which no local graft
  * job reads. Each micro-batch serializes the session conf into the
  * text scan's broadcast, both state-store broadcasts and the file
  * sink's job, with one GZIP stream per key, and each file-sink task
  * deserializes it. In perfbench's `health_stream` session the conf
  * has 1,108 keys (113.4 KB serialized) with those defaults and 395
  * (39.3 KB) without. Over three traced runs (seeds 1–3, 4 cores), a
  * file-sink task spent 30.6 ms (p50) deserializing with them and
  * 15.1 ms without: 122.5 vs 60.5 ms per data batch.
  *
  * The plugin also clears the conf's per-key source records, which
  * `Configuration.write` writes through one GZIP stream per key and
  * `readFields` inflates one by one (see [[GraftPlugin]]): only the keys
  * the session sets on each copy still record a source. Over three
  * traced `health_stream` runs (seeds 1–3, 4 cores), the file sink's
  * stage spent 41.5–45 ms (p50) per data batch deserializing its 4
  * tasks with the records and 15–18 ms without, and the driver's time
  * from trigger start to job submit fell from 75.5–89 to 67–73 ms. In a
  * graft session `getPropertySources(k)` therefore returns null for
  * every key that existed when the context started; only diagnostics
  * read it.
  *
  * `spark.cleaner.referenceTracking.cleanCheckpoints` lets the
  * ContextCleaner delete a dead round's reliable checkpoint files
  * ([[Materialize]] under `checkpoint`), which otherwise stay for the
  * life of the app: 12 RDD dirs after one sf0.001 pagerank, 24 after two.
  */
object GraftSession {
  def builder(master: String = "local[*]", cores: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cached intermediates here are always repartition(key)-then-
      // cache by design (pagerank edges, inverted-index tf): keep their output partitioning deterministic so
      // downstream stages consume the cache WITHOUT re-shuffling.
      // With the default (true), AQE plans the cache build and
      // InMemoryTableScan reports unknown partitioning at planning
      // time — every consumer then re-inserts an exchange (measured
      // on inverted_index: 3 redundant term shuffles).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // default 100-entry generated-class cache thrashes across a
      // 30+-query workload → Janino recompiles mid-run
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as epoch-nanos LONG and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read ms/µs parquet timestamps as session-TZ timestamps (UTC) so
      // unix_millis & friends apply directly.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // java.nio instead of a chmod/readlink process per file (above)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // ships the Hadoop conf without the MapReduce/YARN defaults and
      // without per-key source records (above)
      .config("spark.plugins", classOf[GraftPlugin].getName)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
