package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `faulty:` — the local file system, except that once
  * [[FaultyFs.armed]] holds a table name, the first open of that
  * table's file by attempt 0 of a task throws.
  */
class FaultyFs extends NioRawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = FaultyFs.Uri.getScheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val task = TaskContext.get()
    val table = FaultyFs.armed.get
    if (task != null && task.attemptNumber() == 0 && table != null &&
        f.getName.startsWith(table) && FaultyFs.armed.compareAndSet(table, null))
      throw new IOException(s"injected fault: attempt 0 of task ${task.taskAttemptId()} opening $f")
    super.open(f, bufferSize)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")
  /** The table whose next scan fails, or null. */
  val armed = new AtomicReference[String]()
}

/** Task failure: one scan task's first attempt fails, and Spark's
  * retry (`local[4,4]` allows four attempts) must reach the clean rows
  * under both materialization strategies. The session runs on its own
  * context, since retries need the `local[N,F]` master; later suites
  * build theirs anew.
  */
class TaskFailureSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    spark = GraftSession.builder("local[4,4]", 4)
      .config("spark.hadoop.fs.faulty.impl", classOf[FaultyFs].getName)
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  for ((name, table) <- Seq("pagerank" -> "lineitem", "k_core" -> "lineitem",
      "dedup_clusters" -> "documents", "graph_communities" -> "lineitem",
      "bpe_train" -> "documents", "dedup_eval" -> "documents"))
    test(s"$name: a failed scan task is retried to the clean rows under both strategies") {
      val clean = rows(SparkEntry.queries(name)(spark, sf))
      for (strategy <- Seq("localCheckpoint", "checkpoint")) {
        FaultyFs.armed.set(table)
        val got = WithStrategy(spark, strategy)(rows(SparkEntry.queries(name)(spark, s"faulty://$sf")))
        assert(FaultyFs.armed.getAndSet(null) == null, s"$strategy: no $table scan task failed")
        assert(got == clean, s"$strategy: the retried run returned other rows")
      }
    }
}
