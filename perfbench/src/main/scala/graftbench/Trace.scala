package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a workload, pass, query, phase, job or stage.
  * Counts are the span's own; the reader rolls them up the parents.
  */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(key: String, v: Double): Unit = synchronized {
    counts(key) = counts.getOrElse(key, 0.0) + v
  }
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "counts" -> synchronized(counts.toMap))
}

/** Spans recorded from outside the library: the harness opens and
  * closes the workload/pass/query/phase spans around its calls, and
  * Spark's listeners add the job and stage spans and their counts to
  * whichever span is open. Every boundary drains the listener bus
  * first, so no event lands in the wrong span. Spans stay in memory
  * until the run writes them out.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Span = newSpan(-1, "run", "run")
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stageSpans = new ConcurrentHashMap[(Int, Int), Span]()

  private def newSpan(parent: Int, kind: String, name: String): Span = synchronized {
    val s = new Span(spans.size, parent, kind, name, System.currentTimeMillis())
    spans += s
    s
  }

  def drain(): Unit = BusAccess.waitUntilEmpty(spark.sparkContext)

  /** Runs `body` inside a child span of the open one. */
  def span[T](kind: String, name: String)(body: => T): T = {
    drain()
    val parent = current
    val s = newSpan(parent.id, kind, name)
    current = s
    try body
    finally {
      drain()
      s.endMs = System.currentTimeMillis()
      current = parent
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val s = newSpan(current.id, "job", batch.fold(s"job ${e.jobId}")(b => s"job ${e.jobId} batch $b"))
      jobSpans.put(e.jobId, s)
      e.stageIds.foreach(stageJob.putIfAbsent(_, s))
      current.add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).getOrElse(current)
      val s = newSpan(job.id, "stage", s"stage ${info.stageId}.${info.attemptNumber()}")
      stageSpans.put((info.stageId, info.attemptNumber()), s)
      current.add("stages", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpans.get((info.stageId, info.attemptNumber()))).foreach { s =>
        s.endMs = info.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpans.get((e.stageId, e.stageAttemptId))).getOrElse(current)
      s.add("tasks", 1)
      if (e.reason != org.apache.spark.Success) s.add("tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("executor_run_ms", m.executorRunTime.toDouble)
        s.add("task_cpu_ns", m.executorCpuTime.toDouble)
        s.add("jvm_gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("peak_execution_memory", m.peakExecutionMemory.toDouble)
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) {
          s.add("scan_tasks", 1)
          s.add("input_bytes", in.bytesRead.toDouble)
          s.add("input_rows", in.recordsRead.toDouble)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        current.add("blocks", 1)
        current.add("block_bytes", (info.memSize + info.diskSize).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = Tracer.nodes(qe.executedPlan).toSeq
      val s = current
      s.add("actions", 1)
      s.add("exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeExec]).toDouble)
      s.add("range_exchanges", nodes.count {
        case x: ShuffleExchangeExec => x.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }.toDouble)
      s.add("scans", nodes.count(n =>
        n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      current.add("actions_failed", 1)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def spanMaps: Seq[Map[String, Any]] = synchronized(spans.map(_.toMap).toSeq)
}

object Tracer {
  /** `body` in a span when there is a tracer, else just `body`. */
  def span[T](tracer: Option[Tracer], kind: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(kind, name)(body))

  /** Every node of an executed plan, looking through adaptive
    * wrappers, query stages and command results; a reused exchange
    * counts once, where it was first planned.
    */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other =>
      Iterator.single(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }
}
