package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CacheLedger, SparkEntry}
import org.apache.spark.sql.SparkSession

/** One cold pass over a list of registered queries. Each query is
  * `CacheLedger.drain` → build the frame (`SparkEntry.queries(name)`)
  * → write it as parquet, the output the run later checks. The build
  * and the write are timed apart: the driver-loop queries do their
  * work while the frame is built.
  */
object BatchPass {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def run(spark: SparkSession, dir: String, queries: Seq[String], outDir: String,
      tracer: Option[Tracer]): Map[String, Any] = {
    def traced[T](kind: String, name: String)(body: => T): T = Tracer.span(tracer, kind, name)(body)
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passStart = System.nanoTime()
    traced("pass", outDir) {
      queries.foreach { name =>
        // old-generation debt from the previous query is not this one's
        // cost; the collection's own time is reported with the query's
        val gc0 = gcMs()
        System.gc()
        val out = s"$outDir/$name"
        val t0 = System.nanoTime()
        var t1 = t0
        var t2 = t0
        var error: Option[String] = None
        traced("query", name) {
          traced("drain", name)(CacheLedger.drain(spark))
          t1 = System.nanoTime()
          try {
            val df = traced("frame_build", name)(SparkEntry.queries(name)(spark, dir))
            t2 = System.nanoTime()
            traced("action", name)(df.write.mode("overwrite").parquet(out))
          } catch {
            case e: Throwable =>
              if (t2 == t0) t2 = System.nanoTime()
              error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
          }
        }
        val t3 = System.nanoTime()
        rows += Map("name" -> name, "out" -> out, "drain_s" -> secs(t0, t1),
          "build_s" -> secs(t1, t2), "action_s" -> secs(t2, t3), "wall_s" -> secs(t1, t3),
          "gc_s" -> (gcMs() - gc0) / 1e3, "error" -> error.orNull)
      }
    }
    Map("wall_s" -> secs(passStart, System.nanoTime()), "order" -> queries,
      "queries" -> rows.toSeq)
  }
}
