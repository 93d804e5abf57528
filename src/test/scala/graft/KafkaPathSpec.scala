package graft

import graft.streaming.HealthMonitor
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Kafka-path coverage, honestly scoped: the spark-sql-kafka
  * connector jar is NOT in /opt/spark/jars and coursier is offline,
  * so a broker end-to-end cannot run here. What IS assertable:
  * (a) the builders carry exactly the reference topology's options
  * (topics, bootstrap, offsets, checkpoint —
  * /root/reference/src/flink_job.py:66-73 and :131-143), and
  * (b) the source builder is wired up to the point where the ONLY
  * failure is the missing connector on the classpath — i.e. the
  * first error a real deployment would NOT hit. The value-only
  * string cast and everything downstream is covered by
  * FileStreamSpec/StreamingSpec over the same `value` contract.
  */
class KafkaPathSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[2]", 2).getOrCreate()

  test("source options match the reference consumer topology") {
    assert(HealthMonitor.kafkaSourceOptions() == Map(
      "kafka.bootstrap.servers" -> "localhost:9092",
      "subscribe" -> "heart_rate_events",
      "startingOffsets" -> "latest"))
    assert(HealthMonitor.kafkaSourceOptions("broker:9093", "t")("subscribe") == "t")
    assert(HealthMonitor.kafkaSourceOptions("broker:9093", "t")("kafka.bootstrap.servers")
      == "broker:9093")
  }

  test("sink options match the reference producer topology") {
    val o = HealthMonitor.kafkaSinkOptions()
    assert(o("topic") == "heart_rate_alerts")
    assert(o("kafka.bootstrap.servers") == "localhost:9092")
    assert(o.contains("checkpointLocation"))
  }

  test("the alert sink runs on Spark's default trigger, not a fixed interval") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val dir = java.nio.file.Files.createTempDirectory("kafka_sink_trigger")
    // the Kafka writer as built, retargeted at a memory table: the
    // trigger is the writer's own, the format is not
    val q = HealthMonitor.kafkaSink(
        HealthMonitor.alertJson(HealthMonitor.alerts(input.toDF().toDF("value"))),
        checkpoint = dir.resolve("checkpoint").toString)
      .format("memory").queryName("kafka_sink_trigger").start()
    try assert(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger == Trigger.ProcessingTime(0L))
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("source builder fails ONLY on the absent connector jar (documented sandbox boundary)") {
    val e = intercept[Throwable] { HealthMonitor.kafkaSource(spark) }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    val msgs = chain(e).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.toLowerCase.contains("kafka"),
      s"expected the missing kafka data-source error, got: $msgs")
    assert(msgs.contains("Failed to find") || msgs.contains("DATA_SOURCE_NOT_FOUND"),
      s"expected a data-source-resolution failure (not a builder bug): $msgs")
  }
}
