package graft

import graft.sources.HealthDataGenerator
import graft.streaming.HealthMonitor
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, RangeExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Producer-side semantics, mirroring the reference's payload tests
  * (tests/test_kafka_payload.py) plus an end-to-end generator →
  * pipeline run, and the generator's row model and layout: one range
  * partition per patient, every value a function of the row alone.
  */
class GeneratorSpec extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  test("generated events have the reference's fields and plausible ranges") {
    // mirrors tests/test_kafka_payload.py:7-25
    val ev = HealthDataGenerator.events(spark, nPatients = 5, perPatient = 100).collect()
    assert(ev.length == 500)
    assert(ev.forall(_.getAs[String]("patient_id").matches("p\\d{3}")))
    val rates = ev.map(_.getAs[Long]("heart_rate_bpm"))
    // reference's range check (test_kafka_payload.py:24-25) is 30..200
    // for the baseline-only producer; ours injects bradycardia lows
    // (the extension kafka_producer.py:14-16 suggests), so the floor
    // is lower but still physiological
    assert(rates.min > 10 && rates.max < 200)
    // both abnormal regimes are represented
    assert(rates.exists(_ > 100) && rates.exists(_ < 50))
  }

  test("payloads parse back through parse_event losslessly") {
    import spark.implicits._
    val n = 300
    val parsed = HealthDataGenerator.payloads(spark, perPatient = n / 5 + 1)
      .limit(n)
      .select(graft.functions.HealthFunctions.parseEvent(col("value")).as("e"))
    assert(parsed.filter(col("e").isNull).count() == 0)
    assert(parsed.filter(col("e.heart_rate_bpm") <= 0).count() == 0)
  }

  test("generator → full monitoring pipeline produces windows and alerts of every type") {
    val alerts = HealthMonitor.alerts(
      HealthDataGenerator.payloads(spark, nPatients = 5, perPatient = 2000))
    // batch-mode run of the same streaming transformation
    val out = alerts.groupBy(col("alert_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("normal", "tachycardia", "bradycardia"),
      s"expected all three alert types, got $out")
    assert(out("normal") > out("tachycardia"))
  }

  private val start = HealthDataGenerator.DefaultStartMs

  /** (p, k) of a row, read back from patient_id and event_time_ms. */
  private def pk(r: Row): (Long, Long) = {
    val p = r.getAs[String]("patient_id").drop(1).toLong
    val off = r.getAs[Long]("event_time_ms") - start - 7 * p
    assert(off % 10000 == 0, s"event_time_ms off the 10 s grid: $r")
    (p, off / 10000)
  }

  test("events plan as Range + Project in one codegen stage") {
    val plan = HealthDataGenerator.events(spark, nPatients = 3, perPatient = 10)
      .queryExecution.executedPlan
    val stage = plan match {
      case s: WholeStageCodegenExec => s.child
      case other => fail(s"expected one codegen stage, got\n$other")
    }
    assert(stage.isInstanceOf[ProjectExec] && stage.children.head.isInstanceOf[RangeExec],
      s"expected Project <- Range, got\n$plan")
  }

  test("events(nPatients = 4) has 4 partitions, each holding exactly one patient") {
    val df = HealthDataGenerator.events(spark, nPatients = 4, perPatient = 50)
    assert(df.rdd.getNumPartitions == 4)
    val perPart = df.select("patient_id").rdd
      .mapPartitions(it => Iterator(it.map(_.getString(0)).toSet)).collect()
    assert(perPart.toSeq == Seq(Set("p001"), Set("p002"), Set("p003"), Set("p004")))
  }

  test("every row has event_time_ms = startTs + k*10000 + p*7, k covering the horizon") {
    val ev = HealthDataGenerator.events(spark, nPatients = 5, perPatient = 300).collect()
    val ks = ev.map(pk).groupMap(_._1)(_._2)
    assert(ks.keySet == (1L to 5L).toSet)
    assert(ks.values.forall(_.sorted.toSeq == (0L until 300L)))
  }

  test("every rate minus its baseline and episode bump is noise in [-10, 15]") {
    val ev = HealthDataGenerator.events(spark, nPatients = 5, perPatient = 2000).collect()
    val noise = ev.map { r =>
      val (p, k) = pk(r)
      val run = k / 5
      val bump = if (run % 50 == 0) 45L else if (run % 83 == 1) -35L else 0L
      r.getAs[Long]("heart_rate_bpm") - (65 + p * 31 % 16) - bump
    }
    assert(noise.min >= -10 && noise.max <= 15, s"noise ${noise.min}..${noise.max}")
    // the whole noise range is in use, not a constant offset
    assert(noise.toSet.size == 26)
  }

  test("a local[1] and a local[4] collect give the same rows") {
    // the shared session is stopped for a context of each width; later
    // suites build theirs anew
    def rowsOn(master: String, cores: Int): Seq[Row] = {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      val s = GraftSession.builder(master, cores).getOrCreate()
      try HealthDataGenerator.events(s, nPatients = 5, perPatient = 400).collect().toSeq
      finally s.stop()
    }
    val one = rowsOn("local[1]", 1)
    assert(one.length == 2000)
    assert(one == rowsOn("local[4]", 4))
  }
}
