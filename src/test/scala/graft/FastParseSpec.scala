package graft

import java.time.OffsetDateTime

import graft.functions.FastEventParse
import graft.functions.HealthFunctions.{parseEvent, parseEventFast}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

object FastParseSpec {
  /** FastEventParse nodes in an optimized plan: 1 means each line is
    * parsed once.
    */
  def fastParses(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case f: FastEventParse => f }.size).sum }.sum
}

/** The fast parser must be indistinguishable from the general path:
  * for every payload, `parseEventFast` ≡ `parseEvent` (the strict
  * fast profile falls back on anything it can't prove).
  */
class FastParseSpec extends AnyFunSuite {
  import FastParseSpec.fastParses

  lazy val spark = GraftSession.builder("local[4]", 4).getOrCreate()

  val payloads: Seq[String] = Seq(
    // the reference's canonical payload (tests/test_flink_logic.py:7)
    """{"patient_id":"p001","timestamp":"2025-11-19T07:15:23.123456+00:00","heart_rate_bpm":85}""",
    """{"patient_id":"p002","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":60}""",
    """{ "patient_id" : "p003" , "timestamp" : "2025-01-01T10:20:30+05:30" , "heart_rate_bpm" : 99 }""",
    // field order permuted + extra field
    """{"heart_rate_bpm":70,"timestamp":"2025-06-01T12:00:00+00:00","patient_id":"p004","extra":"x"}""",
    // invalids: bad json, missing fields, wrong types, non-positive
    "not-json", "", "{}",
    """{"patient_id":"p001"}""",
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":"85"}""",
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85.5}""",
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":0}""",
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":-5}""",
    """{"patient_id":"p1","timestamp":"garbage","heart_rate_bpm":85}""",
    // fast-profile edges — must fall back or reject exactly like
    // Jackson, never be laxer
    """{"patient_id":"p\"1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85}""", // escape → fallback
    """{"patient_id":"p1","timestamp":"2025-01-01 00:00:00","heart_rate_bpm":85}""", // no offset → fallback
    """{"patient_id":{"nested":"p1"},"timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85}""",
    """[1,2,3]""",
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85}trailing""",
    // malformed-JSON cases Jackson rejects that a lax scanner might accept
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85,}""", // trailing comma
    "{\"patient_id\":\"p\n1\",\"timestamp\":\"2025-01-01T00:00:00Z\",\"heart_rate_bpm\":85}", // raw control char
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":085}""", // leading zero
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00:00Z","heart_rate_bpm":85,"x":-}""", // bare minus
    // valid ISO with 9-digit year: OffsetDateTime parses it but
    // epoch-millis overflows Long — must fall back, not crash the task
    """{"patient_id":"p1","timestamp":"+292278995-01-01T00:00:00Z","heart_rate_bpm":85}""",
    // java.time is case-insensitive and lets the seconds go; the
    // general path rejects both
    """{"patient_id":"p1","timestamp":"2025-01-01T00:00Z","heart_rate_bpm":85}""",
    """{"patient_id":"p1","timestamp":"2025-01-01t00:00:00Z","heart_rate_bpm":85}""")

  /** Payloads where `parseEventFast` and `parseEvent` disagree, with
    * both results.
    */
  private def mismatches(payloads: Seq[String]): Seq[String] = {
    import spark.implicits._
    // the exchange keeps the optimizer from evaluating the projection
    // over the local rows itself: the parse runs in generated code
    payloads.toDF("raw").repartition(2)
      .select(col("raw"), parseEvent(col("raw")).as("slow"), parseEventFast(col("raw")).as("fast"))
      .collect().toSeq.flatMap { r =>
        val slow = if (r.isNullAt(1)) null else r.getStruct(1).toSeq
        val fast = if (r.isNullAt(2)) null else r.getStruct(2).toSeq
        if (fast == slow) None else Some(s"fast=$fast slow=$slow for payload: ${r.getString(0)}")
      }
  }

  test("parseEventFast ≡ parseEvent on every payload class") {
    val bad = mismatches(payloads)
    assert(bad.isEmpty, bad.mkString("\n"))
    // sanity: the canonical payload produced the reference's values
    import spark.implicits._
    val canon = Seq(payloads.head).toDF("raw").select(parseEventFast(col("raw"))).head().getStruct(0)
    assert(canon.getAs[String]("patient_id") == "p001")
    assert(canon.getAs[Long]("event_time") == 1763536523123L)
  }

  // ---- property test: three generated payload groups -------------

  private def pad(v: Int, width: Int): String = s"%0${width}d".format(v)

  private def isLeap(y: Int) = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def monthDays(y: Int, m: Int) = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  private val yearGen: Gen[Int] =
    Gen.frequency(6 -> Gen.choose(0, 9999), 1 -> Gen.oneOf(0, 1, 1600, 1900, 1969, 1970, 2000, 9999))

  /** A real calendar day, leap days over-represented. */
  private val dateGen: Gen[String] = Gen.frequency(
    4 -> (for {
      y <- yearGen; m <- Gen.choose(1, 12); d <- Gen.choose(1, monthDays(y, m))
    } yield s"${pad(y, 4)}-${pad(m, 2)}-${pad(d, 2)}"),
    1 -> Gen.oneOf(0, 4, 400, 1600, 1972, 2000, 2024, 9996).map(y => s"${pad(y, 4)}-02-29"))

  private val fractionGen: Gen[String] = Gen.frequency(
    2 -> Gen.const(""),
    3 -> Gen.choose(1, 9).flatMap(n => Gen.listOfN(n, Gen.numChar)).map("." + _.mkString))

  private val offsetGen: Gen[String] = Gen.frequency(
    2 -> Gen.const("Z"),
    1 -> Gen.oneOf("+18:00", "-18:00", "-00:00", "+00:00", "+05:30", "-09:30"),
    4 -> (for {
      sign <- Gen.oneOf("+", "-"); h <- Gen.choose(0, 17); m <- Gen.choose(0, 59)
    } yield s"$sign${pad(h, 2)}:${pad(m, 2)}"))

  private val canonicalTsGen: Gen[String] = for {
    date <- dateGen
    h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
    frac <- fractionGen; off <- offsetGen
  } yield s"${date}T${pad(h, 2)}:${pad(mi, 2)}:${pad(s, 2)}$frac$off"

  /** A canonical timestamp broken in one way the general parser or
    * java.time might still forgive.
    */
  private val nearMissTsGen: Gen[String] = canonicalTsGen.flatMap { ts =>
    val date = ts.take(10)
    val time = ts.slice(11, 19)
    val zone = ts.drop(19).dropWhile(c => c == '.' || c.isDigit)
    Gen.oneOf(
      Gen.oneOf("2023-02-29", "1900-02-29", "2100-02-29", "2024-02-30", "2024-04-31",
        "2024-13-01", "2024-00-10", "2024-01-00", "2024-01-32").map(d => s"${d}T$time$zone"),
      Gen.const(s"${date}T24:00:00$zone"),
      Gen.const(s"${date}T${time.take(3)}60:00$zone"),
      Gen.const(s"${date}T${time.take(6)}60$zone"),
      Gen.const(s"${date}T${time.take(5)}$zone"), // missing seconds
      Gen.const(s"${date}t$time$zone"),
      Gen.const(s"${date}T${time}z"),
      Gen.const(s"$date $time$zone"),
      Gen.oneOf("+0530", "-0000", "+1800").map(o => s"${date}T$time$o"),
      Gen.oneOf("+05", "-09", "+00").map(o => s"${date}T$time$o"),
      Gen.oneOf("+18:01", "-19:00", "+05:60", "+5:30").map(o => s"${date}T$time$o"),
      Gen.const(s"${date}T$time.$zone"), // dot, no digits
      Gen.const(s"${date}T$time.1234567891$zone"), // ten digits
      Gen.const(s"1$date${ts.drop(10)}"), // 5-digit year
      Gen.const(s"+$date${ts.drop(10)}"),
      Gen.const(s"${date}T$time")) // no zone
  }

  private def event(ts: String, patient: String = "p42", rate: String = "85"): String =
    s"""{"patient_id":"$patient","timestamp":"$ts","heart_rate_bpm":$rate}"""

  private val wsGen: Gen[String] = Gen.oneOf("", "", " ", "  ", "\t", "\n", "\r\n ")

  /** Canonical events rewritten as JSON: permuted keys, whitespace,
    * escapes, extra and repeated fields, odd values.
    */
  private val jsonVariantGen: Gen[String] = for {
    ts <- Gen.frequency(4 -> canonicalTsGen, 1 -> nearMissTsGen)
    patient <- Gen.oneOf("\"p7\"", "\"p\\\"7\"", "\"\\u0070\"", "\"p\\/7\"", "\"\"", "\"pé\"",
      "7", "null", "{\"id\":\"p7\"}")
    rate <- Gen.oneOf("85", "1", "185", "0", "-0", "-5", "85.0", "8.5e1", "\"85\"", "085",
      "9223372036854775807", "99999999999999999999", "true", "null")
    extras <- Gen.someOf(Seq("\"extra\"" -> "\"x\"", "\"n\"" -> "-12", "\"f\"" -> "1.5",
      "\"obj\"" -> "{\"a\":1}", "\"arr\"" -> "[1,2]", "\"b\"" -> "false",
      "\"patient_id\"" -> "\"p8\"", "\"heart_rate_bpm\"" -> "90",
      "\"heart\\u005frate_bpm\"" -> "90"))
    keyed = Seq("\"patient_id\"" -> patient, "\"timestamp\"" -> s"\"$ts\"",
      "\"heart_rate_bpm\"" -> rate) ++ extras
    dropped <- Gen.frequency(8 -> Gen.const(-1), 1 -> Gen.choose(0, 2))
    fields <- Gen.long.map(order => new scala.util.Random(order).shuffle(keyed))
    ws <- Gen.listOfN(4 * fields.size + 2, wsGen)
  } yield {
    val kept = fields.filterNot(f => dropped >= 0 && f == keyed(dropped))
    val w = ws.iterator
    kept.map { case (k, v) => s"${w.next()}$k${w.next()}:${w.next()}$v${w.next()}" }
      .mkString("{", ",", s"}${ws.last}")
  }

  private def kernelMillis(ts: String): Long = {
    val b = ts.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    FastEventParse.epochMillis(b, 0, b.length)
  }

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  test("property: parseEventFast ≡ parseEvent on canonical, near-miss and JSON-variant payloads") {
    val canonical = sample(canonicalTsGen, 1500, 1L)
    val nearMiss = sample(nearMissTsGen, 800, 2L)
    val variants = sample(jsonVariantGen, 1500, 3L)
    // the groups exercise what they claim: every canonical timestamp
    // takes the fast path, every near miss falls back
    val fastPath = canonical.filter(ts => FastEventParse.parse(UTF8String.fromString(event(ts))) != null)
    assert(fastPath.size == canonical.size, canonical.diff(fastPath).take(5))
    val accepted = nearMiss.filter(ts => kernelMillis(ts) != FastEventParse.NoMatch)
    assert(accepted.isEmpty, accepted.take(5))

    val bad = mismatches(canonical.map(event(_)) ++ nearMiss.map(event(_)) ++ variants)
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g.\n${bad.take(10).mkString("\n")}")
  }

  test("property: the timestamp kernel equals java.time on canonical shapes") {
    for (ts <- sample(canonicalTsGen, 5000, 4L))
      assert(kernelMillis(ts) == OffsetDateTime.parse(ts).toInstant.toEpochMilli, ts)
  }

  test("FastEventParse generates code: not a CodegenFallback, generated projection ≡ kernel") {
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[FastEventParse]))
    // compiled directly: a compile error throws here instead of
    // falling back to interpretation as a query would
    val proj = GenerateUnsafeProjection.generate(
      Seq(FastEventParse(BoundReference(0, StringType, nullable = true))))
    val inputs = payloads.map(UTF8String.fromString) :+ null
    assert(inputs.count(in => in != null && FastEventParse.parse(in) != null) >= 4)
    for (in <- inputs) {
      val got = proj(InternalRow(in))
      val want = if (in == null) null else FastEventParse.parse(in)
      if (want == null) assert(got.isNullAt(0), s"$in")
      else {
        val g = got.getStruct(0, 3)
        assert((g.getUTF8String(0), g.getLong(1), g.getLong(2)) ==
          (want.getUTF8String(0), want.getLong(1), want.getLong(2)), s"$in")
      }
    }
  }

  test("hr_parse parses each payload once: one FastEventParse, one payload build") {
    val ev = spark.range(100).select(col("id").as("event_id"), (col("id") % 7).as("user_id"),
      (col("id") + 40).cast("double").as("value"), timestamp_seconds(col("id") + 1735689600L).as("ts"))
    val plan = operators.Health.hrParseOn(ev).queryExecution.optimizedPlan
    assert(fastParses(plan) == 1, plan.treeString)
    // to_json, as the optimizer leaves it
    def toJsons(p: LogicalPlan) = p.collect { case n => n.expressions.map(_.collect {
      case i: Invoke if (i.targetObject match {
        case Literal(_: StructsToJsonEvaluator, _) => true
        case _ => false
      }) => i
    }.size).sum }.sum
    val perPayload =
      toJsons(ev.select(operators.Health.rawPayload(("user_id", "ts", "value"))).queryExecution.optimizedPlan)
    assert(perPayload > 0)
    assert(toJsons(plan) == perPayload, plan.treeString)
  }
}
