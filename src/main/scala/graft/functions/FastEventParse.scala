package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Specialized parser for the flat heart-rate event payload
  * (`{"patient_id": str, "timestamp": iso8601+offset,
  * "heart_rate_bpm": int}`) — the reference's one hot message shape.
  *
  * Jackson-based from_json costs ~12 µs/row on this path; a flat
  * object needs none of that machinery. The expression generates code
  * (a direct call to [[FastEventParse.parse]] on the UTF-8 bytes in
  * place of the interpreted `eval`), and the timestamp kernel is a
  * hand-written scan of exactly one shape,
  * `yyyy-MM-ddTHH:mm:ss[.f{1,9}](Z|±HH:MM)` — no `java.time` call on
  * the hot path.
  *
  * The parser is STRICT: any input outside its fast profile (escapes,
  * non-ASCII bytes, nested values, duplicate event keys, non-integer
  * rate, any other timestamp shape such as a missing seconds field, a
  * lowercase `t`/`z` or a `+HHMM` offset) returns NULL rather than
  * guessing, so `coalesce(fast, parseEvent(raw))` preserves the
  * general semantics exactly while taking the fast path for ~100% of
  * real traffic.
  */
case class FastEventParse(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("patient_id", StringType),
    StructField("heart_rate_bpm", LongType),
    StructField("event_time", LongType)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    FastEventParse.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val parser = FastEventParse.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, raw =>
      s"""${ev.value} = $parser.parse($raw);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): FastEventParse = copy(child = c)
}

object FastEventParse {
  def fastParseEvent(raw: Column): Column =
    Bridge.column(FastEventParse(Bridge.expression(raw)))

  private val PatientKey = "patient_id".getBytes(US_ASCII)
  private val TimestampKey = "timestamp".getBytes(US_ASCII)
  private val RateKey = "heart_rate_bpm".getBytes(US_ASCII)

  /** Null unless the payload matches the strict fast profile and all
    * three fields validate (mirrors parseEvent's checks incl.
    * heart_rate_bpm > 0).
    */
  def parse(raw: UTF8String): InternalRow = {
    val b = raw.getBytes
    val n = b.length
    var i = skipWs(b, 0)
    if (i >= n || b(i) != '{') return null
    i += 1
    var patientFrom, patientTo, tsFrom, tsTo = -1
    var rate = Long.MinValue
    var done = false
    var afterComma = false // strict JSON: ",}" is malformed
    while (!done) {
      i = skipWs(b, i)
      if (i < n && b(i) == '}') {
        if (afterComma) return null // trailing comma — Jackson rejects
        i += 1; done = true
      }
      else {
        // key
        if (i >= n || b(i) != '"') return null
        val keyEnd = scanString(b, i + 1)
        if (keyEnd < 0) return null
        val isPatient = isKey(b, i + 1, keyEnd, PatientKey)
        val isTs = isKey(b, i + 1, keyEnd, TimestampKey)
        val isRate = isKey(b, i + 1, keyEnd, RateKey)
        // a repeated event key: leave last-one-wins to the general parser
        if ((isPatient && patientFrom >= 0) || (isTs && tsFrom >= 0) ||
            (isRate && rate != Long.MinValue)) return null
        i = skipWs(b, keyEnd + 1)
        if (i >= n || b(i) != ':') return null
        i = skipWs(b, i + 1)
        if (i >= n) return null
        // value: string or integer only (fast profile)
        if (b(i) == '"') {
          val vEnd = scanString(b, i + 1)
          if (vEnd < 0) return null
          if (isPatient) { patientFrom = i + 1; patientTo = vEnd }
          else if (isTs) { tsFrom = i + 1; tsTo = vEnd }
          else if (isRate) return null // wrong type
          i = vEnd + 1
        } else {
          val negative = b(i) == '-'
          if (negative) i += 1
          val digitsFrom = i
          while (i < n && isDigit(b(i))) i += 1
          if (i == digitsFrom || (i < n && (b(i) == '.' || b(i) == 'e' || b(i) == 'E')))
            return null // not a plain integer
          // leading zeros (085) are malformed JSON — Jackson rejects
          if (i - digitsFrom > 1 && b(digitsFrom) == '0') return null
          if (isRate) {
            // ≤ 18 digits cannot overflow a Long; a non-positive or
            // longer rate is the general parser's call
            if (negative || i - digitsFrom > 18) return null
            rate = 0L
            var j = digitsFrom
            while (j < i) { rate = rate * 10 + (b(j) - '0'); j += 1 }
          } else if (isPatient || isTs) return null
        }
        i = skipWs(b, i)
        if (i < n && b(i) == ',') { i += 1; afterComma = true }
        else if (i < n && b(i) == '}') { i += 1; done = true }
        else return null
      }
    }
    if (skipWs(b, i) != n) return null
    if (patientFrom < 0 || tsFrom < 0 || rate <= 0) return null
    val eventTime = epochMillis(b, tsFrom, tsTo)
    if (eventTime == NoMatch) return null
    InternalRow(UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, patientFrom, patientTo)),
      rate, eventTime)
  }

  /** [[epochMillis]]'s "not the canonical shape" result. */
  private[graft] val NoMatch = Long.MinValue

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  private def skipWs(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
    i
  }

  /** End index of a string value with NO escapes, no raw control
    * characters and no non-ASCII bytes (any of them ⇒ -1 ⇒ fall
    * back: escapes need real unescaping, Jackson rejects unescaped
    * control chars, and UTF-8 validation is the general parser's job).
    * Bytes are signed, so every byte ≥ 0x80 is `< ' '`.
    */
  private def scanString(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) {
      val c = b(i)
      if (c == '\\' || c < ' ') return -1
      if (c == '"') return i
      i += 1
    }
    -1
  }

  private def isKey(b: Array[Byte], from: Int, to: Int, key: Array[Byte]): Boolean =
    to - from == key.length && java.util.Arrays.equals(b, from, to, key, 0, key.length)

  /** Value of the `len` decimal digits at `b(from)`, or -1 if any of
    * them is not a digit.
    */
  private def digits(b: Array[Byte], from: Int, len: Int): Int = {
    var v = 0
    var i = from
    while (i < from + len) {
      if (!isDigit(b(i))) return -1
      v = v * 10 + (b(i) - '0')
      i += 1
    }
    v
  }

  private def isLeap(year: Int): Boolean = (year % 4 == 0 && year % 100 != 0) || year % 400 == 0

  private def monthDays(year: Int, month: Int): Int = month match {
    case 2 => if (isLeap(year)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days from 1970-01-01 to a valid proleptic-Gregorian date with
    * year ≥ 0 (the civil-calendar day count `LocalDate.toEpochDay`
    * computes).
    */
  private def epochDay(year: Int, month: Int, day: Int): Long = {
    val y = year.toLong
    var days = 365 * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
    days += (367 * month - 362) / 12 + day - 1
    if (month > 2) days -= (if (isLeap(year)) 1 else 2)
    days - 719528 // days from 0000-01-01 to 1970-01-01
  }

  /** Epoch millis (the floor of the nanos) of `b[from, to)` when it is
    * exactly `yyyy-MM-ddTHH:mm:ss[.f{1,9}](Z|±HH:MM)` with every field
    * in range (real calendar day, hour ≤ 23, second ≤ 59, offset
    * within ±18:00); [[NoMatch]] for anything else.
    */
  private[graft] def epochMillis(b: Array[Byte], from: Int, to: Int): Long = {
    if (to - from < 20 || b(from + 4) != '-' || b(from + 7) != '-' || b(from + 10) != 'T' ||
        b(from + 13) != ':' || b(from + 16) != ':') return NoMatch
    val year = digits(b, from, 4)
    val month = digits(b, from + 5, 2)
    val day = digits(b, from + 8, 2)
    val hour = digits(b, from + 11, 2)
    val minute = digits(b, from + 14, 2)
    val second = digits(b, from + 17, 2)
    if (year < 0 || month < 1 || month > 12 || day < 1 || day > monthDays(year, month) ||
        hour < 0 || hour > 23 || minute < 0 || minute > 59 || second < 0 || second > 59)
      return NoMatch
    var i = from + 19
    var nanos = 0L
    if (b(i) == '.') {
      i += 1
      val fracFrom = i
      while (i < to && i - fracFrom < 9 && isDigit(b(i))) { nanos = nanos * 10 + (b(i) - '0'); i += 1 }
      if (i == fracFrom) return NoMatch
      var pad = 9 - (i - fracFrom)
      while (pad > 0) { nanos *= 10; pad -= 1 }
    }
    var offsetSeconds = 0
    if (i == to - 1 && b(i) == 'Z') ()
    else if (i == to - 6 && (b(i) == '+' || b(i) == '-') && b(i + 3) == ':') {
      val oh = digits(b, i + 1, 2)
      val om = digits(b, i + 4, 2)
      if (oh < 0 || om < 0 || om > 59 || oh * 60 + om > 18 * 60) return NoMatch
      offsetSeconds = (oh * 60 + om) * 60
      if (b(i) == '-') offsetSeconds = -offsetSeconds
    }
    else return NoMatch
    val seconds = epochDay(year, month, day) * 86400 + hour * 3600 + minute * 60 + second -
      offsetSeconds
    seconds * 1000 + nanos / 1000000
  }
}
