package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EnvelopeSchema

/** `envelope_json(envelope_struct)` — the canonical byte-exact JSON
  * serialization of an Envelope (operator O8).
  *
  * Reproduces the reference's easyjson output contract
  * (encoder.go:15-18; events_easyjson.go:1061-1245) byte for byte:
  *
  *  - fields emitted only if non-null (maps/arrays/bytes: non-empty),
  *    in fixed proto field order;
  *  - enums as integers; `LogMessage.message` as std base64 w/ padding;
  *  - mixed naming: camelCase except LogMessage's snake_case;
  *  - uint64 fields (delta/total, UUID.low/high, *Bytes*) printed
  *    unsigned;
  *  - floats in Go `strconv.FormatFloat(f,'g',-1,64)` form (shortest
  *    round-trip digits, e-notation iff exp < -4 or >= 21);
  *  - easyjson string escaping: `"` `\` ctrl chars, HTML `<` `>` `&`
  *    as `\u00XX`, U+2028/U+2029 escaped, broken UTF-8 → `�`.
  *
  * Codegen-able: the generated code makes one static call per row into
  * [[EnvelopeJsonWriter.encode]], which addresses the struct by field
  * index against [[EnvelopeSchema.schema]] — no per-row schema
  * interpretation, no reflection, stays inside whole-stage codegen.
  */
case class EnvelopeJson(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if EnvelopeSchema.compatible(s, EnvelopeSchema.schema) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"envelope_json requires the canonical Envelope struct, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "envelope_json"

  override protected def nullSafeEval(input: Any): Any =
    EnvelopeJsonWriter.encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EnvelopeJsonWriter.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): EnvelopeJson =
    copy(child = newChild)
}

/** Growable byte buffer for the encoder. Unlike
  * `java.io.ByteArrayOutputStream`, whose `write` is `synchronized`,
  * nothing here takes a lock; the encoder writes one byte at a time,
  * so a monitor per byte made the cost of a row grow with its size.
  * Not thread-safe: each thread keeps its own instance. */
final class JsonBuf(initialCapacity: Int) {
  private var buf = new Array[Byte](initialCapacity)
  private var len = 0

  private def ensure(extra: Int): Unit =
    if (len + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

  def write(b: Int): Unit = {
    ensure(1)
    buf(len) = b.toByte
    len += 1
  }

  def write(src: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n)
    System.arraycopy(src, off, buf, len, n)
    len += n
  }

  /** Appends a string known to be ASCII (keys, numbers, base64). */
  def ascii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
    len += n
  }

  /** Empties the buffer and keeps its capacity. */
  def reset(): Unit = len = 0

  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
}

object EnvelopeJsonWriter {

  // per-task-thread reusable buffer: reset() keeps capacity, so the
  // steady state allocates only the output copy per row (the encoder
  // runs 1.5M times per 500k events in q14)
  private val buffer = new ThreadLocal[JsonBuf] {
    override def initialValue(): JsonBuf = new JsonBuf(512)
  }

  def encode(row: InternalRow): UTF8String = {
    val out = buffer.get()
    out.reset()
    writeEnvelope(out, row)
    UTF8String.fromBytes(out.toByteArray)
  }

  // --- structural writers (field indices match EnvelopeSchema) -------

  private def writeEnvelope(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = strField(out, r, 0, "origin", first)
    first = intField(out, r, 1, "eventType", first)
    first = longField(out, r, 2, "timestamp", first)
    first = strField(out, r, 3, "deployment", first)
    first = strField(out, r, 4, "job", first)
    first = strField(out, r, 5, "index", first)
    first = strField(out, r, 6, "ip", first)
    if (!r.isNullAt(7)) {
      val m = r.getMap(7)
      if (m.numElements() > 0) {
        first = key(out, "tags", first)
        writeTags(out, m)
      }
    }
    if (!r.isNullAt(8)) {
      first = key(out, "httpStartStop", first)
      writeHttpStartStop(out, r.getStruct(8, 14))
    }
    if (!r.isNullAt(9)) {
      first = key(out, "logMessage", first)
      writeLogMessage(out, r.getStruct(9, 6))
    }
    if (!r.isNullAt(10)) {
      first = key(out, "valueMetric", first)
      writeValueMetric(out, r.getStruct(10, 3))
    }
    if (!r.isNullAt(11)) {
      first = key(out, "counterEvent", first)
      writeCounterEvent(out, r.getStruct(11, 3))
    }
    if (!r.isNullAt(12)) {
      first = key(out, "error", first)
      writeError(out, r.getStruct(12, 3))
    }
    if (!r.isNullAt(13)) {
      first = key(out, "containerMetric", first)
      writeContainerMetric(out, r.getStruct(13, 7))
    }
    out.write('}')
  }

  private def writeHttpStartStop(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = longField(out, r, 0, "startTimestamp", first)
    first = longField(out, r, 1, "stopTimestamp", first)
    if (!r.isNullAt(2)) { first = key(out, "requestId", first); writeUuid(out, r.getStruct(2, 2)) }
    first = intField(out, r, 3, "peerType", first)
    first = intField(out, r, 4, "method", first)
    first = strField(out, r, 5, "uri", first)
    first = strField(out, r, 6, "remoteAddress", first)
    first = strField(out, r, 7, "userAgent", first)
    first = intField(out, r, 8, "statusCode", first)
    first = longField(out, r, 9, "contentLength", first)
    if (!r.isNullAt(10)) { first = key(out, "applicationId", first); writeUuid(out, r.getStruct(10, 2)) }
    first = intField(out, r, 11, "instanceIndex", first)
    first = strField(out, r, 12, "instanceId", first)
    if (!r.isNullAt(13)) {
      val a = r.getArray(13)
      if (a.numElements() > 0) {
        first = key(out, "forwarded", first)
        writeStringArray(out, a)
      }
    }
    out.write('}')
  }

  private def writeLogMessage(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    if (!r.isNullAt(0)) {
      val b = r.getBinary(0)
      if (b.length > 0) {
        first = key(out, "message", first)
        out.write('"')
        out.ascii(java.util.Base64.getEncoder.encodeToString(b))
        out.write('"')
      }
    }
    first = intField(out, r, 1, "message_type", first)
    first = longField(out, r, 2, "timestamp", first)
    first = strField(out, r, 3, "app_id", first)
    first = strField(out, r, 4, "source_type", first)
    first = strField(out, r, 5, "source_instance", first)
    out.write('}')
  }

  private def writeValueMetric(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = strField(out, r, 0, "name", first)
    first = doubleField(out, r, 1, "value", first)
    first = strField(out, r, 2, "unit", first)
    out.write('}')
  }

  private def writeCounterEvent(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = strField(out, r, 0, "name", first)
    first = ulongField(out, r, 1, "delta", first)
    first = ulongField(out, r, 2, "total", first)
    out.write('}')
  }

  private def writeError(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = strField(out, r, 0, "source", first)
    first = intField(out, r, 1, "code", first)
    first = strField(out, r, 2, "message", first)
    out.write('}')
  }

  private def writeContainerMetric(out: JsonBuf, r: InternalRow): Unit = {
    out.write('{')
    var first = true
    first = strField(out, r, 0, "applicationId", first)
    first = intField(out, r, 1, "instanceIndex", first)
    first = doubleField(out, r, 2, "cpuPercentage", first)
    first = ulongField(out, r, 3, "memoryBytes", first)
    first = ulongField(out, r, 4, "diskBytes", first)
    first = ulongField(out, r, 5, "memoryBytesQuota", first)
    first = ulongField(out, r, 6, "diskBytesQuota", first)
    out.write('}')
  }

  private def writeUuid(out: JsonBuf, r: InternalRow): Unit = {
    // UUID stays {"low":…,"high":…} with unsigned rendering — never the
    // dashed string (kafka_test.go:572).
    out.write('{')
    var first = true
    first = ulongField(out, r, 0, "low", first)
    first = ulongField(out, r, 1, "high", first)
    out.write('}')
  }

  private def writeTags(out: JsonBuf, m: MapData): Unit = {
    // Go map iteration is randomized; we emit in the map column's
    // storage order (deterministic in Spark) — documented divergence.
    out.write('{')
    val keys = m.keyArray()
    val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      if (i > 0) out.write(',')
      writeString(out, keys.getUTF8String(i))
      out.write(':')
      writeString(out, vals.getUTF8String(i))
      i += 1
    }
    out.write('}')
  }

  private def writeStringArray(out: JsonBuf, a: ArrayData): Unit = {
    out.write('[')
    var i = 0
    while (i < a.numElements()) {
      if (i > 0) out.write(',')
      writeString(out, a.getUTF8String(i))
      i += 1
    }
    out.write(']')
  }

  // --- field helpers -------------------------------------------------

  private def key(out: JsonBuf, name: String, first: Boolean): Boolean = {
    if (!first) out.write(',')
    out.write('"')
    out.ascii(name)
    out.write('"')
    out.write(':')
    false
  }

  private def strField(out: JsonBuf, r: InternalRow, i: Int,
      name: String, first: Boolean): Boolean =
    if (r.isNullAt(i)) first
    else { val f = key(out, name, first); writeString(out, r.getUTF8String(i)); f }

  private def intField(out: JsonBuf, r: InternalRow, i: Int,
      name: String, first: Boolean): Boolean =
    if (r.isNullAt(i)) first
    else { val f = key(out, name, first); out.ascii(String.valueOf(r.getInt(i))); f }

  private def longField(out: JsonBuf, r: InternalRow, i: Int,
      name: String, first: Boolean): Boolean =
    if (r.isNullAt(i)) first
    else { val f = key(out, name, first); out.ascii(String.valueOf(r.getLong(i))); f }

  private def ulongField(out: JsonBuf, r: InternalRow, i: Int,
      name: String, first: Boolean): Boolean =
    if (r.isNullAt(i)) first
    else {
      val f = key(out, name, first)
      out.ascii(java.lang.Long.toUnsignedString(r.getLong(i)))
      f
    }

  private def doubleField(out: JsonBuf, r: InternalRow, i: Int,
      name: String, first: Boolean): Boolean =
    if (r.isNullAt(i)) first
    else { val f = key(out, name, first); out.ascii(goFloat(r.getDouble(i))); f }

  // --- Go-compatible float formatting --------------------------------

  /** strconv.FormatFloat(f, 'g', -1, 64): shortest digit string that
    * round-trips. For shortest-'g' Go pins eprec to 6
    * (strconv/ftoa.go `if shortest { eprec = 6 }`): e-notation iff
    * decimal exponent < -4 or >= 6, so 1e6 renders "1e+06" — NOT the
    * ES6/encoding-json -4..21 window. */
  def goFloat(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "+Inf"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Inf"
    if (d == 0.0d) return if (1 / d < 0) "-0" else "0"
    val neg = d < 0
    val abs = math.abs(d)
    // Shortest round-trip digits: probe precisions 1..17, take the
    // first correctly-rounded (half-even, like Ryu) form that parses
    // back exactly.
    var digits: String = null
    var dp = 0
    var p = 1
    while (p <= 17 && digits == null) {
      val cand = new JBigDecimal(abs).round(new MathContext(p, RoundingMode.HALF_EVEN))
        .stripTrailingZeros()
      if (cand.doubleValue() == abs) {
        digits = cand.unscaledValue().toString
        dp = digits.length - cand.scale()
      }
      p += 1
    }
    if (digits == null) { // unreachable: 17 digits always round-trip
      val cand = new JBigDecimal(abs).round(new MathContext(17, RoundingMode.HALF_EVEN))
        .stripTrailingZeros()
      digits = cand.unscaledValue().toString
      dp = digits.length - cand.scale()
    }
    val sb = new java.lang.StringBuilder(24)
    if (neg) sb.append('-')
    val exp = dp - 1
    if (exp < -4 || exp >= 6) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e')
      if (exp >= 0) sb.append('+') else sb.append('-')
      val ae = math.abs(exp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (dp <= 0) {
      sb.append("0.")
      var i = dp
      while (i < 0) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else if (dp < digits.length) {
      sb.append(digits, 0, dp).append('.').append(digits, dp, digits.length)
    } else {
      sb.append(digits)
      var i = digits.length
      while (i < dp) { sb.append('0'); i += 1 }
    }
    sb.toString
  }

  // --- easyjson-compatible string escaping ---------------------------

  private val HEX = "0123456789abcdef".getBytes

  /** Byte-level escape matching jwriter.Writer.String with HTML
    * escaping on (the encoder uses default flags): `"` `\` ctrl chars,
    * `<` `>` `&` → \u00XX, U+2028/29 →  / , invalid UTF-8
    * byte → literal `�` escape. Valid multi-byte runs copied raw. */
  def writeString(out: JsonBuf, s: UTF8String): Unit = {
    val bytes = s.getBytes
    out.write('"')
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x80) {
        if (b >= 0x20 && b != '"' && b != '\\' && b != '<' && b != '>' && b != '&') {
          out.write(b)
        } else b match {
          case '\t' => out.write('\\'); out.write('t')
          case '\r' => out.write('\\'); out.write('r')
          case '\n' => out.write('\\'); out.write('n')
          case '\\' => out.write('\\'); out.write('\\')
          case '"' => out.write('\\'); out.write('"')
          case _ =>
            out.write('\\'); out.write('u'); out.write('0'); out.write('0')
            out.write(HEX(b >> 4)); out.write(HEX(b & 0xf))
        }
        i += 1
      } else {
        val width = utf8Width(bytes, i)
        if (width < 0) {
          // broken UTF-8: one replacement escape per bad byte
          out.ascii("\\ufffd")
          i += 1
        } else if (width == 3 && b == 0xe2 && (bytes(i + 1) & 0xff) == 0x80 &&
            ((bytes(i + 2) & 0xff) == 0xa8 || (bytes(i + 2) & 0xff) == 0xa9)) {
          // U+2028 / U+2029 (JSONP hazard)
          out.ascii("\\u202")
          out.write(HEX((bytes(i + 2) & 0xff) & 0xf))
          i += 3
        } else {
          out.write(bytes, i, width)
          i += width
        }
      }
    }
    out.write('"')
  }

  /** Width of a valid UTF-8 sequence at offset, or -1 if invalid
    * (truncated, overlong, surrogate, or > U+10FFFF) — the cases Go's
    * utf8.DecodeRune reports as (RuneError, 1). */
  private def utf8Width(bytes: Array[Byte], off: Int): Int = {
    val n = bytes.length
    val b0 = bytes(off) & 0xff
    def cont(k: Int): Boolean =
      off + k < n && (bytes(off + k) & 0xc0) == 0x80
    if (b0 < 0xc2) -1 // 0x80..0xc1: stray continuation or overlong lead
    else if (b0 < 0xe0) {
      if (cont(1)) 2 else -1
    } else if (b0 < 0xf0) {
      if (!cont(1) || !cont(2)) -1
      else {
        val b1 = bytes(off + 1) & 0xff
        // overlong (e0 80..9f) and surrogates (ed a0..bf) invalid
        if (b0 == 0xe0 && b1 < 0xa0) -1
        else if (b0 == 0xed && b1 > 0x9f) -1
        else 3
      }
    } else if (b0 < 0xf5) {
      if (!cont(1) || !cont(2) || !cont(3)) -1
      else {
        val b1 = bytes(off + 1) & 0xff
        if (b0 == 0xf0 && b1 < 0x90) -1 // overlong
        else if (b0 == 0xf4 && b1 > 0x8f) -1 // > U+10FFFF
        else 4
      }
    } else -1
  }
}
