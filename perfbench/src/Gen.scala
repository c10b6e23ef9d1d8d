package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{EnvelopeJsonWriter, UuidStr}

/** Seeded inputs. Everything here is a pure function of the seed and
  * an index, so the benchmark can regenerate any event to build the
  * expected output without trusting the program under test. */
object Gen {

  /** splitmix64: the per-index stream of seeded random words. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def word(seed: Long, i: Long, k: Int): Long = mix(mix(seed * 31 + k) ^ i)
  def below(seed: Long, i: Long, k: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(word(seed, i, k), n)
  def unit(seed: Long, i: Long, k: Int): Double = (word(seed, i, k) >>> 11) * (1.0 / (1L << 53))

  /** The 1-in-1000 sample whose payloads are compared byte for byte. */
  def sampled(seed: Long, i: Long): Boolean = below(seed, i, 99, 1000) == 0

  private def s(x: String): UTF8String = if (x == null) null else UTF8String.fromString(x)
  private def uuid(low: Long, high: Long): InternalRow = new GenericInternalRow(Array[Any](low, high))

  /** An Envelope row in `EnvelopeSchema` order with exactly one payload. */
  def envelope(origin: String, eventType: Int, ts: Long, slot: Int, payload: InternalRow,
      deployment: String = null, job: String = null, index: String = null,
      ip: String = null): InternalRow = {
    val v = new Array[Any](14)
    v(0) = s(origin); v(1) = eventType; v(2) = ts
    v(3) = s(deployment); v(4) = s(job); v(5) = s(index); v(6) = s(ip)
    v(slot) = payload
    new GenericInternalRow(v)
  }

  // ------------------------------------------------------ nozzle-bulk

  val BaseTsNs = 1704067200000000000L // 2024-01-01T00:00:00Z

  /** The envelope the surrogate → Envelope assembly must produce for
    * one surrogate row, stated independently of the program. */
  def bulkEnvelope(eventId: Long, ts: Long, userId: Long, et: String, value: Double,
      props: String): InternalRow = et match {
    case "click" =>
      envelope("ev-click", 5, ts, 9, new GenericInternalRow(Array[Any](
        props.getBytes("UTF-8"), 1, ts, s(s"app-$userId"), s("DEA"), null)))
    case "view" =>
      envelope("ev-view", 6, ts, 10, new GenericInternalRow(Array[Any](s(et), value, s("ms"))))
    case "signup" =>
      envelope("ev-signup", 7, ts, 11, new GenericInternalRow(Array[Any](s(et), userId, eventId)))
    case "purchase" =>
      val hss = new Array[Any](14)
      hss(0) = ts; hss(10) = uuid(userId, eventId)
      envelope("ev-purchase", 4, ts, 8, new GenericInternalRow(hss))
    case "error" =>
      envelope("ev-error", 8, ts, 12, new GenericInternalRow(Array[Any](s(et), 1, s(props))))
  }

  /** Expected topic under `routes.toml`. */
  def topic(env: InternalRow): String = env.getInt(1) match {
    case 5 => "log-" + env.getStruct(9, 6).getUTF8String(3).toString
    case 6 => "metric"
    case 7 => "counter"
    case 8 => "error"
    case 9 => "container-" + env.getStruct(13, 7).getUTF8String(0).toString
    case 4 =>
      val a = env.getStruct(8, 14).getStruct(10, 2)
      "http-" + UuidStr.format(a.getLong(0), a.getLong(1))
  }

  def expectedHash(env: InternalRow): Long =
    Ledger.hash(topic(env), EnvelopeJsonWriter.encode(env).toString)

  // -------------------------------------------------------- nozzle-ws

  private val Words = Array("GET", "POST", "request", "served", "cache", "miss", "hit",
    "user", "session", "token", "refresh", "db", "query", "took", "ms", "retry",
    "upstream", "timeout", "ok", "worker", "queue", "job", "done", "started")

  private def appGuid(seed: Long, app: Long): (Long, Long) =
    (word(seed, app, 50), word(seed, app, 51))

  /** Frame `i` of the open-loop stream: one of the six envelope types
    * with firehose-like fields, stamped with its scheduled send time. */
  def wsEnvelope(seed: Long, i: Long, stampNs: Long): InternalRow = {
    val app = math.floor(math.exp(unit(seed, i, 1) * math.log(200.0))).toLong
    val (lo, hi) = appGuid(seed, app)
    val guid = UuidStr.format(lo, hi)
    val inst = below(seed, i, 2, 4).toInt
    val ip = s"10.0.${below(seed, i, 3, 16)}.${below(seed, i, 4, 250) + 2}"
    val r = unit(seed, i, 5)
    def env(et: Int, slot: Int, p: InternalRow, origin: String) =
      envelope(origin, et, stampNs, slot, p, "cf", "diego_cell", inst.toString, ip)
    if (r < 0.55) {
      val len = 100 + below(seed, i, 6, 201).toInt
      val sb = new java.lang.StringBuilder(len + 16)
      var k = 0
      while (sb.length < len) {
        sb.append(Words(below(seed, i, 100 + k, Words.length).toInt)).append(' '); k += 1
      }
      sb.setLength(len)
      env(5, 9, new GenericInternalRow(Array[Any](sb.toString.getBytes("UTF-8"),
        1 + below(seed, i, 7, 2).toInt, stampNs - 1000000L, s(guid), s("APP/PROC/WEB"),
        s(inst.toString))), "rep")
    } else if (r < 0.75) {
      val h = new Array[Any](14)
      h(0) = stampNs - 5000000L - below(seed, i, 8, 50000000L); h(1) = stampNs - 1000000L
      h(2) = uuid(word(seed, i, 9), word(seed, i, 10))
      h(3) = 1 + below(seed, i, 11, 2).toInt; h(4) = 1 + below(seed, i, 12, 4).toInt
      h(5) = s(s"http://app-$app.example.internal/v1/items/${below(seed, i, 13, 10000)}")
      h(6) = s(s"$ip:${40000 + below(seed, i, 14, 20000)}"); h(7) = s("Mozilla/5.0 (bench)")
      h(8) = Array(200, 200, 200, 201, 204, 304, 404, 500)(below(seed, i, 15, 8).toInt)
      h(9) = below(seed, i, 16, 65536); h(10) = uuid(lo, hi); h(11) = inst
      h(12) = s(f"${word(seed, app, 52)}%016x"); h(13) = new GenericArrayData(Array[Any](s(ip)))
      env(4, 8, new GenericInternalRow(h), "gorouter")
    } else if (r < 0.85) {
      env(9, 13, new GenericInternalRow(Array[Any](s(guid), inst, unit(seed, i, 17) * 100.0,
        below(seed, i, 18, 1L << 30), below(seed, i, 19, 1L << 31), 1L << 30, 1L << 32)), "rep")
    } else if (r < 0.93) {
      env(6, 10, new GenericInternalRow(Array[Any](s("memoryStats.numBytesAllocated"),
        unit(seed, i, 20) * 1e6, s("count"))), "MetronAgent")
    } else if (r < 0.99) {
      env(7, 11, new GenericInternalRow(Array[Any](s("dropsondeListener.receivedMessageCount"),
        below(seed, i, 21, 1000), i)), "DopplerServer")
    } else {
      env(8, 12, new GenericInternalRow(Array[Any](s("doppler"), below(seed, i, 22, 10).toInt,
        s("upstream write failed"))), "DopplerServer")
    }
  }

  /** One frame in a thousand is malformed: it declares a 100-byte
    * origin field and carries five bytes. */
  def wsMalformed(seed: Long, i: Long): Boolean = below(seed, i, 98, 1000) == 0
  val MalformedFrame: Array[Byte] = Array[Byte](0x0A, 0x64) ++ "short".getBytes("UTF-8")

  def stampOf(startNs: Long, rate: Double, i: Long): Long = startNs + (i * 1e9 / rate).toLong
}
