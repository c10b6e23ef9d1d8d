package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import graft.functions.{EnvelopeDecoder, EnvelopeJsonWriter, EnvelopeProto, UuidStr}

/** Codec micro-bench: ns per row (and bytes per row) of the envelope
  * codecs on the workload's own seeded envelopes, after JIT warm-up —
  * the JVM analogue of the reference's `encoder_test.go` harness. */
object Codecs {

  /** The first `n` envelopes of the workload's seeded input. */
  def envelopes(spark: SparkSession, a: Args, n: Int): Array[InternalRow] =
    a.str("workload") match {
      case "nozzle-ws" =>
        Array.tabulate(n)(i => Gen.wsEnvelope(a.long("seed"), i, Gen.stampOf(Gen.BaseTsNs, 10000, i)))
      case w =>
        val ev = if (w == "nozzle-bulk") spark.read.parquet(a.str("events")).withColumnRenamed("ts", "ts_ns")
          else graft.Tables.events(spark, a.str("tables"))
        ev.select("event_id", "ts_ns", "user_id", "event_type", "value", "props").limit(n).collect().map { r =>
          Gen.bulkEnvelope(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))
        }
    }

  private var sink = 0L

  /** ns per call of `body(i)` over all indices, timed over whole passes
    * for at least `ms` after an equal warm-up. */
  private def nsPer(n: Int, ms: Long)(body: Int => Long): Double = {
    def pass(): Unit = { var i = 0; while (i < n) { sink += body(i); i += 1 } }
    val warmEnd = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < warmEnd) pass()
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || System.nanoTime() - t0 < ms * 1000000L) { pass(); passes += 1 }
    (System.nanoTime() - t0).toDouble / (passes.toLong * n)
  }

  def run(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val envs = envelopes(spark, a, 20000)
    val n = envs.length
    val json = envs.map(e => EnvelopeJsonWriter.encode(e))
    val proto = envs.map(e => EnvelopeProto.encode(e))
    val ids = envs.map(e => (e.getLong(2), e.getInt(1).toLong * 0x9e3779b97f4a7c15L ^ e.getLong(2)))
    val ms = 300L
    o.metric("envelope_json.ns_per_row", nsPer(n, ms)(i => EnvelopeJsonWriter.encode(envs(i)).numBytes), "ns")
    o.metric("envelope_json.bytes_per_row", json.map(_.numBytes.toDouble).sum / n, "B")
    o.metric("envelope_proto.ns_per_row", nsPer(n, ms)(i => EnvelopeProto.encode(envs(i)).length), "ns")
    o.metric("envelope_proto_decode.ns_per_row",
      nsPer(n, ms)(i => EnvelopeProto.decodeOrNull(proto(i)).numFields), "ns")
    o.metric("envelope_decode.ns_per_row", nsPer(n, ms)(i => EnvelopeDecoder.parseOrNull(json(i)).numFields), "ns")
    o.metric("uuid_str.ns_per_call", nsPer(n, ms)(i => UuidStr.format(ids(i)._1, ids(i)._2).length), "ns")
    // every decoded row must re-encode to the bytes it came from
    val roundTrip = (0 until n).count { i =>
      EnvelopeJsonWriter.encode(EnvelopeProto.decodeOrNull(proto(i))) == json(i) &&
        EnvelopeJsonWriter.encode(EnvelopeDecoder.parseOrNull(json(i))) == json(i)
    }
    o.check(roundTrip == n, s"codec round trip failed on ${n - roundTrip} of $n envelopes")
    o.note("codec_checksum", sink)
  }
}
