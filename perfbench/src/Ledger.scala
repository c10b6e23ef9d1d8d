package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAccumulator, LongAdder}

import graft.streaming.NozzlePipeline.Publisher

/** JVM-global publish accounting. A [[Publisher]] is serialized into
  * every task, so counters held by the publisher instance (or by any
  * closure-local object) are copies that the driver never sees; the
  * counters live here, in a top-level object, and local-mode tasks run
  * in this same JVM. */
object Ledger {
  val calls = new LongAdder
  val ok = new LongAdder
  val injected = new LongAdder
  /** Sum of `Gen.mix(stamp)` over published records: with the count, a
    * fingerprint of the published multiset (a loss and a duplicate do
    * not cancel out). */
  val idSum = new LongAdder
  val lastPublishNs = new LongAccumulator((a, b) => math.max(a, b), 0L)
  val publishNs = new LongAdder
  @volatile var timeCalls = false
  @volatile var failSeed = 0L

  /** A sampled record: its expected (topic, payload) hash, how often it
    * was published and how often byte-identical to the expectation. */
  final class Sample(val hash: Long) {
    val seen = new AtomicInteger
    val exact = new AtomicInteger
  }
  /** Sampled records by stamp. */
  val sampled = new ConcurrentHashMap[java.lang.Long, Sample]()

  /** One latency per timed publish, in µs. */
  @volatile var latencyUs: Array[Int] = null
  val latencyN = new AtomicLong
  /** When set, latency is measured from the payload's stamp; otherwise
    * from `latencyBaseNs`. */
  @volatile var stampFromPayload = false
  /** Added to a payload stamp to place it on the wall clock. */
  @volatile var stampOffsetNs = 0L
  @volatile var latencyBaseNs = 0L
  /** Stamps before this (the warm-up part of an open-loop schedule)
    * are published and accounted but not timed. */
  @volatile var measureFromNs = Long.MinValue

  def reset(): Unit = {
    calls.reset(); ok.reset(); injected.reset(); idSum.reset()
    lastPublishNs.reset(); publishNs.reset(); sampled.clear()
    latencyUs = null; latencyN.set(0); stampFromPayload = false
    measureFromNs = Long.MinValue
  }

  /** 64-bit FNV-1a over topic, a separator and payload, then a murmur
    * finalizer: the identity of one published record's bytes. */
  def hash(topic: String, payload: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < topic.length) { h = (h ^ topic.charAt(i)) * 0x100000001b3L; i += 1 }
    h = (h ^ 0xffff) * 0x100000001b3L
    i = 0
    while (i < payload.length) { h = (h ^ payload.charAt(i)) * 0x100000001b3L; i += 1 }
    Gen.mix(h)
  }

  /** Whether the first attempt of a record is made to fail: a seeded one
    * in a thousand, decided by the record's identity. */
  def injectsFailure(id: Long, seed: Long): Boolean =
    java.lang.Long.remainderUnsigned(Gen.mix(id ^ seed), 1000L) == 0L

  private val lastFailed = new ThreadLocal[java.lang.Long]

  private[perfbench] def record(topic: String, payload: String): Unit = {
    val t0 = if (timeCalls) System.nanoTime() else 0L
    calls.increment()
    // every generated event carries a unique envelope timestamp: its identity
    val stamp = stampOf(payload)
    val id = Gen.mix(stamp)
    if (injectsFailure(id, failSeed) && lastFailed.get() != id) {
      lastFailed.set(id)
      injected.increment()
      throw new java.io.IOException("injected first-attempt failure")
    }
    lastFailed.remove()
    ok.increment()
    idSum.add(id)
    val smp = sampled.get(stamp)
    if (smp != null) {
      smp.seen.incrementAndGet()
      if (hash(topic, payload) == smp.hash) smp.exact.incrementAndGet()
    }
    val now = Common.epochNs()
    lastPublishNs.accumulate(now)
    val lat = latencyUs
    if (lat != null) {
      val ref = if (stampFromPayload) stamp + stampOffsetNs else latencyBaseNs
      if (ref >= measureFromNs) {
        val i = latencyN.getAndIncrement()
        if (i < lat.length) lat(i.toInt) = ((now - ref) / 1000L).toInt
      }
    }
    if (timeCalls) publishNs.add(System.nanoTime() - t0)
  }

  /** The envelope-level `timestamp` of a canonical payload: it is the
    * first `"timestamp":` key, ahead of every nested payload struct. */
  def stampOf(payload: String): Long = {
    val k = payload.indexOf("\"timestamp\":")
    var i = k + 12
    var v = 0L
    while (i < payload.length && Character.isDigit(payload.charAt(i))) {
      v = v * 10 + (payload.charAt(i) - '0'); i += 1
    }
    v
  }
}

/** The benchmark's sink: accounts every call in [[Ledger]] and fails a
  * seeded 0.1% of first attempts so the retry loop does work. */
final class CountingPublisher extends Publisher {
  override def publish(topic: String, payload: String): Unit = Ledger.record(topic, payload)
}
