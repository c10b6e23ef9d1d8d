package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{NozzlePipeline, Stats}
import graft.streaming.NozzlePipeline.{Publisher, TopicConfig}

/** Executor-side publish log for the DLQ test. local[*] shares one JVM,
  * so a static object observes every partition's calls. */
object TestPublishLog {
  val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  val delivered = new ConcurrentHashMap[String, String]()
  def reset(): Unit = { attempts.clear(); delivered.clear() }
}

/** Fails the first `failFirst` attempts for topics in `flaky`; always
  * fails topics in `dead`. */
class FlakyPublisher(flaky: Set[String], dead: Set[String], failFirst: Int)
    extends Publisher {
  override def publish(topic: String, payload: String): Unit = {
    val n = TestPublishLog.attempts
      .computeIfAbsent(topic + "|" + payload.hashCode, _ => new AtomicInteger)
      .incrementAndGet()
    if (dead.contains(topic)) throw new RuntimeException("broker down")
    if (flaky.contains(topic) && n <= failFirst)
      throw new RuntimeException("transient")
    TestPublishLog.delivered.put(topic + "|" + payload.hashCode, topic)
  }
}

/** Fails every `n`-th publish call, JVM-wide, and counts calls and
  * injected failures in statics (tasks run in this JVM under local[*]).
  * A failed call is retried by the sink, so with `n` > 1 every row is
  * delivered. */
object EveryNthFailsLog {
  val calls = new AtomicLong
  val injected = new AtomicLong
  def reset(): Unit = { calls.set(0); injected.set(0) }
}

class EveryNthFails(n: Long) extends Publisher {
  override def publish(topic: String, payload: String): Unit =
    if (EveryNthFailsLog.calls.incrementAndGet() % n == 0) {
      EveryNthFailsLog.injected.incrementAndGet()
      throw new RuntimeException("transient")
    }
}

class NozzlePipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private val cfg = TopicConfig(
    logMessageFmt = "log-%s",
    valueMetric = "metric-topic",
    counterEvent = "counter-topic",
    httpStartStop = "http-topic",
    error = "") // not configured => Ignored drop

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def stageEventsFile(dir: String, name: String): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/$name"),
      StandardCopyOption.REPLACE_EXISTING)

  test("t1 end-to-end: source → route → encode → memory sink with stats") {
    val srcDir = tmp("nozzle-src")
    stageEventsFile(srcDir, "part-0.parquet")
    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    try {
      val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      val q = NozzlePipeline.startMemory(routed, "nozzle_t1", tmp("nozzle-ckpt"))
      q.awaitTermination()

      val batch = Tables.events(spark, sf)
      val total = batch.count()
      val errors = batch.filter("event_type = 'error'").count()
      val unknown = batch
        .filter(!col("event_type").isin("click", "view", "signup", "purchase", "error"))
        .count()

      val sunk = spark.table("nozzle_t1")
      assert(sunk.count() === total - errors - unknown)
      // payloads are canonical envelope JSON, topic template applied
      val one = sunk.filter(col("topic").startsWith("log-app-")).head()
      assert(one.getAs[String]("payload").startsWith("""{"origin":"ev-click","eventType":5,"""))
      // listener folded observed metrics into the stats plane
      spark.streams.awaitAnyTermination(1000)
      eventually(stats.consume.get() === total)
      assert(stats.forwarded.get() === total - errors - unknown)
      // unknown-type events are Ignored too (kafka_test.go:290)
      assert(stats.ignored.get() === errors + unknown)
      assert(stats.consumeUnknown.get() === unknown)
      assert(stats.consumeLogMessage.get() ===
        batch.filter("event_type = 'click'").count())
      val snap = stats.json()
      assert(snap.contains("\"consume\":" + total))
    } finally spark.streams.removeListener(listener)
  }

  test("checkpoint recovery: restart processes only new files (O20)") {
    val srcDir = tmp("nozzle-src2")
    val ckpt = tmp("nozzle-ckpt2")
    stageEventsFile(srcDir, "part-0.parquet")
    val stats = new Stats(0)
    val listener = new NozzlePipeline.Listener(stats)
    spark.streams.addListener(listener)
    val dlqPath = tmp("nozzle-dlq-r") + "/dlq"
    val alwaysOk = new FlakyPublisher(Set.empty, Set.empty, 0)
    try {
      // memory sink can't recover from a checkpoint; the foreachBatch
      // sink (the real O9/O10 path) can.
      val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      NozzlePipeline.startDlq(routed, ckpt, alwaysOk, 5, stats, dlqPath)
        .awaitTermination()
      val total = Tables.events(spark, sf).count()
      eventually(stats.consume.get() === total)

      // new file arrives; restart from the same checkpoint
      stageEventsFile(srcDir, "part-1.parquet")
      val routed2 = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      NozzlePipeline.startDlq(routed2, ckpt, alwaysOk, 5, stats, dlqPath)
        .awaitTermination()
      // only the new file was consumed — 2×total, not 3×total
      eventually(stats.consume.get() === 2 * total)
    } finally spark.streams.removeListener(listener)
  }

  test("DLQ: bounded retry recovers transients, exhausted records land in DLQ (O10)") {
    val srcDir = tmp("nozzle-src3")
    stageEventsFile(srcDir, "part-0.parquet")
    val dlqPath = tmp("nozzle-dlq") + "/dlq"
    TestPublishLog.reset()
    val stats = new Stats(0)
    val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
    // metric-topic is permanently down; counter-topic fails twice then
    // recovers (inside repartitionMax=5, kafka.go:20-26)
    val publisher = new FlakyPublisher(
      flaky = Set("counter-topic"), dead = Set("metric-topic"), failFirst = 2)
    val q = NozzlePipeline.startDlq(routed, tmp("nozzle-ckpt3"), publisher,
      repartitionMax = 5, stats, dlqPath)
    q.awaitTermination()

    val batch = Tables.events(spark, sf)
    val views = batch.filter("event_type = 'view'").count()
    val routedN = batch
      .filter(col("event_type").isin("click", "view", "signup", "purchase"))
      .count()
    assert(stats.publishFail.get() === views)
    assert(stats.publish.get() === routedN - views)
    val dlq = spark.read.parquet(dlqPath)
    assert(dlq.count() === views)
    assert(dlq.select("topic").distinct().collect().map(_.getString(0)).toSet
      === Set("metric-topic"))
  }

  test("sink: one job per micro-batch, no row published twice, stats settled on return") {
    val srcDir = tmp("nozzle-src4")
    stageEventsFile(srcDir, "part-0.parquet")
    stageEventsFile(srcDir, "part-1.parquet")
    EveryNthFailsLog.reset()
    val stats = new Stats(0)
    val statsListener = new NozzlePipeline.Listener(stats)
    // streaming jobs by "queryId/batchId": Spark tags every job a
    // streaming query runs with both
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach { q =>
            jobs.computeIfAbsent(q + "/" + e.properties.getProperty("streaming.sql.batchId"),
              _ => new AtomicInteger).incrementAndGet()
          }
    }
    spark.streams.addListener(statsListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val routed = NozzlePipeline.build(NozzlePipeline.source(spark, srcDir), cfg)
      val q = NozzlePipeline.startDlq(routed, tmp("nozzle-ckpt4"),
        new EveryNthFails(50), repartitionMax = 5, stats, tmp("nozzle-dlq4") + "/dlq")
      q.awaitTermination()

      val routedN = 2 * Tables.events(spark, sf)
        .filter(col("event_type").isin("click", "view", "signup", "purchase"))
        .count()
      // the sink's own counters are final once the query has returned
      assert(stats.publishFail.get() === 0)
      assert(stats.publish.get() + stats.publishFail.get() === routedN)
      assert(EveryNthFailsLog.injected.get() > 0)
      assert(EveryNthFailsLog.calls.get() === routedN + EveryNthFailsLog.injected.get())
      eventually(stats.forwarded.get() === routedN)
      def perBatch = jobs.asScala.collect {
        case (k, n) if k.startsWith(q.id.toString + "/") => k -> n.get()
      }
      eventually(perBatch.size == 2)
      perBatch.foreach { case (batch, n) => assert(n === 1, s"jobs of $batch") }
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.streams.removeListener(statsListener)
    }
  }

  private def eventually(cond: => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }
}
