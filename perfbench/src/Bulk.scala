package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.NozzleApp
import graft.config.GraftConfig
import graft.streaming.NozzlePipeline

/** `nozzle-bulk`: closed-loop saturated drain of the shipped
  * `NozzleApp.start` assembly (DLQ main query + slow-consumer alerts
  * query + `Stats` listener) over seeded events-surrogate parquet, one
  * ~100k-row file per micro-batch, into [[CountingPublisher]]. The
  * files come from `gen_tables.events_surrogate`. */
object Bulk {

  /** The expected ledger from the generated rows: every stamp, and the
    * sampled events' envelopes built by the benchmark itself. */
  def expected(spark: SparkSession, dir: String, seed: Long): Nozzle.Expected = {
    val e = new Nozzle.Expected(seed)
    val rows = spark.read.parquet(dir).select("event_id", "ts").collect()
    rows.foreach(r => e.add(r.getLong(1)))
    val ids = rows.map(_.getLong(0)).filter(Gen.sampled(seed, _)).toSeq
    spark.read.parquet(dir).where(org.apache.spark.sql.functions.col("event_id").isin(ids: _*))
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect().foreach { r =>
        Nozzle.expectSample(Gen.bulkEnvelope(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4), r.getString(5)))
      }
    e
  }

  /** One drain of `dir` through `NozzleApp.start`; returns the handle
    * (stopped) and the drain's wall start in epoch ns. */
  def drain(spark: SparkSession, cfg: GraftConfig, dir: String, work: String): (NozzleApp.Running, Long) = {
    val ckpt = s"$work/ckpt-${System.nanoTime()}"
    val t0 = Common.epochNs()
    Ledger.latencyBaseNs = t0
    val running = NozzleApp.start(spark, cfg, NozzlePipeline.source(spark, dir), ckpt,
      s"$work/dlq", Some(new CountingPublisher), statsIntervalMs = 0, log = _ => ())
    running.awaitTermination()
    running.shutdown()
    Common.deleteRecursively(new File(ckpt))
    (running, t0)
  }

  def run(spark: SparkSession, a: Args, o: Outcome, probe: Option[Probe], root: Int): Unit = {
    val seed = a.long("seed")
    val work = a.str("work")
    val rowsPerFile = a.long("rows-per-file")
    val cfg = Common.routes(a)
    val dir = a.str("events")

    // warm-up drain: JIT, codegen caches and file listing paths
    Ledger.reset(); Ledger.failSeed = seed
    drain(spark, cfg, a.str("warm"), work)

    Ledger.reset(); Ledger.failSeed = seed
    val exp = expected(spark, dir, seed)
    Ledger.latencyUs = new Array[Int](exp.count.toInt)
    Ledger.timeCalls = probe.isDefined
    val cpu0 = Common.processCpuNs()
    val (running, t0) = drain(spark, cfg, dir, work)
    val drainSpan = probe.map(p => p.span("nozzle-bulk.drain", root, t0 / 1e6, p.nowMs())).getOrElse(root)
    val cpu1 = Common.processCpuNs()
    val stats = running.stats
    // the Stats listener folds the last progress event asynchronously
    val deadline = System.nanoTime() + 10000000000L
    while (stats.consume.get() < exp.count && System.nanoTime() < deadline) Thread.sleep(10)

    val published = Ledger.ok.sum()
    val drainS = (Ledger.lastPublishNs.get() - t0) / 1e9
    o.attempted = exp.count
    // event latency: publish time minus the start of the micro-batch that admitted it
    val starts = running.query.recentProgress.map(p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - t0) / 1000L).sorted
    val n = math.min(Ledger.latencyN.get(), Ledger.latencyUs.length.toLong).toInt
    val lat = new Array[Long](n)
    var i = 0
    while (i < n) {
      val pub = Ledger.latencyUs(i).toLong
      var k = java.util.Arrays.binarySearch(starts, pub)
      if (k < 0) k = -k - 2
      lat(i) = if (k >= 0) pub - starts(k) else pub
      i += 1
    }
    Nozzle.report(o, published, drainS, (cpu1 - cpu0) / 1000.0 / math.max(1L, published), lat)
    o.note("micro_batches", running.query.recentProgress.length)

    // correctness: exactly-once publish of every routable event
    Nozzle.checkLedger(o, exp)
    Nozzle.checkStats(o, stats, exp.count, 0L)
    o.check(stats.consume.get() == exp.count, s"consume ${stats.consume.get()} != generated ${exp.count}")
    o.check(stats.slowConsumerAlert.get() == 0, "slow-consumer alerts on a clean stream")

    probe.foreach { p =>
      Nozzle.layerMetrics(o, p, running.query, rowsPerFile, drainSpan, "main", drainS,
        Seq(running.query, running.alerts))
      o.metric("sink.dlq_rows", stats.publishFail.get().toDouble, "count")
      val alerts = p.progressOf(running.alerts.id.toString).filter(_.numInputRows > 0)
      o.metric("alerts.trigger_ms_p50", Common.pct(alerts.map(
        _.durationMs.get("triggerExecution").longValue.toDouble), 0.5), "ms")
      o.metric("alerts.task_s", p.totalsOf(running.alerts.id.toString).runMs / 1000.0, "s")
      p.addMicroBatchSpans(drainSpan, "alerts", running.alerts.id.toString)
      o.metric("traced.throughput_per_s", published / drainS, "1/s")
    }
  }

  /** Single-threaded baseline: the same drain at local[1] and at
    * local[cores] on a smaller input; efficiency = speed-up / cores. */
  def scaleEfficiency(spark: SparkSession, a: Args, o: Outcome): Unit = {
    val seed = a.long("seed")
    val work = a.str("work")
    val cfg = Common.routes(a)
    val dir = a.str("scale-events")
    def rate(s: SparkSession): Double = {
      Ledger.reset(); Ledger.failSeed = seed
      drain(s, cfg, dir, work)
      Ledger.reset(); Ledger.failSeed = seed
      val (_, t0) = drain(s, cfg, dir, work)
      Ledger.ok.sum() / ((Ledger.lastPublishNs.get() - t0) / 1e9)
    }
    val cores = Common.cores
    val full = rate(spark)
    spark.stop()
    val one = rate(Common.session(1))
    SparkSession.active.stop()
    o.metric("scale.efficiency", (full / one) / cores, "ratio")
    o.note("scale", Map("rate_1" -> one, "rate_n" -> full, "cores" -> cores))
  }
}
