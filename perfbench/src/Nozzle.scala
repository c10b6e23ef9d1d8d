package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.Stats

/** Metrics and checks shared by the two nozzle workloads. */
object Nozzle {

  /** End-to-end metrics of one timed drain. `latUs` holds one latency
    * per timed event. */
  def report(o: Outcome, published: Long, wallS: Double, cpuUsPerOp: Double, latUs: Array[Long]): Unit = {
    o.metric("throughput_per_s", published / wallS, "1/s")
    o.metric("latency_p50_ms", Common.pct(latUs, 0.5) / 1000.0, "ms")
    val q = Common.tailQuantile(latUs.length)
    o.metric("latency_tail_ms", Common.pct(latUs, q) / 1000.0, "ms")
    o.metric("cpu_us_per_op", cpuUsPerOp, "us")
    o.note("published", published); o.note("wall_s", wallS); o.note("tail_quantile", q)
  }

  /** What the sink must have seen: the count, the identity
    * fingerprint and the injected retries of every routable event. */
  final class Expected(val seed: Long) {
    var count = 0L; var idSum = 0L; var retries = 0L
    def add(stamp: Long): Unit = {
      val id = Gen.mix(stamp)
      count += 1; idSum += id
      if (Ledger.injectsFailure(id, seed)) retries += 1
    }
  }

  /** Exactly-once publish: counts, the identity fingerprint, one call
    * per event plus one per injected retry, and the byte-exact sample. */
  def checkLedger(o: Outcome, e: Expected): Unit = {
    val ok = Ledger.ok.sum()
    val samples = Ledger.sampled.values.asScala
    val bad = samples.count(s => s.seen.get != 1 || s.exact.get != 1)
    o.failed = math.abs(e.count - ok) + bad + (if (ok == e.count && Ledger.idSum.sum() != e.idSum) 1 else 0)
    o.check(ok == e.count, s"published $ok events, expected ${e.count}")
    o.check(Ledger.idSum.sum() == e.idSum, "published event multiset differs from the generated one")
    o.check(Ledger.injected.sum() == e.retries, s"injected ${Ledger.injected.sum()} failures, expected ${e.retries}")
    o.check(Ledger.calls.sum() == e.count + e.retries,
      s"publish calls ${Ledger.calls.sum()} != events ${e.count} + retries ${e.retries}")
    o.check(bad == 0, s"$bad of ${samples.size} sampled payloads not published exactly once byte-for-byte")
    o.check(samples.nonEmpty, "empty payload sample")
    o.note("sampled_payloads", samples.size)
  }

  /** Registers a sampled event's expected record before the drain. */
  def expectSample(env: org.apache.spark.sql.catalyst.InternalRow): Unit =
    Ledger.sampled.put(env.getLong(2), new Ledger.Sample(Gen.expectedHash(env)))

  /** The stats plane's accounting identities. */
  def checkStats(o: Outcome, s: Stats, forwarded: Long, ignored: Long): Unit = {
    o.check(s.consume.get() == s.forwarded.get() + s.ignored.get(),
      s"consume ${s.consume.get()} != forwarded ${s.forwarded.get()} + ignored ${s.ignored.get()}")
    o.check(s.forwarded.get() == s.publish.get() + s.publishFail.get(),
      s"forwarded ${s.forwarded.get()} != publish ${s.publish.get()} + publish_fail ${s.publishFail.get()}")
    o.check(s.forwarded.get() == forwarded, s"forwarded ${s.forwarded.get()} != expected $forwarded")
    o.check(s.ignored.get() == ignored, s"ignored ${s.ignored.get()} != expected $ignored")
    o.check(s.publishFail.get() == 0, s"${s.publishFail.get()} rows sent to the DLQ")
  }

  private def offsetRows(json: String): Long =
    "\\d+".r.findAllIn(Option(json).getOrElse("")).toSeq.lastOption.map(_.toLong).getOrElse(0L)

  private def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.map(p => Option(p.durationMs.get(k)).map(_.longValue.toDouble).getOrElse(0.0))

  /** Per-layer metrics of the main query: source, micro-batch engine,
    * sink, and executors over the `timed` queries. `rowsPerOffset`
    * converts source offsets into rows (a file per offset for file
    * replay, a frame for the socket). */
  def layerMetrics(o: Outcome, p: Probe, q: StreamingQuery, rowsPerOffset: Long, root: Int,
      label: String, wallS: Double, timed: Seq[StreamingQuery]): Unit = {
    val id = q.id.toString
    val ps = p.progressOf(id).filter(_.numInputRows > 0)
    o.metric("source.rows_per_batch_p50", Common.pct(ps.map(_.numInputRows.toDouble), 0.5), "rows")
    o.metric("source.latest_offset_ms_p50", Common.pct(dur(ps, "latestOffset"), 0.5), "ms")
    o.metric("source.get_batch_ms_p50", Common.pct(dur(ps, "getBatch"), 0.5), "ms")
    o.metric("source.lag_rows_p99", Common.pct(ps.map { b =>
      val s = b.sources.head
      (offsetRows(s.latestOffset) - offsetRows(s.endOffset)).max(0L).toDouble * rowsPerOffset
    }, 0.99), "rows")
    o.metric("batch.trigger_ms_p50", Common.pct(dur(ps, "triggerExecution"), 0.5), "ms")
    o.metric("batch.trigger_ms_p99", Common.pct(dur(ps, "triggerExecution"), 0.99), "ms")
    o.metric("batch.planning_ms_p50", Common.pct(dur(ps, "queryPlanning"), 0.5), "ms")
    o.metric("batch.add_batch_ms_p50", Common.pct(dur(ps, "addBatch"), 0.5), "ms")
    o.metric("batch.wal_commit_ms_p50", Common.pct(dur(ps, "walCommit"), 0.5), "ms")
    o.metric("batch.commit_offsets_ms_p50", Common.pct(dur(ps, "commitOffsets"), 0.5), "ms")
    o.metric("batch.count", ps.size.toDouble, "count")
    val t = p.totalsOf(id)
    o.metric("batch.jobs_per_batch", t.jobs.toDouble / math.max(1, ps.size), "count")
    o.metric("batch.tasks_per_batch", t.tasks.toDouble / math.max(1, ps.size), "count")
    val calls = Ledger.calls.sum()
    o.metric("sink.publish_calls", calls.toDouble, "count")
    o.metric("sink.publish_ns_per_call", Ledger.publishNs.sum().toDouble / math.max(1L, calls), "ns")
    o.metric("sink.retries", Ledger.injected.sum().toDouble, "count")
    o.metric("sink.jobs_per_batch", p.sinkJobsPerBatch(id), "count")
    val all = timed.map(t => p.totalsOf(t.id.toString))
    val taskS = all.map(_.runMs).sum / 1000.0
    o.metric("exec.task_s", taskS, "s")
    o.metric("exec.gc_s", all.map(_.gcMs).sum / 1000.0, "s")
    o.metric("exec.busy_share", taskS / (wallS * Common.cores), "ratio")
    p.addMicroBatchSpans(root, label, id)
  }
}
