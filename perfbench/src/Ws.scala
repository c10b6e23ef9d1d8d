package graft.perfbench

import java.io.{BufferedOutputStream, BufferedReader, File, InputStreamReader}
import java.net.{InetAddress, ServerSocket}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.Functions
import graft.config.GraftConfig
import graft.functions.EnvelopeProto
import graft.sources.FirehoseSocketSource
import graft.streaming.{Connector, NozzlePipeline, NozzleReader, Stats, WebSocket}

/** The open-loop load generator: a separate process with one thread
  * and one connection. It serves RFC-6455 binary dropsonde frames on
  * loopback on a fixed schedule that does not slow when the consumer
  * does; each envelope carries its scheduled send time. With
  * `--rate 0` it floods instead (the reader's own ceiling).
  *
  * Envelope stamps are `Gen.BaseTsNs` plus the frame's offset in the
  * schedule, so frames can be built before the consumer connects.
  * Prints `LISTEN <port>` once bound, `START <epoch ns>` when the
  * schedule's first frame is due (200 ms after the handshake) and,
  * after the schedule, one JSON line `DONE {...}` with how late it ran. */
object WsGen {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Common.epochNs() // load the clock helpers before the schedule is anchored
    val seed = a.long("seed")
    val rate = a.double("rate")
    val n = a.long("frames").toInt
    // whole server frames, built before the schedule starts
    val frames = Array.tabulate(n) { i =>
      val payload =
        if (Gen.wsMalformed(seed, i)) Gen.MalformedFrame
        else EnvelopeProto.encode(Gen.wsEnvelope(seed, i, Gen.stampOf(Gen.BaseTsNs, math.max(rate, 1.0), i)))
      val b = new java.io.ByteArrayOutputStream(payload.length + 10)
      WebSocket.writeFrame(b, WebSocket.OpBinary, payload, mask = false)
      b.toByteArray
    }
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    println(s"LISTEN ${server.getLocalPort}")
    System.out.flush()
    val sock = server.accept()
    sock.setTcpNoDelay(true)
    val in = sock.getInputStream
    var key = ""
    var line = readLine(in)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("sec-websocket-key"))
        key = line.substring(i + 1).trim
      line = readLine(in)
    }
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      "Connection: Upgrade\r\nSec-WebSocket-Accept: " + WebSocket.acceptKey(key) + "\r\n\r\n")
      .getBytes("UTF-8"))
    out.flush()
    val lagUs = new Array[Int](n)
    val wall0 = Common.epochNs()
    val t0 = System.nanoTime()
    val base = t0 + 200000000L
    println(s"START ${wall0 + 200000000L}")
    System.out.flush()
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      val due = if (rate > 0) base + (i * 1e9 / rate).toLong else now
      if (now < due) java.util.concurrent.locks.LockSupport.parkNanos(due - now)
      else {
        var due2 = due
        while (i < n && due2 <= now) {
          lagUs(i) = ((now - due2) / 1000L).toInt
          out.write(frames(i))
          i += 1
          due2 = if (rate > 0) base + (i * 1e9 / rate).toLong else now
        }
        out.flush()
      }
    }
    val sentS = (System.nanoTime() - t0) / 1e9
    val sorted = lagUs.clone(); util.Arrays.sort(sorted)
    val rep = Common.mapper.createObjectNode()
    rep.put("frames_sent", n)
    rep.put("send_s", sentS)
    rep.put("lag_p50_ms", Common.pct(sorted.map(_.toLong), 0.5) / 1000.0)
    rep.put("lag_p99_ms", Common.pct(sorted.map(_.toLong), 0.99) / 1000.0)
    rep.put("lag_max_ms", sorted.lastOption.getOrElse(0) / 1000.0)
    println("DONE " + Common.mapper.writeValueAsString(rep))
    System.out.flush()
    // hold the connection open (an idle stream) until the consumer hangs up
    try { sock.setSoTimeout(120000); while (in.read() >= 0) () }
    catch { case _: java.io.IOException => () }
    sock.close(); server.close()
  }

  private def readLine(in: java.io.InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    sb.toString
  }

  /** Starts a generator process; returns it with its port. */
  def launch(work: String, seed: Long, rate: Double, frames: Long): (Process, Int, BufferedReader) = {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val pb = new ProcessBuilder(java, "-Xmx1g", "-XX:+UseSerialGC", "-cp", System.getProperty("java.class.path"),
      "graft.perfbench.WsGen", "--seed", seed.toString, "--rate", rate.toString,
      "--frames", frames.toString)
    pb.redirectError(new File(work, "wsgen.err"))
    val p = pb.start()
    val r = new BufferedReader(new InputStreamReader(p.getInputStream, "UTF-8"))
    val l = r.readLine()
    require(l != null && l.startsWith("LISTEN "), s"generator did not start: $l")
    (p, l.stripPrefix("LISTEN ").trim.toInt, r)
  }

  /** Reads the generator's report lines on a daemon thread: `onStart`
    * gets the schedule's wall-clock start. */
  def follow(r: BufferedReader, onStart: Long => Unit): java.util.concurrent.CompletableFuture[Map[String, Double]] = {
    val done = new java.util.concurrent.CompletableFuture[Map[String, Double]]()
    val t = new Thread(() => {
      var l = r.readLine()
      while (l != null && !done.isDone) {
        if (l.startsWith("START ")) onStart(l.stripPrefix("START ").trim.toLong)
        else if (l.startsWith("DONE "))
          done.complete(Common.mapper.readTree(l.stripPrefix("DONE ")).fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap)
        l = r.readLine()
      }
      done.complete(Map.empty)
    }, "perfbench-wsgen-reader")
    t.setDaemon(true)
    t.start()
    done
  }

  def finish(p: Process, report: java.util.concurrent.CompletableFuture[Map[String, Double]]): Map[String, Double] = {
    if (!p.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    report.get(5, java.util.concurrent.TimeUnit.SECONDS)
  }
}

/** `graft-firehose-socket` as a stream that `Trigger.AvailableNow`
  * keeps reading: `NozzlePipeline.startDlq` drains with AvailableNow,
  * which ends at the first empty poll. This wrapper delegates every
  * call to the program's socket stream and only makes `latestOffset`
  * wait for the next frame until `totalFrames` have been admitted (or
  * `waitMs` passes), so the shipped sink runs unchanged on a live
  * socket. */
class LiveSocketSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FirehoseSocketSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val inner = new FirehoseSocketSource().getTable(schema, partitioning, properties).asInstanceOf[SupportsRead]
    new Table with SupportsRead {
      override def name(): String = "perfbench-live-socket"
      override def schema(): StructType = FirehoseSocketSource.schema
      override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        val scan = inner.newScanBuilder(options).build()
        new ScanBuilder with Scan {
          override def build(): Scan = this
          override def readSchema(): StructType = FirehoseSocketSource.schema
          override def toMicroBatchStream(ckpt: String): MicroBatchStream =
            new LiveStream(scan.toMicroBatchStream(ckpt).asInstanceOf[MicroBatchStream with SupportsAdmissionControl],
              options.getLong("totalFrames", Long.MaxValue), options.getLong("waitMs", 60000L))
        }
      }
    }
  }
}

private final class LiveStream(inner: MicroBatchStream with SupportsAdmissionControl, total: Long, waitMs: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val deadline = System.nanoTime() + waitMs * 1000000L
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def reportLatestOffset(): Offset = inner.reportLatestOffset()
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    var o = inner.latestOffset(start, limit)
    while (o.json() == start.json() && start.json().trim.toLong < total && System.nanoTime() < deadline) {
      Thread.sleep(1)
      o = inner.latestOffset(start, limit)
    }
    o
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    inner.planInputPartitions(start, end)
  override def createReaderFactory(): PartitionReaderFactory = inner.createReaderFactory()
  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
}

/** `nozzle-ws`: open loop at a fixed offered rate through
  * `graft-firehose-socket` (protocol=ws) → `envelope_proto_decode` →
  * drop NULL → `routeExpr` → `envelope_json` → `startDlq`. */
object Ws {
  /** Seconds of the timed stream's schedule before its measured part. */
  val WarmSeconds = 2.0
  /** Seconds of the separate warm-up stream that runs first. */
  val WarmupStreamSeconds = 3.0
  /** Frames the flooding generator sends to the bare reader. */
  val ReaderFrames = 200000L

  def run(spark: SparkSession, a: Args, o: Outcome, probe: Option[Probe], root: Int): Unit = {
    val seed = a.long("seed")
    val work = a.str("work")
    val rate = a.double("rate")
    val seconds = a.double("seconds")
    val n = ((WarmSeconds + seconds) * rate).toLong
    val warmFrames = (WarmSeconds * rate).toLong
    val routing = GraftConfig.toRouting(Common.routes(a).kafka.topic)
    // expected ledger, from the same seeded frames the generator sends
    val exp = new Nozzle.Expected(seed)
    var malformed = 0L
    val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0L
    while (i < n) {
      if (Gen.wsMalformed(seed, i)) malformed += 1
      else {
        exp.add(Gen.stampOf(Gen.BaseTsNs, rate, i))
        if (Gen.sampled(seed, i)) samples += i
      }
      i += 1
    }
    // warm-up stream: fills the codegen cache and lets the JIT compile
    // the decode/route/encode/publish path before anything is timed
    Ledger.reset()
    Ledger.failSeed = seed
    stream(spark, work, routing, seed ^ 0x3a7, rate, (WarmupStreamSeconds * rate).toLong, "warm")

    Ledger.reset()
    Ledger.failSeed = seed
    samples.foreach(i => Nozzle.expectSample(Gen.wsEnvelope(seed, i, Gen.stampOf(Gen.BaseTsNs, rate, i))))
    // nothing is timed until the generator reports its schedule start
    Ledger.stampFromPayload = true
    Ledger.measureFromNs = Long.MaxValue
    Ledger.latencyUs = new Array[Int](n.toInt)
    Ledger.timeCalls = probe.isDefined
    val st = stream(spark, work, routing, seed, rate, n, "timed", s => {
      Ledger.stampOffsetNs = s - Gen.BaseTsNs
      Ledger.measureFromNs = Gen.stampOf(s, rate, warmFrames)
    })
    val (q, stats, genRep, startNs) = (st.query, st.stats, st.generator, st.startNs)
    val measureFromNs = Ledger.measureFromNs
    o.check(st.finished, "stream did not drain every offered frame in time")
    o.check(q.exception.isEmpty, s"stream failed: ${q.exception.map(_.getMessage).getOrElse("")}")
    val streamSpan = probe.map(p => p.span("nozzle-ws.stream", root, startNs / 1e6, p.nowMs())).getOrElse(root)

    val ps = q.recentProgress
    def obs(k: String): Long = ps.map(p => Option(p.observedMetrics.get("ws")).map(_.getAs[Long](k)).getOrElse(0L)).sum
    val measured = math.min(Ledger.latencyN.get(), n).toInt
    val lat = Ledger.latencyUs.take(measured).map(_.toLong)
    val wallS = (Ledger.lastPublishNs.get() - measureFromNs) / 1e9
    // CPU is taken over the whole timed stream, its untimed first part included
    Nozzle.report(o, measured, wallS, st.cpuNs / 1000.0 / math.max(1L, Ledger.ok.sum()), lat)
    o.note("offered_rate", rate); o.note("frames", n); o.note("generator", genRep)
    o.note("micro_batches", ps.length)
    o.attempted = exp.count
    Nozzle.checkLedger(o, exp)
    o.check(obs("frames") == n, s"admitted ${obs("frames")} of $n frames")
    o.check(obs("dropped") == malformed, s"dropped ${obs("dropped")} frames, $malformed were malformed")
    o.check(obs("forwarded") + obs("ignored") == n - malformed, "consume != forwarded + ignored")
    o.check(obs("forwarded") == stats.publish.get() + stats.publishFail.get(),
      s"forwarded ${obs("forwarded")} != publish ${stats.publish.get()} + publish_fail ${stats.publishFail.get()}")
    o.check(obs("forwarded") == exp.count && obs("ignored") == 0, "every well-formed frame routes")
    o.check(stats.publishFail.get() == 0, s"${stats.publishFail.get()} rows sent to the DLQ")
    o.check(genRep.getOrElse("frames_sent", 0.0) == n.toDouble, "generator did not send every frame")
    val rateRatio = (measured / wallS) / rate
    o.note("throughput_over_offered", rateRatio)
    if (rateRatio < 0.9)
      System.err.println(f"[perfbench] nozzle-ws published ${measured / wallS}%.0f/s of $rate%.0f/s offered: backlog grew")

    probe.foreach { p =>
      Nozzle.layerMetrics(o, p, q, 1L, streamSpan, "ws", wallS, Seq(q))
      o.metric("sink.dlq_rows", stats.publishFail.get().toDouble, "count")
      o.metric("gen.lag_p99_ms", genRep.getOrElse("lag_p99_ms", 0.0), "ms")
      o.metric("gen.frames_sent", genRep.getOrElse("frames_sent", 0.0), "count")
      o.metric("traced.throughput_per_s", measured / wallS, "1/s")
      readerCeiling(o, work, seed)
    }
  }

  final case class Streamed(query: StreamingQuery, stats: Stats, generator: Map[String, Double],
      startNs: Long, cpuNs: Long, finished: Boolean)

  /** One open-loop stream of `n` frames at `rate` through the pipeline
    * into [[CountingPublisher]]; returns once every frame is drained. */
  def stream(spark: SparkSession, work: String, routing: NozzlePipeline.TopicConfig, seed: Long,
      rate: Double, n: Long, tag: String, onStart: Long => Unit = _ => ()): Streamed = {
    val (gen, port, genOut) = WsGen.launch(work, seed, rate, n)
    @volatile var startNs = 0L
    val report = WsGen.follow(genOut, s => { startNs = s; onStart(s) })
    val stats = Stats()
    val seconds = n / rate
    val env = spark.readStream.format(classOf[LiveSocketSource].getName)
      .option("host", "127.0.0.1").option("port", port.toString).option("protocol", "ws")
      .option("rowsPerBatch", "10000000").option("idleTimeoutMs", "30000")
      .option("totalFrames", n.toString)
      .option("waitMs", (seconds * 1000 + 60000).toLong.toString)
      .load()
      .select(Functions.envelope_proto_decode(encode(col("frame"), "ISO-8859-1")).as("envelope"))
    val routed = env
      .withColumn("topic", NozzlePipeline.routeExpr(routing, col("envelope")))
      .observe("ws", count(lit(1)).as("frames"), count(when(col("envelope").isNull, 1)).as("dropped"),
        count(when(col("envelope").isNotNull && col("topic").isNotNull, 1)).as("forwarded"),
        count(when(col("envelope").isNotNull && col("topic").isNull, 1)).as("ignored"))
      .filter(col("envelope").isNotNull && col("topic").isNotNull)
      .select(lit(0L).as("event_id"), col("topic"), Functions.envelope_json(col("envelope")).as("payload"))
    val ckpt = s"$work/ckpt-$tag"
    val cpu0 = Common.processCpuNs()
    val q = NozzlePipeline.startDlq(routed, ckpt, new CountingPublisher,
      GraftConfig.DefaultRepartitionMax, stats, s"$work/dlq")
    val finished = try q.awaitTermination((seconds * 1000 + 90000).toLong)
    finally if (q.isActive) q.stop()
    val cpu1 = Common.processCpuNs()
    val genRep = WsGen.finish(gen, report)
    Common.deleteRecursively(new File(ckpt))
    Streamed(q, stats, genRep, startNs, cpu1 - cpu0, finished)
  }

  /** `NozzleReader.runWs` driven directly against a flooding generator,
    * outside Spark: the transport's own ceiling in frames/s. */
  def readerCeiling(o: Outcome, work: String, seed: Long): Unit = {
    val frames = ReaderFrames
    val (gen, port, out) = WsGen.launch(work, seed ^ 0x7ead, 0, frames)
    val report = WsGen.follow(out, _ => ())
    val fetcher = new Connector.TokenFetcher("uaa.local", "bench", "bench", () => "token")
    val t0 = System.nanoTime()
    var got = 0L
    val r = NozzleReader.runWs("127.0.0.1", port, fetcher, new Connector.Backoff(100, 1000, 5), 30000,
      frames, _ => got += 1)
    val s = (System.nanoTime() - t0) / 1e9
    WsGen.finish(gen, report)
    o.metric("reader.frames_per_s", got / s, "1/s")
    o.metric("reader.dials", r.map(_.dials.toDouble).getOrElse(0.0), "count")
    o.check(got == frames, s"reader delivered $got of $frames flooded frames")
  }
}
