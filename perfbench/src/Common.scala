package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command line of the benchmark JVM: `--key value` pairs. */
final case class Args(kv: Map[String, String]) {
  def str(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  def flag(k: String): Boolean = kv.get(k).contains("1")
}

object Args {
  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0 && a.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --key value pairs: ${a.mkString(" ")}")
    Args(a.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }
}

/** One workload's outcome: the checks it ran, what it counted, and the
  * numbers it measured. End-to-end metrics come from the untraced run;
  * per-layer ones only exist in the traced run. */
final class Outcome {
  val metrics = new java.util.LinkedHashMap[String, (Double, String)]()
  val detail = new java.util.LinkedHashMap[String, Any]()
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics.put(name, (value, unit))
  }
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  def note(k: String, v: Any): Unit = detail.put(k, v)
}

object Common {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The routing table of `--routes`. */
  def routes(a: Args): graft.config.GraftConfig =
    graft.config.GraftConfig.load(a.str("routes")).fold(e => throw new IllegalArgumentException(e), identity)

  /** The benchmark's Spark session: the engine's own `GraftSession`
    * tuning and function registration, on `local[cores]`. */
  def session(cores: Int): SparkSession = {
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cores.toString)
        // keep every micro-batch's progress for the run's own accounting
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession(spark)
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after full collections: the live set left behind. */
  def liveHeapMb(): Double = {
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Nearest-rank percentile of an unsorted sample (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def pct(xs: Array[Long], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.clone(); java.util.Arrays.sort(s)
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))).toDouble
    }

  /** The highest percentile of `n` samples that still leaves at least
    * ten samples above it (capped at p99). */
  def tailQuantile(n: Int): Double =
    if (n <= 10) 0.5 else math.min(0.99, math.max(0.5, math.floor(100.0 * (n - 10) / n) / 100.0))

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def toJson(o: Outcome, context: Map[String, Any]): ObjectNode = {
    val root = mapper.createObjectNode()
    val ctx = root.putObject("context")
    context.foreach { case (k, v) => ctx.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    root.put("attempted", o.attempted)
    root.put("failed", o.failed)
    val fs = root.putArray("check_failures")
    o.failures.foreach(f => fs.add(f))
    val ms = root.putObject("metrics")
    o.metrics.asScala.foreach { case (k, (v, u)) =>
      val m = ms.putObject(k); m.put("value", v); m.put("unit", u)
    }
    val d = root.putObject("detail")
    o.detail.asScala.foreach { case (k, v) => d.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    root
  }
}
