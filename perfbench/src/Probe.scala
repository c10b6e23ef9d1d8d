package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional), the clock every Spark listener event carries. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** One Spark job: its scope, its micro-batch (or -1) and its interval. */
final case class Job(id: Int, scope: String, batch: Long, startMs: Double, var endMs: Double)

/** Task-level totals of one scope (a query, or one streaming query). */
final class TaskTotals {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWriteB = 0L; var spillB = 0L
}

/** The traced run's recorder. Spans are kept in memory and written out
  * at the end; Spark's own listeners supply micro-batch progress, job
  * and task metrics and the analysis/optimization/planning phases.
  * Jobs are attributed to a scope through a local property the
  * benchmark sets (batch queries) or the streaming query id Spark sets
  * on every job of a micro-batch. */
final class Probe(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  val ScopeKey = "perfbench.scope"

  def span(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    nextId += 1; spans += Span(nextId, parent, name, startMs, endMs); nextId
  }
  def nowMs(): Double = Common.epochNs() / 1e6

  /** Times `body` as a span; the span id is passed in for children. */
  def timed[T](name: String, parent: Int)(body: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = nowMs()
    try body(id)
    finally synchronized { spans += Span(id, parent, name, t0, nowMs()) }
  }

  // ------------------------------------------------------------ jobs

  val jobs = new ConcurrentHashMap[Int, Job]()
  val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val stageScope = new ConcurrentHashMap[Int, String]()

  private def scopeOf(p: java.util.Properties): String =
    if (p == null) "other"
    else Option(p.getProperty("sql.streaming.queryId"))
      .orElse(Option(p.getProperty(ScopeKey))).getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sc = scopeOf(e.properties)
      val b = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, sc, b, e.time.toDouble, Double.NaN))
      e.stageIds.foreach(s => stageScope.put(s, sc))
      totals.computeIfAbsent(sc, _ => new TaskTotals).synchronized {
        totals.get(sc).jobs += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageScope.putIfAbsent(e.stageInfo.stageId, scopeOf(e.properties))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sc = stageScope.getOrDefault(e.stageId, "other")
      val t = totals.computeIfAbsent(sc, _ => new TaskTotals)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime; t.gcMs += m.jvmGCTime
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.spillB += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
  }

  // --------------------------------------------------------- progress

  val progress = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryProgress]]()
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = progress.computeIfAbsent(e.progress.id.toString, _ => ArrayBuffer.empty)
      b.synchronized { b += e.progress }
    }
  }

  // ----------------------------------------------------------- phases

  /** analysis / optimization / planning of every executed plan, as
    * (phase, start ms, end ms). The listener runs on Spark's listener
    * bus, so callers attribute phases to queries by time. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (n, p) => phases += ((n, p.startTimeMs, p.endTimeMs)) }
    }
  }

  def install(): Probe = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(qeListener)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(qeListener)
  }

  def progressOf(queryId: String): Seq[StreamingQueryProgress] =
    Option(progress.get(queryId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  def totalsOf(scope: String): TaskTotals =
    Option(totals.get(scope)).getOrElse(new TaskTotals)

  /** A micro-batch's phases as (phase, start ms, end ms), laid out in
    * the order the engine runs them from the trigger's start. */
  private def phasesOf(p: StreamingQueryProgress): Seq[(String, Double, Double)] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
    var t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").map { k =>
      val s = t; t += d.getOrElse(k, 0.0); (k, s, t)
    }
  }

  private def jobsOf(queryId: String, p: StreamingQueryProgress): Seq[Job] =
    jobs.values.asScala.filter(j => j.scope == queryId && j.batch == p.batchId).toSeq

  /** Jobs per micro-batch (of those with input) that the sink ran:
    * the batch's jobs that started inside its `addBatch` phase. */
  def sinkJobsPerBatch(queryId: String): Double = {
    val ps = progressOf(queryId).filter(_.numInputRows > 0)
    val n = ps.map { p =>
      val (_, a, b) = phasesOf(p).find(_._1 == "addBatch").get
      jobsOf(queryId, p).count(j => j.startMs >= a - 1 && j.startMs <= b + 1)
    }.sum
    n.toDouble / math.max(1, ps.size)
  }

  /** Micro-batch spans with their phases, and every job of the batch
    * as a child of the `addBatch` phase. */
  def addMicroBatchSpans(root: Int, label: String, queryId: String): Unit =
    progressOf(queryId).foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val b = span(s"$label.micro-batch", root, start,
        start + Option(p.durationMs.get("triggerExecution")).map(_.longValue.toDouble).getOrElse(0.0))
      phasesOf(p).foreach { case (k, s, e) =>
        val id = span(s"$label.$k", b, s, e)
        if (k == "addBatch")
          jobsOf(queryId, p).foreach(j => span(s"$label.job", id, j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
      }
    }

  /** Self time by span name: each span's duration minus the part of
    * its interval its children cover. */
  def selfTimes(): Seq[(String, Double, Int)] = synchronized {
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
      cs.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      (s.name, math.max(0.0, s.durMs - covered))
    }
    self.groupBy(_._1).map { case (n, xs) => (n, xs.map(_._2).sum, xs.size) }
      .toSeq.sortBy(-_._2)
  }

  def writeSpans(path: java.io.File): Unit = synchronized {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val o = Common.mapper.createObjectNode()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
      w.println(Common.mapper.writeValueAsString(o))
    } finally w.close()
  }
}
