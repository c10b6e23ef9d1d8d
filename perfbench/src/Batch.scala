package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry

/** `batch-sample`: closed loop, one client. A frozen, stratified
  * sample of `SparkEntry.queries` runs to the `noop` sink with blocking
  * unpersist between queries (the Bench discipline): one untimed pass
  * that also writes every result for the oracle check, then one timed
  * pass. */
object Batch {

  def run(spark: SparkSession, a: Args, o: Outcome, probe: Option[Probe], root: Int): Unit = {
    val tables = a.str("tables")
    val names = Files.readAllLines(Paths.get(a.str("queries"))).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"sample names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext

    // Bench's session warm-up, then one untimed pass over the sample so
    // every query's classes, generated code and JIT profile are warm.
    // The pass writes every result for the oracle check.
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val out = a.str("validate-out")
    val errors = new java.util.LinkedHashMap[String, String]()
    names.foreach { name =>
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      try SparkEntry.queries(name)(spark, tables).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => errors.put(name, String.valueOf(e.getMessage)) }
    }
    new File(out).mkdirs()
    val oracle = new java.util.LinkedHashMap[String, String]()
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(sql => oracle.put(n, sql)))
    Common.mapper.writeValue(new File(out, "oracle_sql.json"), oracle)
    Common.mapper.writeValue(new File(out, "errors.json"), errors)
    val noOracle = names.filterNot(oracle.containsKey)
    o.check(noOracle.isEmpty, s"sampled queries without oracle SQL: ${noOracle.mkString(", ")}")
    val floor = probe.map { _ =>
      (0 until 7).map { _ =>
        val t = System.nanoTime(); sc.parallelize(Seq(1), 1).count(); (System.nanoTime() - t) / 1e6
      }.drop(2)
    }

    val compile0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    final case class Q(name: String, constructS: Double, executeS: Double, persisted: Int,
        startMs: Double, builtMs: Double, endMs: Double, cpuNs: Long) {
      def wallS: Double = constructS + executeS
    }
    val qs = names.flatMap { name =>
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // start every query from a collected heap, so a pause the previous
      // query left behind is not charged to this one
      System.gc()
      sc.setLocalProperty("perfbench.scope", name)
      try {
        val w0 = Common.epochNs() / 1e6
        val cpu0 = Common.processCpuNs()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, tables)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val cpu1 = Common.processCpuNs()
        Some(Q(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, sc.getPersistentRDDs.size,
          w0, w0 + (t1 - t0) / 1e6, w0 + (t2 - t0) / 1e6, cpu1 - cpu0))
      } catch {
        case e: Throwable =>
          o.check(false, s"$name threw: ${e.getMessage}")
          None
      } finally sc.setLocalProperty("perfbench.scope", null)
    }
    o.attempted = names.size
    o.failed = names.size - qs.size

    val walls = qs.map(_.wallS * 1000.0)
    val suiteS = walls.sum / 1000.0
    // too few queries for a percentile with ten beyond it: the tail is p90
    val tailQ = 0.9
    o.metric("throughput_per_s", qs.size / suiteS, "1/s")
    o.metric("latency_p50_ms", Common.pct(walls, 0.5), "ms")
    o.metric("latency_tail_ms", Common.pct(walls, tailQ), "ms")
    // process CPU of construct + execute only, like the wall times: the
    // forced GC and the unpersist between queries are left out
    o.metric("cpu_us_per_op", qs.map(_.cpuNs).sum / 1000.0 / math.max(1, qs.size), "us")
    o.note("suite_s", suiteS); o.note("query_p50_s", Common.pct(walls, 0.5) / 1000.0)
    o.note("query_p80_s", Common.pct(walls, 0.8) / 1000.0); o.note("tail_quantile", tailQ)
    o.note("queries", qs.map(q => q.name -> q.wallS).toMap)

    probe.foreach { p =>
      o.metric("query.construct_s", qs.map(_.constructS).sum, "s")
      o.metric("query.execute_s", qs.map(_.executeS).sum, "s")
      o.metric("query.persisted_rdds", qs.map(_.persisted).sum.toDouble, "count")
      val ph = p.phases.synchronized(p.phases.toList)
      def phase(k: String): Double = qs.map { q =>
        ph.filter(x => x._1 == k && x._2 >= q.startMs - 1 && x._2 <= q.endMs).map(x => x._3 - x._2).sum
      }.sum / 1000.0
      o.metric("query.analysis_s", phase("analysis"), "s")
      o.metric("query.optimization_s", phase("optimization"), "s")
      o.metric("query.planning_s", phase("planning"), "s")
      o.metric("codegen.compile_ms", (CodeGenerator.compileTime - compile0) / 1e6, "ms")
      o.note("codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      // task totals by scope cover the timed pass only: the warm pass ran unscoped
      val t = names.map(p.totalsOf)
      o.metric("query.jobs", t.map(_.jobs).sum.toDouble, "count")
      o.metric("query.tasks", t.map(_.tasks).sum.toDouble, "count")
      o.metric("query.task_s", t.map(_.runMs).sum / 1000.0, "s")
      o.metric("query.shuffle_write_mb", t.map(_.shuffleWriteB).sum / 1048576.0, "MB")
      o.metric("query.spill_mb", t.map(_.spillB).sum / 1048576.0, "MB")
      o.metric("query.gc_s", t.map(_.gcMs).sum / 1000.0, "s")
      o.metric("job_floor_ms", Common.pct(floor.get, 0.5), "ms")
      o.metric("exec.task_s", t.map(_.runMs).sum / 1000.0, "s")
      o.metric("exec.gc_s", t.map(_.gcMs).sum / 1000.0, "s")
      o.metric("exec.busy_share", t.map(_.runMs).sum / 1000.0 / (suiteS * Common.cores), "ratio")
      o.metric("traced.throughput_per_s", qs.size / suiteS, "1/s")
      val jobs = p.jobs.values.asScala.toSeq
      qs.foreach { q =>
        val id = p.span("query", root, q.startMs, q.endMs)
        val c = p.span("query.construct", id, q.startMs, q.builtMs)
        val e = p.span("query.execute", id, q.builtMs, q.endMs)
        ph.filter(x => x._2 >= q.startMs - 1 && x._2 <= q.endMs).foreach { x =>
          p.span(s"query.${x._1}", if (x._2 < q.builtMs) c else e, x._2.toDouble, x._3.toDouble)
        }
        jobs.filter(j => j.scope == q.name && j.startMs >= q.startMs - 1 && j.startMs <= q.endMs).foreach { j =>
          p.span("query.job", if (j.startMs < q.builtMs) c else e, j.startMs,
            if (j.endMs.isNaN) j.startMs else j.endMs)
        }
      }
    }

  }
}
