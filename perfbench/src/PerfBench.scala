package graft.perfbench

import java.io.File

import org.apache.spark.SPARK_VERSION

/** Benchmark JVM entry point, started by `perfbench/run.py`.
  *
  * `--mode setup` builds the session and exits (a set-up sample);
  * `--mode run` then runs one workload. Both print `SETUP_DONE <epoch
  * ns>` as soon as the session is ready and the engine's functions are
  * registered; a run ends with one `RESULT <json>` line. */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = Common.session(Common.cores)
    println(s"SETUP_DONE ${Common.epochNs()}")
    System.out.flush()
    if (a.str("mode") == "setup") { spark.stop(); return }

    val workload = a.str("workload")
    val trace = a.flag("trace")
    val work = a.str("work")
    new File(work).mkdirs()
    val o = new Outcome
    val probe = if (trace) Some(new Probe(spark).install()) else None
    val body: Int => Unit = root => workload match {
      case "nozzle-bulk" => Bulk.run(spark, a, o, probe, root)
      case "nozzle-ws" => Ws.run(spark, a, o, probe, root)
      case "batch-sample" => Batch.run(spark, a, o, probe, root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    probe match {
      case Some(p) => p.timed(workload, 0)(body)
      case None => body(0)
    }
    o.metric("live_heap_mb", Common.liveHeapMb(), "MB")

    probe.foreach { p =>
      p.uninstall()
      Codecs.run(spark, a, o)
      p.writeSpans(new File(work, "spans.jsonl"))
      o.note("self_time_ms", p.selfTimes().map { case (n, ms, c) =>
        Map("span" -> n, "self_ms" -> ms, "count" -> c)
      })
      if (workload == "nozzle-bulk") Bulk.scaleEfficiency(spark, a, o)
    }

    val fixed: Map[String, Any] = workload match {
      case "nozzle-ws" => Map("warm-seconds" -> Ws.WarmSeconds,
        "warmup-stream-seconds" -> Ws.WarmupStreamSeconds, "reader-frames" -> Ws.ReaderFrames)
      case _ => Map.empty
    }
    val paths = Set("work", "routes", "tables", "queries", "events", "warm", "scale-events", "validate-out")
    val context = Map[String, Any](
      "workload" -> workload, "seed" -> a.long("seed"), "trace" -> trace,
      "nproc" -> Common.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> SPARK_VERSION,
      "source" -> a.str("source-digest"),
      "params" -> (a.kv.filter { case (k, _) => !paths(k) } ++ fixed))
    println("RESULT " + Common.mapper.writeValueAsString(Common.toJson(o, context)))
    System.out.flush()
    scala.util.Try(org.apache.spark.sql.SparkSession.active.stop())
  }
}
