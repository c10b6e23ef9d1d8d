package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Curation

/** The q59 funnel's stateless gates on a document STREAM: quality +
  * repetition + bloom decontamination, no state store, stream ≡ batch. */
class StreamingCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private lazy val batchDocs = Tables.documents(spark, sf)
  private lazy val evalBloom =
    Curation.evalShingleBloom(batchDocs.filter(col("doc_id") % 97 === 0))

  test("streamed gate verdicts are identical to the batch gate") {
    val srcDir = tmp("cur-src")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream
      .schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = Curation.gate(stream, evalBloom)
      .select("doc_id", "quality_ok", "rep_ok", "contaminated", "kept")
      .writeStream
      .format("memory").queryName("cur_gate")
      .option("checkpointLocation", tmp("cur-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // stateless: the plan must contain no state operator at all
    assert(q.lastProgress.stateOperators.isEmpty,
      "curation gate should not plan a state store")

    val streamed = spark.table("cur_gate")
    assert(streamed.count() === batchDocs.count())
    val batch = Curation.gate(batchDocs, evalBloom)
      .select(col("doc_id"), col("quality_ok").as("b_q"),
        col("rep_ok").as("b_r"), col("contaminated").as("b_c"), col("kept").as("b_k"))
    val diff = streamed.join(batch, "doc_id")
      .filter(col("quality_ok") =!= col("b_q") || col("rep_ok") =!= col("b_r")
        || col("contaminated") =!= col("b_c") || col("kept") =!= col("b_k"))
    assert(diff.count() === 0, "stream and batch gate verdicts diverged")
  }

  test("bloom decontamination never misses a truly contaminated document") {
    val gated = Curation.gate(batchDocs, evalBloom)
      .select(col("doc_id"), col("contaminated"))
    // exact ground truth: distinct shingle overlap with the eval split
    val sh = batchDocs
      .select(col("doc_id"),
        explode(graft.Functions.word_shingles(Curation.normText(col("text")), 3)).as("span"))
    val ev = sh.filter(col("doc_id") % 97 === 0).select("span").distinct()
    val truth = sh.join(ev, "span").select("doc_id").distinct()
      .withColumn("hit", lit(true))
    val joined = gated.join(truth, Seq("doc_id"), "left_outer")
    // no false negatives (the decontamination guarantee)...
    assert(joined.filter(col("hit") === true && !col("contaminated")).count() === 0)
    // ...and the false-positive overreach is bounded (1M-bit filter on
    // a tiny shingle set: expect zero; allow 1% of the corpus)
    val fps = joined.filter(col("hit").isNull && col("contaminated")).count()
    assert(fps <= batchDocs.count() / 100,
      s"bloom flagged $fps clean documents — filter too small for the shingle set")
  }

  test("gate verdicts equal the q59 funnel's quality/repetition columns") {
    // the shared-definition contract: the streaming gate and the
    // batch funnel must produce identical quality_ok/rep_ok verdicts
    val funnel = SparkEntry.queries("q59_funnel")(spark, sf)
      .select(col("doc_id"), col("quality_ok").as("f_q"), col("rep_ok").as("f_r"))
    val gated = Curation.gate(batchDocs, evalBloom)
      .select(col("doc_id"), col("quality_ok"), col("rep_ok"))
    val diff = gated.join(funnel, "doc_id")
      .filter(col("quality_ok") =!= col("f_q") || col("rep_ok") =!= col("f_r"))
    assert(diff.count() === 0, "streaming gate diverged from the batch funnel")
  }

  test("bloom decontamination holds at a wider span width (k=4)") {
    val bloom4 =
      Curation.evalShingleBloom(batchDocs.filter(col("doc_id") % 97 === 0), k = 4)
    val gated = Curation.gate(batchDocs, bloom4, k = 4)
      .select(col("doc_id"), col("contaminated"))
    val sh = batchDocs.select(col("doc_id"),
      explode(graft.Functions.word_shingles(Curation.normText(col("text")), 4)).as("span"))
    val ev = sh.filter(col("doc_id") % 97 === 0).select("span").distinct()
    val truth = sh.join(ev, "span").select("doc_id").distinct()
      .withColumn("hit", lit(true))
    val joined = gated.join(truth, Seq("doc_id"), "left_outer")
    assert(joined.filter(col("hit") === true && !col("contaminated")).count() === 0,
      "k=4 bloom missed a truly contaminated document")
    // wider spans are strictly rarer: k=4 must not flag more docs than k=3
    val flagged3 = Curation.gate(batchDocs, evalBloom)
      .filter(col("contaminated")).count()
    val flagged4 = gated.filter(col("contaminated")).count()
    assert(flagged4 <= flagged3,
      s"k=4 flagged $flagged4 docs but k=3 only $flagged3 — selectivity inverted")
  }

  test("keptStream filters a live stream down to the kept documents") {
    val srcDir = tmp("kept-src")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$srcDir/part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream.schema(batchDocs.schema).parquet(srcDir)
    val q = Curation.keptStream(stream, evalBloom)
      .writeStream
      .format("memory").queryName("kept_live")
      .option("checkpointLocation", tmp("kept-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val live = spark.table("kept_live")
    val expect = Curation.gate(batchDocs, evalBloom).filter(col("kept"))
    assert(live.count() === expect.count())
    assert(live.columns.toSeq === batchDocs.columns.toSeq)
    // same documents, not just the same count
    assert(live.select("doc_id").exceptAll(expect.select("doc_id")).count() === 0)
  }

  test("kept stream keeps exactly the documents every gate passes") {
    val kept = Curation.keptStream(batchDocs, evalBloom)
    val gate = Curation.gate(batchDocs, evalBloom)
    assert(kept.count() === gate.filter(col("kept")).count())
    assert(kept.columns.toSeq === batchDocs.columns.toSeq,
      "kept stream should preserve the source schema")
    // the gates really cut something on this corpus (non-vacuous test)
    assert(kept.count() > 0 && kept.count() < batchDocs.count())
  }
}
