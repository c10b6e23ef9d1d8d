package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("aggregate signatures equal the array-based q18 formulation") {
    // q32 (streaming aggregate) and the q18 internal signature table
    // (transform + array_min over per-doc arrays) must agree exactly
    val agg = SparkEntry.queries("q32_minhash_sig")(spark, sf)
    val arrayBased = {
      val docs = Tables.documents(spark, sf)
      val words = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
      docs.select(col("doc_id"), words.as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"),
          expr("transform(sequence(1, size(words)-2), i -> array_join(slice(words, i, 3), ' '))").as("sh"))
        .select(col("doc_id"), array_distinct(col("sh")).as("sset"))
        .select(col("doc_id"),
          expr("transform(sset, x -> pmod(cast(conv(substring(md5(x),1,15),16,10) as bigint), 2147483647))").as("hs"))
        .select(col("doc_id"),
          expr("""transform(sequence(0, 11), k ->
                    array_min(transform(hs, hm ->
                      pmod(pmod(1103515245L * (k+1) + 12345L, 2147483647) * hm + 977L * (k+1), 2147483647))))""")
            .as("mh_ref"))
    }
    // q32 emits scalar (doc_id, k, mh_k) rows; compare against the
    // k-th element of the reference array
    val joined = agg.join(arrayBased, "doc_id")
    assert(joined.count() === agg.count())
    assert(joined
      .filter(col("mh_k") =!= element_at(col("mh_ref"), (col("k") + 1).cast("int")))
      .count() === 0)
  }

  test("aggregate does map-side partial aggregation") {
    val plan = SparkEntry.queries("q32_minhash_sig")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_minhash_agg"), s"no partial agg:\n$plan")
  }

  test("scalar minhash_array equals the streaming aggregate (q32)") {
    val agg = SparkEntry.queries("q32_minhash_sig")(spark, sf)
    val scalar = Tables.documents(spark, sf)
      .select(col("doc_id"),
        Functions.word_shingles(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), 3).as("sset"))
      .filter(size(col("sset")) >= 1)
      .select(col("doc_id"),
        posexplode(Functions.minhash_array(col("sset"))))
      .select(col("doc_id"), col("pos").cast("long").as("k"), col("col").as("mh_k2"))
    val joined = agg.join(scalar, Seq("doc_id", "k"))
    assert(joined.count() === agg.count())
    assert(joined.filter(col("mh_k") =!= col("mh_k2")).count() === 0)
  }

  test("minhash_array: empty array -> null; SQL name resolves") {
    Functions.register(spark)
    val r = spark.sql(
      "SELECT minhash_array(array('a b c', 'b c d')) AS mh, " +
        "minhash_array(CAST(array() AS ARRAY<STRING>)) AS e")
      .head()
    assert(r.getSeq[Long](0).length === 12)
    assert(r.isNullAt(1))
  }

  test("SQL registration and empty-group null") {
    Functions.register(spark)
    val r = spark.sql(
      "SELECT minhash_agg(h) AS mh FROM VALUES (5L), (3L), (11L) AS t(h)")
      .head().getSeq[Long](0)
    assert(r.length === 12)
    // null input rows are ignored; all-null group yields null
    val n = spark.sql(
      "SELECT minhash_agg(h) AS mh FROM VALUES (CAST(NULL AS BIGINT)) AS t(h)")
    assert(n.head().isNullAt(0))
  }
}
