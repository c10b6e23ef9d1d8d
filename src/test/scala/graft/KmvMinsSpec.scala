package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** kmv_mins semantics: exact bottom-k distinct under arbitrary
  * partitioning (merge trees), short-group passthrough, kmv_kth as the
  * k-th element (NULL below k distinct values), and the q117
  * union-sketch Jaccard estimator's agreement with a brute-force
  * driver-side replay of the same estimator.
  */
class KmvMinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** (kmv_mins, kmv_kth) of one group, both with the same k. */
  private def sketch(xs: Seq[Long], k: Int, parts: Int): (Seq[Long], Option[Long]) = {
    import spark.implicits._
    val r = xs.toDF("h").repartition(parts)
      .agg(Functions.kmv_mins(col("h"), k).as("m"), Functions.kmv_kth(col("h"), k).as("kth"))
      .collect()(0)
    (r.getSeq[Long](0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  test("bottom-k distinct, ascending, any partitioning") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(5000)(rnd.nextInt(800).toLong)
    val want = xs.distinct.sorted.take(64)
    for (parts <- Seq(1, 7, 32)) {
      val (mins, kth) = sketch(xs, 64, parts)
      assert(mins == want, s"parts=$parts")
      // kmv_kth is the k-th kmv_mins element
      assert(kth == Some(mins(63)), s"parts=$parts")
    }
  }

  test("group smaller than k returns the full distinct set") {
    val xs = Seq(5L, 3L, 3L, 9L, 5L)
    // no k-th minimum below k distinct values: kmv_kth is NULL
    assert(sketch(xs, 64, 4) == (Seq(3L, 5L, 9L), None))
  }

  test("q117 estimator matches a driver-side replay on real sketches") {
    // Re-derive the per-source sketches exactly as q117 does, then
    // compute |U ∩ A ∩ B| / |U| by hand and compare to the query.
    val hs = Tables.documents(spark, sf)
      .select(col("source"),
        explode(Functions.word_shingles(
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), 3)).as("sh"))
      .select(col("source"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
    val sk = hs.groupBy("source")
      .agg(Functions.kmv_mins(col("h"), 64).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toVector).toMap
    val want = sk.keys.toSeq.sorted.combinations(2).map { case Seq(x, y) =>
      val (ma, mb) = (sk(x), sk(y))
      val u = (ma ++ mb).distinct.sorted.take(64)
      val common = u.count(h => ma.contains(h) && mb.contains(h)).toLong
      (x, y, u.size.toLong, common, common * 1000000L / u.size)
    }.toSeq
    val got = SparkEntry.queries("q117_kmv_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
  }
}
