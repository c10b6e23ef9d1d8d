package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL registration parity: every custom function is reachable by
  * name from SQL (VERDICT r2 gap: kmv_kth and envelope_decode were
  * Column-API-only).
  */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // (envelope_proto / envelope_proto_decode SQL names are covered in
  // EnvelopeProtoSpec)
  test("all custom functions resolve from SQL") {
    Functions.register(spark)
    import spark.implicits._
    Seq((1L, 2L, "abc")).toDF("a", "b", "s").createOrReplaceTempView("fn_t")

    val row = spark.sql(
      """SELECT uuid_str(a, b) AS u,
                rolling_hash(s) AS rh,
                sorted_intersect_count(array('a','b'), array('b','c')) AS sic,
                envelope_json(named_struct(
                  'origin', 'o', 'eventType', 8, 'timestamp', CAST(NULL AS BIGINT),
                  'deployment', CAST(NULL AS STRING), 'job', CAST(NULL AS STRING),
                  'index', CAST(NULL AS STRING), 'ip', CAST(NULL AS STRING),
                  'tags', CAST(NULL AS MAP<STRING,STRING>),
                  'httpStartStop', CAST(NULL AS STRUCT<startTimestamp: BIGINT, stopTimestamp: BIGINT,
                    requestId: STRUCT<low: BIGINT, high: BIGINT>, peerType: INT, method: INT,
                    uri: STRING, remoteAddress: STRING, userAgent: STRING, statusCode: INT,
                    contentLength: BIGINT, applicationId: STRUCT<low: BIGINT, high: BIGINT>,
                    instanceIndex: INT, instanceId: STRING, forwarded: ARRAY<STRING>>),
                  'logMessage', CAST(NULL AS STRUCT<message: BINARY, message_type: INT,
                    timestamp: BIGINT, app_id: STRING, source_type: STRING, source_instance: STRING>),
                  'valueMetric', CAST(NULL AS STRUCT<name: STRING, value: DOUBLE, unit: STRING>),
                  'counterEvent', CAST(NULL AS STRUCT<name: STRING, delta: BIGINT, total: BIGINT>),
                  'error', named_struct('source', 's', 'code', 7, 'message', 'm'),
                  'containerMetric', CAST(NULL AS STRUCT<applicationId: STRING, instanceIndex: INT,
                    cpuPercentage: DOUBLE, memoryBytes: BIGINT, diskBytes: BIGINT,
                    memoryBytesQuota: BIGINT, diskBytesQuota: BIGINT>))) AS ej
         FROM fn_t""").head()
    assert(row.getAs[String]("u").length === 36)
    assert(row.getAs[Long]("rh") >= 0L)
    assert(row.getAs[Long]("sic") === 1L)
    assert(row.getAs[String]("ej")
      === """{"origin":"o","eventType":8,"error":{"source":"s","code":7,"message":"m"}}""")

    // decode inverts encode through SQL names
    val rt = spark.sql(
      "SELECT envelope_decode('" + row.getAs[String]("ej").replace("\"", "\\\"")
        + "') AS e FROM fn_t").selectExpr("e.origin", "e.error.code").head()
    assert(rt.getString(0) === "o")
    assert(rt.getInt(1) === 7)

    // aggregates: kmv_kth with a literal k, minhash_agg
    val agg = spark.sql(
      """SELECT kmv_kth(h, 3) AS k3, minhash_agg(h) AS mh
         FROM (SELECT explode(sequence(1L, 100L)) AS h)""").head()
    assert(agg.getAs[Long]("k3") === 3L) // 3rd smallest of 1..100
    assert(agg.getAs[Seq[Long]]("mh").length === 12)
  }

  test("round-3 natives resolve from SQL") {
    Functions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
                        array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS vd,
                gram4_codes('abcde') AS g4,
                word_shingles('a b c d', 3) AS ws,
                simhash60(array('a b c')) AS sh,
                bigram_scores(array('the', 'then', 'x'), 'th;he') AS bs,
                text_stats('ab 7 ab') AS ts""").head()
    assert(r.getAs[Double]("vd") === 11.0)
    assert(r.getAs[Seq[Int]]("g4") === Seq("abcd", "bcde").map(g =>
      (g(0) << 24) | (g(1) << 16) | (g(2) << 8) | g(3)))
    assert(r.getAs[Seq[String]]("ws") === Seq("a b c", "b c d"))
    assert(r.getAs[Long]("sh") >= 0L && r.getAs[Long]("sh") < (1L << 60))
    assert(r.getAs[Seq[Long]]("bs") === Seq(2L, 0L)) // 'the','then' start with th
    val ts = r.getStruct(r.fieldIndex("ts"))
    assert(ts.getAs[Long]("n_tokens") === 3L)
    assert(ts.getAs[Long]("n_bpe") === 3L) // 'ab', '7', 'ab'
    assert(ts.getAs[Long]("n_types") === 2L)
    assert(ts.getAs[Long]("n_wordchars") === 5L)
    assert(ts.getAs[Long]("max_tok") === 2L)
  }

  test("word_shingles(t, k): parameterized spans, k=3 parity, literal k") {
    Functions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS k3,
                word_shingles('a b c d', 2) AS k2,
                word_shingles('a b c d', 4) AS k4,
                word_shingles('a b c d', 5) AS short,
                word_shingles('b a b a b', 2) AS dedup""").head()
    def gs(n: String): Seq[String] = r.getSeq[String](r.fieldIndex(n)).toList
    assert(gs("k3") === Seq("a b c", "b c d"))
    assert(gs("k2") === Seq("a b", "b c", "c d"))
    assert(gs("k4") === Seq("a b c d"))
    assert(gs("short") === Seq.empty)
    // sorted + deduped: occurrences collapse, order is lexicographic
    assert(gs("dedup") === Seq("a b", "b a"))
    // k must be a literal
    val ex = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b', n) FROM (SELECT 2 AS n)").collect()
    }
    assert(ex.getMessage.contains("integer literal")
      || Option(ex.getCause).exists(_.getMessage.contains("integer literal")),
      s"got: ${ex.getMessage}")
    // k out of range fails analysis, not execution
    val ex2 = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b', 0)").collect()
    }
    assert(ex2.getMessage.contains("[1, 256]"), s"got: ${ex2.getMessage}")
  }

  test("word_shingles(t, k) matches the reference formulation on random corpora") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "d", "ee", "fff", "gg", "h")
    val texts = Seq.fill(300)(
      (0 until rnd.nextInt(31)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = texts.toDF("t")
    for (k <- 1 to 6) {
      val got = df.select(graft.Functions.word_shingles(col("t"), k).as("s"))
        .collect().map(_.getSeq[String](0).toList)
      val want = texts.map { t =>
        if (t.isEmpty) Nil
        else {
          val ws = t.split(" ")
          if (ws.length < k) Nil
          else ws.sliding(k).map(_.mkString(" ")).toList.distinct.sorted
        }
      }
      got.toSeq.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g === w, s"k=$k text='${texts(i)}'")
      }
    }
  }

  test("centroid_topk: dot ranking, cid tie-break, poisoning NULLs") {
    Functions.register(spark)
    val r = spark.sql(
      """SELECT centroid_topk(
           array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
           array(named_struct('cid', 3L, 'cv', array(CAST(0.5 AS DOUBLE), CAST(9.0 AS DOUBLE))),
                 named_struct('cid', 1L, 'cv', array(CAST(2.0 AS DOUBLE), CAST(0.0 AS DOUBLE))),
                 named_struct('cid', 2L, 'cv', array(CAST(0.5 AS DOUBLE), CAST(-9.0 AS DOUBLE)))),
           2) AS t""").head().getSeq[Long](0)
    // dots vs (1,0): cid3 -> 0.5, cid1 -> 2.0, cid2 -> 0.5; top-2 by
    // (dot desc, cid asc) = [1, 2]
    assert(r === Seq(1L, 2L))
    // k larger than the codebook returns all, still ranked
    val all = spark.sql(
      """SELECT centroid_topk(array(CAST(1.0 AS DOUBLE)),
           array(named_struct('cid', 7L, 'cv', array(CAST(1.0 AS DOUBLE)))), 5) AS t""")
      .head().getSeq[Long](0)
    assert(all === Seq(7L))
    // length-mismatched centroid vector poisons to NULL
    val bad = spark.sql(
      """SELECT centroid_topk(array(CAST(1.0 AS DOUBLE)),
           array(named_struct('cid', 1L, 'cv',
             array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)))), 1) AS t""").head()
    assert(bad.isNullAt(0))
  }

  test("bigram_scores rejects NULL and malformed specs at analysis time") {
    Functions.register(spark)
    // NULL spec: clean analysis failure, not an NPE
    val exNull = intercept[Exception] {
      spark.sql("SELECT bigram_scores(array('ab'), CAST(NULL AS STRING))").collect()
    }
    assert(exNull.getMessage.contains("must not be NULL"),
      s"got: ${exNull.getMessage}")
    // 3-char marker: analysis-time failure, not first-executor-eval runtime
    val exLen = intercept[Exception] {
      spark.sql("SELECT bigram_scores(array('ab'), 'abc;de')").collect()
    }
    assert(exLen.getMessage.contains("exactly 2 chars"),
      s"got: ${exLen.getMessage}")
  }

  test("repetition_stats: word/type/top-word/top-bigram tallies") {
    Functions.register(spark)
    def r(t: String): (Long, Long, Long, Long) = {
      val row = spark.sql(s"SELECT repetition_stats('$t') AS r").select(
        "r.n_words", "r.n_types", "r.top_word_n", "r.top_bigram_n").head()
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    }
    // "a b a b a": 5 words, 2 types, 'a'×3; bigrams: "a b"×2, "b a"×2
    assert(r("a b a b a") === ((5L, 2L, 3L, 2L)))
    // all distinct: every count 1
    assert(r("x y z") === ((3L, 3L, 1L, 1L)))
    // single word: no bigram
    assert(r("solo") === ((1L, 1L, 1L, 0L)))
    // empty string: one empty word, exactly `split` semantics
    assert(r("") === ((1L, 1L, 1L, 0L)))
    // fully templated: one word repeated — the degenerate boilerplate
    assert(r("spam spam spam spam") === ((4L, 1L, 4L, 3L)))
    // NULL in → NULL out
    assert(spark.sql("SELECT repetition_stats(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("repetition_stats matches a naive reference on 200 random word sequences") {
    Functions.register(spark)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "spam", "x1", "0")
    val cases = (1 to 200).map { _ =>
      (0 until (1 + rnd.nextInt(40))).map(_ => vocab(rnd.nextInt(vocab.size)))
    }
    def naive(ws: Seq[String]): (Long, Long, Long, Long) = {
      val tw = ws.groupBy(identity).values.map(_.size).max
      val bgs = ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val tb = if (bgs.isEmpty) 0 else bgs.groupBy(identity).values.map(_.size).max
      (ws.size.toLong, ws.distinct.size.toLong, tw.toLong, tb.toLong)
    }
    import spark.implicits._
    val got = cases.map(_.mkString(" ")).toDF("t")
      .selectExpr("repetition_stats(t) AS r")
      .select("r.n_words", "r.n_types", "r.top_word_n", "r.top_bigram_n")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    cases.zip(got).foreach { case (ws, g) =>
      assert(g === naive(ws), s"mismatch on: ${ws.mkString(" ")}")
    }
  }

  test("vec_quant8: symmetric int8 mapping, zero vector, NULL poisoning") {
    Functions.register(spark)
    def q(sql: String): Any = spark.sql(sql).head().get(0)
    // maxabs=2: floor(1*127/2)=63, floor(-2*127/2)=-127, floor(0.5*127/2)=31
    assert(q("SELECT vec_quant8(array(CAST(1.0 AS DOUBLE), CAST(-2.0 AS DOUBLE), CAST(0.5 AS DOUBLE)))")
      === Seq(63L, -127L, 31L))
    // all-zero vector → all zeros (no div-by-zero)
    assert(q("SELECT vec_quant8(array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))")
      === Seq(0L, 0L))
    // float input widens like the oracle
    assert(q("SELECT vec_quant8(array(CAST(3.0 AS FLOAT), CAST(-3.0 AS FLOAT)))")
      === Seq(127L, -127L))
    // NULL element poisons; NULL array → NULL
    assert(spark.sql(
      "SELECT vec_quant8(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)))").head().isNullAt(0))
    assert(spark.sql(
      "SELECT vec_quant8(CAST(NULL AS ARRAY<DOUBLE>))").head().isNullAt(0))
  }

  test("kmv_kth rejects a non-literal k") {
    Functions.register(spark)
    val ex = intercept[Exception] {
      spark.sql("SELECT kmv_kth(h, h) FROM (SELECT 1L AS h)").collect()
    }
    assert(ex.getMessage.contains("integer literal")
      || Option(ex.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("bow_counts matches the md5-prefix HOF chain (and the SQL name works)") {
    Functions.register(spark)
    import org.apache.spark.sql.functions._
    val s2 = spark
    import s2.implicits._
    // random-ish normalized texts incl. the empty string (one empty
    // token, like split(t, ' ')) and single words
    val texts = Seq("", "spark", "the quick brown fox", "a a a b",
      "row scan agg join window filter value part key table batch")
    val df = texts.toDF("t")
    val hof = df.select(col("t"), expr(
      """transform(sequence(0, 15), k -> cast(size(filter(split(t, ' '), w ->
         pmod(cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint), 16) = k))
         as bigint)) AS v""")).collect()
    val native = df.select(col("t"),
      Functions.bow_counts(col("t"), 16).as("v")).collect()
    hof.zip(native).foreach { case (h, n) =>
      assert(h.getSeq[Long](1) === n.getSeq[Long](1),
        s"bucket counts diverge for '${h.getString(0)}'")
    }
    // SQL registration + literal-n validation
    assert(spark.sql("SELECT bow_counts('a b', 4)").head().getSeq[Long](0).sum === 2L)
    val ex = intercept[Exception] {
      spark.sql("SELECT bow_counts('a', cast(rand() * 4 as int))").collect()
    }
    assert(ex.getMessage.contains("integer literal")
      || Option(ex.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("vec_l1_int: exact L1, mismatch and NULL poisoning") {
    Functions.register(spark)
    def q(sql: String): Any = spark.sql(sql).head().get(0)
    assert(q("SELECT vec_l1_int(array(1L, -2L, 3L), array(4L, 2L, 3L))") === 7L)
    assert(q("SELECT vec_l1_int(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>))") === 0L)
    // length mismatch → NULL; NULL element poisons
    assert(spark.sql("SELECT vec_l1_int(array(1L), array(1L, 2L))").head().isNullAt(0))
    assert(spark.sql("SELECT vec_l1_int(array(1L, NULL), array(1L, 2L))").head().isNullAt(0))
    // bag-filter soundness on random strings: |L1(bag_a, bag_b)| ≤ 2·lev(a,b)
    val rnd = new scala.util.Random(7)
    def word(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val rows = (0 until 200).map { _ => (word(10 + rnd.nextInt(30)), word(10 + rnd.nextInt(30))) }
    import spark.implicits._
    val bad = rows.toDF("a", "b").selectExpr(
      "vec_l1_int(char_bag(a), char_bag(b)) AS l1", "levenshtein(a, b) AS lev")
      .filter(org.apache.spark.sql.functions.col("l1") >
        org.apache.spark.sql.functions.col("lev") * 2)
    assert(bad.count() === 0, "bag L1 exceeded 2·lev — the prefilter would drop true pairs")
  }

  test("char_bag: one-pass [a-z0-9 ] counts match the replace() formulation") {
    Functions.register(spark)
    val got = spark.sql("SELECT char_bag('abc 007 zz  ')").head().getSeq[Long](0)
    assert(got.length === 37)
    assert(got(0) === 1L && got(1) === 1L && got(2) === 1L) // a b c
    assert(got(25) === 2L)                                  // z
    assert(got(26) === 2L && got(33) === 1L)                // 0 0, 7
    assert(got(36) === 4L)                                  // spaces
    assert(got.sum === 12L)
    assert(spark.sql("SELECT char_bag(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("cdc_bounds: windowed-hash boundaries, shift robustness, literal args") {
    Functions.register(spark)
    val rnd = new scala.util.Random(11)
    val text = (0 until 400).map(_ => ('a' + rnd.nextInt(27)).toChar)
      .mkString.replace(('a' + 26).toChar, ' ')
    def bounds(s: String): Seq[Int] = {
      import spark.implicits._
      Seq(s).toDF("t").selectExpr("cdc_bounds(t, 8, 16) AS b")
        .head().getSeq[Int](0)
    }
    val base = bounds(text)
    assert(base.nonEmpty, "no boundaries on 400 random chars at d=16 — suspicious")
    // driver replay of the window-poly definition
    val want = (8 to text.length).filter { i =>
      val h = text.substring(i - 8, i).getBytes
        .foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 2147483647L)
      h % 16 == 0
    }
    assert(base === want)
    // THE CDC property: a 5-char insertion at the front shifts every
    // later boundary by exactly 5 — the cut points follow content
    val shifted = bounds("xyzw " + text)
    assert(base.map(_ + 5).toSet.subsetOf(shifted.toSet),
      "content-defined boundaries did not survive a prefix insertion")
    // non-literal args rejected at analysis time
    val ex = intercept[Exception] {
      spark.sql("SELECT cdc_bounds('abc', cast(rand()*4 as int), 64)").collect()
    }
    assert(ex.getMessage.contains("integer literal")
      || Option(ex.getCause).exists(_.getMessage.contains("integer literal")))
  }
}
