package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import TextQueries._

/** Retrieval (BM25/hybrid/index), posting/layout and corpus
  * distribution-statistics queries — split out of
  * [[TextQueries]] (round 15) purely for file size, with NO behavior
  * change: every entry is verbatim, shared kernels and scaladoc
  * context stay in [[TextQueries]], and [[TextQueries.queries]] /
  * [[TextQueries.oracleSql]] remain the single composed surface
  * SparkEntry consumes. */
object TextRetrievalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Term-frequency spectrum — the Good-Turing view of each source's
    // vocabulary (hapax/dis legomena and the tail): singleton-heavy
    // sources are noisy (OCR junk, random ids), singleton-poor ones
    // are templated; hapax share also estimates unseen-type mass
    // (Good-Turing's n1/N). Two-level aggregate: (source, term)
    // counts partial-agg map-side, then a sources-sized spectrum
    // rollup — the exchange carries the per-source vocabulary once,
    // and the spectrum itself is 5 longs per source.
    "q133_spectrum" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " "))
            .as("term"))
        .filter(col("term") =!= "")
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      counts.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(col("cnt")).as("tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("dis"),
          sum(when(col("cnt") >= 3, 1L).otherwise(0L)).as("rest"))
        .select(col("source"), col("vocab"), col("tokens"), col("hapax"),
          col("dis"), col("rest"),
          expr("(hapax * 1000000) div vocab").as("hapax_ppm"))
        .orderBy("source")
    }),
    // Corpus snapshot diff — the change-data-capture audit a weekly
    // corpus rebuild publishes: content-hash FULL OUTER JOIN of two
    // snapshots → per-source added/removed/changed/unchanged counts.
    // Snapshots here are deterministic slices of the one test table
    // (old = id%7≠0, new = id%5≠0 with id%11=0 content revised) so
    // every status is populated and the oracle replays exactly; in
    // production the inputs are two partitioned table versions.
    // Scale shape: the join carries (id, source, 32-hex hash) — text
    // never shuffles; snapshot tables bucketed by doc_id make the
    // full-outer exchange-free (demonstrated: BucketingSpec's
    // "bucketed snapshots full-outer join with zero exchange"), and
    // the result aggregate is sources×4-sized with map-side combine.
    "q129_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("source").as("src_o"),
          md5(col("text").cast(BinaryType)).as("h_old"))
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source").as("src_n"),
          md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).cast(BinaryType)).as("h_new"))
      old.join(neu, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_o"), col("src_n")).as("source"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status").agg(count(lit(1)).as("n"))
        .orderBy("source", "status")
    }),
    // Hashed bag-of-words retrieval (MIPS) — sparse-to-dense
    // featurization feeding the integer similarity stack WITHOUT an
    // embedding model: each document becomes a 16-long vector of
    // md5-hashed term-bucket counts (the q84 hashing trick, so no
    // vocabulary table and no shuffle to featurize), and retrieval is
    // maximum-inner-product over exact integer dot products against a
    // broadcast 1-row query vector (q49's ranking kernel). Map-only
    // featurize + TakeOrderedAndProject top-k; at scale the vectors
    // feed the q82 shape-signature buckets or vec_quant8 → IVF so the
    // scan visits candidate buckets only.
    "q107_bow_mips" -> ((s, d) => {
      // native one-pass featurize (graft.functions.BowCounts): one
      // digest per word straight off the byte buffer — the HOF chain
      // it replaces (16 filter lanes × interpreted md5/hex/conv per
      // word) was the whole 5.4 s q107 wall at sf0.1
      val vecs = graft.ops.Barrier(withWords(s, d)
        .select(col("doc_id"), graft.Functions.bow_counts(col("t"), 16).as("v")))
      val q = vecs.filter(col("doc_id") === 0).select(col("v").as("qv"))
      vecs.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("doc_id"),
          aggregate(zip_with(col("v"), col("qv"), (x, y) => x * y),
            lit(0L), (acc, x) => acc + x).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),
    // Benchmark decontamination — the eval-overlap scrub every
    // pretraining corpus needs: documents sharing any word-shingle
    // with the eval split are flagged (n_hits = distinct shared
    // spans). The eval side is tiny at ANY corpus size (benchmarks
    // are MBs), so its distinct shingle set BROADCASTS and the
    // corpus-side probe is map-local — the per-doc shingle explode
    // partial-aggregates before the one (doc_id → count) shuffle.
    // k=3 here (the native word_shingles kernel, shared with q47);
    // production decontam raises k to 8-13 grams — same plan shape,
    // only the span extractor's window width changes.
    "q55_decontam" -> ((s, d) => {
      evalOverlap(s, d, 3)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),
    // Decontamination at a production span width — q55's plan with
    // the parameterized kernel at k=4 (`word_shingles(t, k)`): wider
    // spans are MORE selective (fewer, longer shingles per doc and
    // far fewer accidental collisions), so the broadcast eval set
    // SHRINKS as k grows — the 8-13-gram deployment is strictly
    // cheaper than the k=3 test pin. Same broadcast-probe shape.
    "q60_decontam4" -> ((s, d) => {
      evalOverlap(s, d, 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),
    // Exact per-stratum length quantiles — the corpus-profiling step
    // behind sequence-length bucketing and packing budgets: median /
    // p90 / max of n_chars per (lang, source), rank-selected so the
    // result is integer-exact (no interpolation surface). ONE shuffle:
    // both window functions share the (lang, source) partitioning and
    // the following groupBy reuses it — Catalyst plans a single
    // exchange. Only (lang, source, n_chars, doc_id) ever shuffles,
    // never text. At 100 TB strata stay bounded (langs × sources), so
    // per-stratum sort depth is data/strata; a skewed stratum would
    // switch to the KMV/sketch path (q38) — this op is the exact form.
    "q56_quantile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang", "source").orderBy(col("n_chars"), col("doc_id"))
      val wc = Window.partitionBy("lang", "source")
      Tables.documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(wc))
        .groupBy("lang", "source")
        .agg(
          max(when(col("rn") === expr("(n+1) div 2"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(9*n+9) div 10"), col("n_chars"))).as("p90"),
          max(when(col("rn") === col("n"), col("n_chars"))).as("p100"))
        .orderBy("lang", "source")
    }),
    // Deterministic stratified sampling — the data-mixing op of a
    // training pipeline: downsample the dominant language (en keeps
    // 10%, the rest 50%) with a content-independent hash gate, so the
    // same doc_id is kept or dropped identically on every run, every
    // engine, every shard. Map-only (the gate is a per-row filter; no
    // shuffle except the presentation ORDER BY); at 100 TB the rates
    // come from a broadcast mixing table keyed by (lang, source,
    // quality bucket) instead of a CASE.
    // Multi-pattern substring audit — the Aho-Corasick kernel both
    // IN-set probes (q57 word scrub, q89 span scrub) name as their
    // big-dictionary graduation, made real: ONE pass per document
    // counts occurrences of every dictionary pattern at every start
    // position (overlaps included), O(|text| + matches) independent
    // of dictionary size. Substring semantics are strictly stronger
    // than the word-set probes (patterns span word boundaries).
    // Map-only; the oracle replays each pattern as a positional
    // window scan — O(|text|·|dict|), exactly the cost the automaton
    // removes. Patterns deliberately overlap each other ("scan" ⊃
    // "an", "ca") so the count exercises the fail-chain fold.
    "q99_ac_audit" -> ((s, d) => {
      val dict = Seq("scan", "an", "ca", "vector join", "dup")
      withWords(s, d)
        .select(col("doc_id"),
          graft.Functions.ac_count(col("t"), dict).as("n_hits"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id")
    }),
    // BM25 retrieval scoring — the ranking half of the q94 index
    // story: Okapi BM25 (k1 = 1.2, b = 0.75) for the query
    // {vector, scan, dup} over the corpus. The idf uses Robertson's
    // RAW RATIO (N − df + 0.5)/(df + 0.5) rather than its log: every
    // arithmetic op in the score is then IEEE-exact (+,−,×,÷ are
    // correctly rounded; ln is not), so scores are bit-identical
    // across engines with a FIXED fold order ((s1 + s2) + s3) —
    // the q84 float-determinism discipline. Corpus stats (N, Σdl,
    // per-term df) come from ONE auxiliary aggregate that broadcasts
    // as a single row; scoring is map-only over the scan and top-20
    // is a TakeOrderedAndProject. At 100 TB the stats row is a
    // pre-computed index artifact and scoring composes with q94's
    // postings to visit only matching docs.
    "q96_bm25" -> ((s, d) => bm25Top20(s, d)),
    // Hybrid retrieval fusion — reciprocal-rank fusion (RRF, the
    // standard hybrid-search combiner) of the SPARSE arm (q96's BM25
    // top-20 over documents) and the DENSE arm (q16's exact-cosine
    // top-20 over embeddings, doc_id ≡ vec_id in the testdata):
    // rrf = Σ_arms 1/(60 + rank), missing-from-arm contributes 0.
    // Ranks are integers from deterministic (score DESC, id)
    // orderings, so the only float work is two IEEE divisions and one
    // add per fused row — engine-identical. Shape: each arm is a
    // distributed top-k (TakeOrderedAndProject); ranking and fusion
    // touch ≤ 2k rows, so the windows and the full-outer join are
    // driver-trivial at ANY corpus size — the corpus-sized work stays
    // in the arms, which scale independently (q94 postings, q72/q74
    // ANN).
    "q104_hybrid" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sparse = bm25Top20(s, d)
        .withColumn("r_bm25", row_number()
          .over(Window.orderBy(desc("score"), col("doc_id"))).cast(LongType))
        .select(col("doc_id").as("id"), col("r_bm25"))
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val dense = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (graft.Functions.vec_dot(col("embedding"), col("qv"))
            / (sqrt(graft.Functions.vec_dot(col("embedding"), col("embedding")))
              * sqrt(graft.Functions.vec_dot(col("qv"), col("qv"))))).as("sim"))
        .orderBy(desc("sim"), col("vec_id")).limit(20)
        .withColumn("r_dense", row_number()
          .over(Window.orderBy(desc("sim"), col("vec_id"))).cast(LongType))
        .select(col("vec_id").as("id"), col("r_dense"))
      sparse.join(dense, Seq("id"), "full_outer")
        .select(col("id"), col("r_bm25"), col("r_dense"),
          (coalesce(lit(1.0d) / (lit(60L) + col("r_bm25")).cast(DoubleType),
              lit(0.0d))
            + coalesce(lit(1.0d) / (lit(60L) + col("r_dense")).cast(DoubleType),
              lit(0.0d))).as("rrf"))
        .orderBy(desc("rrf"), col("id"))
        .limit(10)
    }),
    // Inverted index — the retrieval-side build every search/RAG
    // stack needs: term → sorted posting list of documents. The big
    // shuffle is (term, doc_id) pairs — term-partitioned, which IS
    // the posting layout at scale (each reducer owns a term range =
    // an index segment; `Bucketing.writeBucketed` on term persists it
    // exchange-free for lookups). Stopword-scale terms are excluded
    // by a df window (capped at 500 here), which also bounds every posting
    // list the query materializes; a full-scale build caps or
    // block-compresses postings the same way. Posting lists are
    // pinned by md5 of the ascending doc-id join, not just counted.
    "q94_index" -> ((s, d) => {
      withWords(s, d)
        .select(col("doc_id"), explode(array_distinct(col("words"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          md5(expr("array_join(array_sort(collect_list(doc_id)), ',')")
            .cast(BinaryType)).as("postings_md5"))
        .filter(col("df").between(5, 500))
        .orderBy(desc("df"), col("term"))
        .limit(30)
    }),
    // Distribution sketch — per-lang length quantiles off the
    // `hist_agg` mergeable fixed-width histogram (64 buckets × 16
    // chars over [0, 1024)). This is q56's 100 TB alternative: exact
    // rank-select sorts every stratum; the sketch reduces each group
    // to 64 longs of ASSOCIATIVE integer state (map-side combined,
    // partition-order independent — bit-identical by construction),
    // and quantiles read the cumulative histogram with bucket-width
    // error: smallest bucket whose running count reaches ceil(q·N),
    // quoted at the bucket's upper bound. All integer arithmetic,
    // replayed exactly by the oracle's width-bucket GROUP BY + running
    // sum; the full histogram rides the row as an md5 pin.
    "q92_hist" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(graft.Functions.hist_agg(col("n_chars"), 0L, 1024L, 64).as("hist"))
        .withColumn("n", expr("aggregate(hist, 0L, (a, x) -> a + x)"))
        .withColumn("b50", expr(
          """array_min(filter(sequence(0, 63), b ->
             aggregate(slice(hist, 1, b + 1), 0L, (a, x) -> a + x)
               >= (n + 1) div 2))"""))
        .withColumn("b90", expr(
          """array_min(filter(sequence(0, 63), b ->
             aggregate(slice(hist, 1, b + 1), 0L, (a, x) -> a + x)
               >= (9 * n + 9) div 10))"""))
        .select(col("lang"), col("n"),
          ((col("b50") + 1) * 16).cast(LongType).as("est_p50"),
          ((col("b90") + 1) * 16).cast(LongType).as("est_p90"),
          md5(expr("array_join(hist, ',')").cast(BinaryType)).as("hist_md5"))
        .orderBy("lang")
    }),
    // Distribution drift (two-sample KS) — the release gate that
    // catches a pipeline change silently shifting the LENGTH
    // distribution even when counts and dedup rates look fine:
    // Kolmogorov–Smirnov distance between the old (doc_id%10<8) and
    // new snapshot's n_chars ECDFs, exact via cross-multiplication —
    // D·n₁·n₂ = max_t |F₁(t)·n₂ − F₂(t)·n₁| over observed values, no
    // float CDF. Emitted as the argmax row with D in ppm (integer
    // div), so the number survives any corpus size in DECIMAL(38,0).
    // Scale shape: one value-keyed rollup (map-side combined) is the
    // only corpus-sized work; the cumulative window runs over the
    // VALUE domain (distinct lengths — bounded like a calendar, and
    // range-binnable if a domain ever isn't); totals broadcast as one
    // row; argmax is a 1-row TakeOrdered.
    "q150_ks" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sides = Tables.documents(s, d)
        .select(col("n_chars"), (col("doc_id") % 10 < 8).as("old"))
      val per = sides.groupBy("n_chars").agg(
        count(when(col("old"), 1)).as("o"),
        count(when(!col("old"), 1)).as("w"))
      val cw = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
      val cum = per.withColumn("co", sum(col("o")).over(cw))
        .withColumn("cn", sum(col("w")).over(cw))
      val tot = per.agg(sum(col("o")).as("n1"), sum(col("w")).as("n2"))
      val dec = DecimalType(38, 0)
      cum.crossJoin(broadcast(tot))
        .withColumn("ks",
          abs(col("co").cast(dec) * col("n2").cast(dec)
            - col("cn").cast(dec) * col("n1").cast(dec)))
        .select(col("n_chars").as("t"), col("n1"), col("n2"),
          expr("cast((ks * 1000000) div (cast(n1 as decimal(38,0)) * cast(n2 as decimal(38,0))) as bigint)")
            .as("ks_ppm"),
          col("ks"))
        .orderBy(col("ks").desc, col("t")).limit(1)
        .select("t", "n1", "n2", "ks_ppm")
    }),
    // Source concentration (Gini) — is the corpus a broad mix or
    // three crawls wearing a trenchcoat? Exact integer Gini over
    // per-source character mass: with sources sorted ascending
    // (chars, source), G·n·Σx = Σ(2i−n−1)·xᵢ — emitted in ppm via
    // integer division, DECIMAL(38,0) products (q98's discipline).
    // The per-source rollup is the only corpus-sized work; the rank
    // window and both aggregates run on the sources-sized table.
    "q151_gini" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sc = Tables.documents(s, d)
        .groupBy("source").agg(sum(col("n_chars")).as("chars"))
      val w = Window.orderBy(col("chars"), col("source"))
      val n1 = sc.agg(count(lit(1)).as("ns"))
      val dec = DecimalType(38, 0)
      sc.withColumn("i", row_number().over(w))
        .crossJoin(broadcast(n1))
        .agg(first(col("ns")).as("n_sources"),
          sum(col("chars")).as("total_chars"),
          sum((col("i") * 2 - col("ns") - 1).cast(dec)
            * col("chars").cast(dec)).as("gnum"))
        .select(col("n_sources"), col("total_chars"),
          expr("cast((gnum * 1000000) div (cast(n_sources as decimal(38,0)) * cast(total_chars as decimal(38,0))) as bigint)")
            .as("gini_ppm"))
    }),
    // Posting-list compression planning — the bit-budget estimate an
    // index build runs before choosing an encoding (q94 builds the
    // postings; this prices them): delta-gap cost in bits, where a
    // gap of g costs floor(log2 g)+1 = length of its binary string —
    // conv(g, 10, 2) here, bin(g) in the oracle, EXACT integer on
    // both engines (no float log anywhere). savings vs raw 64-bit
    // ids in ppm. The df gate is CORPUS-RELATIVE (5 ≤ df ≤ 90% of
    // docs, the broadcast-scalar doc count) so it keeps meaning at
    // every SF — a fixed cap emptied at 10× data; a full-scale build
    // caps or block-compresses the ubiquitous-term lists the same
    // way, which also bounds the collect_list here.
    "q197_posting_bits" -> ((s, d) => {
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      withWords(s, d)
        .select(col("doc_id"), explode(array_distinct(col("words"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(col("doc_id"))).as("ids"))
        .crossJoin(broadcast(nd))
        .filter(col("df") >= 5 && col("df") * 10 <= col("nd") * 9)
        .select(col("term"), col("df"),
          expr("""cast(length(conv(ids[0] + 1, 10, 2)) +
                    aggregate(transform(sequence(2, cast(df as int)),
                                        i -> length(conv(element_at(ids, i) - element_at(ids, i - 1), 10, 2))),
                              0, (a, x) -> a + x) as bigint)""").as("bits"),
          (col("df") * 64).as("raw_bits"))
        .withColumn("savings_ppm",
          expr("((raw_bits - bits) * 1000000) div raw_bits"))
        .orderBy(col("df").desc, col("term")).limit(30)
    }),
    // Corpus data card — the per-language report every curation run
    // publishes with its output (the "datasheet" numbers): doc and
    // token counts, exact-duplicate rate (md5 over the normalized
    // text — a doc counts as dup iff its hash occurs ≥2 ANYWHERE in
    // the corpus), and the q25 quality-gate pass rate, all exact ppm.
    // One corpus scan feeds the per-doc frame; the dup census joins
    // 16-byte HASHES back (q129's hashes-not-text discipline); the
    // final rollup is languages-sized. Composition, oracle-gated:
    // the card's quality column replays q25's exact scoring.
    "q200_data_card" -> ((s, d) => {
      val per = withWords(s, d)
        .select(col("doc_id"), col("lang"),
          expr("n_chars div 4").as("toks"),
          md5(col("t").cast(BinaryType)).as("h"),
          (when(size(col("words")) >= 30, 1L).otherwise(0L)
            + when(expr("size(filter(words, x -> x in ('the', 'a'))) * 10")
                <= size(col("words")), 1L).otherwise(0L)
            + when(expr("(length(replace(t, ' ', '')) * 100) div size(words)")
                .between(300, 800), 1L).otherwise(0L)).as("score"))
      val dh = per.groupBy("h").agg(count(lit(1)).as("nh"))
        .filter(col("nh") >= 2).select(col("h").as("dh"))
      per.join(dh, col("h") === col("dh"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast(LongType).as("tokens"),
          count(col("dh")).as("dup_docs"),
          count(when(col("score") >= 2, 1)).as("pass_docs"))
        .select(col("lang"), col("n_docs"), col("tokens"),
          col("dup_docs"),
          expr("(dup_docs * 1000000) div n_docs").as("dup_ppm"),
          col("pass_docs"),
          expr("(pass_docs * 1000000) div n_docs").as("pass_ppm"))
        .select(col("lang"), col("n_docs"), col("tokens"), col("dup_docs"),
          col("dup_ppm"), col("pass_docs"), col("pass_ppm"))
        .orderBy("lang")
    }),
    // Corpus integrity digest — replication/migration validation at
    // CONSTANT comparison cost: q129 diffs two snapshots row-by-row
    // (a content-hash join — the right tool when you need to know
    // WHICH rows differ); this answers "do the two copies agree AT
    // ALL" by comparing |sources| rows instead of shipping either
    // corpus. Per source: row count + an ORDER-INDEPENDENT content
    // digest — sum over rows of the 60-bit md5 of the canonical
    // field concatenation (engine-portable), accumulated exactly in
    // Decimal(38,0) (a Long sum of 1e18-sized hashes wraps
    // immediately; DuckDB's HUGEINT sum is the oracle mirror) and
    // folded mod 2^61 at presentation. Order-independence means NO
    // sort anywhere: any partitioning, any row order, any cluster
    // size produces the same digest — two clusters compare their
    // k-row frames and re-run q129 only on sources whose digests
    // disagree. Map-only hash + one partial-agg'd rollup; text never
    // leaves the scan.
    "q225_integrity_digest" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"),
          expr("cast(conv(substring(md5(concat_ws('', " +
            "cast(doc_id as string), text, lang, cast(n_chars as string)" +
            ")), 1, 15), 16, 10) as bigint)").as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(pmod(sum(cast(h as decimal(38,0))), " +
            "2305843009213693952) as bigint)").as("digest"))
        .orderBy("source")
    }),
    // Blocked front-coding audit — the dictionary-compression
    // planning measurement next to q197's posting-list bit budget:
    // term dictionaries (q94's index, BPE vocabs) ship sorted, and
    // front coding stores each term as (LCP-with-previous, suffix) —
    // here over the 3-word PHRASE dictionary (phrase indexes /
    // n-gram LM tables are where dictionaries get big and
    // prefix-heavy; the synthetic unigram vocab is 31 terms)
    // within prefix blocks (blocks reset the chain — exactly how
    // Lucene/parquet dictionary pages do it, and what keeps the
    // operator parallel: block = 2-char prefix, so the window is
    // block-partitioned, never a global term chain). LCP via the
    // monotone prefix-count identity (count of i where the two
    // length-i prefixes match — no UDF, same HOF both engines).
    // Vocab-sized work throughout; one-row rollup.
    "q235_frontcode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = withWords(s, d)
        .select(explode(graft.Functions.word_shingles(col("t"), 3)).as("term"))
        .distinct()
        .withColumn("block", substring(col("term"), 1, 2))
      val w = Window.partitionBy("block").orderBy("term")
      vocab
        .withColumn("prev", lag(col("term"), 1).over(w))
        .withColumn("lcp", when(col("prev").isNull, 0L).otherwise(
          expr("""cast(size(filter(sequence(1, least(length(prev), length(term))),
                    i -> substring(prev, 1, i) = substring(term, 1, i))) as bigint)""")))
        .agg(count(lit(1)).as("n_terms"),
          countDistinct(col("block")).as("n_blocks"),
          sum(length(col("term")).cast(LongType)).as("raw_bytes"),
          sum(col("lcp")).as("lcp_bytes"))
        .select(col("n_terms"), col("n_blocks"), col("raw_bytes"),
          col("lcp_bytes"),
          (col("raw_bytes") - col("lcp_bytes")).as("coded_bytes"),
          expr("(lcp_bytes * 1000000) div raw_bytes").as("savings_ppm"))
    }),
    // Cross-source quantile normalization — the calibration step that
    // makes quality scores COMPARABLE across heterogeneous sources
    // (a web crawl's 60th percentile and a books corpus's 60th
    // percentile should gate the same): each doc's within-source rank
    // maps to the global score at the same quantile, g = (r·N) div
    // n_s (clamped to ≥1), i.e. classic quantile normalization onto
    // the pooled distribution. Scores ride the q84/q116 integer
    // quantization (sq = floor(score·1000)); BOTH rank passes go
    // through DistributedRank (per-source AND global — sources and
    // "all" are exactly the few-group shapes that collapse a plain
    // window); the remap is one integer-keyed corpus join against the
    // global rank→score table. Deterministic: total order (sq,
    // doc_id) everywhere.
    "q234_qnorm" -> ((s, d) => {
      val scored = graft.ops.Barrier(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("t"))
          .withColumn("words", split(col("t"), " "))
          .select(col("doc_id"), col("source"),
            floor(qmScore(col("words")) * 1000).cast(LongType).as("sq")))
      val bySrc = graft.ops.DistributedRank.rowNumber(
        scored, "r", Seq("source"), Seq(col("sq"), col("doc_id")))
      val glob = graft.ops.DistributedRank.rowNumber(
          scored.select(col("sq"), col("doc_id")), "g",
          Seq.empty, Seq(col("sq"), col("doc_id")))
        .select(col("g"), col("sq").as("sq_norm"))
      val counts = scored.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nTot = scored.agg(count(lit(1)).as("n_tot"))
      bySrc.join(broadcast(counts), "source")
        .crossJoin(broadcast(nTot))
        .withColumn("g", greatest(expr("(r * n_tot) div n_s"), lit(1L)))
        .join(glob, "g")
        .select(col("doc_id"), col("source"), col("sq"), col("sq_norm"))
        .orderBy("doc_id")
    }),
    // Retrieval evaluation harness — the metrics layer every search/
    // RAG stack needs over its ranking arms (q96 BM25, q104 hybrid):
    // MRR, precision@k and recall@k of the BM25 top-20 against a
    // deterministic relevance set (docs containing ALL three query
    // terms — derived from the same tf pass the scorer uses, so the
    // oracle replays it exactly). All metrics are EXACT ppm integers
    // (1e6 div rank / counts) — no IEEE beyond the already-pinned
    // BM25 scores. Scale shape: the corpus does one relevance pass
    // (partial-agg'd count) + the ranking arm's own distributed
    // top-k; ranks come from a POST-LIMIT 20-row window (q223
    // discipline), metrics fold 20 rows, n_relevant broadcasts.
    "q230_retrieval_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rel = withWords(s, d).select(col("doc_id"),
        (expr("size(filter(words, x -> x = 'vector')) > 0") &&
          expr("size(filter(words, x -> x = 'scan')) > 0") &&
          expr("size(filter(words, x -> x = 'dup')) > 0")).as("is_rel"))
      val nrel = rel.agg(
        sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_relevant"))
      val wR = Window.orderBy(desc("score"), col("doc_id"))
      bm25Top20(s, d)
        .join(rel, "doc_id")
        .withColumn("rank", row_number().over(wR).cast(LongType))
        .agg(
          sum(when(col("is_rel") && col("rank") <= 5, 1L).otherwise(0L))
            .as("hits5"),
          sum(when(col("is_rel") && col("rank") <= 10, 1L).otherwise(0L))
            .as("hits10"),
          sum(when(col("is_rel"), 1L).otherwise(0L)).as("hits20"),
          min(when(col("is_rel"), col("rank"))).as("first_rel"))
        .crossJoin(broadcast(nrel))
        .select(col("n_relevant"), col("hits5"), col("hits10"),
          col("hits20"),
          expr("(hits5 * 1000000) div 5").as("p5_ppm"),
          expr("(hits10 * 1000000) div 10").as("p10_ppm"),
          expr("(hits20 * 1000000) div 20").as("p20_ppm"),
          expr("(hits20 * 1000000) div n_relevant").as("r20_ppm"),
          coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_ppm"))
    }),
    // Zone-map (min/max) data-skipping audit — the MEASUREMENT under
    // the layout operators (q93 z-order tiles, q224 shard plan): how
    // many 50-row zones a range predicate (n_chars BETWEEN 200 AND
    // 240) must scan under the natural arrival layout (doc_id order)
    // vs a clustered layout (n_chars order) — the exact arithmetic
    // parquet row-group pruning performs against footer min/max
    // stats, where "zone" = row group and clustering = the write-side
    // ORDER BY. Zone rank comes from DistributedRank (a global
    // row_number through a plain window is the 1-task shape); per-
    // zone min/max/match are one partial-agg'd rollup; the final
    // fold is zones-sized. Clustered layout scans the 1-2 zones
    // whose [lo, hi] straddles the band; natural scans ~all — the
    // quantified case for sorting 100 TB writes on the hot filter
    // column.
    "q228_zonemap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
      def zones(layout: String, order: Seq[Column]): DataFrame =
        graft.ops.DistributedRank.rowNumber(docs, "rk", Seq.empty, order)
          .withColumn("zone", expr("(rk - 1) div 50"))
          .groupBy("zone")
          .agg(count(lit(1)).as("n_rows"),
            min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
            sum(when(col("n_chars").between(200, 240), 1L).otherwise(0L))
              .as("n_match"))
          .agg(count(lit(1)).as("n_zones"),
            sum(when(col("hi") >= 200 && col("lo") <= 240, 1L)
              .otherwise(0L)).as("zones_scanned"),
            sum(when(col("hi") >= 200 && col("lo") <= 240, col("n_rows"))
              .otherwise(0L)).as("rows_scanned"),
            sum(col("n_match")).as("n_match"))
          .select(lit(layout).as("layout"), col("n_zones"),
            col("zones_scanned"), col("rows_scanned"), col("n_match"))
      zones("clustered", Seq(col("n_chars"), col("doc_id")))
        .unionByName(zones("natural", Seq(col("doc_id"))))
        .orderBy("layout")
    }),

    // Per-source KEYNESS — the distinctive-vocabulary extraction a
    // curation pass runs before deciding what a source contributes to
    // the mix (the corpus-linguistics log-likelihood/keyness family,
    // here as an EXACT Laplace-smoothed relative-frequency ratio):
    // keyness_ppm = ((a+1)(T_rest+V)·1e6) div ((b+1)(T_src+V)) where
    // a/b are the term's in/out-of-source counts and T/V are token/
    // vocab totals — all-integer cross-multiplication (q98's
    // discipline), so DuckDB replays it bit-for-bit where a float
    // log-ratio never could. Scale shape: ONE corpus scan feeds the
    // (source, term) partial-agg'd rollup (Barrier); everything after
    // runs on CLOSED domains — source totals broadcast
    // (sources-sized), term totals sort-merged (vocab-sized, the q148
    // computed-frame precedent: never driver-built), the 1-row
    // (total, vocab) frame broadcast, and the top-10 rank window
    // partitions on source over the vocab×sources grid, which
    // saturates as the corpus grows (the q43 value-domain argument) —
    // at 100 TB the only corpus-sized work is the scan.
    "q265_keyness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = graft.ops.Barrier(Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(regexp_replace(lower(col("text")),
            "[^a-z0-9]+", " ")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("source", "term").agg(count(lit(1)).as("cnt_in")))
      val st = counts.groupBy("source").agg(sum(col("cnt_in")).as("ts"))
      val tt = counts.groupBy("term").agg(sum(col("cnt_in")).as("g"))
      val glob = counts.agg(sum(col("cnt_in")).as("tot"),
        countDistinct(col("term")).as("v"))
      counts.join(broadcast(st), Seq("source"))
        .join(tt.hint("merge"), Seq("term"))
        .crossJoin(broadcast(glob))
        .withColumn("cnt_rest", col("g") - col("cnt_in"))
        .withColumn("keyness_ppm", expr(
          "cast(((cast(cnt_in as decimal(38,0)) + 1)" +
            " * cast(tot - ts + v as decimal(38,0)) * 1000000)" +
            " div ((cast(cnt_rest as decimal(38,0)) + 1)" +
            " * cast(ts + v as decimal(38,0))) as bigint)"))
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(desc("keyness_ppm"), col("term"))).cast(LongType))
        .filter(col("rn") <= 10)
        .select(col("source"), col("term"), col("cnt_in"), col("cnt_rest"),
          col("keyness_ppm"), col("rn"))
        .orderBy("source", "rn")
    }),

    // Per-language ZIPF rank-frequency slope — the q185 Heaps-law
    // sibling: a language whose slope flattens under growth is
    // accumulating templated/duplicated text, so the slope is a
    // corpus-health dial curation tracks per ingest wave. Frequencies
    // rank per language (cnt desc, term — deterministic), both axes
    // take the EXACT floor-log2 surrogate (length(bin(x)) − 1, the
    // q148 integer-log discipline), and the least-squares slope is
    // the all-integer cov/var ratio with the sign handled explicitly
    // so both engines only ever divide positives. Scale shape: one
    // corpus scan → (lang, term) partial-agg'd rollup (Barrier); the
    // rank window partitions on lang over the vocab-sized, domain-
    // saturating table; the fit is a languages-sized aggregate of 5
    // integer sums. Degenerate 1-term languages (den = 0) are
    // filtered in both engines.
    "q266_zipf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = graft.ops.Barrier(withWords(s, d)
        .select(col("lang"), explode(col("words")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt")))
      val ranked = counts
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(desc("cnt"), col("term"))))
        .select(col("lang"),
          (length(bin(col("rk"))) - 1).cast(LongType).as("lr"),
          (length(bin(col("cnt"))) - 1).cast(LongType).as("lf"))
      ranked.groupBy("lang").agg(
          count(lit(1)).as("n_terms"),
          sum(col("lr")).as("sx"), sum(col("lf")).as("sy"),
          sum(col("lr") * col("lf")).as("sxy"),
          sum(col("lr") * col("lr")).as("sxx"))
        .filter(col("n_terms") >= 2)
        .withColumn("num", expr(
          "cast(n_terms as decimal(38,0)) * cast(sxy as decimal(38,0))" +
            " - cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))"))
        .withColumn("den", expr(
          "cast(n_terms as decimal(38,0)) * cast(sxx as decimal(38,0))" +
            " - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0))"))
        .select(col("lang"), col("n_terms"), col("sy").as("sum_lf"),
          expr("cast(case when num >= 0 then (num * 1000000) div den" +
            " else -((-num * 1000000) div den) end as bigint)")
            .as("slope_ppm"))
        .orderBy("lang")
    }),

    // Pairwise TOTAL-VARIATION distance between source unigram
    // distributions — the mixture-design distance matrix (which
    // sources are redundant, which add coverage) that q110/q199's
    // mixture selection reads. TV = ½·Σ|p_a − p_b| is computed EXACTLY
    // by cross-multiplying against both token totals: shared terms
    // contribute |c_a·T_b − c_b·T_a|, and each side's unshared mass
    // adds (T_a − Σshared_a)·T_b (resp. mirrored) — so only the
    // shared-term inner join is ever evaluated, no dense grid. Scale
    // shape: one corpus scan → (source, term) partial-agg'd rollup
    // (Barrier); source totals broadcast onto both join sides; the
    // self-join keys on term over the PRE-AGGREGATED vocab-domain
    // rollup (multiplicity ≤ |sources| — the aggregated-side shape the
    // pair audit exempts); the pair frame itself is the sources-sized
    // totals table self-paired (S² rows where S saturates — the one
    // deliberate BNLJ, enrolled in PlanAuditSpec with this reason).
    "q267_tvd" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val counts = graft.ops.Barrier(Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(regexp_replace(lower(col("text")),
            "[^a-z0-9]+", " ")), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy("source", "term").agg(count(lit(1)).as("cnt")))
      val st = counts.groupBy("source").agg(sum(col("cnt")).as("ts"))
      val cx = counts.join(broadcast(st), Seq("source"))
        .select(col("source").as("src_a"), col("term"),
          col("cnt").as("ca"), col("ts").as("ta"))
      val cy = counts.join(broadcast(st), Seq("source"))
        .select(col("source").as("src_b"), col("term"),
          col("cnt").as("cb"), col("ts").as("tb"))
      val shared = cx.join(cy, Seq("term"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(sum(abs(col("ca").cast(dec) * col("tb").cast(dec)
            - col("cb").cast(dec) * col("ta").cast(dec))).as("d_shared"),
          sum(col("ca")).as("sa"), sum(col("cb")).as("sb"))
      val pairs = st.select(col("source").as("src_a"), col("ts").as("ta"))
        .join(st.select(col("source").as("src_b"), col("ts").as("tb")),
          col("src_a") < col("src_b"))
      pairs.join(shared, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          expr("cast(((coalesce(d_shared, 0)" +
            " + cast(ta - coalesce(sa, 0) as decimal(38,0)) * tb" +
            " + cast(tb - coalesce(sb, 0) as decimal(38,0)) * ta)" +
            " * 1000000) div (2 * cast(ta as decimal(38,0)) * tb)" +
            " as bigint)").as("tvd_ppm"))
        .orderBy("src_a", "src_b")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // (source, term) counts then the conditional spectrum rollup.
    "q133_spectrum" ->
      s"""WITH n AS (SELECT doc_id, source, $normDuck t FROM documents),
          w AS (SELECT source, unnest(string_split(t, ' ')) term FROM n),
          c AS (SELECT source, term, count(*) cnt FROM w WHERE term <> ''
                GROUP BY source, term)
          SELECT source, CAST(count(*) AS BIGINT) vocab,
                 CAST(sum(cnt) AS BIGINT) tokens,
                 CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) hapax,
                 CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) dis,
                 CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) rest,
                 (CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                   // CAST(count(*) AS BIGINT) AS hapax_ppm
          FROM c GROUP BY source ORDER BY source""",
    // the two snapshot slices full-outer joined on id; statuses from
    // hash presence/equality; per-source counts.
    "q129_snapshot_diff" ->
      """WITH o AS (
           SELECT doc_id, source, md5(text) h FROM documents WHERE doc_id % 7 <> 0),
         nn AS (
           SELECT doc_id, source,
                  md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END) h
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.source, nn.source) source,
                CASE WHEN o.h IS NULL THEN 'added'
                     WHEN nn.h IS NULL THEN 'removed'
                     WHEN o.h <> nn.h THEN 'changed'
                     ELSE 'unchanged' END status,
                CAST(count(*) AS BIGINT) n
         FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q107_bow_mips" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          v AS (SELECT doc_id,
                  list_transform(range(0, 16), k ->
                    CAST(len(list_filter(words, x ->
                      CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 16
                        = k)) AS BIGINT)) v
                FROM w),
          q AS (SELECT v qv FROM v WHERE doc_id = 0)
          SELECT v.doc_id,
                 CAST(list_sum(list_transform(range(1, 17),
                   i -> v.v[i] * qv[i])) AS BIGINT) AS score
          FROM v, q WHERE v.doc_id <> 0
          ORDER BY score DESC, doc_id LIMIT 10""",
    "q55_decontam" -> decontamOracle(3),
    "q60_decontam4" -> decontamOracle(4),
    "q56_quantile" ->
      """WITH r AS (SELECT lang, source, n_chars,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY n_chars, doc_id) rn,
               count(*) OVER (PARTITION BY lang, source) n
             FROM documents)
         SELECT lang, source,
                max(CASE WHEN rn = (n+1)//2 THEN n_chars END) AS p50,
                max(CASE WHEN rn = (9*n+9)//10 THEN n_chars END) AS p90,
                max(CASE WHEN rn = n THEN n_chars END) AS p100
         FROM r GROUP BY lang, source ORDER BY lang, source""",
    "q99_ac_audit" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          h AS (SELECT doc_id,
                  len(list_filter(range(1, len(t) + 1),
                    i -> t[i:i+3] = 'scan'))
                + len(list_filter(range(1, len(t) + 1),
                    i -> t[i:i+1] = 'an'))
                + len(list_filter(range(1, len(t) + 1),
                    i -> t[i:i+1] = 'ca'))
                + len(list_filter(range(1, len(t) + 1),
                    i -> t[i:i+10] = 'vector join'))
                + len(list_filter(range(1, len(t) + 1),
                    i -> t[i:i+2] = 'dup')) AS n_hits
                FROM n)
         SELECT doc_id, CAST(n_hits AS BIGINT) n_hits
         FROM h WHERE n_hits > 0 ORDER BY doc_id""",
    "q96_bm25" ->
      s"""WITH $bm25Duck
         SELECT doc_id, (s0 + s1) + s2 AS score
         FROM sc WHERE (s0 + s1) + s2 > 0
         ORDER BY score DESC, doc_id LIMIT 20""",
    "q104_hybrid" -> {
      val dot =
        "list_sum(list_transform(range(1, len(%A)+1), i -> CAST(%A[i] AS DOUBLE) * CAST(%B[i] AS DOUBLE)))"
      def dd(a: String, b: String) = dot.replace("%A", a).replace("%B", b)
      def cos(a: String, b: String) =
        s"${dd(a, b)} / (sqrt(${dd(a, a)}) * sqrt(${dd(b, b)}))"
      s"""WITH $bm25Duck,
          sp0 AS (SELECT doc_id, (s0 + s1) + s2 AS score
                  FROM sc WHERE (s0 + s1) + s2 > 0
                  ORDER BY score DESC, doc_id LIMIT 20),
          sp AS (SELECT doc_id AS id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) r_bm25
                 FROM sp0),
          de0 AS (SELECT e.vec_id, ${cos("e.embedding", "q.qv")} AS sim
                  FROM embeddings e,
                       (SELECT embedding qv FROM embeddings WHERE vec_id = 0) q
                  WHERE e.vec_id <> 0
                  ORDER BY sim DESC, e.vec_id LIMIT 20),
          de AS (SELECT vec_id AS id,
                   CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) r_dense
                 FROM de0)
         SELECT coalesce(sp.id, de.id) AS id, sp.r_bm25, de.r_dense,
                coalesce(CAST(1 AS DOUBLE) / CAST(60 + sp.r_bm25 AS DOUBLE),
                         CAST(0 AS DOUBLE))
                  + coalesce(CAST(1 AS DOUBLE) / CAST(60 + de.r_dense AS DOUBLE),
                             CAST(0 AS DOUBLE)) AS rrf
         FROM sp FULL JOIN de ON sp.id = de.id
         ORDER BY rrf DESC, id LIMIT 10"""
    },
    "q94_index" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id,
                  unnest(list_distinct(string_split(t, ' '))) AS term
                FROM n),
          p AS (SELECT term, count(*) df,
                  md5(string_agg(CAST(doc_id AS VARCHAR), ','
                    ORDER BY doc_id)) postings_md5
                FROM w WHERE term <> '' GROUP BY 1)
         SELECT term, CAST(df AS BIGINT) df, postings_md5
         FROM p WHERE df BETWEEN 5 AND 500
         ORDER BY df DESC, term LIMIT 30""",
    "q92_hist" ->
      """WITH h AS (SELECT lang,
                      least(greatest(n_chars, 0) // 16, 63) AS b
                    FROM documents),
          cnt AS (SELECT lang, b, count(*) n FROM h GROUP BY 1, 2),
          grid AS (SELECT l.lang, r.range AS b
                   FROM (SELECT DISTINCT lang FROM documents) l
                   CROSS JOIN range(0, 64) r),
          f AS (SELECT g.lang, g.b, coalesce(c.n, 0) AS n
                FROM grid g LEFT JOIN cnt c ON c.lang = g.lang AND c.b = g.b),
          cum AS (SELECT lang, b, n,
                    sum(n) OVER (PARTITION BY lang ORDER BY b) cumn,
                    sum(n) OVER (PARTITION BY lang) tot
                  FROM f),
          q AS (SELECT lang,
                  min(CASE WHEN cumn >= (tot + 1) // 2 THEN b END) b50,
                  min(CASE WHEN cumn >= (9 * tot + 9) // 10 THEN b END) b90,
                  max(tot) tot_n,
                  md5(string_agg(CAST(n AS VARCHAR), ',' ORDER BY b)) hist_md5
                FROM cum GROUP BY 1)
         SELECT lang, CAST(tot_n AS BIGINT) n,
                CAST((b50 + 1) * 16 AS BIGINT) est_p50,
                CAST((b90 + 1) * 16 AS BIGINT) est_p90,
                hist_md5
         FROM q ORDER BY lang""",
    // cross-multiplied ECDF distance; argmax row with ppm distance.
    "q150_ks" ->
      """WITH sides AS (SELECT n_chars, (doc_id % 10 < 8) is_old FROM documents),
         per AS (SELECT n_chars, count(CASE WHEN is_old THEN 1 END) o,
                        count(CASE WHEN NOT is_old THEN 1 END) w
                 FROM sides GROUP BY 1),
         cum AS (SELECT n_chars,
                        sum(o) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) co,
                        sum(w) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) cn
                 FROM per),
         tot AS (SELECT CAST(sum(o) AS BIGINT) n1, CAST(sum(w) AS BIGINT) n2 FROM per)
         SELECT n_chars t, n1, n2,
                CAST(abs(CAST(co AS HUGEINT)*n2 - CAST(cn AS HUGEINT)*n1) * 1000000
                     // (CAST(n1 AS HUGEINT)*n2) AS BIGINT) ks_ppm
         FROM cum, tot
         ORDER BY abs(CAST(co AS HUGEINT)*n2 - CAST(cn AS HUGEINT)*n1) DESC, t
         LIMIT 1""",
    // ascending (chars, source) ranks; G·n·Σx = Σ(2i−n−1)·xᵢ in ppm.
    "q151_gini" ->
      """WITH sc AS (SELECT source, CAST(sum(n_chars) AS BIGINT) chars
                     FROM documents GROUP BY 1),
         r AS (SELECT source, chars,
                      row_number() OVER (ORDER BY chars, source) i,
                      count(*) OVER () ns
               FROM sc)
         SELECT CAST(max(ns) AS BIGINT) n_sources,
                CAST(sum(chars) AS BIGINT) total_chars,
                CAST(sum((2*i - ns - 1) * CAST(chars AS HUGEINT)) * 1000000
                     // (CAST(max(ns) AS HUGEINT) * sum(chars)) AS BIGINT) gini_ppm
         FROM r""",
    // delta-gap bit cost of sorted postings; bin() = exact integer
    // floor(log2)+1.
    "q197_posting_bits" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS term FROM n),
          p AS (SELECT term, count(*) AS df, list_sort(list(doc_id)) AS ids
                FROM w WHERE term <> '' GROUP BY term),
          f AS (SELECT term, df, ids FROM p
                WHERE df >= 5 AND df * 10 <= (SELECT count(*) FROM documents) * 9),
          b AS (SELECT term, CAST(df AS BIGINT) df,
                       CAST(length(bin(ids[1] + 1)) +
                            list_sum(list_transform(range(2, CAST(df AS INTEGER) + 1),
                                                    i -> length(bin(ids[i] - ids[i-1])))) AS BIGINT) AS bits,
                       CAST(df * 64 AS BIGINT) AS raw_bits
                FROM f)
          SELECT term, df, bits, raw_bits,
                 (raw_bits - bits) * 1000000 // raw_bits AS savings_ppm
          FROM b ORDER BY df DESC, term LIMIT 30""",
    // per-language datasheet: docs, tokens, exact-dup ppm (corpus-wide
    // hash census), q25 quality pass ppm.
    "q200_data_card" ->
      s"""WITH n AS (SELECT doc_id, lang, n_chars, $normDuck t FROM documents),
          w AS (SELECT doc_id, lang, n_chars, t, string_split(t, ' ') words FROM n),
          per AS (SELECT doc_id, lang, n_chars // 4 AS toks, md5(t) h,
                         (CASE WHEN len(words) >= 30 THEN 1 ELSE 0 END
                          + CASE WHEN len(list_filter(words, x -> x in ('the', 'a'))) * 10
                                      <= len(words) THEN 1 ELSE 0 END
                          + CASE WHEN (length(replace(t, ' ', '')) * 100) // len(words)
                                      BETWEEN 300 AND 800 THEN 1 ELSE 0 END) score
                  FROM w),
          dh AS (SELECT h FROM per GROUP BY h HAVING count(*) >= 2)
          SELECT lang, CAST(count(*) AS BIGINT) n_docs,
                 CAST(sum(toks) AS BIGINT) tokens,
                 CAST(count(CASE WHEN dh.h IS NOT NULL THEN 1 END) AS BIGINT) dup_docs,
                 CAST(count(CASE WHEN dh.h IS NOT NULL THEN 1 END) * 1000000
                      // count(*) AS BIGINT) dup_ppm,
                 CAST(count(CASE WHEN score >= 2 THEN 1 END) AS BIGINT) pass_docs,
                 CAST(count(CASE WHEN score >= 2 THEN 1 END) * 1000000
                      // count(*) AS BIGINT) pass_ppm
          FROM per LEFT JOIN dh ON per.h = dh.h
          GROUP BY 1 ORDER BY 1""",
    // order-independent per-source digest: HUGEINT sum of 60-bit md5
    // row hashes, folded mod 2^61 — the q225 replication check.
    "q225_integrity_digest" ->
      """SELECT source, count(*) AS n_rows,
                CAST(sum(CAST(concat('0x', substr(md5(
                       concat_ws(chr(1), CAST(doc_id AS VARCHAR), text,
                                 lang, CAST(n_chars AS VARCHAR))),
                     1, 15)) AS BIGINT)) % 2305843009213693952 AS BIGINT)
                  AS digest
         FROM documents GROUP BY 1 ORDER BY 1""",
    // block-partitioned lag + the same monotone prefix-count LCP.
    "q235_frontcode" ->
      s"""WITH n AS (SELECT doc_id, $normDuck t FROM documents),
          w AS (SELECT doc_id, string_split(t, ' ') words FROM n),
          v AS (SELECT DISTINCT array_to_string(words[i:i+2], ' ') AS term
                FROM w, unnest(range(1, len(words) - 1)) u(i)
                WHERE len(words) >= 3),
          b AS (SELECT term, substr(term, 1, 2) AS block FROM v),
          l AS (SELECT term, block,
                  lag(term) OVER (PARTITION BY block ORDER BY term) prev
                FROM b),
          c AS (SELECT term, block,
                  CASE WHEN prev IS NULL THEN 0
                       ELSE len(list_filter(range(1, least(length(prev), length(term)) + 1),
                              i -> substr(prev, 1, i) = substr(term, 1, i)))
                  END AS lcp
                FROM l)
          SELECT CAST(count(*) AS BIGINT) n_terms,
                 CAST(count(DISTINCT block) AS BIGINT) n_blocks,
                 CAST(sum(length(term)) AS BIGINT) raw_bytes,
                 CAST(sum(lcp) AS BIGINT) lcp_bytes,
                 CAST(sum(length(term)) - sum(lcp) AS BIGINT) coded_bytes,
                 CAST((sum(lcp) * 1000000) // sum(length(term)) AS BIGINT) savings_ppm
          FROM c""",
    // per-source and global ranks replayed as windows; the same
    // integer remap g = (r·N) div n_s.
    "q234_qnorm" ->
      s"""WITH n AS (SELECT doc_id, source, $normDuck t FROM documents),
          w AS (SELECT doc_id, source, string_split(t, ' ') words FROM n),
          wt AS (SELECT list_transform(range(0, 64), k ->
                   CAST(concat('0x', substr(md5('w,'||CAST(k AS VARCHAR)), 1, 6)) AS BIGINT)
                     / CAST(16777216 AS DOUBLE) - CAST(0.5 AS DOUBLE)) ws),
          scored AS (
            SELECT doc_id, source,
                   CAST(floor(list_sum(list_transform(words, x ->
                     ws[CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64 + 1])) * 1000) AS BIGINT) AS sq
            FROM w, wt),
          bysrc AS (SELECT doc_id, source, sq,
                      row_number() OVER (PARTITION BY source ORDER BY sq, doc_id) r,
                      count(*) OVER (PARTITION BY source) n_s,
                      count(*) OVER () n_tot
                    FROM scored),
          gq AS (SELECT sq AS sq_norm,
                   row_number() OVER (ORDER BY sq, doc_id) g
                 FROM scored)
          SELECT b.doc_id, b.source, b.sq, gq.sq_norm
          FROM bysrc b JOIN gq
            ON gq.g = greatest((b.r * b.n_tot) // b.n_s, 1)
          ORDER BY b.doc_id""",
    // BM25 replay + relevance from the same tf pass; exact-ppm
    // metric arithmetic (integer floor division both engines).
    "q230_retrieval_eval" ->
      s"""WITH $bm25Duck,
          top AS (SELECT doc_id, (s0 + s1) + s2 AS score FROM sc
                  WHERE (s0 + s1) + s2 > 0
                  ORDER BY score DESC, doc_id LIMIT 20),
          rel AS (SELECT doc_id,
                    (tf0 > 0 AND tf1 > 0 AND tf2 > 0) AS is_rel FROM tf),
          nr AS (SELECT sum(CASE WHEN is_rel THEN 1 ELSE 0 END) n_relevant
                 FROM rel),
          rk AS (SELECT t.doc_id,
                   row_number() OVER (ORDER BY t.score DESC, t.doc_id) rank,
                   r.is_rel
                 FROM top t JOIN rel r ON t.doc_id = r.doc_id),
          m AS (SELECT
                  sum(CASE WHEN is_rel AND rank <= 5 THEN 1 ELSE 0 END) hits5,
                  sum(CASE WHEN is_rel AND rank <= 10 THEN 1 ELSE 0 END) hits10,
                  sum(CASE WHEN is_rel THEN 1 ELSE 0 END) hits20,
                  min(CASE WHEN is_rel THEN rank END) first_rel
                FROM rk)
          SELECT CAST(n_relevant AS BIGINT) n_relevant,
                 CAST(hits5 AS BIGINT) hits5, CAST(hits10 AS BIGINT) hits10,
                 CAST(hits20 AS BIGINT) hits20,
                 CAST((hits5 * 1000000) // 5 AS BIGINT) p5_ppm,
                 CAST((hits10 * 1000000) // 10 AS BIGINT) p10_ppm,
                 CAST((hits20 * 1000000) // 20 AS BIGINT) p20_ppm,
                 CAST((hits20 * 1000000) // n_relevant AS BIGINT) r20_ppm,
                 CAST(coalesce(1000000 // first_rel, 0) AS BIGINT) mrr_ppm
          FROM m, nr""",
    // 50-row zones under each layout rank; scanned = zone [lo, hi]
    // straddles the predicate band — parquet footer-pruning replayed.
    "q228_zonemap" ->
      """WITH base AS (SELECT doc_id, n_chars FROM documents),
         nat AS (SELECT n_chars,
                   (row_number() OVER (ORDER BY doc_id) - 1) // 50 AS zone
                 FROM base),
         clu AS (SELECT n_chars,
                   (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 50 AS zone
                 FROM base),
         natz AS (SELECT zone, count(*) n_rows, min(n_chars) lo, max(n_chars) hi,
                    sum(CASE WHEN n_chars BETWEEN 200 AND 240 THEN 1 ELSE 0 END) n_match
                  FROM nat GROUP BY 1),
         cluz AS (SELECT zone, count(*) n_rows, min(n_chars) lo, max(n_chars) hi,
                    sum(CASE WHEN n_chars BETWEEN 200 AND 240 THEN 1 ELSE 0 END) n_match
                  FROM clu GROUP BY 1),
         f AS (
           SELECT 'natural' layout, CAST(count(*) AS BIGINT) n_zones,
                  CAST(sum(CASE WHEN hi >= 200 AND lo <= 240 THEN 1 ELSE 0 END) AS BIGINT) zones_scanned,
                  CAST(sum(CASE WHEN hi >= 200 AND lo <= 240 THEN n_rows ELSE 0 END) AS BIGINT) rows_scanned,
                  CAST(sum(n_match) AS BIGINT) n_match
           FROM natz
           UNION ALL
           SELECT 'clustered', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN hi >= 200 AND lo <= 240 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN hi >= 200 AND lo <= 240 THEN n_rows ELSE 0 END) AS BIGINT),
                  CAST(sum(n_match) AS BIGINT)
           FROM cluz)
         SELECT * FROM f ORDER BY layout""",
    // same smoothed cross-multiplied ratio, HUGEINT mirroring
    // DECIMAL(38,0); same (keyness DESC, term) rank tie-break.
    "q265_keyness" ->
      s"""WITH n AS (SELECT source, $normDuck t FROM documents),
          w AS (SELECT source, unnest(string_split(t, ' ')) term FROM n),
          c AS (SELECT source, term, count(*) cnt_in FROM w
                WHERE term <> '' GROUP BY 1, 2),
          st AS (SELECT source, CAST(sum(cnt_in) AS BIGINT) ts FROM c GROUP BY 1),
          tt AS (SELECT term, CAST(sum(cnt_in) AS BIGINT) g FROM c GROUP BY 1),
          gl AS (SELECT CAST(sum(cnt_in) AS BIGINT) tot,
                        CAST(count(DISTINCT term) AS BIGINT) v FROM c),
          k AS (SELECT c.source, c.term, cnt_in, g - cnt_in AS cnt_rest,
                  CAST(((CAST(cnt_in AS HUGEINT) + 1) * (tot - ts + v) * 1000000)
                    // ((CAST(g - cnt_in AS HUGEINT) + 1) * (ts + v)) AS BIGINT)
                    keyness_ppm
                FROM c JOIN st USING (source) JOIN tt USING (term), gl),
          r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
                  ORDER BY keyness_ppm DESC, term) AS BIGINT) rn FROM k)
          SELECT source, term, CAST(cnt_in AS BIGINT) cnt_in,
                 CAST(cnt_rest AS BIGINT) cnt_rest, keyness_ppm, rn
          FROM r WHERE rn <= 10 ORDER BY source, rn""",
    // same floor-log2 axes (length(bin(x)) - 1), same all-integer
    // least-squares fit with the explicit positive-divide sign split.
    "q266_zipf" ->
      s"""WITH n AS (SELECT lang, $normDuck t FROM documents),
          w AS (SELECT lang, unnest(string_split(t, ' ')) term FROM n),
          c AS (SELECT lang, term, count(*) cnt FROM w
                WHERE term <> '' GROUP BY 1, 2),
          r AS (SELECT lang,
                  CAST(length(bin(row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, term))) - 1 AS BIGINT) lr,
                  CAST(length(bin(cnt)) - 1 AS BIGINT) lf FROM c),
          a AS (SELECT lang, CAST(count(*) AS BIGINT) n_terms,
                  CAST(sum(lr) AS HUGEINT) sx, CAST(sum(lf) AS HUGEINT) sy,
                  CAST(sum(lr * lf) AS HUGEINT) sxy,
                  CAST(sum(lr * lr) AS HUGEINT) sxx
                FROM r GROUP BY 1),
          f AS (SELECT lang, n_terms, sy,
                  n_terms * sxy - sx * sy AS num,
                  n_terms * sxx - sx * sx AS den
                FROM a WHERE n_terms >= 2)
          SELECT lang, n_terms, CAST(sy AS BIGINT) sum_lf,
                 CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
                      ELSE -((-num * 1000000) // den) END AS BIGINT) slope_ppm
          FROM f ORDER BY lang""",
    // same shared-term cross-multiplication + unshared-mass closure;
    // HUGEINT products mirror DECIMAL(38,0).
    "q267_tvd" ->
      s"""WITH n AS (SELECT source, $normDuck t FROM documents),
          w AS (SELECT source, unnest(string_split(t, ' ')) term FROM n),
          c AS (SELECT source, term, count(*) cnt FROM w
                WHERE term <> '' GROUP BY 1, 2),
          st AS (SELECT source, CAST(sum(cnt) AS HUGEINT) ts FROM c GROUP BY 1),
          sh AS (SELECT x.source src_a, y.source src_b,
                   CAST(sum(abs(CAST(x.cnt AS HUGEINT) * ty.ts
                     - CAST(y.cnt AS HUGEINT) * tx.ts)) AS HUGEINT) d_shared,
                   CAST(sum(x.cnt) AS HUGEINT) sa,
                   CAST(sum(y.cnt) AS HUGEINT) sb
                 FROM c x JOIN c y ON x.term = y.term AND x.source < y.source
                 JOIN st tx ON tx.source = x.source
                 JOIN st ty ON ty.source = y.source
                 GROUP BY 1, 2),
          p AS (SELECT a.source src_a, b.source src_b, a.ts ta, b.ts tb
                FROM st a JOIN st b ON a.source < b.source)
          SELECT src_a, src_b,
                 CAST(((coalesce(d_shared, 0)
                   + (ta - coalesce(sa, 0)) * tb
                   + (tb - coalesce(sb, 0)) * ta) * 1000000)
                   // (2 * ta * tb) AS BIGINT) tvd_ppm
          FROM p LEFT JOIN sh USING (src_a, src_b)
          ORDER BY src_a, src_b""",
  )
}
