package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the complete operator surface: one entry per implemented
  * operator from SURVEY.md §2 (reference pipeline ops) plus the
  * LLM-data-pipeline extensions (dedup / similarity / text analysis).
  * `oracleSql` holds the DuckDB-equivalent SQL for the hash-match gate.
  */
object SparkEntry {

  /** Flagship: the full nozzle pipeline in batch form — scan envelopes,
    * route to topics (O5/O6), drop unroutable (O5), serialize with the
    * canonical byte-exact Envelope encoder (O8) — on sf0.001. Driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession(spark)
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    e.select(
        col("event_id"),
        graft.queries.EventQueries.topicExpr(col("event_type"), col("user_id")).as("topic"),
        graft.queries.EventQueries.logMessageJson().as("payload"))
      .filter(col("topic").isNotNull)
  }

  /** One entry per implemented operator from SURVEY.md §2 + the
    * LLM-data-pipeline extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.EventQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.MultimodalQueries.queries ++
      graft.queries.RelationalQueries.queries ++
      graft.queries.EngineQueries.queries

  /** Fail fast on a query-name selection naming an unknown query: a
    * misspelled name would otherwise silently select nothing and the
    * run would report an empty success. */
  def requireKnown(names: Iterable[String], what: String): Unit = {
    val unknown = names.toSet.diff(queries.keySet)
    require(unknown.isEmpty,
      s"$what not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.EventQueries.oracleSql ++
      graft.queries.DedupQueries.oracleSql ++
      graft.queries.SimilarityQueries.oracleSql ++
      graft.queries.TextQueries.oracleSql ++
      graft.queries.MultimodalQueries.oracleSql ++
      graft.queries.RelationalQueries.oracleSql ++
      graft.queries.EngineQueries.oracleSql
}
