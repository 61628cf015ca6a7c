package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2 (plus
  * the LLM-pipeline extensions) to a DataFrame builder over the driver's
  * generic parquet tables; `oracleSql` holds the DuckDB-equivalent SQL the
  * driver hash-compares against. Column names/aliases must match pairwise.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.tpchQ1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Many builders return a frame that reads pins (iterative finals,
    * fan-out tables) the operator cannot free itself. A consumer runs the
    * builder and its action in one [[Pins.scope]], which frees exactly
    * those pins afterwards; scopes are per thread, so concurrent
    * consumers (Verify's dump threads) never free each other's blocks.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ hypermap.HypermapQueries.queries ++
      operators.Dedup.queries ++ operators.TextAnalysis.queries ++
      operators.Similarity.queries ++ operators.Multimodal.queries ++
      operators.Sampling.queries ++ operators.Temporal.queries ++
      operators.Graph.queries ++ operators.Sketches.queries ++
      operators.Skew.queries ++ operators.Pipeline.queries ++
      operators.Privacy.queries ++ operators.ZOrder.queries ++
      operators.Retrieval.queries ++ operators.Audit.queries ++
      operators.TimeSeries.queries ++ operators.Stats.queries ++
      operators.Recommender.queries ++ operators.Geo.queries ++
      operators.Learn.queries ++ operators.Web.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Every entry passes through [[OracleSql.materializeMultiRefCtes]] so a
    * CTE-inlining DuckDB can never make an unrolled iterative oracle
    * exponential (VERDICT r12 §wrong-1).
    */
  def oracleSql: Map[String, String] = rawOracleSql.map {
    case (k, v) => k -> OracleSql.materializeMultiRefCtes(v)
  }

  private def rawOracleSql: Map[String, String] =
    operators.Relational.oracles ++ hypermap.HypermapQueries.oracles ++
      operators.Dedup.oracles ++ operators.TextAnalysis.oracles ++
      operators.Similarity.oracles ++ operators.Multimodal.oracles ++
      operators.Sampling.oracles ++ operators.Temporal.oracles ++
      operators.Graph.oracles ++ operators.Sketches.oracles ++
      operators.Skew.oracles ++ operators.Pipeline.oracles ++
      operators.Privacy.oracles ++ operators.ZOrder.oracles ++
      operators.Retrieval.oracles ++ operators.Audit.oracles ++
      operators.TimeSeries.oracles ++ operators.Stats.oracles ++
      operators.Recommender.oracles ++ operators.Geo.oracles ++
      operators.Learn.oracles ++ operators.Web.oracles
}
