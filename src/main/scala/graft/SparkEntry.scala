package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each capability lives in a `graft.operators.*` module as a [[GraftQuery]]
  * (Spark impl + optional DuckDB oracle SQL, kept side-by-side so names and
  * semantics stay in sync). This object only aggregates them.
  */
object SparkEntry {
  private def registry: Seq[GraftQuery] =
    operators.Relational.all ++ operators.Spatial.all ++
      operators.TextOps.all ++ operators.Similarity.all ++
      operators.Streaming.all ++ operators.MultimodalOps.all ++
      operators.PipelineOps.all ++ operators.Privacy.all ++ operators.Skew.all ++
      operators.Profiling.all ++ operators.RangeJoin.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.pricingSummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Names of the queries whose final sort is desampled ([[GraftQuery.desampled]]):
    * every query but a [[GraftQuery.sqlLargeResult]] one, and none under
    * `GRAFT_NO_DESAMPLE=1`. */
  def desampled: Set[String] =
    registry.filter(_.desampled).map(_.name).toSet
}
