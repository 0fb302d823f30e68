package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 registers one named query;
  * queries with an ANSI-SQL mirror get DuckDB-oracle-checked, the rest
  * (driver-side MMR, hash-seeded sketches) get the rows-only check.
  */
object SparkEntry {
  val allQueries: Seq[Q] =
    RelationalQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      VectorQueries.all ++ PipelineQueries.all ++ EventQueries.all ++
      RankQueries.all ++ ScaleQueries.all ++ StatQueries.all ++
      AnalyticsQueries.all ++ LayoutQueries.all ++ CurationQueries.all ++
      SketchQueries.all ++ GraphQueries.all ++ PruneQueries.all ++
      SurfaceQueries.all ++ QualityQueries.all ++ EvalQueries.all ++
      RetrievalQueries.all ++ MiningQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q40_recommend_top10")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
