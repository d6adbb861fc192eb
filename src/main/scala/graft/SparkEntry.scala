package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AdvancedQueries, AnalyticsQueries, CoreQueries, CorpusQueries, CurationQueries, GraphQueries, MapperQueries, MetaQueries, ScaleQueries, SignalQueries, SourceQueries, StreamQueries, TrainingQueries, WarehouseQueries, WeightedQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator-inventory entries (SURVEY.md §2) to DataFrame
  * plans over the driver's parquet tables; `oracleSql` holds the equivalent
  * DuckDB SQL. Column names/aliases match pairwise by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q03_star_join_agg")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ TrainingQueries.queries ++ WarehouseQueries.queries ++
      MetaQueries.queries ++ MapperQueries.queries ++ SourceQueries.queries ++
      StreamQueries.queries ++ AdvancedQueries.queries ++ AnalyticsQueries.queries ++ SignalQueries.queries ++ GraphQueries.queries ++ CurationQueries.queries ++ CorpusQueries.queries ++ ScaleQueries.queries ++ WeightedQueries.queries

  /** The queries named by a `SPARK_GRAFT_ONLY` filter (comma-separated
    * query names), sorted by name. An unset or blank filter selects every
    * query. A name that matches no query throws: a typo must fail the run,
    * not select nothing and report an empty run as a result. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = only.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val all = queries
    val unknown = names -- all.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names match no query: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names(n) }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ TrainingQueries.oracles ++ WarehouseQueries.oracles ++
      MetaQueries.oracles ++ MapperQueries.oracles ++ SourceQueries.oracles ++
      StreamQueries.oracles ++ AdvancedQueries.oracles ++ AnalyticsQueries.oracles ++ SignalQueries.oracles ++ GraphQueries.oracles ++ CurationQueries.oracles ++ CorpusQueries.oracles ++ ScaleQueries.oracles ++ WeightedQueries.oracles
}
