package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.GraftFunctions
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * key maps to. Every `queries` entry with an `oracleSql` entry is
  * hash-checked against DuckDB at sf0.01 by the driver. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = withFunctions(spark) {
    Gold.dailySalesSummary(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Gold.queries ++ Athena.queries ++ Silver.queries ++ Ingest.queries ++
      DataQuality.queries ++ TextAnalysis.queries ++ Dedup.queries ++
      Similarity.queries ++ Events.queries ++ Multimodal.queries ++
      AsOfJoin.queries ++ IntervalJoin.queries ++ Curation.queries ++
      Clustering.queries ++ Compaction.queries ++ FuzzyMatch.queries ++
      Graph.queries ++ Html.queries ++ Url.queries ++ Warc.queries ++
      Robots.queries ++ Sitemap.queries ++ CrawlBudget.queries).map {
      case (key, q) => key -> ((spark: SparkSession, dir: String) =>
        withFunctions(spark)(q(spark, dir)))
    }

  /** The caller's session may lack GraftExtensions: install graft's
    * native functions on it before building the query. */
  private def withFunctions(spark: SparkSession)(df: => DataFrame): DataFrame = {
    GraftFunctions.install(spark)
    df
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    Gold.oracles ++ Athena.oracles ++ Silver.oracles ++ Ingest.oracles ++
      DataQuality.oracles ++ TextAnalysis.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ Events.oracles ++ Multimodal.oracles ++
      AsOfJoin.oracles ++ IntervalJoin.oracles ++ Curation.oracles ++
      Clustering.oracles ++ Compaction.oracles ++ FuzzyMatch.oracles ++
      Graph.oracles ++ Html.oracles ++ Url.oracles ++ Warc.oracles ++
      Robots.oracles ++ Sitemap.oracles ++ CrawlBudget.oracles
}
