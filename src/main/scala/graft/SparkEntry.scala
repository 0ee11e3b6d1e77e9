package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-coverage surface: one entry per implemented
  * operator family from SURVEY.md §2 (plus the training-data-pipeline
  * extensions). `oracleSql` holds the DuckDB twin for every
  * SQL-expressible query; column names match exactly.
  *
  * Both are merged from the query modules in `graft.queries`, each of
  * which keeps its Spark queries and its oracles side by side:
  * `RelationalQueries` and `TextQueries` (the core surface), the six
  * families `GraphQueries`, `RecsysQueries`, `SimilarityQueries`,
  * `DocumentQueries`, `AnalyticsQueries` and `SqlSurfaceQueries`, then
  * `ParityQueries`, `UdfParityQueries`, `PipelineQueries`,
  * `FeedQueries`, `MasterUpkeepQueries`, `CorpusQueries` and
  * `ProbeQueries`. Oracle fragments used by more than one module are
  * written once in `OracleSql`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query module by name, with its queries and its oracles. */
  private[graft] def modules
      : Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ("RelationalQueries", RelationalQueries.queries, RelationalQueries.oracle),
    ("TextQueries", TextQueries.queries, TextQueries.oracle),
    ("GraphQueries", GraphQueries.queries, GraphQueries.oracle),
    ("RecsysQueries", RecsysQueries.queries, RecsysQueries.oracle),
    ("SimilarityQueries", SimilarityQueries.queries, SimilarityQueries.oracle),
    ("DocumentQueries", DocumentQueries.queries, DocumentQueries.oracle),
    ("AnalyticsQueries", AnalyticsQueries.queries, AnalyticsQueries.oracle),
    ("SqlSurfaceQueries", SqlSurfaceQueries.queries, SqlSurfaceQueries.oracle),
    ("ParityQueries", ParityQueries.queries, ParityQueries.oracle),
    ("UdfParityQueries", UdfParityQueries.queries, UdfParityQueries.oracle),
    ("PipelineQueries", PipelineQueries.queries, PipelineQueries.oracle),
    ("FeedQueries", FeedQueries.queries, FeedQueries.oracle),
    ("MasterUpkeepQueries", MasterUpkeepQueries.queries, MasterUpkeepQueries.oracle),
    ("CorpusQueries", CorpusQueries.queries, CorpusQueries.oracle),
    ("ProbeQueries", ProbeQueries.queries, ProbeQueries.oracle))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._2).reduce(_ ++ _)

  def oracleSql: Map[String, String] = modules.map(_._3).reduce(_ ++ _)
}
