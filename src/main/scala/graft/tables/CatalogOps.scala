package graft.tables

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog / orchestration helpers (the driver-side analogs of the
  * reference's Airflow-level operations).
  */
object CatalogOps {

  /** ShortCircuitOperator + check_blob_exists
    * (qalert_monthly_backfill_airflow.py:63-68, airflow_utils.py:
    * 244-247): gate a pipeline stage on input presence — a file or a
    * non-empty dir ([[graft.state.StateDirs.present]]), resolved under
    * `spark`'s Hadoop conf.
    */
  def inputPresent(spark: SparkSession, path: String): Boolean =
    spark.withActive(graft.state.StateDirs.present(path))

  /** delete_table_group (transform_enrich_requests.py:71-85): the
    * FORMAT + EXECUTE IMMEDIATE dynamic DROP loop becomes a driver-side
    * catalog iteration. Returns the dropped table names.
    */
  def dropTablesMatching(spark: SparkSession, namePrefix: String): Seq[String] = {
    // listTables includes session temp VIEWS; DROP TABLE on one throws
    // (WRONG_COMMAND_FOR_OBJECT_TYPE) mid-loop — only real tables match
    // the reference's dataset-scoped drop anyway
    val victims = spark.catalog.listTables().collect()
      .filterNot(_.isTemporary)
      .map(_.name).filter(_.startsWith(namePrefix)).toSeq
    victims.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    victims
  }

  /** build_split_table_query (airflow_utils.py:130-160): manual N-way
    * time-range sharding to bound per-query size. Spark partitions
    * natively, so this is `repartitionByRange` — kept as the explicit
    * analog for when a downstream sink needs bounded files.
    */
  def splitByTimeRange(df: org.apache.spark.sql.DataFrame, timeCol: String,
                       shards: Int): org.apache.spark.sql.DataFrame =
    df.repartitionByRange(shards, org.apache.spark.sql.functions.col(timeCol))

  /** Bulk per-table CSV export of a whole dataset (the reference's
    * shell loop over `bq ls` + `bq extract`,
    * export_timebound_geo_tables_wprdc.sh:6-13): iterate the catalog,
    * export each matching table. Returns the exported table names.
    */
  def exportAllTables(spark: SparkSession, namePrefix: String, outDir: String): Seq[String] = {
    val tables = spark.catalog.listTables().collect()
      .filterNot(_.isTemporary) // bq ls lists dataset tables, not session views
      .map(_.name).filter(_.startsWith(namePrefix)).toSeq
    tables.foreach { t =>
      graft.sources.Sinks.writeCsv(spark.table(t), s"$outDir/$t")
    }
    tables
  }

  /** Schema-on-read autodetect (qalert_airflow.py:104 autodetect=True /
    * gen_schema_from_df gcs_utils.py:378-400): infer a StructType from
    * sample data.
    */
  /** One-pass column profiler: per column — row count, NULL count,
    * exact distinct count, lexicographic min/max — in long format
    * (col_name, n_rows, n_nulls, n_distinct, min_value, max_value).
    * The profile runs over the column's STRING SURFACE: each row
    * explodes to C (col_name, stringified value) pairs, and ONE
    * two-level aggregation (value histogram → per-column rollup)
    * answers every metric — no per-column scan, no Expand from C
    * distinct aggregates, map-side combine collapses repeated values
    * before the shuffle. min/max are therefore string-ordered
    * ("10" < "9"), the documented semantics of a surface profile.
    *
    * `stringify` overrides the default `cast(string)` per column —
    * REQUIRED for floating-point columns when the profile must
    * reproduce across engines (shortest-round-trip double formatting
    * is not standardized; cast to DECIMAL first), and useful to
    * profile timestamps at date grain.
    */
  def profileTable(df: org.apache.spark.sql.DataFrame,
                   stringify: Map[String, Column] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    require(df.columns.nonEmpty, "cannot profile a zero-column frame")
    val pairs = df.columns.toIndexedSeq.map { c =>
      struct(lit(c).as("col_name"),
        stringify.getOrElse(c, col(c).cast("string")).as("v"))
    }
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      .groupBy("col_name", "v").agg(count(lit(1)).as("__n"))
      .groupBy("col_name")
      .agg(sum("__n").as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("__n"))), lit(0L)).as("n_nulls"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        min("v").as("min_value"), max("v").as("max_value"))
  }

  def inferSchema(spark: SparkSession, jsonPath: String): org.apache.spark.sql.types.StructType =
    spark.read.json(jsonPath).schema
}
