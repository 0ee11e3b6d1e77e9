package graft.pipelines

import graft.functions.RefFunctions
import graft.operators.{ColumnOps, NestedOps, TimeOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Computronix PLI permits (WPRDC export) driver
  * (computronix_pli_permits_wprdc_dataflow.py:24-104): the OData
  * export nests `base → JOBPARCELXREF[0] → PARCEL →
  * PARCELPARCELOWNERXREF[0] → PARCELOWNER`; the two xref levels are
  * flattened into the row (missing level → NULL fields, the
  * reference's IndexError branch), names are swapped to snake_case,
  * string fields upper-cased, `issue_date` gets the UTC/EST/UNIX
  * triple, and the parcel number is standardized to the county
  * 16-char format.
  *
  * Spark shape: pure nested-access column expressions — a single
  * narrow projection, no explode (xrefs are take-first by contract),
  * no shuffle.
  */
object ComputronixPliPipeline {

  /** computronix_pli_permits_wprdc_dataflow.py:81-86. */
  val nameSwaps: Seq[(String, String)] = Seq(
    "EXTERNALFILENUM" -> "ext_file_num", "ISSUEDATE" -> "issue_date",
    "OWNERNAME" -> "owner_name", "ALLCONTRACTORSNAME" -> "contractor_name",
    "TOTALPROJECTVALUE" -> "total_proj_val",
    "TYPEOFWORKDESCRIPTION" -> "type_work",
    "COMMERCIALORRESIDENTIAL" -> "commercial_or_residential",
    "WORKDESCRIPTION" -> "work_desc",
    "FORMATTEDPARCELNUMBER" -> "parc_num",
    "ADDRESSABLEOBJEFORMATTEDADDRES" -> "obj_address")

  /** computronix_pli_permits_wprdc_dataflow.py:88-90 — `permit_type`
    * arrives lower-cased from the loader
    * (computronix_pli_permits_wprdc_gcs.py:70).
    */
  val upperFields: Seq[String] = Seq(
    "ext_file_num", "permit_type", "owner_name", "contractor_name",
    "type_work", "commercial_or_residential", "work_desc", "parc_num",
    "obj_address")

  /** Raw OData export shape (computronix_pli_permits_wprdc_gcs.py:28-40). */
  val rawSchema: StructType = {
    val parcelOwner = StructType(Seq(StructField("OWNERNAME", StringType)))
    val ownerXref   = ArrayType(StructType(Seq(StructField("PARCELOWNER", parcelOwner))))
    val parcel = StructType(Seq(
      StructField("FORMATTEDPARCELNUMBER", StringType),
      StructField("ADDRESSABLEOBJEFORMATTEDADDRES", StringType),
      StructField("PARCELPARCELOWNERXREF", ownerXref)))
    val jobXref = ArrayType(StructType(Seq(StructField("PARCEL", parcel))))
    StructType(Seq(
      StructField("EXTERNALFILENUM", StringType),
      StructField("permit_type", StringType),
      StructField("ISSUEDATE", StringType),
      StructField("ALLCONTRACTORSNAME", StringType),
      StructField("TYPEOFWORKDESCRIPTION", StringType),
      StructField("COMMERCIALORRESIDENTIAL", StringType),
      StructField("WORKDESCRIPTION", StringType),
      StructField("TOTALPROJECTVALUE", DoubleType),
      StructField("JOBPARCELXREF", jobXref)))
  }

  /** Two-level xref flatten → rename → upper-case → time triple →
    * parcel standardization.
    */
  def transform(raw: DataFrame): DataFrame = {
    val unnested = NestedOps.unNestXref(raw,
      xref1 = "JOBPARCELXREF", table1 = "PARCEL",
      fields1 = Seq("FORMATTEDPARCELNUMBER", "ADDRESSABLEOBJEFORMATTEDADDRES"),
      xref2 = "PARCELPARCELOWNERXREF", table2 = "PARCELOWNER",
      fields2 = Seq("OWNERNAME"))
      .drop("JOBPARCELXREF")
    val renamed = ColumnOps.renameFields(unnested, nameSwaps)
    val uppered = upperFields.foldLeft(renamed)(
      (d, f) => ColumnOps.convertStringCase(d, f, "upper"))
    val timed = TimeOps.standardizeTimes(uppered, Seq("issue_date" -> "US/Eastern"))
    timed.withColumn("parc_num", RefFunctions.standardizeParcelNumUdf(col("parc_num")))
  }

  /** combine_incoming_existing_recs
    * (bq_queries/cx_pli/condemned_dead_end_properties.py:5-47):
    * error-recovery merge of the full-snapshot condemned/dead-end
    * extract — distinct incoming rows of interest, plus any previously
    * ingested parcels absent from the snapshot (a partial API result
    * can only ever be missing data). The incoming filter reproduces
    * the reference's AND/OR precedence exactly: `(parc_num IS NOT NULL
    * AND condemned) OR dead_end` — a NULL-parcel dead-end row passes
    * the CTE and is dropped by the final `parc_num IS NOT NULL`.
    * One anti-join shuffle on parc_num + the distincts; the filtered
    * snapshot subtree feeds both the output union and the anti-join
    * build side, so it is persisted for the duration of the merge
    * rather than evaluated twice.
    */
  def combineCondemnedDeadEnd(incoming: DataFrame, existing: DataFrame): DataFrame = {
    val ofInterest =
      (col("parc_num").isNotNull && col("insp_type_desc") === "Condemned Property") ||
        col("insp_type_desc") === "Dead End Property"
    val newT = incoming.where(ofInterest).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val missing = existing
      .join(newT.select("parc_num").where(col("parc_num").isNotNull).distinct(),
        Seq("parc_num"), "left_anti")
      .distinct()
    newT.where(col("parc_num").isNotNull)
      .unionByName(missing.where(col("parc_num").isNotNull))
      .distinct()
  }

  /** create_pli_exp_active_tables (condemned_dead_end_properties.py:
    * 50-63): per-type active snapshots.
    */
  def activeByType(cde: DataFrame, inspType: String): DataFrame =
    cde.where(col("insp_type_desc") === inspType && col("insp_status") === "Active")

  /** push_gis_latest_updates (condemned_dead_end_properties.py:66-85):
    * keep each parcel's latest record (grouped-max join on
    * create_date_UNIX), filter to Active, and assign a global
    * `parc_unique_id` ordered by create date (ties broken by parc_num
    * for determinism — the reference leaves them nondeterministic).
    * The grouped max is one shuffle on parc_num; the surrogate id uses
    * the two-level bucketed form ([[graft.operators.DedupOps
    * .globalSurrogateId]], day-wide unix buckets) instead of a
    * single-partition global window, so the same code survives a
    * survivor set that does NOT fit one task.
    */
  def latestUpdateActive(cde: DataFrame): DataFrame = {
    val maxVals = cde.groupBy("parc_num")
      .agg(max("create_date_UNIX").as("__max_date"))
    // materialized once: the surrogate-id scaffold consumes its input
    // twice (bucket-count aggregation + the final join), and without
    // the barrier the grouped-max join above would execute twice
    val latest = cde.join(maxVals,
        cde("parc_num") === maxVals("parc_num") &&
          cde("create_date_UNIX") === maxVals("__max_date"))
      .drop(maxVals("parc_num")).drop("__max_date")
      .where(col("insp_status") === "Active")
      .transform(graft.state.Checkpoints.stable)
    graft.operators.DedupOps.globalSurrogateId(
      latest, "create_date_UNIX", Seq("parc_num"), "parc_unique_id")
  }

  /** End-to-end batch; returns (permits, quarantine). */
  def runBatch(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val (raw, quarantine) = graft.sources.JsonSource.readRepaired(spark, path, rawSchema)
    (transform(raw), quarantine)
  }
}
