package graft.pipelines

import graft.Trace
import graft.functions.RefFunctions
import graft.geo.Geo
import graft.operators.{AddressOps, ColumnOps, DedupOps, TimeOps}
import graft.state.Checkpoints
import graft.tables.MasterTables
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** The flagship 311-requests pipeline — the Spark rebuild of the
  * hourly `qalert_requests` DAG (SURVEY §3.1; af2_dags/qalert_airflow
  * .py:247-249's 13 tasks collapse into this one driver program).
  *
  * Stage boundaries that were GCS/BigQuery round-trips in the
  * reference become plain DataFrame lineage; the two master tables
  * (`all_linked_requests`, `all_tickets_current_status`) are rewritten
  * per batch via deterministic join-and-overwrite (no in-place
  * UPDATE/DELETE in Spark).
  */
object QalertPipeline {

  import graft.sources.SchemaRegistry.flatSchema

  /** Raw camelCase API shape (FIXTURES.md §1;
    * qalert_requests_dataflow.py:80-103).
    */
  val rawSchema: StructType = flatSchema(
    "id" -> LongType, "master" -> LongType, "status" -> IntegerType,
    "typeId" -> LongType, "typeName" -> StringType,
    "addDateUnix" -> LongType, "lastActionUnix" -> LongType,
    "closeDate" -> StringType,
    "streetNum" -> StringType, "streetName" -> StringType,
    "crossStreetName" -> StringType, "streetId" -> LongType,
    "crossStreetId" -> LongType, "cityName" -> StringType,
    "latitude" -> DoubleType, "longitude" -> DoubleType,
    "comments" -> StringType, "privateNotes" -> StringType,
    "origin" -> StringType, "dept" -> StringType,
    // dropped on ingest (qalert_requests_dataflow.py:96-98)
    "addDate" -> StringType, "lastAction" -> StringType,
    "displayDate" -> StringType, "displayLastAction" -> StringType,
    "district" -> StringType, "submitter" -> StringType,
    "priorityValue" -> LongType, "aggregatorId" -> LongType,
    "priorityToDisplay" -> StringType, "aggregatorInfo" -> StringType,
    "resumeDate" -> StringType, "cityId" -> LongType)

  val fieldNameSwaps: Seq[(String, String)] = Seq(
    "master" -> "parent_ticket_id", "addDateUnix" -> "create_date_unix",
    "lastActionUnix" -> "last_action_unix", "status" -> "status_code",
    "streetNum" -> "pii_street_num", "streetName" -> "street",
    "crossStreetName" -> "cross_street", "comments" -> "pii_comments",
    "privateNotes" -> "pii_private_notes", "latitude" -> "pii_lat",
    "longitude" -> "pii_long", "cityName" -> "city",
    "typeId" -> "request_type_id", "typeName" -> "request_type_name")

  val dropFields: Seq[String] = Seq(
    "addDate", "lastAction", "displayDate", "displayLastAction",
    "district", "submitter", "priorityValue", "aggregatorId",
    "priorityToDisplay", "aggregatorInfo", "resumeDate", "cityId")

  /** Stage 2 — the record-transform chain
    * (qalert_requests_dataflow.py:126-146, DoFn-for-DoFn). Each
    * multi-column step is one projection.
    */
  def transform(raw: DataFrame): DataFrame = {
    // ReplacePII on comments (retain location), before any other use
    val redacted = raw.withColumn("anon_comments",
      RefFunctions.redactPiiUdf(col("comments")))
    // SwapFieldNames → FilterFields → (names already snake) →
    // GetDateStringsFromUnix
    val renamed = ColumnOps.filterFields(
      ColumnOps.renameFields(redacted, fieldNameSwaps), dropFields)
    val dated = renamed.withColumns(ListMap(
      Seq("create_date_unix", "last_action_unix").flatMap(TimeOps.dateStringColumns): _*))
    // ChangeDataTypes: ids → strings (qalert_requests_dataflow.py:103-104)
    val typed = ColumnOps.changeTypes(dated, Seq(
      "id" -> ColumnOps.RStr, "parent_ticket_id" -> ColumnOps.RStr,
      "status_code" -> ColumnOps.RStr, "streetId" -> ColumnOps.RStr,
      "crossStreetId" -> ColumnOps.RStr, "request_type_id" -> ColumnOps.RStr))
    // GetStatus / GetClosedDate / DetectChildTicketStatus
    val statusName =
      when(col("status_code") === "0", "open")
        .when(col("status_code") === "1", "closed")
        .when(col("status_code") === "3", "in progress")
        .when(col("status_code") === "4", "on hold")
    val closed = statusName === "closed"
    val statused = typed.withColumns(ListMap(
        "status_name" -> statusName,
        "closed_date_unix" -> when(closed, col("last_action_unix")),
        "closed_date_utc" -> when(closed, col("last_action_unix_utc")),
        "closed_date_est" -> when(closed, col("last_action_unix_est")),
        // DetectChildTicketStatus (qalert_requests_dataflow.py:57-62) is
        // `parent == "0" ? False : True` in Python, where a missing/None
        // parent is != "0" — so a NULL parent_ticket_id is a CHILD. A
        // bare =!= would leave it NULL, and the row would satisfy
        // NEITHER integrate() branch and silently vanish from the
        // linked-requests master
        "child_ticket" -> coalesce(col("parent_ticket_id") =!= "0", lit(true))))
      .drop("closeDate")
    // FormatAndClassifyAddress (+ anonymization twins)
    val classified = AddressOps.formatAndClassifyAddress(statused,
      streetNum = "pii_street_num", streetName = "street",
      crossStreet = "cross_street", city = "city",
      lat = "pii_lat", long = "pii_long", containsPii = true)
    classified.withColumns(ListMap(
      "anon_lat" -> RefFunctions.anonymizeCoord(col("pii_lat"), 200),
      "anon_long" -> RefFunctions.anonymizeCoord(col("pii_long"), 200),
      "anon_input_address" -> RefFunctions.anonymizeBlockUdf(100)(col("pii_input_address"))))
  }

  /** Stage 4 — format/dedupe (format_incoming_data_types,
    * transform_enrich_requests.py:120-151): SELECT DISTINCT with typed
    * time/coord columns.
    */
  def formatDedupe(df: DataFrame): DataFrame =
    DedupOps.distinctRows(df).withColumns(ListMap(
      "pii_lat" -> col("pii_lat").cast(DoubleType),
      "pii_long" -> col("pii_long").cast(DoubleType)))

  /** Stages 5-6 — city-limits reclassification + 8-family time-bounded
    * reverse geocode (geo_queries.py:123-154, :35-108).
    *
    * Parity note: missing-coordinate tickets reach this stage with
    * lat/long 0.0 (FormatAndClassifyAddress coerces None → 0.0,
    * dataflow_utils.py:437-443), so against a real city polygon they
    * classify 'Outside of City' — exactly what the reference's UPDATE
    * does, since its `WHERE lat IS NOT NULL` guard never sees a NULL
    * after that same coercion.
    */
  def enrich(df: DataFrame, cityWkt: String, enclaveWkt: String,
             zoneFamilies: Map[String, Seq[(String, String, Long, Option[Long])]]): DataFrame = {
    val limited = Geo.cityLimits(df, cityWkt, enclaveWkt,
      latCol = "pii_lat", longCol = "pii_long")
    Geo.revGeoTimeBound(limited, zoneFamilies,
      latCol = "pii_lat", longCol = "pii_long",
      eventUnixCol = "create_date_unix")
  }

  /** Master-table state carried between runs. */
  final case class Masters(allLinked: DataFrame, currentStatus: DataFrame)

  /** Stages 7-11 — integrate a batch into the master tables
    * (integrate_new_requests.py + qalert_airflow.py:148-217), with the
    * effect of running, in this order (numbered as the reference's
    * stages):
    *  8. remove false parents: master parents whose id re-arrives as a
    *     child are deleted
    *  7. insert the batch parents whose id is absent after that delete,
    *     with an empty child array
    *  9. append the batch's children to their parents, new and old (a
    *     re-arriving child replaces its struct; a child whose parent is
    *     in neither table is dropped)
    * 10. set the status/close/last-action fields of every parent the
    *     batch carries from its batch row, NULL included
    * 11. delete+insert snapshot upsert of `all_tickets_current_status`
    *
    * Steps 7-10 are one keyed merge: the batch becomes one delta row
    * per id it touches (is a child deleted under it, its parent rows,
    * the children to append under it), and one full outer join against
    * `all_linked_requests` applies it.
    */
  def integrate(masters: Masters, batch: DataFrame): Masters = {
    val master = masters.allLinked
    val isChild = col("child_ticket")
    val body = master.columns.filterNot(Set("child_tickets", "num_requests"))
    // every batch row under its own id; each child once more under its
    // parent's id, struct shape (child_id, child_comments, child_notes)
    // per integrate_new_requests.py:213-216
    val keyed = batch
      .select(col("id").as("__k"), isChild.as("__del"),
        when(!isChild, struct(body.map(col).toIndexedSeq: _*)).as("__p"))
      .unionByName(batch.filter(isChild).select(col("parent_ticket_id").as("__k"),
        struct(col("id").as("child_id"), col("anon_comments").as("child_comments"),
          col("pii_private_notes").as("child_notes")).as("__kid")),
        allowMissingColumns = true)
    val grouped = keyed.groupBy("__k").agg(bool_or(col("__del")).as("__del"),
      collect_list("__p").as("__ins"), collect_list("__kid").as("__kids"))
    // a NULL key matches no master row: it deletes nothing, takes no
    // children (they are orphans) and updates nothing; the parents
    // under it are still inserted, as the reference's anti-join keeps
    // them. The update row is any one of the key's parents, as the
    // reference's dropDuplicates picks one.
    val keyedOn = col("__k").isNotNull
    val delta = grouped.select(col("__k"),
      coalesce(col("__del"), lit(false)).as("__del"),
      when(size(col("__ins")) > 0, col("__ins")).as("__ins"),
      when(keyedOn, try_element_at(col("__ins"), lit(1))).as("__upd"),
      when(keyedOn && size(col("__kids")) > 0, col("__kids")).as("__kids"))
    // per joined row: a master row of a deleted id goes, any other
    // master row stays, and a key no master row holds becomes its
    // batch parents (children alone under it are orphans). A deleted
    // id's batch parents are inserted after the delete: they are taken
    // from the delta beside the join, so they come out once however
    // many master rows the id held. Both branches read one delta
    // aggregate (the filter on its output cannot be pushed below it).
    val joined = master.withColumn("__m", lit(true))
      .join(delta, col("id") === col("__k"), "full_outer")
      .filter(!coalesce(col("__del"), lit(false)))
      .withColumn("__p", explode_outer(when(col("__m").isNull, col("__ins"))))
      .filter(col("__m").isNotNull || col("__p").isNotNull)
    val merged = joined.unionByName(
      delta.filter(col("__del")).withColumn("__p", explode(col("__ins"))),
      allowMissingColumns = true)

    val fromMaster = col("__m").isNotNull
    val kids = MasterTables.appendChildren(
      when(fromMaster, col("child_tickets")).otherwise(array().cast(ArrayType(childStruct))),
      col("__kids"), "child_id")
    val updated = updateCols.toSet
    val linked = merged.select(master.columns.toIndexedSeq.map {
      case "child_tickets" => kids.as("child_tickets")
      case "num_requests"  => MasterTables.numRequests(kids).as("num_requests")
      case c =>
        val v = when(fromMaster, col(c)).otherwise(col("__p")(c))
        if (updated(c)) when(col("__upd").isNotNull, col("__upd")(c)).otherwise(v).as(c)
        // the outer join makes every master column nullable; a column
        // both sides declare non-null stays non-null, as in a union
        else if (master.schema(c).nullable || batch.schema(c).nullable) v.as(c)
        else ColumnBridge.toColumn(AssertNotNull(ColumnBridge.toExpression(v))).as(c)
    }: _*)

    // 11: snapshot upsert of the current-status table (all tickets,
    // parent or child)
    val current = MasterTables.deleteOldInsertNew(
      masters.currentStatus, batch, keys = Seq("id"))

    Masters(linked, current)
  }

  /** Fields step 10 refreshes from a re-arriving parent. */
  private val updateCols = Seq("status_code", "status_name",
    "last_action_unix", "last_action_unix_utc", "last_action_unix_est",
    "closed_date_unix", "closed_date_utc", "closed_date_est")

  private val childStruct = StructType(Seq(
    StructField("child_id", StringType), StructField("child_comments", StringType),
    StructField("child_notes", StringType)))

  /** Stage 12 — scrubbed export (drop_pii,
    * transform_enrich_requests.py:97-117): safe columns only, children
    * rendered as a JSON string with null-id entries filtered (the
    * reference's `WHERE child_id IS NOT NULL` inside the ARRAY
    * subquery; its `SELECT AS STRUCT *` passes child_comments AND
    * child_notes through, reproduced here), private request types
    * filtered out with SQL `NOT IN` semantics — a NULL
    * request_type_name is excluded, exactly as `NOT IN` evaluates to
    * NULL in BigQuery (a coalesce-to-'' would export those rows).
    */
  def dropPiiForExport(master: DataFrame, privateTypes: Seq[String]): DataFrame =
    master
      .filter(col("request_type_name").isNotNull &&
        !col("request_type_name").isin(privateTypes: _*))
      .select(
        col("id"), col("parent_ticket_id"), col("child_ticket"),
        col("status_name"), col("request_type_name"),
        col("create_date_unix"), col("create_date_unix_utc"), col("create_date_unix_est"),
        col("last_action_unix"), col("closed_date_unix"),
        col("address_type"), col("anon_input_address"),
        col("anon_lat"), col("anon_long"), col("anon_comments"),
        col("num_requests"),
        to_json(filter(col("child_tickets"), c => c("child_id").isNotNull))
          .as("child_tickets_json"))

  /** One full batch run: raw ndjson path → transformed/enriched batch +
    * new master state + scrubbed export.
    */
  def runBatch(
      spark: SparkSession, rawPath: String,
      masters: Masters,
      cityWkt: String, enclaveWkt: String,
      zoneFamilies: Map[String, Seq[(String, String, Long, Option[Long])]],
      privateTypes: Seq[String] = Seq("Private Violation")): (Masters, DataFrame, DataFrame) = {
    val (raw, quarantine) = graft.sources.JsonSource.readRepaired(spark, rawPath, rawSchema)
    val sc = spark.sparkContext
    // One eager cut of the drop: the JSON repair-parse, PII redaction
    // and revgeo run once, and integrate() plans against a one-node
    // leaf. (A persist would leave the whole subtree in each of its
    // uses in both master plans, for the analyzer to deduplicate and
    // AQE to re-plan stage by stage.) Both masters are cut eagerly as
    // well, truncating lineage so chaining hourly runBatch calls keeps
    // O(1) plans instead of growing the DAG per run (iterative-Spark
    // rule); they exist before the batch's blocks are released, in
    // either checkpoint mode.
    val batch = Trace.span(sc, "qalert.batch")(Checkpoints.stable(
      enrich(formatDedupe(transform(raw)), cityWkt, enclaveWkt, zoneFamilies)))
    try {
      val merged = integrate(masters, batch)
      val next = Masters(
        Trace.span(sc, "qalert.all_linked")(Checkpoints.stable(merged.allLinked)),
        Trace.span(sc, "qalert.current_status")(Checkpoints.stable(merged.currentStatus)))
      (next, dropPiiForExport(next.allLinked, privateTypes), quarantine)
    } finally Checkpoints.release(batch)
  }

  /** Submitter-field column order shared by the 311_utilizers ledger
    * (qscend/submitter_admin.py:4-24).
    */
  private val utilizerCols = Seq("request_id", "create_date_est",
    "request_type_name", "complaint_address", "submitter_id", "first_name",
    "last_name", "email", "phone", "address", "address_2", "city", "state",
    "zip", "neighborhood_name", "twitter_name", "last_request_date",
    "last_modified_date", "curr_total_requests_made",
    "curr_total_requests_closed", "satisfaction_level", "origin")

  /** join_submitter_to_request (qscend/submitter_admin.py:4-24):
    * enrich the latest submitters with their ticket's create
    * date/type/address (LEFT OUTER on request id), keep only the
    * (request_id, submitter_id) pairs not already in the ledger, and
    * union the legacy summaries snapshot. The returned frame is the
    * REPLACEMENT table content (the reference is CREATE OR REPLACE of
    * 311_utilizers with exactly these two UNION ALL branches — not an
    * append of a delta); callers overwrite the ledger with it. The
    * pair-key guard is a left_anti on the two columns (no CONCAT
    * collision risk, same semantics for non-NULL keys); only the new
    * batch shuffles.
    */
  def utilizersAppend(
      latestSubmitters: DataFrame, tickets: DataFrame,
      utilizers: DataFrame, summaries: DataFrame): DataFrame = {
    val enriched = latestSubmitters.join(
      tickets.select(col("id").as("request_id"), col("create_date_est"),
        col("request_type_name"),
        col("pii_google_formatted_address").as("complaint_address"),
        col("neighborhood_name")),
      Seq("request_id"), "left")
    val fresh = enriched
      .join(utilizers.select("request_id", "submitter_id"),
        Seq("request_id", "submitter_id"), "left_anti")
      .select(utilizerCols.map(col): _*)
    fresh.unionByName(summaries.select(utilizerCols.map(col): _*))
  }

  /** update_submitter_table (qscend/submitter_admin.py:26-40): roll the
    * latest submitters up to one row per identity with MAX totals, and
    * retain existing ledger identities absent from the batch (NOT IN →
    * left_anti; the reference's submitter ids are non-NULL). One
    * shuffle each side on submitter identity.
    */
  def submitterRollup(latest: DataFrame, existing: DataFrame): DataFrame = {
    val identity = Seq("submitter_id", "first_name", "last_name", "email",
      "phone", "address", "address_2", "city", "state", "zip", "twitter_name")
    val rolled = latest.groupBy(identity.map(col): _*)
      .agg(max("curr_total_requests_made").as("total_requests_made"),
        max("curr_total_requests_closed").as("total_requests_closed"))
    val retained = existing
      .join(latest.select("submitter_id").distinct(), Seq("submitter_id"), "left_anti")
      .select((identity ++ Seq("total_requests_made", "total_requests_closed")).map(col): _*)
      .distinct()
    rolled.unionByName(retained)
  }

  /** Empty master tables with the full integrated schema (first run). */
  def emptyMasters(spark: SparkSession, like: DataFrame): Masters = {
    val linked = like
      .withColumn("child_tickets", array().cast(ArrayType(childStruct)))
      .withColumn("num_requests", lit(1L))
      .limit(0)
    Masters(linked, like.limit(0))
  }
}
