package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Master/incremental table semantics.
  *
  * The reference maintains `all_*` master tables in BigQuery and merges
  * each run's `incoming_*` staging table into them with INSERT/UPDATE/
  * DELETE SQL (bq_queries/qscend/integrate_new_requests.py,
  * general_queries.py). Spark has no in-place mutation, so every
  * mutation becomes a deterministic join-and-rewrite producing a new
  * snapshot — idempotent under batch re-runs, and shuffle-efficient at
  * scale (one shuffle per merge on the master key).
  */
object MasterTables {

  /** build_insert_new_records_query (general_queries.py:87-98): append
    * only never-seen keys (NOT IN → left_anti).
    */
  def insertNewRecords(master: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    master.unionByName(incoming.join(master.select(keys.map(col): _*).distinct(), keys, "left_anti"))

  /** Correlated UPDATE ... FROM (integrate_new_requests.py:109-121,
    * general_queries.py:132-142): overwrite `updateCols` on matching
    * keys from `updates`, keep old values elsewhere.
    *
    * The reference's SET is unconditional: a matched row takes the
    * update value even when it is NULL (a re-opened ticket's closed
    * date reverts to NULL). A `__matched` marker distinguishes
    * "matched with NULL value" from "no match" — coalesce alone
    * cannot.
    */
  def syncUpdate(master: DataFrame, updates: DataFrame, keys: Seq[String], updateCols: Seq[String]): DataFrame = {
    val u = updates
      .select((keys.map(col) ++ updateCols.map(c => col(c).as(s"__u_$c"))): _*)
      .dropDuplicates(keys)
      .withColumn("__matched", lit(true))
    master.join(u, keys, "left")
      .withColumns(ListMap(updateCols.map(c =>
        c -> when(col("__matched"), col(s"__u_$c")).otherwise(col(c))): _*))
      .drop(updateCols.map(c => s"__u_$c") :+ "__matched": _*)
  }

  /** build_sync_staging_table_query (general_queries.py:101-129):
    * change-detection staging — for each update-table row joined to
    * the source of truth on its id, emit (id, source field values)
    * when ANY tracked field differs under the reference's
    * `IFNULL(x, '') != IFNULL(y, '')` rule (so NULL and empty string
    * compare equal — reproduced via string-cast + coalesce). One
    * equi-join shuffle; at scale the source side should be the
    * bucketed master so only the update batch exchanges.
    */
  def changedRecordsStaging(
      upd: DataFrame, src: DataFrame, updId: String, joinId: String,
      fields: Seq[String], dedup: Boolean = false): DataFrame = {
    val srcSel0 = src.select(col(joinId) +:
      fields.map(f => col(f).as(s"__src_$f")): _*)
    val srcSel = if (dedup) srcSel0.distinct() else srcSel0
    val joined = upd.join(srcSel, upd(updId) === srcSel(joinId))
    val differs = fields.map { f =>
      coalesce(upd(f).cast("string"), lit("")) =!=
        coalesce(col(s"__src_$f").cast("string"), lit(""))
    }.reduce(_ || _)
    val out = joined.filter(differs)
      .select(upd(updId) +: fields.map(f => col(s"__src_$f").as(f)): _*)
    if (dedup) out.distinct() else out
  }

  /** Slowly-changing-dimension Type 2 merge — the history-preserving
    * upsert the reference's master-table family stops short of (it
    * keeps latest-only via delete_old_insert_new / append-only via
    * appendOnlyHistory; SCD2 keeps EVERY version with validity
    * intervals, the standard warehouse dimension shape). Given the
    * current dimension (tracked attrs + `valid_from`/`valid_to`/
    * `is_current`) and a staging snapshot of (key, attrs):
    *
    *  - a staged key absent from the dimension INSERTS an open version
    *    (valid_from = batchTs, valid_to NULL, is_current true);
    *  - a staged key whose current-version attrs DIFFER (under the
    *    reference's IFNULL('') rule: NULL and '' compare equal) CLOSES
    *    the current version (valid_to = batchTs, is_current false) and
    *    inserts the new open version;
    *  - unchanged keys, historical (already-closed) versions, and
    *    un-staged keys pass through untouched.
    *
    * Staging must be one row per key (enforced — a double-staged key
    * would create two simultaneous open versions).
    *
    * Scale shape: one equi-join of the dimension's CURRENT slice
    * against staging keyed on the dimension key, one anti-join for the
    * inserts, pure unions — no windows at all, so a billion-row
    * dimension merges without any per-key serialization; at scale the
    * dimension side should be the bucketed master so only the staging
    * batch exchanges (the q74 argument).
    */
  def scd2Merge(dim: DataFrame, staging: DataFrame, keys: Seq[String],
                attrs: Seq[String], batchTs: Column): DataFrame = {
    require(attrs.nonEmpty, "SCD2 needs at least one tracked attribute")
    val stg = staging.select(keys.map(col) ++ attrs.map(c => col(c).as(s"__s_$c")): _*)
    val dupStaged = stg.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    require(dupStaged == 0, "staging must carry one row per key")
    // NULL is_current means "not the open version": such rows must pass
    // through with the historical slice, not silently vanish (filter(c)
    // and filter(!c) BOTH exclude NULL).
    val current = dim.filter(coalesce(col("is_current"), lit(false)))
    val historical = dim.filter(!coalesce(col("is_current"), lit(false)))
    val joined = current.join(stg.withColumn("__staged", lit(true)), keys, "left")
    val differs = attrs.map { f =>
      coalesce(col(f).cast("string"), lit("")) =!=
        coalesce(col(s"__s_$f").cast("string"), lit(""))
    }.reduce(_ || _)
    val changed = col("__staged") && differs
    // current versions: closed when a differing staged row arrived
    val kept = joined
      .withColumn("valid_to", when(changed, batchTs).otherwise(col("valid_to")))
      .withColumn("is_current", when(changed, lit(false)).otherwise(col("is_current")))
      .select(dim.columns.map(col): _*)
    // new open versions: changed keys take the staged attrs…
    val reopened = joined.filter(changed)
      .select(keys.map(col) ++ attrs.map(f => col(s"__s_$f").as(f)): _*)
    // …and brand-new keys insert directly
    val fresh = stg.join(current.select(keys.map(col): _*), keys, "left_anti")
      .select(keys.map(col) ++ attrs.map(f => col(s"__s_$f").as(f)): _*)
    val opened = reopened.unionByName(fresh)
      .withColumn("valid_from", batchTs)
      .withColumn("valid_to", lit(null).cast(dim.schema("valid_to").dataType))
      .withColumn("is_current", lit(true))
      .select(dim.columns.map(col): _*)
    historical.unionByName(kept).unionByName(opened)
  }

  /** delete_old_insert_new (integrate_new_requests.py:84-106): snapshot
    * upsert — drop master rows whose key re-arrives, append the incoming
    * version.
    */
  def deleteOldInsertNew(master: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    master.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(incoming)

  /** DELETE matching keys (remove_false_parents step,
    * qalert_airflow.py:156-190).
    */
  def deleteMatching(master: DataFrame, toDelete: DataFrame, keys: Seq[String]): DataFrame =
    master.join(toDelete.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** update_time_balances_table pattern (general_queries.py:172-184 and
    * twins): append-only history — UNION ALL guarded by NOT IN on the
    * full row key.
    */
  def appendOnlyHistory(history: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    insertNewRecords(history, incoming, keys) // same merge rule, one implementation

  /** update_linked_tix_info (integrate_new_requests.py:200-232): child
    * aggregation — per parent, ARRAY_AGG(STRUCT(child cols)) appended to
    * the master's existing array, count recomputed as ARRAY_LENGTH + 1.
    *
    * `childCols` become the struct fields; the master must carry
    * `child_tickets: array<struct>` and `num_requests: long`.
    */
  def integrateChildren(
      master: DataFrame, children: DataFrame,
      parentKey: String, childParentKey: String,
      childCols: Seq[String]): DataFrame = {
    val agg = children
      .groupBy(col(childParentKey).as(parentKey))
      .agg(collect_list(struct(childCols.map(col): _*)).as("__new_children"))
    val kids = appendChildren(col("child_tickets"), col("__new_children"), childCols.head)
    master.join(agg, Seq(parentKey), "left")
      .withColumns(ListMap("child_tickets" -> kids, "num_requests" -> numRequests(kids)))
      .drop("__new_children")
  }

  /** The `child_tickets` value of [[integrateChildren]]: `existing`
    * with `incoming` appended, or `existing` unchanged where
    * `incoming` is NULL. `childId` is the structs' id field: a
    * re-arriving child replaces its previous struct instead of
    * appending a duplicate, so re-running the same batch is a no-op
    * (the reference's re-run semantics, SURVEY §7 hard part 2).
    */
  def appendChildren(existing: Column, incoming: Column, childId: String): Column =
    when(incoming.isNotNull,
      concat(
        // null-safe membership: array_contains is NULL (not false)
        // for a NULL child id, and a bare `!NULL` predicate would
        // silently DROP that existing struct from the array — keep
        // any element not provably replaced by this batch
        filter(coalesce(existing, array()),
          c => !coalesce(array_contains(transform(incoming, n => n(childId)), c(childId)),
            lit(false))),
        incoming))
      .otherwise(existing)

  /** `num_requests` of a parent whose children are `childTickets`:
    * the parent itself plus each child (ARRAY_LENGTH + 1).
    */
  def numRequests(childTickets: Column): Column =
    (size(coalesce(childTickets, array())) + 1).cast("long")

  /** perform_data_quality_check (general_queries.py:4-28 +
    * airflow_utils.py:354-391): distinct-values snapshot of watched
    * fields, diffed against the previous snapshot — new values surface.
    */
  def dataQualitySnapshot(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(fields.map(col): _*).distinct()

  def dataQualityDiff(current: DataFrame, previous: DataFrame): DataFrame =
    // set semantics: exceptAll would leak a duplicated current value
    // that already exists once in previous as a false "new value"
    current.except(previous)

  /** document_missed_requests (transform_enrich_requests.py:88-94):
    * UNION DISTINCT recovered rows into the missed-records ledger.
    */
  def unionDistinct(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()
}
