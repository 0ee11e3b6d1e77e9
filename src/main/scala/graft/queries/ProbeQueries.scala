package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-environment diagnostic probes (VERDICT r11 task #2).
  *
  * Eight driver-side hash mismatches survived three rounds because the
  * driver's DuckDB version is unknown and differs from the local
  * 1.0.0: every artifact records only pass/fail booleans, so a redness
  * whose local replay is green is undiagnosable. These six tiny
  * queries turn the per-query booleans (and, for the version probe,
  * the recorded `oracle_rows` count) into a diagnosis matrix:
  *
  *   - `zz_probe_duckdb_version` — the oracle emits one row per unit
  *     of major·10000 + minor·100 + patch parsed from DuckDB's own
  *     `version()`; the Spark side emits the 10000 rows of the locally
  *     verified 1.0.0. Green ⇔ the driver runs 1.0.0; otherwise the
  *     driver's CORRECTNESS entry records `oracle_rows` = the encoded
  *     version, finally pinning it inside the artifact loop. This is
  *     the one probe that is EXPECTED to mismatch when versions skew —
  *     it is a measurement channel, not a correctness claim.
  *   - `zz_probe_raw_ratio` — raw unrounded int/int division doubles
  *     with non-terminating decimal representations. Red ⇒ the
  *     driver's hash is sensitive to float RENDERING, not bits.
  *   - `zz_probe_ln_lattice_cast` — floor(ln(k)·1e12) for k = 2..20,
  *     with the oracle's floor() (DOUBLE in DuckDB) CAST to BIGINT so
  *     both legs are int64. Red ⇒ genuine libm ln divergence above
  *     1e-12 relative (every ln-scored argmax needs a lattice). Its
  *     former UNCAST twin — deliberately DOUBLE-vs-LONG — ran in
  *     rounds 13 and settled its question (the r13 driver artifact
  *     showed uncast red while `_cast` green ⇒ the driver's hash is
  *     TYPE-sensitive, the r12-diagnosed failure mode for
  *     q221/q287/q296; no libm/value skew exists). A permanently-red
  *     row would cost the clean N/N headline and could mask a future
  *     genuine red, so the uncast probe retired to
  *     `tools.LnLatticeProbe` (VERDICT r13 task #2; see git rev e766bb7).
  *   - `zz_probe_regex_c1` — the exact C0/C1 regex character classes
  *     the q221 oracle previously used, applied to a fixed 11-char
  *     string built with chr(). Red ⇒ DuckDB's regex class semantics
  *     moved (the prime suspect for the historical q221 redness).
  *   - `zz_probe_fold_sizes` — the md5-prefix hash-bucket fold split
  *     alone (no classifier). Red ⇒ the hex-cast bucketing machinery
  *     itself skews (would implicate q261 beyond its scorer).
  *   - `zz_probe_epoch_day` — min/max epoch-day and count over
  *     events.ts. Red ⇒ timestamp ingestion skews (would implicate
  *     q223/q273 integer columns).
  *
  * All probes are O(1)-to-O(table-scan) cheap and run under the same
  * gate as every other query.
  */
object ProbeQueries {

  /** Locally verified DuckDB version, encoded maj·10000+min·100+patch.
    * Bump when the pinned local oracle version changes.
    */
  private val LocalDuckDbEncoded = 10000L // 1.0.0

  /** 11 chars: a, U+0085(C1), b, U+0001(C0), c, U+009F(C1), d,
    * U+0080(C1), space, e, U+001F(C0) - n_c1 = 3, n_c0 = 2. Mirrors
    * the oracle chr()-built literal codepoint for codepoint.
    */
  private val c1Sample =
    "a\u0085b\u0001c\u009fd\u0080 e\u001f"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zz_probe_duckdb_version" -> ((s, _) =>
      s.range(0L, LocalDuckDbEncoded).select(col("id").as("v"))),

    "zz_probe_raw_ratio" -> ((s, _) =>
      s.range(1L, 6L).select(col("id").as("k"),
        (col("id").cast(DoubleType) / lit(7.0d)).as("r"))),

    "zz_probe_ln_lattice_cast" -> ((s, _) =>
      s.range(2L, 21L).select(col("id").as("k"),
        floor(log(col("id").cast(DoubleType)) * lit(1e12d)).as("ln_e12"))),

    "zz_probe_regex_c1" -> ((s, _) => {
      val t: Column = lit(c1Sample)
      s.range(0L, 1L).select(
        (length(t) - length(regexp_replace(t,
          "[\\x{0080}-\\x{009f}]", ""))).cast(LongType).as("n_c1"),
        (length(t) - length(regexp_replace(t,
          "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""))).cast(LongType)
          .as("n_c0"))
    }),

    "zz_probe_fold_sizes" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy((graft.operators.SplitOps.hashBucket(
          concat(col("doc_id").cast(StringType), lit("|cv"))) % 3)
          .cast(IntegerType).as("fold"))
        .agg(count(lit(1)).as("n_docs"))),

    "zz_probe_epoch_day" -> ((s, d) =>
      Tables.events(s, d).agg(
        min(expr("unix_micros(ts) div 86400000000L")).as("min_day"),
        max(expr("unix_micros(ts) div 86400000000L")).as("max_day"),
        count(lit(1)).as("n")))
  )

  val oracle: Map[String, String] = Map(
    // constant-bound series + filter: DuckDB 1.0.0's generate_series
    // accepts only constant parameters, so the version-driven row
    // count comes from the WHERE clause
    "zz_probe_duckdb_version" ->
      """WITH p AS (
        |  SELECT string_split(replace(version(), 'v', ''), '.') AS a
        |), enc AS (
        |  SELECT COALESCE(TRY_CAST(a[1] AS BIGINT), 99) * 10000
        |    + COALESCE(TRY_CAST(a[2] AS BIGINT), 99) * 100
        |    + COALESCE(TRY_CAST(a[3] AS BIGINT), 99) AS e
        |  FROM p
        |)
        |SELECT CAST(x AS BIGINT) AS v
        |FROM generate_series(0, 999998) g(x), enc
        |WHERE x < enc.e""".stripMargin,

    "zz_probe_raw_ratio" ->
      """SELECT CAST(x AS BIGINT) AS k,
        |  CAST(x AS DOUBLE) / CAST(7 AS DOUBLE) AS r
        |FROM generate_series(1, 5) g(x)""".stripMargin,

    "zz_probe_ln_lattice_cast" ->
      """SELECT CAST(x AS BIGINT) AS k,
        |  CAST(floor(ln(CAST(x AS DOUBLE)) * 1e12) AS BIGINT) AS ln_e12
        |FROM generate_series(2, 20) g(x)""".stripMargin,

    "zz_probe_regex_c1" ->
      """WITH t AS (
        |  SELECT chr(97) || chr(133) || chr(98) || chr(1) || chr(99)
        |    || chr(159) || chr(100) || chr(128) || chr(32) || chr(101)
        |    || chr(31) AS s
        |)
        |SELECT
        |  CAST(length(s) - length(regexp_replace(s,
        |    '[\x{0080}-\x{009f}]', '', 'g')) AS BIGINT) AS n_c1,
        |  CAST(length(s) - length(regexp_replace(s,
        |    '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS BIGINT) AS n_c0
        |FROM t""".stripMargin,

    "zz_probe_fold_sizes" ->
      """SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cv'),
        |    1, 8))::UBIGINT % 3 AS INTEGER) AS fold,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "zz_probe_epoch_day" ->
      """SELECT min(epoch_us(ts) // 86400000000) AS min_day,
        |  max(epoch_us(ts) // 86400000000) AS max_day,
        |  count(*) AS n
        |FROM events""".stripMargin
  )
}
