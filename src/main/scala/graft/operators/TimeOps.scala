package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Time standardisation operators.
  *
  * The reference emits, for every source time field `X`, a triple
  * `X_UTC` (string), `X_EST` (string), `X_UNIX` (epoch seconds) —
  * StandardizeTimes (dataflow_utils.py:619-660) and
  * GetDateStringsFromUnix (dataflow_utils.py:398-412).
  */
object TimeOps {

  val UtcFmt = "yyyy-MM-dd HH:mm:ss"
  val EstZone = "America/New_York"

  /** GetDateStringsFromUnix (dataflow_utils.py:398-412 /
    * unix_to_date_strings :884-894): unix seconds → `_utc` and `_est`
    * formatted strings. Pure expressions, codegen'd.
    */
  def dateStringsFromUnix(df: DataFrame, field: String): DataFrame =
    df.withColumns(ListMap(dateStringColumns(field): _*))

  /** The `_utc` and `_est` columns of [[dateStringsFromUnix]], named,
    * so that several fields can be added in one projection.
    */
  def dateStringColumns(field: String): Seq[(String, Column)] = {
    val ts = timestamp_seconds(col(field).cast(LongType))
    // date_format renders in the SESSION time zone; routing through
    // convert_timezone(current_timezone(), target, ts) pins the wall
    // time to the named zone, so _utc is UTC and _est is EST under ANY
    // session zone (not only the UTC the bench/verify mains happen to
    // set)
    def wallIn(zone: String) =
      convert_timezone(expr("current_timezone()"), lit(zone), ts)
    Seq(s"${field}_utc" -> date_format(wallIn("UTC"), UtcFmt),
      s"${field}_est" -> date_format(wallIn(EstZone), UtcFmt))
  }

  /** Formats accepted by the reference's fuzzy `dateutil.parser.parse`
    * for the inputs its tests exercise (tests/test_dataflow_utils.py:
    * 334-410). Tried in order by `fuzzyToTimestamp` after zone-token
    * stripping.
    */
  val FuzzyFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy hh:mm:ss a", // cherwell's %I:%M:%S %p (cherwell_incidents_dataflow.py:76)
    "MM-dd-yyyy HH:mm:ss",
    "MMM dd yyyy HH:mm:ss",
    "MMM dd, yyyy HH:mm:ss",
    "dd MMM yyyy HH:mm:ss",
    "MMMM d HH:mm:ss yyyy",
    "MMM d HH:mm:ss yyyy",
    "yyyy-MM-dd HH:mm",
    "MM/dd/yyyy HH:mm",
    "yyyy-MM-dd",
    "MM/dd/yyyy",
    "MMM dd yyyy",
    "MMM dd, yyyy",
    // appended (round 6) to close dateutil format-family gaps — order
    // matters: these sit LAST so any string the earlier formats parsed
    // keeps its meaning (pinned q45 oracle). Parity table lives in
    // TimeOpsSpec "fuzzyToTimestamp: dateutil format-family parity".
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyyMMdd'T'HHmmss",
    "yyyyMMdd",
    "dd MMM yyyy",
    "MMMM dd, yyyy",
    "MMMM dd yyyy"
  )

  /** Fuzzy-parse a datetime string: any embedded timezone (named token
    * or numeric offset) is DISCARDED and the declared `tz` wins — the
    * tested contract of StandardizeTimes (dataflow_utils.py:638-640
    * `parse_dt.replace(tzinfo=None)` then localize;
    * tests/test_dataflow_utils.py:334-356). Returns a UTC timestamp.
    *
    * Implemented as a coalesce over `try_to_timestamp` attempts (all
    * codegen'd) after stripping zone tokens and leading weekday names.
    */
  def fuzzyToTimestamp(c: Column, tz: String): Column = {
    val noOffset  = regexp_replace(trim(c.cast(StringType)),
      "\\s*(?:Z|[+-]\\d{2}:?\\d{2})\\s*$", "")
    val noZone    = regexp_replace(noOffset,
      "\\s+(?:UTC|GMT|EST|EDT|CST|CDT|MST|MDT|PST|PDT)\\b", "")
    val noWeekday = regexp_replace(noZone,
      "^(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*,?\\s+", "")
    val cleaned   = trim(noWeekday)
    val attempts  = FuzzyFormats.map(f => try_to_timestamp(cleaned, lit(f)))
    val local     = coalesce(attempts: _*)
    // interpret the naive local time in the declared zone → UTC instant
    to_utc_timestamp(local, tz)
  }

  /** Render a UTC instant as the reference's `%m/%d/%Y %H:%M:%S%z`
    * string in zone `zone`: shift the instant, format the wall time,
    * append the computed `+HHMM` offset.
    */
  private def strftimeWithOffset(
      utcTs: Column, zone: String,
      tFormat: String = "%m/%d/%Y %H:%M:%S%z"): Column = {
    // source = current session zone (not a hardcoded "UTC"): the
    // implicit TIMESTAMP->NTZ cast renders in the session zone, so the
    // conversion is only correct when the declared source matches it —
    // same rule as dateStringsFromUnix
    val shifted      = convert_timezone(expr("current_timezone()"), lit(zone), utcTs)
    val appendOffset = tFormat.endsWith("%z")
    val sparkPattern = (if (appendOffset) tFormat.stripSuffix("%z") else tFormat)
      .replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
      .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
    val wall = date_format(shifted, sparkPattern)
    if (!appendOffset) wall
    else {
      // unix_timestamp on a TIMESTAMP_NTZ interprets the wall time as
      // UTC (probed empirically: identical offsets under UTC, NY,
      // Sydney, Kathmandu session zones across DST edges), so the
      // difference of the two NTZ wall times is pure wall arithmetic =
      // the ZONE's offset, session-independent. Do NOT "simplify" to
      // timestamp_diff: it casts NTZ->TIMESTAMP through the session
      // zone and is off by an hour when a session DST gap swallows
      // the zone's wall time
      val offsetSec = unix_timestamp(shifted) -
        unix_timestamp(convert_timezone(expr("current_timezone()"), lit("UTC"), utcTs))
      val absSec    = abs(offsetSec)
      val offsetStr = concat(
        when(offsetSec < 0, lit("-")).otherwise(lit("+")),
        lpad((absSec / 3600).cast(IntegerType).cast(StringType), 2, "0"),
        lpad(((absSec % 3600) / 60).cast(IntegerType).cast(StringType), 2, "0"))
      concat(wall, offsetStr)
    }
  }

  /** StandardizeTimes (dataflow_utils.py:619-660): for each (field, tz)
    * emit `field_UTC` / `field_EST` strings in the reference's
    * `%m/%d/%Y %H:%M:%S%z` format and `field_UNIX` epoch seconds;
    * NULL/empty/unparseable input → all three NULL. `tFormat` is the
    * reference's strftime output format override (e.g. `%m/%d/%Y`
    * date-only strings at ceridian_timekeeping_dataflow.py:52).
    */
  def standardizeTimes(
      df: DataFrame, specs: Seq[(String, String)],
      tFormat: String = "%m/%d/%Y %H:%M:%S%z"): DataFrame = {
    // two projections, not one: the fuzzy parse (3 regexes + 17
    // try_to_timestamp attempts) is materialised as `__ts_f` in the
    // first, and the three outputs read the parsed attribute in the
    // second. Inlining the parse into each triple output would copy
    // the ~20-node tree ~7× per field — 7× the per-row parse compute
    // and seconds of pure optimizer time on cherwell's 7-field plan.
    // CollapseProject will not re-inline: the producer is non-cheap
    // and referenced more than once. (Also a single select per stage:
    // N withColumn calls cost O(N) full-plan re-analyses.)
    val tsCols = specs.map { case (f, tz) => fuzzyToTimestamp(col(f), tz).as(s"__ts_$f") }
    val parsed = df.select(col("*") +: tsCols: _*)
    val triples = specs.flatMap { case (f, _) =>
      val utcTs = col(s"__ts_$f")
      Seq(strftimeWithOffset(utcTs, "UTC", tFormat).as(s"${f}_UTC"),
        strftimeWithOffset(utcTs, EstZone, tFormat).as(s"${f}_EST"),
        unix_timestamp(utcTs).as(s"${f}_UNIX"))
    }
    parsed.select(col("*") +: triples: _*)
      .drop(specs.map { case (f, _) => s"__ts_$f" }: _*)
  }

  /** IdentifyActivePermits (computronix_gis_street_closures_dataflow.py:
    * 66-79): `active` flag when now ∈ [from_unix, to_unix].
    */
  def identifyActive(df: DataFrame, fromUnix: String, toUnix: String): DataFrame =
    df.withColumn("active",
      unix_timestamp(current_timestamp()).between(col(fromUnix), col(toUnix)))
}
