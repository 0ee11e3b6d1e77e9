package graft.queries

import graft.Tables
import graft.functions.RefFunctions
import graft.geo.Geo
import graft.operators.TimeOps
import graft.queries.OracleSql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fourth wave: the procedural/geo operators exposed to the oracle
  * gate — phone normalization and the time-standardization battery
  * over literal VALUES (the reference's own golden inputs), and a
  * reverse-geocode query whose rectangular zones make point-in-polygon
  * SQL-expressible (bbox predicates) for the oracle while the engine
  * runs its general ray-cast path. Parcel normalization is not
  * SQL-expressible (loops) → rows-only check.
  */
object UdfParityQueries {

  type Q = (SparkSession, String) => DataFrame

  private val phoneInputs = Seq(
    "+1(412)-6368126", "+1-4126368126", "14126368126", "412-636-8126",
    "412,636,8126", "412.636/8126", "412+636+8126",
    "+44 7911 123456", "+44(791)-1123456", "447911123456")

  private val timeInputs = Seq(
    "2023-06-15 10:30:00", "2023-06-15T10:30:00", "06/15/2023 10:30:00",
    "2023/06/15 10:30:00", "2023-06-15", "garbage", "")

  private val parcelInputs = Seq(
    "1-X-1-1-1", "0001-X-00001-0001-01", "1234X12345123412",
    "0123-A-00045", "123", "12@4X12345123412", "0000A00000000000")

  val queries: Map[String, Q] = Map(
    // §2.3 ReformatPhoneNumbers over the reference's golden inputs
    "q44_phone_normalize" -> ((s, _) => {
      import s.implicits._
      phoneInputs.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("rid", "raw")
        .select(col("rid"), RefFunctions.reformatPhoneUdf(col("raw")).as("phone"))
    }),

    // §2.3 StandardizeTimes UNIX parity for naive-UTC inputs
    "q45_time_standardize" -> ((s, _) => {
      import s.implicits._
      val df = timeInputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("rid", "raw")
      TimeOps.standardizeTimes(df, Seq(("raw", "UTC")))
        .select(col("rid"), col("raw_UNIX").as("unix_ts"))
    }),

    // §2.11 parcel normalizer — procedural; rows-only check
    "q46_parcel_normalize" -> ((s, _) => {
      import s.implicits._
      parcelInputs.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("rid", "raw")
        .select(col("rid"), RefFunctions.standardizeParcelNumUdf(col("raw")).as("parc"))
    }),

    // Gopher-style repetition quality signals: type-token ratio and
    // top-bigram share
    "q50_repetition_signals" -> ((s, d) => {
      graft.text.TextOps.repetitionSignals(Tables.documents(s, d))
        .select("doc_id", "distinct_token_ratio", "top_bigram_frac")
    }),

    // the custom as-of planner operator (plans.AsOfJoin) checked
    // against DuckDB's NATIVE ASOF JOIN: per (user, probe instant),
    // the latest event at-or-before the probe
    "q49_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val probes = e.select(col("user_id")).distinct()
        .crossJoin(s.createDataFrame(Seq(
          Tuple1(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
          Tuple1(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))).toDF("p"))
        .select(col("user_id"), unix_micros(col("p")).as("probe_us"))
      val updates = e.select(col("user_id"), unix_micros(col("ts")).as("et"),
        col("event_id"))
      graft.plans.AsOfJoin.asofJoin(probes, updates, Seq("user_id"), "probe_us", "et")
        .select("user_id", "probe_us", "event_id")
    }),

    // deterministic hash-based train/val/test assignment — stable under
    // re-runs and repartitioning, unlike df.sample
    "q48_train_val_split" -> ((s, d) => {
      graft.operators.SplitOps.assignSplit(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("split"))
    }),

    // §2.5 time-bounded reverse geocode: points derived from events,
    // rectangular zone polygons (engine runs the general ray-cast;
    // the oracle uses bbox predicates — equivalent for rectangles)
    "q47_revgeo_zones" -> ((s, d) => {
      // +0.5 / +0.001 offsets keep every point strictly inside a
      // rectangle — on-edge behavior differs between the engine's
      // ray cast and the oracle's inclusive bbox predicates
      val pts = Tables.events(s, d).select(
        col("event_id"),
        ((col("user_id") % 10).cast(DoubleType) + 0.5).as("lat"),
        (pmod(col("value").cast("decimal(10,2)") * 100, lit(1000)).cast(DoubleType) / 100.0 + 0.001).as("long"),
        unix_timestamp(col("ts")).as("create_date_unix"))
      val zones = Seq(
        ("west_old", "POLYGON((0 0, 5 0, 5 10, 0 10, 0 0))", 0L, Some(1705000000L)),
        ("west_new", "POLYGON((0 0, 5 0, 5 10, 0 10, 0 0))", 1705000001L, None),
        ("east", "POLYGON((5 0, 10 0, 10 10, 5 10, 5 0))", 0L, None))
      Geo.revGeoZone(pts, zones, outCol = "zone",
        latCol = "lat", longCol = "long", eventUnixCol = "create_date_unix")
        .groupBy("zone").agg(count(lit(1)).as("n"))
    }),

    // q47 variant with a HOLED zone: even-odd ring containment must
    // exclude the hole (ST_CONTAINS parity, geo_queries.py:53-107) —
    // points in the hole classify to NO zone, not the donut
    "q76_holed_zones" -> ((s, d) => {
      val pts = Tables.events(s, d).select(
        col("event_id"),
        ((col("user_id") % 10).cast(DoubleType) + 0.5).as("lat"),
        (pmod(col("value").cast("decimal(10,2)") * 100, lit(1000)).cast(DoubleType) / 100.0 + 0.001).as("long"),
        unix_timestamp(col("ts")).as("create_date_unix"))
      val zones = Seq(
        ("donut", "POLYGON((0 0, 6 0, 6 10, 0 10, 0 0), (2 2, 4 2, 4 8, 2 8, 2 2))", 0L, None),
        ("east",  "POLYGON((6 0, 10 0, 10 10, 6 10, 6 0))", 0L, None))
      Geo.revGeoZone(pts, zones, outCol = "zone",
        latCol = "lat", longCol = "long", eventUnixCol = "create_date_unix")
        .groupBy("zone").agg(count(lit(1)).as("n"))
    }),

    // §2.3 ConvertGeography (dataflow_utils.py:266-297) + the WKT
    // point producer: the engine builds the reference's
    // "[{lat: Y, lng: X}, ...]" string per customer, then must parse
    // it back out into WKT; the oracle constructs the expected WKT
    // directly from the same arithmetic, so any parse defect mismatches
    "q58_convert_geography" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val lat1 = (col("c_custkey") % 100).cast(DoubleType) / 100.0 + 40.0
      val lng1 = floor(col("c_acctbal")) / 10000.0 - 80.0
      val raw2 = format_string("[{lat: %.4f, lng: %.4f}, {lat: %.4f, lng: %.4f}]",
        lat1, lng1, lat1 + 0.01, lng1 + 0.01)
      val raw1 = format_string("[{lat: %.4f, lng: %.4f}]", lat1, lng1)
      c.select(
        col("c_custkey"),
        Geo.convertGeography(raw2, "LINESTRING").as("line_wkt"),
        Geo.convertGeography(raw2, "POLYGON").as("poly_wkt"),
        Geo.convertGeography(raw1, "POINT").as("pt_parsed_wkt"),
        Geo.wktPoint(lng1, lat1, decimals = 4).as("point_wkt"))
    })
  )

  val oracle: Map[String, String] = Map(
    // the parcel normalizer runs on a literal fixture, so the oracle is
    // the hand-computed golden output (same goldens as
    // RefFunctionsSpec, dataflow_utils.py:1357-1360 spec examples)
    "q46_parcel_normalize" ->
      """SELECT CAST(rid AS BIGINT) AS rid, parc FROM (VALUES
        |  (0, '0001X00001000101'),
        |  (1, '0001X00001000101'),
        |  (2, '1234X12345123412'),
        |  (3, '0123A00045000000'),
        |  (4, 'invalid input'),
        |  (5, 'invalid input'),
        |  (6, 'invalid input')
        |) t(rid, parc)""".stripMargin,

    "q44_phone_normalize" -> {
      val values = phoneInputs.zipWithIndex
        .map { case (p, i) => s"($i, '${p.replace("'", "''")}')" }.mkString(", ")
      s"""WITH t(rid, raw) AS (VALUES $values),
         |d AS (SELECT rid, regexp_replace(raw, '[^0-9]', '', 'g') AS digits FROM t)
         |SELECT CAST(rid AS BIGINT) AS rid,
         |  CASE WHEN length(digits) < 10 THEN NULL
         |       ELSE (CASE WHEN length(digits) > 10
         |                  THEN '+' || substr(digits, 1, length(digits) - 10)
         |                  ELSE '+1' END)
         |            || ' (' || substr(digits, length(digits) - 9, 3) || ') '
         |            || substr(digits, length(digits) - 6, 3) || '-'
         |            || substr(digits, length(digits) - 3, 4)
         |  END AS phone
         |FROM d""".stripMargin
    },

    "q45_time_standardize" -> {
      val values = timeInputs.zipWithIndex
        .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
      s"""WITH t(rid, raw) AS (VALUES $values)
         |SELECT CAST(rid AS BIGINT) AS rid,
         |  epoch(coalesce(
         |    try_strptime(raw, '%Y-%m-%d %H:%M:%S'),
         |    try_strptime(raw, '%Y-%m-%dT%H:%M:%S'),
         |    try_strptime(raw, '%m/%d/%Y %H:%M:%S'),
         |    try_strptime(raw, '%Y/%m/%d %H:%M:%S'),
         |    try_strptime(raw, '%Y-%m-%d')))::BIGINT AS unix_ts
         |FROM t""".stripMargin
    },

    "q50_repetition_signals" ->
      raw"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, $ws), '\s+') toks,
        |    length(trim(text, $ws)) nt
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    CASE WHEN nt = 0 OR len(toks) < 2 THEN []
        |         ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
        |    END AS bigrams,
        |    CASE WHEN nt = 0 THEN 0 ELSE len(toks) END AS n_toks,
        |    CASE WHEN nt = 0 THEN 0 ELSE len(list_distinct(toks)) END AS n_distinct
        |  FROM t
        |), exploded AS (
        |  SELECT doc_id, unnest(bigrams) AS b FROM bg
        |), counted AS (
        |  SELECT doc_id, b, count(*) AS cnt FROM exploded GROUP BY doc_id, b
        |), top AS (
        |  SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS total
        |  FROM counted GROUP BY doc_id
        |)
        |SELECT bg.doc_id,
        |  round(CASE WHEN n_toks > 0 THEN n_distinct::DOUBLE / n_toks ELSE 0 END, 4)
        |    AS distinct_token_ratio,
        |  round(coalesce(top.top_cnt::DOUBLE / top.total, 0), 4) AS top_bigram_frac
        |FROM bg LEFT JOIN top USING (doc_id)""".stripMargin,

    "q49_asof_join" ->
      """WITH probes AS (
        |  SELECT DISTINCT user_id, p FROM events,
        |    (VALUES (TIMESTAMP '2024-01-15 00:00:00'),
        |            (TIMESTAMP '2024-01-25 00:00:00')) t(p)
        |)
        |SELECT probes.user_id, epoch_us(p) AS probe_us, e.event_id
        |FROM probes ASOF LEFT JOIN events e
        |  ON probes.user_id = e.user_id AND e.ts <= probes.p""".stripMargin,

    "q48_train_val_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 0.8 THEN 'train'
        |       WHEN b < 0.9 THEN 'val'
        |       WHEN b < 1.0 THEN 'test'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0 AS b
        |  FROM documents)""".stripMargin,

    "q47_revgeo_zones" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST(user_id % 10 AS DOUBLE) + 0.5 AS lat,
        |    CAST((CAST(value AS DECIMAL(10,2)) * 100) % 1000 AS DOUBLE) / 100.0 + 0.001 AS long,
        |    epoch(ts)::BIGINT AS t
        |  FROM events
        |)
        |SELECT CASE
        |  WHEN long >= 0 AND long <= 5 AND lat >= 0 AND lat <= 10 AND t <= 1705000000 THEN 'west_old'
        |  WHEN long >= 0 AND long <= 5 AND lat >= 0 AND lat <= 10 AND t >= 1705000001 THEN 'west_new'
        |  WHEN long >= 5 AND long <= 10 AND lat >= 0 AND lat <= 10 THEN 'east'
        |END AS zone, count(*) AS n
        |FROM pts GROUP BY 1""".stripMargin,

    // hole semantics stated directly in the oracle: inside the outer
    // rectangle but NOT inside the hole rectangle => donut; inside the
    // hole => NULL (no zone)
    "q76_holed_zones" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST(user_id % 10 AS DOUBLE) + 0.5 AS lat,
        |    CAST((CAST(value AS DECIMAL(10,2)) * 100) % 1000 AS DOUBLE) / 100.0 + 0.001 AS long
        |  FROM events
        |)
        |SELECT CASE
        |  WHEN long >= 0 AND long <= 6 AND lat >= 0 AND lat <= 10
        |       AND NOT (long > 2 AND long < 4 AND lat > 2 AND lat < 8) THEN 'donut'
        |  WHEN long >= 6 AND long <= 10 AND lat >= 0 AND lat <= 10 THEN 'east'
        |END AS zone, count(*) AS n
        |FROM pts GROUP BY 1""".stripMargin,

    "q58_convert_geography" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 100 AS DOUBLE) / 100.0 + 40.0 AS lat1,
        |    floor(c_acctbal) / 10000.0 - 80.0 AS lng1
        |  FROM customer
        |), f AS (
        |  SELECT c_custkey,
        |    printf('%.4f', lng1) AS x1, printf('%.4f', lat1) AS y1,
        |    printf('%.4f', lng1 + 0.01) AS x2, printf('%.4f', lat1 + 0.01) AS y2
        |  FROM base
        |)
        |SELECT c_custkey,
        |  'LINESTRING(' || x1 || ' ' || y1 || ', ' || x2 || ' ' || y2 || ')' AS line_wkt,
        |  'POLYGON((' || x1 || ' ' || y1 || ', ' || x2 || ' ' || y2 || '))' AS poly_wkt,
        |  'POINT(' || x1 || ' ' || y1 || ')' AS pt_parsed_wkt,
        |  'POINT(' || x1 || ' ' || y1 || ')' AS point_wkt
        |FROM f""".stripMargin
  )
}
