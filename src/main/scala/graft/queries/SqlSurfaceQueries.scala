package graft.queries

import graft.Tables
import graft.queries.OracleSql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational SQL surface beyond the core queries: skew-salted, Bloom,
  * interval and fuzzy joins, pivots and rollups, array/set/JSON/regex
  * scalars, sessionization, layout and zone-map pruning, integrity
  * checks and distinct-count sketches.
  */
object SqlSurfaceQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // skew-mitigated join: the salted form must be EXACTLY the plain
    // join (the oracle is the plain SQL join) — salting is a physical
    // re-shape, never a semantic one
    "q77_salted_join" -> ((s, d) => {
      val orders = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      val dim = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.SkewOps.saltedJoin(orders, dim, Seq("o_custkey"), saltFactor = 8)
        .select("o_orderkey", "o_custkey", "c_nationkey")
    }),

    // KMV distinct-count sketch per event type: the k smallest md5
    // hashes via the bounded-heap TopKAgg (≤ k rows per group cross
    // the final exchange), estimate by integer division so the
    // reported value is engine-exact; exact_distinct rides along for
    // error inspection
    "q111_kmv_distinct" -> ((s, d) =>
      graft.operators.SketchOps.kmvDistinct(Tables.events(s, d),
        "event_type", "user_id", k = 64)),

    // AMS tug-of-war F2 sketch over event users: 5 deterministic ±1
    // sign estimators (md5 parity), exact-integer fold per estimator,
    // exact-member median vs exact F2
    "q234_ams_f2" -> ((s, d) =>
      graft.operators.SketchOps.amsF2(Tables.events(s, d), "user_id",
        depth = 5)),

    // HLL distinct with engine-portable md5-derived registers — both
    // estimator regimes exercised: event_id (raw harmonic-mean path)
    // and user_id (small-range linear counting)
    "q206_hll_distinct" -> ((s, d) => {
      val e = Tables.events(s, d)
      graft.operators.SketchOps.hllDistinct(e, "event_type", "event_id")
        .withColumn("value_col", lit("event_id"))
        .unionByName(
          graft.operators.SketchOps.hllDistinct(e, "event_type", "user_id")
            .withColumn("value_col", lit("user_id")))
    }),

    // zone-map pruning effectiveness: natural vs x-sort vs Z-order
    // layouts of orders (custkey x orderdate-day), per-file min/max
    // and skippability for one rectangle predicate
    "q222_zonemap_pruning" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"),
          col("o_custkey").cast("long").as("x"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast(DateType)).cast("long").as("y"))
      graft.operators.LayoutOps.zoneMapPruning(o, "x", "y", "o_orderkey",
        buckets = 16, xLo = 10L, xHi = 60L, yLo = 9500L, yHi = 9800L)
    }),

    // HLL register MERGE: per-(type, day) sketches roll up by MAX into
    // exactly the whole-period registers; report puts the merged
    // estimate next to the exact distinct and the double-counting
    // naive sum of per-day exacts
    "q219_hll_rollup" -> ((s, d) =>
      graft.operators.SketchOps.hllRollup(Tables.events(s, d),
        "event_type", to_date(col("ts")), "user_id")),

    // Z-order layout: orders clustered on (custkey, order day) via the
    // Morton curve into 16 balanced files; the output IS the zone map
    // (per-file min/max of both dims) a reader's skipping test
    // consults. Rank = two-level cumsum on a monotone Z-prefix — no
    // global window; the oracle replays the bit-interleave and the
    // same ((rk-1)*B) div N bucket formula
    "q172_zorder_layout" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"),
          col("o_custkey").cast("long").as("x"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast(DateType)).cast("long").as("y"))
      graft.operators.LayoutOps.zOrderLayoutStats(
        o, "x", "y", "o_orderkey", buckets = 16)
    }),

    // KMV sketch algebra: clicker-set vs purchaser-set overlap
    // estimated purely from the two k-min sketches (union sketch,
    // Jaccard from shared minima, intersection by inclusion-exclusion
    // on the union estimate) — the answer to every "how much do these
    // two 100 TB sources overlap" question without a distinct-join
    "q173_kmv_set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.SketchOps.kmvSetOps(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", k = 64)
    }),

    // Bloom-pruned fact-to-dimension join: high-value orders' keys
    // compress to a broadcast bit array and lineitem drops
    // non-matching rows map-side BEFORE its shuffle — the explicit
    // semi-join reduction for build sides too big to broadcast as
    // rows; no false negatives, so the aggregate over the join is
    // EXACTLY the plain join's (the oracle is that plain join)
    "q180_bloom_pruned_join" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val hv = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 350000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val (joined, release) = graft.tables.ScaleJoins.bloomPrunedJoin(
        li, "l_orderkey", hv, "o_orderkey")
      graft.state.Checkpoints.stableThenRelease(joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue")), release)
    }),

    // k-anonymity + l-diversity risk report over the release shape
    // (priority, order month) with order status as the sensitive
    // attribute: one cell count + one class rollup (the q07 two-level
    // discipline — no Expand, no distinct aggregate), class-sized
    // output, NULL-safe on both quasi and sensitive columns
    "q178_privacy_risk" -> ((s, d) =>
      graft.operators.PrivacyOps.privacyRisk(
        s.read.parquet(s"$d/orders.parquet")
          .withColumn("o_month",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
              .cast("int")),
        Seq("o_orderpriority", "o_month"), "o_orderstatus",
        k = 30, l = 3)),

    // one-pass column profiler over the orders table's string
    // surface: row/NULL/exact-distinct counts and lexicographic
    // min/max for every column from ONE explode + two-level
    // aggregation — no per-column scan, no Expand; the double column
    // stringifies through DECIMAL(18,2) and the timestamp at date
    // grain so the surface is engine-portable
    "q179_table_profile" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      graft.tables.CatalogOps.profileTable(o, Map(
        "o_totalprice" -> col("o_totalprice")
          .cast("decimal(18,2)").cast("string"),
        "o_orderdate" -> col("o_orderdate").cast("date").cast("string")))
    }),

    // rendezvous-hash shard layout: per-shard key counts at n=8 and
    // the keys that MOVE when growing to n=9 — expected 1/9, vs
    // mod-hash reshuffling 8/9 of the corpus; argmax of portable
    // 60-bit md5 weights, map-only
    "q197_rendezvous_shards" -> ((s, d) => {
      import graft.operators.LayoutOps.rendezvousShard
      s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"),
          rendezvousShard(col("o_orderkey"), 8).as("shard"),
          rendezvousShard(col("o_orderkey"), 9).as("__s9"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__s9") =!= col("shard"), 1L).otherwise(0L))
            .as("n_moved"))
        .withColumn("moved_frac",
          round(col("n_moved").cast("double") / col("n_keys").cast("double"), 6))
    }),

    // scale-safe sessionization: identical semantics to q33's classic
    // per-user-window form (the oracle IS that form), but every
    // corpus-sized partition keys on (user, day bucket) — the per-user
    // window runs only over the calendar-bounded bucket summary, so a
    // billion-event bot cannot serialize one task (hourly buckets here
    // so sf0.01's ~2-day synthetic span actually exercises the
    // cross-bucket session-continuation path)
    "q116_sessionize_bucketed" -> ((s, d) =>
      graft.operators.AnalyticsOps.sessionizeBucketed(Tables.events(s, d),
        gapSecs = 1800L, bucketSecs = 3600L)),

    // CUBE: all four grouping levels of (type, day-of-week) in one
    // aggregation pass — the Dataset API is safe here (no join feeds
    // the cube, unlike q124's rollup)
    "q152_cube_report" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("dow", dayofweek(col("ts")))
        .cube("event_type", "dow")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),

    // phonetic blocking: soundex-code equality joins spelling variants
    // an edit-distance bound misses (Robert/Rupert are distance 3 but
    // phonetically identical) — the classic record-linkage companion
    // to q149; soundex codes per American Soundex (Knuth TAOCP v3)
    "q150_soundex_join" -> ((s, _) => {
      import s.implicits._
      val canonical = Seq((1L, "Robert"), (2L, "Smith"), (3L, "Ashcraft"),
        (4L, "Tymczak"), (5L, "Pfister")).toDF("cid", "cname")
      val variants = Seq((11L, "Rupert"), (12L, "Smyth"), (13L, "Ashcroft"),
        (14L, "Jackson"), (15L, "Honeyman")).toDF("vid", "vname")
      canonical.withColumn("code", soundex(col("cname")))
        .join(variants.withColumn("code", soundex(col("vname"))), "code")
        .select("cid", "cname", "vid", "vname", "code")
    }),

    // fuzzy record linkage: SymSpell deletion-neighborhood blocking +
    // exact levenshtein verify — COMPLETE for distance ≤ 1 by
    // construction, proven here against the quadratic oracle over the
    // real customer-name column (names vs their deterministic typo'd
    // variants: drop the 3rd char of every 7th name)
    "q149_fuzzy_join" -> ((s, d) => {
      val clean = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))
      val messy = Tables.customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("m_key"),
          concat(substring(col("c_name"), 1, 2), expr("substring(c_name, 4)"))
            .as("m_name"))
      graft.operators.FuzzyJoin.editDistanceJoin(clean, "c_name", messy, "m_name")
        .select("c_custkey", "c_name", "m_key", "m_name", "edit_distance")
    }),

    // ingestion completeness: observed vs expected calendar days per
    // type and the longest gap — the freshness/holes report an
    // incremental pipeline checks before trusting a backfill
    "q281_calendar_completeness" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type").as("t"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy("t").orderBy("day")
      val gaps = daily
        .withColumn("__next", lead("day", 1).over(w))
        .withColumn("__gap",
          when(col("__next").isNotNull,
            datediff(col("__next"), col("day")) - 1).otherwise(lit(0)))
      gaps.groupBy("t")
        .agg(min("day").as("first_day"), max("day").as("last_day"),
          count(lit(1)).as("n_observed_days"),
          max("__gap").as("longest_gap_days"))
        .select(col("t").as("event_type"), col("first_day"),
          col("last_day"), col("n_observed_days"),
          (datediff(col("last_day"), col("first_day")) + 1)
            .cast(LongType).as("n_expected_days"),
          round(col("n_observed_days").cast(DoubleType) /
            (datediff(col("last_day"), col("first_day")) + 1)
              .cast(DoubleType), 6).as("completeness"),
          col("longest_gap_days").cast(LongType).as("longest_gap_days"))
    }),

    // referential-integrity audit across the star schema: orphans in
    // each direction, childless parents, and key-uniqueness
    // violations — the pre-flight DQ report every warehouse load runs
    "q277_referential_integrity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      def one(check: String, n: org.apache.spark.sql.DataFrame) =
        n.select(lit(check).as("check"), col("n"))
      val orphanLines = one("lineitems_without_order",
        li.join(o.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val childless = one("orders_without_lineitems",
        o.join(li.select(col("l_orderkey").as("o_orderkey")).distinct(),
          Seq("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val orphanOrders = one("orders_without_customer",
        o.join(c.select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")))
      val dupOrderKeys = one("duplicate_order_keys",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1)
          .agg(count(lit(1)).as("n")))
      val nullKeys = one("null_order_keys",
        o.filter(col("o_orderkey").isNull).agg(count(lit(1)).as("n")))
      Seq(orphanLines, childless, orphanOrders, dupOrderKeys, nullKeys)
        .reduce(_ unionByName _)
    }),

    // financial reconciliation: per-order lineitem revenue vs the
    // order header total, bucketed into relative-error bands — the
    // "do the books close" report (header and lines are generated
    // independently here, so the bands measure that gap exactly)
    "q278_reconciliation_bands" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("__line_rev"))
      Tables.orders(s, d).join(li, Seq("o_orderkey"), "left")
        .withColumn("__rel",
          when(col("__line_rev").isNotNull && col("o_totalprice") > 0,
            abs(col("__line_rev") - col("o_totalprice")) /
              col("o_totalprice")))
        .withColumn("band",
          when(col("__rel").isNull, "no_lineitems")
            .when(col("__rel") <= 0.01, "within_1pct")
            .when(col("__rel") <= 0.10, "within_10pct")
            .when(col("__rel") <= 0.50, "within_50pct")
            .otherwise("over_50pct"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2)
            .as("header_total"))
    }),

    // Hilbert vs Z-order zone maps on the q222 rectangle: the curve
    // with no quadrant-boundary jumps should skip at least as many
    // files at the same file count
    "q259_hilbert_pruning" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"),
          col("o_custkey").cast("long").as("x"),
          datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast(DateType)).cast("long").as("y"))
      graft.operators.LayoutOps.hilbertVsZorderPruning(o, "x", "y",
        "o_orderkey", buckets = 16, order = 18,
        xLo = 10L, xHi = 60L, yLo = 9500L, yHi = 9800L)
    }),

    // array-function surface: per-doc stopword intersections /
    // differences, sorted so ordering conventions can't diverge
    // across engines
    "q141_array_ops" -> ((s, d) => {
      val stop = typedlit(graft.text.TextOps.EnStopwords.toSeq.sorted)
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_sort(array_distinct(graft.text.TextOps.tokens(lower(col("text")))))
            .as("__toks"))
        .select(col("doc_id"),
          size(col("__toks")).cast(LongType).as("n_distinct_tokens"),
          // space-joined string, not a raw array: array-column
          // comparison semantics differ across readers, strings don't
          concat_ws(" ", array_sort(array_intersect(col("__toks"), stop)))
            .as("stop_hits"),
          size(array_except(col("__toks"), stop)).cast(LongType)
            .as("n_content_tokens"))
    }),

    // set-operator surface: nations with customers INTERSECT nations
    // with suppliers, and the anti side via EXCEPT
    "q142_set_ops" -> ((s, d) => {
      val custNations = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val suppNations = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations)
        .withColumn("side", lit("both"))
        .unionByName(custNations.distinct().except(suppNations)
          .withColumn("side", lit("customers_only")))
    }),

    // Count-Min frequency sketch over corpus tokens: ≤ depth×width
    // counter rows whatever the corpus size; point estimates = min of
    // the item's counters (overestimate ≤ εN); est/exact side by side
    "q138_countmin" -> ((s, d) => {
      import s.implicits._
      // scan fan-out before the tokenize explode (guide §2.5): `toks`
      // has two consumers (sketch build + exact counts), each fusing
      // the explode onto the single-row-group scan otherwise
      val toks = Tables.fanOut(Tables.documents(s, d).select(col("text")))
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      val counters = graft.operators.SketchOps.countMinBuild(toks, "w")
      val queries = Seq("table", "query", "value", "zzz_absent").toDF("w")
      val est = graft.operators.SketchOps.countMinEstimate(counters, queries, "w")
      val exact = toks.groupBy("w").agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("w"), "left")
        .select(col("w").as("token"), col("est_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
    }),

    // unpivot (melt): the q125 crosstab folded back to long form via
    // the stack expression — the inverse API surface
    "q137_unpivot" -> ((s, d) => {
      val wide = Tables.events(s, d)
        .withColumn("dow", dayofweek(col("ts")))
        .groupBy("event_type")
        .pivot("dow", 1 to 7)
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.select(col("event_type"), expr(
        s"stack(7, ${(1 to 7).map(i => s"'d$i', `$i`").mkString(", ")}) AS (dow, n)"))
        .filter(col("n") > 0)
    }),

    // Efraimidis–Spirakis weighted sampling without replacement:
    // top-50 docs by u^(1/n_chars) with salted-md5 u — inclusion ∝
    // length, membership a pure function of (key, salt); bounded-heap
    // global top-k
    "q132_weighted_sample" -> ((s, d) =>
      graft.operators.SplitOps.weightedSampleK(
        Tables.documents(s, d), "doc_id", "n_chars", k = 50)),

    // point-in-interval join via bucket explode (the 1-D grid join):
    // line items shipped within 30 days of a flagged order, no cross
    // product — intervals explode to day-buckets, points equi-join
    // their single bucket, the exact half-open predicate refines
    "q133_interval_join" -> ((s, d) => {
      val epoch = lit("1970-01-01").cast(DateType)
      val intervals = Tables.orders(s, d)
        .filter(col("o_orderkey") % 499 === 0)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), epoch).cast(LongType).as("start_day"))
        .withColumn("end_day", col("start_day") + 30L)
      val points = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          datediff(to_date(col("l_shipdate")), epoch).cast(LongType).as("ship_day"))
      graft.tables.ScaleJoins.pointInIntervalJoin(
        points, "ship_day", intervals, "start_day", "end_day",
        bucketWidth = 32L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // crosstab via the pivot API: event counts by type × day-of-week,
    // explicit pivot values so the plan is a single aggregation pass
    // (no distinct-value pre-query); absent combinations fill 0
    "q125_pivot_crosstab" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("dow", dayofweek(col("ts")))
        .groupBy("event_type")
        .pivot("dow", 1 to 7)
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed((1 to 7).map(i => i.toString -> s"d$i").toMap)),

    // §2.6-family subtotal report: ROLLUP over (nation, order year)
    // with grouping_id disambiguating subtotal NULLs from data NULLs —
    // one aggregation pass produces all three grouping levels
    // (Spark plans an Expand, 3 rows per input: the price of subtotals
    // in ANY engine, paid AFTER the join reduces to (name, yr, price))
    // SQL form: the Dataset rollup() API trips Spark 4.1.2's
    // DetectAmbiguousSelfJoin on any post-join frame (the rollup
    // Expand duplicates attributes that still carry join-side dataset
    // ids) — the SQL planner builds the identical Expand plan without
    // the spurious check
    "q124_rollup_report" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("q124_orders")
      Tables.customer(s, d).createOrReplaceTempView("q124_customer")
      Tables.nation(s, d).createOrReplaceTempView("q124_nation")
      s.sql("""
        SELECT n_name, year(o_orderdate) AS yr,
          count(1) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
          grouping_id() AS gid
        FROM q124_orders
        JOIN q124_customer ON o_custkey = c_custkey
        JOIN q124_nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, year(o_orderdate))""")
    }),

    // §2.3 1→N unnesting (unnest_domi_street_seg, gcs_utils.py:597-662):
    // explode tokens with positional counters, then top-50 tokens
    "q31_explode_tokens" -> ((s, d) => {
      // full-\s edge strip (not space-only trim) so a leading
      // tab/newline never emits a spurious empty token — mirrors the
      // oracle's explicit-whitespace-set trim
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(
          regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+")))
        .withColumnsRenamed(Map("pos" -> "token_idx", "col" -> "token"))
      toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)
    }),

    // §2.3 ExtractField nested-path extraction (dataflow_utils.py:
    // 326-341): JSON-path pull from the props payload
    "q32_json_extract" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("prop_k"))
        .groupBy(col("prop_k"))
        .agg(count(lit(1)).as("n"))
    }),

    // sessionization in pure SQL: lag + gap-flag + running sum — the
    // batch twin of StreamingOps.sessionize (30-minute gap)
    "q33_sessionize_sql" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          round(avg("n_events"), 4).as("avg_session_events"),
          max("n_events").as("max_session_events"))
    }),

    // §2.6/§2.9 EEO-4 report shape (ceridian_admin.py:5-57): UNION ALL
    // branches with CASE bucketing, grouped counts
    "q34_union_all_report" -> ((s, d) => {
      def band(c: String) =
        when(col(c) < 0, "negative").when(col(c) < 5000, "low").otherwise("high")
      val cust = Tables.customer(s, d)
        .select(lit("customer").as("entity"), band("c_acctbal").as("band"))
      val supp = Tables.supplier(s, d)
        .select(lit("supplier").as("entity"), band("s_acctbal").as("band"))
      cust.unionByName(supp).groupBy("entity", "band").agg(count(lit(1)).as("n"))
    }),

    // §2.10 regex scalar surface: extract, global replace, position
    "q35_regex_ops" -> ((s, d) => {
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        instr(col("p_name"), "red").as("red_pos"),
        translate(col("p_brand"), "#", "-").as("brand_dashed"))
    }),

    // HAVING-style aggregate filter + countDistinct
    "q36_having_filter" -> ((s, d) => {
      // two-level aggregate instead of countDistinct: the single-agg
      // form plans an Expand that doubles every shuffled row; this
      // shuffles once on (suppkey, orderkey) with map-side combine,
      // then once on the order-level partials
      Tables.lineitem(s, d)
        .groupBy("l_suppkey", "l_orderkey")
        .agg(count(lit(1)).as("__n"), sum(col("l_extendedprice")).as("__p"))
        .groupBy("l_suppkey")
        .agg(sum("__n").as("n_items"), count(lit(1)).as("n_orders"),
          round(sum("__p"), 2).as("total"))
        .filter(col("n_items") > 100)
    }),

    // §2.7 running aggregate over an explicit frame (rowsBetween) —
    // cumulative revenue per supplier ordered by ship date
    "q37_running_total" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_extendedprice")).over(w), 2).as("running_revenue"))
    }),

    // grouped quantiles via percentile_cont — distribution reporting
    "q38_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)"), 4).as("p50"),
          round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value)"), 4).as("p90"),
          round(min("value"), 4).as("vmin"),
          round(max("value"), 4).as("vmax"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q77_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q111_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |  FROM events
        |), r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cd
        |  FROM h
        |), agg AS (
        |  SELECT event_type,
        |    CAST(least(cd, 64) AS BIGINT) AS n_hashes,
        |    max(CASE WHEN rn = 64 THEN h END) AS kth_hash
        |  FROM r WHERE rn <= 64 GROUP BY event_type, cd
        |), ex AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY 1
        |)
        |SELECT agg.event_type, n_hashes, kth_hash,
        |  CASE WHEN n_hashes < 64 THEN n_hashes
        |       ELSE (63::BIGINT * (1::BIGINT << 52))
        |            // greatest(('0x' || substr(kth_hash, 1, 13))::BIGINT, 1)
        |       END AS est_distinct,
        |  exact_distinct
        |FROM agg JOIN ex USING (event_type)""".stripMargin,

    // same md5 parity signs and integer folds; median via
    // percentile_cont over the 5 estimator rows (odd depth → exact
    // member), exact F2 on HUGEINT squares
    "q234_ams_f2" ->
      """WITH v AS (
        |  SELECT CAST(user_id AS VARCHAR) AS v FROM events
        |  WHERE user_id IS NOT NULL
        |), signed AS (
        |  SELECT r.r AS sketch_row, v.v,
        |    CASE WHEN ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || v.v),
        |      1, 8))::UBIGINT % 2 = 1 THEN 1 ELSE -1 END AS s
        |  FROM v, (SELECT unnest(generate_series(0, 4)) AS r) r
        |), x AS (
        |  SELECT sketch_row, CAST(sum(s) AS BIGINT) AS x FROM signed GROUP BY 1
        |), e AS (
        |  SELECT sketch_row, x,
        |    CAST(CAST(x AS HUGEINT) * CAST(x AS HUGEINT) AS BIGINT) AS est
        |  FROM x
        |), med AS (
        |  SELECT CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(est AS DOUBLE))
        |    AS BIGINT) AS median_est FROM e
        |), ex AS (
        |  SELECT CAST(sum(CAST(f AS HUGEINT) * CAST(f AS HUGEINT)) AS BIGINT)
        |    AS exact_f2
        |  FROM (SELECT v, count(*) AS f FROM v GROUP BY 1)
        |)
        |SELECT CAST(sketch_row AS INTEGER) AS sketch_row, x, est,
        |  median_est, exact_f2,
        |  round(CAST(median_est - exact_f2 AS DOUBLE)
        |    / CAST(exact_f2 AS DOUBLE), 6) AS rel_err
        |FROM e, med, ex""".stripMargin,

    // window-rank recomputation of the k smallest distinct hashes per
    // group (full-hash lexicographic order = the engine's UTF-8 byte
    // order on lowercase hex) and the same integer-division estimator
    // same md5-derived registers (bucket = u32(hex1-8) mod 64, rho via
    // the zero-padded binary string), exact integer harmonic sum, the
    // identical closing estimator expression
    "q206_hll_distinct" ->
      """WITH vals AS (
        |  SELECT 'event_id' AS value_col, event_type AS g,
        |    CAST(event_id AS VARCHAR) AS v FROM events
        |  UNION ALL
        |  SELECT 'user_id', event_type, CAST(user_id AS VARCHAR) FROM events
        |), h AS (
        |  SELECT value_col, g, md5(v) AS h FROM vals WHERE v IS NOT NULL
        |), rho AS (
        |  SELECT value_col, g,
        |    CAST(('0x' || substr(h, 1, 8))::UBIGINT % 64 AS BIGINT) AS bkt,
        |    CASE WHEN instr(lpad(bin(CAST(('0x' || substr(h, 9, 8))::UBIGINT
        |        AS BIGINT)), 32, '0'), '1') = 0 THEN 33
        |      ELSE instr(lpad(bin(CAST(('0x' || substr(h, 9, 8))::UBIGINT
        |        AS BIGINT)), 32, '0'), '1') END AS rho
        |  FROM h
        |), regs AS (
        |  SELECT value_col, g, bkt, max(rho) AS m
        |  FROM rho GROUP BY 1, 2, 3
        |), agg AS (
        |  SELECT value_col, g,
        |    sum(1::BIGINT << CAST(33 - m AS INTEGER)) AS sp,
        |    count(*) AS nb
        |  FROM regs GROUP BY 1, 2
        |), est AS (
        |  SELECT value_col, g, CAST(nb AS BIGINT) AS n_buckets_hit,
        |    sp + (64 - nb) * (1::BIGINT << 33) AS s, 64 - nb AS v
        |  FROM agg
        |), ex AS (
        |  SELECT 'event_id' AS value_col, event_type AS g,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
        |  FROM events GROUP BY 2
        |  UNION ALL
        |  SELECT 'user_id', event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) FROM events GROUP BY 2
        |)
        |SELECT e.g AS event_type, e.n_buckets_hit,
        |  round(CASE WHEN raw <= 160.0 AND e.v > 0
        |    THEN 64.0 * ln(64.0 / CAST(e.v AS DOUBLE)) ELSE raw END, 4)
        |    AS est_distinct,
        |  ex.exact_distinct, e.value_col
        |FROM est e
        |JOIN ex ON ex.value_col = e.value_col AND ex.g = e.g,
        |  LATERAL (SELECT (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
        |    * 8589934592.0 / CAST(e.s AS DOUBLE) AS raw) r""".stripMargin,

    // q172's bit-interleave chain plus two comparison layouts; bucket
    // by the same exact rank formula; skippable = interval disjointness
    "q222_zonemap_pruning" ->
      raw"""WITH base AS (
        |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders
        |), s1 AS (SELECT id, x AS ox, y AS oy,
        |    (x | (x << 16)) & 281470681808895 AS sx,
        |    (y | (y << 16)) & 281470681808895 AS sy FROM base),
        |$mortonSpread
        |zz AS (SELECT id, ox, oy, sx | (sy << 1) AS z FROM s5),
        |ranked AS (
        |  SELECT 'natural' AS layout, ox, oy,
        |    row_number() OVER (ORDER BY id) AS rk, count(*) OVER () AS n
        |  FROM zz
        |  UNION ALL
        |  SELECT 'xsort', ox, oy,
        |    row_number() OVER (ORDER BY ox, id), count(*) OVER () FROM zz
        |  UNION ALL
        |  SELECT 'zorder', ox, oy,
        |    row_number() OVER (ORDER BY z, id), count(*) OVER () FROM zz
        |), st AS (
        |  SELECT layout, ((rk - 1) * 16) // n AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(ox) AS min_x, max(ox) AS max_x,
        |    min(oy) AS min_y, max(oy) AS max_y
        |  FROM ranked GROUP BY 1, 2
        |)
        |SELECT layout, bucket, n_rows, min_x, max_x, min_y, max_y,
        |  CAST(CASE WHEN max_x < 10 OR min_x > 60
        |    OR max_y < 9500 OR min_y > 9800 THEN 1 ELSE 0 END AS BIGINT)
        |    AS skippable
        |FROM st""".stripMargin,

    // daily registers -> MAX-merged registers -> the q206 estimator;
    // per-day exact distincts summed for the double-counting contrast
    "q219_hll_rollup" ->
      """WITH base AS (
        |  SELECT event_type AS g, ts::DATE AS day,
        |    CAST(user_id AS VARCHAR) AS v
        |  FROM events WHERE user_id IS NOT NULL
        |), h AS (SELECT g, day, md5(v) AS h FROM base
        |), rho AS (
        |  SELECT g, day,
        |    CAST(('0x' || substr(h, 1, 8))::UBIGINT % 64 AS BIGINT) AS bkt,
        |    CASE WHEN instr(lpad(bin(CAST(('0x' || substr(h, 9, 8))::UBIGINT
        |        AS BIGINT)), 32, '0'), '1') = 0 THEN 33
        |      ELSE instr(lpad(bin(CAST(('0x' || substr(h, 9, 8))::UBIGINT
        |        AS BIGINT)), 32, '0'), '1') END AS rho
        |  FROM h
        |), daily AS (
        |  SELECT g, day, bkt, max(rho) AS m FROM rho GROUP BY 1, 2, 3
        |), merged AS (
        |  SELECT g, bkt, max(m) AS m FROM daily GROUP BY 1, 2
        |), agg AS (
        |  SELECT g, sum(1::BIGINT << CAST(33 - m AS INTEGER)) AS sp,
        |    count(*) AS nb
        |  FROM merged GROUP BY 1
        |), est AS (
        |  SELECT g, sp + (64 - nb) * (1::BIGINT << 33) AS s, 64 - nb AS v
        |  FROM agg
        |), pday AS (
        |  SELECT g, day, count(DISTINCT v) AS dx FROM base GROUP BY 1, 2
        |), naive AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(dx) AS BIGINT) AS sum_daily_exact
        |  FROM pday GROUP BY 1
        |), ex AS (
        |  SELECT g, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
        |  FROM base GROUP BY 1
        |)
        |SELECT e.g AS event_type, n.n_days, n.sum_daily_exact,
        |  ex.exact_distinct,
        |  round(CASE WHEN raw <= 160.0 AND e.v > 0
        |    THEN 64.0 * ln(64.0 / CAST(e.v AS DOUBLE)) ELSE raw END, 4)
        |    AS est_merged
        |FROM est e JOIN naive n ON n.g = e.g JOIN ex ON ex.g = e.g,
        |  LATERAL (SELECT (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
        |    * 8589934592.0 / CAST(e.s AS DOUBLE) AS raw) r""".stripMargin,

    // bit-identical Morton interleave (the five spread steps with the
    // same masks, decimal literals for DuckDB), identical global rank
    // ordering (z, id) and the same integer bucket formula
    "q172_zorder_layout" ->
      raw"""WITH base AS (
        |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders
        |), s1 AS (SELECT id, x AS ox, y AS oy,
        |    (x | (x << 16)) & 281470681808895 AS sx,
        |    (y | (y << 16)) & 281470681808895 AS sy FROM base),
        |$mortonSpread
        |z AS (SELECT id, ox, oy, sx | (sy << 1) AS z FROM s5),
        |r AS (SELECT ox, oy,
        |    row_number() OVER (ORDER BY z, id) AS rk,
        |    count(*) OVER () AS n FROM z)
        |SELECT ((rk - 1) * 16) // n AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(ox) AS min_x, max(ox) AS max_x,
        |  min(oy) AS min_y, max(oy) AS max_y
        |FROM r GROUP BY 1""".stripMargin,

    // the same md5 hash order, k-min sets, union-sketch algebra, and
    // integer estimate formulas as q111; the kth hash of an ORDER BY h
    // LIMIT k set is its max(h)
    "q173_kmv_set_ops" ->
      """WITH ha AS (
        |  SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'click'
        |), hb AS (
        |  SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
        |), ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
        |       ORDER BY h LIMIT 64),
        |st AS (
        |  SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM ka) AS n_a_hashes,
        |    (SELECT CAST(count(*) AS BIGINT) FROM kb) AS n_b_hashes,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ku) AS union_size,
        |    (SELECT greatest(('0x' || substr(max(h), 1, 13))::BIGINT, 1)
        |       FROM ka) AS va,
        |    (SELECT greatest(('0x' || substr(max(h), 1, 13))::BIGINT, 1)
        |       FROM kb) AS vb,
        |    (SELECT greatest(('0x' || substr(max(h), 1, 13))::BIGINT, 1)
        |       FROM ku) AS vu,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ku
        |       WHERE h IN (SELECT h FROM ka)
        |         AND h IN (SELECT h FROM kb)) AS shared_mins
        |)
        |SELECT n_a_hashes, n_b_hashes,
        |  CASE WHEN n_a_hashes < 64 THEN n_a_hashes
        |       ELSE (63::BIGINT * (1::BIGINT << 52)) // va END AS est_a,
        |  CASE WHEN n_b_hashes < 64 THEN n_b_hashes
        |       ELSE (63::BIGINT * (1::BIGINT << 52)) // vb END AS est_b,
        |  union_size,
        |  CASE WHEN union_size < 64 THEN union_size
        |       ELSE (63::BIGINT * (1::BIGINT << 52)) // vu END AS union_est,
        |  shared_mins,
        |  CASE WHEN union_size > 0
        |       THEN round(shared_mins::DOUBLE / union_size::DOUBLE, 6)
        |  END AS jaccard_est,
        |  CASE WHEN union_size > 0
        |       THEN (shared_mins * (CASE WHEN union_size < 64 THEN union_size
        |              ELSE (63::BIGINT * (1::BIGINT << 52)) // vu END))
        |            // union_size
        |  END AS intersect_est
        |FROM st""".stripMargin,

    // the plain inner join + aggregate — the Bloom prune must be
    // invisible in the result (no false negatives)
    "q180_bloom_pruned_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lineitems,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 350000.0
        |GROUP BY 1""".stripMargin,

    // the same two-level cell-then-class rollup: distinct sensitive
    // values counted as cell rows (NULL included), risk flags by the
    // same integer compare
    "q178_privacy_risk" ->
      """WITH cells AS (
        |  SELECT o_orderpriority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER)
        |      AS o_month,
        |    o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2, 3
        |)
        |SELECT o_orderpriority, o_month,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_sensitive_values,
        |  sum(n) < 30 AS k_risk,
        |  count(*) < 3 AS l_risk
        |FROM cells GROUP BY 1, 2""".stripMargin,

    // per-column UNION ALL twin of the one-pass profile: the same
    // string surface (DECIMAL(18,2) for the price, date grain for the
    // timestamp), distinct over non-NULL stringified values,
    // lexicographic min/max
    "q179_table_profile" ->
      (Seq(
        ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
        ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
        ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
        ("o_orderpriority", "o_orderpriority"))
        .map { case (c, v) =>
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             |  min(v) AS min_value, max(v) AS max_value
             |FROM (SELECT $v AS v FROM orders)""".stripMargin
        }.mkString("\n", "\nUNION ALL\n", "")),

    // same 60-bit md5 weights; argmax replayed as row_number over
    // (hv DESC, s DESC) — the greatest-struct tie rule
    "q197_rendezvous_shards" ->
      """WITH k AS (SELECT o_orderkey AS key FROM orders),
        |h8 AS (
        |  SELECT key, u.s,
        |    ('0x' || substr(md5(CAST(key AS VARCHAR) || '#' ||
        |      CAST(u.s AS VARCHAR)), 1, 15))::UBIGINT AS hv
        |  FROM k, unnest(range(0, 8)) u(s)
        |), a8 AS (
        |  SELECT key, s FROM (
        |    SELECT key, s, row_number() OVER (PARTITION BY key
        |      ORDER BY hv DESC, s DESC) AS rn FROM h8) WHERE rn = 1
        |), h9 AS (
        |  SELECT key, u.s,
        |    ('0x' || substr(md5(CAST(key AS VARCHAR) || '#' ||
        |      CAST(u.s AS VARCHAR)), 1, 15))::UBIGINT AS hv
        |  FROM k, unnest(range(0, 9)) u(s)
        |), a9 AS (
        |  SELECT key, s FROM (
        |    SELECT key, s, row_number() OVER (PARTITION BY key
        |      ORDER BY hv DESC, s DESC) AS rn FROM h9) WHERE rn = 1
        |)
        |SELECT CAST(a8.s AS INTEGER) AS shard, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN a9.s <> a8.s THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_moved,
        |  round(sum(CASE WHEN a9.s <> a8.s THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS moved_frac
        |FROM a8 JOIN a9 USING (key) GROUP BY 1""".stripMargin,

    // the CLASSIC unbounded-per-user-window sessionization — passing
    // proves the bucketed two-level rebuild is a pure physical
    // re-shape of the textbook gaps-and-islands semantics
    "q116_sessionize_bucketed" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
        |         ELSE 0 END AS s
        |  FROM lagged
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us
        |FROM sess GROUP BY 1, 2""".stripMargin,

    // all four levels via GROUP BY CUBE, the +1 dayofweek alignment
    "q152_cube_report" ->
      """SELECT event_type,
        |  CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        |  count(*) AS n,
        |  CAST(GROUPING(event_type, dayofweek(ts) + 1) AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE(event_type, dayofweek(ts) + 1)""".stripMargin,

    // hand-derived matches under American Soundex: R163 Robert~Rupert,
    // S530 Smith~Smyth, A261 Ashcraft~Ashcroft; Tymczak (T522),
    // Jackson (J250), Pfister (P236), Honeyman (H555) match nothing
    "q150_soundex_join" ->
      """SELECT CAST(cid AS BIGINT) AS cid, cname,
        |  CAST(vid AS BIGINT) AS vid, vname, code
        |FROM (VALUES
        |  (1, 'Robert', 11, 'Rupert', 'R163'),
        |  (2, 'Smith', 12, 'Smyth', 'S530'),
        |  (3, 'Ashcraft', 13, 'Ashcroft', 'A261')
        |) t(cid, cname, vid, vname, code)""".stripMargin,

    // the QUADRATIC ground truth the blocked join must reproduce
    // exactly — any missed distance-≤1 pair fails the hash compare
    "q149_fuzzy_join" ->
      """WITH messy AS (
        |  SELECT c_custkey AS m_key,
        |    substring(c_name, 1, 2) || substring(c_name, 4) AS m_name
        |  FROM customer WHERE c_custkey % 7 = 0
        |)
        |SELECT c.c_custkey, c.c_name, m.m_key, m.m_name,
        |  CAST(levenshtein(c.c_name, m.m_name) AS INTEGER) AS edit_distance
        |FROM customer c, messy m
        |WHERE levenshtein(c.c_name, m.m_name) <= 1""".stripMargin,

    // same lead-gap arithmetic on the distinct (type, day) frame
    "q281_calendar_completeness" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT DISTINCT event_type AS t, ts::DATE AS day FROM events
        |), g AS (
        |  SELECT t, day,
        |    CASE WHEN lead(day) OVER (PARTITION BY t ORDER BY day)
        |           IS NOT NULL
        |      THEN (lead(day) OVER (PARTITION BY t ORDER BY day)) - day - 1
        |      ELSE 0 END AS gap
        |  FROM daily
        |)
        |SELECT t AS event_type, min(day) AS first_day, max(day) AS last_day,
        |  count(*) AS n_observed_days,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) AS n_expected_days,
        |  round(count(*)::DOUBLE / (max(day) - min(day) + 1)::DOUBLE, 6)
        |    AS completeness,
        |  CAST(max(gap) AS BIGINT) AS longest_gap_days
        |FROM g GROUP BY 1""".stripMargin,

    // the same anti-join orphan definitions, exact counts
    "q277_referential_integrity" ->
      """SELECT 'lineitems_without_order' AS check, (
        |  SELECT count(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)) AS n
        |UNION ALL
        |SELECT 'orders_without_lineitems', (
        |  SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                    WHERE l.l_orderkey = o.o_orderkey))
        |UNION ALL
        |SELECT 'orders_without_customer', (
        |  SELECT count(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'duplicate_order_keys', (
        |  SELECT count(*) FROM (
        |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))
        |UNION ALL
        |SELECT 'null_order_keys', (
        |  SELECT count(*) FROM orders WHERE o_orderkey IS NULL)""".stripMargin,

    // same band edges on the same one-division relative error
    "q278_reconciliation_bands" ->
      """WITH li AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS line_rev
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT o.o_totalprice,
        |    CASE WHEN li.line_rev IS NOT NULL AND o.o_totalprice > 0
        |      THEN abs(li.line_rev - o.o_totalprice) / o.o_totalprice
        |    END AS rel
        |  FROM orders o LEFT JOIN li USING (o_orderkey)
        |)
        |SELECT CASE WHEN rel IS NULL THEN 'no_lineitems'
        |            WHEN rel <= 0.01 THEN 'within_1pct'
        |            WHEN rel <= 0.10 THEN 'within_10pct'
        |            WHEN rel <= 0.50 THEN 'within_50pct'
        |            ELSE 'over_50pct' END AS band,
        |  count(*) AS n_orders,
        |  round(sum(coalesce(o_totalprice, 0.0)), 2) AS header_total
        |FROM j GROUP BY 1""".stripMargin,

    // every Hilbert bit level unrolled (rotation reads the PRE-level
    // x/y from the inner subquery), the q222 Morton chain verbatim,
    // same rank/bucket/skippability arithmetic
    "q259_hilbert_pruning" -> {
      val order = 18
      val n1 = (1L << order) - 1
      val head =
        raw"""WITH base AS (
          |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS ox,
          |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS oy
          |  FROM orders
          |), s1 AS (SELECT id, ox, oy,
          |    (ox | (ox << 16)) & 281470681808895 AS sx,
          |    (oy | (oy << 16)) & 281470681808895 AS sy FROM base),
          |$mortonSpread
          |zz AS MATERIALIZED (SELECT id, ox, oy, sx | (sy << 1) AS z FROM s5),
          |h0 AS (SELECT id, ox, oy, ox AS hx, oy AS hy, 0::BIGINT AS hd
          |       FROM base)""".stripMargin
      val levels = ((order - 1) to 0 by -1).zipWithIndex.map {
        case (i, k) =>
          val s = 1L << i
          s""", h${k + 1} AS (
             |  SELECT id, ox, oy,
             |    CASE WHEN ry = 0 THEN
             |      CASE WHEN rx = 1 THEN $n1 - hy ELSE hy END
             |    ELSE hx END AS hx,
             |    CASE WHEN ry = 0 THEN
             |      CASE WHEN rx = 1 THEN $n1 - hx ELSE hx END
             |    ELSE hy END AS hy,
             |    hd + ${s * s} * xor(3 * rx, ry) AS hd
             |  FROM (SELECT *,
             |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
             |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
             |    FROM h$k)
             |)""".stripMargin
      }.mkString
      head + levels +
        s"""
           |, ranked AS (
           |  SELECT 'hilbert' AS layout, ox, oy,
           |    row_number() OVER (ORDER BY hd, id) AS rk,
           |    count(*) OVER () AS n
           |  FROM h$order
           |  UNION ALL
           |  SELECT 'zorder', ox, oy,
           |    row_number() OVER (ORDER BY z, id), count(*) OVER () FROM zz
           |), st AS (
           |  SELECT layout, ((rk - 1) * 16) // n AS bucket,
           |    CAST(count(*) AS BIGINT) AS n_rows,
           |    min(ox) AS min_x, max(ox) AS max_x,
           |    min(oy) AS min_y, max(oy) AS max_y
           |  FROM ranked GROUP BY 1, 2
           |)
           |SELECT layout, bucket, n_rows, min_x, max_x, min_y, max_y,
           |  CAST(CASE WHEN max_x < 10 OR min_x > 60
           |    OR max_y < 9500 OR min_y > 9800 THEN 1 ELSE 0 END AS BIGINT)
           |    AS skippable
           |FROM st""".stripMargin
    },

    // same list algebra with list_sort pinning the order both sides
    "q141_array_ops" -> {
      val stopSql = graft.text.TextOps.EnStopwords.toSeq.sorted
        .map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]
         |         ELSE list_sort(list_distinct(
         |           regexp_split_to_array(trim(lower(text), $ws), '\\s+'))) END AS toks
         |  FROM documents
         |)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_distinct_tokens,
         |  coalesce(array_to_string(
         |      list_sort(list_intersect(toks, [$stopSql])), ' '), '')
         |    AS stop_hits,
         |  CAST(len(list_filter(toks,
         |    x -> NOT list_contains([$stopSql], x))) AS BIGINT)
         |    AS n_content_tokens
         |FROM t""".stripMargin
    },

    // the same DISTINCT set operators
    "q142_set_ops" ->
      """SELECT nationkey, 'both' AS side FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT
        |  SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customers_only' FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT
        |  SELECT s_nationkey FROM supplier)""".stripMargin,

    // counters and probes recomputed with the same "row:value" md5
    // bucket formula; the min-of-counters estimate is integer-exact
    "q138_countmin" ->
      raw"""WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text, $ws), '\s+')) AS w
        |  FROM documents WHERE length(trim(text, $ws)) > 0
        |), rr(r) AS (VALUES (0), (1), (2), (3)),
        |rows_ AS (
        |  SELECT rr.r,
        |    ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || toks.w),
        |      1, 8))::UBIGINT % 1024 AS bucket
        |  FROM toks, rr
        |), counters AS (
        |  SELECT r, bucket, count(*) AS cnt FROM rows_ GROUP BY 1, 2
        |), q(w) AS (VALUES ('table'), ('query'), ('value'), ('zzz_absent')),
        |probes AS (
        |  SELECT q.w, rr.r,
        |    ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || q.w),
        |      1, 8))::UBIGINT % 1024 AS bucket
        |  FROM q, rr
        |), est AS (
        |  SELECT p.w, min(coalesce(c.cnt, 0)) AS est_count
        |  FROM probes p
        |  LEFT JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
        |  GROUP BY p.w
        |), exact AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
        |SELECT est.w AS token, CAST(est_count AS BIGINT) AS est_count,
        |  CAST(coalesce(exact.c, 0) AS BIGINT) AS exact_count
        |FROM est LEFT JOIN exact ON exact.w = est.w""".stripMargin,

    // the same long form via conditional-aggregate + UNION ALL
    "q137_unpivot" ->
      ("""WITH wide AS (SELECT event_type, """ +
        (1 to 7).map(i =>
          s"sum(CASE WHEN dayofweek(ts) + 1 = $i THEN 1 ELSE 0 END)::BIGINT AS d$i")
          .mkString(", ") +
        """ FROM events GROUP BY event_type) """ +
        (1 to 7).map(i =>
          s"SELECT event_type, 'd$i' AS dow, d$i AS n FROM wide WHERE d$i > 0")
          .mkString(" UNION ALL ")),

    // the same exponential keys recomputed from the md5 formula and
    // ranked by a plain window
    "q132_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsample'),
        |           1, 8))::UBIGINT + 1) / 4294967296.0,
        |        1.0 / n_chars) AS k
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT CAST(rn AS INTEGER) AS sample_rank, doc_id,
        |  round(k, 6) AS es_key
        |FROM (SELECT *, row_number() OVER (ORDER BY k DESC, doc_id ASC) AS rn
        |      FROM s)
        |WHERE rn <= 50""".stripMargin,

    // the plain SQL range join the bucketed explode must reproduce
    "q133_interval_join" ->
      """SELECT o.o_orderkey, count(*) AS n_lines,
        |  round(sum(l.l_quantity), 2) AS sum_qty
        |FROM orders o
        |JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        |WHERE o.o_orderkey % 499 = 0
        |GROUP BY 1""".stripMargin,

    // conditional-aggregation recomputation; Spark's dayofweek is
    // 1=Sunday..7, DuckDB's is 0=Sunday..6 — the +1 aligns them
    "q125_pivot_crosstab" ->
      ("""SELECT event_type, """ +
        (1 to 7).map(i =>
          s"sum(CASE WHEN dayofweek(ts) + 1 = $i THEN 1 ELSE 0 END)::BIGINT AS d$i")
          .mkString(", ") +
        """ FROM events GROUP BY event_type"""),

    // same three grouping levels via GROUP BY ROLLUP; DuckDB's
    // GROUPING(a, b) emits the identical MSB-first bitmask as Spark's
    // grouping_id()
    "q124_rollup_report" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
        |  CAST(GROUPING(n_name, year(o_orderdate)) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, year(o_orderdate))""".stripMargin,

    "q31_explode_tokens" ->
      raw"""SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text, $ws), '\s+')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,

    "q32_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q33_sessionize_sql" ->
      """WITH lagged AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged
        |), sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, session_id, count(*) AS n_events
        |  FROM sessions GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  round(avg(n_events), 4) AS avg_session_events,
        |  max(n_events) AS max_session_events
        |FROM per_session GROUP BY 1""".stripMargin,

    "q34_union_all_report" ->
      """SELECT entity, band, count(*) AS n FROM (
        |  SELECT 'customer' AS entity,
        |    CASE WHEN c_acctbal < 0 THEN 'negative'
        |         WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supplier' AS entity,
        |    CASE WHEN s_acctbal < 0 THEN 'negative'
        |         WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS band
        |  FROM supplier)
        |GROUP BY 1, 2""".stripMargin,

    "q35_regex_ops" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  CAST(strpos(p_name, 'red') AS INTEGER) AS red_pos,
        |  replace(p_brand, '#', '-') AS brand_dashed
        |FROM part""".stripMargin,

    "q36_having_filter" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  round(sum(l_extendedprice), 2) AS total
        |FROM lineitem GROUP BY 1 HAVING count(*) > 100""".stripMargin,

    "q37_running_total" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        |FROM lineitem WHERE l_suppkey <= 10""".stripMargin,

    "q38_percentiles" ->
      """SELECT event_type,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS p90,
        |  round(min(value), 4) AS vmin,
        |  round(max(value), 4) AS vmax
        |FROM events GROUP BY 1""".stripMargin
  )
}
