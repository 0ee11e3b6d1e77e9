package graft

import graft.operators.AnalyticsOps
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("cohortRetention: first-day cohorts, per-day activity deduped, " +
    "offset-0 row is the cohort size") {
    val events = Seq(
      // u1: cohort Jan 1, active Jan 1 (x2 events), Jan 2, Jan 4
      (1L, ts("2024-01-01 08:00:00")),
      (1L, ts("2024-01-01 21:00:00")),
      (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-04 12:00:00")),
      // u2: cohort Jan 1, never returns
      (2L, ts("2024-01-01 10:00:00")),
      // u3: cohort Jan 2, returns Jan 4
      (3L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-04 23:00:00"))).toDF("user_id", "ts")
    val out = AnalyticsOps.cohortRetention(events)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out === Map(
      ("2024-01-01", 0L) -> 2L, // u1 + u2
      ("2024-01-01", 1L) -> 1L, // u1
      ("2024-01-01", 3L) -> 1L, // u1
      ("2024-01-02", 0L) -> 1L, // u3
      ("2024-01-02", 2L) -> 1L)) // u3
  }

  test("funnel: strictly-after ordering, same-timestamp events do NOT " +
    "advance, off-path users drop at the right stage") {
    val events = Seq(
      // u1 completes the whole funnel in order
      (1L, "view", ts("2024-01-01 08:00:00")),
      (1L, "click", ts("2024-01-01 08:05:00")),
      (1L, "purchase", ts("2024-01-01 08:10:00")),
      // u2's only click precedes the first view — stalls at view
      (2L, "click", ts("2024-01-01 07:00:00")),
      (2L, "view", ts("2024-01-01 09:00:00")),
      // u3's purchase precedes the click — stalls at click
      (3L, "view", ts("2024-01-01 08:00:00")),
      (3L, "purchase", ts("2024-01-01 08:30:00")),
      (3L, "click", ts("2024-01-01 09:00:00")),
      // u4 never views — never enters the funnel
      (4L, "purchase", ts("2024-01-01 08:00:00")),
      // u5's click shares the view's timestamp — strictly-after
      // semantics reject it
      (5L, "view", ts("2024-01-01 10:00:00")),
      (5L, "click", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val out = AnalyticsOps.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1, "view", 4L),     // u1, u2, u3, u5
      (2, "click", 2L),    // u1, u3 (u5's same-ts click rejected)
      (3, "purchase", 1L)) // u1
    )
  }

  test("funnel with a conversion window: a step landing outside " +
    "maxGapSecs does not advance; the boundary (exactly the gap) does") {
    val events = Seq(
      // u1 clicks 30 min after view — inside a 1-hour window
      (1L, "view", ts("2024-01-01 08:00:00")),
      (1L, "click", ts("2024-01-01 08:30:00")),
      // u2 clicks 2 h after view — outside
      (2L, "view", ts("2024-01-01 08:00:00")),
      (2L, "click", ts("2024-01-01 10:00:00")),
      // u3 clicks EXACTLY 1 h after view — inclusive boundary advances
      (3L, "view", ts("2024-01-01 08:00:00")),
      (3L, "click", ts("2024-01-01 09:00:00"))).toDF("user_id", "event_type", "ts")
    val out = AnalyticsOps.funnel(events, Seq("view", "click"),
      maxGapSecs = Some(3600L))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(out === Map(1 -> 3L, 2 -> 2L)) // u1 + u3 convert, u2 does not
  }

  test("funnel: earliest-completion semantics pick the min qualifying " +
    "event at every stage") {
    // u1 has two views; the click sits between them — only the
    // earliest view matters, so the click qualifies
    val events = Seq(
      (1L, "view", ts("2024-01-01 08:00:00")),
      (1L, "click", ts("2024-01-01 08:30:00")),
      (1L, "view", ts("2024-01-01 09:00:00"))).toDF("user_id", "event_type", "ts")
    val out = AnalyticsOps.funnel(events, Seq("view", "click"))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(out === Map(1 -> 1L, 2 -> 1L))
  }

  /** The naive unbounded-per-user-window sessionization the bucketed
    * rebuild must reproduce exactly.
    */
  private def naiveSessions(events: org.apache.spark.sql.DataFrame,
                            gapSecs: Long): Map[(Long, Long), (Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("__p", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("__s", when(col("__p").isNull ||
        unix_micros(col("ts")) - col("__p") > gapSecs * 1000000L, 1L).otherwise(0L))
      .withColumn("seq", sum("__s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "seq")
      .agg(count(lit(1)).as("n"), min(unix_micros(col("ts"))).as("f"),
        max(unix_micros(col("ts"))).as("l"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }

  test("sessionizeBucketed: hand fixture — within-bucket splits, " +
    "cross-bucket continuation, cross-bucket new session, boundary gap " +
    "exactly equal to the threshold continues") {
    // gap 30 min, hourly buckets
    val events = Seq(
      // u1: one session crossing the bucket boundary (gap 10 min),
      // then a new one after 40 min, which itself splits in-bucket
      (1L, 1L, ts("2024-01-01 08:50:00")),
      (1L, 2L, ts("2024-01-01 09:00:00")), // 10 min gap, new bucket — continues
      (1L, 3L, ts("2024-01-01 09:40:00")), // 40 min gap — new session
      (1L, 4L, ts("2024-01-01 09:45:00")), // same session
      (1L, 5L, ts("2024-01-01 11:45:00")), // 2 h gap (empty bucket 10) — new
      // u2: boundary gap EXACTLY 30 min — strict > means it continues
      (2L, 6L, ts("2024-01-01 08:45:00")),
      (2L, 7L, ts("2024-01-01 09:15:00"))).toDF("user_id", "event_id", "ts")
    val out = AnalyticsOps.sessionizeBucketed(events, gapSecs = 1800L,
      bucketSecs = 3600L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    def us(s: String) = Timestamp.valueOf(s).getTime * 1000L
    assert(out === Map(
      (1L, 1L) -> ((2L, us("2024-01-01 08:50:00"), us("2024-01-01 09:00:00"))),
      (1L, 2L) -> ((2L, us("2024-01-01 09:40:00"), us("2024-01-01 09:45:00"))),
      (1L, 3L) -> ((1L, us("2024-01-01 11:45:00"), us("2024-01-01 11:45:00"))),
      (2L, 1L) -> ((2L, us("2024-01-01 08:45:00"), us("2024-01-01 09:15:00")))))
  }

  test("sessionizeBucketed ≡ naive per-user window on a randomized " +
    "skewed log (one user holds 90% of events), across bucket widths") {
    val rnd = new scala.util.Random(2024)
    val base = ts("2024-01-01 00:00:00").getTime
    val rows = (1 to 2000).map { i =>
      val u = if (rnd.nextInt(10) < 9) 1L else 2L + rnd.nextInt(5)
      // gaps cluster around the 15-min threshold so both sides occur
      val t = new Timestamp(base + rnd.nextInt(3 * 86400) * 1000L)
      (u, i.toLong, t)
    }
    val events = rows.toDF("user_id", "event_id", "ts").repartition(7)
    val expected = naiveSessions(events, gapSecs = 900L)
    for (bucketSecs <- Seq(3600L, 86400L)) {
      val got = AnalyticsOps.sessionizeBucketed(events, gapSecs = 900L,
        bucketSecs = bucketSecs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(got === expected, s"bucketSecs=$bucketSecs")
    }
  }

  test("sessionizeBucketed plan: no window partitioned by the bare user " +
    "— every event-sized window keys on (user, bucket)") {
    val events = Seq((1L, 1L, ts("2024-01-01 08:00:00")))
      .toDF("user_id", "event_id", "ts")
    val plan = AnalyticsOps.sessionizeBucketed(events, 1800L, 3600L)
      .queryExecution.optimizedPlan.toString
    // the only partitionBy over the bare user is the bucket-summary
    // window, whose input is the aggregated (user, bucket) frame —
    // assert the event-row windows (those ordered by __ts, __id)
    // always carry the bucket key
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    val eventWindows = windowLines.filter(_.contains("__id"))
    assert(eventWindows.nonEmpty)
    assert(eventWindows.forall(l => l.contains("__b")),
      s"event-sized window without bucket key:\n${eventWindows.mkString("\n")}")
  }

  test("transitionCounts: hand fixture with a cross-bucket boundary " +
    "pair, and ≡ the naive per-user lag on a skewed random log") {
    // hourly buckets: u1's view→click crosses the 09:00 boundary
    val events = Seq(
      (1L, 1L, ts("2024-01-01 08:40:00"), "view"),
      (1L, 2L, ts("2024-01-01 08:50:00"), "view"),
      (1L, 3L, ts("2024-01-01 09:10:00"), "click"),
      (2L, 4L, ts("2024-01-01 08:00:00"), "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = AnalyticsOps.transitionCounts(events, bucketSecs = 3600L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("view", "view") -> 1L, ("view", "click") -> 1L))

    val rnd = new scala.util.Random(11)
    val types = Vector("view", "click", "purchase", "refund")
    val base = ts("2024-01-01 00:00:00").getTime
    val big = (1 to 3000).map { i =>
      val u = if (rnd.nextInt(10) < 9) 1L else 2L + rnd.nextInt(4)
      (u, i.toLong, new Timestamp(base + rnd.nextInt(5 * 86400) * 1000L),
        types(rnd.nextInt(types.size)))
    }.toDF("user_id", "event_id", "ts", "event_type").repartition(5)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val naive = big.withColumn("p", lag("event_type", 1).over(w))
      .filter(col("p").isNotNull)
      .groupBy(col("p").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (bucketSecs <- Seq(3600L, 86400L)) {
      val got = AnalyticsOps.transitionCounts(big, bucketSecs = bucketSecs)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got === naive, s"bucketSecs=$bucketSecs")
    }
  }

  test("dailyAnomalyScores: hand-computed z from exact integer sums; " +
    "NULL on the first day (empty baseline) and on flat baselines") {
    val events =
      // type a: counts 4, 4, 4, 10 on consecutive days — first day has
      // no baseline, days 2-3 have FLAT baselines (z must be NULL, not
      // 0 and not huge), day 4's baseline [4,4,4] is flat too
      (1 to 4) ++ (1 to 4) ++ (1 to 4) ++ (1 to 10)
    val rows =
      events.take(4).map(i => ("a", ts("2024-01-01 10:00:00"))) ++
        events.take(4).map(_ => ("a", ts("2024-01-02 10:00:00"))) ++
        events.take(4).map(_ => ("a", ts("2024-01-03 10:00:00"))) ++
        (1 to 10).map(_ => ("a", ts("2024-01-04 10:00:00"))) ++
        // type b: 2 then 6 — baseline [2] has variance 0 → NULL;
        // then 4 with baseline [2,6]: mean 4, var 4, z = 0
        (1 to 2).map(_ => ("b", ts("2024-01-01 10:00:00"))) ++
        (1 to 6).map(_ => ("b", ts("2024-01-02 10:00:00"))) ++
        (1 to 4).map(_ => ("b", ts("2024-01-03 10:00:00")))
    val out = AnalyticsOps.dailyAnomalyScores(rows.toDF("event_type", "ts"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out(("a", "2024-01-01")) === ((4L, 0L, None, None)))
    assert(out(("a", "2024-01-02")) === ((4L, 1L, Some(4.0), None))) // flat
    assert(out(("a", "2024-01-03")) === ((4L, 2L, Some(4.0), None))) // flat
    assert(out(("a", "2024-01-04")) === ((10L, 3L, Some(4.0), None))) // flat baseline
    assert(out(("b", "2024-01-01")) === ((2L, 0L, None, None)))
    assert(out(("b", "2024-01-02")) === ((6L, 1L, Some(2.0), None))) // single-day flat
    // baseline [2, 6]: mean 4, var = (4+36)/2 − 16 = 4, z = (4−4)/2 = 0
    assert(out(("b", "2024-01-03")) === ((4L, 2L, Some(4.0), Some(0.0))))
  }

  test("dailyTrendSlopes: hand-computed slope on a linear ramp, zero " +
    "slope on a flat series, NULL on a single observed day") {
    // type a: counts 2, 4, 6 on consecutive days → slope exactly 2
    // type b: 5, 5 → slope 0 ; type c: one day → NULL
    val rows =
      (1 to 2).map(_ => ("a", ts("2024-01-01 10:00:00"))) ++
        (1 to 4).map(_ => ("a", ts("2024-01-02 10:00:00"))) ++
        (1 to 6).map(_ => ("a", ts("2024-01-03 10:00:00"))) ++
        (1 to 5).map(_ => ("b", ts("2024-01-01 10:00:00"))) ++
        (1 to 5).map(_ => ("b", ts("2024-01-02 10:00:00"))) ++
        (1 to 3).map(_ => ("c", ts("2024-01-01 10:00:00")))
    val out = AnalyticsOps.dailyTrendSlopes(rows.toDF("event_type", "ts"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out("a") === ((3L, 4.0, Some(2.0))))
    assert(out("b") === ((2L, 5.0, Some(0.0))))
    assert(out("c") === ((1L, 3.0, None)))
  }

  test("dailyCountCorrelation: perfectly co-moving series correlate at " +
    "exactly 1, anti-moving at -1, constant series report NULL, and " +
    "absent days fill as zeros in the dense grid") {
    // over 3 days: a = 1,2,3 ; b = 2,4,6 (r=1) ; c = 3,2,1 (r=-1 vs a)
    // d = 2,2 and ABSENT on day 3 → series 2,2,0 (not constant!)
    // e = 1,1,1 → constant → NULL against everything
    def rep(t: String, day: String, k: Int) =
      (1 to k).map(_ => (t, ts(s"2024-01-0$day 10:00:00")))
    val rows = rep("a", "1", 1) ++ rep("a", "2", 2) ++ rep("a", "3", 3) ++
      rep("b", "1", 2) ++ rep("b", "2", 4) ++ rep("b", "3", 6) ++
      rep("c", "1", 3) ++ rep("c", "2", 2) ++ rep("c", "3", 1) ++
      rep("d", "1", 2) ++ rep("d", "2", 2) ++
      rep("e", "1", 1) ++ rep("e", "2", 1) ++ rep("e", "3", 1)
    val out = AnalyticsOps.dailyCountCorrelation(rows.toDF("event_type", "ts"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("a", "b")) === ((3L, Some(1.0))))
    assert(out(("a", "c")) === ((3L, Some(-1.0))))
    // d's zero-filled day 3 makes it non-constant: 2,2,0 vs 1,2,3 has
    // r = -0.866025 (hand: n=3 sx=6 sy=4 sxy=6 sxx=14 syy=8)
    assert(out(("a", "d"))._2.isDefined)
    assert(math.abs(out(("a", "d"))._2.get - (-0.866025)) < 1e-6)
    // constant e: NULL against every partner
    assert(out(("a", "e"))._2.isEmpty && out(("b", "e"))._2.isEmpty)
    assert(out.size === 10, "all unordered pairs present")
  }

  test("rollingDailyAgg: missing days age out of the RANGE frame " +
    "instead of stretching it") {
    val events = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1.0),
      ("a", ts("2024-01-01 11:00:00"), 2.0),
      ("a", ts("2024-01-05 10:00:00"), 10.0),
      // Jan 10 is 9 days after Jan 1: the window must contain Jan 5
      // (5 days back) but NOT Jan 1
      ("a", ts("2024-01-10 10:00:00"), 100.0),
      ("b", ts("2024-01-01 10:00:00"), 7.0)).toDF("event_type", "ts", "value")
    val out = AnalyticsOps.rollingDailyAgg(events, windowDays = 7)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out === Map(
      ("a", "2024-01-01") -> ((2L, 3.0, 2L, 3.0)),
      ("a", "2024-01-05") -> ((1L, 10.0, 3L, 13.0)),
      ("a", "2024-01-10") -> ((1L, 100.0, 2L, 110.0)),
      ("b", "2024-01-01") -> ((1L, 7.0, 1L, 7.0))))
  }

  test("lagAutocorrelation: period-2 series hits acf=+1 at lag 2 and " +
    "-1 at lag 1; zero-fill uses the union calendar") {
    // group a alternates 1,3 daily events over Jan 1-8; group b anchors
    // the union calendar with one event every day, so a missing a-day
    // would be a genuine zero (none here — a is present all 8 days)
    val rows = (1 to 8).flatMap { day =>
      val d = f"2024-01-$day%02d"
      val aN = if (day % 2 == 1) 1 else 3
      Seq.fill(aN)(("a", ts(s"$d 10:00:00"))) :+ (("b", ts(s"$d 09:00:00")))
    }
    val out = AnalyticsOps.lagAutocorrelation(
      rows.toDF("event_type", "ts"), maxLag = 2)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    // lag1: 7 pairs of (1,3)/(3,1) alternating (odd count: 4 of one,
    // 3 of the other) -> r < 0 but not exactly -1; lag2: all pairs
    // equal -> exactly +1. b is constant -> NULL at every lag.
    assert(out(("a", 2)) === ((6L, Some(1.0))))
    assert(out(("a", 1))._1 === 7L)
    assert(out(("a", 1))._2.get < -0.9)
    assert(out(("b", 1)) === ((7L, None)))
    assert(out(("b", 2)) === ((6L, None)))
  }

  test("lagAutocorrelation: a group's day absent from its own events " +
    "but inside the union calendar counts as zero") {
    val rows = Seq(
      ("a", ts("2024-01-01 10:00:00")), // a: 1, 0, 1 over the 3-day calendar
      ("a", ts("2024-01-03 10:00:00")),
      ("b", ts("2024-01-01 09:00:00")),
      ("b", ts("2024-01-02 09:00:00")),
      ("b", ts("2024-01-03 09:00:00"))).toDF("event_type", "ts")
    val out = AnalyticsOps.lagAutocorrelation(rows, maxLag = 2)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    // a's series is 1,0,1: lag-1 pairs (1,0),(0,1) -> r = -1 exactly;
    // lag-2 pair (1,1) alone is constant -> NULL. Without zero-fill
    // lag 1 would see the single pair (1,1) and report NULL.
    assert(out(("a", 1)) === ((2L, Some(-1.0))))
    assert(out(("a", 2)) === ((1L, None)))
  }

  test("ewmaDaily: dyadic weights are exact, zero days decay, " +
    "pre-calendar history contributes nothing") {
    val rows =
      Seq.fill(2)(("a", ts("2024-01-01 10:00:00"))) ++
        Seq.fill(4)(("a", ts("2024-01-02 10:00:00"))) ++
        // a skips Jan 3 entirely; b anchors the calendar
        Seq("2024-01-01", "2024-01-02", "2024-01-03")
          .map(d => ("b", ts(s"$d 09:00:00")))
    val out = AnalyticsOps.ewmaDaily(rows.toDF("event_type", "ts"),
      windowDays = 16)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    // ewma(d1) = 2/2 = 1.0 (no earlier history: truncated sum, not a
    // warm-up special case); ewma(d2) = 4/2 + 2/4 = 2.5;
    // ewma(d3) = 0/2 + 4/4 + 2/8 = 1.25 -- the zero day is a real
    // observation, not a gap skip
    assert(out(("a", "2024-01-01")) === ((2L, 1.0)))
    assert(out(("a", "2024-01-02")) === ((4L, 2.5)))
    assert(out(("a", "2024-01-03")) === ((0L, 1.25)))
    assert(out(("b", "2024-01-03")) === ((1L, 0.875)))
  }

  test("benfordProfile: exact digit extraction, sub-1 values excluded, " +
    "dense 9-digit grid with zero rows, chi-square positive") {
    val df = Seq(
      ("a", 1.5), ("a", 19.0), ("a", 123.4), ("a", 2.0), ("a", 29.9),
      ("a", 0.5), // below 1: excluded, not digit 5
      ("b", 999.999)).toDF("g", "v")
    val out = AnalyticsOps.benfordProfile(df, "g", "v")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(5))))
      .toMap
    assert(out.size === 18) // 2 groups x dense 9 digits
    assert(out(("a", 1))._1 === 3L) // 1.5, 19, 123.4
    assert(out(("a", 1))._2 === 0.6)
    assert(out(("a", 2))._1 === 2L)
    assert(out(("a", 5))._1 === 0L) // 0.5 must NOT land here
    assert(out(("a", 5))._2 === 0.0)
    assert(out(("b", 9))._1 === 1L)
    // all of b's mass on digit 9 (p = 0.0458): chi2 = sum over digits
    // of (n-Np)^2/(Np) with N=1 -> large; and constant per group
    assert(out(("b", 9))._3 > 5.0)
    assert(out.filter(_._1._1 == "a").values.map(_._3).toSet.size === 1)
  }

  test("concentrationReport: closed-form Gini/HHI/top-share, equality " +
    "floors Gini at zero") {
    val skewed = (Seq("a", "b") ++ Seq.fill(2)("c")).toDF("src")
    val r = AnalyticsOps.concentrationReport(skewed, "src").collect()(0)
    assert(r.getAs[Long]("n_groups") === 3L)
    assert(r.getAs[Long]("total") === 4L)
    // counts ascending [1,1,2]: G = (2*(1+2+6) - 4*4) / (3*4) = 1/6
    assert(r.getAs[Double]("gini") === 0.166667)
    assert(r.getAs[Double]("hhi") === 0.375) // (1+1+4)/16
    assert(r.getAs[Double]("top_share") === 0.5)
    val even = Seq("a", "b", "c", "d").toDF("src")
    val e = AnalyticsOps.concentrationReport(even, "src").collect()(0)
    assert(e.getAs[Double]("gini") === 0.0)
    assert(e.getAs[Double]("hhi") === 0.25)
  }

  test("madOutlierReport: hand-computed median/MAD, the 3.5 modified-z " +
    "cutoff, mad=0 counts every off-median value, NULLs excluded") {
    // group a: values 1..9 plus one wild 1000 — med = 5.5, deviations
    // {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,994.5} -> mad = 2.5;
    // outlier iff |v-5.5|*0.6745 > 2.5*3.5 = 8.75 i.e. |v-5.5| > 12.97
    // -> only 1000
    val a = (1 to 9).map(v => ("a", Some(v.toDouble))) :+ (("a", Some(1000.0)))
    // group b: constant 7 except two strays -> med 7, mad 0: both
    // strays are outliers (infinite modified z), the 7s are not
    val b = Seq.fill(6)(("b", Some(7.0))) ++
      Seq(("b", Some(8.0)), ("b", Some(100.0)), ("b", None))
    val out = AnalyticsOps.madOutlierReport(
      (a ++ b).toDF("event_type", "value"), "event_type", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_outliers"),
          r.getAs[Double]("median"), r.getAs[Double]("mad")))).toMap
    assert(out("a") === ((10L, 1L, 5.5, 2.5)))
    assert(out("b") === ((8L, 2L, 7.0, 0.0))) // NULL row dropped
  }

  test("cusumAlarms: equals the classic recursive max(0, S+dev) on a " +
    "fixture that OPENS above the mean (the virtual-P0 case), alarms " +
    "on the integer test, zero-fills silent days") {
    // one group, daily counts [10, 10, 0, 0] over 4 days (days 3-4
    // have no rows at all: the dense grid must supply the zeros);
    // mean = 5 -> classic S = [5, 10, 5, 0]
    val ev = (1 to 10).map(i => ("a", ts("2024-01-01 08:00:00"))) ++
      (1 to 10).map(i => ("a", ts("2024-01-02 08:00:00"))) ++
      // a second group supplies the 4-day union calendar
      Seq(("b", ts("2024-01-01 01:00:00")), ("b", ts("2024-01-03 01:00:00")),
        ("b", ts("2024-01-04 01:00:00")))
    val out = AnalyticsOps.cusumAlarms(
      ev.toDF("event_type", "ts"), alarmMult = 1L)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("cusum"),
          r.getAs[Boolean]("alarm")))).toMap
    assert(out(("a", "2024-01-01")) === ((10L, 5.0, false)))
    assert(out(("a", "2024-01-02")) === ((10L, 10.0, true)))
    assert(out(("a", "2024-01-03")) === ((0L, 5.0, false)))
    assert(out(("a", "2024-01-04")) === ((0L, 0.0, false)))
    // alarmMult=1, T=20: alarm iff S_scaled > 20 i.e. S > 5 — day 2
    val alarmed = AnalyticsOps.cusumAlarms(
      ev.toDF("event_type", "ts"), alarmMult = 1L)
      .filter(col("alarm")).collect()
    assert(alarmed.map(r => (r.getString(0), r.getDate(1).toString)).toSet
      === Set(("a", "2024-01-02")))
    // brute-force cross-check of the identity on group b's series
    // [1,0,1,1], mean 3/4: recursive S_t = max(0, S_{t-1} + x_t - mu)
    val counts = Seq(1.0, 0.0, 1.0, 1.0)
    val mu = counts.sum / counts.length
    val classic = counts.scanLeft(0.0)((s, x) => math.max(0.0, s + x - mu)).tail
    val bRows = AnalyticsOps.cusumAlarms(ev.toDF("event_type", "ts"))
      .filter(col("event_type") === "b").orderBy("day")
      .collect().map(_.getAs[Double]("cusum")).toSeq
    assert(bRows === classic.map(s => math.round(s * 10000.0) / 10000.0))
  }

  test("cadenceReport: bucketed gap decomposition equals the naive " +
    "per-user consecutive-gap list; metronome flagged, bursty human " +
    "not, all-one-instant flagged with NULL cv, minEvents gates") {
    // bot: 30 events exactly 1h apart, crossing a day-bucket boundary
    val bot = (0 until 30).map(i =>
      (1L, i.toLong, Timestamp.from(java.time.Instant
        .parse("2024-01-01T10:00:00Z").plusSeconds(i * 3600L))))
    // human: 20 events with irregular gaps (1m..8h pattern)
    val gaps = Seq(60L, 7200L, 300L, 28800L, 90L, 3600L, 120L, 14400L,
      600L, 60L, 21600L, 30L, 1800L, 7200L, 45L, 900L, 28800L, 75L, 3600L)
    val humanTs = gaps.scanLeft(0L)(_ + _)
    val human = humanTs.zipWithIndex.map { case (off, i) =>
      (2L, 100L + i, Timestamp.from(java.time.Instant
        .parse("2024-01-02T00:00:00Z").plusSeconds(off))) }
    // degenerate: 15 events at ONE instant — sum of gaps 0, flagged
    val burst = (0 until 15).map(i =>
      (3L, 200L + i, Timestamp.from(java.time.Instant.parse("2024-01-03T00:00:00Z"))))
    // below minEvents: a perfect 5-event metronome must NOT appear
    val tiny = (0 until 5).map(i =>
      (4L, 300L + i, Timestamp.from(java.time.Instant
        .parse("2024-01-04T00:00:00Z").plusSeconds(i * 60L))))
    val df = (bot ++ human ++ burst ++ tiny).toDF("user_id", "event_id", "ts")
    val out = AnalyticsOps.cadenceReport(df, minEvents = 15L, maxCv = 0.1)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("mean_gap_s"),
          Option(r.getAs[Any]("cv"))))).toMap
    assert(out.keySet === Set(1L, 3L))
    assert(out(1L)._1 === 30L)
    assert(out(1L)._2 === 3600.0)
    assert(out(1L)._3 === Some(0.0)) // perfect cadence
    assert(out(3L)._3 === None)      // sg = 0 -> cv undefined, still flagged
    // decomposition equals the naive gap list: recompute the human's
    // cv directly and compare against a no-filter run
    val all = AnalyticsOps.cadenceReport(df, minEvents = 2L, maxCv = 1e9)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("cv")).toMap
    val g = gaps.map(_ * 1000000L)
    val n = g.length.toLong
    val sg = g.map(BigInt(_)).sum
    val sgg = g.map(x => BigInt(x) * BigInt(x)).sum
    val cv = math.sqrt((BigInt(n) * sgg - sg * sg).toDouble) / sg.toDouble
    assert(all(2L) === math.round(cv * 1e6) / 1e6)
  }

  test("robustTrend: monotone series gives the exact Sen slope and " +
    "maximal S; constant series gives zero slope and NULL z (zero " +
    "variance); tie-corrected z matches a JVM brute force") {
    // group a: counts 1,2,3,4 on four consecutive days — slope 1,
    // S = 6 (all pairs rising)
    val a = (1 to 4).flatMap(dy => (1 to dy).map(_ =>
      ("a", ts(s"2024-01-0$dy 08:00:00"))))
    // group b: constant 2 per day — every pair ties
    val b = (1 to 4).flatMap(dy => (1 to 2).map(_ =>
      ("b", ts(s"2024-01-0$dy 09:00:00"))))
    val out = AnalyticsOps.robustTrend((a ++ b).toDF("event_type", "ts"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_days"), r.getAs[Double]("sen_slope"),
          r.getAs[Long]("mk_s"), Option(r.getAs[Any]("mk_z"))))).toMap
    assert(out("a")._1 === 4L)
    assert(out("a")._2 === 1.0)
    assert(out("a")._3 === 6L)
    // a has no ties: Var = 4*3*13/18 = 26/3; z = 5/sqrt(26/3)
    val za = BigDecimal(5.0 / math.sqrt(26.0 / 3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a")._4 === Some(za))
    assert(out("b")._2 === 0.0)
    assert(out("b")._3 === 0L)
    // all four y equal: tcorr = 4*3*13 = full term -> Var = 0 -> NULL
    assert(out("b")._4 === None)
  }

  test("q195 linear attribution conserves credit: the per-type credits " +
    "plus the 'none' row sum EXACTLY to the purchase count") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q195_linear_attribution")(spark, d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val purchases = Tables.events(spark, d)
      .filter(col("event_type") === "purchase").count()
    // each attributed purchase distributes exactly 1.0 across its
    // touches; each unattributed purchase contributes 1.0 to 'none'
    // each per-type credit is rounded to 4 decimals, so the sum can
    // drift by up to #rows * 5e-5 from the exact purchase count
    assert(math.abs(out.values.sum - purchases.toDouble) < 5e-4 * out.size,
      s"credit ${out.values.sum} must equal $purchases purchases: $out")
    assert(out.contains("none"))
  }

  test("rendezvousShard: growing n -> n+1 moves keys ONLY to the new " +
    "shard, at ~1/(n+1) rate; assignment is deterministic") {
    import graft.operators.LayoutOps.rendezvousShard
    val keys = (1L to 8000L).toDF("k")
      .select(col("k"), rendezvousShard(col("k"), 8).as("s8"),
        rendezvousShard(col("k"), 9).as("s9"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val moved = keys.filter(t => t._2 != t._3)
    assert(moved.forall(_._3 == 8),
      "every moved key must land on the ADDED shard — the rendezvous monotonicity property")
    val frac = moved.length.toDouble / keys.length
    assert(frac > 0.08 && frac < 0.15, s"expected ~1/9 moved, got $frac")
    // balance: each of the 8 shards gets roughly 1/8
    val hist = keys.groupBy(_._2).view.mapValues(_.size).toMap
    assert(hist.size === 8)
    assert(hist.values.forall(c => c > 800 && c < 1200), s"imbalanced: $hist")
  }

  test("bootstrapCiMean: replicate means and CI bounds equal a full " +
    "JVM recomputation of the deterministic Poisson draw; CI brackets " +
    "the point mean; layout-invariant") {
    val vals = (1 to 200).map(i => ("a", i.toLong, (i % 17).toDouble + 0.25))
    val df = vals.toDF("event_type", "event_id", "value")
    val out = AnalyticsOps.bootstrapCiMean(
      df, "event_type", "event_id", "value", reps = 16, salt = "boot")
    val r = out.collect()(0)
    val mean = r.getAs[Double]("mean")
    val lo = r.getAs[Double]("ci_lo"); val hi = r.getAs[Double]("ci_hi")
    assert(r.getAs[Long]("n_rows") === 200L)
    assert(lo <= mean && mean <= hi, s"CI [$lo,$hi] must bracket $mean")
    // full JVM recomputation: same md5 draw, thresholds, decimal
    // quantization, rounding, and percentile interpolation
    val th = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L)
    val md = java.security.MessageDigest.getInstance("MD5")
    // one md5 per 4-replicate block, 8-hex-char slice per replicate
    def weight(id: Long, rep: Int): Int = {
      val hex = md.digest(s"$id|${rep / 4}|boot".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = java.lang.Long.parseLong(
        hex.substring((rep % 4) * 8, (rep % 4) * 8 + 8), 16)
      val i = th.indexWhere(u < _)
      if (i < 0) 8 else i
    }
    val means = (0 until 16).flatMap { rep =>
      val ws = vals.map { case (_, id, v) =>
        (weight(id, rep), BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }
      val sw = ws.map(_._1).sum
      if (sw == 0) None
      else {
        val swx = ws.map { case (w, v) => v * w }.sum
        Some(BigDecimal(swx.toDouble / sw)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.sorted
    assert(r.getAs[Long]("n_reps") === means.length.toLong)
    def pct(p: Double): Double = {
      val h = p * (means.length - 1)
      val i = h.toInt
      val v = if (i + 1 < means.length)
        means(i) + (means(i + 1) - means(i)) * (h - i)
      else means(i)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(lo === pct(0.025) && hi === pct(0.975))
    // layout invariance: a different partitioning changes nothing
    val re = AnalyticsOps.bootstrapCiMean(df.repartition(7),
      "event_type", "event_id", "value", reps = 16, salt = "boot").collect()(0)
    assert(re.getAs[Double]("ci_lo") === lo && re.getAs[Double]("ci_hi") === hi)
  }

  test("rankSumTest: hand-computed U with and without ties; midranks " +
    "are exact halves; one-vs-rest sides sum to n*m") {
    // A = {1,2,3}, B = {4,5,6}: complete separation
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 4.0), ("B", 5.0), ("B", 6.0)).toDF("g", "v")
    val out = AnalyticsOps.rankSumTest(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("u"), r.getAs[Double]("rank_biserial"))).toMap
    // R_A = 1+2+3 = 6, U_A = 6 - 3*4/2 = 0; U_B = 9
    assert(out("A")._1 === 0.0 && out("B")._1 === 9.0)
    assert(out("A")._2 === -1.0 && out("B")._2 === 1.0)

    // ties: A = {1,1}, B = {1,2} -> midrank(1) = 2, rank(2) = 4
    val t = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 2.0))
      .toDF("g", "v")
    val tied = AnalyticsOps.rankSumTest(t, "g", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("u")).toMap
    // R_A = 4, U_A = 4 - 3 = 1; R_B = 6, U_B = 6 - 3 = 3
    assert(tied("A") === 1.0 && tied("B") === 3.0)
  }

  test("kaplanMeier: censoring keeps at-risk counts but not deaths; " +
    "survival is the running product of (1 - d/n)") {
    val events = Seq(
      // u1: one event Jan 1 -> span 0, churned
      (1L, 10L, "view", ts("2024-01-01 08:00:00")),
      // u2: Jan 1 .. Jan 5 -> span 4, churned
      (2L, 11L, "view", ts("2024-01-01 09:00:00")),
      (2L, 12L, "view", ts("2024-01-05 09:00:00")),
      // u3: Jan 9 .. Jan 19 -> span 10, last event within 7 days of
      // log end (Jan 20) -> censored
      (3L, 13L, "view", ts("2024-01-09 09:00:00")),
      (3L, 14L, "view", ts("2024-01-19 09:00:00")),
      // u4 pins the log end
      (4L, 15L, "view", ts("2024-01-20 09:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = AnalyticsOps.kaplanMeier(events)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getAs[Double]("survival"))).toMap
    // u4 is span 0 censored; t=0: n=4, d=1 -> S = 3/4
    assert(out(0L) === ((4L, 1L, 0.75)))
    // t=4: n=2 (u4 left at 0), d=1 -> S = 3/4 * 1/2 = 0.375
    assert(out(4L) === ((2L, 1L, 0.375)))
    // t=10: censored only -> survival unchanged
    assert(out(10L) === ((1L, 0L, 0.375)))
  }

  test("brownTrendDaily: equals the directly-computed truncated " +
    "double convolution, and tracks a linear ramp's slope") {
    val w = 4
    val days = (0 until 10)
    val counts = days.map(t => 3 + 2 * t) // linear ramp, slope 2
    val events = days.flatMap(t => (0 until counts(t)).map(i =>
      (t.toLong * 1000 + i, "a", ts(f"2024-01-${t + 1}%02d 08:00:00"))))
      .toDF("event_id", "event_type", "ts")
    val out = AnalyticsOps.brownTrendDaily(events, windowDays = w,
      horizonDays = 1)
      .collect().map(r => r.getDate(1).toString ->
        (r.getAs[Double]("level"), r.getAs[Double]("trend"))).toMap
    // brute-force truncated EWMAs with zero prior
    def sPrime(t: Int): Double =
      (0 until w).map(j => (if (t - j >= 0) counts(t - j) else 0).toDouble *
        (1L << (w - 1 - j))).sum / (1L << w).toDouble
    def sDouble(t: Int): Double =
      (0 until w).map(j => (if (t - j >= 0) sPrime(t - j) else 0.0) *
        (1L << (w - 1 - j))).sum / (1L << w).toDouble
    for (t <- days) {
      val (lvl, trd) = out(f"2024-01-${t + 1}%02d")
      val el = 2 * sPrime(t) - sDouble(t)
      val et = sPrime(t) - sDouble(t)
      assert(math.abs(lvl - el) < 1e-6, s"level day $t")
      assert(math.abs(trd - et) < 1e-6, s"trend day $t")
    }
    // deep in the ramp the trend estimate approaches the true slope
    // (biased low by the truncated kernel's (2^W-1)/2^W total mass)
    assert(math.abs(out("2024-01-10")._2 - 2.0) < 0.5)
  }

  test("gapFillDaily: interior gaps interpolate linearly, edges stay " +
    "NULL and unflagged") {
    val events = Seq(
      ("A", 2.0, ts("2024-01-01 08:00:00")),
      ("A", 5.0, ts("2024-01-04 08:00:00")),
      ("B", 7.0, ts("2024-01-02 08:00:00")),
      ("B", 9.0, ts("2024-01-03 08:00:00")))
      .toDF("event_type", "value", "ts")
    val out = AnalyticsOps.gapFillDaily(events)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (Option(r.getAs[Double]("filled")), r.getBoolean(4))).toMap
    assert(out(("A", "2024-01-02")) === ((Some(3.0), true)))
    assert(out(("A", "2024-01-03")) === ((Some(4.0), true)))
    assert(out(("A", "2024-01-01")) === ((Some(2.0), false)))
    // B has no observation on Jan 1 / Jan 4 and no neighbor on one
    // side -> NULL, not interpolated
    assert(out(("B", "2024-01-01")) === ((None, false)))
    assert(out(("B", "2024-01-04")) === ((None, false)))
  }

  test("psiDrift: identical halves give PSI exactly 0; a shifted " +
    "current window gives PSI > 0") {
    // 4 days, split lands after day 2: ref = {d1,d2}, cur = {d3,d4}
    def mk(rows: Seq[(String, Double, String)]) =
      rows.map { case (g, v, d) => (g, v, ts(s"$d 08:00:00")) }
        .toDF("event_type", "value", "ts")
    val same = mk((1 to 20).flatMap(i => Seq(
      ("A", i.toDouble, "2024-01-01"), ("A", i.toDouble, "2024-01-03"))))
    val psi0 = AnalyticsOps.psiDrift(same).collect()(0).getAs[Double]("psi")
    assert(psi0 === 0.0)
    val shifted = mk((1 to 20).flatMap(i => Seq(
      ("A", i.toDouble, "2024-01-01"), ("A", i + 15.0, "2024-01-03"))))
    val psi1 = AnalyticsOps.psiDrift(shifted).collect()(0).getAs[Double]("psi")
    assert(psi1 > 0.5)
  }

  test("rankingMetrics: perfect separation gives AUC=1/KS=1; ties count " +
    "half in AUC and the KS argmax reports the smallest threshold") {
    val sep = Seq(("A", 3.0), ("A", 4.0), ("B", 1.0), ("B", 2.0))
      .toDF("event_type", "value")
    val outSep = AnalyticsOps.rankingMetrics(sep, "event_type", "value")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("auc"), r.getAs[Double]("ks"),
          r.getAs[Double]("ks_threshold"))).toMap
    assert(outSep("A") === ((1.0, 1.0, 2.0))) // D peaks once B is exhausted
    assert(outSep("B") === ((0.0, 1.0, 2.0)))
    // A={1,2}, B={1,3}: U_A = 0.5 (tie) + 1 = 1.5 -> AUC 0.375;
    // F_A(2)=1 vs F_B(2)=0.5 -> KS 0.5 at threshold 2
    val tied = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 3.0))
      .toDF("event_type", "value")
    val outT = AnalyticsOps.rankingMetrics(tied, "event_type", "value")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("auc"), r.getAs[Double]("ks"),
          r.getAs[Double]("ks_threshold"))).toMap
    assert(outT("A") === ((0.375, 0.5, 2.0)))
    assert(outT("B") === ((0.625, 0.5, 2.0)))
  }

  test("leadLagCorrelation: a series shifted by one day correlates " +
    "perfectly at exactly that lag") {
    // A carries count i on day i (1..6); B carries count i on day i+1
    val events = (1 to 6).flatMap { i =>
      (1 to i).flatMap(j => Seq(
        ("A", ts(f"2024-01-0$i 08:00:00")),
        ("B", ts(if (i + 1 <= 9) f"2024-01-0${i + 1} 08:00:00"
                 else f"2024-01-${i + 1} 08:00:00"))))
    }.toDF("event_type", "ts")
    val out = AnalyticsOps.leadLagCorrelation(events)
      .collect().map(r => r.getInt(2) ->
        (r.getLong(3), Option(r.getAs[Any]("pearson_r")))).toMap
    assert(out.size === 7)
    assert(out(1) === ((6L, Some(1.0)))) // b_{t+1} = a_t exactly
    assert(out(-1)._2 !== Some(1.0))
  }

  test("changepointDetection: a clean level shift splits at the " +
    "boundary with the full-SSE gain") {
    // counts 2,2,2 then 8,8,8: gain = total SSE = 204 - 900/6 = 54
    val events = (1 to 6).flatMap { d =>
      val k = if (d <= 3) 2 else 8
      (1 to k).map(j => ("A", ts(f"2024-01-0$d 08:00:00")))
    }.toDF("event_type", "ts")
    val r = AnalyticsOps.changepointDetection(events).collect()(0)
    assert(r.getDate(1).toString === "2024-01-03")
    assert(r.getLong(2) === 6L)
    assert(r.getAs[Double]("mean_before") === 2.0)
    assert(r.getAs[Double]("mean_after") === 8.0)
    assert(r.getAs[Double]("gain") === 54.0)
  }

  test("markovNextEventAccuracy: calendar-half split, boundary pairs " +
    "cross buckets, unseen states predict NULL and score as misses") {
    val events = Seq(
      // u1 day 1-2 (train): A->B twice within-day, B->A at the boundary
      (1L, "A", ts("2024-01-01 10:00:00"), 1L),
      (1L, "B", ts("2024-01-01 11:00:00"), 2L),
      (1L, "A", ts("2024-01-02 10:00:00"), 3L),
      (1L, "B", ts("2024-01-02 11:00:00"), 4L),
      // u1 day 3-4 (eval): A->B (hit), A->C (miss), two B->A boundaries
      (1L, "A", ts("2024-01-03 10:00:00"), 5L),
      (1L, "B", ts("2024-01-03 11:00:00"), 6L),
      (1L, "A", ts("2024-01-04 10:00:00"), 7L),
      (1L, "C", ts("2024-01-04 11:00:00"), 8L),
      // u2 eval-only state X: unseen in training
      (2L, "X", ts("2024-01-03 10:00:00"), 9L),
      (2L, "Y", ts("2024-01-03 11:00:00"), 10L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = AnalyticsOps.markovNextEventAccuracy(events)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getString(2)), r.getLong(3), r.getLong(4),
          r.getAs[Long]("accuracy_ppm"))).toMap
    assert(out("A") === ((2L, Some("B"), 2L, 1L, 500000L)))
    assert(out("B") === ((1L, Some("A"), 2L, 2L, 1000000L)))
    assert(out("X") === ((0L, None, 1L, 0L, 0L)))
    assert(!out.contains("C") && !out.contains("Y"))
  }

  test("nelsonAalen and logRankOneVsRest: hand-computed hazards, " +
    "expectations and hypergeometric variances on a two-cohort fixture") {
    // cohort A: churns at t=0 (u2) and t=2 (u1), censored at t=30 (u3,
    // last event at the log end); cohort B: churns at t=0, t=2
    val events = Seq(
      (1L, "A", ts("2024-01-01 08:00:00"), 1L),
      (1L, "A", ts("2024-01-03 08:00:00"), 2L),
      (2L, "A", ts("2024-01-01 09:00:00"), 3L),
      (3L, "A", ts("2024-01-01 10:00:00"), 4L),
      (3L, "A", ts("2024-01-31 10:00:00"), 5L),
      (4L, "B", ts("2024-01-02 08:00:00"), 6L),
      (4L, "B", ts("2024-01-04 08:00:00"), 7L),
      (5L, "B", ts("2024-01-02 09:00:00"), 8L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val na = AnalyticsOps.nelsonAalen(events)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getAs[Double]("cum_hazard"))).toMap
    // A: H(0) = 1/3, H(2) = 1/3 + 1/2, censor row carries H unchanged
    assert(na(("A", 0L)) === ((3L, 1L, 0.333333)))
    assert(na(("A", 2L)) === ((2L, 1L, 0.833333)))
    assert(na(("A", 30L)) === ((1L, 0L, 0.833333)))
    assert(na(("B", 0L)) === ((2L, 1L, 0.5)))
    assert(na(("B", 2L)) === ((1L, 1L, 1.5)))
    val lr = AnalyticsOps.logRankOneVsRest(events)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("expected"),
          r.getAs[Double]("logrank_z"))).toMap
    // E_A = 3*2/5 + 2*2/3 = 2.5333; V = 0.36 + 2/9 = 0.582222 both
    assert(lr("A") === ((3L, 2L, 2.5333, -0.699)))
    assert(lr("B") === ((2L, 2L, 1.4667, 0.699)))
  }

  test("fleissKappa: hand-computed on the 3-item 2-rater fixture; " +
    "perfect agreement gives kappa 1") {
    // a: X,X  b: X,Y  c: Y,Y -> ssq=10, num1=4, d1=6, cX=cY=3, s2=18,
    // d2=36: P=2/3, Pe=1/2, kappa = (1/6)/(1/2) = 1/3
    val mixed = Seq(("a", 1, "X"), ("a", 2, "X"), ("b", 1, "X"),
      ("b", 2, "Y"), ("c", 1, "Y"), ("c", 2, "Y"))
      .toDF("item", "rater", "label")
    val r = AnalyticsOps.fleissKappa(mixed, "item", "rater", "label", 2)
      .collect()(0)
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 2L)
    assert(r.getAs[Double]("p_bar") === 0.666667)
    assert(r.getAs[Double]("p_e") === 0.5)
    assert(r.getAs[Double]("fleiss_kappa") === 0.333333)
    val perfect = Seq(("a", 1, "X"), ("a", 2, "X"), ("b", 1, "Y"),
      ("b", 2, "Y")).toDF("item", "rater", "label")
    assert(AnalyticsOps.fleissKappa(perfect, "item", "rater", "label", 2)
      .collect()(0).getAs[Double]("fleiss_kappa") === 1.0)
  }

  test("welchTTest: hand-computed t and Welch-Satterthwaite df on " +
    "equal-variance halves") {
    // A={1,2,3} vs rest B={4,5,6}: means 2 and 5, s^2 = 1 both sides,
    // se = 1/3 + 1/3, t = -3/sqrt(2/3), df = (2/3)^2/(1/9) = 4; the
    // expectations below REPLAY the operator's unrounded closing tree
    // op-for-op (every op IEEE correctly rounded -> bit-equal)
    val df = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 4.0), ("B", 5.0), ("B", 6.0)).toDF("event_type", "value")
    val out = AnalyticsOps.welchTTest(df, "event_type", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("mean"), r.getAs[Double]("t"),
          r.getAs[Double]("df"))).toMap
    val se1 = 1.0 / 3.0
    val se = se1 + se1
    val tExp = -3.0 / math.sqrt(se)
    val dfExp = se * se / (se1 * se1 / 2.0 + se1 * se1 / 2.0)
    assert(out("A") === ((3L, 2.0, tExp, dfExp)))
    assert(out("B") === ((3L, 5.0, -tExp, dfExp)))
  }

  test("removalEffectAttribution: only strictly-pre-conversion touches " +
    "count, non-converters are excluded, shares sum to 1") {
    val events = Seq(
      (1L, "view", ts("2024-01-01 01:00:00")),
      (1L, "click", ts("2024-01-01 02:00:00")),
      (1L, "purchase", ts("2024-01-01 03:00:00")),
      (2L, "view", ts("2024-01-01 01:00:00")),
      (2L, "purchase", ts("2024-01-01 02:00:00")),
      (2L, "click", ts("2024-01-01 03:00:00")), // post-conversion: ignored
      (3L, "click", ts("2024-01-01 01:00:00")),
      (3L, "purchase", ts("2024-01-01 02:00:00")),
      (4L, "view", ts("2024-01-01 01:00:00"))) // never converts
      .toDF("user_id", "event_type", "ts")
    val out = AnalyticsOps.removalEffectAttribution(events)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("removal_effect"),
          r.getAs[Double]("attribution_share"))).toMap
    assert(out("view") === ((2L, 0.666667, 0.5)))
    assert(out("click") === ((2L, 0.666667, 0.5)))
  }

  test("gainsTable: one-row bins give lift=N/P at a pure top bin; a " +
    "tied run lands atomically in the bin of its last position") {
    val distinct10 = (1 to 10).map(i =>
      (i.toDouble, i >= 9)).toDF("value", "pos")
    val out = AnalyticsOps.gainsTable(distinct10, "value", col("pos"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getAs[Double]("gain"), r.getAs[Double]("lift"))).toMap
    assert(out(1) === ((1L, 1L, 1L, 1L, 0.5, 5.0))) // score 10 first
    assert(out(2) === ((1L, 1L, 2L, 2L, 1.0, 5.0)))
    assert(out(10) === ((1L, 0L, 10L, 2L, 1.0, 1.0)))
    // scores {9, 5,5,5}: the 5-run's last position is 4 -> whole run
    // in bin 2 of 2; bin 1 holds only the 9
    val tied = Seq((9.0, true), (5.0, false), (5.0, true), (5.0, false))
      .toDF("value", "pos")
    val outT = AnalyticsOps.gainsTable(tied, "value", col("pos"), nBins = 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4),
          r.getAs[Double]("gain"), r.getAs[Double]("lift"))).toMap
    assert(outT(1) === ((1L, 1L, 1L, 0.5, 2.0)))
    assert(outT(2) === ((3L, 1L, 2L, 1.0, 1.0)))
  }

  test("olsTwoFeature: exact plane recovered, collinear features NULL, " +
    "NULL rows excluded") {
    import spark.implicits._
    // y = 2 + 3*x1 - x2 exactly, on a non-degenerate design
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (2L, 3L), (5L, 1L),
      (3L, 7L), (4L, 2L))
    val df = pts.map { case (x1, x2) => ("g", 2 + 3 * x1 - x2, x1, x2) }
      .toDF("g", "y", "x1", "x2")
      .unionByName(Seq(("g", Option.empty[Long], Option(1L), Option(1L)))
        .toDF("g", "y", "x1", "x2"))
    val out = AnalyticsOps.olsTwoFeature(df, "g", "y", "x1", "x2").collect()(0)
    assert(out.getAs[Long]("n") === 7L, "NULL-y row must be excluded")
    assert(out.getAs[Double]("b0") === 2.0)
    assert(out.getAs[Double]("b1") === 3.0)
    assert(out.getAs[Double]("b2") === -1.0)
    // x2 = 2*x1: singular normal equations -> NULL, not garbage
    val sing = pts.map { case (x1, _) => ("s", x1 + 1, x1, 2 * x1) }
      .toDF("g", "y", "x1", "x2")
    val so = AnalyticsOps.olsTwoFeature(sing, "g", "y", "x1", "x2").collect()(0)
    assert(so.isNullAt(so.fieldIndex("b0")) && so.isNullAt(so.fieldIndex("b1"))
      && so.isNullAt(so.fieldIndex("b2")))
  }

  test("itemRecHoldout: already-bought candidates are excluded, only " +
    "both-sides users are evaluable, hit and candidate counts are " +
    "hand-checked") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // train half (<= Jan 5): u1{A,B} u2{A,B} u3{A} u5{A}
    // test half  (>  Jan 5): u1{C} u2{D} u3{B} u4{A}
    val (a, b, c0, d0) = (101L, 102L, 103L, 104L)
    val rows = Seq(
      (1L, a, t(1)), (1L, b, t(2)), (2L, a, t(1)), (2L, b, t(3)),
      (3L, a, t(4)), (5L, a, t(5)),
      (1L, c0, t(9)), (2L, d0, t(8)), (3L, b, t(7)), (4L, a, t(9)))
      .toDF("user_id", "item", "ts")
    val r = AnalyticsOps.itemRecHoldout(rows, "user_id", "item", "ts",
      k = 5, maxBasket = 10).collect()(0)
    // model: A<->B only; u1/u2 trained both -> empty candidates; u3's
    // candidate {B} hits its holdout; u4 test-only, u5 train-only
    assert(r.getAs[Long]("n_eval_users") === 3L)
    assert(r.getAs[Long]("n_hit_users") === 1L)
    assert(r.getAs[Double]("hit_rate") === 1.0 / 3.0)
    assert(r.getAs[Double]("avg_candidates") === 1.0 / 3.0)
  }

  test("itemRecHoldout: internal caches unpersist on success AND when " +
    "the computation throws mid-flight") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // u1 and u2 appear in BOTH halves so the eval set is nonempty
    val rows = Seq((1L, 101L, t(1)), (1L, 102L, t(1)), (2L, 101L, t(2)),
      (2L, 102L, t(2)), (1L, 101L, t(8)), (2L, 102L, t(9)))
      .toDF("user_id", "item", "ts")
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted()
    AnalyticsOps.itemRecHoldout(rows, "user_id", "item", "ts",
      k = 3, maxBasket = 10).collect()
    // only localCheckpoint blocks may remain (train/test/ui/kept/the
    // 1-row result/the inner itemSimilarity model — all weak-ref
    // ContextCleaner-managed, released at the next GC; the r13 race
    // fix made the multi-consumer frames EAGER checkpoints); the
    // explicit lazy persists (rows, evalUsers) must be gone
    assert((persisted() -- before).size <= 6,
      "success path leaked internal caches")
    val base2 = persisted()
    // splitFrac far past Int range: the ANSI cast inside the split
    // aggregate throws during execution — i.e. AFTER the persists
    intercept[Throwable] {
      AnalyticsOps.itemRecHoldout(rows, "user_id", "item", "ts",
        k = 3, maxBasket = 10, splitFrac = 1e18).collect()
    }
    assert((persisted() -- base2).isEmpty,
      "throw path leaked internal caches")
    // cold-start degenerate: train and test users disjoint -> zero
    // evaluable users must report NULL rates, not an ANSI 0/0 crash
    val disjoint = Seq((1L, 101L, t(1)), (1L, 102L, t(1)),
      (2L, 101L, t(9))).toDF("user_id", "item", "ts")
    val r0 = AnalyticsOps.itemRecHoldout(disjoint, "user_id", "item",
      "ts", k = 3, maxBasket = 10).collect()(0)
    assert(r0.getAs[Long]("n_eval_users") === 0L)
    assert(r0.isNullAt(r0.fieldIndex("hit_rate")))
    assert(r0.isNullAt(r0.fieldIndex("avg_candidates")))
  }

  test("didReport: identical pre/post activity per user closes the " +
    "deltas, the DiD, and both variances to exactly zero") {
    import spark.implicits._
    import java.sql.Timestamp
    val events = (1L to 8L).flatMap { u =>
      val k = (u % 4 + 1).toInt
      Seq.fill(k)((u, Timestamp.valueOf("2024-01-01 10:00:00"))) ++
        Seq.fill(k)((u, Timestamp.valueOf("2024-01-10 10:00:00")))
    }.toDF("user_id", "ts")
    val r = AnalyticsOps.didReport(events).collect()(0)
    assert(r.getAs[Double]("pre_control") === r.getAs[Double]("post_control"))
    assert(r.getAs[Double]("pre_treatment") === r.getAs[Double]("post_treatment"))
    assert(r.getAs[Double]("did") === 0.0)
    assert(r.getAs[Double]("se") === 0.0)
    assert(r.isNullAt(r.fieldIndex("t_stat")), "0/0 must be NULL, not NaN")
  }

  test("frequentTriples: supported triples found, an infrequent " +
    "closing pair prunes correctly, duplicate basket rows collapse") {
    import spark.implicits._
    val b = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 1L), // dup row
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 1L), (4L, 2L), (4L, 4L),
      (5L, 1L), (5L, 3L), (5L, 4L)) // (1,3,4) support 1: out
      .toDF("basket", "item")
    val out = AnalyticsOps.frequentTriples(b, "basket", "item", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    assert(out === Map((1L, 2L, 3L) -> 2L, (1L, 2L, 4L) -> 2L))
  }

  test("spearman: exactly 1 on any monotone map, exactly -1 reversed, " +
    "ties through midranks match scipy's value on a hand fixture") {
    import spark.implicits._
    // monotone nonlinear: rho must be exactly 1 where Pearson is not
    val mono = (1 to 20).map(i => (i.toDouble, (i * i).toDouble))
      .toDF("a", "b")
    assert(AnalyticsOps.spearman(mono, "a", "b")
      .collect()(0).getAs[Double]("spearman_rho") === 1.0)
    val anti = (1 to 20).map(i => (i.toDouble, -(i * i).toDouble))
      .toDF("a", "b")
    assert(AnalyticsOps.spearman(anti, "a", "b")
      .collect()(0).getAs[Double]("spearman_rho") === -1.0)
    // tie fixture: x = 1,1,2,3  y = 10,20,20,30; midranks
    // rx = (1.5,1.5,3,4), ry = (1,2.5,2.5,4) -> rho = 3.75/4.5
    val ties = Seq((1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0))
      .toDF("a", "b")
    assert(AnalyticsOps.spearman(ties, "a", "b")
      .collect()(0).getAs[Double]("spearman_rho") === 0.833333)
  }

  test("kendallTau: +-1 on monotone maps, and the textbook tau-b on " +
    "a tied fixture") {
    import spark.implicits._
    val mono = (1 to 15).map(i => (i.toDouble, (i * i * i).toDouble))
      .toDF("a", "b")
    assert(AnalyticsOps.kendallTau(mono, "a", "b")
      .collect()(0).getAs[Double]("kendall_tau_b") === 1.0)
    // x = 1,1,2,3  y = 10,20,20,30: P = 4 concordant, Q = 0;
    // n0*2 = 12, tx2 = 2, ty2 = 2 -> tau = 8/sqrt(100) = 0.8
    val ties = Seq((1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0))
      .toDF("a", "b")
    assert(AnalyticsOps.kendallTau(ties, "a", "b")
      .collect()(0).getAs[Double]("kendall_tau_b") === 0.8)
  }

  test("medianCI: textbook order-statistic bounds on 1..25 (ranks " +
    "7/13/19), ties resolved through the histogram") {
    import spark.implicits._
    val df = (1 to 25).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = AnalyticsOps.medianCI(df, "grp", "v").collect()(0)
    // n=25: z*sqrt(n)=9.8 -> lo=floor(7.6)=7, hi=ceil(17.4)+1=19
    assert(r.getAs[Long]("n") === 25L)
    assert(r.getAs[Double]("median") === 13.0)
    assert(r.getAs[Double]("ci_low") === 7.0)
    assert(r.getAs[Double]("ci_high") === 19.0)
    // heavy ties: 10 copies of 5 and one 9 -> everything lands on 5
    val ties = (Seq.fill(10)(5.0) :+ 9.0).map(("t", _)).toDF("grp", "v")
    val rt = AnalyticsOps.medianCI(ties, "grp", "v").collect()(0)
    assert(rt.getAs[Double]("median") === 5.0)
    assert(rt.getAs[Double]("ci_low") === 5.0)
  }

  test("emdMatrix: W1 equals the textbook mean shift for point " +
    "masses, and 0 for identical distributions") {
    import spark.implicits._
    // point masses at 1 and 4 -> W1 = 3; identical groups -> 0
    val df = (Seq(1L, 1L).map(("a", _)) ++ Seq(4L, 4L).map(("b", _)) ++
      Seq(1L, 1L).map(("c", _))).toDF("g", "v")
    val out = AnalyticsOps.emdMatrix(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("emd")).toMap
    assert(out(("a", "b")) === 3.0)
    assert(out(("a", "c")) === 0.0)
    assert(out(("b", "c")) === 3.0)
  }

  test("seasonalityStrength: a perfectly weekly series scores exactly " +
    "1, a flat series has zero total SS and NULL strength") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // counts depend ONLY on weekday: dow d gets (d % 3) + 1 events,
    // repeated for 3 weeks -> SS_within = 0
    val weekly = (1 to 21).flatMap { d =>
      Seq.fill((d % 7 % 3) + 1)(("w", t(d)))
    }
    val flat = (1 to 21).map(d => ("f", t(d)))
    val out = AnalyticsOps.seasonalityStrength(
      (weekly ++ flat).toDF("event_type", "ts"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("ss_within"),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(out("w") === ((0.0, Some(1.0))))
    assert(out("f")._2 === None) // zero total variance
  }

  test("ksMatrix: hand-computed D with the smallest-value argmax tie, " +
    "identical distributions give exactly 0") {
    import spark.implicits._
    val df = (Seq(1L, 1L, 2L).map(("a", _)) ++
      Seq(1L, 2L, 2L, 3L).map(("b", _)) ++
      Seq(1L, 1L, 2L).map(("c", _))) // identical to a
      .toDF("g", "v")
    val out = AnalyticsOps.ksMatrix(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("ks_d"), r.getLong(5))).toMap
    // a vs b at v=1: |2*4 - 1*3| = 5 -> 5/12
    assert(out(("a", "b")) === ((0.416667, 1L)))
    assert(out(("b", "c")) === ((0.416667, 1L)))
    assert(out(("a", "c"))._1 === 0.0)
  }

  test("rankNormalize: ties share the dense rank, extremes hit " +
    "exactly 0 and 1, single-value group maps to 0, NULL values drop") {
    import spark.implicits._
    val df = Seq(("g", Option(10.0)), ("g", Option(20.0)),
      ("g", Option(20.0)), ("g", Option(30.0)), ("g", Option.empty[Double]),
      ("h", Option(7.0)), ("h", Option(7.0)))
      .toDF("grp", "v")
    val out = AnalyticsOps.rankNormalize(df, "grp", "v")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Double]("v")) ->
        r.getAs[Double]("rank_norm")).toMap
    assert(out === Map(("g", 10.0) -> 0.0, ("g", 20.0) -> 0.5,
      ("g", 30.0) -> 1.0, ("h", 7.0) -> 0.0))
  }

  test("semanticDrift: a label whose vectors are all identical has " +
    "centroid cosine exactly 1 whichever way the md5 halves fall") {
    import spark.implicits._
    val emb = (1L to 8L).map(i => (i, Seq(1.0f, 2.0f, -1.0f, 0.5f), "a"))
      .toDF("vec_id", "embedding", "label")
    val codes = graft.similarity.Ann.quantizeInt8(emb, "vec_id", "embedding")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val r = AnalyticsOps.semanticDrift(codes, "label", "vec_id", "qvec")
      .collect()(0)
    assert(r.getAs[Long]("n_vectors") === 8L)
    if (r.getAs[Long]("n_half_a") > 0 && r.getAs[Long]("n_half_b") > 0)
      assert(r.getAs[Double]("centroid_cosine") === 1.0)
    else assert(r.isNullAt(r.fieldIndex("centroid_cosine")))
  }

  test("dowAdjustedAnomaly: leave-one-out weekday baseline with a " +
    "hand-computed z, zero-variance and thin weekdays yield NULL") {
    import spark.implicits._
    import java.sql.Timestamp
    // five consecutive Mondays with 1,2,3,4,10 events
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15",
      "2024-01-22", "2024-01-29")
    val counts = Seq(1, 2, 3, 4, 10)
    val ev = mondays.zip(counts).flatMap { case (d, k) =>
      Seq.fill(k)(("m", Timestamp.valueOf(s"$d 12:00:00")))
    } ++ Seq(("m", Timestamp.valueOf("2024-01-02 12:00:00"))) // lone Tuesday
    val out = AnalyticsOps.dowAdjustedAnomaly(ev.toDF("event_type", "ts"))
      .collect().map(r => r.getDate(1).toString ->
        (r.getLong(4),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toMap
    // spike day: baseline {1,2,3,4} -> mean 2.5, var 1.25,
    // z = 7.5/sqrt(1.25) = 6.708204
    assert(out("2024-01-29") === ((4L, Some(6.708204))))
    // the lone Tuesday has n1 = 0 baseline days -> NULL
    assert(out("2024-01-02") === ((0L, None)))
  }

  test("weightedMedian: weight-crossing rule, lower median on even " +
    "splits, zero and NULL weights dropped") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, Option(1L)), ("g", 2L, Option(2L)), ("g", 3L, Option(1L)),
      ("g", 10L, Option(0L)), ("g", 11L, Option.empty[Long]),
      ("e", 1L, Option(1L)), ("e", 3L, Option(1L)),
      ("h", 7L, Option(100L)))
      .toDF("grp", "v", "w")
    val out = AnalyticsOps.weightedMedian(df, "grp", "v", "w")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // g: weights 1,2,1 -> W=4, cum crosses 2 at v=2
    assert(out("g") === ((3L, 4L, 2L)))
    // e: even split -> LOWER median 1
    assert(out("e") === ((2L, 2L, 1L)))
    assert(out("h") === ((1L, 100L, 7L)))
  }

  test("associationRules: hand-computed confidence and lift for every " +
    "rotation of both frequent triples") {
    import spark.implicits._
    val b = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 4L), (4L, 1L), (4L, 2L), (4L, 4L),
      (5L, 1L), (5L, 3L), (5L, 4L))
      .toDF("basket", "item")
    val out = AnalyticsOps.associationRules(b, "basket", "item", 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getAs[Double]("confidence"), r.getAs[Double]("lift"))).toMap
    assert(out.size === 6)
    // nB=5; pairs (1,2)=4 (1,3)=3 (2,3)=2 (1,4)=3 (2,4)=2;
    // singles 1->5 2->4 3->3 4->3; triples (1,2,3)=2 (1,2,4)=2
    assert(out((1L, 2L, 3L)) === ((0.5, 0.833333)))
    assert(out((1L, 3L, 2L)) === ((0.666667, 0.833333)))
    assert(out((2L, 3L, 1L)) === ((1.0, 1.0)))
    assert(out((1L, 2L, 4L)) === ((0.5, 0.833333)))
    assert(out((1L, 4L, 2L)) === ((0.666667, 0.833333)))
    assert(out((2L, 4L, 1L)) === ((1.0, 1.0)))
  }

  test("slidingDau: the 7-day distinct count never double-counts a " +
    "returning user, gap days appear with dau_1d 0, windows clamp at " +
    "the span end and flag partial starts") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    val ev = Seq((1L, t(1)), (1L, t(1)), (2L, t(1)), (1L, t(3)), (3L, t(8)))
      .toDF("user_id", "ts")
    val out = AnalyticsOps.slidingDau(ev).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(out.size === 8) // Jan 1..8; window days past Jan 8 clamped
    assert(out("2024-01-01") === ((2L, 2L, 1)))
    assert(out("2024-01-03") === ((1L, 2L, 1))) // u1 once, not twice
    assert(out("2024-01-07") === ((0L, 2L, 0))) // first full window
    assert(out("2024-01-08") === ((1L, 2L, 0))) // u1(Jan3) + u3(Jan8)
    assert(out("2024-01-02") === ((0L, 2L, 1)))
  }

  test("cupedReport: perfectly correlated pre/post activity gives " +
    "theta exactly 1, zero adjusted variance, 100% reduction, and " +
    "both arms' adjusted means collapse to the overall pre mean") {
    import spark.implicits._
    import java.sql.Timestamp
    // user u does (u%4)+1 events on Jan 1 AND the same number on
    // Jan 10 -> X = Y per user, so cov = var and the identity
    // var(Y') = var(Y) - 2θcov + θ²var(X) must close to exactly 0
    val events = (1L to 8L).flatMap { u =>
      val k = (u % 4 + 1).toInt
      Seq.fill(k)((u, Timestamp.valueOf("2024-01-01 10:00:00"))) ++
        Seq.fill(k)((u, Timestamp.valueOf("2024-01-10 10:00:00")))
    }.toDF("user_id", "ts")
    val out = AnalyticsOps.cupedReport(events).collect()
    assert(out.length === 2)
    val mxall = (1L to 8L).map(u => (u % 4 + 1).toDouble).sum / 8.0
    out.foreach { r =>
      assert(r.getAs[Double]("theta") === 1.0)
      assert(r.getAs[Double]("var_y_cuped") === 0.0)
      assert(r.getAs[Double]("mean_y_cuped") === mxall)
      if (r.getAs[Double]("var_y") > 0)
        assert(r.getAs[Double]("var_reduction_pct") === 100.0)
    }
  }

  test("paretoFrontier: strict dominance across and within price " +
    "levels, duplicated points both survive, buckets span the " +
    "prefix-max, NULL group excluded") {
    import spark.implicits._
    val pts = Seq(
      ("g", 1L, 10.0, 5L), // out: 2 is same price, bigger
      ("g", 2L, 10.0, 7L), // out: 3 is cheaper, same size
      ("g", 3L, 9.0, 7L),  // frontier
      ("g", 4L, 9.0, 7L),  // duplicate of 3: dominates neither, kept
      ("g", 5L, 8.0, 3L),  // frontier (cheapest)
      ("g", 6L, 12.0, 9L), // frontier (biggest)
      ("g", 7L, 12.0, 8L), // out: 6 same price, bigger
      ("g", 8L, 11.0, 2L), // out: 5 cheaper AND bigger
      ("h", 9L, 99.0, 1L)) // own group: trivially frontier
      .toDF("brand", "id", "price", "sz")
      .unionByName(Seq((Option.empty[String], 10L, Option(1.0), Option(9L)))
        .toDF("brand", "id", "price", "sz"))
    // xScale 0.5 puts {8,9} {10,11} {12} in different buckets, so the
    // strict max must flow through the bucket-offset path
    val out = AnalyticsOps.paretoFrontier(pts, "brand", "id",
      "price", "sz", xScale = 0.5)
      .collect().map(_.getLong(1)).toSet
    assert(out === Set(3L, 4L, 5L, 6L, 9L))
  }

  test("itemSimilarity: hand-computed cosines with id-asc tie-break, " +
    "duplicate feedback collapses, capped basket drops out entirely") {
    import spark.implicits._
    // u1:{1,2,3} u2:{1,2} u3:{1,3}; u4's 4-item basket exceeds the
    // cap, so item 4 (only u4's) must vanish from the output
    val fb = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 1L), // dup row
      (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
      (4L, 1L), (4L, 2L), (4L, 3L), (4L, 4L))
      .toDF("user_id", "item")
    val out = AnalyticsOps.itemSimilarity(fb, "user_id", "item",
      k = 2, maxBasket = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    // nA=3 nB=2 nC=2; cooc AB=2 AC=2 BC=1; expectations replay the
    // operator's unrounded closing tree (c / sqrt(na*nb)) op-for-op
    val s6 = 2.0 / math.sqrt(6.0)
    assert(out((1L, 1)) === ((2L, s6))) // tie with item 3 -> id asc
    assert(out((1L, 2)) === ((3L, s6)))
    assert(out((2L, 1)) === ((1L, s6)))
    assert(out((2L, 2)) === ((3L, 0.5)))
    assert(!out.keys.exists(_._1 === 4L))
    assert(!out.values.exists(_._1 === 4L))
    // the minCooc floor drops the single-shared-user BC pair but
    // keeps the evidence-backed AB/AC neighbours
    val floored = AnalyticsOps.itemSimilarity(fb, "user_id", "item",
      k = 2, maxBasket = 3, minCooc = 2L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    assert(floored((1L, 1)) === ((2L, s6)))
    assert(floored((2L, 1)) === ((1L, s6)))
    assert(!floored.contains((2L, 2)), "cooc=1 neighbour must be floored")
  }

  test("itemSimilarity assumeDistinct contract: distinct input matches " +
    "the default path bit-for-bit; a duplicate-row caller FAILS LOUDLY " +
    "on the distinctness tripwire (VERDICT r13 task #5 / ADVICE r12 #4)") {
    import spark.implicits._
    val fb = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 1L), // dup row
      (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L))
      .toDF("user_id", "item")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    val viaDefault = toMap(AnalyticsOps.itemSimilarity(
      fb, "user_id", "item", k = 2, maxBasket = 3))
    // the ONLY valid assumeDistinct caller shape: pre-distinct input
    val viaContract = toMap(AnalyticsOps.itemSimilarity(
      fb.distinct(), "user_id", "item", k = 2, maxBasket = 3,
      assumeDistinct = true))
    assert(viaContract === viaDefault,
      "pre-distinct + assumeDistinct must equal the dedup path")
    // breaking the contract fails loudly, not silent-wrong: the
    // sampled tripwire (here with every hash bucket checked so the
    // fixture is deterministic regardless of where (1, 1) hashes)
    // rejects the duplicated incidence before any cooc is computed
    val ex = intercept[IllegalArgumentException] {
      graft.operators.AnalyticsOps.itemSimilarityImpl(
        fb, "user_id", "item", k = 2, maxBasket = 4, minCooc = 1L,
        assumeDistinct = true, dupCheckMod = 1)
    }
    assert(ex.getMessage.contains("duplicate (user, item) rows"),
      s"tripwire message should name the contract breach: ${ex.getMessage}")
  }
  test("ksTwoSample: hand-computed exact numerator, bucket width " +
    "cannot change the answer, identical samples read zero, an " +
    "empty side reports NULL ks_d") {
    import spark.implicits._
    val a = Seq(1L, 2L, 3L, 4L).toDF("v")
    val b = Seq(3L, 4L, 5L, 6L).toDF("v")
    def one(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }
    // pooled ECDF walk: max |cumA·nB − cumB·nA| is 8 at v = 2
    // (FA = 2/4, FB = 0), D = 8 / 16 = 0.5
    val r1 = one(AnalyticsOps.ksTwoSample(a, b, "v"))
    assert(r1 === ((4L, 4L, 8L, Some(0.5))))
    // a tiny bucket width forces the cross-bucket offset path — the
    // two-level cumsum must agree with the single-bucket answer
    val r2 = one(AnalyticsOps.ksTwoSample(a, b, "v", bucketWidth = 2L))
    assert(r2 === r1, "bucketing is an implementation detail")
    val same = one(AnalyticsOps.ksTwoSample(a, a, "v"))
    assert(same === ((4L, 4L, 0L, Some(0.0))))
    val empty = one(AnalyticsOps.ksTwoSample(
      a, a.filter($"v" > 100L), "v"))
    assert(empty === ((4L, 0L, 0L, None)))
    // BOTH sides empty: the totals sums are NULL (zero hist rows) —
    // the overflow guard's IS NULL arm must not fall through to
    // raise_error (ADVICE r15); contract is n_a=0, n_b=0, ks_d NULL
    val bothEmpty = one(AnalyticsOps.ksTwoSample(
      a.filter($"v" > 100L), a.filter($"v" > 100L), "v"))
    assert(bothEmpty === ((0L, 0L, 0L, None)))
  }

  test("psiBandedGrouped: identical samples read psi_e6 = 0 on the " +
    "dense 10-band grid; a shifted current sample reads a major-shift " +
    "PSI; a group missing either side drops") {
    import spark.implicits._
    val ref = ((1 to 100).map(v => ("stable", v.toLong)) ++
      (1 to 100).map(v => ("drift", v.toLong)) ++
      (1 to 50).map(v => ("refonly", v.toLong))).toDF("g", "v")
    val cur = ((1 to 100).map(v => ("stable", v.toLong)) ++
      (1 to 100).map(v => ("drift", v.toLong + 200L)) ++
      (1 to 50).map(v => ("curonly", v.toLong))).toDF("g", "v")
    val out = AnalyticsOps.psiBandedGrouped(ref, cur, "g", "v")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toMap
    // one-sided groups drop: no reference bands / no current sample
    assert(out.keySet === Set("stable", "drift"))
    // identical distributions: every share pair is bit-equal, the
    // closing sum is exactly zero on the lattice
    assert(out("stable") === ((100L, 100L, 10L, 0L)))
    // all current mass lands above every reference edge: PSI far past
    // the conventional 0.25 major-shift line (250000 on the lattice)
    val (nr, nc, nb, psi) = out("drift")
    assert(nr === 100L && nc === 100L && nb === 10L)
    assert(psi > 250000L, s"drifted PSI should scream, got $psi")
  }

  test("ksTwoSampleGrouped: per-group results equal the ungrouped " +
    "statistic run group by group; a one-sided group reports NULL") {
    import spark.implicits._
    val a = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L), ("g1", 4L),
      ("g2", 10L), ("g2", 20L), ("g3", 7L)).toDF("g", "v")
    val b = Seq(("g1", 3L), ("g1", 4L), ("g1", 5L), ("g1", 6L),
      ("g2", 10L), ("g2", 30L)).toDF("g", "v")
    val out = AnalyticsOps.ksTwoSampleGrouped(a, b, "g", "v")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(out.keySet === Set("g1", "g2", "g3"))
    // g1 is the ungrouped fixture: D_num 8 at v = 2, D = 0.5
    assert(out("g1") === ((4L, 4L, 8L, Some(0.5))))
    // g2: ECDF walk over {10, 20, 30}: |1*2-1*2|=0, |2*2-1*2|=2,
    // |2*2-2*2|=0 -> D = 2/4
    assert(out("g2") === ((2L, 2L, 2L, Some(0.5))))
    // g3 has no B side
    assert(out("g3") === ((1L, 0L, 0L, None)))
    // grouped == ungrouped, group by group
    for (g <- Seq("g1", "g2")) {
      val solo = AnalyticsOps.ksTwoSample(
        a.filter($"g" === g), b.filter($"g" === g), "v").collect()(0)
      assert((solo.getLong(0), solo.getLong(1), solo.getLong(2),
        Some(solo.getDouble(3))) === out(g), s"group $g disagrees")
    }
  }

  test("itemSimilarity: STRING item ids take the generic pair path " +
    "without the ANSI cast throwing in the packability probe, and " +
    "match the numeric-id result under a bijective relabeling") {
    import spark.implicits._
    val str = Seq(
      (1L, "apple"), (1L, "beet"), (1L, "caper"),
      (2L, "apple"), (2L, "beet"),
      (3L, "beet"), (3L, "caper"),
      (4L, "apple"), (4L, "caper")).toDF("user_id", "item_id")
    // the round-15 regression: this THREW [CAST_INVALID_INPUT] while
    // the probe cast string ids to long under ANSI
    val out = AnalyticsOps.itemSimilarity(str, "user_id", "item_id", k = 5)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) ->
        (r.getInt(1), r.getDouble(3)))
      .toMap
    assert(out.nonEmpty)
    // relabel items to longs 10/11/12 (order-preserving): the packed
    // path must agree with the generic path pair for pair
    val num = str.withColumn("item_id",
      when(col("item_id") === "apple", 10L)
        .when(col("item_id") === "beet", 11L).otherwise(12L))
    val packed = AnalyticsOps.itemSimilarity(num, "user_id", "item_id", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getInt(1), r.getDouble(3)))
      .toMap
    val relabel = Map("apple" -> 10L, "beet" -> 11L, "caper" -> 12L)
    assert(out.map { case ((a, b), v) => (relabel(a), relabel(b)) -> v }
      === packed)
  }

  test("q342 per-source template drift: a source whose template mix " +
    "collapses between snapshots reads KS = 1, a stable mix reads 0") {
    import spark.implicits._
    // layouts: "x x" (lowercase pair) vs "9 9" (digit pair). Source
    // "drift": even snapshot is a balanced 2+2 mix, odd snapshot is
    // all one template. Source "stable": the same mix both sides.
    val docs = Seq(
      // drift, even ids: 2 docs of layout A, 2 of layout B
      (0L, "drift", "aa bb"), (2L, "drift", "cc dd"),
      (4L, "drift", "11 22"), (6L, "drift", "33 44"),
      // drift, odd ids: 4 docs, all layout A
      (1L, "drift", "ee ff"), (3L, "drift", "gg hh"),
      (5L, "drift", "ii jj"), (7L, "drift", "kk ll"),
      // stable: identical 1+1 mix in both snapshots
      (10L, "stable", "mm nn"), (12L, "stable", "55 66"),
      (11L, "stable", "oo pp"), (13L, "stable", "77 88"))
      .toDF("doc_id", "source", "text")
    // the q342 composition: per-doc cluster size within each
    // (source, snapshot), then the grouped exact-integer KS
    val keyed = docs
      .select(col("source"), col("doc_id"),
        md5(graft.text.TextOps.layoutShape(col("text"))).as("__tpl"))
    def snap(par: Int) = {
      val side = keyed.filter(col("doc_id") % 2 === par)
      val sizes = side.groupBy("source", "__tpl")
        .agg(count(lit(1)).as("__v"))
      side.join(sizes, Seq("source", "__tpl"))
        .select(col("source"), col("__v"))
    }
    val out = AnalyticsOps.ksTwoSampleGrouped(snap(0), snap(1),
        "source", "__v")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .toMap
    // drift: even values {2,2,2,2}, odd values {4,4,4,4} — disjoint
    // supports, D = 1 (ks_num = 4·4 at v = 2)
    assert(out("drift") === ((4L, 4L, 16L, 1.0)))
    // stable: both snapshots read {1,1} — identical ECDFs, D = 0
    assert(out("stable") === ((2L, 2L, 0L, 0.0)))
  }

  test("trimmedMean: k = n div 10 trimmed each side, exact kept-rank " +
    "overlap arithmetic, degenerate group reports NULL") {
    import spark.implicits._
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = AnalyticsOps.trimmedMean(df, "grp", "v", trimDenom = 10)
      .collect()(0)
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("n_trimmed_each_side") === 1L)
    // keep ranks 2..9 -> mean of 2..9 = 5.5 (44e6 / 8 / 1e6 exactly)
    assert(r.getAs[Double]("trimmed_mean") === 44.0e6 / 8.0 / 1e6)
    // n = 2, trimDenom = 2 -> k = 1, nothing kept -> NULL
    val tiny = Seq(("g", 1.0), ("g", 2.0)).toDF("grp", "v")
    assert(AnalyticsOps.trimmedMean(tiny, "grp", "v", trimDenom = 2)
      .collect()(0).isNullAt(3))
  }

  test("bowleySkew: type-1 ceil-rank quartiles, hand value 5/9 on a " +
    "right-heavy fixture, symmetric fixture gives 0, no-spread NULL") {
    import spark.implicits._
    val df = Seq(1.0, 1.0, 2.0, 3.0, 10.0, 10.0, 10.0)
      .map(("g", _)).toDF("grp", "v")
    val r = AnalyticsOps.bowleySkew(df, "grp", "v").collect()(0)
    // n=7: r1=2 -> 1, r2=4 -> 3, r3=6 -> 10; (10+1-6)/(10-1)
    assert(r.getAs[Long]("n") === 7L)
    assert(r.getAs[Double]("q1") === 1.0)
    assert(r.getAs[Double]("q2") === 3.0)
    assert(r.getAs[Double]("q3") === 10.0)
    assert(r.getAs[Double]("bowley_skew") ===
      5.0e6 / 9.0e6) // the operator's integer-operand division
    val flat = Seq(("g", 4.0), ("g", 4.0), ("g", 4.0)).toDF("grp", "v")
    assert(AnalyticsOps.bowleySkew(flat, "grp", "v").collect()(0)
      .isNullAt(5))
  }

  test("gini: 0 on equal values, 0.75 on a one-whale fixture with " +
    "tie-correct rank blocks, negatives excluded and counted") {
    import spark.implicits._
    val eq = Seq.fill(4)(("g", 5.0)).toDF("grp", "v")
    assert(AnalyticsOps.gini(eq, "grp", "v").collect()(0)
      .getAs[Double]("gini") === 0.0)
    val whale = Seq(("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 10.0),
      ("g", -3.0)).toDF("grp", "v")
    val r = AnalyticsOps.gini(whale, "grp", "v").collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("n_negative_excluded") === 1L)
    // sorted (0,0,0,10): sum (2i-n-1)x_i = 3*10 = 30; n*S = 40
    assert(r.getAs[Double]("gini") === 0.75)
  }

  test("winsorizedMean: clamps k each side to the adjacent order " +
    "statistics and divides by the FULL n") {
    import spark.implicits._
    // 1..10, k=1: clamp 1 -> 2 and 10 -> 9; total 2+2..9+9 = 55-1-10+2+9
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = AnalyticsOps.winsorizedMean(df, "grp", "v", trimDenom = 10)
      .collect()(0)
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("n_winsorized_each_side") === 1L)
    assert(r.getAs[Double]("winsorized_mean") === 55.0e6 / 10.0 / 1e6)
  }

  test("lorenzDeciles: hand shares on a whale fixture, tie-correct " +
    "block arithmetic, rank-0 deciles absent for tiny groups") {
    import spark.implicits._
    // values (0, 0, 10, 10, 80): total 100; ranks 1..5
    val df = Seq(0.0, 0.0, 10.0, 10.0, 80.0).map(("g", _)).toDF("grp", "v")
    val out = AnalyticsOps.lorenzDeciles(df, "grp", "v")
      .collect().map(r => r.getInt(1) ->
        (r.getAs[Long]("rank"), r.getAs[Long]("cum_value_e6"),
          r.getAs[Long]("total_value_e6"))).toMap
    // n=5: decile d covers rank 5d/10: d=2->1, d=4->2, d=6->3, d=8->4, d=10->5
    assert(!out.contains(1), "rank 0 decile must be absent")
    assert(out(2) === ((1L, 0L, 100000000L)))
    assert(out(4) === ((2L, 0L, 100000000L)))
    assert(out(6) === ((3L, 10000000L, 100000000L)))
    assert(out(8) === ((4L, 20000000L, 100000000L)))
    assert(out(10) === ((5L, 100000000L, 100000000L)))
  }

  test("madOutlierScreen: hand-computed median/MAD sums on the integer " +
    "lattice, whale flagged, symmetric core not") {
    import spark.implicits._
    // values 1..9 and a 100 whale: med2 = 5e6 + 6e6; dev2 sorted
    // {1,1,3,3,5,5,7,7,9,189}(e6) -> mad4 = 5e6 + 5e6 (MAD = 2.5);
    // outlier iff dev2 > 1.5 * mad4 = 15e6 -> only the whale
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).map(("g", _))
      .toDF("grp", "v")
    val r = AnalyticsOps.madOutlierScreen(df, "grp", "v", k = 3)
      .collect()(0)
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("median2_e6") === 11000000L)
    assert(r.getAs[Long]("mad4_e6") === 10000000L)
    assert(r.getAs[Long]("n_outliers") === 1L)
  }

  test("valueDeciles: decile values are the order statistics at rank " +
    "(n*d) div 10, rank-0 deciles absent for tiny groups") {
    import spark.implicits._
    val df = ((1 to 10).map(i => ("big", i.toDouble)) ++
      Seq(("tiny", 5.0), ("tiny", 7.0), ("tiny", 9.0))).toDF("grp", "v")
    val out = AnalyticsOps.valueDeciles(df, "grp", "v")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Long]("rank"), r.getAs[Long]("value_e6"))).toMap
    // big: n=10, decile d covers rank d -> value d (x1e6 lattice)
    (1 to 10).foreach(d =>
      assert(out(("big", d)) === ((d.toLong, d * 1000000L))))
    // tiny: n=3 -> d=1..3 rank 0 absent; d=4..6 -> rank 1, d=7..9 ->
    // rank 2, d=10 -> rank 3
    assert(!out.contains(("tiny", 1)) && !out.contains(("tiny", 3)))
    assert(out(("tiny", 4)) === ((1L, 5000000L)))
    assert(out(("tiny", 7)) === ((2L, 7000000L)))
    assert(out(("tiny", 10)) === ((3L, 9000000L)))
  }

  test("dispersionIndex: Poisson-flat series ~ F=1 exact on a " +
    "constructed fixture, zero-filled span enters n_days") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // type A: 2 events/day on days 1..3 -> variance 0 -> F = 0
    // type B: days 1 and 3 active (1 event), day 2 zero ->
    //   n=3, sx=2, sxx=2: F = (3*2 - 4) / (2*2) = 0.5
    val ev = Seq(
      ("A", t(1)), ("A", t(1)), ("A", t(2)), ("A", t(2)),
      ("A", t(3)), ("A", t(3)),
      ("B", t(1)), ("B", t(3)))
      .toDF("event_type", "ts")
    val out = AnalyticsOps.dispersionIndex(ev)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("fano"))).toMap
    assert(out("A") === ((3L, 0.0)))
    assert(out("B") === ((3L, 2.0 / 4.0)))
  }


  /** The operators that share a private kernel (the dense daily grid,
    * the value-CDF pairs, the typed transition pairs, the pre/post
    * split counts, the survival at-risk windows): name, whether the
    * call ends in a cut, and its Spark job count for one call plus a
    * collect on [[kernelEvents]] with adaptive execution off, as
    * measured before the kernels were shared.
    */
  private val kernelOps: Seq[(String, Boolean, Int, org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame)] = Seq(
    ("leadLagCorrelation", true, 5, AnalyticsOps.leadLagCorrelation(_)),
    ("changepointDetection", true, 4, AnalyticsOps.changepointDetection(_)),
    ("dailyCountCorrelation", true, 4, AnalyticsOps.dailyCountCorrelation(_)),
    ("lagAutocorrelation", true, 5, AnalyticsOps.lagAutocorrelation(_)),
    ("cusumAlarms", true, 5, AnalyticsOps.cusumAlarms(_)),
    ("robustTrend", true, 5, AnalyticsOps.robustTrend(_)),
    ("ewmaDaily", true, 6, AnalyticsOps.ewmaDaily(_)),
    ("brownTrendDaily", true, 6, AnalyticsOps.brownTrendDaily(_)),
    ("gapFillDaily", true, 4, AnalyticsOps.gapFillDaily(_)),
    ("ksMatrix", false, 5, AnalyticsOps.ksMatrix(_, "event_type", "value")),
    ("emdMatrix", false, 5, AnalyticsOps.emdMatrix(_, "event_type", "value")),
    ("transitionCounts", false, 1, AnalyticsOps.transitionCounts(_)),
    ("markovNextEventAccuracy", false, 3, AnalyticsOps.markovNextEventAccuracy(_)),
    ("cupedReport", true, 4, AnalyticsOps.cupedReport(_)),
    ("didReport", false, 3, AnalyticsOps.didReport(_)),
    ("kaplanMeier", false, 2, AnalyticsOps.kaplanMeier(_)),
    ("nelsonAalen", false, 2, AnalyticsOps.nelsonAalen(_)))

  /** 36 events: three types over six days (each type misses some days,
    * so the dense grid zero-fills), four users, ids and values.
    */
  private def kernelEvents(): org.apache.spark.sql.DataFrame =
    (0 until 36).map { i =>
      (i.toLong, (i % 4).toLong, Seq("A", "B", "C")(i % 3),
        ts(f"2024-01-${1 + (i * 5 + i / 3) % 6}%02d ${8 + i % 5}%02d:00:00"),
        (i % 7).toDouble)
    }.toDF("event_id", "user_id", "event_type", "ts", "value")

  test("operators sharing a kernel keep their job counts and leave no " +
    "cache behind, also when the evaluation or the cut throws") {
    val good = kernelEvents()
    // strings ANSI to_date and the timestamp / numeric casts reject:
    // the first job that reads them throws
    val bad = good.withColumn("ts", format_string("day %d", col("event_id")))
      .withColumn("value", format_string("v%d", col("event_id")))
    val runs = kernelOps.map { case (name, cuts, _, op) =>
      val before = persistedIds()
      val (out, jobs) = withoutAqe(jobsDuring { val o = op(good); o.collect(); o })
      val leftOnSuccess = persistedSince(before, out)
      val beforeBad = persistedIds()
      intercept[Exception](op(bad).collect())
      val leftOnBadInput = persistedSince(beforeBad)
      // the bad strings throw while Spark builds the first cache, before
      // it holds blocks; a cut that fails later finds the caches built
      val beforeCut = persistedIds()
      if (cuts) withFailingCuts(intercept[Exception](op(good)))
      val leftOnFailedCut = persistedSince(beforeCut)
      (name, jobs.size, leftOnSuccess, leftOnBadInput, leftOnFailedCut)
    }
    info(s"jobs per call + collect: ${runs.map(r => s"${r._1}=${r._2}").mkString(", ")}")
    val leaks = runs.collect { case (name, _, onSuccess, onBadInput, onFailedCut)
        if (onSuccess ++ onBadInput ++ onFailedCut).nonEmpty =>
      s"$name left RDDs $onSuccess on success, $onBadInput when its input threw, " +
        s"$onFailedCut when its cut threw"
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(runs.map(r => r._1 -> r._2) === kernelOps.map { case (n, _, j, _) => n -> j })
  }

}
