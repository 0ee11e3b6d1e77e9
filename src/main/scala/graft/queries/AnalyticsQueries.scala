package graft.queries

import graft.Tables
import graft.queries.OracleSql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical analytics over events and orders: time-series trends
  * and anomalies, survival curves, hypothesis tests, experiment
  * readouts, distribution shape and inequality measures.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // two-regressor OLS per language: token count ~ chars + distinct
    // tokens, solved in closed form on exact Decimal moments (Cramer)
    "q235_ols_two_feature" -> ((s, d) => {
      val t = graft.text.TextOps
      val docs = Tables.documents(s, d)
        .withColumn("__y", t.tokenCount(col("text")))
        .withColumn("__x2", size(array_distinct(t.tokens(col("text")))))
      graft.operators.AnalyticsOps.olsTwoFeature(
        docs, "lang", "__y", "n_chars", "__x2")
    }),

    // lead-lag cross-correlation: q146's dense grid and exact moments
    // swept across integer day offsets -3..3
    "q227_lead_lag" -> ((s, d) =>
      graft.operators.AnalyticsOps.leadLagCorrelation(Tables.events(s, d))),

    // single changepoint by binary segmentation: exact cumulative
    // moments, per-boundary gain in one double tree, earliest-tie argmax
    "q228_changepoint" -> ((s, d) =>
      graft.operators.AnalyticsOps.changepointDetection(Tables.events(s, d))),

    // Fleiss' kappa over 3 deterministic synthetic annotators: base
    // label = doc-length band, each rater flips to the next band on an
    // md5 coin (u32 % 10 < 2) — fully replayable in both engines
    "q220_fleiss_kappa" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), length(col("text")).as("__len"))
      val ann = docs
        .select(col("doc_id"), col("__len"),
          explode(array(lit(1), lit(2), lit(3))).as("rater"))
        .withColumn("__band", when(col("__len") < 150, 0)
          .when(col("__len") < 300, 1).otherwise(2))
        .withColumn("__flip",
          conv(substring(md5(concat(col("rater").cast(StringType), lit(":"),
            col("doc_id").cast(StringType))), 1, 8), 16, 10)
            .cast(LongType) % 10 < 2)
        .withColumn("__idx",
          (col("__band") + when(col("__flip"), 1).otherwise(0)) % 3)
        .withColumn("label", when(col("__idx") === 0, "short")
          .when(col("__idx") === 1, "medium").otherwise("long"))
      graft.operators.AnalyticsOps.fleissKappa(ann, "doc_id", "rater",
        "label", nRaters = 3)
    }),

    // Nelson-Aalen cumulative hazard with Klein's variance: ordered
    // window folds over the calendar-bounded cohort curve (the q202
    // survival scaffold's estimator dual)
    "q217_nelson_aalen" -> ((s, d) =>
      graft.operators.AnalyticsOps.nelsonAalen(Tables.events(s, d))),

    // one-vs-rest log-rank test: exact integer O, ordered-fold E and
    // V over the dense cohort x span-day frame, max-struct final row
    "q218_logrank" -> ((s, d) =>
      graft.operators.AnalyticsOps.logRankOneVsRest(Tables.events(s, d))),

    // Welch's unequal-variance t, each type vs rest: exact Decimal
    // moments, rest = total - class, one closing double expression
    "q213_welch_ttest" -> ((s, d) =>
      graft.operators.AnalyticsOps.welchTTest(Tables.events(s, d),
        "event_type", "value")),

    // day-of-week seasonality profile: each (type, weekday)'s share
    // of events vs the uniform 1/7 — the seasonal-index report behind
    // staffing/capacity reads of an event stream; exact integer
    // counts, one double expression per cell (the q145 discipline)
    "q167_dow_seasonality" -> ((s, d) => {
      val byDow = Tables.events(s, d)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n_events"))
      val totals = Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("__t"))
      byDow.join(broadcast(totals), "event_type")
        .select(col("event_type"), col("dow"), col("n_events"),
          round(lit(7.0) * col("n_events") / col("__t"), 4)
            .as("seasonal_index"))
    }),

    // lag-1..7 autocorrelation of the daily count series per event
    // type: the periodicity probe (a weekly cycle = ACF peak at 7)
    // with q146's exact-integer-moment Pearson; calendar-bounded
    // summary exploded 7x, one hash equi-join, no raw-event window
    "q170_lag_autocorrelation" -> ((s, d) =>
      graft.operators.AnalyticsOps.lagAutocorrelation(Tables.events(s, d),
        maxLag = 7)),

    // dyadic-decay EWMA (decay 1/2, 16-term truncation): every weight
    // is 2^-(j+1), so the numerator is an exact integer sum and the
    // smoothed series is bit-deterministic across engines — no
    // pow()-accumulation-order hazard
    "q171_ewma_daily" -> ((s, d) =>
      graft.operators.AnalyticsOps.ewmaDaily(Tables.events(s, d),
        windowDays = 16)),

    // Benford first-digit screen on order amounts per priority class:
    // exact floor-then-string digit extraction (no log10 mantissa
    // wobble), dense 9-digit grid so never-seen digits contribute
    // their (0-Np)^2/Np mass to the chi-square
    "q174_benford_profile" -> ((s, d) =>
      graft.operators.AnalyticsOps.benfordProfile(
        s.read.parquet(s"$d/orders.parquet"),
        "o_orderpriority", "o_totalprice")),

    // MAD robust outlier report (Iglewicz–Hoaglin modified z): both
    // medians via percentile_cont (the q134-proven surface), the
    // outlier test one fixed-order IEEE comparison over them; mad=0
    // groups count every off-median value (infinite modified z)
    "q184_mad_outliers" -> ((s, d) =>
      graft.operators.AnalyticsOps.madOutlierReport(Tables.events(s, d))),

    // one-sided CUSUM level-shift alarms on the daily count series:
    // prefix-sum minus running-min identity, everything scaled by
    // #days so the alarm test is an exact INTEGER comparison; dense
    // calendar zeros so outages accumulate downward drift
    "q185_cusum_alarms" -> ((s, d) =>
      graft.operators.AnalyticsOps.cusumAlarms(Tables.events(s, d),
        alarmMult = 4L)),

    // machine-cadence (bot) screen: accounts with >= 15 events whose
    // inter-event-gap cv <= 0.8 — cv from exact Decimal(38,0)
    // moments over bucketed lags (the q116 discipline: no unbounded
    // per-user window over raw events)
    "q186_bot_cadence" -> ((s, d) =>
      graft.operators.AnalyticsOps.cadenceReport(Tables.events(s, d),
        minEvents = 15L, maxCv = 0.8)),

    // Poisson-bootstrap CI on the per-type mean event value: 64
    // replicates in ONE pass via deterministic md5-threshold
    // Poisson(1) multiplicities — error bars at 100 TB with no
    // resample materialization; decimal-exact sums, percentile over
    // the #groups x 64 cell frame
    "q188_bootstrap_ci" -> ((s, d) =>
      graft.operators.AnalyticsOps.bootstrapCiMean(Tables.events(s, d),
        "event_type", "event_id", "value", reps = 64)),

    // robust trend: Theil-Sen slope (median of pairwise day-slopes,
    // each ONE exact-operand division) + tie-corrected Mann-Kendall
    // S and z — integer sums, one closing double expression; pairs
    // explode the calendar-bounded daily frame only
    "q191_robust_trend" -> ((s, d) =>
      graft.operators.AnalyticsOps.robustTrend(Tables.events(s, d))),

    // Mann-Whitney one-vs-rest rank-sum test: midranks come from the
    // (value, group) histogram via the two-level cumsum — the corpus
    // is never sorted; doubled-rank integer arithmetic, tie-corrected
    // z with continuity correction, rank-biserial effect size
    "q201_rank_sum_test" -> ((s, d) =>
      graft.operators.AnalyticsOps.rankSumTest(Tables.events(s, d),
        "event_type", "value")),

    // Kaplan-Meier survival by first-event cohort: per-user span
    // collapse (map-side min/max structs), right-censoring near the
    // log end, reverse-cumulative at-risk counts and ordered log-sum
    // survival products over the calendar-bounded curve frame
    "q202_kaplan_meier" -> ((s, d) =>
      graft.operators.AnalyticsOps.kaplanMeier(Tables.events(s, d))),

    // Brown double exponential smoothing: level/trend/forecast from
    // TWO dyadic-kernel convolutions (exact integer numerators over
    // 2^W and 2^2W) — no recursion, no float accumulation
    "q203_brown_trend" -> ((s, d) =>
      graft.operators.AnalyticsOps.brownTrendDaily(Tables.events(s, d))),

    // calendar gap-fill with linear interpolation between nearest
    // observed per-day means; edges stay NULL and are flagged
    "q204_gap_fill" -> ((s, d) =>
      graft.operators.AnalyticsOps.gapFillDaily(Tables.events(s, d))),

    // population stability index: reference-half deciles, Laplace-
    // smoothed bin shares, 10-term closing sum — the drift metric
    "q205_psi_drift" -> ((s, d) =>
      graft.operators.AnalyticsOps.psiDrift(Tables.events(s, d))),

    // HDR-histogram quantile sketch per event type: log-linear integer
    // bucketing (exact below 2^5, top-5-significand-bits above),
    // bounded counter state, rank answered by a cumulative walk over
    // the ≤ ~64·2^5 counter rows — the mergeable, engine-exact
    // quantile complement to KMV (distincts) and Count-Min (counts)
    "q160_hdr_quantiles" -> ((s, d) => {
      val vals = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
      val sk = graft.operators.SketchOps.hdrBuild(vals, "event_type",
        "v_milli", p = 5)
      graft.operators.SketchOps.hdrQuantiles(sk, "event_type",
        Seq(0.5, 0.9, 0.99), p = 5)
    }),

    // trailing 7-calendar-day totals per event type: raw events
    // pre-aggregate to the calendar-bounded (type, day) frame before
    // any window; RANGE over the integer day number so absent days
    // age out instead of stretching the frame
    "q117_rolling_daily" -> ((s, d) =>
      graft.operators.AnalyticsOps.rollingDailyAgg(Tables.events(s, d))),

    // skew diagnostic: log2 histogram of rows-per-customer in orders —
    // integer bucket via binary-string length, engine-exact boundary
    "q151_skew_histogram" -> ((s, d) =>
      graft.operators.SkewOps.keyHistogram(Tables.orders(s, d), "o_custkey")),

    // pairwise Pearson correlation of daily-count series (zeros on
    // absent days via the dense group×calendar grid); exact integer
    // moments, one deterministic double expression per pair
    "q146_count_correlation" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyCountCorrelation(Tables.events(s, d))),

    // chi-square independence of event_type × day-of-week: observed
    // integer counts, expected = row·col/total as exact-operand
    // double arithmetic, the statistic rounded to 4
    "q148_chi_square" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type").as("__r"), dayofweek(col("ts")).as("__c"))
      val obs = ev.groupBy("__r", "__c").agg(count(lit(1)).as("__o"))
      obs.persist()
      val rowT = obs.groupBy("__r").agg(sum("__o").as("__rt"))
      val colT = obs.groupBy("__c").agg(sum("__o").as("__ct"))
      val total = obs.agg(sum("__o")).head().getLong(0)
      val out = obs.join(rowT, "__r").join(colT, "__c")
        .withColumn("__e",
          col("__rt").cast("double") * col("__ct").cast("double") / total.toDouble)
        .agg(round(sum(
          (col("__o").cast("double") - col("__e")) *
            (col("__o").cast("double") - col("__e")) / col("__e")), 4)
          .as("chi_square"),
          count(lit(1)).as("n_cells"))
      graft.state.Checkpoints.stableThenRelease(out, () => obs.unpersist())
    }),

    // per-type activity trend: least-squares slope of daily counts
    // over the day number — every OLS moment is an exact integer sum,
    // so the slope is ONE division of exact operands (bit-identical
    // in any engine)
    "q145_trend_slopes" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyTrendSlopes(Tables.events(s, d))),

    // per-brand price/size skyline: parts no other part of the brand
    // strictly dominates (cheaper and at-least-as-big, or same price
    // and strictly bigger)
    "q240_pareto_skyline" -> ((s, d) =>
      graft.operators.AnalyticsOps.paretoFrontier(
        Tables.part(s, d), "p_brand", "p_partkey",
        "p_retailprice", "p_size", xScale = 0.01)),

    // CUPED variance-reduced A/B readout: md5-bucket arms, calendar
    // halves as pre/post, all adjustments from exact integer moments
    "q245_cuped_experiment" -> ((s, d) =>
      graft.operators.AnalyticsOps.cupedReport(Tables.events(s, d))),

    // q148's contingency table upgraded to cell-level diagnostics:
    // Haberman adjusted residuals say WHICH (type, weekday) cells
    // drive the dependence, Cramér's V gives the effect size the raw
    // chi-square lacks; counts exact, each statistic a fixed closing
    // double tree over them
    "q247_cramers_v_residuals" -> ((s, d) => {
      val obs = Tables.events(s, d)
        .select(col("event_type").as("__r"), dayofweek(col("ts")).as("__c"))
        .groupBy("__r", "__c").agg(count(lit(1)).as("__o"))
      obs.persist()
      val rowT = obs.groupBy("__r").agg(sum("__o").as("__rt"))
      val colT = obs.groupBy("__c").agg(sum("__o").as("__ct"))
      val total = obs.agg(sum("__o")).head().getLong(0)
      val nD = total.toDouble
      val cells = obs.join(rowT, "__r").join(colT, "__c")
        .withColumn("__e",
          col("__rt").cast("double") * col("__ct").cast("double") / nD)
      val summary = cells.agg(
        sum((col("__o").cast("double") - col("__e")) *
          (col("__o").cast("double") - col("__e")) / col("__e")).as("__chi2"),
        countDistinct("__r").as("__nr"), countDistinct("__c").as("__nc"))
        .select((col("__chi2") / (lit(nD) *
          least(col("__nr") - 1, col("__nc") - 1).cast("double"))).as("__v2"))
      val out = cells.crossJoin(broadcast(summary))
        .select(col("__r").as("event_type"), col("__c").as("dow"),
          col("__o").as("n"), round(col("__e"), 4).as("expected"),
          // e4 lattice: O − E on an independent table is a ±ε fp
          // residue (VERDICT r15 #2); expected/cramers_v stay
          // round() — non-negative by construction (product of
          // positive marginals; sqrt of a sum of squares)
          graft.functions.Lattice.e4(
            (col("__o").cast("double") - col("__e")) /
            sqrt(col("__e") *
              (lit(1.0) - col("__rt").cast("double") / nD) *
              (lit(1.0) - col("__ct").cast("double") / nD)))
            .as("adj_residual"),
          round(sqrt(col("__v2")), 6).as("cramers_v"))
      graft.state.Checkpoints.stableThenRelease(out, () => obs.unpersist())
    }),

    // Simpson's-paradox screen: does the pooled discount→quantity
    // slope reverse inside supplier nations? Slope SIGNS come from
    // the exact integer numerator nΣxy−ΣxΣy (discount scaled ×100 to
    // an exact integer), so agreement flags carry no fp at all
    "q249_simpsons_screen" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val rows = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").as("nation"),
          round(col("l_discount") * 100).cast(dec).as("__x"),
          col("l_quantity").cast(dec).as("__y"))
      def moments(df: DataFrame, keys: Seq[String]) = {
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
        g.agg(count(lit(1)).cast(dec).as("__n"),
          sum("__x").as("__sx"), sum("__y").as("__sy"),
          sum(col("__x") * col("__y")).as("__sxy"),
          sum(col("__x") * col("__x")).as("__sxx"))
      }
      def num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
      def den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
      val overall = moments(rows, Seq.empty)
        .select(signum(num.cast("double")).cast(IntegerType).as("__osign"),
          round(when(den > 0, num.cast("double") / den.cast("double")), 6)
            .as("overall_slope"))
      moments(rows, Seq("nation")).crossJoin(broadcast(overall))
        .select(col("nation"), col("__n").cast(LongType).as("n_rows"),
          round(when(den > 0, num.cast("double") / den.cast("double")), 6)
            .as("slope"),
          signum(num.cast("double")).cast(IntegerType).as("sign"),
          col("overall_slope"),
          when(signum(num.cast("double")).cast(IntegerType) * col("__osign")
            < 0, 1).otherwise(0).as("reversed"))
    }),

    // difference-in-differences on the same md5-arm / calendar-half
    // scaffold as q245; SE via the exact-moment variance identity
    "q252_diff_in_diff" -> ((s, d) =>
      graft.operators.AnalyticsOps.didReport(Tables.events(s, d))),

    // exact sliding 7-day distinct actives per day (the rollup that
    // cannot be summed from daily distincts); q219's HLL merge is the
    // sketch sibling
    "q254_sliding_dau" -> ((s, d) =>
      graft.operators.AnalyticsOps.slidingDau(Tables.events(s, d))),

    // quantity-weighted median discount per return flag: the weighted
    // quantile percentile_cont can't express; integer crossing rule
    "q257_weighted_median" -> ((s, d) =>
      graft.operators.AnalyticsOps.weightedMedian(
        Tables.lineitem(s, d)
          .withColumn("disc_x100",
            round(col("l_discount") * 100).cast(LongType)),
        "l_returnflag", "disc_x100", "l_quantity")),

    // pairwise Jensen-Shannon divergence between source unigram
    // distributions — the corpus-mixing "how different" matrix
    "q260_source_js_divergence" -> ((s, d) =>
      graft.text.TextOps.sourceDivergenceMatrix(
        Tables.documents(s, d), "source", "text")),

    // seasonal anomaly: each day judged against OTHER days of its own
    // weekday (leave-one-out exact-moment baseline, no windows)
    "q262_dow_anomaly" -> ((s, d) =>
      graft.operators.AnalyticsOps.dowAdjustedAnomaly(Tables.events(s, d))),

    // exact Spearman: does bigger discount MONOTONICALLY buy more
    // quantity — doubled-midrank integers, five Decimal moments,
    // one closing expression
    "q285_spearman" -> ((s, d) =>
      graft.operators.AnalyticsOps.spearman(
        Tables.lineitem(s, d), "l_discount", "l_quantity")),

    // exact Kendall tau-b on the joint value histogram — O(cells²)
    // not O(rows²); completes the Pearson/Spearman/Kendall family
    "q286_kendall_tau" -> ((s, d) =>
      graft.operators.AnalyticsOps.kendallTau(
        Tables.lineitem(s, d), "l_discount", "l_quantity")),

    // 10%-trimmed mean of line revenue per return flag — the robust
    // location report; order statistics off the rank-covered
    // histogram, never a sort
    "q292_trimmed_mean" -> ((s, d) =>
      graft.operators.AnalyticsOps.trimmedMean(
        Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
        trimDenom = 10)),

    // Bowley quartile skewness of order value per priority — the
    // moment-free skew (no cubes to overflow, no fp accumulation)
    "q293_bowley_skew" -> ((s, d) =>
      graft.operators.AnalyticsOps.bowleySkew(
        Tables.orders(s, d), "o_orderpriority", "o_totalprice")),

    // revenue inequality per nation: Gini over per-customer exact
    // Decimal revenue (the q280 revenue definition)
    "q294_gini" -> ((s, d) => {
      val dec = DecimalType(38, 6)
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).as("revenue"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
      graft.operators.AnalyticsOps.gini(rev, "c_nationkey", "revenue")
    }),

    // winsorized (clamped) mean beside q292's trimmed (dropped) mean
    "q295_winsorized_mean" -> ((s, d) =>
      graft.operators.AnalyticsOps.winsorizedMean(
        Tables.lineitem(s, d), "l_returnflag", "l_extendedprice",
        trimDenom = 10)),

    // the distribution behind q294's number: bottom-decile cumulative
    // revenue shares per nation (Lorenz curve at 10 rank points)
    "q296_lorenz_deciles" -> ((s, d) => {
      val dec = DecimalType(38, 6)
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).as("revenue"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
      graft.operators.AnalyticsOps.lorenzDeciles(rev, "c_nationkey",
        "revenue")
    }),

    // burstiness screen: Fano dispersion of zero-filled daily counts
    // per event type (≈1 Poisson, ≫1 bursty, ≪1 metronomic)
    "q297_dispersion_index" -> ((s, d) =>
      graft.operators.AnalyticsOps.dispersionIndex(Tables.events(s, d))),

    // subgroup treatment effects: the q245 arms contrasted per event
    // type on user-level activity — Welch SE from exact moments; the
    // heterogeneity table behind "did the effect concentrate
    // somewhere" (exact counts, fixed closing trees)
    "q283_subgroup_effects" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val perUser = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast(dec).as("__y"))
        .withColumn("__t", (graft.operators.SplitOps.hashBucket(
          concat(col("user_id").cast(StringType), lit("|exp"))) % 2 === 1)
          .cast(IntegerType))
      val m = perUser.groupBy("event_type", "__t")
        .agg(count(lit(1)).cast(dec).as("__n"),
          sum("__y").as("__sy"),
          sum(col("__y") * col("__y")).as("__syy"))
      val n2 = (col("__n") * col("__n")).cast(DoubleType)
      val mean = col("__sy").cast(DoubleType) / col("__n").cast(DoubleType)
      val varM = (col("__n") * col("__syy") - col("__sy") * col("__sy"))
        .cast(DoubleType) / n2
      val side = m.select(col("event_type"), col("__t"),
        col("__n").cast(LongType).as("n"), mean.as("mu"),
        varM.as("vv"))
      val c = side.filter(col("__t") === 0)
        .select(col("event_type"), col("n").as("n_control"),
          col("mu").as("__mc"), col("vv").as("__vc"))
      val t = side.filter(col("__t") === 1)
        .select(col("event_type"), col("n").as("n_treatment"),
          col("mu").as("__mt"), col("vv").as("__vt"))
      val se = sqrt(col("__vt") / col("n_treatment").cast(DoubleType)
        + col("__vc") / col("n_control").cast(DoubleType))
      c.join(t, "event_type")
        .select(col("event_type"), col("n_control"), col("n_treatment"),
          round(col("__mc"), 6).as("mean_control"),
          round(col("__mt"), 6).as("mean_treatment"),
          // effect / t_stat are fp differences of per-arm means — a
          // no-effect subgroup closes on a ±ε residue (VERDICT r15 #2)
          graft.functions.Lattice.e6(col("__mt") - col("__mc"))
            .as("effect"),
          round(se, 6).as("se"),
          graft.functions.Lattice.e4(
            when(se > 0, (col("__mt") - col("__mc")) / se))
            .as("t_stat"))
    }),

    // label-noise screen: exact-duplicate clusters whose members
    // disagree on the language label — same content, different tags
    "q284_dup_label_conflicts" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .select(md5(graft.text.TextOps.normalizeText(col("text")))
          .as("__k"), col("lang"), col("doc_id"))
        .groupBy("__k")
        .agg(count(lit(1)).as("__n"),
          countDistinct("lang").as("__nl"))
      g.agg(count(lit(1)).as("n_clusters"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        sum(when(col("__nl") > 1, 1L).otherwise(0L))
          .as("n_conflicted_clusters"),
        sum(when(col("__nl") > 1, col("__n")).otherwise(0L))
          .as("n_docs_in_conflicted"))
    }),

    // nonparametric median CI per event type: binomial order-statistic
    // bounds, values off the histogram cumsum — corpus never sorts
    "q282_median_ci" -> ((s, d) =>
      graft.operators.AnalyticsOps.medianCI(
        Tables.events(s, d).filter(col("value").isNotNull),
        "event_type", "value")),

    // whale report: share of total revenue carried by the top 1% and
    // top 10% of customers — per-customer exact Decimal revenue,
    // rank via the two-level cumsum, integer ceil thresholds
    "q280_whale_report" -> ((s, d) => {
      val dec = DecimalType(38, 6)
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(dec)).as("__r"))
      val (bucketed, wi) = graft.operators.TwoLevelCumsum.withOffsets(
        rev.withColumn("__neg", (-col("__r")).cast(dec)),
        expr("CAST(__neg AS BIGINT) div 1024L"), lit(1L),
        Seq(col("__neg").asc, col("o_custkey").asc))
      val ranked = bucketed
        .withColumn("__rk", col("__off") + sum("__w").over(wi))
      val totals = rev.agg(count(lit(1)).as("__nc"),
        sum("__r").cast(dec).as("__tot"))
      ranked.crossJoin(broadcast(totals))
        .agg(max("__nc").as("n_customers"),
          // cast to the oracle's exact width: DuckDB round(DECIMAL(38,6), 2)
          // stays precision 38, Spark round narrows to (35,2) — the
          // driver hash compares physical arrow types (VERDICT r12 #3)
          round(max("__tot"), 2).cast(DecimalType(38, 2))
            .as("total_revenue"),
          round(sum(when(col("__rk") * 100 <= col("__nc"), col("__r"))
            .otherwise(lit(0).cast(dec))).cast(DoubleType)
            / max("__tot").cast(DoubleType), 6).as("share_top_1pct"),
          round(sum(when(col("__rk") * 10 <= col("__nc"), col("__r"))
            .otherwise(lit(0).cast(dec))).cast(DoubleType)
            / max("__tot").cast(DoubleType), 6).as("share_top_10pct"))
    }),

    // ratio-metric A/B readout via the delta method: revenue-per-event
    // is a ratio of USER-level sums, so its variance needs the
    // covariance correction naive per-event variance misses —
    // var(X̄/Ȳ) ≈ (σx² − 2R·σxy + R²·σy²) / (n·Ȳ²) with R = X̄/Ȳ;
    // every moment an exact lattice integer, the correction one fixed
    // closing tree per arm
    "q275_ratio_metric_delta" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val perUser = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 1000000).cast(LongType)).cast(dec)
          .as("__x"),
          count(lit(1)).cast(dec).as("__y"))
        .withColumn("arm", when(graft.operators.SplitOps.hashBucket(
          concat(col("user_id").cast(StringType), lit("|exp"))) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
      val m = perUser.groupBy("arm").agg(
        count(lit(1)).cast(dec).as("__n"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
      val n2 = (col("__n") * col("__n")).cast(DoubleType)
      val vx = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
        .cast(DoubleType) / n2
      val vy = (col("__n") * col("__syy") - col("__sy") * col("__sy"))
        .cast(DoubleType) / n2
      val cxy = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
        .cast(DoubleType) / n2
      val mx = col("__sx").cast(DoubleType) / col("__n").cast(DoubleType)
      val my = col("__sy").cast(DoubleType) / col("__n").cast(DoubleType)
      val r = mx / my
      val varR = (vx - lit(2.0) * r * cxy + r * r * vy) /
        (col("__n").cast(DoubleType) * (my * my))
      m.select(col("arm"), col("__n").cast(LongType).as("n_users"),
        round(r / 1000000.0, 6).as("revenue_per_event"),
        round(sqrt(greatest(lit(0.0), varR)) / 1000000.0, 6).as("se_delta"))
    }),

    // Wasserstein-1 drift magnitude between source length
    // distributions — the integral companion to q267's max deviation
    "q274_emd_matrix" -> ((s, d) =>
      graft.operators.AnalyticsOps.emdMatrix(
        Tables.documents(s, d)
          .select(col("source"),
            graft.text.TextOps.tokenCount(col("text")).cast(LongType)
              .as("n_tokens")),
        "source", "n_tokens")),

    // variance-optimal stratified sampling: a 2000-row budget splits
    // across event types by N_h·σ_h (Neyman allocation)
    "q270_neyman_sample" -> ((s, d) =>
      graft.operators.SplitOps.neymanSample(
        Tables.events(s, d).filter(col("value").isNotNull),
        "event_id", "event_type", "value", totalSample = 2000L)),

    // how much of each type's daily variation is just its weekday
    // profile — the STL-strength measure on exact moments
    "q271_seasonality_strength" -> ((s, d) =>
      graft.operators.AnalyticsOps.seasonalityStrength(Tables.events(s, d))),

    // forecast baseline backtest: naive (yesterday) vs seasonal-naive
    // (same weekday last week) MAE per event type — exact integer
    // error sums, one closing division each; a day is scored only
    // when BOTH baselines have their reference day, so the two MAEs
    // compare on the same support
    "q268_forecast_backtest" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type").as("g"), to_date(col("ts")).as("day"))
        .groupBy("g", "day").agg(count(lit(1)).as("n"))
      val d1 = daily.select(col("g"), date_add(col("day"), 1).as("day"),
        col("n").as("n1"))
      val d7 = daily.select(col("g"), date_add(col("day"), 7).as("day"),
        col("n").as("n7"))
      daily.join(d1, Seq("g", "day")).join(d7, Seq("g", "day"))
        .groupBy(col("g").as("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("n1"))).as("__e1"),
          sum(abs(col("n") - col("n7"))).as("__e7"))
        .select(col("event_type"), col("n_days"),
          round(col("__e1").cast(DoubleType) / col("n_days").cast(DoubleType),
            4).as("mae_naive"),
          round(col("__e7").cast(DoubleType) / col("n_days").cast(DoubleType),
            4).as("mae_seasonal"),
          when(col("__e7") < col("__e1"), 1).otherwise(0)
            .as("seasonal_wins"))
    }),

    // pairwise two-sample KS on doc token counts across sources —
    // the binning-free drift test beside q205's PSI
    "q267_ks_matrix" -> ((s, d) =>
      graft.operators.AnalyticsOps.ksMatrix(
        Tables.documents(s, d)
          .select(col("source"),
            graft.text.TextOps.tokenCount(col("text")).cast(LongType)
              .as("n_tokens")),
        "source", "n_tokens")),

    // distribution-free feature scaling: per-segment dense-rank
    // normalization of account balances to [0, 1]
    "q265_rank_normalize" -> ((s, d) =>
      graft.operators.AnalyticsOps.rankNormalize(
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        "c_mktsegment", "c_acctbal")),

    // grouped IQR outlier report (the Tukey fence rule, per group):
    // quartiles via percentile_cont (the q38-proven surface), fences
    // at 1.5·IQR, outliers counted per event type — the grouped twin
    // of §2.3 FilterOutliers
    "q134_iqr_outliers" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val fences = ev.groupBy("event_type").agg(
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY value)").as("__q1"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY value)").as("__q3"))
        .withColumn("__lo", col("__q1") - (col("__q3") - col("__q1")) * 1.5)
        .withColumn("__hi", col("__q3") + (col("__q3") - col("__q1")) * 1.5)
      ev.join(broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
          sum(when(col("value") < col("__lo") || col("value") > col("__hi"), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_rows"),
          // e4 lattice: fence_lo = q1 − 1.5·IQR is a fp difference
          // that can cancel to a ±ε residue (VERDICT r15 #2)
          graft.functions.Lattice.e4(first(col("__lo"))).as("fence_lo"),
          graft.functions.Lattice.e4(first(col("__hi"))).as("fence_hi"))
    }),

    // per-day event-count anomaly vs the PRECEDING 7-day baseline:
    // mean/variance from exact integer sums (no Welford divergence),
    // z NULL on empty or flat baselines
    "q127_daily_anomaly" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyAnomalyScores(Tables.events(s, d)))
  )

  val oracle: Map[String, String] = Map(
    // identical nine HUGEINT moments and Cramer expansions; one
    // closing division per coefficient
    "q235_ols_two_feature" ->
      raw"""WITH feat AS (
        |  SELECT lang,
        |    CAST(${wsTokenCount(6)} AS HUGEINT) AS y,
        |    CAST(n_chars AS HUGEINT) AS x1,
        |    CAST(CASE WHEN length(trim(text, $ws)) = 0 THEN 0
        |      ELSE len(list_distinct(regexp_split_to_array(trim(text, $ws), '\s+')))
        |      END AS HUGEINT) AS x2
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |), m AS (
        |  SELECT lang, count(*) AS n,
        |    sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
        |    sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
        |    sum(x1*y) AS s1y, sum(x2*y) AS s2y
        |  FROM feat GROUP BY 1
        |), dets AS (
        |  SELECT lang, n,
        |    CAST(n AS HUGEINT)*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2) AS det,
        |    sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y) AS det0,
        |    CAST(n AS HUGEINT)*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2) AS det1,
        |    CAST(n AS HUGEINT)*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2) AS det2
        |  FROM m
        |)
        |SELECT lang, n,
        |  floor(CASE WHEN det <> 0 THEN CAST(det0 AS DOUBLE)/CAST(det AS DOUBLE) END * 1e6 + 0.5) / 1e6 AS b0,
        |  floor(CASE WHEN det <> 0 THEN CAST(det1 AS DOUBLE)/CAST(det AS DOUBLE) END * 1e6 + 0.5) / 1e6 AS b1,
        |  floor(CASE WHEN det <> 0 THEN CAST(det2 AS DOUBLE)/CAST(det AS DOUBLE) END * 1e6 + 0.5) / 1e6 AS b2
        |FROM dets""".stripMargin,

    // same dense zero-filled grid; day alignment by integer offset,
    // HUGEINT moments, the q146 closing expression per (pair, lag)
    "q227_lead_lag" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT g FROM daily
        |), days AS (SELECT DISTINCT day FROM daily
        |), dense AS (
        |  SELECT gr.g, datediff('day', DATE '1970-01-01', d.day) AS d,
        |    COALESCE(da.n, 0) AS n
        |  FROM groups gr CROSS JOIN days d
        |  LEFT JOIN daily da ON da.g = gr.g AND da.day = d.day
        |), lags AS (SELECT range AS lag FROM range(-3, 4)
        |), mom AS (
        |  SELECT a.g AS group_a, b.g AS group_b, l.lag,
        |    count(*) AS nd,
        |    sum(CAST(a.n AS HUGEINT)) AS sx, sum(CAST(b.n AS HUGEINT)) AS sy,
        |    sum(CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT)) AS sxy,
        |    sum(CAST(a.n AS HUGEINT) * CAST(a.n AS HUGEINT)) AS sxx,
        |    sum(CAST(b.n AS HUGEINT) * CAST(b.n AS HUGEINT)) AS syy
        |  FROM dense a CROSS JOIN lags l
        |  JOIN dense b ON b.d = a.d + l.lag AND a.g < b.g
        |  GROUP BY 1, 2, 3
        |)
        |SELECT group_a, group_b, CAST(lag AS INTEGER) AS lag,
        |  CAST(nd AS BIGINT) AS n_days,
        |  floor(CASE WHEN vx > 0 AND vy > 0
        |    THEN CAST(num AS DOUBLE)
        |      / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END
        |    * 1e6 + 0.5) / 1e6 AS pearson_r
        |FROM mom, LATERAL (SELECT nd * sxx - sx * sx AS vx,
        |  nd * syy - sy * sy AS vy, nd * sxy - sx * sy AS num) l2""".stripMargin,

    // cumulative HUGEINT moments per group, the identical three-term
    // gain tree, row_number argmax (gain DESC, day ASC)
    "q228_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT g FROM daily
        |), days AS (SELECT DISTINCT day FROM daily
        |), dense AS (
        |  SELECT gr.g, d.day, COALESCE(da.n, 0) AS n
        |  FROM groups gr CROSS JOIN days d
        |  LEFT JOIN daily da ON da.g = gr.g AND da.day = d.day
        |), cum AS (
        |  SELECT g, day,
        |    count(*) OVER w AS cn,
        |    sum(CAST(n AS HUGEINT)) OVER w AS cs,
        |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) OVER w AS cq
        |  FROM dense
        |  WINDOW w AS (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), tot AS (
        |  SELECT g, count(*) AS tn, sum(CAST(n AS HUGEINT)) AS ts,
        |    sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS tq
        |  FROM dense GROUP BY 1
        |), scored AS (
        |  SELECT c.g, c.day, c.cn, c.cs, t.tn, t.ts,
        |    (CAST(t.tq AS DOUBLE) - CAST(t.ts AS DOUBLE) * CAST(t.ts AS DOUBLE)
        |      / CAST(t.tn AS DOUBLE))
        |    - (CAST(c.cq AS DOUBLE) - CAST(c.cs AS DOUBLE)
        |      * CAST(c.cs AS DOUBLE) / CAST(c.cn AS DOUBLE))
        |    - (CAST(t.tq - c.cq AS DOUBLE) - CAST(t.ts - c.cs AS DOUBLE)
        |      * CAST(t.ts - c.cs AS DOUBLE) / CAST(t.tn - c.cn AS DOUBLE))
        |      + 0 AS gain
        |  FROM cum c JOIN tot t USING (g) WHERE c.cn < t.tn
        |), best AS (
        |  SELECT g, day, cn, cs, tn, ts, gain,
        |    row_number() OVER (PARTITION BY g ORDER BY gain DESC, day ASC)
        |      AS rn
        |  FROM scored
        |)
        |SELECT g AS event_type, day AS split_day,
        |  CAST(tn AS BIGINT) AS n_days,
        |  round(CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE), 6) + 0 AS mean_before,
        |  round(CAST(ts - cs AS DOUBLE) / CAST(tn - cn AS DOUBLE), 6)
        |    + 0 AS mean_after,
        |  floor(gain * 1e6 + 0.5) / 1e6 AS gain
        |FROM best WHERE rn = 1""".stripMargin,

    // the same md5 coin and band rotation; kappa entirely in HUGEINT
    // count products with three closing divisions
    "q220_fleiss_kappa" ->
      """WITH docs AS (
        |  SELECT doc_id, length(text) AS len FROM documents
        |  WHERE text IS NOT NULL
        |), ann AS (
        |  SELECT doc_id,
        |    CASE WHEN idx = 0 THEN 'short' WHEN idx = 1 THEN 'medium'
        |      ELSE 'long' END AS label
        |  FROM (
        |    SELECT doc_id,
        |      (CASE WHEN len < 150 THEN 0 WHEN len < 300 THEN 1 ELSE 2 END
        |       + CASE WHEN ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
        |           || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10 < 2
        |         THEN 1 ELSE 0 END) % 3 AS idx
        |    FROM docs CROSS JOIN (SELECT unnest([1, 2, 3]) AS r) raters)
        |), nij AS (
        |  SELECT doc_id, label, count(*) AS nij FROM ann GROUP BY 1, 2
        |), peritem AS (
        |  SELECT sum(CAST(nij AS HUGEINT) * CAST(nij AS HUGEINT)) AS ssq,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items
        |  FROM nij
        |), perlabel AS (
        |  SELECT sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM (SELECT label, sum(nij) AS c FROM nij GROUP BY 1)
        |)
        |SELECT n_items, CAST(3 AS BIGINT) AS n_raters, k AS n_categories,
        |  round(CAST(num1 AS DOUBLE) / CAST(d1 AS DOUBLE), 6) AS p_bar,
        |  round(CAST(s2 AS DOUBLE) / CAST(d2 AS DOUBLE), 6) AS p_e,
        |  round(CAST(num1 * d2 - s2 * d1 AS DOUBLE)
        |    / CAST(d1 * (d2 - s2) AS DOUBLE), 6) + 0 AS fleiss_kappa
        |FROM peritem, perlabel,
        |  LATERAL (SELECT
        |    ssq - CAST(n_items AS HUGEINT) * 3 AS num1,
        |    CAST(n_items AS HUGEINT) * 3 * 2 AS d1,
        |    CAST(n_items AS HUGEINT) * 3 * CAST(n_items AS HUGEINT) * 3
        |      AS d2) l""".stripMargin,

    // q202's span/censor scaffold with the hazard-sum estimator and
    // Klein's variance, both as the same ordered window fold
    "q217_nelson_aalen" ->
      raw"""WITH $retentionSpans, atday AS (
        |  SELECT cohort, t,
        |    sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN censored THEN 1 ELSE 0 END) AS c
        |  FROM spans GROUP BY 1, 2
        |), risked AS (
        |  SELECT cohort, t, CAST(d AS BIGINT) AS d,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM atday
        |), curves AS (
        |  SELECT cohort, t, n_risk, d,
        |    sum(CASE WHEN d > 0 THEN
        |        CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      ELSE 0.0 END) OVER w AS h,
        |    sum(CASE WHEN d > 0 THEN
        |        CAST(d AS DOUBLE) * CAST(n_risk - d AS DOUBLE) /
        |          (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)
        |            * CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS v
        |  FROM risked
        |  WINDOW w AS (PARTITION BY cohort ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT cohort, t AS t_days, n_risk, d,
        |  round(h, 6) AS cum_hazard,
        |  round(sqrt(v), 6) AS na_se
        |FROM curves""".stripMargin,

    // dense cohort x span-day frame, reverse-cumulative at-risk,
    // per-day totals, ordered E/V folds, last-row pick at max t
    "q218_logrank" ->
      raw"""WITH $retentionSpans, atday AS (
        |  SELECT cohort, t,
        |    sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN censored THEN 1 ELSE 0 END) AS c
        |  FROM spans GROUP BY 1, 2
        |), coh AS (
        |  SELECT cohort, CAST(sum(d + c) AS BIGINT) AS n_users
        |  FROM atday GROUP BY 1
        |), times AS (SELECT DISTINCT t FROM atday),
        |dense AS (
        |  SELECT c.cohort, c.n_users, ti.t,
        |    COALESCE(a.d, 0) AS d1, COALESCE(a.c, 0) AS c1
        |  FROM coh c CROSS JOIN times ti
        |  LEFT JOIN atday a ON a.cohort = c.cohort AND a.t = ti.t
        |), risked AS (
        |  SELECT cohort, n_users, t, d1,
        |    sum(d1 + c1) OVER (PARTITION BY cohort ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
        |  FROM dense
        |), tt AS (
        |  SELECT t, sum(d1) AS dt, sum(n1) AS nt FROM risked GROUP BY 1
        |), terms AS (
        |  SELECT r.cohort, r.n_users, r.t, r.d1, tt.dt,
        |    sum(CASE WHEN tt.dt > 0 THEN
        |        CAST(r.n1 AS DOUBLE) * CAST(tt.dt AS DOUBLE)
        |          / CAST(tt.nt AS DOUBLE)
        |      ELSE 0.0 END) OVER w AS e,
        |    sum(CASE WHEN tt.dt > 0 AND tt.nt > 1 THEN
        |        CAST(tt.dt AS DOUBLE)
        |          * (CAST(r.n1 AS DOUBLE) / CAST(tt.nt AS DOUBLE))
        |          * (1.0 - CAST(r.n1 AS DOUBLE) / CAST(tt.nt AS DOUBLE))
        |          * CAST(tt.nt - tt.dt AS DOUBLE)
        |          / (CAST(tt.nt AS DOUBLE) - 1.0)
        |      ELSE 0.0 END) OVER w AS v
        |  FROM risked r JOIN tt USING (t)
        |  WINDOW w AS (PARTITION BY cohort ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), lastrow AS (
        |  SELECT cohort, max(t) AS mt FROM terms GROUP BY 1
        |), obs AS (
        |  SELECT cohort,
        |    CAST(sum(CASE WHEN dt > 0 THEN d1 ELSE 0 END) AS BIGINT)
        |      AS observed
        |  FROM terms GROUP BY 1
        |)
        |SELECT t2.cohort, t2.n_users, o.observed,
        |  round(t2.e, 4) AS expected,
        |  floor(CASE WHEN t2.v > 0
        |    THEN (CAST(o.observed AS DOUBLE) - t2.e) / sqrt(t2.v) END
        |    * 1e4 + 0.5) / 1e4 AS logrank_z
        |FROM terms t2 JOIN lastrow l ON l.cohort = t2.cohort AND l.mt = t2.t
        |JOIN obs o ON o.cohort = t2.cohort""".stripMargin,

    // identical quantized moments and the SAME double expression tree
    // as the engine: mean s/n/1e6, var (q - s*s/n)/(n-1)/1e12
    "q213_welch_ttest" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), per AS (
        |  SELECT g, count(*) AS n, sum(CAST(v AS HUGEINT)) AS s,
        |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q
        |  FROM rows_ GROUP BY 1
        |), tot AS (
        |  SELECT sum(n) AS cnt, sum(s) AS ts, sum(q) AS tq FROM per
        |)
        |SELECT g AS event_type, n,
        |  mean1 AS mean,
        |  CASE WHEN n > 1 AND m > 1 AND se > 0
        |    THEN (mean1 - mean2) / sqrt(se) END AS t,
        |  CASE WHEN n > 1 AND m > 1 AND se > 0
        |    THEN se * se / (se1 * se1 / (CAST(n AS DOUBLE) - 1.0)
        |      + se2 * se2 / (CAST(m AS DOUBLE) - 1.0)) END AS df
        |FROM per, tot,
        |  LATERAL (SELECT cnt - n AS m) a,
        |  LATERAL (SELECT
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean1,
        |    CAST(ts - s AS DOUBLE) / CAST(m AS DOUBLE) / 1e6 AS mean2,
        |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e12
        |      / CAST(n AS DOUBLE) AS se1,
        |    (CAST(tq - q AS DOUBLE) - CAST(ts - s AS DOUBLE)
        |      * CAST(ts - s AS DOUBLE) / CAST(m AS DOUBLE))
        |      / (CAST(m AS DOUBLE) - 1.0) / 1e12
        |      / CAST(m AS DOUBLE) AS se2) b,
        |  LATERAL (SELECT se1 + se2 AS se) c""".stripMargin,

    // DuckDB counts Sunday = 0 where Spark counts Sunday = 1 — the +1
    // aligns the labels (q148's chi-square was label-invariant and
    // never needed this; a labeled report does)
    "q167_dow_seasonality" ->
      """WITH byd AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, count(*) AS t FROM events GROUP BY 1
        |)
        |SELECT b.event_type, CAST(b.dow AS INTEGER) AS dow, b.n_events,
        |  round(7.0::DOUBLE * b.n_events / t.t, 4) AS seasonal_index
        |FROM byd b JOIN tot t USING (event_type)""".stripMargin,

    // same dense zero-filled calendar grid, lag equi-join, and
    // exact-integer-moment Pearson (DuckDB widens the sums to HUGEINT
    // — the same exactness envelope as the engine's Decimal(38,0))
    "q170_lag_autocorrelation" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), grp AS (SELECT DISTINCT g FROM daily),
        |cal AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT grp.g, cal.day, COALESCE(daily.n, 0) AS n
        |  FROM grp CROSS JOIN cal
        |  LEFT JOIN daily ON daily.g = grp.g AND daily.day = cal.day
        |), lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
        |pairs AS (
        |  SELECT a.g, l.lag, a.n AS x, b.n AS y
        |  FROM dense a CROSS JOIN lags l
        |  JOIN dense b ON b.g = a.g AND b.day = a.day + l.lag
        |), m AS (
        |  SELECT g AS event_type, lag, count(*) AS n_pairs,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pairs GROUP BY 1, 2
        |)
        |SELECT event_type, lag, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  floor(CASE WHEN n_pairs * sxx - sx * sx > 0
        |              AND n_pairs * syy - sy * sy > 0
        |    THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
        |           * CAST(n_pairs * syy - sy * sy AS DOUBLE))
        |  END * 1e6 + 0.5) / 1e6 AS acf
        |FROM m""".stripMargin,

    // same dense grid and dyadic weights: the numerator is an exact
    // integer both sides (1 << (15 - j)), one closing IEEE division
    "q171_ewma_daily" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), grp AS (SELECT DISTINCT g FROM daily),
        |cal AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT grp.g, cal.day, COALESCE(daily.n, 0) AS n
        |  FROM grp CROSS JOIN cal
        |  LEFT JOIN daily ON daily.g = grp.g AND daily.day = cal.day
        |), js AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS j),
        |contrib AS (
        |  SELECT d.g, cal.day, d.n * (CAST(1 AS BIGINT) << (15 - js.j)) AS w
        |  FROM dense d CROSS JOIN js
        |  JOIN cal ON cal.day = d.day + js.j
        |), num AS (
        |  SELECT g, day, sum(w) AS num FROM contrib GROUP BY 1, 2
        |)
        |SELECT num.g AS event_type, num.day, dense.n AS n_events,
        |  round(CAST(num.num AS DOUBLE) / 65536.0, 6) + 0 AS ewma
        |FROM num JOIN dense ON dense.g = num.g AND dense.day = num.day""".stripMargin,

    // identical digit extraction (floor -> BIGINT -> first character),
    // dense digit grid, and chi-square over exact integer counts; the
    // CAST(1 AS DOUBLE) guards DuckDB's DECIMAL literal parsing
    "q174_benford_profile" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |      1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1
        |), c AS (SELECT g, digit, count(*) AS n FROM v GROUP BY 1, 2),
        |t AS (SELECT g, count(*) AS t FROM v GROUP BY 1),
        |digits AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
        |dense AS (
        |  SELECT t.g, t.t, digits.digit, COALESCE(c.n, 0) AS n
        |  FROM t CROSS JOIN digits
        |  LEFT JOIN c ON c.g = t.g AND c.digit = digits.digit
        |), chi AS (
        |  SELECT g, round(sum(
        |    (CAST(n AS DOUBLE) - t * log10(1 + CAST(1 AS DOUBLE) / digit))
        |    * (CAST(n AS DOUBLE) - t * log10(1 + CAST(1 AS DOUBLE) / digit))
        |    / (t * log10(1 + CAST(1 AS DOUBLE) / digit))), 4) AS chi2
        |  FROM dense GROUP BY 1
        |)
        |SELECT dense.g AS o_orderpriority, dense.digit,
        |  CAST(dense.n AS BIGINT) AS n,
        |  round(CAST(dense.n AS DOUBLE) / dense.t, 6) AS obs_share,
        |  round(log10(1 + CAST(1 AS DOUBLE) / dense.digit), 6) AS benford_share,
        |  chi.chi2
        |FROM dense JOIN chi ON chi.g = dense.g""".stripMargin,

    // same two percentile_cont medians and the identical fixed-order
    // outlier comparison (dev*0.6745 > mad*3.5 — mad=0 counts every
    // off-median value)
    "q184_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, m.med, abs(e.value - m.med) AS dv
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL
        |), mad AS (
        |  SELECT event_type,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY dv) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN d.dv * 0.6745 > a.mad * 3.5
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(min(d.med), 4) AS median, round(min(a.mad), 4) AS mad
        |FROM dev d JOIN mad a USING (event_type)
        |GROUP BY 1""".stripMargin,

    // identical scaled-integer recomputation: P_t = running sum of
    // n*D - T, S_t = P_t - min(0, running min P), alarm on the integer
    // comparison S > 4*T; HUGEINT sums = the same exact envelope
    "q185_cusum_alarms" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT event_type FROM daily),
        |days AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT g.event_type, d.day, COALESCE(dl.n, 0) AS n
        |  FROM groups g CROSS JOIN days d
        |  LEFT JOIN daily dl ON dl.event_type = g.event_type AND dl.day = d.day
        |), tot AS (
        |  SELECT event_type, sum(n) AS t, count(*) AS dd FROM dense GROUP BY 1
        |), pre AS (
        |  SELECT e.event_type, e.day, e.n, t.t, t.dd,
        |    sum(e.n * t.dd - t.t) OVER (PARTITION BY e.event_type
        |      ORDER BY e.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM dense e JOIN tot t USING (event_type)
        |), s AS (
        |  SELECT event_type, day, n, t, dd,
        |    p - least(min(p) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      0) AS sv
        |  FROM pre
        |)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n_events,
        |  round(CAST(sv AS DOUBLE) / CAST(dd AS DOUBLE), 4) + 0 AS cusum,
        |  sv > 4 * t AS alarm
        |FROM s""".stripMargin,

    // the NAIVE per-user lag recomputation (fine in an oracle): same
    // gap multiset, exact HUGEINT moments, the same closing
    // cv = sqrt(n*Sgg - Sg^2)/Sg expression and rounded-cv filter
    "q186_bot_cadence" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap
        |  FROM events
        |), m AS (
        |  SELECT user_id, count(*) AS ng, sum(gap::HUGEINT) AS sg,
        |    sum(gap::HUGEINT * gap::HUGEINT) AS sgg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1
        |), cv AS (
        |  SELECT user_id, ng + 1 AS n_events, ng, sg,
        |    round(CASE WHEN sg > 0 THEN
        |      sqrt(CAST(ng * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE)
        |    END, 6) AS cv
        |  FROM m
        |)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  round(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1e6, 4) AS mean_gap_s,
        |  cv
        |FROM cv
        |WHERE n_events >= 15 AND (sg = 0 OR cv <= 0.8)""".stripMargin,

    // the identical draw: one md5 per 4-replicate block sliced into
    // four u32s, the same 2^32-scaled Poisson(1) CDF integer
    // thresholds, DECIMAL(18,6) operands, and percentile over the
    // same 6-decimal-rounded replicate means
    "q188_bootstrap_ci" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g, event_id AS id,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events WHERE value IS NOT NULL
        |), drawn AS (
        |  SELECT g, v, b.b * 4 + s.s AS r,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR) || '|' ||
        |      CAST(b.b AS VARCHAR) || '|boot'),
        |      s.s * 8 + 1, 8))::UBIGINT AS u
        |  FROM rows_
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS b) b
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
        |), wtd AS (
        |  SELECT g, r, v,
        |    CASE WHEN u < 1580030168 THEN 0
        |         WHEN u < 3160060337 THEN 1
        |         WHEN u < 3950075421 THEN 2
        |         WHEN u < 4213413783 THEN 3
        |         WHEN u < 4279248373 THEN 4
        |         WHEN u < 4292415291 THEN 5
        |         WHEN u < 4294609777 THEN 6
        |         WHEN u < 4294923276 THEN 7
        |         ELSE 8 END AS w
        |  FROM drawn
        |), cells AS (
        |  SELECT g, r,
        |    round(CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS m
        |  FROM wtd GROUP BY 1, 2 HAVING sum(w) > 0
        |), ci AS (
        |  SELECT g, count(*) AS n_reps,
        |    round(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 6) AS ci_lo,
        |    round(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 6) AS ci_hi
        |  FROM cells GROUP BY 1
        |), pt AS (
        |  SELECT g, count(*) AS n_rows,
        |    round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean
        |  FROM rows_ GROUP BY 1
        |)
        |SELECT ci.g AS event_type, pt.n_rows, pt.mean,
        |  CAST(ci.n_reps AS BIGINT) AS n_reps, ci.ci_lo, ci.ci_hi
        |FROM ci JOIN pt USING (g)""".stripMargin,

    "q191_robust_trend" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT g FROM daily),
        |days AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT gr.g, d.day - DATE '1970-01-01' AS x, COALESCE(dl.n, 0) AS y
        |  FROM groups gr CROSS JOIN days d
        |  LEFT JOIN daily dl ON dl.g = gr.g AND dl.day = d.day
        |), pairs AS (
        |  SELECT a.g,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) + 0 AS slope,
        |    CAST(sign(b.y - a.y) AS BIGINT) AS sgn
        |  FROM dense a JOIN dense b ON a.g = b.g AND a.x < b.x
        |), base AS (
        |  SELECT g,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY slope) AS sen,
        |    sum(sgn) AS s
        |  FROM pairs GROUP BY 1
        |), ties AS (
        |  SELECT g, sum(t * (t - 1) * (2 * t + 5)) AS tcorr,
        |    CAST(sum(t) AS BIGINT) AS n_days
        |  FROM (SELECT g, y, count(*) AS t FROM dense GROUP BY 1, 2)
        |  GROUP BY 1
        |)
        |SELECT b.g AS event_type, t.n_days,
        |  round(b.sen, 6) + 0 AS sen_slope, CAST(b.s AS BIGINT) AS mk_s,
        |  round(CASE
        |    WHEN b.s > 0 AND vs > 0 THEN CAST(b.s - 1 AS DOUBLE) / sqrt(vs)
        |    WHEN b.s < 0 AND vs > 0 THEN CAST(b.s + 1 AS DOUBLE) / sqrt(vs)
        |    WHEN vs > 0 THEN 0.0 END, 4) AS mk_z
        |FROM base b JOIN ties t USING (g),
        |  LATERAL (SELECT CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
        |    - t.tcorr AS DOUBLE) / 18.0 AS vs) v""".stripMargin,

    // same dense grid, pairwise slopes/signs, percentile median, and
    // the tie-corrected variance — all integer until the closing z
    // same histogram-midrank construction: doubled ranks stay integer,
    // HUGEINT moments, identical closing double expression
    "q201_rank_sum_test" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), hist AS (
        |  SELECT v, count(*) AS t FROM rows_ GROUP BY 1
        |), ranked AS (
        |  SELECT v, t,
        |    2 * (sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS r2
        |  FROM hist
        |), pgv AS (
        |  SELECT g, v, count(*) AS n FROM rows_ GROUP BY 1, 2
        |), stats AS (
        |  SELECT g, CAST(sum(p.n) AS BIGINT) AS n,
        |    sum(CAST(p.n AS HUGEINT) * CAST(r.r2 AS HUGEINT)) AS r2sum
        |  FROM pgv p JOIN ranked r USING (v) GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(t) AS HUGEINT) AS nn,
        |    sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
        |      - CAST(t AS HUGEINT)) AS ties
        |  FROM hist
        |)
        |SELECT g AS event_type, n,
        |  CAST(u2 AS DOUBLE) / 2.0 AS u,
        |  round(CASE WHEN varu > 0
        |    THEN (num - sign(num) * 0.5) / sqrt(varu) END, 4) + 0 AS z,
        |  round(CASE WHEN mu2 > 0
        |    THEN CAST(u2 AS DOUBLE) / CAST(mu2 AS DOUBLE) - 1.0 END, 4)
        |    AS rank_biserial
        |FROM stats, tot,
        |  LATERAL (SELECT CAST(n AS HUGEINT) AS nh, nn - n AS m) a,
        |  LATERAL (SELECT r2sum - nh * (nh + 1) AS u2, nh * m AS mu2) b,
        |  LATERAL (SELECT CAST(nh * m AS DOUBLE) *
        |      (CAST(nn + 1 AS DOUBLE) -
        |       CAST(ties AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE)) / 12.0 AS varu,
        |    CAST(u2 - mu2 AS DOUBLE) / 2.0 AS num) c""".stripMargin,

    // identical span/censor/at-risk construction; survival and
    // Greenwood via the same ordered log-sum windows
    "q202_kaplan_meier" ->
      raw"""WITH $retentionSpans, atday AS (
        |  SELECT cohort, t,
        |    sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d,
        |    sum(CASE WHEN censored THEN 1 ELSE 0 END) AS c
        |  FROM spans GROUP BY 1, 2
        |), risked AS (
        |  SELECT cohort, t, CAST(d AS BIGINT) AS d,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM atday
        |), curves AS (
        |  SELECT cohort, t, n_risk, d,
        |    sum(CASE WHEN d > 0 THEN
        |        ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS lns,
        |    sum(CASE WHEN d > 0 AND n_risk > d THEN CAST(d AS DOUBLE) /
        |        (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE))
        |      ELSE 0.0 END) OVER w AS gw
        |  FROM risked
        |  WINDOW w AS (PARTITION BY cohort ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT cohort, t AS t_days, n_risk, d,
        |  round(exp(lns), 6) AS survival,
        |  round(exp(lns) * sqrt(gw), 6) AS greenwood_se
        |FROM curves""".stripMargin,

    // the same two dyadic convolutions: s1 kernel 2^(W-1-j), s2 kernel
    // (W - |j-(W-1)|)*2^(2W-2-j), exact HUGEINT numerators
    "q203_brown_trend" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT g FROM daily),
        |days AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT gr.g, d.day, COALESCE(dl.n, 0) AS n
        |  FROM groups gr CROSS JOIN days d
        |  LEFT JOIN daily dl ON dl.g = gr.g AND dl.day = d.day
        |), js AS (SELECT unnest(range(0, 23)) AS j),
        |contrib AS (
        |  SELECT dn.g, dn.day + CAST(j.j AS INTEGER) AS day,
        |    CASE WHEN j.j < 12 THEN CAST(dn.n AS HUGEINT) *
        |      CAST(1::BIGINT << CAST(11 - j.j AS INTEGER) AS HUGEINT)
        |      ELSE 0::HUGEINT END AS s1,
        |    CAST(dn.n AS HUGEINT) * CAST(12 - abs(j.j - 11) AS HUGEINT) *
        |      CAST(1::BIGINT << CAST(22 - j.j AS INTEGER) AS HUGEINT) AS s2
        |  FROM dense dn CROSS JOIN js j
        |), agg AS (
        |  SELECT c.g, c.day, sum(s1) AS n1, sum(s2) AS n2
        |  FROM contrib c WHERE c.day IN (SELECT day FROM days)
        |  GROUP BY 1, 2
        |)
        |SELECT a.g AS event_type, a.day, CAST(dn.n AS BIGINT) AS n_events,
        |  floor((2.0 * sp - spp) * 1e6 + 0.5) / 1e6 AS level,
        |  floor((sp - spp) * 1e6 + 0.5) / 1e6 AS trend,
        |  floor((2.0 * sp - spp + 7.0 * (sp - spp)) * 1e6 + 0.5) / 1e6 AS forecast
        |FROM agg a JOIN dense dn ON dn.g = a.g AND dn.day = a.day,
        |  LATERAL (SELECT CAST(n1 AS DOUBLE) / 4096.0 AS sp,
        |    CAST(n2 AS DOUBLE) / 16777216.0 AS spp) l""".stripMargin,

    // same neighbor windows (IGNORE NULLS running last) and the same
    // fixed-order interpolation expression
    "q204_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) AS mean
        |  FROM events GROUP BY 1, 2
        |), groups AS (SELECT DISTINCT g FROM daily),
        |days AS (SELECT DISTINCT day FROM daily),
        |dense AS (
        |  SELECT gr.g, d.day, dl.n, dl.mean
        |  FROM groups gr CROSS JOIN days d
        |  LEFT JOIN daily dl ON dl.g = gr.g AND dl.day = d.day
        |), nbr AS (
        |  SELECT g, day, n, mean,
        |    last_value(CASE WHEN mean IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wb AS pd,
        |    last_value(mean IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN mean IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wf AS nd,
        |    last_value(mean IGNORE NULLS) OVER wf AS nv
        |  FROM dense
        |  WINDOW wb AS (PARTITION BY g ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY g ORDER BY day DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT g AS event_type, day, CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
        |  round(CASE WHEN mean IS NOT NULL THEN mean
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) *
        |      (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE)) END, 6)
        |    AS filled,
        |  (mean IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS interpolated
        |FROM nbr""".stripMargin,

    // same reference-decile binning, Laplace smoothing, and dense
    // (group x window x bin) grid before the closing sum
    "q205_psi_drift" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g, ts::DATE AS day,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events WHERE value IS NOT NULL
        |), split_ AS (
        |  SELECT min(day) + CAST(floor((max(day) - min(day)) * 0.5) AS INTEGER)
        |    AS sp FROM rows_
        |), tagged AS (
        |  SELECT g, v, day > sp AS cur FROM rows_ CROSS JOIN split_
        |), edges AS (
        |  SELECT g,
        |    percentile_cont(0.1) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e1,
        |    percentile_cont(0.2) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e2,
        |    percentile_cont(0.3) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e3,
        |    percentile_cont(0.4) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e4,
        |    percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e5,
        |    percentile_cont(0.6) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e6,
        |    percentile_cont(0.7) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e7,
        |    percentile_cont(0.8) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e8,
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(v AS DOUBLE)) AS e9
        |  FROM tagged WHERE NOT cur GROUP BY 1
        |), binned AS (
        |  SELECT t.g, t.cur,
        |    CASE WHEN CAST(v AS DOUBLE) <= e1 THEN 0
        |         WHEN CAST(v AS DOUBLE) <= e2 THEN 1
        |         WHEN CAST(v AS DOUBLE) <= e3 THEN 2
        |         WHEN CAST(v AS DOUBLE) <= e4 THEN 3
        |         WHEN CAST(v AS DOUBLE) <= e5 THEN 4
        |         WHEN CAST(v AS DOUBLE) <= e6 THEN 5
        |         WHEN CAST(v AS DOUBLE) <= e7 THEN 6
        |         WHEN CAST(v AS DOUBLE) <= e8 THEN 7
        |         WHEN CAST(v AS DOUBLE) <= e9 THEN 8
        |         ELSE 9 END AS bin,
        |    count(*) AS n
        |  FROM tagged t JOIN edges e USING (g) GROUP BY 1, 2, 3
        |), totals AS (
        |  SELECT g, cur, sum(n) AS tot FROM binned GROUP BY 1, 2
        |), grid AS (
        |  SELECT g, cur, bin FROM (SELECT DISTINCT g FROM binned)
        |  CROSS JOIN (SELECT unnest([false, true]) AS cur)
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin)
        |), shares AS (
        |  SELECT gr.g, gr.cur, gr.bin,
        |    CAST(COALESCE(b.n, 0) + 1 AS DOUBLE) / CAST(t.tot + 10 AS DOUBLE) AS p
        |  FROM grid gr
        |  JOIN totals t ON t.g = gr.g AND t.cur = gr.cur
        |  LEFT JOIN binned b ON b.g = gr.g AND b.cur = gr.cur AND b.bin = gr.bin
        |), wide AS (
        |  SELECT g, bin,
        |    max(CASE WHEN NOT cur THEN p END) AS pr,
        |    max(CASE WHEN cur THEN p END) AS pc
        |  FROM shares GROUP BY 1, 2
        |)
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_bins,
        |  floor(sum((pc - pr) * ln(pc / pr)) * 1e6 + 0.5) / 1e6 AS psi
        |FROM wide WHERE pr IS NOT NULL AND pc IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // the same log-linear bucket index, cumulative walk, and bucket
    // lower-bound inversion; q literals cast to DOUBLE so the rank
    // product matches Spark's IEEE arithmetic (DuckDB parses bare
    // decimals as DECIMAL)
    "q160_hdr_quantiles" ->
      """WITH vals AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |), idx AS (
        |  SELECT event_type,
        |    CASE WHEN v < 32 THEN v
        |         ELSE (length(bin(v)) - 5) * 32
        |              + (v // CAST(pow(2, length(bin(v)) - 6) AS BIGINT) - 32)
        |    END AS bucket
        |  FROM vals
        |), sk AS (
        |  SELECT event_type, bucket, count(*) AS cnt FROM idx GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bucket,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS c,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM sk
        |), qs AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
        |pick AS (
        |  SELECT event_type, q, min(bucket) AS b
        |  FROM cum, qs WHERE c >= ceil(q * CAST(n AS DOUBLE))
        |  GROUP BY 1, 2
        |)
        |SELECT event_type, q,
        |  CAST(CASE WHEN b < 32 THEN b
        |            ELSE (32 + b % 32) * CAST(pow(2, b // 32 - 1) AS BIGINT)
        |       END AS BIGINT) AS est_lo
        |FROM pick""".stripMargin,

    // same pre-aggregate + RANGE-over-day-number recomputation; the
    // integer day subtraction keeps the frame calendar-true
    "q117_rolling_daily" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*) AS n_events,
        |    sum(value) AS vs
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, n_events, round(vs, 4) AS value_day,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS n_trailing,
        |  round(sum(vs) OVER w, 4) AS value_trailing
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type
        |  ORDER BY day - DATE '1970-01-01'
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    // the same binary-length bucket rule
    "q151_skew_histogram" ->
      """WITH c AS (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
        |)
        |SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS bucket,
        |  count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM c GROUP BY 1""".stripMargin,

    // same dense grid, same exact moments, same expression shape
    "q146_count_correlation" ->
      """WITH daily AS (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), dense AS (
        |  SELECT gg.g, dd.day, coalesce(daily.n, 0) AS n
        |  FROM (SELECT DISTINCT g FROM daily) gg
        |  CROSS JOIN (SELECT DISTINCT day FROM daily) dd
        |  LEFT JOIN daily ON daily.g = gg.g AND daily.day = dd.day
        |), m AS (
        |  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_days,
        |    sum(a.n) AS sx, sum(b.n) AS sy,
        |    sum(a.n * b.n) AS sxy,
        |    sum(a.n * a.n) AS sxx, sum(b.n * b.n) AS syy
        |  FROM dense a JOIN dense b ON a.day = b.day AND a.g < b.g
        |  GROUP BY 1, 2
        |)
        |SELECT group_a, group_b, CAST(n_days AS BIGINT) AS n_days,
        |  floor(CASE WHEN n_days * sxx - sx * sx > 0
        |              AND n_days * syy - sy * sy > 0 THEN
        |    (n_days * sxy - sx * sy)::DOUBLE
        |      / sqrt((n_days * sxx - sx * sx)::DOUBLE
        |             * (n_days * syy - sy * sy)::DOUBLE) END
        |    * 1e6 + 0.5) / 1e6 AS pearson_r
        |FROM m""".stripMargin,

    // same observed/expected arithmetic; Spark dayofweek = DuckDB + 1
    // cancels out because the category labels never leave the query
    "q148_chi_square" ->
      """WITH obs AS (
        |  SELECT event_type AS r, dayofweek(ts) AS c, count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT r, sum(o) AS t FROM obs GROUP BY 1),
        |ct AS (SELECT c, sum(o) AS t FROM obs GROUP BY 1),
        |tot AS (SELECT sum(o)::DOUBLE AS t FROM obs)
        |SELECT
        |  round(sum((obs.o::DOUBLE - e) * (obs.o::DOUBLE - e) / e), 4)
        |    AS chi_square,
        |  count(*) AS n_cells
        |FROM (
        |  SELECT obs.o, rt.t::DOUBLE * ct.t::DOUBLE / (SELECT t FROM tot) AS e,
        |    obs.r, obs.c
        |  FROM obs JOIN rt USING (r) JOIN ct USING (c)
        |) obs""".stripMargin,

    // the same integer moments and the same single division
    "q145_trend_slopes" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*) AS y,
        |    CAST(ts::DATE - DATE '1970-01-01' AS BIGINT) AS x
        |  FROM events GROUP BY event_type, ts::DATE
        |), m AS (
        |  SELECT event_type, count(*) AS n_days,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM daily GROUP BY 1
        |)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  round(sy::DOUBLE / n_days::DOUBLE, 6) AS mean_daily,
        |  floor(CASE WHEN n_days * sxx - sx * sx <> 0 THEN
        |    (n_days * sxy - sx * sy)::DOUBLE
        |      / (n_days * sxx - sx * sx)::DOUBLE END
        |    * 1e6 + 0.5) / 1e6 AS slope_per_day
        |FROM m""".stripMargin,

    // the skyline by its definition: strict-dominance NOT EXISTS
    // (quadratic is fine for an oracle; the engine's prefix-max form
    // is the scale path)
    "q240_pareto_skyline" ->
      """SELECT p_brand, p_partkey, p_retailprice, p_size
        |FROM part p
        |WHERE p_brand IS NOT NULL
        |  AND p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |  AND NOT EXISTS (
        |    SELECT 1 FROM part q
        |    WHERE q.p_brand = p.p_brand
        |      AND q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
        |      AND q.p_retailprice <= p.p_retailprice
        |      AND q.p_size >= p.p_size
        |      AND (q.p_retailprice < p.p_retailprice
        |           OR q.p_size > p.p_size))""".stripMargin,

    // identical moments in HUGEINT, the same one-division theta, and
    // the variance identity var(Y') = var(Y) - 2θcov + θ²var(X) in
    // the same fixed operator order
    "q245_cuped_experiment" ->
      """WITH rows_ AS (
        |  SELECT user_id AS u, ts::DATE AS day
        |  FROM events WHERE user_id IS NOT NULL
        |), split_ AS (
        |  SELECT min(day) + CAST(floor((max(day) - min(day)) * 0.5) AS INTEGER)
        |    AS sp FROM rows_
        |), pu AS MATERIALIZED (
        |  SELECT u,
        |    sum(CASE WHEN day <= sp THEN 1 ELSE 0 END)::HUGEINT AS x,
        |    sum(CASE WHEN day > sp THEN 1 ELSE 0 END)::HUGEINT AS y,
        |    CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR) || '|exp'), 1, 8))::UBIGINT % 2 = 0
        |      THEN 'control' ELSE 'treatment' END AS arm
        |  FROM rows_ CROSS JOIN split_ GROUP BY u
        |), pooled AS (
        |  SELECT count(*)::HUGEINT AS tn, sum(x) AS tsx, sum(y) AS tsy,
        |    sum(x * y) AS tsxy, sum(x * x) AS tsxx
        |  FROM pu
        |), per_arm AS (
        |  SELECT arm, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pu GROUP BY arm
        |)
        |SELECT arm, CAST(n AS BIGINT) AS n_users,
        |  round(my, 6) AS mean_y,
        |  floor((my - theta * (mxa - mxall)) * 1e6 + 0.5) / 1e6 AS mean_y_cuped,
        |  round(vy, 6) AS var_y,
        |  floor(vc * 1e6 + 0.5) / 1e6 AS var_y_cuped,
        |  floor(CASE WHEN vy > 0 THEN (1.0 - vc / vy) * 100.0 END
        |    * 1e4 + 0.5) / 1e4 AS var_reduction_pct,
        |  round(theta, 6) + 0 AS theta
        |FROM (
        |  SELECT arm, n, vy,
        |    vy - 2.0 * theta * cv + theta * theta * vx AS vc,
        |    my, mxa, mxall, theta
        |  FROM (
        |    SELECT arm, n,
        |      (n * syy - sy * sy)::DOUBLE / (n * n)::DOUBLE AS vy,
        |      (n * sxy - sx * sy)::DOUBLE / (n * n)::DOUBLE AS cv,
        |      (n * sxx - sx * sx)::DOUBLE / (n * n)::DOUBLE AS vx,
        |      sy::DOUBLE / n::DOUBLE AS my,
        |      sx::DOUBLE / n::DOUBLE AS mxa,
        |      p.tsx::DOUBLE / p.tn::DOUBLE AS mxall,
        |      CASE WHEN (p.tn * p.tsxx - p.tsx * p.tsx) > 0 THEN
        |        (p.tn * p.tsxy - p.tsx * p.tsy)::DOUBLE
        |          / (p.tn * p.tsxx - p.tsx * p.tsx)::DOUBLE END + 0 AS theta
        |    FROM per_arm CROSS JOIN pooled p))""".stripMargin,

    // same cells, same fixed-order trees: e = rt·ct/N, Haberman
    // adjusted residual, V = sqrt(chi2/(N·min(r-1,c-1)))
    "q247_cramers_v_residuals" ->
      """WITH obs AS MATERIALIZED (
        |  -- DuckDB dayofweek is 0=Sunday..6; Spark's is 1..7: +1
        |  SELECT event_type AS r, dayofweek(ts) + 1 AS c, count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT r, sum(o) AS t FROM obs GROUP BY 1),
        |ct AS (SELECT c, sum(o) AS t FROM obs GROUP BY 1),
        |tot AS (SELECT sum(o)::DOUBLE AS n FROM obs),
        |cells AS MATERIALIZED (
        |  SELECT obs.r, obs.c, obs.o, rt.t AS rtv, ct.t AS ctv,
        |    rt.t::DOUBLE * ct.t::DOUBLE / (SELECT n FROM tot) AS e
        |  FROM obs JOIN rt USING (r) JOIN ct USING (c)
        |), summ AS (
        |  SELECT sum((o::DOUBLE - e) * (o::DOUBLE - e) / e)
        |    / ((SELECT n FROM tot) *
        |       least(count(DISTINCT r) - 1, count(DISTINCT c) - 1)::DOUBLE)
        |    AS v2
        |  FROM cells
        |)
        |SELECT r AS event_type, CAST(c AS INTEGER) AS dow, o AS n,
        |  round(e, 4) AS expected,
        |  floor((o::DOUBLE - e) /
        |    sqrt(e * (1.0 - rtv::DOUBLE / (SELECT n FROM tot))
        |           * (1.0 - ctv::DOUBLE / (SELECT n FROM tot)))
        |    * 1e4 + 0.5) / 1e4 AS adj_residual,
        |  round(sqrt((SELECT v2 FROM summ)), 6) AS cramers_v
        |FROM cells""".stripMargin,

    // signs from the same exact integer numerators (HUGEINT), slopes
    // the same single divisions
    "q249_simpsons_screen" ->
      """WITH rows_ AS (
        |  SELECT s.s_nationkey AS nation,
        |    CAST(round(l.l_discount * 100) AS HUGEINT) AS x,
        |    CAST(l.l_quantity AS HUGEINT) AS y
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |), g AS (
        |  SELECT nation, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM rows_ GROUP BY 1
        |), o AS (
        |  SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM rows_
        |), ov AS (
        |  SELECT CAST(sign((n * sxy - sx * sy)::DOUBLE) AS INTEGER) AS osign,
        |    round(CASE WHEN (n * sxx - sx * sx) > 0 THEN
        |      (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE END, 6)
        |      AS overall_slope
        |  FROM o
        |)
        |SELECT nation, CAST(n AS BIGINT) AS n_rows,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0 THEN
        |    (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE END, 6)
        |    + 0 AS slope,
        |  CAST(sign((n * sxy - sx * sy)::DOUBLE) AS INTEGER) AS sign,
        |  ov.overall_slope,
        |  CASE WHEN CAST(sign((n * sxy - sx * sy)::DOUBLE) AS INTEGER)
        |         * ov.osign < 0 THEN 1 ELSE 0 END AS reversed
        |FROM g CROSS JOIN ov""".stripMargin,

    // same HUGEINT moments; var(y−x) from the identity numerator
    // n(Σy²−2Σxy+Σx²) − (Σy−Σx)², one division per statistic
    "q252_diff_in_diff" ->
      """WITH rows_ AS (
        |  SELECT user_id AS u, ts::DATE AS day
        |  FROM events WHERE user_id IS NOT NULL
        |), split_ AS (
        |  SELECT min(day) + CAST(floor((max(day) - min(day)) * 0.5) AS INTEGER)
        |    AS sp FROM rows_
        |), pu AS (
        |  SELECT u,
        |    sum(CASE WHEN day <= sp THEN 1 ELSE 0 END)::HUGEINT AS x,
        |    sum(CASE WHEN day > sp THEN 1 ELSE 0 END)::HUGEINT AS y,
        |    CASE WHEN ('0x' || substr(md5(CAST(u AS VARCHAR) || '|exp'), 1, 8))::UBIGINT % 2 = 1
        |      THEN 1 ELSE 0 END AS t
        |  FROM rows_ CROSS JOIN split_ GROUP BY u
        |), pa AS MATERIALIZED (
        |  SELECT t, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pu GROUP BY t
        |), side AS (
        |  SELECT t, CAST(n AS BIGINT) AS n,
        |    sx::DOUBLE / n::DOUBLE AS mx,
        |    sy::DOUBLE / n::DOUBLE AS my,
        |    (sy - sx)::DOUBLE / n::DOUBLE AS mdelta,
        |    (n * (syy - 2 * sxy + sxx) - (sy - sx) * (sy - sx))::DOUBLE
        |      / (n * n)::DOUBLE AS vard
        |  FROM pa
        |)
        |SELECT c.n AS n_control, t.n AS n_treatment,
        |  round(c.mx, 6) AS pre_control, round(c.my, 6) AS post_control,
        |  round(t.mx, 6) AS pre_treatment, round(t.my, 6) AS post_treatment,
        |  floor((t.mdelta - c.mdelta) * 1e6 + 0.5) / 1e6 AS did,
        |  round(sqrt(t.vard / t.n::DOUBLE + c.vard / c.n::DOUBLE), 6) AS se,
        |  floor(CASE WHEN sqrt(t.vard / t.n::DOUBLE + c.vard / c.n::DOUBLE) > 0
        |    THEN (t.mdelta - c.mdelta)
        |      / sqrt(t.vard / t.n::DOUBLE + c.vard / c.n::DOUBLE) END
        |    * 1e4 + 0.5) / 1e4 AS t_stat
        |FROM (SELECT * FROM side WHERE t = 0) c
        |CROSS JOIN (SELECT * FROM side WHERE t = 1) t""".stripMargin,

    // same explode/clamp/distinct; the window flag replays
    "q254_sliding_dau" ->
      """WITH ud AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u, ts::DATE AS day
        |  FROM events WHERE user_id IS NOT NULL
        |), span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
        |w AS MATERIALIZED (
        |  SELECT DISTINCT u, day + CAST(off AS INTEGER) AS wday
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS off)
        |), wf AS (
        |  SELECT wday AS day, count(*) AS dau_7d
        |  FROM w WHERE wday <= (SELECT d1 FROM span) GROUP BY 1
        |), d1f AS (
        |  SELECT day, count(DISTINCT u) AS dau_1d FROM ud GROUP BY 1
        |)
        |SELECT wf.day, coalesce(d1f.dau_1d, 0) AS dau_1d, wf.dau_7d,
        |  CASE WHEN (wf.day - (SELECT d0 FROM span)) < 6 THEN 1 ELSE 0 END
        |    AS partial_window
        |FROM wf LEFT JOIN d1f USING (day)""".stripMargin,

    // window cumsum twin of the grouped two-level form; the same
    // 2*cum >= W lower-median crossing rule
    "q257_weighted_median" ->
      """WITH h AS (
        |  SELECT l_returnflag AS g, CAST(round(l_discount * 100) AS BIGINT) AS v,
        |    sum(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0
        |  GROUP BY 1, 2
        |), t AS (
        |  SELECT g, sum(w) AS tw, count(*) AS nv FROM h GROUP BY 1
        |), c AS (
        |  SELECT g, v, sum(w) OVER (
        |    PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h
        |), m AS (
        |  SELECT c.g, min(v) AS wm
        |  FROM c JOIN t USING (g) WHERE 2 * cum >= tw GROUP BY 1
        |)
        |SELECT m.g AS l_returnflag, t.nv AS n_values,
        |  CAST(t.tw AS BIGINT) AS total_weight, m.wm AS weighted_median
        |FROM m JOIN t USING (g)""".stripMargin,

    // union vocab per pair via the side-tagged max-merge, the same
    // half-KL terms with the midpoint denominator, round 4
    "q260_source_js_divergence" ->
      raw"""WITH counts AS MATERIALIZED (
        |  SELECT s, w, count(*) AS c FROM (
        |    SELECT source AS s, unnest(
        |      ${wsTokensLower(11)}) AS w
        |    FROM documents WHERE source IS NOT NULL)
        |  GROUP BY 1, 2
        |), tot AS (SELECT s, sum(c) AS n FROM counts GROUP BY 1),
        |pr AS (SELECT a.s AS sa, b.s AS sb FROM tot a JOIN tot b ON a.s < b.s),
        |expanded AS (
        |  SELECT p.sa, p.sb, c.w,
        |    CASE WHEN c.s = p.sa THEN c.c END AS ca,
        |    CASE WHEN c.s = p.sb THEN c.c END AS cb
        |  FROM pr p JOIN counts c ON c.s = p.sa OR c.s = p.sb
        |), merged AS (
        |  SELECT sa, sb, w, max(ca) AS ca, max(cb) AS cb
        |  FROM expanded GROUP BY 1, 2, 3
        |), vals AS (
        |  SELECT sa, sb,
        |    coalesce(ca, 0)::DOUBLE / ta.n::DOUBLE AS p,
        |    coalesce(cb, 0)::DOUBLE / tb.n::DOUBLE AS q,
        |    coalesce(ca, 0) AS ca0, coalesce(cb, 0) AS cb0
        |  FROM merged JOIN tot ta ON ta.s = merged.sa
        |  JOIN tot tb ON tb.s = merged.sb
        |)
        |SELECT sa AS source_a, sb AS source_b, count(*) AS n_terms,
        |  floor(sum(
        |    CASE WHEN ca0 > 0 THEN 0.5 * p * ln(p / ((p + q) / 2.0))
        |         ELSE 0.0 END
        |    + CASE WHEN cb0 > 0 THEN 0.5 * q * ln(q / ((p + q) / 2.0))
        |           ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS js
        |FROM vals GROUP BY 1, 2""".stripMargin,

    // same HUGEINT leave-one-out complements and closing trees;
    // DuckDB dayofweek +1 realigned (the q247 convention)
    "q262_dow_anomaly" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n,
        |    dayofweek(ts::DATE) + 1 AS dow
        |  FROM events GROUP BY 1, 2, 4
        |), stats AS (
        |  SELECT g, dow, count(*) AS nd,
        |    sum(n::HUGEINT) AS s1, sum(n::HUGEINT * n::HUGEINT) AS s2
        |  FROM daily GROUP BY 1, 2
        |), j AS (
        |  SELECT d.g, d.day, d.dow, d.n,
        |    s.nd - 1 AS n1,
        |    s.s1 - d.n::HUGEINT AS l1,
        |    s.s2 - d.n::HUGEINT * d.n::HUGEINT AS l2
        |  FROM daily d JOIN stats s USING (g, dow)
        |)
        |SELECT g AS event_type, day, CAST(dow AS INTEGER) AS dow,
        |  n AS n_events,
        |  CAST(n1 AS BIGINT) AS n_baseline_days,
        |  round(CASE WHEN n1 >= 3 THEN l1::DOUBLE / n1::DOUBLE END, 6)
        |    AS dow_mean,
        |  floor(CASE WHEN n1 >= 3
        |      AND (l2::DOUBLE / n1::DOUBLE)
        |        - (l1::DOUBLE / n1::DOUBLE) * (l1::DOUBLE / n1::DOUBLE) > 0
        |    THEN (n::DOUBLE - l1::DOUBLE / n1::DOUBLE)
        |      / sqrt((l2::DOUBLE / n1::DOUBLE)
        |        - (l1::DOUBLE / n1::DOUBLE) * (l1::DOUBLE / n1::DOUBLE))
        |    END * 1e6 + 0.5) / 1e6 AS z
        |FROM j""".stripMargin,

    // same doubled midranks off window cumsums, HUGEINT moments,
    // identical closing tree
    "q285_spearman" ->
      """WITH rows_ AS (
        |  SELECT CAST(round(l_discount * 1000000) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 1000000) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
        |), rx AS MATERIALIZED (
        |  SELECT x, 2 * (cum - c) + c + 1 AS r FROM (
        |    SELECT x, c, sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM (SELECT x, count(*) AS c FROM rows_ GROUP BY 1))
        |), ry AS MATERIALIZED (
        |  SELECT y, 2 * (cum - c) + c + 1 AS r FROM (
        |    SELECT y, c, sum(c) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM (SELECT y, count(*) AS c FROM rows_ GROUP BY 1))
        |), j AS (
        |  SELECT rx.r::HUGEINT AS a, ry.r::HUGEINT AS b
        |  FROM rows_ JOIN rx USING (x) JOIN ry USING (y)
        |), m AS (
        |  SELECT count(*)::HUGEINT AS n, sum(a) AS sx, sum(b) AS sy,
        |    sum(a * b) AS sxy, sum(a * a) AS sxx, sum(b * b) AS syy
        |  FROM j
        |)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN (n * sxx - sx * sx) > 0
        |      AND (n * syy - sy * sy) > 0 THEN
        |    (n * sxy - sx * sy)::DOUBLE
        |      / sqrt((n * sxx - sx * sx)::DOUBLE
        |           * (n * syy - sy * sy)::DOUBLE) END, 6) + 0 AS spearman_rho
        |FROM m""".stripMargin,

    // same joint-histogram concordance counting with doubled tie
    // pairs; identical closing tree
    "q286_kendall_tau" ->
      """WITH rows_ AS (
        |  SELECT CAST(round(l_discount * 1000000) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 1000000) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
        |), cells AS MATERIALIZED (
        |  SELECT x, y, count(*)::HUGEINT AS c FROM rows_ GROUP BY 1, 2
        |), pq AS (
        |  SELECT
        |    sum(CASE WHEN (a.x < b.x AND a.y < b.y)
        |            OR (a.x > b.x AND a.y > b.y)
        |      THEN a.c * b.c ELSE 0 END) AS p,
        |    sum(CASE WHEN (a.x < b.x AND a.y > b.y)
        |            OR (a.x > b.x AND a.y < b.y)
        |      THEN a.c * b.c ELSE 0 END) AS q
        |  FROM cells a, cells b
        |  WHERE (a.x, a.y) < (b.x, b.y)
        |), nn AS (SELECT count(*)::HUGEINT AS n FROM rows_),
        |tx AS (SELECT sum(m * (m - 1)) AS t2 FROM (
        |  SELECT count(*)::HUGEINT AS m FROM rows_ GROUP BY x)),
        |ty AS (SELECT sum(m * (m - 1)) AS t2 FROM (
        |  SELECT count(*)::HUGEINT AS m FROM rows_ GROUP BY y))
        |SELECT CAST(nn.n AS BIGINT) AS n,
        |  round(CASE WHEN (nn.n * (nn.n - 1) - tx.t2) > 0
        |      AND (nn.n * (nn.n - 1) - ty.t2) > 0 THEN
        |    (2 * (pq.p - pq.q))::DOUBLE
        |      / sqrt((nn.n * (nn.n - 1) - tx.t2)::DOUBLE
        |           * (nn.n * (nn.n - 1) - ty.t2)::DOUBLE) END, 6)
        |    + 0 AS kendall_tau_b
        |FROM pq, nn, tx, ty""".stripMargin,

    // the same rank-covered histogram, overlap clamp, and one-division
    // closing (unrounded, de-quantized by the exact /1e6)
    "q292_trimmed_mean" ->
      """WITH hist AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 1000000) AS BIGINT) AS v,
        |    count(*) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi
        |  FROM hist
        |), cum2 AS (SELECT g, v, c, hi, hi - c + 1 AS lo FROM cum),
        |tk AS (
        |  SELECT g, max(hi) AS n, max(hi) // 10 AS k FROM cum GROUP BY 1
        |)
        |SELECT c2.g AS l_returnflag, CAST(t.n AS BIGINT) AS n,
        |  CAST(t.k AS BIGINT) AS n_trimmed_each_side,
        |  CASE WHEN t.n - 2 * t.k > 0 THEN
        |    sum(greatest(0, least(c2.hi, t.n - t.k)
        |        - greatest(c2.lo - 1, t.k))::HUGEINT * c2.v::HUGEINT)::DOUBLE
        |      / (t.n - 2 * t.k)::DOUBLE / 1e6 END AS trimmed_mean
        |FROM cum2 c2 JOIN tk t USING (g)
        |GROUP BY c2.g, t.n, t.k""".stripMargin,

    // type-1 (ceil-rank) quartiles off the same rank cover; integer
    // numerator and denominator, one unrounded division
    "q293_bowley_skew" ->
      """WITH hist AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 1000000) AS BIGINT) AS v,
        |    count(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi
        |  FROM hist
        |), cum2 AS (SELECT g, v, c, hi, hi - c + 1 AS lo FROM cum),
        |r AS (
        |  SELECT g, max(hi) AS n, (max(hi) + 3) // 4 AS r1,
        |    (max(hi) + 1) // 2 AS r2, (3 * max(hi) + 3) // 4 AS r3
        |  FROM cum GROUP BY 1
        |), qa AS (
        |  SELECT c2.g, min(v) AS v1 FROM cum2 c2
        |  JOIN r ON r.g = c2.g AND c2.lo <= r.r1 AND r.r1 <= c2.hi
        |  GROUP BY 1
        |), qb AS (
        |  SELECT c2.g, min(v) AS v2 FROM cum2 c2
        |  JOIN r ON r.g = c2.g AND c2.lo <= r.r2 AND r.r2 <= c2.hi
        |  GROUP BY 1
        |), qc AS (
        |  SELECT c2.g, min(v) AS v3 FROM cum2 c2
        |  JOIN r ON r.g = c2.g AND c2.lo <= r.r3 AND r.r3 <= c2.hi
        |  GROUP BY 1
        |)
        |SELECT r.g AS o_orderpriority, CAST(r.n AS BIGINT) AS n,
        |  v1::DOUBLE / 1e6 AS q1, v2::DOUBLE / 1e6 AS q2,
        |  v3::DOUBLE / 1e6 AS q3,
        |  CASE WHEN v3 > v1 THEN (v3 + v1 - 2 * v2)::DOUBLE
        |    / (v3 - v1)::DOUBLE END AS bowley_skew
        |FROM r JOIN qa USING (g) JOIN qb USING (g) JOIN qc USING (g)""".stripMargin,

    // per-customer exact Decimal revenue (the q280 definition), the
    // tie-correct doubled-numerator Gini over the rank cover
    "q294_gini" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT c.c_nationkey AS g,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |      AS DECIMAL(38,6))) AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY o.o_custkey, c.c_nationkey
        |), negs AS (
        |  SELECT g, count(*) AS ng FROM rev WHERE r < 0 GROUP BY 1
        |), hist AS (
        |  SELECT g, CAST(round(r * 1000000) AS BIGINT) AS v, count(*) AS c
        |  FROM rev WHERE r >= 0 GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi
        |  FROM hist
        |), cum2 AS (SELECT g, v, c, hi, hi - c + 1 AS lo FROM cum),
        |tot AS (SELECT g, max(hi) AS n FROM cum GROUP BY 1),
        |agg AS (
        |  SELECT c2.g, max(t.n) AS n,
        |    sum(c2.c::HUGEINT * c2.v::HUGEINT) AS s,
        |    sum((c2.hi::HUGEINT * (c2.hi::HUGEINT + 1)
        |      - (c2.lo::HUGEINT - 1) * c2.lo::HUGEINT
        |      - c2.c::HUGEINT * (t.n::HUGEINT + 1)) * c2.v::HUGEINT)
        |      AS num2
        |  FROM cum2 c2 JOIN tot t USING (g) GROUP BY 1
        |)
        |SELECT a.g AS c_nationkey, CAST(a.n AS BIGINT) AS n,
        |  CAST(coalesce(ng.ng, 0) AS BIGINT) AS n_negative_excluded,
        |  CASE WHEN a.s > 0 THEN a.num2::DOUBLE
        |    / (a.n::HUGEINT * a.s)::DOUBLE END AS gini
        |FROM agg a LEFT JOIN negs ng USING (g)""".stripMargin,

    // q292's rank cover, clamped instead of dropped: kept-range sum
    // plus k copies of the clamp values, divided by the FULL n
    "q295_winsorized_mean" ->
      """WITH hist AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 1000000) AS BIGINT) AS v,
        |    count(*) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi
        |  FROM hist
        |), cum2 AS (SELECT g, v, c, hi, hi - c + 1 AS lo FROM cum),
        |tk AS (
        |  SELECT g, max(hi) AS n, max(hi) // 10 AS k FROM cum GROUP BY 1
        |), kept AS (
        |  SELECT c2.g, max(t.n) AS n, max(t.k) AS k,
        |    sum(greatest(0, least(c2.hi, t.n - t.k)
        |      - greatest(c2.lo - 1, t.k))::HUGEINT * c2.v::HUGEINT) AS s
        |  FROM cum2 c2 JOIN tk t USING (g) GROUP BY c2.g
        |), vlo AS (
        |  SELECT c2.g, min(v) AS v1 FROM cum2 c2
        |  JOIN tk t ON t.g = c2.g
        |    AND c2.lo <= t.k + 1 AND t.k + 1 <= c2.hi
        |  GROUP BY 1
        |), vhi AS (
        |  SELECT c2.g, min(v) AS v2 FROM cum2 c2
        |  JOIN tk t ON t.g = c2.g
        |    AND c2.lo <= t.n - t.k AND t.n - t.k <= c2.hi
        |  GROUP BY 1
        |)
        |SELECT k.g AS l_returnflag, CAST(k.n AS BIGINT) AS n,
        |  CAST(k.k AS BIGINT) AS n_winsorized_each_side,
        |  CASE WHEN k.n > 0 THEN
        |    (k.s + k.k::HUGEINT * (vlo.v1::HUGEINT + vhi.v2::HUGEINT))::DOUBLE
        |      / k.n::DOUBLE / 1e6 END AS winsorized_mean
        |FROM kept k JOIN vlo USING (g) JOIN vhi USING (g)""".stripMargin,

    // the q294 revenue CTE, count AND value cumsums over the same
    // rank cover, share at rank (n*d)//10 per decile
    "q296_lorenz_deciles" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT c.c_nationkey AS g,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |      AS DECIMAL(38,6))) AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY o.o_custkey, c.c_nationkey
        |), hist AS (
        |  SELECT g, CAST(round(r * 1000000) AS BIGINT) AS v, count(*) AS c
        |  FROM rev WHERE r >= 0 GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY v) AS hi,
        |    sum(c::HUGEINT * v::HUGEINT) OVER (PARTITION BY g ORDER BY v)
        |      AS cv
        |  FROM hist
        |), cum2 AS (SELECT g, v, c, hi, hi - c + 1 AS lo, cv FROM cum),
        |tot AS (
        |  SELECT g, max(hi) AS n, max(cv) AS tv FROM cum GROUP BY 1
        |), dec_ AS (
        |  SELECT t.g, t.n, t.tv, CAST(d AS INTEGER) AS decile,
        |    t.n * d // 10 AS rd
        |  FROM tot t CROSS JOIN generate_series(1, 10) s(d)
        |)
        |SELECT c2.g AS c_nationkey, d.decile, CAST(d.rd AS BIGINT) AS rank,
        |  CAST(c2.cv - (c2.hi - d.rd)::HUGEINT * c2.v::HUGEINT AS BIGINT)
        |    AS cum_value_e6,
        |  CAST(d.tv AS BIGINT) AS total_value_e6
        |FROM cum2 c2 JOIN dec_ d ON d.g = c2.g
        |  AND d.rd >= c2.lo AND d.rd <= c2.hi""".stripMargin,

    // same zero-fill-in-the-moments trick: span days enter n only
    "q297_dispersion_index" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT datediff('day', min(day), max(day)) + 1 AS nd FROM daily
        |), m AS (
        |  SELECT g, sum(x::HUGEINT) AS sx, sum(x::HUGEINT * x::HUGEINT)
        |    AS sxx
        |  FROM daily GROUP BY 1
        |)
        |SELECT g AS event_type, CAST(s.nd AS BIGINT) AS n_days,
        |  sx::DOUBLE / s.nd::DOUBLE / 1.0 AS mean_daily,
        |  CASE WHEN s.nd > 1 AND sx > 0 THEN
        |    (s.nd::HUGEINT * sxx - sx * sx)::DOUBLE
        |      / ((s.nd - 1)::HUGEINT * sx)::DOUBLE END AS fano
        |FROM m, span s""".stripMargin,

    // same per-(type, arm) moments and Welch tree
    "q283_subgroup_effects" ->
      """WITH pu AS (
        |  SELECT event_type, user_id, count(*)::HUGEINT AS y,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|exp'), 1, 8))::UBIGINT % 2 = 1
        |      THEN 1 ELSE 0 END AS t
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2
        |), m AS (
        |  SELECT event_type, t, count(*)::HUGEINT AS n, sum(y) AS sy,
        |    sum(y * y) AS syy
        |  FROM pu GROUP BY 1, 2
        |), side AS (
        |  SELECT event_type, t, CAST(n AS BIGINT) AS n,
        |    sy::DOUBLE / n::DOUBLE AS mu,
        |    (n * syy - sy * sy)::DOUBLE / (n * n)::DOUBLE AS vv
        |  FROM m
        |)
        |SELECT c.event_type, c.n AS n_control, t.n AS n_treatment,
        |  round(c.mu, 6) AS mean_control,
        |  round(t.mu, 6) AS mean_treatment,
        |  floor((t.mu - c.mu) * 1e6 + 0.5) / 1e6 AS effect,
        |  round(sqrt(t.vv / t.n::DOUBLE + c.vv / c.n::DOUBLE), 6) AS se,
        |  floor(CASE WHEN sqrt(t.vv / t.n::DOUBLE + c.vv / c.n::DOUBLE) > 0
        |    THEN (t.mu - c.mu)
        |      / sqrt(t.vv / t.n::DOUBLE + c.vv / c.n::DOUBLE) END
        |    * 1e4 + 0.5) / 1e4 AS t_stat
        |FROM (SELECT * FROM side WHERE t = 0) c
        |JOIN (SELECT * FROM side WHERE t = 1) t USING (event_type)""".stripMargin,

    // the q80 digest with per-cluster distinct-label counts
    "q284_dup_label_conflicts" ->
      """WITH g AS (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS k,
        |    count(*) AS n, count(DISTINCT lang) AS nl
        |  FROM documents GROUP BY 1
        |)
        |SELECT count(*) AS n_clusters,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_clusters,
        |  CAST(sum(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_conflicted_clusters,
        |  CAST(sum(CASE WHEN nl > 1 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_docs_in_conflicted
        |FROM g""".stripMargin,

    // window-cumsum twin of the rank lookup; the same z = 1.96 rank
    // formula with identical floor/ceil/clamp arithmetic
    "q282_median_ci" ->
      """WITH h AS MATERIALIZED (
        |  SELECT event_type AS g,
        |    CAST(round(value * 1000000) AS BIGINT) AS v, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), t AS (
        |  SELECT g, sum(c) AS n,
        |    greatest(1, CAST(floor((sum(c)::DOUBLE
        |      - 1.96 * sqrt(sum(c)::DOUBLE)) / 2.0) AS BIGINT)) AS lo,
        |    least(sum(c), CAST(ceil((sum(c)::DOUBLE
        |      + 1.96 * sqrt(sum(c)::DOUBLE)) / 2.0) AS BIGINT) + 1) AS hi,
        |    (sum(c) + 1) // 2 AS mid
        |  FROM h GROUP BY 1
        |), cum AS (
        |  SELECT g, v,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chi,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1 AS clo
        |  FROM h
        |)
        |SELECT t.g AS event_type, CAST(t.n AS BIGINT) AS n,
        |  round((SELECT min(v) FROM cum
        |         WHERE cum.g = t.g AND clo <= t.mid AND t.mid <= chi)::DOUBLE
        |    / 1000000.0, 6) AS median,
        |  round((SELECT min(v) FROM cum
        |         WHERE cum.g = t.g AND clo <= t.lo AND t.lo <= chi)::DOUBLE
        |    / 1000000.0, 6) AS ci_low,
        |  round((SELECT min(v) FROM cum
        |         WHERE cum.g = t.g AND clo <= t.hi AND t.hi <= chi)::DOUBLE
        |    / 1000000.0, 6) AS ci_high
        |FROM t""".stripMargin,

    // row_number twin of the two-level rank; integer percentile
    // thresholds, decimal sums, one division per share
    "q280_whale_report" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT o.o_custkey,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |      AS DECIMAL(38,6))) AS r
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT r, row_number() OVER (ORDER BY r DESC, o_custkey) AS rk
        |  FROM rev
        |), t AS (SELECT count(*) AS nc, sum(r) AS tot FROM rev)
        |SELECT (SELECT nc FROM t) AS n_customers,
        |  round((SELECT tot FROM t), 2) AS total_revenue,
        |  round(sum(CASE WHEN rk * 100 <= (SELECT nc FROM t) THEN r
        |      ELSE 0 END)::DOUBLE / (SELECT tot FROM t)::DOUBLE, 6)
        |    AS share_top_1pct,
        |  round(sum(CASE WHEN rk * 10 <= (SELECT nc FROM t) THEN r
        |      ELSE 0 END)::DOUBLE / (SELECT tot FROM t)::DOUBLE, 6)
        |    AS share_top_10pct
        |FROM ranked""".stripMargin,

    // same lattice moments; the delta-method tree in the same order
    "q275_ratio_metric_delta" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CAST(round(value * 1000000) AS HUGEINT)) AS x,
        |    count(*)::HUGEINT AS y,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|exp'), 1, 8))::UBIGINT % 2 = 0
        |      THEN 'control' ELSE 'treatment' END AS arm
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id
        |), m AS (
        |  SELECT arm, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pu GROUP BY 1
        |)
        |SELECT arm, CAST(n AS BIGINT) AS n_users,
        |  round(r / 1000000.0, 6) AS revenue_per_event,
        |  round(sqrt(greatest(0.0,
        |    (vx - 2.0 * r * cxy + r * r * vy) / (n::DOUBLE * (my * my))))
        |    / 1000000.0, 6) AS se_delta
        |FROM (
        |  SELECT arm, n,
        |    (n * sxx - sx * sx)::DOUBLE / (n * n)::DOUBLE AS vx,
        |    (n * syy - sy * sy)::DOUBLE / (n * n)::DOUBLE AS vy,
        |    (n * sxy - sx * sy)::DOUBLE / (n * n)::DOUBLE AS cxy,
        |    sy::DOUBLE / n::DOUBLE AS my,
        |    (sx::DOUBLE / n::DOUBLE) / (sy::DOUBLE / n::DOUBLE) AS r
        |  FROM m)""".stripMargin,

    // the q267 CDF grid with a per-pair lead(v) gap; exact HUGEINT
    // area terms, one division per pair
    "q274_emd_matrix" ->
      raw"""WITH rows_ AS (
        |  SELECT source AS g,
        |    ${wsTokenCount(9)} AS v
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), vals AS (SELECT DISTINCT v FROM rows_),
        |cls AS (SELECT g, count(*) AS n FROM rows_ GROUP BY 1),
        |pgv AS (SELECT g, v, count(*) AS ng FROM rows_ GROUP BY 1, 2),
        |dense AS (
        |  SELECT c.g, va.v, coalesce(p.ng, 0) AS ng, c.n
        |  FROM vals va CROSS JOIN cls c
        |  LEFT JOIN pgv p ON p.g = c.g AND p.v = va.v
        |), cdf AS (
        |  SELECT g, v, n, sum(ng) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM dense
        |), paired AS (
        |  SELECT a.g AS ga, b.g AS gb, a.v, a.n AS na, b.n AS nb,
        |    a.cp AS ca, b.cp AS cb,
        |    lead(a.v) OVER (PARTITION BY a.g, b.g ORDER BY a.v) - a.v AS dv
        |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.g < b.g
        |)
        |SELECT ga AS source_a, gb AS source_b,
        |  CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  round(sum(abs(ca::HUGEINT * nb::HUGEINT - cb::HUGEINT * na::HUGEINT)
        |      * dv::HUGEINT)::DOUBLE
        |    / (max(na)::DOUBLE * max(nb)::DOUBLE), 6) AS emd
        |FROM paired WHERE dv IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // same lattice moments, allocation ratio, 6-decimal rate, and md5
    // membership
    "q270_neyman_sample" ->
      """WITH rows_ AS (
        |  SELECT event_id, event_type AS g,
        |    CAST(round(value * 1000000) AS HUGEINT) AS v6
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |), stats AS (
        |  SELECT g, count(*)::HUGEINT AS n, sum(v6) AS sx,
        |    sum(v6 * v6) AS sxx
        |  FROM rows_ GROUP BY 1
        |), alloc AS MATERIALIZED (
        |  SELECT g, n,
        |    sqrt(greatest(0.0,
        |      (n * sxx - sx * sx)::DOUBLE / (n * n)::DOUBLE)) AS sigma
        |  FROM stats
        |), tw AS (SELECT sum(n::DOUBLE * sigma) AS t FROM alloc),
        |rates AS MATERIALIZED (
        |  SELECT g, n, sigma,
        |    round(least(1.0, CASE WHEN (SELECT t FROM tw) > 0 THEN
        |      2000.0 * (n::DOUBLE * sigma)
        |        / ((SELECT t FROM tw) * n::DOUBLE)
        |      ELSE 0.0 END), 6) AS rate
        |  FROM alloc
        |), sampled AS (
        |  SELECT r.g, count(*) AS n_sampled
        |  FROM rows_ r JOIN rates ON rates.g = r.g
        |  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|ney'), 1, 8))::UBIGINT::DOUBLE
        |      / 4294967296.0 < rates.rate
        |  GROUP BY 1
        |)
        |SELECT rates.g AS event_type, CAST(rates.n AS BIGINT) AS n_rows,
        |  round(rates.sigma / 1000000.0, 6) AS sigma, rates.rate,
        |  coalesce(s.n_sampled, 0) AS n_sampled
        |FROM rates LEFT JOIN sampled s ON s.g = rates.g""".stripMargin,

    // per-dow within-SS decomposed from the same exact moments,
    // ≤ 7 closing terms per group
    "q271_seasonality_strength" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n,
        |    dayofweek(ts::DATE) + 1 AS dow
        |  FROM events GROUP BY 1, 2, 4
        |), pd AS (
        |  SELECT g, dow, count(*) AS nd, sum(n::HUGEINT) AS sx,
        |    sum(n::HUGEINT * n::HUGEINT) AS sxx
        |  FROM daily GROUP BY 1, 2
        |), w AS (
        |  SELECT g, sum(sxx::DOUBLE - (sx * sx)::DOUBLE / nd::DOUBLE) AS ssw,
        |    CAST(sum(nd) AS BIGINT) AS ndays
        |  FROM pd GROUP BY 1
        |), t AS (
        |  SELECT g, count(*)::HUGEINT AS nt, sum(n::HUGEINT) AS tsx,
        |    sum(n::HUGEINT * n::HUGEINT) AS tsxx
        |  FROM daily GROUP BY 1
        |)
        |SELECT w.g AS event_type, w.ndays AS n_days,
        |  floor((t.tsxx::DOUBLE - (t.tsx * t.tsx)::DOUBLE / t.nt::DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS ss_total,
        |  floor(w.ssw * 1e4 + 0.5) / 1e4 AS ss_within,
        |  round(CASE WHEN t.tsxx::DOUBLE - (t.tsx * t.tsx)::DOUBLE / t.nt::DOUBLE > 0
        |    THEN greatest(0.0, 1.0 - w.ssw
        |      / (t.tsxx::DOUBLE - (t.tsx * t.tsx)::DOUBLE / t.nt::DOUBLE))
        |    END, 6) AS seasonality_strength
        |FROM w JOIN t USING (g)""".stripMargin,

    // same shifted self-joins and integer error sums
    "q268_forecast_backtest" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type AS g, ts::DATE AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT d.g AS event_type, count(*) AS n_days,
        |  round(sum(abs(d.n - d1.n))::DOUBLE / count(*)::DOUBLE, 4)
        |    AS mae_naive,
        |  round(sum(abs(d.n - d7.n))::DOUBLE / count(*)::DOUBLE, 4)
        |    AS mae_seasonal,
        |  CASE WHEN sum(abs(d.n - d7.n)) < sum(abs(d.n - d1.n))
        |    THEN 1 ELSE 0 END AS seasonal_wins
        |FROM daily d
        |JOIN daily d1 ON d1.g = d.g AND d1.day = d.day - 1
        |JOIN daily d7 ON d7.g = d.g AND d7.day = d.day - 7
        |GROUP BY 1""".stripMargin,

    // window-cumsum CDFs on the dense grid, HUGEINT sweep numerator,
    // argmax tie to the smallest value, one division per pair
    "q267_ks_matrix" ->
      raw"""WITH rows_ AS (
        |  SELECT source AS g,
        |    ${wsTokenCount(9)} AS v
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), vals AS (SELECT DISTINCT v FROM rows_),
        |cls AS (SELECT g, count(*) AS n FROM rows_ GROUP BY 1),
        |pgv AS (SELECT g, v, count(*) AS ng FROM rows_ GROUP BY 1, 2),
        |dense AS (
        |  SELECT c.g, va.v, coalesce(p.ng, 0) AS ng, c.n
        |  FROM vals va CROSS JOIN cls c
        |  LEFT JOIN pgv p ON p.g = c.g AND p.v = va.v
        |), cdf AS (
        |  SELECT g, v, n, sum(ng) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM dense
        |), pairs AS (
        |  SELECT a.g AS ga, b.g AS gb, a.v, a.n AS na, b.n AS nb,
        |    abs(a.cp::HUGEINT * b.n::HUGEINT
        |      - b.cp::HUGEINT * a.n::HUGEINT) AS num
        |  FROM cdf a JOIN cdf b ON a.v = b.v AND a.g < b.g
        |)
        |SELECT ga AS source_a, gb AS source_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(num::DOUBLE / (na::DOUBLE * nb::DOUBLE), 6) AS ks_d,
        |  v AS ks_at
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY ga, gb ORDER BY num DESC, v) AS rn
        |      FROM pairs)
        |WHERE rn = 1""".stripMargin,

    // dense_rank twin of the histogram rank; same [0,1] closing tree
    "q265_rank_normalize" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  round(CASE WHEN nv > 1 THEN (dr - 1)::DOUBLE / (nv - 1)::DOUBLE
        |        ELSE 0.0 END, 6) AS rank_norm
        |FROM (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    dense_rank() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal) AS dr,
        |    count(DISTINCT c_acctbal) OVER (PARTITION BY c_mktsegment) AS nv
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |    AND c_mktsegment IS NOT NULL)""".stripMargin,

    // the same Tukey fences recomputed with DuckDB's percentile_cont
    "q134_iqr_outliers" ->
      """WITH f AS (
        |  SELECT event_type,
        |    percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS q1,
        |    percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS q3
        |  FROM events GROUP BY 1
        |), ff AS (
        |  SELECT event_type, q1 - (q3 - q1) * 1.5 AS lo,
        |    q3 + (q3 - q1) * 1.5 AS hi
        |  FROM f
        |)
        |SELECT e.event_type,
        |  CAST(sum(CASE WHEN e.value < ff.lo OR e.value > ff.hi
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_rows,
        |  floor(min(ff.lo) * 1e4 + 0.5) / 1e4 AS fence_lo,
        |  floor(min(ff.hi) * 1e4 + 0.5) / 1e4 AS fence_hi
        |FROM events e JOIN ff USING (event_type)
        |GROUP BY 1""".stripMargin,

    // identical RANGE window over the preceding-days frame with the
    // same exact-integer-sum mean/variance formula
    "q127_daily_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT event_type, day, n_events,
        |    count(*) OVER w AS nb,
        |    sum(n_events) OVER w AS s1,
        |    sum(n_events * n_events) OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type
        |    ORDER BY day - DATE '1970-01-01'
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, day, n_events,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_baseline_days,
        |  round(CASE WHEN nb > 0 THEN s1::DOUBLE / nb::DOUBLE END, 6) AS baseline_mean,
        |  floor(CASE WHEN nb > 0 AND
        |      s2::DOUBLE / nb::DOUBLE - (s1::DOUBLE / nb::DOUBLE) * (s1::DOUBLE / nb::DOUBLE) > 0
        |    THEN (n_events::DOUBLE - s1::DOUBLE / nb::DOUBLE)
        |      / sqrt(s2::DOUBLE / nb::DOUBLE - (s1::DOUBLE / nb::DOUBLE) * (s1::DOUBLE / nb::DOUBLE))
        |  END * 1e6 + 0.5) / 1e6 AS z
        |FROM st""".stripMargin
  )
}
