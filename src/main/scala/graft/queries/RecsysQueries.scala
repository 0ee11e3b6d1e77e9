package graft.queries

import graft.Tables
import graft.queries.OracleSql._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recommendation and user-journey operators: item-to-item CF and its
  * holdout, basket pairs, association rules, audience overlap, ranking
  * and retrieval metrics, funnels, attribution, transition models and
  * model-calibration reports.
  */
object RecsysQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The purchases, and each one's view/click touches in its trailing
    * 7-day window through the keyed interval join, bucketed by day
    * (q195, q250).
    */
  private def trailingTouches(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("p_us"))
      .withColumn("w_start", col("p_us") - 7L * 86400L * 1000000L)
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("touch_type"))
    (purchases, graft.tables.ScaleJoins.pointInIntervalJoin(
      touches, "t_us", purchases, "w_start", "p_us",
      bucketWidth = 86400L * 1000000L, keys = Seq("user_id")))
  }

  val queries: Map[String, Q] = Map(
    // cohort retention matrix: users cohorted by first-event day,
    // activity counted at each day offset — ONE shuffle keyed on the
    // user (collect_set of active days partial-aggregates map-side,
    // bounded by the calendar), then a map-side-combined final agg
    "q110_cohort_retention" -> ((s, d) =>
      graft.operators.AnalyticsOps.cohortRetention(Tables.events(s, d))),

    // one-vs-rest exact AUC + Kolmogorov-Smirnov separation per event
    // type, value as the score: midrank AUC and the integer-numerator
    // KS sweep over the dense (class x value) frame
    "q211_ranking_metrics" -> ((s, d) =>
      graft.operators.AnalyticsOps.rankingMetrics(Tables.events(s, d),
        "event_type", "value")),

    // gains/lift deciles ranked by value descending, purchase as the
    // positive class; tie runs land atomically in the bin of their
    // last global position — deterministic under ties in both engines
    "q212_gains_table" -> ((s, d) =>
      graft.operators.AnalyticsOps.gainsTable(Tables.events(s, d),
        "value", col("event_type") === "purchase", nBins = 10)),

    // IR eval closing the search family: precision@10, MRR, nDCG@10 of
    // the q112 BM25 ranking against all-terms-present relevance; DCG
    // and ideal DCG as ordered <=k-row window folds
    "q230_retrieval_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ranked = graft.text.TextOps.bm25Search(docs, "doc_id", "text",
        queryTerms = Seq("table", "join", "stream"), k = 10)
      val norm = concat(lit(" "),
        graft.text.TextOps.normalizeText(col("text")), lit(" "))
      val relevant = docs.filter(col("text").isNotNull &&
        norm.contains(" table ") && norm.contains(" join ") &&
        norm.contains(" stream "))
      graft.text.Search.retrievalEval(ranked, "doc_id", "rank",
        relevant, "doc_id", k = 10)
    }),

    // next-event prediction eval: calendar-half split, per-state argmax
    // model from the first half scored on the second; integer counts +
    // min-struct argmax, closing accuracy division
    "q223_markov_accuracy" -> ((s, d) =>
      graft.operators.AnalyticsOps.markovNextEventAccuracy(
        Tables.events(s, d))),

    // removal-effect attribution: conversions path-dependent on each
    // pre-conversion channel; exact integer counts
    "q214_removal_attribution" -> ((s, d) =>
      graft.operators.AnalyticsOps.removalEffectAttribution(
        Tables.events(s, d))),

    // last-touch attribution through the custom as-of PLANNER
    // operator: each purchase pairs with the user's latest prior
    // touch (view/click) and attributes if within 7 days; touches
    // first dedupe to one per (user, instant) with a min-id rule so
    // equal-timestamp ties cannot make the as-of pick nondeterministic
    "q194_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("p_us"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id").as("tid"), col("event_type").as("ttype"))
        .groupBy("user_id", "t_us")
        .agg(min(struct(col("tid"), col("ttype"))).as("__t"))
        .select(col("user_id"), col("t_us"),
          col("__t.ttype").as("touch_type"))
      graft.plans.AsOfJoin.asofJoin(
        purchases, touches, Seq("user_id"), "p_us", "t_us")
        .select(when(col("t_us").isNotNull &&
            col("p_us") - col("t_us") <= 7L * 86400L * 1000000L,
            col("touch_type")).otherwise(lit("none")).as("attributed_to"))
        .groupBy("attributed_to")
        .agg(count(lit(1)).as("n_purchases"))
    }),

    // LINEAR multi-touch attribution via the KEYED interval join:
    // every view/click in a purchase's trailing 7-day window shares
    // the credit 1/k equally — the fractional complement of q194's
    // winner-take-all last touch; bucket-explode join sharded by
    // (user, day bucket), never a cross product
    "q195_linear_attribution" -> ((s, d) => {
      val (purchases, joined) = trailingTouches(s, d)
      joined.persist()
      val k = joined.groupBy("purchase_id").agg(count(lit(1)).as("__k"))
      val att = joined.join(k, "purchase_id")
        .groupBy(col("touch_type").as("attributed_to"))
        .agg(round(sum(lit(1.0) / col("__k")), 4).as("credit"),
          count(lit(1)).as("n_touches"))
      val un = purchases.join(k, Seq("purchase_id"), "left_anti")
        .agg(count(lit(1)).as("__n"))
        .select(lit("none").as("attributed_to"),
          round(col("__n").cast("double"), 4).as("credit"),
          lit(0L).as("n_touches"))
      graft.state.Checkpoints.stableThenRelease(att.unionByName(un),
        () => joined.unpersist(blocking = false))
    }),

    // calibration curve (reliability diagram) for the q24 language
    // scorer: score_en deciles vs the observed fraction of truly-en
    // docs — exact counts, single divisions, the same IEEE
    // floor(score*10) bin on both sides
    "q196_calibration_curve" -> ((s, d) => {
      val sc = graft.text.TextOps.langId(Tables.documents(s, d))
        .select(col("score_en"),
          (col("lang") === "en").cast("long").as("__y"))
      sc.withColumn("bin", least(floor(col("score_en") * 10), lit(9L)).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("__y").cast("double") / count(lit(1)).cast("double"), 6)
            .as("observed_en_rate"),
          round(avg("score_en"), 6).as("mean_score"))
    }),

    // ordered conversion funnel view→click→purchase with
    // earliest-completion semantics: each step joins the previous
    // step's #users-row (user, ts) frame and min-aggregates
    "q113_funnel" -> ((s, d) =>
      graft.operators.AnalyticsOps.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"))),

    // market-basket analysis: top part pairs by co-occurrence within
    // orders, with support counts and lift = N·n_ab/(n_a·n_b) — the
    // association-rule core (Apriori's pair step); the self-join fans
    // out per order by basket size (bounded), never by catalog size
    "q155_basket_pairs" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val nOrders = li.select("o").distinct().count()
      val pairs = li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), "o")
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      val totals = li.groupBy(col("p")).agg(count(lit(1)).as("n"))
      pairs
        .join(totals.select(col("p").as("pa"), col("n").as("__n_a")), "pa")
        .join(totals.select(col("p").as("pb"), col("n").as("__n_b")), "pb")
        .select(col("pa"), col("pb"), col("n_both"),
          round(col("n_both").cast("double") * nOrders.toDouble /
            (col("__n_a").cast("double") * col("__n_b").cast("double")), 6).as("lift"))
        .orderBy(col("n_both").desc, col("pa").asc, col("pb").asc)
        .limit(20)
    }),

    // audience overlap matrix: Jaccard of the distinct-user sets of
    // every event-type pair — |A∩B| from one user-keyed self-join of
    // the deduped (type, user) frame, set sizes broadcast back, the
    // ratio an exact integer quotient rounded to 6
    "q154_audience_overlap" -> ((s, d) => {
      val tu = Tables.events(s, d)
        .select(col("event_type").as("t"), col("user_id").as("u"))
        .distinct()
      val sizes = tu.groupBy("t").agg(count(lit(1)).as("n"))
      val inter = tu.select(col("t").as("type_a"), col("u"))
        .join(tu.select(col("t").as("type_b"), col("u")), "u")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.select(col("t").as("type_a"), col("n").as("__na"))), "type_a")
        .join(broadcast(sizes.select(col("t").as("type_b"), col("n").as("__nb"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_both"),
          (col("__na") + col("__nb") - col("n_both")).as("n_union"),
          round(col("n_both").cast("double") /
            (col("__na") + col("__nb") - col("n_both")).cast("double"), 6)
            .as("jaccard"))
    }),

    // RFM segmentation: per-user recency/frequency/monetary scored
    // into terciles by percentile_cont value thresholds (the q134
    // boundary contract: identical threshold doubles both engines),
    // concatenated into the classic 3-digit segment label
    "q153_rfm_segments" -> ((s, d) => {
      val e = Tables.events(s, d)
      val maxTs = e.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val per = e.groupBy("user_id").agg(
        expr(s"(${maxTs}L - max(unix_micros(ts))) div 86400000000L")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum("value"), 4).as("monetary"))
      val th = per.agg(
        expr("percentile_cont(0.3333) WITHIN GROUP (ORDER BY recency_days)").as("r1"),
        expr("percentile_cont(0.6667) WITHIN GROUP (ORDER BY recency_days)").as("r2"),
        expr("percentile_cont(0.3333) WITHIN GROUP (ORDER BY frequency)").as("f1"),
        expr("percentile_cont(0.6667) WITHIN GROUP (ORDER BY frequency)").as("f2"),
        expr("percentile_cont(0.3333) WITHIN GROUP (ORDER BY monetary)").as("m1"),
        expr("percentile_cont(0.6667) WITHIN GROUP (ORDER BY monetary)").as("m2"))
      def band(v: org.apache.spark.sql.Column, t1: org.apache.spark.sql.Column, t2: org.apache.spark.sql.Column) =
        when(v <= t1, 1).when(v <= t2, 2).otherwise(3)
      per.crossJoin(broadcast(th))
        .withColumn("r_score", band(col("recency_days"), col("r1"), col("r2")))
        .withColumn("f_score", band(col("frequency"), col("f1"), col("f2")))
        .withColumn("m_score", band(col("monetary"), col("m1"), col("m2")))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
    }),

    // churn report: users active in the first observed week with NO
    // activity afterwards — one anti-join between two user sets
    "q147_churned_users" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("__ts"))
      val bounds = e.agg(min("__ts").as("__t0")).head()
      val cut = bounds.getLong(0) + 7L * 86400L * 1000000L
      val week1 = e.filter(col("__ts") < cut).select("user_id").distinct()
      val later = e.filter(col("__ts") >= cut).select("user_id").distinct()
      val churned = week1.join(later, Seq("user_id"), "left_anti")
      churned.agg(count(lit(1)).as("n_churned"))
        .crossJoin(week1.agg(count(lit(1)).as("n_week1")))
        .select(col("n_week1"), col("n_churned"))
    }),

    // "customers who bought X also bought": item-item cosine over the
    // customer–part incidence, top-5 neighbours per part, power-user
    // baskets excluded outright (exact, replayable cap)
    "q239_item_similarity" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item"))
      graft.operators.AnalyticsOps.itemSimilarity(
        baskets, "user_id", "item", k = 5, maxBasket = 60, minCooc = 2L)
    }),

    // time-decay multi-touch attribution with a DYADIC kernel:
    // weight = 2^(6 − age_days) is an exact integer (the q203 Brown
    // trick), so each purchase's share w/Σw is one closing division;
    // same keyed interval join as q195
    "q250_time_decay_attribution" -> ((s, d) => {
      val (purchases, touched) = trailingTouches(s, d)
      val joined = touched
        .withColumn("__w", expr(
          // least(…, 6) clamps a touch landing exactly on the window
          // open edge (age = 7d sharp) to the oldest-day weight — a
          // negative shift would be engine-undefined
          "shiftleft(1L, CAST(6 - least((p_us - t_us) div 86400000000L, 6L) AS INT))"))
      joined.persist()
      val sw = joined.groupBy("purchase_id").agg(sum("__w").as("__sw"))
      val att = joined.join(sw, "purchase_id")
        .groupBy(col("touch_type").as("attributed_to"))
        .agg(round(sum(col("__w").cast("double") / col("__sw").cast("double")),
          4).as("credit"),
          count(lit(1)).as("n_touches"))
      val un = purchases.join(sw, Seq("purchase_id"), "left_anti")
        .agg(count(lit(1)).as("__n"))
        .select(lit("none").as("attributed_to"),
          round(col("__n").cast("double"), 4).as("credit"),
          lit(0L).as("n_touches"))
      graft.state.Checkpoints.stableThenRelease(att.unionByName(un),
        () => joined.unpersist(blocking = false))
    }),

    // one Apriori step above the pair surface: frequent part triples
    // inside order baskets; the prune is correctness-gated against a
    // prune-free oracle
    "q253_frequent_triples" -> ((s, d) =>
      graft.operators.AnalyticsOps.frequentTriples(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L)),

    // {a,b} -> c rules with confidence and lift over the q253 triples
    "q255_association_rules" -> ((s, d) =>
      graft.operators.AnalyticsOps.associationRules(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L)),

    // rank-biased overlap between two retrieval systems (Webber et
    // al.): BM25 top-10 vs 2-gram Jaccard top-10 for the same query
    // intent, overlap-at-depth A_1..A_10 as exact integers, truncated
    // RBO(p=0.9) as ONE fixed left-associated fp tree (literal-parsed
    // p powers — both engines parse '0.9'/'0.1' to the same double
    // and multiply identically) on the e9 lattice. The eval a search
    // pipeline reads before swapping rankers
    "q326_rbo_rank_agreement" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bm = graft.text.TextOps.bm25Search(docs, "doc_id", "text",
          Seq("key", "agg", "row", "scan", "slow", "fast", "table",
            "value", "part", "hash"), k = 20)
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("rank").as("__ra"))
      val w = Window.orderBy(col("jaccard").desc, col("doc_id").asc)
      val jac = graft.dedup.NearDup.searchByText(docs, "doc_id", "text",
          "key agg row scan slow fast table value part hash",
          k = 20, minJaccard = 0.01)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("rank").as("__rb"))
      val m = bm.join(jac, Seq("doc_id"), "full")
        .select(greatest(coalesce(col("__ra"), lit(11)),
          coalesce(col("__rb"), lit(11))).as("__m"))
      val ag = m.agg(
        sum(when(col("__m") <= 1, 1L).otherwise(0L)).as("a1"),
        (2 to 10).map(dd =>
          sum(when(col("__m") <= dd, 1L).otherwise(0L)).as(s"a$dd")): _*)
      // ((t1 + t2) + ...) with t_d = 0.9^(d-1) * A_d / d, powers as
      // left-folded literal products — the identical tree in the SQL
      val rbo = (1 to 10).map { dd =>
        val pw = (1 until dd).foldLeft(lit(1.0d))((a, _) => a * lit(0.9d))
        pw * (col(s"a$dd").cast(DoubleType) / lit(dd.toDouble))
      }.reduce(_ + _)
      ag.select((1 to 10).map(dd => col(s"a$dd")) :+
        floor(lit(0.1d) * rbo * lit(1e9d) + lit(0.5d)).cast(LongType)
          .as("rbo_e9"): _*)
    }),

    // audience overlap between event types: exact Jaccard of the
    // distinct user sets per pair — |A∩B| from one pair count over
    // the deduped incidence, union by inclusion-exclusion
    "q279_audience_overlap" -> ((s, d) => {
      val ui = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_type").as("__t"), col("user_id").as("__u"))
        .distinct()
      val sizes = ui.groupBy("__t").agg(count(lit(1)).as("__n"))
      val inter = ui.select(col("__u"), col("__t").as("type_a"))
        .join(ui.select(col("__u"), col("__t").as("type_b")), "__u")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      inter
        .join(sizes.select(col("__t").as("type_a"), col("__n").as("n_a")),
          "type_a")
        .join(sizes.select(col("__t").as("type_b"), col("__n").as("n_b")),
          "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          round(col("n_both").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_both")).cast(DoubleType), 6)
            .as("jaccard"))
    }),

    // how predictable are user flows: conditional next-event entropy
    // per current state and the corpus-wide predictability index
    "q276_transition_entropy" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("__us"), col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("__us"), col("event_id"))
      val trans = e.withColumn("__next", lead("event_type", 1).over(w))
        .filter(col("__next").isNotNull)
        .groupBy(col("event_type").as("state"), col("__next"))
        .agg(count(lit(1)).as("__c"))
      val totals = trans.groupBy("state").agg(sum("__c").as("__t"))
      val p = col("__c").cast(DoubleType) / col("__t").cast(DoubleType)
      trans.join(totals, "state")
        .groupBy("state")
        .agg(max("__t").as("n_transitions"),
          count(lit(1)).as("n_successors"),
          round(sum(-p * log(p)), 6).as("entropy_nats"))
    }),

    // repeat-purchase cadence: consecutive purchase gaps per user
    // (user-keyed lag window — bounded by one user's purchases),
    // summarized on the proven percentile_cont surface
    "q272_repurchase_intervals" -> ((s, d) => {
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("__us"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("__us")
      p.withColumn("__prev", lag("__us", 1).over(w))
        .filter(col("__prev").isNotNull)
        .withColumn("__gap_h",
          (col("__us") - col("__prev")).cast(DoubleType) / 3600.0e6)
        .agg(count(lit(1)).as("n_gaps"),
          countDistinct("user_id").as("n_repeat_users"),
          round(expr(
            "percentile_cont(0.5) WITHIN GROUP (ORDER BY __gap_h)"), 4)
            .as("median_gap_hours"),
          round(expr(
            "percentile_cont(0.9) WITHIN GROUP (ORDER BY __gap_h)"), 4)
            .as("p90_gap_hours"))
    }),

    // signup→purchase conversion latency by signup-month cohort:
    // exact counts, one division, percentile_cont latency
    "q273_signup_to_purchase" -> ((s, d) => {
      // Portable closings, integer-only: conversion ships as
      // truncating ppm; the latency median ships as the ORDER-
      // STATISTIC two-central-values sum in integer microseconds
      // (lo+hi — halve and convert to hours off-engine) —
      // percentile_cont's interpolation formula is engine-implemented
      // and splits hashes across DuckDB versions, and the cohort key
      // is the integer yyyymm (calendar arithmetic on an explicit
      // epoch-day, no engine-formatted date strings).
      val e = Tables.events(s, d)
      def cohortYm(usName: String): Column = {
        val day = expr(s"$usName div 86400000000L")
        val dt = date_add(lit("1970-01-01").cast(DateType),
          day.cast(IntegerType))
        (year(dt) * 100 + month(dt)).cast(IntegerType)
      }
      val signups = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("__s_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("__p_us"))
      val conv = signups.join(purchases, "user_id")
        .filter(col("__p_us") >= col("__s_us"))
        .groupBy("user_id", "__s_us")
        .agg(min("__p_us").as("__fp_us"))
        .select(col("user_id"), cohortYm("__s_us").as("cohort_ym"),
          (col("__fp_us") - col("__s_us")).as("__lat_us"))
      // cohort-partition window: bounded by cohort size (the same sort
      // percentile_cont performs), values-only order so ties are moot
      val wC = Window.partitionBy("cohort_ym")
        .orderBy(col("__lat_us"), col("user_id"))
      val med = conv
        .withColumn("__rn", row_number().over(wC))
        .withColumn("__nc", count(lit(1)).over(
          Window.partitionBy("cohort_ym")))
        .groupBy("cohort_ym")
        .agg(sum(when(col("__rn") === expr("(__nc + 1) div 2"),
          col("__lat_us")).otherwise(0L) +
          when(col("__rn") === expr("__nc div 2 + 1"), col("__lat_us"))
            .otherwise(0L)).as("median_lat_us2"))
      signups
        .withColumn("cohort_ym", cohortYm("__s_us"))
        .join(conv.select(col("user_id"), lit(1L).as("__c")),
          Seq("user_id"), "left")
        .groupBy("cohort_ym")
        .agg(count(lit(1)).as("n_signups"),
          sum(coalesce(col("__c"), lit(0L))).as("n_converted"))
        .withColumn("conversion_ppm",
          expr("n_converted * 1000000 div n_signups"))
        .join(med, Seq("cohort_ym"), "left")
    }),

    // probabilistic-forecast quality for the q24/q196 scorer: Brier
    // score on the ×1e6 integer lattice (EXACT — the 6dp score and
    // the 0/1 label both live there) + 10-bin expected calibration
    // error; the q196 floor(score*10) bin convention
    "q263_brier_ece" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val sc = graft.text.TextOps.langId(Tables.documents(s, d))
        .select(round(col("score_en") * 1000000).cast(LongType).as("__s6"),
          (col("lang") === "en").cast(LongType).as("__y"),
          least(floor(col("score_en") * 10), lit(9L)).cast(IntegerType)
            .as("__bin"))
      val bins = sc.groupBy("__bin").agg(
        count(lit(1)).as("__nb"),
        sum("__y").as("__pb"),
        sum(col("__s6").cast(dec)).as("__sb"),
        sum((col("__s6").cast(dec) - col("__y").cast(dec) * 1000000) *
          (col("__s6").cast(dec) - col("__y").cast(dec) * 1000000))
          .as("__sq"))
      bins.agg(
        sum("__nb").as("n_docs"),
        round(sum("__sq").cast(DoubleType) /
          (sum("__nb").cast(DoubleType) * 1.0e12), 6).as("brier"),
        round(sum(abs(col("__pb").cast(DoubleType) /
          col("__nb").cast(DoubleType) -
          col("__sb").cast(DoubleType) /
            (col("__nb").cast(DoubleType) * 1.0e6)) *
          col("__nb").cast(DoubleType)) / sum("__nb").cast(DoubleType), 6)
          .as("ece"))
    }),

    // 3-fold cross-validated NB language-ID accuracy: md5 folds, each
    // fold scored by a model trained on the other two — the honest
    // accuracy number the self-train q118/q131 report can't give
    "q261_nb_cv_accuracy" -> ((s, d) => {
      // argmaxRound6: fold models are retrained on 2/3 slices, so
      // near-tied label scores are likelier than in the full-corpus
      // q118 model — the floor(score*1e6+0.5) lattice argmax key
      // collapses fp-order noise into deterministic label ties (both
      // engines share the lattice); the closing is integer-only ppm
      val docs = Tables.documents(s, d)
        .withColumn("__fold", (graft.operators.SplitOps.hashBucket(
          concat(col("doc_id").cast(StringType), lit("|cv"))) % 3)
          .cast(IntegerType))
      // fold trains run ~5 eager actions each (persist counts +
      // checkpoints); building the three folds concurrently overlaps
      // them (guide §2.6 via graft.Par) — plans and results unchanged
      graft.Par.build((0 until 3).map { f => () =>
        val train = docs.filter(col("__fold") =!= f)
        val test = docs.filter(col("__fold") === f)
        val model = graft.text.Classify.trainNaiveBayes(train, "lang", "text")
        graft.text.Classify.scoreNaiveBayes(test, "doc_id", "text", model,
            argmaxRound6 = true)
          .join(test.select(col("doc_id"), col("lang")), "doc_id")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("pred_label") === col("lang")).cast(LongType))
              .as("n_correct"))
          .select(lit(f).as("fold"), col("n_docs"), col("n_correct"),
            expr("n_correct * 1000000 div n_docs").as("accuracy_ppm"))
      }: _*).reduce(_ unionByName _)
    }),

    // MMR diversified rerank: greedy λ·rel − (1−λ)·max-sim selection
    // of 5 from the per-query top-12 pool — the redundancy-killing
    // step between retrieval and a context window
    "q251_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.mmrRerank(
        emb.filter(col("vec_id") < 3), emb,
        "vec_id", "embedding", "vec_id", "embedding",
        poolK = 12, selectK = 5, lambda = 0.7)
    }),

    // temporal-holdout recsys eval: train item-item cosine on the
    // first calendar half of orders, score hit-rate on the second
    "q246_rec_holdout_eval" -> ((s, d) => {
      val baskets = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("item"), col("o_orderdate").as("ts"))
      graft.operators.AnalyticsOps.itemRecHoldout(
        baskets, "user_id", "item", "ts", k = 5, maxBasket = 60,
        minCooc = 2L)
    }),

    // windowed funnel: view→click→purchase where each step must land
    // within 6 hours of the previous completion — the "converted
    // within T" product metric (same earliest-completion machinery)
    "q139_windowed_funnel" -> ((s, d) =>
      graft.operators.AnalyticsOps.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"),
        maxGapSecs = Some(6L * 3600L))),

    // event-type transition matrix: consecutive (from → to) pairs per
    // user — within-bucket lags + ONE boundary pair per bucket from
    // the calendar-bounded summary (the q116 discipline; hourly
    // buckets so the synthetic span crosses boundaries)
    "q136_transition_matrix" -> ((s, d) =>
      graft.operators.AnalyticsOps.transitionCounts(Tables.events(s, d),
        bucketSecs = 3600L)),

    // funnel time-to-convert: per user completing view→click with
    // earliest-completion semantics, the delay distribution — integer
    // microsecond delays, percentile interpolation over them
    "q135_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("__vt"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("__ct"))
        .join(v, "user_id")
        .filter(col("__ct") > col("__vt"))
        .groupBy("user_id").agg(min(col("__ct") - col("__vt")).as("__d"))
      c.agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY __d)") / 1e6, 4)
          .as("p50_delay_s"),
        round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY __d)") / 1e6, 4)
          .as("p90_delay_s"))
    })
  )

  val oracle: Map[String, String] = Map(
    // independent recomputation: distinct (user, day) activity joined
    // to per-user first-day, date subtraction = the day offset
    "q110_cohort_retention" ->
      """WITH fu AS (
        |  SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT user_id, ts::DATE AS d FROM events
        |)
        |SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN fu USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // same quantized-value histogram as q201; the midrank AUC identity
    // and the HUGEINT KS numerator sweep over the dense class x value
    // frame, argmax tie broken toward the smallest threshold
    "q211_ranking_metrics" ->
      """WITH rows_ AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), hist AS (
        |  SELECT v, count(*) AS t FROM rows_ GROUP BY 1
        |), r2s AS (
        |  SELECT v, t, cum, 2 * (cum - t) + t + 1 AS r2 FROM (
        |    SELECT v, t, sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM hist)
        |), classes AS (
        |  SELECT g, count(*) AS n FROM rows_ GROUP BY 1
        |), tot AS (SELECT CAST(sum(t) AS HUGEINT) AS nn FROM hist
        |), pgv AS (
        |  SELECT g, v, count(*) AS ng FROM rows_ GROUP BY 1, 2
        |), dense AS (
        |  SELECT c.g, c.n, s.v, s.cum, COALESCE(p.ng, 0) AS ng
        |  FROM r2s s CROSS JOIN classes c
        |  LEFT JOIN pgv p ON p.g = c.g AND p.v = s.v
        |), swept AS (
        |  SELECT g, n, v, cum,
        |    sum(ng) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM dense
        |), nums AS (
        |  SELECT g, v, abs(CAST(cp AS HUGEINT) * (nn - n)
        |    - CAST(cum - cp AS HUGEINT) * CAST(n AS HUGEINT)) AS num
        |  FROM swept, tot
        |), ks AS (
        |  SELECT g, ks_num, min(v) AS ksv
        |  FROM nums JOIN (SELECT g, max(num) AS ks_num FROM nums GROUP BY 1)
        |    USING (g)
        |  WHERE num = ks_num GROUP BY 1, 2
        |), r2sum AS (
        |  SELECT g, sum(CAST(ng AS HUGEINT) * CAST(r2 AS HUGEINT)) AS rs
        |  FROM pgv p JOIN r2s r USING (v) GROUP BY 1
        |)
        |SELECT g AS event_type, n AS n_pos, CAST(nn - n AS BIGINT) AS n_neg,
        |  round(CASE WHEN nm > 0
        |    THEN CAST(u2 AS DOUBLE) / (CAST(nm AS DOUBLE) * 2.0) END, 6) AS auc,
        |  round(CASE WHEN nm > 0
        |    THEN CAST(ks_num AS DOUBLE) / CAST(nm AS DOUBLE) END, 6) AS ks,
        |  round(CAST(ksv AS DOUBLE) / 1000000.0, 6) AS ks_threshold
        |FROM classes JOIN r2sum USING (g) JOIN ks USING (g), tot,
        |  LATERAL (SELECT CAST(n AS HUGEINT) AS nh, nn - n AS m) a,
        |  LATERAL (SELECT rs - nh * (nh + 1) AS u2, nh * m AS nm) b""".stripMargin,

    // descending-rank bins over the score histogram: a tied run is
    // atomic in the bin of its LAST position (ceil(10*cum/N), exact
    // integers), cumulative capture over the 10-row bin frame
    "q212_gains_table" ->
      """WITH rows_ AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL
        |), hist AS (
        |  SELECT v, count(*) AS t, sum(y) AS p FROM rows_ GROUP BY 1
        |), tot AS (SELECT sum(t) AS nn, sum(p) AS pp FROM hist
        |), cums AS (
        |  SELECT v, t, p, sum(t) OVER (ORDER BY v DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist
        |), binned AS (
        |  SELECT CAST((10 * cum + nn - 1) // nn AS INTEGER) AS bin,
        |    sum(t) AS n, sum(p) AS n_pos
        |  FROM cums, tot GROUP BY 1
        |), cb AS (
        |  SELECT bin, n, n_pos,
        |    sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |  FROM binned
        |)
        |SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
        |  round(CAST(cum_pos AS DOUBLE) / CAST(pp AS DOUBLE), 6) + 0 AS gain,
        |  round(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE), 6)
        |    AS precision_at,
        |  round((CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
        |    (CAST(pp AS DOUBLE) / CAST(nn AS DOUBLE)), 6) AS lift
        |FROM cb, tot""".stripMargin,

    // q112's BM25 pipeline verbatim, whole-word relevance on the padded
    // normalized text, the same ln(x)/ln(2) ordered folds
    "q230_retrieval_eval" ->
      raw"""WITH ${bm25Scored("'table', 'join', 'stream'")}, ranked AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC)
        |      AS rank
        |    FROM scored)
        |  WHERE rank <= 10
        |), rel AS (
        |  SELECT DISTINCT d.doc_id
        |  FROM documents d JOIN norm ON norm.doc_id = d.doc_id
        |  WHERE d.text IS NOT NULL
        |    AND (' ' || norm.nt || ' ') LIKE '% table %'
        |    AND (' ' || norm.nt || ' ') LIKE '% join %'
        |    AND (' ' || norm.nt || ' ') LIKE '% stream %'
        |), nrel AS (SELECT count(*) AS n_relevant FROM rel
        |), topk AS (
        |  SELECT r.rank,
        |    CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS relv
        |  FROM ranked r LEFT JOIN rel ON rel.doc_id = r.doc_id
        |), folded AS (
        |  SELECT rank, relv,
        |    sum(CAST(relv AS DOUBLE)
        |      / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0)))
        |      OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS dcg
        |  FROM topk
        |), ag AS (
        |  SELECT count(*) AS n_results, CAST(sum(relv) AS BIGINT) AS nrelk,
        |    min(CASE WHEN relv = 1 THEN rank END) AS first_
        |  FROM topk
        |), dval AS (SELECT dcg FROM folded ORDER BY rank DESC LIMIT 1
        |), ifold AS (
        |  SELECT r,
        |    sum(1.0 / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0)))
        |      OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS id_
        |  FROM (SELECT unnest(generate_series(1,
        |    (SELECT least(10, n_relevant) FROM nrel))) AS r)
        |  WHERE (SELECT n_relevant FROM nrel) > 0
        |), ival AS (
        |  SELECT COALESCE((SELECT id_ FROM ifold ORDER BY r DESC LIMIT 1),
        |    0.0) AS idcg
        |)
        |SELECT 10 AS k, n_results, n_relevant,
        |  floor(CAST(nrelk AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000
        |    AS precision_at_k,
        |  floor(COALESCE(1.0 / CAST(first_ AS DOUBLE), 0.0) * 1000000 + 0.5)
        |    / 1000000 AS mrr,
        |  floor((SELECT dcg FROM dval) * 1000000 + 0.5) / 1000000 AS dcg,
        |  floor(idcg * 1000000 + 0.5) / 1000000 AS idcg,
        |  floor(CASE WHEN idcg > 0
        |    THEN (SELECT dcg FROM dval) / idcg END * 1000000 + 0.5) / 1000000
        |    AS ndcg
        |FROM ag, nrel, ival""".stripMargin,

    // the same (user, day-bucket) adjacency as q136, first/last rows by
    // row_number twins of the engine's min/max structs, argmax by
    // (count DESC, successor ASC)
    "q223_markov_accuracy" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_id AS id, epoch_us(ts) AS tsu,
        |    event_type AS t, epoch_us(ts) // 86400000000 AS b
        |  FROM events
        |), within AS (
        |  SELECT p AS from_type, t AS to_type, tsu AS tots FROM (
        |    SELECT t, tsu,
        |      lag(t) OVER (PARTITION BY u, b ORDER BY tsu, id) AS p
        |    FROM e)
        |  WHERE p IS NOT NULL
        |), fl AS (
        |  SELECT u, b,
        |    max(CASE WHEN rna = 1 THEN t END) AS first_t,
        |    max(CASE WHEN rna = 1 THEN tsu END) AS first_ts,
        |    max(CASE WHEN rnd = 1 THEN t END) AS last_t
        |  FROM (SELECT u, b, t, tsu,
        |      row_number() OVER (PARTITION BY u, b ORDER BY tsu, id) AS rna,
        |      row_number() OVER (PARTITION BY u, b ORDER BY tsu DESC, id DESC)
        |        AS rnd
        |    FROM e)
        |  GROUP BY 1, 2
        |), boundary AS (
        |  SELECT prev_last AS from_type, first_t AS to_type,
        |    first_ts AS tots
        |  FROM (SELECT first_t, first_ts,
        |      lag(last_t) OVER (PARTITION BY u ORDER BY b) AS prev_last
        |    FROM fl)
        |  WHERE prev_last IS NOT NULL
        |), pairs AS (
        |  SELECT from_type, to_type, tots // 86400000000 AS day
        |  FROM (SELECT * FROM within UNION ALL SELECT * FROM boundary)
        |), bounds AS (
        |  SELECT min(day) + (max(day) - min(day)) // 2 AS split FROM pairs
        |), model AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM pairs, bounds WHERE day <= split GROUP BY 1, 2
        |), pred AS (
        |  SELECT from_type, CAST(n_train AS BIGINT) AS n_train,
        |    to_type AS predicted_next
        |  FROM (SELECT m.from_type, m.to_type,
        |      sum(m.n) OVER (PARTITION BY m.from_type) AS n_train,
        |      row_number() OVER (PARTITION BY m.from_type
        |        ORDER BY m.n DESC, m.to_type) AS rn
        |    FROM model m)
        |  WHERE rn = 1
        |)
        |SELECT e.from_type,
        |  CAST(COALESCE(max(p.n_train), 0) AS BIGINT) AS n_train,
        |  max(p.predicted_next) AS predicted_next,
        |  count(*) AS n_eval,
        |  CAST(sum(CASE WHEN e.to_type = p.predicted_next THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  CAST((sum(CASE WHEN e.to_type = p.predicted_next
        |      THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
        |    AS accuracy_ppm
        |FROM (SELECT from_type, to_type FROM pairs, bounds WHERE day > split) e
        |LEFT JOIN pred p USING (from_type)
        |GROUP BY 1""".stripMargin,

    // conversions strictly after their pre-purchase touches; DISTINCT
    // (user, channel) dependence, integer counts, closing divisions
    "q214_removal_attribution" ->
      """WITH conv AS (
        |  SELECT user_id AS u, min(ts) AS cts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1
        |), nconv AS (SELECT count(*) AS nc FROM conv
        |), dep AS (
        |  SELECT DISTINCT e.user_id AS u, e.event_type AS channel
        |  FROM events e JOIN conv c ON c.u = e.user_id
        |  WHERE e.event_type <> 'purchase' AND e.ts < c.cts
        |), pc AS (
        |  SELECT channel, count(*) AS n_dependent FROM dep GROUP BY 1
        |), den AS (SELECT sum(n_dependent) AS tot FROM pc)
        |SELECT channel, n_dependent,
        |  round(CAST(n_dependent AS DOUBLE) / CAST(nc AS DOUBLE), 6)
        |    AS removal_effect,
        |  round(CAST(n_dependent AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |    AS attribution_share
        |FROM pc, nconv, den""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN replays the planner operator;
    // the same min-id touch dedupe and 7-day CASE
    "q194_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    arg_min(event_type, event_id) AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click')
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT p.pus, t.tus, t.touch_type
        |  FROM p ASOF LEFT JOIN t
        |    ON p.user_id = t.user_id AND t.tus <= p.pus
        |)
        |SELECT CASE WHEN tus IS NOT NULL AND pus - tus <= 604800000000
        |         THEN touch_type ELSE 'none' END AS attributed_to,
        |  count(*) AS n_purchases
        |FROM j GROUP BY 1""".stripMargin,

    // plain range join + the identical 1/k credit arithmetic and
    // anti-join 'none' row
    "q195_linear_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_type AS ttype
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT p.pid, t.ttype
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tus >= p.pus - 604800000000 AND t.tus < p.pus
        |), k AS (
        |  SELECT pid, count(*) AS k FROM j GROUP BY 1
        |), att AS (
        |  SELECT j.ttype AS attributed_to,
        |    round(sum(CAST(1 AS DOUBLE) / k.k), 4) AS credit,
        |    count(*) AS n_touches
        |  FROM j JOIN k USING (pid) GROUP BY 1
        |), un AS (
        |  SELECT 'none' AS attributed_to,
        |    round(CAST(count(*) AS DOUBLE), 4) AS credit,
        |    CAST(0 AS BIGINT) AS n_touches
        |  FROM p WHERE pid NOT IN (SELECT pid FROM k)
        |)
        |SELECT * FROM att UNION ALL SELECT * FROM un""".stripMargin,

    // the q24 score_en recomputation + the same floor(score*10) bin
    "q196_calibration_curve" ->
      raw"""WITH t AS (
        |  SELECT lang, text,
        |    regexp_split_to_array(lower(trim(text, $ws)), '\s+') toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    round(CASE WHEN len(toks) > 0 AND length(trim(text, $ws)) > 0
        |      THEN len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE
        |        / len(toks) ELSE 0 END, 6) AS score_en
        |  FROM t
        |)
        |SELECT CAST(least(floor(score_en * 10), 9) AS INTEGER) AS bin,
        |  count(*) AS n_docs,
        |  round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS observed_en_rate,
        |  round(avg(score_en), 6) AS mean_score
        |FROM s GROUP BY 1""".stripMargin,

    // step-wise correlated recomputation: each stage's completion is
    // the min event strictly after the previous stage's completion
    "q113_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
        |)
        |SELECT CAST(1 AS INTEGER) AS step_idx, 'view' AS step,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin,

    // same pair counts, totals, lift formula, and (count desc, pair
    // asc) top-20 cut
    "q155_basket_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |), no AS (SELECT count(DISTINCT o)::DOUBLE AS n FROM li),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, count(*) AS n_both
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2
        |), tot AS (SELECT p, count(*) AS n FROM li GROUP BY 1)
        |SELECT pa, pb, n_both,
        |  round(n_both::DOUBLE * (SELECT n FROM no)
        |    / (ta.n::DOUBLE * tb.n::DOUBLE), 6) AS lift
        |FROM (SELECT *, row_number() OVER (ORDER BY n_both DESC, pa ASC, pb ASC)
        |        AS rn FROM pairs) pairs
        |JOIN tot ta ON ta.p = pairs.pa
        |JOIN tot tb ON tb.p = pairs.pb
        |WHERE rn <= 20""".stripMargin,

    // same deduped self-join and exact integer ratio
    "q154_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS t, user_id AS u FROM events
        |), sizes AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
        |inter AS (
        |  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_both,
        |  CAST(sa.n + sb.n - n_both AS BIGINT) AS n_union,
        |  round(n_both::DOUBLE / (sa.n + sb.n - n_both)::DOUBLE, 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.t = type_a
        |JOIN sizes sb ON sb.t = type_b""".stripMargin,

    // same aggregates, thresholds, and band comparisons
    "q153_rfm_segments" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |per AS (
        |  SELECT user_id,
        |    ((SELECT m FROM mx) - max(epoch_us(ts))) // 86400000000 AS recency_days,
        |    count(*) AS frequency,
        |    round(sum(value), 4) AS monetary
        |  FROM events GROUP BY 1
        |), th AS (
        |  SELECT
        |    percentile_cont(0.3333) WITHIN GROUP (ORDER BY recency_days) AS r1,
        |    percentile_cont(0.6667) WITHIN GROUP (ORDER BY recency_days) AS r2,
        |    percentile_cont(0.3333) WITHIN GROUP (ORDER BY frequency) AS f1,
        |    percentile_cont(0.6667) WITHIN GROUP (ORDER BY frequency) AS f2,
        |    percentile_cont(0.3333) WITHIN GROUP (ORDER BY monetary) AS m1,
        |    percentile_cont(0.6667) WITHIN GROUP (ORDER BY monetary) AS m2
        |  FROM per
        |)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
        |  frequency, monetary,
        |  CAST(CASE WHEN recency_days <= r1 THEN 1
        |            WHEN recency_days <= r2 THEN 2 ELSE 3 END AS INTEGER) AS r_score,
        |  CAST(CASE WHEN frequency <= f1 THEN 1
        |            WHEN frequency <= f2 THEN 2 ELSE 3 END AS INTEGER) AS f_score,
        |  CAST(CASE WHEN monetary <= m1 THEN 1
        |            WHEN monetary <= m2 THEN 2 ELSE 3 END AS INTEGER) AS m_score,
        |  CAST(CASE WHEN recency_days <= r1 THEN 1
        |            WHEN recency_days <= r2 THEN 2 ELSE 3 END AS VARCHAR) ||
        |  CAST(CASE WHEN frequency <= f1 THEN 1
        |            WHEN frequency <= f2 THEN 2 ELSE 3 END AS VARCHAR) ||
        |  CAST(CASE WHEN monetary <= m1 THEN 1
        |            WHEN monetary <= m2 THEN 2 ELSE 3 END AS VARCHAR) AS segment
        |FROM per, th""".stripMargin,

    // same first-week/after split via the global min timestamp
    "q147_churned_users" ->
      """WITH cut AS (
        |  SELECT min(epoch_us(ts)) + 604800000000 AS c FROM events
        |), w1 AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE epoch_us(ts) < (SELECT c FROM cut)
        |), later AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE epoch_us(ts) >= (SELECT c FROM cut)
        |)
        |SELECT (SELECT count(*) FROM w1) AS n_week1,
        |  (SELECT count(*) FROM w1
        |   WHERE user_id NOT IN (SELECT user_id FROM later)) AS n_churned""".stripMargin,

    // same capped incidence, pair counts, and one-expression cosine;
    // row_number replays the heap's (score desc, id asc) order
    "q239_item_similarity" ->
      """WITH ui AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |), kept AS MATERIALIZED (
        |  SELECT u, i FROM ui WHERE u IN (
        |    SELECT u FROM ui GROUP BY u HAVING count(*) <= 60)
        |), n AS (SELECT i, count(*) AS n FROM kept GROUP BY i),
        |cooc AS (
        |  SELECT a.i AS ia, b.i AS ib, count(*) AS c
        |  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia, ib, c FROM cooc UNION ALL SELECT ib, ia, c FROM cooc
        |), scored AS (
        |  SELECT s.ia AS item, s.ib AS sim,
        |    s.c::DOUBLE / sqrt(na.n::DOUBLE * nb.n::DOUBLE) + 0 AS cos
        |  FROM sym s JOIN n na ON na.i = s.ia JOIN n nb ON nb.i = s.ib
        |)
        |SELECT item, CAST(rank AS INT) AS rank, sim AS similar_item,
        |  cos + 0 AS cosine
        |FROM (SELECT item, sim, cos, row_number() OVER (
        |        PARTITION BY item ORDER BY cos DESC, sim) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin,

    // q195's join with the dyadic weight 1 << (6 - age_days); the
    // same least() clamp on the window's open edge
    "q250_time_decay_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_type AS ttype
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT p.pid, t.ttype,
        |    (1::BIGINT << CAST(6 - least((p.pus - t.tus) // 86400000000, 6)
        |       AS INTEGER)) AS w
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tus >= p.pus - 604800000000 AND t.tus < p.pus
        |), sw AS (
        |  SELECT pid, sum(w) AS sw FROM j GROUP BY 1
        |), att AS (
        |  SELECT j.ttype AS attributed_to,
        |    round(sum(j.w::DOUBLE / sw.sw::DOUBLE), 4) AS credit,
        |    count(*) AS n_touches
        |  FROM j JOIN sw USING (pid) GROUP BY 1
        |), un AS (
        |  SELECT 'none' AS attributed_to,
        |    round(CAST(count(*) AS DOUBLE), 4) AS credit,
        |    CAST(0 AS BIGINT) AS n_touches
        |  FROM p WHERE pid NOT IN (SELECT pid FROM sw)
        |)
        |SELECT * FROM att UNION ALL SELECT * FROM un""".stripMargin,

    // NO prune at all: the raw triple self-join with HAVING — equality
    // proves the engine's Apriori prune is lossless and sound
    "q253_frequent_triples" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |)
        |SELECT a.p AS item_a, b2.p AS item_b, c.p AS item_c,
        |  count(*) AS support
        |FROM b a
        |JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |JOIN b c ON a.o = c.o AND b2.p < c.p
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,

    // prune-free triples again, three antecedent rotations, the same
    // closing confidence/lift trees
    "q255_association_rules" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |), tri AS MATERIALIZED (
        |  SELECT a.p AS ia, b2.p AS ib, c.p AS ic, count(*) AS support
        |  FROM b a
        |  JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  JOIN b c ON a.o = c.o AND b2.p < c.p
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |), nb AS (SELECT count(DISTINCT o)::DOUBLE AS n FROM b),
        |singles AS (SELECT p, count(*) AS cs FROM b GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.p AS pa, b2.p AS pb, count(*) AS cp
        |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  GROUP BY 1, 2
        |), rules AS (
        |  SELECT ia AS ant1, ib AS ant2, ic AS consequent, support FROM tri
        |  UNION ALL
        |  SELECT ia, ic, ib, support FROM tri
        |  UNION ALL
        |  SELECT ib, ic, ia, support FROM tri
        |)
        |SELECT r.ant1, r.ant2, r.consequent, r.support,
        |  round(r.support::DOUBLE / p.cp::DOUBLE, 6) AS confidence,
        |  round(r.support::DOUBLE / p.cp::DOUBLE * (SELECT n FROM nb)
        |    / s.cs::DOUBLE, 6) AS lift
        |FROM rules r
        |JOIN pairs p ON p.pa = r.ant1 AND p.pb = r.ant2
        |JOIN singles s ON s.p = r.consequent""".stripMargin,

    // q181's two ranking replays verbatim (their portability is
    // re-proven by q181's own green row every round), the max-rank
    // full join, ten conditional sums, and the IDENTICAL fp tree:
    // left-folded literal 0.9 powers, left-associated term sum,
    // (0.1 * sum) on the e9 lattice
    "q326_rbo_rank_agreement" -> {
      val sums = (1 to 10).map(dd =>
        s"CAST(COALESCE(sum(CASE WHEN m <= $dd THEN 1 ELSE 0 END), 0)" +
          s" AS BIGINT) AS a$dd").mkString(",\n         |    ")
      val terms = (1 to 10).map { dd =>
        val pw = (1 until dd).foldLeft("1.0")((a, _) => s"($a * 0.9)")
        s"($pw * (CAST(a$dd AS DOUBLE) / $dd.0))"
      }.reduce((a, b) => s"($a + $b)")
      val aCols = (1 to 10).map(dd => s"a$dd").mkString(", ")
      s"""WITH ${bm25Scored("'key', 'agg', 'row', 'scan', 'slow', 'fast',\n    'table', 'value', 'part', 'hash'")}, bmr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= 10
         |), $shingles, q AS (
         |  SELECT list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) s
         |  FROM (SELECT regexp_split_to_array(
         |    'key agg row scan slow fast table value part hash', '\\s+') t)
         |), jscored AS (
         |  SELECT doc_id,
         |    round(len(list_intersect(sh.s, q.s))::DOUBLE /
         |      (len(sh.s) + len(q.s) - len(list_intersect(sh.s, q.s))), 4) AS jaccard
         |  FROM sh, q
         |), jr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY jaccard DESC, doc_id ASC) AS rank
         |    FROM jscored WHERE jaccard >= 0.01)
         |  WHERE rank <= 10
         |), ab AS (
         |  SELECT greatest(COALESCE(a.rank, 11), COALESCE(b.rank, 11)) AS m
         |  FROM bmr a FULL JOIN jr b USING (doc_id)
         |), ag AS (
         |  SELECT
         |    $sums
         |  FROM ab
         |)
         |SELECT $aCols,
         |  CAST(floor(((0.1 * $terms) * 1000000000.0) + 0.5) AS BIGINT)
         |    AS rbo_e9
         |FROM ag""".stripMargin
    },

    // same pair counts and inclusion-exclusion union
    "q279_audience_overlap" ->
      """WITH ui AS MATERIALIZED (
        |  SELECT DISTINCT event_type AS t, user_id AS u
        |  FROM events WHERE user_id IS NOT NULL
        |), sizes AS (SELECT t, count(*) AS n FROM ui GROUP BY 1),
        |inter AS (
        |  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2
        |)
        |SELECT i.type_a, i.type_b,
        |  sa.n AS n_a, sb.n AS n_b, i.n_both,
        |  round(i.n_both::DOUBLE / (sa.n + sb.n - i.n_both)::DOUBLE, 6)
        |    AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.t = i.type_a
        |JOIN sizes sb ON sb.t = i.type_b""".stripMargin,

    // user-keyed lead, exact transition counts, small −p·ln p sums
    "q276_transition_entropy" ->
      """WITH t AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events
        |), c AS (
        |  SELECT state, nxt, count(*) AS c FROM t
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2
        |), tot AS (SELECT state, sum(c) AS t FROM c GROUP BY 1)
        |SELECT c.state, CAST(max(tot.t) AS BIGINT) AS n_transitions,
        |  count(*) AS n_successors,
        |  round(sum(-(c.c::DOUBLE / tot.t::DOUBLE)
        |    * ln(c.c::DOUBLE / tot.t::DOUBLE)), 6) AS entropy_nats
        |FROM c JOIN tot USING (state) GROUP BY 1""".stripMargin,

    // same lag/percentile machinery; epoch_us twin of unix_micros
    "q272_repurchase_intervals" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) AS us
        |  FROM events WHERE event_type = 'purchase'
        |), g AS (
        |  SELECT user_id,
        |    (us - lag(us) OVER (PARTITION BY user_id ORDER BY us))::DOUBLE
        |      / 3600.0e6 AS gap_h
        |  FROM p
        |)
        |SELECT count(*) AS n_gaps,
        |  count(DISTINCT user_id) AS n_repeat_users,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_h), 4)
        |    AS median_gap_hours,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_h), 4)
        |    AS p90_gap_hours
        |FROM g WHERE gap_h IS NOT NULL""".stripMargin,

    // first-signup anchor, first post-signup purchase, cohort rollup.
    // Integer-only closings: cohort key is yyyymm from explicit
    // epoch-day arithmetic (no engine-formatted date strings), the
    // conversion ships as truncating ppm, and the latency median is
    // the two-central-order-statistics SUM in integer microseconds.
    "q273_signup_to_purchase" ->
      """WITH s AS MATERIALIZED (
        |  SELECT user_id, min(epoch_us(ts)) AS sus
        |  FROM events WHERE event_type = 'signup' GROUP BY 1
        |), sc AS MATERIALIZED (
        |  SELECT user_id, sus,
        |    CAST(year(DATE '1970-01-01'
        |        + CAST(sus // 86400000000 AS INTEGER)) * 100
        |      + month(DATE '1970-01-01'
        |        + CAST(sus // 86400000000 AS INTEGER)) AS INTEGER)
        |      AS cohort_ym
        |  FROM s
        |), conv AS MATERIALIZED (
        |  SELECT sc.user_id, sc.cohort_ym,
        |    min(epoch_us(p.ts)) - sc.sus AS lat_us
        |  FROM sc JOIN events p ON p.user_id = sc.user_id
        |    AND p.event_type = 'purchase' AND epoch_us(p.ts) >= sc.sus
        |  GROUP BY sc.user_id, sc.sus, sc.cohort_ym
        |), ranked AS (
        |  SELECT cohort_ym, lat_us,
        |    row_number() OVER (PARTITION BY cohort_ym
        |      ORDER BY lat_us, user_id) AS rn,
        |    count(*) OVER (PARTITION BY cohort_ym) AS nc
        |  FROM conv
        |), med AS (
        |  SELECT cohort_ym,
        |    CAST(sum(CASE WHEN rn = (nc + 1) // 2 THEN lat_us ELSE 0 END
        |      + CASE WHEN rn = nc // 2 + 1 THEN lat_us ELSE 0 END)
        |      AS BIGINT) AS median_lat_us2
        |  FROM ranked GROUP BY 1
        |), coh AS (
        |  SELECT sc.cohort_ym,
        |    count(*) AS n_signups,
        |    CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_converted,
        |    CAST((sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      * 1000000) // count(*) AS BIGINT) AS conversion_ppm
        |  FROM sc LEFT JOIN conv c ON c.user_id = sc.user_id
        |  GROUP BY 1
        |)
        |SELECT coh.*, m.median_lat_us2
        |FROM coh LEFT JOIN med m USING (cohort_ym)""".stripMargin,

    // the q196 score recomputation, then integer-lattice Brier and
    // the 10-bin ECE with identical closing trees
    "q263_brier_ece" ->
      raw"""WITH t AS (
        |  SELECT lang, text,
        |    regexp_split_to_array(lower(trim(text, $ws)), '\s+') toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    round(CASE WHEN len(toks) > 0 AND length(trim(text, $ws)) > 0
        |      THEN len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','a','in','is','it','that','for'], x)))::DOUBLE
        |        / len(toks) ELSE 0 END, 6) AS score_en
        |  FROM t
        |), rows_ AS (
        |  SELECT CAST(round(score_en * 1000000) AS BIGINT) AS s6,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    CAST(least(floor(score_en * 10), 9) AS INTEGER) AS bin
        |  FROM s
        |), bins AS (
        |  SELECT bin, count(*) AS nb, sum(y) AS pb,
        |    sum(s6::HUGEINT) AS sb,
        |    sum((s6::HUGEINT - y::HUGEINT * 1000000)
        |      * (s6::HUGEINT - y::HUGEINT * 1000000)) AS sq
        |  FROM rows_ GROUP BY 1
        |)
        |SELECT CAST(sum(nb) AS BIGINT) AS n_docs,
        |  round(sum(sq)::DOUBLE / (sum(nb)::DOUBLE * 1.0e12), 6) AS brier,
        |  round(sum(abs(pb::DOUBLE / nb::DOUBLE
        |      - sb::DOUBLE / (nb::DOUBLE * 1.0e6)) * nb::DOUBLE)
        |    / sum(nb)::DOUBLE, 6) AS ece
        |FROM bins""".stripMargin,

    // the full q118 retrain+rescore chain once per fold (training
    // CTEs exclude the fold, scoring covers only it), argmax on the
    // ROUND-6 score key (fp-order noise collapses to deterministic
    // label ties — the same lattice q118 ships as its score column),
    // per-fold integer-ppm accuracy rows unioned
    "q261_nb_cv_accuracy" -> {
      def foldSql(f: Int): String =
        s"""SELECT $f AS fold, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_correct,
           |  CAST((sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) * 1000000)
           |    // count(*) AS BIGINT) AS accuracy_ppm
           |FROM (
           |  WITH norm AS (
           |    SELECT doc_id, lang,
           |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|cv'), 1, 8))::UBIGINT % 3 AS INTEGER) AS fold,
           |      trim(regexp_replace(regexp_replace(lower(text),
           |        '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g')) AS nt
           |    FROM documents
           |  ), toks AS (
           |    SELECT doc_id, lang, unnest(regexp_split_to_array(nt, ' ')) AS w
           |    FROM norm WHERE length(nt) > 0 AND fold <> $f
           |  ), testdocs AS (
           |    SELECT doc_id, lang, nt,
           |      CASE WHEN nt IS NULL OR length(nt) = 0 THEN 0
           |           ELSE len(regexp_split_to_array(nt, ' ')) END AS n
           |    FROM norm WHERE fold = $f
           |  ), ttoks AS (
           |    SELECT doc_id, unnest(regexp_split_to_array(nt, ' ')) AS w
           |    FROM testdocs WHERE nt IS NOT NULL AND length(nt) > 0
           |  ), pair AS (
           |    SELECT lang AS label, w, count(*)::DOUBLE AS c
           |    FROM toks GROUP BY 1, 2
           |  ), vv AS (SELECT count(DISTINCT w) AS v FROM toks),
           |  cls AS (SELECT lang AS label, count(*) AS nd FROM norm
           |          WHERE fold <> $f GROUP BY 1),
           |  tot AS (SELECT count(*) AS n FROM norm WHERE fold <> $f),
           |  tl AS (SELECT label, sum(c) AS t FROM pair GROUP BY 1),
           |  classes AS (
           |    SELECT cls.label,
           |      ln(nd::DOUBLE) - ln((SELECT n FROM tot)::DOUBLE) AS log_prior,
           |      ln(coalesce(t, 0)::DOUBLE + (SELECT v FROM vv)::DOUBLE) AS log_denom
           |    FROM cls LEFT JOIN tl USING (label)
           |  ), sparse AS (
           |    SELECT t.doc_id, p.label, sum(ln(p.c + 1.0)) AS num
           |    FROM ttoks t JOIN pair p ON p.w = t.w GROUP BY 1, 2
           |  ), dense AS (
           |    SELECT td.doc_id, td.lang, c.label,
           |      c.log_prior + coalesce(s.num, 0.0)
           |        - td.n::DOUBLE * c.log_denom + 0 AS score
           |    FROM testdocs td CROSS JOIN classes c
           |    LEFT JOIN sparse s ON s.doc_id = td.doc_id AND s.label = c.label
           |  )
           |  SELECT doc_id, lang, label AS pred
           |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
           |          ORDER BY floor(score * 1e6 + 0.5) DESC, label ASC) AS rn
           |        FROM dense)
           |  WHERE rn = 1
           |)""".stripMargin
      (0 until 3).map(foldSql).mkString("\nUNION ALL\n")
    },

    // unrolled greedy: the same 4-decimal-rounded similarities, the
    // same fixed mmr tree (note (1.0 - 0.7), NOT the literal 0.3 —
    // the engine computes 1−λ in IEEE and 0.3 is a different double),
    // row_number twins of the (mmr, −id) max-struct
    "q251_mmr_rerank" -> {
      val head =
        """WITH relq AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS cand,
          |    round(list_cosine_similarity(q.embedding::DOUBLE[],
          |      c.embedding::DOUBLE[]), 4) AS rel
          |  FROM embeddings q, embeddings c
          |  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
          |), pool AS MATERIALIZED (
          |  SELECT query_id, cand, rel FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY query_id ORDER BY rel DESC, cand) AS rn
          |    FROM relq)
          |  WHERE rn <= 12
          |), ps AS MATERIALIZED (
          |  SELECT a.query_id, a.cand AS pa, b.cand AS pb,
          |    round(list_cosine_similarity(ea.embedding::DOUBLE[],
          |      eb.embedding::DOUBLE[]), 4) AS sim
          |  FROM pool a JOIN pool b
          |    ON a.query_id = b.query_id AND a.cand <> b.cand
          |  JOIN embeddings ea ON ea.vec_id = a.cand
          |  JOIN embeddings eb ON eb.vec_id = b.cand
          |), m0 AS (SELECT query_id, cand, rel, 0.0 AS ms FROM pool)""".stripMargin
      val steps = (1 to 5).map { r =>
        s""", p$r AS MATERIALIZED (
           |  SELECT query_id, cand, rel, mmr FROM (
           |    SELECT query_id, cand, rel,
           |      0.7 * rel - (1.0 - 0.7) * ms + 0 AS mmr,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY 0.7 * rel - (1.0 - 0.7) * ms DESC, cand) AS rn
           |    FROM m${r - 1}) WHERE rn = 1
           |), m$r AS MATERIALIZED (
           |  SELECT m.query_id, m.cand, m.rel, greatest(m.ms, ps.sim) AS ms
           |  FROM m${r - 1} m
           |  JOIN p$r p ON p.query_id = m.query_id
           |  JOIN ps ON ps.query_id = m.query_id AND ps.pa = m.cand
           |    AND ps.pb = p.cand
           |  WHERE m.cand <> p.cand
           |)""".stripMargin
      }.mkString
      val finals = (1 to 5).map { r =>
        s"SELECT query_id, CAST($r AS INT) AS rank, cand AS selected_id, rel, round(mmr, 4) AS mmr FROM p$r"
      }.mkString("\n", "\nUNION ALL\n", "")
      head + steps + finals
    },

    // the q239 training replay restricted to the first calendar half,
    // then candidate-union / already-bought exclusion / holdout hit
    "q246_rec_holdout_eval" ->
      """WITH rows_ AS (
        |  SELECT o.o_custkey AS u, l.l_partkey AS i, o.o_orderdate::DATE AS day
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
        |    AND o.o_orderdate IS NOT NULL
        |), split_ AS (
        |  SELECT min(day) + CAST(floor((max(day) - min(day)) * 0.5) AS INTEGER)
        |    AS sp FROM rows_
        |), train AS MATERIALIZED (
        |  SELECT DISTINCT u, i FROM rows_ CROSS JOIN split_ WHERE day <= sp
        |), test AS MATERIALIZED (
        |  SELECT DISTINCT u, i FROM rows_ CROSS JOIN split_ WHERE day > sp
        |), kept AS MATERIALIZED (
        |  SELECT u, i FROM train WHERE u IN (
        |    SELECT u FROM train GROUP BY u HAVING count(*) <= 60)
        |), n AS (SELECT i, count(*) AS n FROM kept GROUP BY i),
        |cooc AS (
        |  SELECT a.i AS ia, b.i AS ib, count(*) AS c
        |  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), sym AS (
        |  SELECT ia, ib, c FROM cooc UNION ALL SELECT ib, ia, c FROM cooc
        |), sims AS MATERIALIZED (
        |  SELECT item, sim FROM (
        |    SELECT s.ia AS item, s.ib AS sim, row_number() OVER (
        |        PARTITION BY s.ia
        |        ORDER BY s.c::DOUBLE / sqrt(na.n::DOUBLE * nb.n::DOUBLE) DESC,
        |          s.ib) AS rank
        |    FROM sym s JOIN n na ON na.i = s.ia JOIN n nb ON nb.i = s.ib)
        |  WHERE rank <= 5
        |), cand AS MATERIALIZED (
        |  SELECT DISTINCT t.u, s.sim AS c
        |  FROM train t JOIN sims s ON s.item = t.i
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM train t2 WHERE t2.u = t.u AND t2.i = s.sim)
        |), eu AS MATERIALIZED (
        |  SELECT DISTINCT u FROM train WHERE u IN (SELECT u FROM test)
        |), ce AS MATERIALIZED (
        |  SELECT u, c FROM cand WHERE u IN (SELECT u FROM eu)
        |), hits AS (
        |  SELECT DISTINCT ce.u FROM ce WHERE EXISTS (
        |    SELECT 1 FROM test t WHERE t.u = ce.u AND t.i = ce.c)
        |)
        |SELECT ne AS n_eval_users, nh AS n_hit_users,
        |  CASE WHEN ne > 0 THEN nh::DOUBLE / ne::DOUBLE END AS hit_rate,
        |  CASE WHEN ne > 0 THEN nc::DOUBLE / ne::DOUBLE END
        |    AS avg_candidates
        |FROM (SELECT (SELECT count(*) FROM eu) AS ne,
        |        (SELECT count(*) FROM hits) AS nh,
        |        (SELECT count(*) FROM ce) AS nc)""".stripMargin,

    // q113's step-wise recomputation with the window bound added
    "q139_windowed_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND epoch_us(e.ts) - epoch_us(s1.t) <= 21600000000
        |  GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND epoch_us(e.ts) - epoch_us(s2.t) <= 21600000000
        |  GROUP BY 1
        |)
        |SELECT CAST(1 AS INTEGER) AS step_idx, 'view' AS step,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin,

    // the classic single-window LAG recomputation the bucketed form
    // must reproduce
    "q136_transition_matrix" ->
      """WITH lagged AS (
        |  SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events
        |)
        |SELECT p AS from_type, t AS to_type, count(*) AS n_transitions
        |FROM lagged WHERE p IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // step-wise recomputation with the same strictly-after min rule
    "q135_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS vt FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts) - v.vt) AS d
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.vt
        |  GROUP BY 1
        |)
        |SELECT count(*) AS n_converted,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY d) / 1e6, 4)
        |    AS p50_delay_s,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY d) / 1e6, 4)
        |    AS p90_delay_s
        |FROM c""".stripMargin
  )
}
