package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second wave of operator coverage: 1→N unnesting, nested-field
  * extraction, SQL sessionization, multi-branch UNION ALL reports,
  * regex scalar surface, HAVING-style aggregate filters.
  */
object ExtendedQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Unrolled min-label + pointer-doubling rounds for connected-
    * components oracles (q238, q242): expects CTEs `both_dir(src,
    * dst)` and `l0(node, lab)` in scope, emits `h1/l1 … h{iters}/
    * l{iters}` — the literal SQL twin of
    * [[graft.graph.GraphOps.connectedComponents]]'s loop body.
    */
  private def ccRoundsSql(iters: Int): String =
    (1 to iters).map { i =>
      s""", h$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lab, coalesce(m.nb, l.lab)) AS lab
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT e.dst AS node, min(l2.lab) AS nb
         |    FROM l${i - 1} l2 JOIN both_dir e ON e.src = l2.node
         |    GROUP BY e.dst) m USING (node)
         |), l$i AS MATERIALIZED (
         |  SELECT x.node, least(x.lab, coalesce(y.ll, x.lab)) AS lab
         |  FROM h$i x LEFT JOIN (
         |    SELECT node AS lab, lab AS ll FROM h$i) y USING (lab)
         |)""".stripMargin
    }.mkString

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

    // cohort retention matrix: users cohorted by first-event day,
    // activity counted at each day offset — ONE shuffle keyed on the
    // user (collect_set of active days partial-aggregates map-side,
    // bounded by the calendar), then a map-side-combined final agg
    "q110_cohort_retention" -> ((s, d) =>
      graft.operators.AnalyticsOps.cohortRetention(Tables.events(s, d))),

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

    // per-dimension affine SQ8 ANN: byte codes, integer code-space
    // scan, fp32 rerank — training/encoding/ranking all replayed by
    // the oracle
    "q208_sq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.sqTopK(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, oversample = 4)
    }),

    // Matryoshka prefix-dim recall: 16-dim int8 ranking vs the full
    // 64-dim ranking, recall@10 per query — all-integer distances
    "q225_prefix_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.prefixDimRecall(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, prefixDims = 16)
    }),

    // per-dimension embedding health: exact quantized moments, zero
    // counts, min/max — the pre-index screen
    "q226_dim_profile" -> ((s, d) =>
      graft.similarity.Ann.dimProfile(Tables.embeddings(s, d), "embedding")),

    // degree summary + assortativity over the q143 order-part link
    // graph: exact Decimal moments, one closing double expression
    "q209_assortativity" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.degreeAssortativity(edges)
    }),

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

    // common-neighbor/Jaccard link prediction over the order-part
    // graph: wedges through degree-capped centers only (the exact,
    // replayable hub discount), anti-join against existing edges,
    // deterministic top-k
    "q215_link_prediction" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.linkPrediction(edges, k = 50,
        maxCenterDegree = 64)
    }),

    // 3-core of the order-part graph by 8 fixed peel rounds (monotone,
    // converged on the shipped graphs); oracle replays every round
    "q216_kcore" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.kCore(edges, coreK = 3, iters = 8)
    }),

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

    // bounded transitive closure: exact min hop distance from seed
    // orders over the order-part graph, 4 level-synchronous rounds
    "q229_khop_reachability" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 7 === 0)
      val edges = li.select(
        concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
        concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      val seeds = li.filter(col("l_orderkey") % 700 === 0)
        .select(concat(lit("o"), col("l_orderkey").cast(StringType))
          .as("node")).distinct()
      graft.graph.GraphOps.khopDistances(edges, seeds, maxHops = 4)
    }),

    // lead-lag cross-correlation: q146's dense grid and exact moments
    // swept across integer day offsets -3..3
    "q227_lead_lag" -> ((s, d) =>
      graft.operators.AnalyticsOps.leadLagCorrelation(Tables.events(s, d))),

    // single changepoint by binary segmentation: exact cumulative
    // moments, per-boundary gain in one double tree, earliest-tie argmax
    "q228_changepoint" -> ((s, d) =>
      graft.operators.AnalyticsOps.changepointDetection(Tables.events(s, d))),

    // next-event prediction eval: calendar-half split, per-state argmax
    // model from the first half scored on the second; integer counts +
    // min-struct argmax, closing accuracy division
    "q223_markov_accuracy" -> ((s, d) =>
      graft.operators.AnalyticsOps.markovNextEventAccuracy(
        Tables.events(s, d))),

    // cross-source duplicate overlap matrix with a deterministic
    // "mirror" feed (every 5th doc relabeled) simulating a re-crawl;
    // normalized-digest pair join bounded by #sources fan-out
    "q224_cross_source_dups" -> ((s, d) => {
      val d0 = Tables.documents(s, d)
      val mirror = d0.filter(col("doc_id") % 5 === 0)
        .withColumn("source", lit("mirror"))
      graft.text.TextOps.crossSourceDuplicates(d0.unionByName(mirror))
    }),

    // mojibake/encoding-artifact screen: replace-based exact counts of
    // UTF-8-as-Latin-1 artifacts, replacement chars, C0 controls
    "q221_mojibake" -> ((s, d) =>
      graft.text.TextOps.encodingArtifacts(Tables.documents(s, d))),

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

    // removal-effect attribution: conversions path-dependent on each
    // pre-conversion channel; exact integer counts
    "q214_removal_attribution" -> ((s, d) =>
      graft.operators.AnalyticsOps.removalEffectAttribution(
        Tables.events(s, d))),

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

    // end-to-end entity resolution: part names plus deterministic
    // typo variants (q149's construction) resolve to entity clusters —
    // SymSpell-blocked edit-distance-1 candidate pairs (complete for
    // lev<=1, the q149 proof) feed min-label connected components;
    // output = every entity with its cluster label (component min id)
    // and cluster size. CLIQUE COLLAPSE (round 12): equal names are a
    // clique, so the graph contracts to DISTINCT NAMES before CC —
    // the id-level pair set is the name-pair set times the product of
    // name multiplicities (measured 5.3M id pairs from 288 name pairs
    // at sf0.1, 10.8 s -> the name graph is 1.2k nodes) and the
    // component min-id label recovers exactly as min over the
    // component's per-name min ids. The oracle recomputes pairs
    // QUADRATICALLY at the id level and closes them with a
    // recursive-CTE reachability fixpoint — a collapse bug is a hash
    // mismatch.
    "q182_entity_clusters" -> ((s, d) => {
      val p = s.read.parquet(s"$d/part.parquet")
        .select(col("p_partkey"), col("p_name"))
      val ents = p.select(col("p_partkey").cast("long").as("id"),
          col("p_name").as("name"))
        .unionByName(p.filter(col("p_partkey") % 5 === 0)
          .select((col("p_partkey") + 1000000L).cast("long").as("id"),
            concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)"))
              .as("name")))
      val names = ents.select("name").distinct()
      val namePairs = graft.operators.FuzzyJoin.editDistanceJoin(
          names.select(col("name").as("name_a")), "name_a",
          names.select(col("name").as("name_b")), "name_b")
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      val nameComp = graft.pipelines.CorpusPipeline.minLabelComponents(
        names.select(col("name").as("node")), namePairs)
        .select(col("node").as("name"), col("label").as("__nc"))
      val nameMinId = ents.groupBy("name").agg(min("id").as("__minId"))
      val compLabel = nameComp.join(nameMinId, "name")
        .groupBy("__nc").agg(min("__minId").as("cluster_id"))
      val labeled = ents
        .join(broadcast(nameComp), "name")
        .join(broadcast(compLabel), "__nc")
      val sizes = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(broadcast(sizes), "cluster_id")
        .select(col("id").as("entity_id"), col("cluster_id"),
          col("cluster_size"))
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
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
        .withColumn("w_start", col("p_us") - 7L * 86400L * 1000000L)
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_type").as("touch_type"))
      val joined = graft.tables.ScaleJoins.pointInIntervalJoin(
        touches, "t_us", purchases, "w_start", "p_us",
        bucketWidth = 86400L * 1000000L, keys = Seq("user_id"))
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
      val out = att.unionByName(un).transform(graft.state.Checkpoints.stable)
      joined.unpersist(blocking = false)
      out
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

    // deterministic synchronous label-propagation communities over
    // the co-purchase item graph (parts sharing >= 2 orders):
    // 3 fixed rounds, ties to the smallest label, all-simultaneous
    // updates — no async update-order nondeterminism
    "q193_item_communities" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
        .select(col("pa").as("id_a"), col("pb").as("id_b"))
      graft.graph.GraphOps.labelPropagation(edges, iters = 3)
    }),

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

    // ordered conversion funnel view→click→purchase with
    // earliest-completion semantics: each step joins the previous
    // step's #users-row (user, ts) frame and min-aggregates
    "q113_funnel" -> ((s, d) =>
      graft.operators.AnalyticsOps.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"))),

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

    // trailing 7-calendar-day totals per event type: raw events
    // pre-aggregate to the calendar-bounded (type, day) frame before
    // any window; RANGE over the integer day number so absent days
    // age out instead of stretching the frame
    "q117_rolling_daily" -> ((s, d) =>
      graft.operators.AnalyticsOps.rollingDailyAgg(Tables.events(s, d))),

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

    // CUBE: all four grouping levels of (type, day-of-week) in one
    // aggregation pass — the Dataset API is safe here (no join feeds
    // the cube, unlike q124's rollup)
    "q152_cube_report" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("dow", dayofweek(col("ts")))
        .cube("event_type", "dow")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))),

    // skew diagnostic: log2 histogram of rows-per-customer in orders —
    // integer bucket via binary-string length, engine-exact boundary
    "q151_skew_histogram" -> ((s, d) =>
      graft.operators.SkewOps.keyHistogram(Tables.orders(s, d), "o_custkey")),

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

    // pairwise Pearson correlation of daily-count series (zeros on
    // absent days via the dense group×calendar grid); exact integer
    // moments, one deterministic double expression per pair
    "q146_count_correlation" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyCountCorrelation(Tables.events(s, d))),

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
        .transform(graft.state.Checkpoints.stable)
      obs.unpersist()
      out
    }),

    // per-type activity trend: least-squares slope of daily counts
    // over the day number — every OLS moment is an exact integer sum,
    // so the slope is ONE division of exact operands (bit-identical
    // in any engine)
    "q145_trend_slopes" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyTrendSlopes(Tables.events(s, d))),

    // PageRank over the order→part bipartite link graph, 5 fixed
    // power iterations with dangling redistribution — parts (dst-only
    // nodes) are all dangling, so the redistribution path carries
    // real mass; fixed iterations make the result a pure function of
    // the edge list
    "q143_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("src"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("dst"))
      graft.graph.PageRank.pageRank(edges, "src", "dst", iterations = 5)
    }),

    // random walk with restart to the %91 seed orders: teleport and
    // dangling mass go to seeds only, so unreachable nodes score
    // exactly 0 — the "relevance to these nodes" signal
    "q236_personalized_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("src"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("dst"))
      val seeds = li.filter(col("l_orderkey") % 91 === 0)
        .select(concat(lit("o"), col("l_orderkey").cast(StringType)).as("seed"))
      graft.graph.PageRank.personalizedPageRank(edges, "src", "dst",
        seeds, "seed", iterations = 5)
    }),

    // TextRank keywords: PageRank over the corpus word-adjacency
    // graph, top-20 by (rounded ppm desc, word asc)
    "q237_textrank_keywords" -> ((s, d) =>
      graft.text.TextOps.textRankKeywords(Tables.documents(s, d), "text",
        iterations = 5, k = 20)),

    // connected components over the order–part bipartite graph:
    // min-label propagation + pointer doubling, fixed 6 rounds
    "q238_connected_components" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 13 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.connectedComponents(edges, iters = 6)
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

    // per-brand price/size skyline: parts no other part of the brand
    // strictly dominates (cheaper and at-least-as-big, or same price
    // and strictly bigger)
    "q240_pareto_skyline" -> ((s, d) =>
      graft.operators.AnalyticsOps.paretoFrontier(
        Tables.part(s, d), "p_brand", "p_partkey",
        "p_retailprice", "p_size", xScale = 0.01)),

    // top-40 collocations by Dunning G² (mutual-information form so
    // engine ln ulps don't amplify through corpus-sized cancellation)
    "q241_llr_collocations" -> ((s, d) =>
      graft.text.TextOps.llrCollocations(Tables.documents(s, d), "text",
        k = 40, minCount = 5L)),

    // DBSCAN-lite hotspots: md5-bucketed 32×32 grid cells, dense ≥ 14
    // points, 8-adjacent dense cells merged by connected components
    "q242_grid_hotspots" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def cellOf(salt: String) = expr(
        s"""conv(substring(md5(concat(cast(event_id as string), '$salt')), 1, 8), 16, 10)""")
        .cast(LongType)
      val cells = ev.select(
        cellOf(":x").as("__hx"), cellOf(":y").as("__hy"))
        .select(expr("__hx div 134217728L").as("cx"),
          expr("__hy div 134217728L").as("cy"))
      graft.geo.Geo.gridHotspots(cells, "cx", "cy",
        gridSize = 32, minPts = 14L, ccIters = 5)
    }),

    // nearest supplier facility within one cell radius on the u32
    // md5 lattice: facilities explode ×9 into neighborhood cells and
    // broadcast, the event side stays map-only; all-integer distances
    "q243_radius_nn_join" -> ((s, d) => {
      import graft.operators.SplitOps.hashBucket
      val pts = Tables.events(s, d).select(col("event_id"),
        hashBucket(concat(col("event_id").cast(StringType), lit(":nx")))
          .as("x"),
        hashBucket(concat(col("event_id").cast(StringType), lit(":ny")))
          .as("y"))
      val fac = Tables.supplier(s, d).select(col("s_suppkey"),
        hashBucket(concat(lit("s"), col("s_suppkey").cast(StringType),
          lit(":nx"))).as("fx"),
        hashBucket(concat(lit("s"), col("s_suppkey").cast(StringType),
          lit(":ny"))).as("fy"))
      graft.geo.Geo.radiusNearestJoin(pts, "event_id", "x", "y",
        fac, "s_suppkey", "fx", "fy", cellSize = 134217728L)
    }),

    // min path cost within 6 relaxation rounds over the order–part
    // graph weighted by the cheapest line quantity; seeds at cost 0
    "q244_weighted_distances" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"),
          col("l_quantity").cast(LongType).as("weight"))
      val seeds = li.filter(col("l_orderkey") % 91 === 0)
        .select(concat(lit("o"), col("l_orderkey").cast(StringType))
          .as("node"))
      graft.graph.GraphOps.weightedDistances(edges, seeds, maxRounds = 6)
    }),

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
        .transform(graft.state.Checkpoints.stable)
      obs.unpersist()
      out
    }),

    // Good–Turing vocabulary saturation per language: unseen-mass
    // estimate N1/N and the r*=2·N2/N1 discount — "is more data
    // still adding new words"; exact integer counts, one closing
    // division per statistic
    "q248_good_turing" -> ((s, d) => {
      import graft.text.TextOps
      val counts = Tables.documents(s, d)
        .select(col("lang"),
          explode(TextOps.tokens(lower(col("text")))).as("__w"))
        .groupBy("lang", "__w").agg(count(lit(1)).as("__c"))
      counts.groupBy("lang").agg(
        count(lit(1)).as("vocab"),
        sum("__c").as("n_tokens"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("lang"), col("vocab"), col("n_tokens"), col("n1"),
          col("n2"),
          round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
            .as("p_unseen"),
          round(when(col("n1") > 0,
            lit(2.0) * col("n2").cast("double") / col("n1").cast("double")), 6)
            .as("r_star_1"),
          round(col("n1").cast("double") / col("vocab").cast("double"), 6)
            .as("singleton_vocab_share"))
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

    // time-decay multi-touch attribution with a DYADIC kernel:
    // weight = 2^(6 − age_days) is an exact integer (the q203 Brown
    // trick), so each purchase's share w/Σw is one closing division;
    // same keyed interval join as q195
    "q250_time_decay_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("p_us"))
        .withColumn("w_start", col("p_us") - 7L * 86400L * 1000000L)
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_type").as("touch_type"))
      val joined = graft.tables.ScaleJoins.pointInIntervalJoin(
        touches, "t_us", purchases, "w_start", "p_us",
        bucketWidth = 86400L * 1000000L, keys = Seq("user_id"))
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
      val out = att.unionByName(un).transform(graft.state.Checkpoints.stable)
      joined.unpersist(blocking = false)
      out
    }),

    // difference-in-differences on the same md5-arm / calendar-half
    // scaffold as q245; SE via the exact-moment variance identity
    "q252_diff_in_diff" -> ((s, d) =>
      graft.operators.AnalyticsOps.didReport(Tables.events(s, d))),

    // one Apriori step above the pair surface: frequent part triples
    // inside order baskets; the prune is correctness-gated against a
    // prune-free oracle
    "q253_frequent_triples" -> ((s, d) =>
      graft.operators.AnalyticsOps.frequentTriples(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L)),

    // exact sliding 7-day distinct actives per day (the rollup that
    // cannot be summed from daily distincts); q219's HLL merge is the
    // sketch sibling
    "q254_sliding_dau" -> ((s, d) =>
      graft.operators.AnalyticsOps.slidingDau(Tables.events(s, d))),

    // {a,b} -> c rules with confidence and lift over the q253 triples
    "q255_association_rules" -> ((s, d) =>
      graft.operators.AnalyticsOps.associationRules(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L)),

    // JL ±1 random projection 64→16 on int8 codes with an exact-
    // integer distance-distortion audit over the first 20 vectors
    "q256_jl_projection" -> ((s, d) =>
      graft.similarity.Ann.jlProjectionReport(
        Tables.embeddings(s, d), "vec_id", "embedding",
        outDims = 16, pairIds = 20L)),

    // quantity-weighted median discount per return flag: the weighted
    // quantile percentile_cont can't express; integer crossing rule
    "q257_weighted_median" -> ((s, d) =>
      graft.operators.AnalyticsOps.weightedMedian(
        Tables.lineitem(s, d)
          .withColumn("disc_x100",
            round(col("l_discount") * 100).cast(LongType)),
        "l_returnflag", "disc_x100", "l_quantity")),

    // dedup planning: cluster-size distribution + the exact character
    // volume the non-keeper duplicates represent
    "q258_dedup_savings" -> ((s, d) =>
      graft.dedup.NearDup.dedupSavingsReport(
        Tables.documents(s, d), "doc_id", "text")),

    // pairwise Jensen-Shannon divergence between source unigram
    // distributions — the corpus-mixing "how different" matrix
    "q260_source_js_divergence" -> ((s, d) =>
      graft.text.TextOps.sourceDivergenceMatrix(
        Tables.documents(s, d), "source", "text")),

    // seasonal anomaly: each day judged against OTHER days of its own
    // weekday (leave-one-out exact-moment baseline, no windows)
    "q262_dow_anomaly" -> ((s, d) =>
      graft.operators.AnalyticsOps.dowAdjustedAnomaly(Tables.events(s, d))),

    // transitivity health of the near-dup relation: a sound "near
    // duplicate" is almost transitive, so a low clustering coefficient
    // flags chain-merging before component-level dedup. Graph = md5
    // SimHash hamming ≤ 3 pairs: candidates COMPLETE by pigeonhole
    // blocking AND selective (only identical 16-bit blocks join) —
    // the τ=0.45 banded-LSH graph this replaces needed non-selective
    // bands (6-bit bands collide ~78% of ALL pairs across 96 bands)
    // to reach full recall, an all-pairs join in disguise at scale
    "q264_dupgraph_clustering" -> ((s, d) => {
      val pairs = graft.dedup.NearDup.md5SimhashPairs(
        Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
      graft.graph.GraphOps.clusteringCoefficient(pairs, "id_a", "id_b")
    }),

    // greedy k-center coreset: 8 maximally-spread vectors — the
    // diverse eval-set primitive random sampling can't give
    "q269_kcenter_coreset" -> ((s, d) =>
      graft.similarity.Ann.kCenterSelect(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 8)),

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

    // PII incidence per source — the "which feeds need the redaction
    // pass" triage before q-level redaction; map-only, #sources output
    // rows. Detection is STRUCTURAL, not regex: an email-shaped token
    // (split on a literal space) has exactly one '@' with ≥1 char
    // before it and a '.' after it with ≥2 chars following; a
    // phone-shaped text contains ###-###-#### or (###) ###-#### after
    // digit masking. Regex character classes are engine-implemented
    // and drift across regex-library versions on the ORACLE side;
    // replace/instr/reverse/split-on-literal are dialect-identical
    // primitives, so both engines replay the detector exactly. The
    // closing is an integer-only ppm.
    "q287_pii_incidence" -> ((s, d) => {
      def emailTok(t: Column): Column = {
        val at = instr(t, "@")
        val rdot = instr(reverse(t), ".")
        (length(t) - length(replace(t, lit("@"), lit(""))) === 1) &&
          at >= 2 && rdot >= 3 && (length(t) - rdot + 1) >= at + 2
      }
      val emailDoc =
        coalesce(exists(split(col("text"), " "), emailTok), lit(false))
      val masked = "0123456789".foldLeft(col("text"))((c, ch) =>
        replace(c, lit(ch.toString), lit("#")))
      val phoneDoc = coalesce(instr(masked, "###-###-####") > 0 ||
        instr(masked, "(###) ###-####") > 0 ||
        instr(masked, "(###)###-####") > 0, lit(false))
      Tables.documents(s, d)
        .filter(col("source").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(emailDoc, 1L).otherwise(0L)).as("n_email_docs"),
          sum(when(phoneDoc, 1L).otherwise(0L)).as("n_phone_docs"),
          sum(when(emailDoc || phoneDoc, 1L).otherwise(0L))
            .as("__n_pii"))
        .withColumn("pii_doc_ppm", expr("__n_pii * 1000000 div n_docs"))
        .drop("__n_pii")
    }),

    // the q238 component answer rebuilt INCREMENTALLY: the edge set
    // arrives in three deterministic batches through ccLabelBatch's
    // label-contraction state, and the final label table must equal
    // the batch CC — this puts the streaming incremental path itself
    // under the driver's oracle gate, not just ScalaTest
    "q288_incremental_cc" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 13 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"),
          pmod(expr("l_orderkey div 13"), lit(3)).as("__b"))
      val tmpRoot = java.nio.file.Files.createTempDirectory("q288cc")
      val dir = tmpRoot.toString + "/labels"
      for (b <- 0 until 3)
        graft.streaming.StreamingOps.ccLabelBatch(
          edges.filter(col("__b") === b), "id_a", "id_b", dir, iters = 6)
      // q307's temp-state discipline (VERDICT r13 task #3): the eager
      // checkpoint severs the lineage to the labels parquet, so the
      // temp dir can be removed before returning — previously every
      // Bench/Verify invocation leaked a labels copy under /tmp
      val res = graft.streaming.StreamingOps.componentsFromLabels(s, dir)
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // the portable md5-SimHash near-dup pair surface itself (q264
    // consumes it as a graph): pigeonhole-blocked hamming ≤ 3 pairs
    // against the exact quadratic oracle — a blocking completeness
    // bug or one wrong signature bit is a hash mismatch
    "q289_simhash_pairs_portable" -> ((s, d) =>
      graft.dedup.NearDup.md5SimhashPairs(
        Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast(IntegerType).as("hamming"))),

    // Heaps-law vocabulary growth: V(N) ≈ K·N^β measured at 10 doc-id
    // checkpoints (token totals and first-occurrence vocab are exact
    // integers; the log-log OLS closes over 10 tiny summands — the
    // q260 small-sum-then-round discipline). β well under 1 says
    // vocabulary saturates; near 1 says heavy novelty (OCR noise,
    // boilerplate IDs). Scale shape: one explode pass for per-doc
    // counts, one for token first-occurrence (both map-side-combined);
    // the checkpoint fan-out is 10× a #docs / #vocab-row frame.
    "q290_heaps_law" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val toks = docs.select(col("doc_id"),
        explode(graft.text.TextOps.tokens(lower(col("text")))).as("__w"))
      val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("__tc"))
      val firstDoc = toks.groupBy("__w").agg(min("doc_id").as("__fd"))
      val maxId = docs.agg(max("doc_id").as("__mx"))
      val cks = s.range(1, 11).toDF("checkpoint")
        .crossJoin(broadcast(maxId))
        .select(col("checkpoint").cast(IntegerType).as("checkpoint"),
          expr("__mx * checkpoint div 10").as("__ck"))
      val nTok = perDoc.join(broadcast(cks), col("doc_id") <= col("__ck"))
        .groupBy("checkpoint").agg(sum("__tc").as("n_tokens"))
      val vocab = firstDoc.join(broadcast(cks), col("__fd") <= col("__ck"))
        .groupBy("checkpoint").agg(count(lit(1)).as("vocab"))
      val pts = nTok.join(vocab, Seq("checkpoint"))
        .withColumn("__x", log(col("n_tokens").cast(DoubleType)))
        .withColumn("__y", log(col("vocab").cast(DoubleType)))
      val fit = pts.agg(count(lit(1)).cast(DoubleType).as("__m"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
        // e4 floor lattice, NOT round(_, 4): on a degenerate fit (fixed
        // vocab saturating at checkpoint 1) the slope is a ~1e-15
        // cancellation residue, and engine-implemented round() closes
        // it to a SIGNED zero whose sign varies across DuckDB releases
        // (VERDICT r15 #1). floor(x·1e4 + 0.5)/1e4 maps ±ε → +0.0
        // bit-identically in every engine.
        .select(when(col("__m") * col("__sxx") - col("__sx") * col("__sx") > 0,
          floor((col("__m") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__m") * col("__sxx") - col("__sx") * col("__sx"))
            * lit(1e4d) + lit(0.5d)) / lit(1e4d))
          .as("heaps_beta"))
      pts.select("checkpoint", "n_tokens", "vocab")
        .crossJoin(broadcast(fit))
    }),

    // near-dup threshold sensitivity: ONE prefix-filter pass at the
    // base threshold, exact-integer Jaccard recomputed from the pair's
    // (inter, sizes), counted at 0.5/0.7/0.9 — the "how much does the
    // corpus shrink if we tighten dedup" planning curve
    "q291_dup_threshold_curve" -> ((s, d) => {
      val pairs = graft.dedup.NearDup.prefixJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.5)
      val jac = col("inter_size").cast(DoubleType) /
        (col("size_a") + col("size_b") - col("inter_size")).cast(DoubleType)
      pairs.agg(
        sum(when(jac >= 0.5, 1L).otherwise(0L)).as("n_pairs_ge_50"),
        sum(when(jac >= 0.7, 1L).otherwise(0L)).as("n_pairs_ge_70"),
        sum(when(jac >= 0.9, 1L).otherwise(0L)).as("n_pairs_ge_90"))
    }),

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

    // cross-source vocabulary Jaccard: which feeds speak the same
    // language (the corpus-mixing companion to q260's distributional
    // divergence — set overlap, not frequency shape)
    "q298_vocab_overlap" -> ((s, d) => {
      val v = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"),
          explode(graft.text.TextOps.tokens(lower(col("text")))).as("__w"))
        .distinct()
      val sizes = v.groupBy("source").agg(count(lit(1)).as("__n"))
      val shared = v.select(col("source").as("source_a"), col("__w"))
        .join(v.select(col("source").as("source_b"), col("__w")), "__w")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.select(col("source").as("source_a"),
          col("__n").as("vocab_a")), "source_a")
        .join(sizes.select(col("source").as("source_b"),
          col("__n").as("vocab_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("vocab_a"), col("vocab_b"),
          (col("n_shared").cast(DoubleType) /
            (col("vocab_a") + col("vocab_b") - col("n_shared"))
              .cast(DoubleType)).as("jaccard"))
    }),

    // Kneser-Ney bigram perplexity self-trained on the corpus — the
    // discounting KenLM actually uses, next to q93's interpolated
    // add-one bigram: continuation probability carries the back-off
    // mass, D = 0.75 literal both engines
    "q299_kneser_ney_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      graft.text.NgramLm.scoreKneserNey(docs, "doc_id", "text", lm)
    }),

    // DoReMi-style domain reweighting from the q299 scorer: per-doc
    // round-6 avg NLL lands on the e6 lattice, per-source means are
    // BIGINT arithmetic, excess over the global mean (clamped at 0)
    // normalizes to sampling weights in one truncating ppm division —
    // "which sources deserve more epochs" as an integer-only table
    "q315_mixture_reweight" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      val scored = graft.text.NgramLm.scoreKneserNey(docs, "doc_id", "text", lm)
      val perDoc = scored.select(col("doc_id"),
        floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
          .as("__ne6"))
      val src = docs.filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"))
      // #sources rows; checkpoint severs the KN chain from the three
      // scalar-aggregate consumers below
      val ps = perDoc.join(src, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("__ne6").as("__se"))
        .transform(graft.state.Checkpoints.stable)
      val g = ps.agg(sum("__se").as("__gs"), sum("n_docs").as("__gn"))
      val e = ps.crossJoin(broadcast(g))
        .withColumn("mean_nll_e6", expr("__se div n_docs"))
        .withColumn("global_mean_nll_e6", expr("__gs div __gn"))
        .withColumn("excess_e6",
          greatest(col("mean_nll_e6") - col("global_mean_nll_e6"), lit(0L)))
      val te = e.agg(sum("excess_e6").as("__t"))
      e.crossJoin(broadcast(te))
        .select(col("source"), col("n_docs"), col("mean_nll_e6"),
          col("global_mean_nll_e6"), col("excess_e6"),
          when(col("__t") > 0, expr("excess_e6 * 1000000 div __t"))
            .otherwise(0L).as("weight_ppm"))
    }),

    // LSH band planner: for the observed 3-shingle Jaccard pair
    // distribution at >= 0.25 (threshold-bounded prefix-filter
    // enumeration, never all-pairs), the expected MinHash-LSH catch
    // under each 128-hash (rows r, bands b) split — P = 1-(1-s^r)^b
    // evaluated as a pure squaring chain (every op IEEE
    // correctly-rounded, so the doubles are bit-identical across
    // engines) and summed on the e9 integer lattice. The table a
    // dedup pipeline reads before committing to a band config:
    // caught mass among true dups (jac >= 0.5) vs candidate load
    // from the near-miss band [0.25, 0.5).
    "q316_lsh_band_planner" -> ((s, d) => {
      val pairs = graft.dedup.NearDup.prefixJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", n = 3, threshold = 0.25)
      // (r, log2 r, b, log2 b): the four 128-hash factorizations
      val configs = Seq((2, 1, 64, 6), (4, 2, 32, 5), (8, 3, 16, 4),
        (16, 4, 8, 3))
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((a, _) => a * a)
      val jac = col("inter_size").cast(DoubleType) /
        (col("size_a") + col("size_b") - col("inter_size"))
          .cast(DoubleType)
      // stepwise columns so the squaring chain is evaluated once per
      // pair (and mirrors the oracle's CTE ladder op for op)
      val staged = pairs.withColumn("__jac", jac)
      val latCols = configs.map { case (r, lr, b, lb) =>
        val p = lit(1.0d) - sq(lit(1.0d) - sq(col("__jac"), lr), lb)
        floor(p * lit(1e9d) + lit(0.5d)).cast(LongType).as(s"__lat$r")
      }
      val lat = staged.select(col("__jac") +: latCols: _*)
      val aggCols =
        Seq(coalesce(sum(when(col("__jac") < 0.5, 1L).otherwise(0L)),
          lit(0L)).as("__nband")) ++
        configs.flatMap { case (r, _, _, _) =>
          Seq(
            coalesce(sum(when(col("__jac") >= 0.5, col(s"__lat$r"))
              .otherwise(0L)), lit(0L)).as(s"__cg$r"),
            coalesce(sum(when(col("__jac") < 0.5, col(s"__lat$r"))
              .otherwise(0L)), lit(0L)).as(s"__cb$r"))
        }
      val agged = lat.agg(
        coalesce(sum(when(col("__jac") >= 0.5, 1L).otherwise(0L)),
          lit(0L)).as("__nge"), aggCols: _*)
        .transform(graft.state.Checkpoints.stable) // 1 row; 4 config selects read it
      configs.map { case (r, _, b, _) =>
        agged.select(lit(r).cast(IntegerType).as("rows_per_band"),
          lit(b).cast(IntegerType).as("bands"),
          col("__nge").as("n_pairs_ge50"),
          col(s"__cg$r").as("exp_caught_ge50_e9"),
          col("__nband").as("n_pairs_band"),
          col(s"__cb$r").as("exp_caught_band_e9"))
      }.reduce(_.unionAll(_))
    }),

    // token-balanced shard assignment (LPT-flavored): docs ranked by
    // token count DESC on the two-level-cumsum surrogate (no global
    // window), dealt boustrophedon across 8 shards — the deterministic
    // "write balanced training shards" planner with per-shard ppm
    // deviation from the even split
    "q317_token_balanced_shards" -> ((s, d) => {
      val nShards = 8
      val tc = graft.text.TextOps.tokenCount(col("text")).cast(LongType)
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), tc.as("__tc"))
        .withColumn("__neg", -col("__tc"))
      val ranked = graft.operators.DedupOps.globalSurrogateId(
        docs, "__neg", Seq("doc_id"), "__rk", bucketWidth = 16L)
      val perShard = ranked
        .groupBy(expr(s"CAST(CASE WHEN (__rk - 1) div $nShards % 2 = 0" +
          s" THEN (__rk - 1) % $nShards" +
          s" ELSE ${nShards - 1} - (__rk - 1) % $nShards END AS INT)")
          .as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("__tc").as("total_tokens"))
      val grand = perShard.agg(sum("total_tokens").as("__g"))
      perShard.crossJoin(broadcast(grand))
        .select(col("shard"), col("n_docs"), col("total_tokens"),
          // 128-bit intermediate (ADVICE r13): abs dev can reach
          // (nShards-1)·grand, so the ·1e6 scaling overflows int64
          // once the corpus passes ~1.3e12 tokens; DECIMAL(38,0)
          // carries it exactly (DuckDB mirrors via HUGEINT) and the
          // closing div lands back on BIGINT — bit-identical to the
          // old math wherever the old math didn't overflow
          expr(s"CAST((CAST(abs(total_tokens * $nShards - __g) AS " +
            s"DECIMAL(38,0)) * 1000000) div __g AS BIGINT)")
            .as("abs_dev_ppm"),
          when(col("total_tokens") * nShards > col("__g"), 1)
            .when(col("total_tokens") * nShards < col("__g"), -1)
            .otherwise(0).cast(IntegerType).as("over_mean"))
    }),

    // corpus diversity audit by deterministic random pairing (the
    // self-BLEU shape without the generation loop): the q98 salted-md5
    // shuffle pairs position 2k with 2k+1, each pair's 4-gram shingle
    // Jaccard lands on the e6 lattice, histogrammed by decile — how
    // self-similar a (synthetic) corpus is under a disjoint O(n)
    // pairing instead of an O(n^2) sweep
    "q318_pair_diversity" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.text.TextOps.wordShingles(col("text"), 4).as("__sg"))
      val pos = graft.operators.SplitOps.shufflePositions(
        docs, "doc_id", salt = "selfsim")
        .withColumn("__pair", expr("(shuffle_pos - 1) div 2"))
        .withColumn("__side", (col("shuffle_pos") - 1L) % 2L)
      val a = pos.filter(col("__side") === 0L)
        .select(col("__pair"), col("__sg").as("__sa"))
      val b = pos.filter(col("__side") === 1L)
        .select(col("__pair"), col("__sg").as("__sb"))
      val joined = a.join(b, "__pair") // odd leftover drops here
        .withColumn("__i",
          size(array_intersect(col("__sa"), col("__sb"))).cast(LongType))
        .withColumn("__u",
          size(col("__sa")) + size(col("__sb")) - col("__i"))
        .withColumn("__jac", when(col("__u") > 0L,
          col("__i").cast(DoubleType) / col("__u").cast(DoubleType))
          .otherwise(lit(0.0d)))
      joined
        .groupBy(least(floor(col("__jac") * 10.0d), lit(9.0d))
          .cast(IntegerType).as("jac_decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor(col("__jac") * lit(1e6d) + lit(0.5d)).cast(LongType))
            .as("sum_jac_e6"))
    }),

    // order-invariant duplicate screen: a doc's BAG fingerprint is the
    // md5 of its sorted token:count multiset — catching shuffled /
    // re-ordered near-copies the sequence digest misses; per source,
    // sequence-distinct vs bag-distinct counts and the collapse gap.
    // One token-stream shuffle (groupBy doc,token) — no windows, no
    // pairs
    "q319_bag_fingerprint_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          graft.text.TextOps.tokens(lower(col("text"))).as("__t"))
      val bags = docs.select(col("doc_id"), explode(col("__t")).as("__w"))
        .groupBy("doc_id", "__w").agg(count(lit(1)).as("__c"))
        .groupBy("doc_id")
        .agg(md5(concat_ws(",", sort_array(collect_list(
          concat(col("__w"), lit(":"), col("__c").cast(StringType))))))
          .as("__bag"))
      docs.join(bags, Seq("doc_id"), "left") // empty-token docs: md5("")
        .withColumn("__bagfp", coalesce(col("__bag"), md5(lit(""))))
        .withColumn("__seqfp", md5(array_join(col("__t"), " ")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__seqfp")).as("n_seq_fp"),
          countDistinct(col("__bagfp")).as("n_bag_fp"))
        .withColumn("n_reorder_collapsed",
          col("n_seq_fp") - col("n_bag_fp"))
    }),

    // boilerplate span REMOVAL — the fix q300's screen calls for:
    // within-source high-df 8-token windows (df >= max(2, ceil(10%)))
    // excised as merged maximal spans, q91's surgery pointed at the
    // nav-bar signal; one row per doc with the rebuilt text
    "q320_boilerplate_removal" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.removeBoilerplateSpans(
        graft.Tables.fanOut(
          Tables.documents(s, d).filter(col("source").isNotNull)),
        "doc_id", "text", "source", windowTokens = 8, dfDenom = 10)),

    // the audit closing the q300 -> q320 story: re-screen the CLEANED
    // corpus with the same rule and report, per source, boilerplate
    // span types before vs after plus the removed token mass —
    // residual types are honest output (excision seams can mint new
    // windows; thresholds are unchanged because no document is
    // dropped)
    "q321_boilerplate_residual" -> ((s, d) => {
      // scan fan-out before the three span-window passes each fuse
      // onto the single-split scan (round-17 opt, guide §2.5)
      val docs = graft.Tables.fanOut(
        Tables.documents(s, d).filter(col("source").isNotNull))
      val src = docs.select(col("doc_id"), col("source"))
      // ONE rule pass: the checkpointed (source, hash) frame feeds the
      // before-count AND the removal (the countDistinct over the span
      // stream is the family's heaviest stage — don't run it twice)
      val boiler = graft.pipelines.CorpusPipeline.boilerplateSpanHashes(
          docs, "doc_id", "text", "source")
        .transform(graft.state.Checkpoints.stable)
      val before = boiler
        .groupBy("source").agg(count(lit(1)).as("n_boiler_types_before"))
      // checkpoint: the cleaned frame feeds BOTH the re-screen and the
      // removed-mass rollup — without it the whole excision chain
      // would run twice
      val cleaned = graft.pipelines.CorpusPipeline.removeBoilerplateSpans(
          docs, "doc_id", "text", "source",
          precomputedHashes = Some(boiler))
        .join(src, "doc_id")
        .transform(graft.state.Checkpoints.stable)
      val after = graft.pipelines.CorpusPipeline.boilerplateSpanHashes(
          cleaned, "doc_id", "clean_text", "source")
        .groupBy("source").agg(count(lit(1)).as("n_boiler_types_after"))
      cleaned.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_removed_tokens").as("n_removed_tokens"))
        .join(before, Seq("source"), "left")
        .join(after, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_removed_tokens"),
          coalesce(col("n_boiler_types_before"), lit(0L))
            .as("n_boiler_types_before"),
          coalesce(col("n_boiler_types_after"), lit(0L))
            .as("n_boiler_types_after"))
    }),

    // leave-one-out source influence on the corpus LM loss — the
    // attribution twin of q315's reweighting: per source, the global
    // mean NLL with the source DROPPED, as exact integer arithmetic
    // on the shared e6 lattice (loo = (gs - se) div (gn - n)).
    // influence_e6 < 0 ⇔ the corpus scores better without the source
    // (the source sits above the average loss). The KN scorer is the
    // whole cost; the attribution rides the same #sources-row
    // checkpointed rollup q315 uses
    "q322_loo_source_influence" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      val scored = graft.text.NgramLm.scoreKneserNey(
        docs, "doc_id", "text", lm)
      val perDoc = scored.select(col("doc_id"),
        floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
          .as("__ne6"))
      val src = docs.filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"))
      val ps = perDoc.join(src, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("__ne6").as("__se"))
        .transform(graft.state.Checkpoints.stable)
      val g = ps.agg(sum("__se").as("__gs"), sum("n_docs").as("__gn"))
      ps.crossJoin(broadcast(g))
        .select(col("source"), col("n_docs"),
          expr("__se div n_docs").as("mean_nll_e6"),
          expr("__gs div __gn").as("global_mean_nll_e6"),
          when(col("__gn") > col("n_docs"),
            expr("(__gs - __se) div (__gn - n_docs)"))
            .otherwise(lit(null).cast(LongType)).as("loo_mean_nll_e6"),
          when(col("__gn") > col("n_docs"),
            expr("(__gs - __se) div (__gn - n_docs) - __gs div __gn"))
            .otherwise(lit(null).cast(LongType)).as("influence_e6"))
    }),

    // deterministic shard MANIFESTS — the reproducibility closing of
    // q317's deal: per shard, the md5 of the comma-joined doc-id list
    // (binary-sorted as strings on both engines) beside the doc/token
    // totals; the artifact a pipeline diffs across runs to prove the
    // sharding is stable before pointing a trainer at it
    "q323_shard_manifest" -> ((s, d) => {
      val nShards = 8
      val tc = graft.text.TextOps.tokenCount(col("text")).cast(LongType)
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), tc.as("__tc"))
        .withColumn("__neg", -col("__tc"))
      graft.operators.DedupOps.globalSurrogateId(
          docs, "__neg", Seq("doc_id"), "__rk", bucketWidth = 16L)
        .groupBy(expr(s"CAST(CASE WHEN (__rk - 1) div $nShards % 2 = 0" +
          s" THEN (__rk - 1) % $nShards" +
          s" ELSE ${nShards - 1} - (__rk - 1) % $nShards END AS INT)")
          .as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("__tc").as("total_tokens"),
          md5(concat_ws(",", sort_array(collect_list(
            col("doc_id").cast(StringType))))).as("manifest_md5"))
    }),

    // max-min fair (water-filling) token allocation: realize a global
    // token budget (1/5 of the corpus) across sources under
    // availability caps — each round gives every unsaturated source
    // the equal share budget div n; sources whose whole inventory
    // fits saturate at avail and return their surplus to the pool;
    // the loop is a #sources-row integer iteration on a collected
    // 20-row table (the temperatureMix precedent), terminating in
    // <= #sources rounds. Integer-exact; the div remainder (< n
    // tokens) stays unallocated by design
    "q329_token_waterfill" -> ((s, d) => {
      val spark0 = s
      import spark0.implicits._
      val av = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .groupBy("source")
        .agg(sum(graft.text.TextOps.tokenCount(col("text"))
          .cast(LongType)).as("__avail"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = av.values.sum
      // the oracle unrolls exactly 24 materialized rounds (each round
      // saturates >= 1 source or reaches the fixed point, and no-op
      // rounds are fixed points, so 24 covers any dataset with <= 24
      // sources); assert the invariant here so a future scale factor
      // with more sources fails LOUDLY instead of silently diverging
      // from the oracle (ADVICE r13)
      require(av.size <= 24,
        s"q329 oracle unrolls 24 water-filling rounds; dataset has " +
          s"${av.size} sources — extend the oracle unroll first")
      var budget = total / 5
      val alloc = scala.collection.mutable.Map.empty[String, Long]
      var unsat = av.keySet
      var done = false
      while (!done && unsat.nonEmpty) {
        val fair = budget / unsat.size
        val newly = unsat.filter(sr => av(sr) <= fair)
        if (newly.isEmpty) {
          unsat.foreach(sr => alloc(sr) = fair)
          done = true
        } else {
          newly.foreach(sr => alloc(sr) = av(sr))
          budget -= newly.iterator.map(av).sum
          unsat = unsat -- newly
        }
      }
      val sat = av.keySet -- (if (done) unsat else Set.empty[String])
      av.toSeq.sortBy(_._1).map { case (sr, a) =>
        (sr, a, alloc(sr), if (sat.contains(sr)) 1 else 0)
      }.toDF("source", "avail_tokens", "alloc_tokens", "saturated")
    }),

    // eval-set dedup sampling — build an eval sample whose members
    // are near-dup-CLEAN against both the rest of the corpus (a
    // train-contaminated eval item inflates every score) and each
    // other (a duplicated eval item double-counts): a 1-in-7 salted
    // hash picks candidates; a candidate is rejected as 'train_near'
    // when ANY non-candidate sits within hamming 3 of its md5-SimHash
    // signature, else 'dup_earlier' when any SMALLER-id candidate
    // does (the order-free any-earlier rule — q307/q314's discipline,
    // replayable with no sequential state), else 'kept'
    "q328_eval_dedup_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .withColumn("__cand",
          graft.operators.SplitOps.hashBucket(concat(
            col("doc_id").cast(StringType), lit("|evalsamp"))) % 7 === 0)
      val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
      val flags = docs.select(col("doc_id"), col("__cand"))
      val pairs = graft.dedup.NearDup.hammingPairs64(
          sigs, "doc_id", "simhash", maxHamming = 3)
        .join(flags.select(col("doc_id").as("id_a"),
          col("__cand").as("__ca")), "id_a")
        .join(flags.select(col("doc_id").as("id_b"),
          col("__cand").as("__cb")), "id_b")
        .transform(graft.state.Checkpoints.stable) // feeds both rejection legs
      val trainNear = pairs
        .select(when(col("__ca") && !col("__cb"), col("id_a"))
          .when(col("__cb") && !col("__ca"), col("id_b"))
          .as("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
        .withColumn("__tn", lit(1))
      val dupEarlier = pairs // id_a < id_b by construction
        .filter(col("__ca") && col("__cb"))
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("__de", lit(1))
      flags.filter(col("__cand"))
        .join(trainNear, Seq("doc_id"), "left")
        .join(dupEarlier, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__tn") === 1, "train_near")
            .when(col("__de") === 1, "dup_earlier")
            .otherwise("kept").as("verdict"))
    }),

    // quality-scorer agreement audit: before trusting ONE LM scorer
    // to gate a corpus, measure how much two scorers (Kneser-Ney
    // bigram vs stupid-backoff trigram) agree — each doc's two
    // e6-lattice losses rank on the two-level cumsum, deciles land as
    // integer arithmetic, and the closing is the sparse 10x10
    // decile confusion matrix. Exact integers end to end; off-
    // diagonal mass = docs one scorer would gate and the other keep
    "q327_scorer_agreement" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the two models' train-time actions (persist counts, eager
      // checkpoints) are independent — build them concurrently
      // (guide §2.6 via graft.Par); plans and results unchanged
      val Seq(kn, sbo) = graft.Par.build(
        () => graft.text.NgramLm.scoreKneserNey(docs, "doc_id", "text",
            graft.text.NgramLm.trainKneserNey(docs, "text"))
          .select(col("doc_id"),
            floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
              .as("__ka")),
        () => graft.text.NgramLm.scoreStupidBackoff(docs, "doc_id",
            "text", graft.text.NgramLm.trainStupidBackoff(docs, "text"))
          .select(col("doc_id"),
            floor(col("avg_nls") * lit(1e6d) + lit(0.5d)).cast(LongType)
              .as("__kb")))
      val j = kn.join(sbo, "doc_id").transform(graft.state.Checkpoints.stable)
      val n = j.agg(count(lit(1)).as("__n"))
      val ra = graft.operators.DedupOps.globalSurrogateId(
        j, "__ka", Seq("doc_id"), "__ra", bucketWidth = 1L << 20)
      val rb = graft.operators.DedupOps.globalSurrogateId(
        ra, "__kb", Seq("doc_id"), "__rb", bucketWidth = 1L << 20)
      rb.crossJoin(broadcast(n))
        .groupBy(expr("CAST((__ra - 1) * 10 div __n AS INT)")
          .as("band_kn"),
          expr("CAST((__rb - 1) * 10 div __n AS INT)").as("band_sbo"))
        .agg(count(lit(1)).as("n_docs"))
    }),

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

    // curriculum training order: easy-to-hard by KN loss — docs band
    // into LM-loss quintiles (rank on the two-level cumsum, never a
    // global window), shuffle DETERMINISTICALLY within each band (the
    // q98 salted-hash order), and the final position is one more
    // two-level rank on the composite (band << 33 | hash) key. The
    // closing proves band contiguity (max_pos - min_pos + 1 = n_docs)
    // and carries each band's exact-lattice mean loss
    "q325_curriculum_order" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      val perDoc = graft.text.NgramLm.scoreKneserNey(
          docs, "doc_id", "text", lm)
        .select(col("doc_id"),
          floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
            .as("__ne6"))
        .transform(graft.state.Checkpoints.stable) // KN chain feeds rank + count + rollup
      val n = perDoc.agg(count(lit(1)).as("__n"))
      val ranked = graft.operators.DedupOps.globalSurrogateId(
        perDoc, "__ne6", Seq("doc_id"), "__r1", bucketWidth = 1L << 20)
      val banded = ranked.crossJoin(broadcast(n))
        .withColumn("__band",
          expr("CAST((__r1 - 1) * 5 div __n AS INT)"))
        .withColumn("__ord", col("__band").cast(LongType) *
          lit(8589934592L) + graft.operators.SplitOps.hashBucket(
            concat(col("doc_id").cast(StringType), lit("|curr"))))
      graft.operators.DedupOps.globalSurrogateId(
          banded, "__ord", Seq("doc_id"), "__pos",
          bucketWidth = 1L << 26)
        .groupBy(col("__band").as("band"))
        .agg(count(lit(1)).as("n_docs"),
          min("__pos").as("min_pos"), max("__pos").as("max_pos"),
          expr("CAST(sum(__ne6) div count(1) AS BIGINT)")
            .as("mean_nll_e6"))
    }),

    // LSH band-planner BACKTEST — q316 predicts, this measures: a
    // PORTABLE md5-keyed 128-perm MinHash (per-perm min of the
    // fixed-width hex digest — string order = unsigned order, so the
    // whole sketch replays engine-free), banded at (8,16) and (16,8),
    // actual caught true pairs + total candidate load vs the S-curve
    // expectation on the SAME exact-Jaccard pair frame. The loop a
    // dedup pipeline closes before trusting the planner's math
    "q324_lsh_backtest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val jac = col("inter_size").cast(DoubleType) /
        (col("size_a") + col("size_b") - col("inter_size"))
          .cast(DoubleType)
      // the exact-pair TRUTH chain and the K-M sketch are independent
      // eager-checkpoint branches (round-17 opt, guide §2.6 / the r16
      // q261∥q327 precedent): built serially they back-to-back two
      // CPU-heavy job chains on an otherwise idle scheduler; plans and
      // values are byte-identical, only the wall overlap changes.
      // (declared up-front so the thunks below stay readable)
      def truthThunk(): DataFrame = {
        val pairs = graft.dedup.NearDup.prefixJaccardPairs(
          docs, "doc_id", "text", n = 3, threshold = 0.25)
        pairs.select(col("id_a"), col("id_b"), jac.as("__jac"))
          .transform(graft.state.Checkpoints.stable) // threshold-bounded; feeds 2 configs
      }
      // Kirsch-Mitzenmacher double hashing: ONE md5 per shingle gives
      // (h1: 60 bits, h2: 52 bits); perm p's hash is h1 + p*h2 — pure
      // int64 arithmetic (max < 2^61, overflow-free in BOTH engines),
      // and the 128 per-perm mins are codegen'd aggregates over the
      // shingle stream, not an interpreted lambda per (perm, shingle)
      // (the md5-per-perm form measured 62 s at sf0.1; this is ~5 s
      // beyond the shared exact-pair pass). The K-M perms are
      // CORRELATED across p (the argmin shingle is often stable in p)
      // — which is precisely what the backtest then MEASURES: a small
      // realized-catch deficit vs the independent-perm S-curve and a
      // candidate load far above the ideal sketch's (sf0.1: 253/256
      // caught vs 255.94e9 predicted; 19.8k candidates vs 256 true)
      val Seq(truth, mins) = graft.Par.build(
        () => truthThunk(),
        () => graft.dedup.NearDup
          .kmMinhashMins(docs, "doc_id", "text", shingleLen = 3,
            numPerms = 128)
          .transform(graft.state.Checkpoints.stable)) // one sketch pass shared by the configs
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((a, _) => a * a)
      def config(r: Int, lr: Int, b: Int, lb: Int): DataFrame = {
        val bands = graft.dedup.NearDup.kmBandKeys(mins, "doc_id", r, b)
        val cand = bands
          .select(col("__b"), col("__k"), col("doc_id").as("id_a"))
          .join(bands.select(col("__b"), col("__k"),
            col("doc_id").as("id_b")), Seq("__b", "__k"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
          .transform(graft.state.Checkpoints.stable) // feeds the count AND the semi-join
        val p = lit(1.0d) - sq(lit(1.0d) - sq(col("__jac"), lr), lb)
        val exp = truth.filter(col("__jac") >= 0.5)
          .agg(count(lit(1)).as("n_pairs_ge50"),
            coalesce(sum(floor(p * lit(1e9d) + lit(0.5d))
              .cast(LongType)), lit(0L)).as("exp_caught_ge50_e9"))
        val actual = truth.filter(col("__jac") >= 0.5)
          .join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("actual_caught_ge50"))
        val nCand = cand.agg(count(lit(1)).as("n_band_candidates"))
        exp.crossJoin(actual).crossJoin(nCand)
          .select(lit(r).cast(IntegerType).as("rows_per_band"),
            lit(b).cast(IntegerType).as("bands"),
            col("n_pairs_ge50"), col("exp_caught_ge50_e9"),
            col("actual_caught_ge50"), col("n_band_candidates"))
      }
      // the two band configs are independent branches, each with one
      // eager cand checkpoint — overlap them too (§2.6)
      graft.Par.build(
        () => config(8, 3, 16, 4),
        () => config(16, 4, 8, 3)).reduce(_.unionAll(_))
    }),

    // sketch-fed band planner (VERDICT r13 task #4): q316's planner
    // ridden on the PRODUCTION path — candidate pairs come from the
    // q324 K-M sketch banded at the (2, 64) recall config (catches
    // jac 0.25 pairs w.p. ~98%) and each candidate's similarity is
    // ESTIMATED as its matching-perm fraction (matches/128, a dyadic
    // rational — the division is exact, so the squaring ladder is
    // bit-identical cross-engine). No exact prefix-filter pass
    // anywhere: the planner's cost now scales like the sketch (one
    // sketch pass + banded equi-joins), not like Σdf² (measured 4.8×
    // at 10× data on the fixed-vocab corpus — SCALE.md r13). The
    // exact pass stays q316's oracle ground truth; n_cand_low counts
    // the band collisions below the planner's 0.25 floor — the
    // sketch-path noise a production run would carry
    "q330_sketch_band_planner" -> ((s, d) => {
      val mins = graft.dedup.NearDup
        .kmMinhashMins(Tables.documents(s, d), "doc_id", "text",
          shingleLen = 3, numPerms = 128)
        .transform(graft.state.Checkpoints.stable) // feeds band keys AND both match sides
      val bands = graft.dedup.NearDup.kmBandKeys(mins, "doc_id", 2, 64)
      val cand = bands
        .select(col("__b"), col("__k"), col("doc_id").as("id_a"))
        .join(bands.select(col("__b"), col("__k"),
          col("doc_id").as("id_b")), Seq("__b", "__k"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val aCols = (0 until 128).map(p => col(s"__v$p").as(s"__a$p"))
      val bCols = (0 until 128).map(p => col(s"__v$p").as(s"__c$p"))
      val matches = (0 until 128).map(p =>
        when(col(s"__a$p") === col(s"__c$p"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = cand
        .join(mins.select(col("doc_id").as("id_a") +: aCols: _*), "id_a")
        .join(mins.select(col("doc_id").as("id_b") +: bCols: _*), "id_b")
        .select(matches.as("__match"))
        .withColumn("__ej", col("__match").cast(DoubleType) / lit(128.0d))
      val configs = Seq((2, 1, 64, 6), (4, 2, 32, 5), (8, 3, 16, 4),
        (16, 4, 8, 3))
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((a, _) => a * a)
      val latCols = configs.map { case (r, lr, _, lb) =>
        val p = lit(1.0d) - sq(lit(1.0d) - sq(col("__ej"), lr), lb)
        floor(p * lit(1e9d) + lit(0.5d)).cast(LongType).as(s"__lat$r")
      }
      val lat = est.select(col("__match") +: latCols: _*)
      val aggCols =
        Seq(coalesce(sum(when(col("__match") >= 32 && col("__match") < 64,
            1L).otherwise(0L)), lit(0L)).as("__nband"),
          coalesce(sum(when(col("__match") < 32, 1L).otherwise(0L)),
            lit(0L)).as("__nlow")) ++
        configs.flatMap { case (r, _, _, _) =>
          Seq(
            coalesce(sum(when(col("__match") >= 64, col(s"__lat$r"))
              .otherwise(0L)), lit(0L)).as(s"__cg$r"),
            coalesce(sum(when(col("__match") >= 32 && col("__match") < 64,
              col(s"__lat$r")).otherwise(0L)), lit(0L)).as(s"__cb$r"))
        }
      val agged = lat.agg(
        coalesce(sum(when(col("__match") >= 64, 1L).otherwise(0L)),
          lit(0L)).as("__nge"), aggCols: _*)
        .transform(graft.state.Checkpoints.stable) // 1 row; 4 config selects read it
      configs.map { case (r, _, b, _) =>
        agged.select(lit(r).cast(IntegerType).as("rows_per_band"),
          lit(b).cast(IntegerType).as("bands"),
          col("__nge").as("n_est_ge50"),
          col(s"__cg$r").as("exp_caught_ge50_e9"),
          col("__nband").as("n_est_band"),
          col(s"__cb$r").as("exp_caught_band_e9"),
          col("__nlow").as("n_cand_low"))
      }.reduce(_.unionAll(_))
    }),

    // template/layout near-dup audit: exact clusters on the
    // class-collapsed layout shape (digits→9, lower→x, upper→X, runs
    // collapsed, punctuation literal) — boilerplate-varied mirrors
    // that share a template while differing in every WORD, the class
    // the digest/shingle/SimHash families cannot see; pair-free
    // 16-byte-digest groupBy (the q319 discipline)
    "q331_template_clusters" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.templateClusters(
        Tables.documents(s, d), "doc_id", "source", "text")),

    // interleaved multimodal pack audit: every 5th doc carries an
    // md5-derived ViT-style image (1..64 patch tokens, deterministic
    // fake per the multimodal stub contract); the q79 chunker runs
    // over the [image][text] stream and reports each 512-window's
    // doc/text/patch composition + the images a real packer must pad
    // or shift to keep whole (straddling the window boundary)
    "q332_interleaved_pack_budget" -> ((s, d) => {
      def hx(salt: String): Column =
        expr("CAST(conv(substring(md5(concat(cast(doc_id as string), " +
          s"'|$salt')), 1, 2), 16, 10) AS BIGINT)") % 8 + 1
      val items = Tables.documents(s, d).select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast(LongType)
          .as("__tt"),
        when(col("doc_id") % 5 === 0, hx("imw") * hx("imh"))
          .otherwise(0L).as("__ip"))
      graft.multimodal.Multimodal.interleavedPackReport(
        items, "doc_id", "__tt", "__ip", packLen = 512L)
    }),

    // embedding drift monitor: exact-integer two-sample KS between
    // the even- and odd-id embedding "snapshots" on a ±1 md5-signed
    // random projection of the e6-quantized dimensions — the
    // distribution-shift alarm a pipeline runs between crawl
    // snapshots before trusting cosine thresholds tuned on the old
    // one; the KS numerator is pure BIGINT cross-multiplication, the
    // statistic ONE closing division
    "q333_embedding_drift_ks" -> ((s, d) => {
      val signs: IndexedSeq[Long] = (1 to 64).map { dd =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$dd|ksp".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1L
        else -1L
      }
      val proj = (0 until 64).map { i =>
        lit(signs(i)) * floor(
          element_at(col("embedding"), i + 1).cast(DoubleType)
            * lit(1e6d) + lit(0.5d)).cast(LongType)
      }.reduce(_ + _)
      val scored = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), proj.as("__v"))
      graft.operators.AnalyticsOps.ksTwoSample(
        scored.filter(col("vec_id") % 2 === 0),
        scored.filter(col("vec_id") % 2 === 1), "__v")
    }),

    // RAG chunk provenance dedup: q83's retrieval windows digested and
    // clustered — duplicated chunks are the "retriever returns k
    // copies of the same passage" failure; provenance spread (distinct
    // docs) separates cross-doc boilerplate from within-doc repeats
    "q334_chunk_provenance_dedup" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.chunkProvenance(
        Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 3)),

    // per-source curriculum mixing (q325 × q315, the r13 starter-note
    // candidate): each source gets its DoReMi excess-loss sampling
    // weight AND its own internal easy→hard quintile schedule — the
    // "visit source s with weight w, and within s read in this order"
    // table a curriculum trainer consumes. Both ranks (per-source loss
    // rank, per-source banded-shuffle position) ride the GROUPED
    // two-level cumsum — no per-source global window anywhere; the KN
    // scorer is paid once and checkpointed for all three consumers
    "q335_source_curriculum" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      val perDoc = graft.text.NgramLm.scoreKneserNey(
          docs, "doc_id", "text", lm)
        .select(col("doc_id"),
          floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
            .as("__ne6"))
        .join(docs.filter(col("source").isNotNull)
          .select(col("doc_id"), col("source")), "doc_id")
        .transform(graft.state.Checkpoints.stable) // KN chain feeds rollup + both ranks
      val ps = perDoc.groupBy("source")
        .agg(count(lit(1)).as("__n"), sum("__ne6").as("__se"))
        .transform(graft.state.Checkpoints.stable) // #sources rows; weights + band sizes
      val g = ps.agg(sum("__se").as("__gs"), sum("__n").as("__gn"))
      val e = ps.crossJoin(broadcast(g))
        .withColumn("__ex", greatest(
          expr("__se div __n") - expr("__gs div __gn"), lit(0L)))
      val te = e.agg(sum("__ex").as("__t"))
      val weights = e.crossJoin(broadcast(te))
        .select(col("source"), col("__n"),
          when(col("__t") > 0, expr("__ex * 1000000 div __t"))
            .otherwise(0L).as("weight_ppm"))
      val (b1, w1) = graft.operators.TwoLevelCumsum.withGroupedOffsets(
        perDoc, Seq("source"), expr("__ne6 div 1048576L"), lit(1L),
        Seq(col("__ne6").asc, col("doc_id").asc))
      val ranked = b1
        .withColumn("__r1", col("__off") + sum(col("__w")).over(w1))
        .select(col("source"), col("doc_id"), col("__ne6"), col("__r1"))
      val banded = ranked.join(weights, "source")
        .withColumn("__band", expr("CAST((__r1 - 1) * 5 div __n AS INT)"))
        .withColumn("__ord", col("__band").cast(LongType) *
          lit(8589934592L) + graft.operators.SplitOps.hashBucket(
            concat(col("doc_id").cast(StringType), lit("|scur"))))
        .select("source", "doc_id", "__ne6", "__band", "__ord",
          "weight_ppm")
      val (b2, w2) = graft.operators.TwoLevelCumsum.withGroupedOffsets(
        banded, Seq("source"), expr("__ord div 67108864L"), lit(1L),
        Seq(col("__ord").asc, col("doc_id").asc))
      b2.withColumn("__pos", col("__off") + sum(col("__w")).over(w2))
        .groupBy(col("source"), col("__band").as("band"))
        .agg(count(lit(1)).as("n_docs"),
          min("__pos").as("min_pos"), max("__pos").as("max_pos"),
          expr("CAST(sum(__ne6) div count(1) AS BIGINT)")
            .as("mean_nll_e6"),
          max("weight_ppm").as("weight_ppm"))
    }),

    // the q324 backtest in its PRODUCTION form (r13 starter note):
    // sketch quality is audited on a deterministic 1-in-2 salted doc
    // sample — same realized-catch-deficit / candidate-amplification
    // readout at a quarter of the quadratic truth cost (half the
    // docs ⇒ ~¼ the exact pairs), which is how a 100 TB pipeline
    // would actually run the audit; q324 stays the full-corpus
    // ground-truth form
    "q336_lsh_backtest_sampled" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(graft.operators.SplitOps.hashBucket(concat(
          col("doc_id").cast(StringType), lit("|bts"))) % 2 === 0)
      val jac = col("inter_size").cast(DoubleType) /
        (col("size_a") + col("size_b") - col("inter_size"))
          .cast(DoubleType)
      // truth ∥ sketch, then the two configs concurrently — the q324
      // overlap (round-17 opt, guide §2.6); values byte-identical
      val Seq(truth, mins) = graft.Par.build(
        () => graft.dedup.NearDup.prefixJaccardPairs(
            docs, "doc_id", "text", n = 3, threshold = 0.25)
          .select(col("id_a"), col("id_b"), jac.as("__jac"))
          .transform(graft.state.Checkpoints.stable),
        () => graft.dedup.NearDup
          .kmMinhashMins(docs, "doc_id", "text", shingleLen = 3,
            numPerms = 128)
          .transform(graft.state.Checkpoints.stable))
      def sq(c: Column, k: Int): Column =
        (1 to k).foldLeft(c)((a, _) => a * a)
      def config(r: Int, lr: Int, b: Int, lb: Int): DataFrame = {
        val bands = graft.dedup.NearDup.kmBandKeys(mins, "doc_id", r, b)
        val cand = bands
          .select(col("__b"), col("__k"), col("doc_id").as("id_a"))
          .join(bands.select(col("__b"), col("__k"),
            col("doc_id").as("id_b")), Seq("__b", "__k"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
          .transform(graft.state.Checkpoints.stable)
        val p = lit(1.0d) - sq(lit(1.0d) - sq(col("__jac"), lr), lb)
        val exp = truth.filter(col("__jac") >= 0.5)
          .agg(count(lit(1)).as("n_pairs_ge50"),
            coalesce(sum(floor(p * lit(1e9d) + lit(0.5d))
              .cast(LongType)), lit(0L)).as("exp_caught_ge50_e9"))
        val actual = truth.filter(col("__jac") >= 0.5)
          .join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("actual_caught_ge50"))
        val nCand = cand.agg(count(lit(1)).as("n_band_candidates"))
        exp.crossJoin(actual).crossJoin(nCand)
          .select(lit(r).cast(IntegerType).as("rows_per_band"),
            lit(b).cast(IntegerType).as("bands"),
            col("n_pairs_ge50"), col("exp_caught_ge50_e9"),
            col("actual_caught_ge50"), col("n_band_candidates"))
      }
      graft.Par.build(
        () => config(8, 3, 16, 4),
        () => config(16, 4, 8, 3)).reduce(_.unionAll(_))
    }),

    // quality-filter ablation audit: per Gopher rule, how many docs
    // fail it, how many fail ONLY it (the docs dropping the rule
    // would admit — its marginal contribution), the first-failure
    // attribution, and the token mass a drop would recover — the
    // table a pipeline reads before loosening a threshold. One
    // map-only gate pass + one 7-key exploded aggregate
    "q337_filter_ablation" -> ((s, d) => {
      val ruleNames = Seq("word_count", "mean_word_length",
        "symbol_ratio", "bullet_lines", "ellipsis_lines",
        "alpha_words", "stopword_hits")
      val gated = graft.text.TextOps.gopherRules(
          Tables.documents(s, d), "doc_id", "text")
        .withColumn("__nf", ruleNames
          .map(r => when(col(s"r_$r"), 0).otherwise(1)).reduce(_ + _))
      gated.select(col("__nf"), col("n_words"), col("reject_reason"),
          explode(array(ruleNames.map(r => struct(lit(r).as("r"),
            col(s"r_$r").as("ok"))): _*)).as("x"))
        .groupBy(col("x.r").as("rule"))
        .agg(
          sum(when(!col("x.ok"), 1L).otherwise(0L)).as("n_fail"),
          sum(when(!col("x.ok") && col("__nf") === 1, 1L).otherwise(0L))
            .as("n_only_fail"),
          sum(when(col("reject_reason") === col("x.r"), 1L)
            .otherwise(0L)).as("n_first_reason"),
          sum(when(!col("x.ok") && col("__nf") === 1, col("n_words"))
            .otherwise(0L)).as("tokens_recovered"))
    }),

    // curriculum length-confound audit: is q325's "easy" just
    // "short"? Per token-length decile the mean KN loss, plus the
    // Spearman rank correlation between loss rank and length rank —
    // ranks are the tie-broken (value, doc_id) surrogate permutations
    // (deterministic, not the tie-corrected estimator), Σd² is exact
    // DECIMAL(38,0), and ρ closes as ONE fixed double expression
    // (exact below n ≈ 2e5 where Σd² < 2^53 — sample above, as any
    // rank audit would). Both ranks ride the two-level cumsum
    "q338_curriculum_length_confound" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainKneserNey(docs, "text")
      val perDoc = graft.text.NgramLm.scoreKneserNey(
          docs, "doc_id", "text", lm)
        .select(col("doc_id"),
          floor(col("avg_nll") * lit(1e6d) + lit(0.5d)).cast(LongType)
            .as("__ne6"))
        .join(docs.select(col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).cast(LongType)
            .as("__tc")), "doc_id")
        .transform(graft.state.Checkpoints.stable) // KN chain feeds both ranks + n
      val r1 = graft.operators.DedupOps.globalSurrogateId(
        perDoc, "__ne6", Seq("doc_id"), "__rl", bucketWidth = 1L << 20)
      val r2 = graft.operators.DedupOps.globalSurrogateId(
        r1, "__tc", Seq("doc_id"), "__rt", bucketWidth = 16L)
      val n = perDoc.agg(count(lit(1)).as("__n"))
      val dec = DecimalType(38, 0)
      val sd2 = r2.agg(sum((((col("__rl") - col("__rt")) *
          (col("__rl") - col("__rt"))).cast(dec))).as("__sd2d"))
        .select(col("__sd2d").cast(LongType).as("__sd2"))
      val rho = n.crossJoin(broadcast(sd2))
        .select(col("__n"),
          // n <= 1 has no rank spread: NULL, never an ANSI x/0
          when(col("__n") > 1L,
            lit(1.0d) - lit(6.0d) * col("__sd2").cast(DoubleType) /
              (col("__n").cast(DoubleType) * col("__n").cast(DoubleType)
                * col("__n").cast(DoubleType)
                - col("__n").cast(DoubleType))).as("__rho"))
      r2.crossJoin(broadcast(rho))
        .groupBy(expr("CAST((__rt - 1) * 10 div __n AS INT)")
          .as("length_decile"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(__tc) div count(1) AS BIGINT)")
            .as("mean_tokens"),
          expr("CAST(sum(__ne6) div count(1) AS BIGINT)")
            .as("mean_nll_e6"),
          max("__rho").as("spearman_loss_vs_length"))
    }),

    // boilerplate shingle screen: token 8-grams (md5 digests) whose
    // per-source document frequency crosses max(2, ceil(10% of the
    // source)) — the "strip the nav bar before training" planner;
    // integer-only output
    "q300_boilerplate_shingles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
      val toks = graft.text.TextOps.tokens(
        graft.text.TextOps.normalizeText(col("text")))
      // scan fan-out before the md5 shingle explode fuses onto the
      // single-row-group scan (guide §2.5; round-16 profile: 1.5 s
      // single-task stage)
      val perDoc = Tables.fanOut(
        docs.select(col("source"), col("doc_id"), col("text")))
        .select(col("source"), col("doc_id"), toks.as("__t"))
        .filter(size(col("__t")) >= 8)
        .select(col("source"), col("doc_id"), explode(expr(
          "transform(sequence(1, size(__t) - 7), i -> md5(concat_ws(' ', slice(__t, i, 8))))"))
          .as("__h"))
        .groupBy("source", "doc_id", "__h")
        .agg(count(lit(1)).as("__occ"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val flagged = perDoc.groupBy("source", "__h")
          .agg(count(lit(1)).as("__df"), sum("__occ").as("__occT"))
          .join(nDocs, "source")
          .withColumn("__boiler",
            col("__df") >= greatest(lit(2L), expr("(n_docs + 9) div 10")))
        val perSource = flagged.groupBy("source")
          .agg(count(lit(1)).as("n_shingle_types"),
            sum(when(col("__boiler"), 1L).otherwise(0L))
              .as("n_boiler_types"),
            sum(when(col("__boiler"), col("__occT")).otherwise(0L))
              .as("n_boiler_positions"))
        val affected = perDoc
          .join(flagged.filter(col("__boiler")).select("source", "__h"),
            Seq("source", "__h"), "left_semi")
          .select("source", "doc_id").distinct()
          .groupBy("source").agg(count(lit(1)).as("n_docs_affected"))
        nDocs
          .join(perSource, Seq("source"), "left")
          .join(affected, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_shingle_types"), lit(0L)).as("n_shingle_types"),
            coalesce(col("n_boiler_types"), lit(0L)).as("n_boiler_types"),
            coalesce(col("n_boiler_positions"), lit(0L))
              .as("n_boiler_positions"),
            coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
          .transform(graft.state.Checkpoints.stable)
      } finally perDoc.unpersist(blocking = false)
    }),

    // Zipf rank-frequency fit: log-log OLS slope over the global
    // top-100 tokens (count desc, token asc ties) — near −1 is
    // natural text, flat tails flag templated corpora; 100 O(1)
    // summands + round 4, the q290 small-sum discipline
    "q301_zipf_slope" -> ((s, d) => {
      val top = Tables.documents(s, d)
        .select(explode(graft.text.TextOps.tokens(
          graft.text.TextOps.normalizeText(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(100)
        // global window over the ALREADY-LIMITED 100-row frame only
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token").asc))
          .cast(IntegerType))
      val x = log(col("rank").cast(DoubleType))
      val y = log(col("cnt").cast(DoubleType))
      val fit = top.agg(count(lit(1)).cast(DoubleType).as("__m"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      top.crossJoin(broadcast(fit))
        .select(col("rank"), col("token"), col("cnt"),
          // e4 lattice: the q290 class — an OLS slope over ln sums is
          // a fp cancellation residue on degenerate input
          graft.functions.Lattice.e4(
            (col("__m") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__m") * col("__sxx") - col("__sx") * col("__sx")))
            .as("zipf_slope"))
    }),

    // per-source document-length decile values off the shared rank
    // cover — the distribution-shape screen behind length-based
    // quality gates; integer-only (e6 lattice)
    "q302_length_deciles" -> ((s, d) =>
      graft.operators.AnalyticsOps.valueDeciles(
        Tables.documents(s, d)
          .filter(col("source").isNotNull && col("text").isNotNull)
          .select(col("source"),
            length(col("text")).cast(DoubleType).as("len")),
        "source", "len")),

    // median/MAD robust-outlier screen on the pure integer lattice:
    // med as the two-central-sum m2, MAD as the two-central-sum of
    // dev2 = |2v - m2|, flag = 2*dev2 > 3*mad4 — zero division, zero
    // float anywhere
    "q303_mad_outliers" -> ((s, d) =>
      graft.operators.AnalyticsOps.madOutlierScreen(
        Tables.events(s, d).filter(col("value").isNotNull),
        "event_type", "value", k = 3)),

    // language-mixing screen: per doc, tokens landing in the OWN
    // lang's top-100 vocabulary vs in some OTHER lang's top-100 (and
    // not the own) — the contamination triage before per-language
    // corpus splits; bounded-heap top-100 per lang, integer-ppm
    // closing
    "q304_language_mixing" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(graft.text.TextOps.tokens(
            graft.text.TextOps.normalizeText(col("text")))).as("__w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val top = toks.groupBy("lang", "__w").agg(count(lit(1)).as("__c"))
          .groupBy("lang")
          .agg(graft.expressions.TopKAgg.topKFor(StringType, 100)(
            col("__w"), col("__c").cast(DoubleType)).as("__tk"))
          .select(col("lang").as("__tl"),
            explode(col("__tk")).as("__e"))
          .select(col("__tl"), col("__e.id").as("__w"))
        val ws = top.groupBy("__w")
          .agg(count(lit(1)).as("__nl"), max("__tl").as("__mtl"))
        val flagged = toks
          .join(broadcast(top
            .select(col("__w"), col("__tl").as("lang"),
              lit(1L).as("__own"))), Seq("__w", "lang"), "left")
          .join(broadcast(ws), Seq("__w"), "left")
          .select(col("doc_id"), col("lang"),
            when(col("__own").isNotNull, 1L).otherwise(0L).as("__o"),
            when(col("__own").isNull && col("__nl").isNotNull &&
              (col("__nl") >= 2 || col("__mtl") =!= col("lang")), 1L)
              .otherwise(0L).as("__x"))
        flagged.groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("__o")).as("n_own_top"),
            sum(col("__x")).as("n_other_top"))
          .withColumn("mixing_ppm",
            expr("n_other_top * 1000000 div n_tokens"))
          .transform(graft.state.Checkpoints.stable)
      } finally toks.unpersist(blocking = false)
    }),

    // train/eval split-leakage screen: exact-duplicate (q80 digest)
    // and near-duplicate (portable md5-SimHash, hamming <= 3) pairs
    // CROSSING a deterministic 90/10 md5 split — the contamination
    // number that says "your eval set is in your training set";
    // integer-only single-row report
    "q305_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .withColumn("__isEval",
          graft.operators.SplitOps.hashBucket(concat(
            col("doc_id").cast(StringType), lit("|split"))) % 10 === 9)
      docs.persist()
      try {
        val sizes = docs.agg(
          sum(when(!col("__isEval"), 1L).otherwise(0L)).as("n_train"),
          sum(when(col("__isEval"), 1L).otherwise(0L)).as("n_eval"))
        val exact = docs
          .select(md5(graft.text.TextOps.normalizeText(col("text")))
            .as("__k"), col("__isEval"))
          .groupBy("__k")
          .agg(sum(when(!col("__isEval"), 1L).otherwise(0L)).as("__nt"),
            sum(when(col("__isEval"), 1L).otherwise(0L)).as("__ne"))
          .agg(coalesce(sum(col("__nt") * col("__ne")), lit(0L))
            .as("exact_cross_pairs"),
            coalesce(sum(when(col("__nt") > 0, col("__ne"))
              .otherwise(0L)), lit(0L)).as("eval_docs_exact_leaked"))
        val splits = docs.select(col("doc_id"), col("__isEval"))
        val near = graft.dedup.NearDup.md5SimhashPairs(
            docs, "doc_id", "text", maxHamming = 3)
          .join(splits.select(col("doc_id").as("id_a"),
            col("__isEval").as("__ea")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"),
            col("__isEval").as("__eb")), "id_b")
          .filter(col("__ea") =!= col("__eb"))
          .select(when(col("__ea"), col("id_a")).otherwise(col("id_b"))
            .as("__evalDoc"))
        val nearAgg = near.agg(count(lit(1)).as("near_cross_pairs"),
          countDistinct(col("__evalDoc")).as("eval_docs_near_leaked"))
        sizes.crossJoin(exact).crossJoin(nearAgg).transform(graft.state.Checkpoints.stable)
      } finally docs.unpersist(blocking = false)
    }),

    // incremental crawl-novelty admission: the md5-SimHash signature
    // stream arrives in three id-ordered batches through
    // simhashDedupBatch's state; a doc is novel iff NOTHING with a
    // smaller id sits within hamming 3 (the order-free any-earlier
    // rule — replayable by an independent engine from the signature
    // table alone, and the verdict surface itself is the gate)
    "q307_incremental_simhash_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val tmpRoot = java.nio.file.Files.createTempDirectory("q307sig")
      val dir = tmpRoot.toString + "/state"
      val cuts = Seq(
        col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3)
      cuts.zipWithIndex.foreach { case (p, b) =>
        graft.streaming.StreamingOps.simhashDedupBatch(
          docs.filter(p), b.toLong, "doc_id", "text", dir, maxHamming = 3)
      }
      // localCheckpoint(eager) severs the lineage to the state parquet,
      // so the temp dir can be removed immediately — Bench runs each
      // query 3×/rep and this previously leaked a full signature-state
      // copy per invocation (ADVICE r12)
      val res = graft.streaming.StreamingOps.noveltyFromSimhashState(s, dir)
        .select(col("doc_id"),
          when(col("is_novel"), 1).otherwise(0).cast(IntegerType)
            .as("is_novel"))
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // incremental exact-substring admission: the q311/q313 window-hash
    // index as a crawl gate — three id-ordered batches through
    // spanDedupBatch's state; a doc is novel iff NO 16-token window of
    // it appears in any smaller-id doc (order-free any-earlier rule,
    // replayable from the signature state alone)
    "q314_incremental_span_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val tmpRoot = java.nio.file.Files.createTempDirectory("q314span")
      val dir = tmpRoot.toString + "/state"
      val cuts = Seq(
        col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3)
      cuts.zipWithIndex.foreach { case (p, b) =>
        graft.streaming.StreamingOps.spanDedupBatch(
          docs.filter(p), b.toLong, "doc_id", "text", dir,
          windowTokens = 16)
      }
      // q307's temp-state discipline: checkpoint severs the lineage,
      // the state dir is removed before returning
      val res = graft.streaming.StreamingOps.noveltyFromSpanState(s, dir)
        .select(col("doc_id"),
          when(col("is_novel"), 1).otherwise(0).cast(IntegerType)
            .as("is_novel"))
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // incremental TEMPLATE novelty: q331's layout digest as a crawl
    // gate through three id-ordered batches — a doc is novel iff no
    // smaller-id doc owns its layout shape (order-free any-earlier
    // rule; replay-idempotent); the gate that refuses the
    // ten-thousandth boilerplate-varied mirror word-level digests
    // admit as new
    "q339_incremental_template_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val tmpRoot = java.nio.file.Files.createTempDirectory("q339tpl")
      val dir = tmpRoot.toString + "/state"
      val cuts = Seq(
        col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3)
      cuts.zipWithIndex.foreach { case (p, b) =>
        graft.streaming.StreamingOps.templateDedupBatch(
          docs.filter(p), b.toLong, "doc_id", "text", dir)
      }
      // q307's temp-state discipline: checkpoint severs the lineage,
      // the state dir is removed before returning
      val res = graft.streaming.StreamingOps
        .noveltyFromTemplateState(s, dir)
        .select(col("doc_id"),
          when(col("is_novel"), 1).otherwise(0).cast(IntegerType)
            .as("is_novel"))
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // per-source length drift: an independent exact-integer KS per
    // source between the even- and odd-id snapshots on the token-count
    // distribution — one monitor row per source, the grouped form of
    // q333's drift alarm ("did THIS crawl source change shape?")
    "q340_source_length_drift_ks" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).cast(LongType)
            .as("__v"))
      graft.operators.AnalyticsOps.ksTwoSampleGrouped(
        scored.filter(col("doc_id") % 2 === 0),
        scored.filter(col("doc_id") % 2 === 1), "source", "__v")
    }),

    // atomic next-fit packer: the packer whose padding bill q332
    // audits — docs never split; per shard (id mod 8, fixed walk
    // order) a doc that doesn't fit closes the open 512-token pack;
    // per-pack manifest rows
    "q341_atomic_next_fit_pack" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.packAtomicNextFit(
        Tables.documents(s, d), "doc_id", "text",
        packLen = 512L, nShards = 8)),

    // per-source TEMPLATE drift (VERDICT r14 #3): q331's layout
    // clusters × q340's grouped KS — each doc carries the size of its
    // layout-shape cluster WITHIN its (source, snapshot), and the
    // per-source KS between the even/odd-id snapshots' cluster-size
    // distributions answers "did this source's template mix shift?"
    // (a template exploding in popularity moves per-doc cluster sizes
    // even when lengths and vocab stay flat). Rides layoutShape +
    // ksTwoSampleGrouped unchanged: one (source, digest) groupBy per
    // snapshot + the exact-integer grouped ECDF walk
    "q342_source_template_drift_ks" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("doc_id"),
          md5(graft.text.TextOps.layoutShape(col("text"))).as("__tpl"))
      def snap(parity: Int) = {
        val side = docs.filter(col("doc_id") % 2 === parity)
        val sizes = side.groupBy("source", "__tpl")
          .agg(count(lit(1)).as("__v"))
        side.join(sizes, Seq("source", "__tpl"))
          .select(col("source"), col("__v"))
      }
      graft.operators.AnalyticsOps.ksTwoSampleGrouped(
        snap(0), snap(1), "source", "__v")
    }),

    // best-fit-decreasing packer beside q341's next-fit (VERDICT r14
    // #4): same manifest surface + waste_tokens, so the two packing
    // disciplines compare under one schema — BFD pays a size sort for
    // the 11/9·OPT+4 waste bound next-fit's 2× bound can't give
    "q343_best_fit_decreasing_pack" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.packBestFitDecreasing(
        Tables.documents(s, d), "doc_id", "text",
        packLen = 512L, nShards = 8)),

    // IVF recall-vs-nprobe sweep (VERDICT r14 #5): the tuning curve
    // every ANN deployment reads — recall@10 against exact int8
    // ground truth at probe budgets {1,2,4,8} over 8 md5-picked
    // cells, ONE pass (cells ranked once, budgets exploded over the
    // true-neighbor frame)
    "q344_ivf_nprobe_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.ivfRecallSweep(
        emb.filter(col("vec_id") < 32), emb,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, nCells = 8, budgets = Seq(1, 2, 4, 8))
    }),

    // recall-vs-oversample sweep for the int8 rerank path (VERDICT
    // r15 #4): how many true fp32 top-10 neighbors survive inside the
    // int8 top-(10·m) shortlist for m ∈ {1,2,4} — the oversample knob
    // the q95 rerank deployment must pick; one truth pass + one
    // shortlist pass, m exploded over the true-neighbor frame only
    "q349_int8_oversample_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.int8OversampleRecall(
        emb.filter(col("vec_id") < 32), emb,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, oversamples = Seq(1, 2, 4))
    }),

    // incremental CHUNK-provenance admission (VERDICT r14 #7): q334's
    // gate form through three id-ordered batches — a chunk is novel
    // iff no lexicographically smaller (doc, chunk) owns its digest;
    // the gate a RAG index runs so it never serves the ten-thousandth
    // copy of the same passage
    "q345_incremental_chunk_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val tmpRoot = java.nio.file.Files.createTempDirectory("q345chunk")
      val dir = tmpRoot.toString + "/state"
      val cuts = Seq(
        col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3)
      cuts.zipWithIndex.foreach { case (p, b) =>
        graft.streaming.StreamingOps.chunkDedupBatch(
          docs.filter(p), b.toLong, "doc_id", "text", dir,
          chunkTokens = 16, overlap = 3)
      }
      // q307's temp-state discipline: checkpoint severs the lineage,
      // the state dir is removed before returning
      val res = graft.streaming.StreamingOps
        .noveltyFromChunkState(s, dir)
        .select(col("doc_id"), col("chunk_id"),
          when(col("is_novel"), 1).otherwise(0).cast(IntegerType)
            .as("is_novel"))
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // per-source PSI drift beside the KS family (VERDICT r15 #5):
    // q340's even/odd length snapshots closed as the dashboard metric
    // instead of the statistician's — order-statistic decile bands
    // from the reference snapshot, Laplace shares, e6-lattice BIGINT
    // closing; PSI > 0.25 (250k e6) is the conventional "major shift"
    "q350_source_length_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          graft.text.TextOps.tokenCount(col("text")).cast(LongType)
            .as("len"))
        // salted-md5 snapshot split (the q336 predicate): the testdata
        // assigns source = f(doc_id mod 20), so ANY modular id split
        // is parity-pure per source — the hash split is independent
        .withColumn("__snap", graft.operators.SplitOps.hashBucket(
          concat(col("doc_id").cast(StringType), lit("|psi"))) % 2)
      graft.operators.AnalyticsOps.psiBandedGrouped(
        docs.filter(col("__snap") === 0),
        docs.filter(col("__snap") === 1),
        "source", "len")
    }),

    // per-batch admission funnel (VERDICT r15 #6): the five exact
    // any-earlier gates (digest → SimHash → span → template → chunk)
    // run through three id-ordered batches, then ONE read-only rollup
    // row per (family, batch) with admit/reject counts and the
    // truncating admit ppm — the ops dashboard of the incremental
    // family; verdict state rides unchanged (MinHash/semantic rows
    // join through the same operator from their admitted-output
    // states — spec-gated, their sequential admission has no
    // closed-form SQL replay)
    "q351_admission_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.filter(col("text").isNotNull)
        .agg(max("doc_id")).head().getLong(0)
      val tmpRoot = java.nio.file.Files.createTempDirectory("q351funnel")
      val dirs = Seq("digest", "simhash", "span", "template", "chunk")
        .map(f => f -> (tmpRoot.toString + "/" + f)).toMap
      val cuts = Seq(
        col("doc_id") <= mx / 3,
        col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
        col("doc_id") > 2 * mx / 3)
      def perBatch(f: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit =
        cuts.zipWithIndex.foreach { case (p, b) =>
          f(docs.filter(p), b.toLong)
        }
      // the five gate FAMILIES are independent (each owns its state
      // dir); only the batch order WITHIN a family is contractual —
      // run the families as concurrent driver-submitted job chains
      // (bounded: 5 threads), which overlaps their state-parquet
      // writes and roughly halves the audit's wall-clock
      val jobs: Seq[() => Unit] = Seq(
        () => perBatch((b, i) => graft.streaming.StreamingOps
          .digestDedupBatch(b, i, "doc_id", "text", dirs("digest"))),
        () => perBatch((b, i) => graft.streaming.StreamingOps
          .simhashDedupBatch(b, i, "doc_id", "text", dirs("simhash"),
            maxHamming = 3)),
        () => perBatch((b, i) => graft.streaming.StreamingOps
          .spanDedupBatch(b.filter(col("text").isNotNull), i,
            "doc_id", "text", dirs("span"), windowTokens = 16)),
        () => perBatch((b, i) => graft.streaming.StreamingOps
          .templateDedupBatch(b, i, "doc_id", "text", dirs("template"))),
        () => perBatch((b, i) => graft.streaming.StreamingOps
          .chunkDedupBatch(b.filter(col("text").isNotNull), i,
            "doc_id", "text", dirs("chunk"), chunkTokens = 16,
            overlap = 3)))
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        jobs.map(j => Future(j())) // launch all five chains first
          .foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
      }
      val families = Seq(
        "digest" -> s.read.parquet(dirs("digest") + "/verdicts"),
        "simhash" -> s.read.parquet(dirs("simhash")),
        "span" -> s.read.parquet(dirs("span") + "/verdicts"),
        "template" -> s.read.parquet(dirs("template") + "/verdicts"),
        "chunk" -> s.read.parquet(dirs("chunk") + "/verdicts"))
      // q307's temp-state discipline: checkpoint severs the lineage,
      // the state dir is removed before returning
      val res = graft.streaming.StreamingOps.admissionFunnel(families)
        .transform(graft.state.Checkpoints.stable)
      graft.TempTrees.deleteQuietly(tmpRoot) // best-effort, fd-safe
      res
    }),

    // packing-discipline comparison: q341's next-fit and q343's BFD
    // rolled up under one surface — packs, docs, token mass, oversize
    // count, padding waste, and the waste share of consumed capacity
    // (truncating ppm) per discipline; the one-table read before
    // choosing a packer for a training run
    "q346_pack_discipline_compare" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nf = graft.pipelines.CorpusPipeline
        .packAtomicNextFit(docs, "doc_id", "text",
          packLen = 512L, nShards = 8)
        // next-fit's manifest predates the waste column: derive it
        // under the shared contract (oversize packs waste nothing)
        .withColumn("waste_tokens",
          when(col("used_tokens") > 512L, 0L)
            .otherwise(lit(512L) - col("used_tokens")))
        .withColumn("discipline", lit("next_fit"))
      val bfd = graft.pipelines.CorpusPipeline
        .packBestFitDecreasing(docs, "doc_id", "text",
          packLen = 512L, nShards = 8)
        .withColumn("discipline", lit("best_fit_decreasing"))
      nf.unionByName(bfd)
        .groupBy("discipline")
        .agg(count(lit(1)).as("n_packs"),
          sum("n_docs").as("n_docs"),
          sum("used_tokens").as("total_tokens"),
          sum("n_oversize").as("n_oversize"),
          sum("waste_tokens").as("waste_tokens"))
        .withColumn("waste_ppm",
          expr("CASE WHEN waste_tokens + total_tokens > 0 THEN " +
            "waste_tokens * 1000000 div (waste_tokens + total_tokens) " +
            "END"))
    }),

    // SimHash probe-radius backtest: the q316/q324 planner shape for
    // the OTHER near-dup gate — among the exact prefix-filter 3-gram
    // Jaccard pairs, how many true dups (jac >= 0.5, the pure integer
    // predicate 3i >= na+nb) does the portable md5-SimHash catch at
    // hamming radius r in {0,1,2,3} (the maxHamming knob every
    // simhashDedupBatch deployment must pick), and how many near-miss
    // band pairs ride along as false candidates at each radius
    "q347_simhash_radius_backtest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = graft.dedup.NearDup.prefixJaccardPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.25)
      val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
      val withH = pairs
        .join(sigs.select(col("doc_id").as("id_a"),
          col("simhash").as("__sa")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"),
          col("simhash").as("__sb")), "id_b")
        .select(
          (lit(3L) * col("inter_size") >=
            col("size_a") + col("size_b")).as("__true"),
          graft.dedup.NearDup.hammingDist(col("__sa"), col("__sb"))
            .as("__h"))
      withH.select(col("__true"), col("__h"),
          explode(typedlit(Seq(0, 1, 2, 3))).as("radius"))
        .groupBy("radius")
        .agg(
          sum(when(col("__true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("__true") && col("__h") <= col("radius"), 1L)
            .otherwise(0L)).as("n_true_caught"),
          sum(when(!col("__true"), 1L).otherwise(0L)).as("n_band"),
          sum(when(!col("__true") && col("__h") <= col("radius"), 1L)
            .otherwise(0L)).as("n_band_caught"))
        .withColumn("catch_ppm",
          expr("CASE WHEN n_true > 0 THEN " +
            "n_true_caught * 1000000 div n_true END"))
    }),

    // q347's production-path twin (VERDICT r15 #3, the q336 recipe):
    // the exact prefix-filter truth pass — q347's whole cost — runs on
    // a 1-in-2 salted-md5 doc sample, quartering the quadratic pair
    // work while the radius curve it measures is sample-invariant in
    // expectation; same output schema plus a `sampled` marker so
    // dashboards can't confuse the two. This is the audit shape that
    // survives 100×: the full-corpus q347 is the once-per-snapshot
    // deep audit, this is the one you run per batch.
    "q348_simhash_radius_sampled" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(graft.operators.SplitOps.hashBucket(concat(
          col("doc_id").cast(StringType), lit("|sbs"))) % 2 === 0)
      val pairs = graft.dedup.NearDup.prefixJaccardPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.25)
      val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
      val withH = pairs
        .join(sigs.select(col("doc_id").as("id_a"),
          col("simhash").as("__sa")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"),
          col("simhash").as("__sb")), "id_b")
        .select(
          (lit(3L) * col("inter_size") >=
            col("size_a") + col("size_b")).as("__true"),
          graft.dedup.NearDup.hammingDist(col("__sa"), col("__sb"))
            .as("__h"))
      withH.select(col("__true"), col("__h"),
          explode(typedlit(Seq(0, 1, 2, 3))).as("radius"))
        .groupBy("radius")
        .agg(
          sum(when(col("__true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("__true") && col("__h") <= col("radius"), 1L)
            .otherwise(0L)).as("n_true_caught"),
          sum(when(!col("__true"), 1L).otherwise(0L)).as("n_band"),
          sum(when(!col("__true") && col("__h") <= col("radius"), 1L)
            .otherwise(0L)).as("n_band_caught"))
        .withColumn("catch_ppm",
          expr("CASE WHEN n_true > 0 THEN " +
            "n_true_caught * 1000000 div n_true END"))
        .withColumn("sampled", lit(true))
    }),

    // dedup-aware token budget: what a per-source token count is
    // WORTH after exact dedup — raw whitespace-token volume vs the
    // volume surviving q80-digest keep-first (min doc_id keeps), and
    // the overhead ppm a trainer would waste without the dedup pass
    "q308_dedup_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("source").isNotNull && col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          md5(graft.text.TextOps.normalizeText(col("text"))).as("__k"),
          graft.text.TextOps.tokenCount(col("text")).cast(LongType)
            .as("__tc"))
      val keepers = docs.groupBy("__k").agg(min("doc_id").as("doc_id"))
      docs.join(keepers.withColumn("__keep", lit(1L)),
          Seq("__k", "doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__keep"), lit(0L))).as("n_unique_docs"),
          sum(col("__tc")).as("raw_tokens"),
          sum(when(col("__keep").isNotNull, col("__tc")).otherwise(0L))
            .as("unique_tokens"))
        .withColumn("dup_overhead_ppm", expr(
          "CASE WHEN raw_tokens > 0 THEN (raw_tokens - unique_tokens) * 1000000 div raw_tokens ELSE 0 END"))
    }),

    // contamination-SAFE split assignment — the fix q305's screen
    // calls for: the md5 90/10 split, with train docs sitting within
    // hamming 3 of ANY eval doc QUARANTINED (kept out of training
    // without touching eval); row-level verdicts are the gate
    "q309_decontaminated_split" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .withColumn("__isEval",
          graft.operators.SplitOps.hashBucket(concat(
            col("doc_id").cast(StringType), lit("|split"))) % 10 === 9)
      val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
      val pairs = graft.dedup.NearDup.hammingPairs64(
        sigs, "doc_id", "simhash", maxHamming = 3)
      val flags = docs.select(col("doc_id"), col("__isEval"))
      val crossTrain = pairs
        .join(flags.select(col("doc_id").as("id_a"),
          col("__isEval").as("__ea")), "id_a")
        .join(flags.select(col("doc_id").as("id_b"),
          col("__isEval").as("__eb")), "id_b")
        .filter(col("__ea") =!= col("__eb"))
        .select(when(col("__ea"), col("id_b")).otherwise(col("id_a"))
          .as("doc_id"))
        .distinct().withColumn("__q", lit(1))
      docs.join(crossTrain, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__isEval"), "eval")
            .when(col("__q").isNotNull, "quarantined")
            .otherwise("train").as("split"))
    }),

    // split distance audit closing the q305/q309 family: the hamming
    // DISTRIBUTION (0..7) of split-crossing signature pairs — how
    // close the eval set really sits to training data, not just
    // whether anything crosses the <=3 line; integer histogram rows
    "q310_split_distance_histogram" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .withColumn("__isEval",
          graft.operators.SplitOps.hashBucket(concat(
            col("doc_id").cast(StringType), lit("|split"))) % 10 === 9)
      val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
      val flags = docs.select(col("doc_id"), col("__isEval"))
      graft.dedup.NearDup.hammingPairs64(
          sigs, "doc_id", "simhash", maxHamming = 7)
        .join(flags.select(col("doc_id").as("id_a"),
          col("__isEval").as("__ea")), "id_a")
        .join(flags.select(col("doc_id").as("id_b"),
          col("__isEval").as("__eb")), "id_b")
        .filter(col("__ea") =!= col("__eb"))
        .groupBy(col("hamming").cast(IntegerType).as("hamming"))
        .agg(count(lit(1)).as("n_cross_pairs"),
          countDistinct(when(col("__ea"), col("id_a"))
            .otherwise(col("id_b"))).as("n_eval_docs"))
    }),

    // suffix-array-flavored repeat-length spectrum (Lee et al. §4
    // index form, VERDICT r12 task #7): per source, positions starting
    // a corpus-duplicated window of >= 8/16/32/64 tokens — level keys
    // built by Manber-Myers prefix doubling on xxhash64 span hashes
    "q311_repeat_spectrum" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.repeatSpectrum(
        Tables.documents(s, d).filter(col("text").isNotNull),
        "doc_id", "text", "source", minDocs = 2)),

    // cross-lingual translation-pair mining (the LASER recipe with the
    // embedding column standing in for the multilingual encoder):
    // banded-LSH cosine pairs at q51's recall-proven settings, kept
    // only where the two docs' languages differ, rolled up per
    // unordered language pair
    "q312_crosslingual_pairs" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.crossLingualPairs(
        Tables.embeddings(s, d), "vec_id", "embedding",
        Tables.documents(s, d), "doc_id", "lang",
        threshold = 0.45, bands = 96, bitsPerBand = 6)),

    // memorization-risk audit of a deterministic 1-in-31 eval sample
    // against the remaining training corpus: per eval doc, verbatim
    // train-window hits at 8/16/32/64 tokens and the longest such
    // window — the q311 prefix-doubled levels riding ONE composite
    // (level, hash) semi-join
    "q313_memorization_screen" -> ((s, d) =>
      graft.pipelines.CorpusPipeline.memorizationScreen(
        graft.Tables.fanOut(
          Tables.documents(s, d).filter(col("text").isNotNull)),
        "doc_id", "text", col("doc_id") % 31 === 0)),

    // kNN label-agreement audit over the embeddings' label column:
    // exact int8-lattice 5-NN on a deterministic 1-in-7 query sample,
    // majority-share-the-label counts per label — the label-noise
    // screen run before training a classifier on the corpus
    "q306_knn_label_agreement" -> ((s, d) =>
      graft.similarity.Ann.knnLabelAgreement(
        Tables.embeddings(s, d), "vec_id", "embedding", "label",
        k = 5, sampleMod = 7)),

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

    // Wasserstein-1 drift magnitude between source length
    // distributions — the integral companion to q267's max deviation
    "q274_emd_matrix" -> ((s, d) =>
      graft.operators.AnalyticsOps.emdMatrix(
        Tables.documents(s, d)
          .select(col("source"),
            graft.text.TextOps.tokenCount(col("text")).cast(LongType)
              .as("n_tokens")),
        "source", "n_tokens")),

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

    // per-label centroid drift between md5 halves on the int8 code
    // lattice — exact integer sums, 1/n factors cancel in the cosine
    "q266_semantic_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val codes = graft.similarity.Ann.quantizeInt8(emb, "vec_id", "embedding")
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      graft.operators.AnalyticsOps.semanticDrift(
        codes, "label", "vec_id", "qvec")
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

    // windowed funnel: view→click→purchase where each step must land
    // within 6 hours of the previous completion — the "converted
    // within T" product metric (same earliest-completion machinery)
    "q139_windowed_funnel" -> ((s, d) =>
      graft.operators.AnalyticsOps.funnel(Tables.events(s, d),
        Seq("view", "click", "purchase"),
        maxGapSecs = Some(6L * 3600L))),

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

    // event-type transition matrix: consecutive (from → to) pairs per
    // user — within-bucket lags + ONE boundary pair per bucket from
    // the calendar-bounded summary (the q116 discipline; hourly
    // buckets so the synthetic span crosses boundaries)
    "q136_transition_matrix" -> ((s, d) =>
      graft.operators.AnalyticsOps.transitionCounts(Tables.events(s, d),
        bucketSecs = 3600L)),

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

    // per-day event-count anomaly vs the PRECEDING 7-day baseline:
    // mean/variance from exact integer sums (no Welford divergence),
    // z NULL on empty or flat baselines
    "q127_daily_anomaly" -> ((s, d) =>
      graft.operators.AnalyticsOps.dailyAnomalyScores(Tables.events(s, d))),

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

  /** The q299 Kneser–Ney retrain-and-score CTE chain, shared verbatim
    * by the q299 per-doc closing and the q315 per-source rollup (the
    * refactor concatenates byte-identically to the round-12 q299
    * oracle text — its driver-green closing surface is untouched).
    */
  private val knScoreCte: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, regexp_split_to_array(nt, ' ') AS t
      |  FROM norm WHERE length(nt) > 0
      |), bi AS (
      |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)
      |), bic AS MATERIALIZED (
      |  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2
      |), bv AS (
      |  SELECT count(*) AS b, count(DISTINCT w2) AS vc FROM bic
      |), heads AS (
      |  SELECT w1, sum(c12) AS c1b, count(*) AS n1from
      |  FROM bic GROUP BY 1
      |), cont AS (
      |  SELECT w2, (count(*) + 1)::DOUBLE
      |      / ((SELECT b FROM bv) + (SELECT vc FROM bv))::DOUBLE AS pcont
      |  FROM bic GROUP BY 1
      |), score AS (
      |  SELECT x.doc_id,
      |    -ln(CASE WHEN h.c1b IS NOT NULL THEN
      |          (greatest(coalesce(c.c12, 0)::DOUBLE - 0.75, 0.0)
      |            + 0.75 * h.n1from::DOUBLE * coalesce(ct.pcont,
      |                1.0 / ((SELECT b FROM bv)
      |                  + (SELECT vc FROM bv))::DOUBLE))
      |            / h.c1b::DOUBLE
      |        ELSE coalesce(ct.pcont,
      |          1.0 / ((SELECT b FROM bv)
      |            + (SELECT vc FROM bv))::DOUBLE)
      |        END) AS nll
      |  FROM bi x
      |  LEFT JOIN bic c ON c.w1 = x.w1 AND c.w2 = x.w2
      |  LEFT JOIN heads h ON h.w1 = x.w1
      |  LEFT JOIN cont ct ON ct.w2 = x.w2
      |)""".stripMargin

  /** The q320 boilerplate-removal CTE chain (q91's replay with the df
    * rule swapped to the per-source max(2, ceil(10%)) threshold),
    * shared by the q320 per-doc closing and the q321 re-screen.
    * Leaves `toks`, `ndt`, `boiler`, and `rebuilt` in scope.
    */
  private val boilerRemovalCte: String = {
    val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    CASE WHEN text IS NULL OR length(trim(text, $ws)) = 0
       |         THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text, $ws), '\\s+')
       |    END AS t,
       |    CASE WHEN text IS NULL OR length(trim(text, $ws)) = 0
       |         THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(lower(trim(text, $ws)),
       |           '\\s+')
       |    END AS lt
       |  FROM documents WHERE source IS NOT NULL
       |), ndt AS (
       |  SELECT source, count(*) AS nd FROM toks GROUP BY 1
       |), spans AS MATERIALIZED (
       |  SELECT doc_id, source, CAST(u.strt AS INTEGER) AS strt, u.span
       |  FROM (
       |    SELECT doc_id, source,
       |      unnest([{'strt': i, 'span': array_to_string(lt[i:i+7], ' ')}
       |              for i in range(1, len(lt)-6)]) AS u
       |    FROM toks WHERE len(lt) >= 8)
       |), bdf AS (
       |  SELECT source, span, count(DISTINCT doc_id) AS df
       |  FROM spans GROUP BY 1, 2
       |), boiler AS MATERIALIZED (
       |  SELECT b.source, b.span FROM bdf b JOIN ndt USING (source)
       |  WHERE b.df >= greatest(2, (ndt.nd + 9) // 10)
       |), covered AS (
       |  SELECT DISTINCT doc_id, strt + j AS p FROM (
       |    SELECT s.doc_id, s.strt, unnest(range(0, 8)) AS j
       |    FROM spans s
       |    JOIN boiler b ON b.source = s.source AND b.span = s.span)
       |), toklist AS (
       |  SELECT doc_id, unnest(t) AS tok,
       |    CAST(unnest(range(1, len(t)+1)) AS INTEGER) AS p
       |  FROM toks
       |), kept AS (
       |  SELECT k.doc_id, k.p, k.tok FROM toklist k
       |  WHERE NOT EXISTS (SELECT 1 FROM covered c
       |                    WHERE c.doc_id = k.doc_id AND c.p = k.p)
       |), rebuilt AS (
       |  SELECT doc_id, count(*) AS nk,
       |    string_agg(tok, ' ' ORDER BY p) AS clean
       |  FROM kept GROUP BY doc_id
       |)""".stripMargin
  }

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

    // bit-identical Morton interleave (the five spread steps with the
    // same masks, decimal literals for DuckDB), identical global rank
    // ordering (z, id) and the same integer bucket formula
    "q172_zorder_layout" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders
        |), s1 AS (SELECT id, x AS ox, y AS oy,
        |    (x | (x << 16)) & 281470681808895 AS sx,
        |    (y | (y << 16)) & 281470681808895 AS sy FROM base),
        |s2 AS (SELECT id, ox, oy,
        |    (sx | (sx << 8)) & 71777214294589695 AS sx,
        |    (sy | (sy << 8)) & 71777214294589695 AS sy FROM s1),
        |s3 AS (SELECT id, ox, oy,
        |    (sx | (sx << 4)) & 1085102592571150095 AS sx,
        |    (sy | (sy << 4)) & 1085102592571150095 AS sy FROM s2),
        |s4 AS (SELECT id, ox, oy,
        |    (sx | (sx << 2)) & 3689348814741910323 AS sx,
        |    (sy | (sy << 2)) & 3689348814741910323 AS sy FROM s3),
        |s5 AS (SELECT id, ox, oy,
        |    (sx | (sx << 1)) & 6148914691236517205 AS sx,
        |    (sy | (sy << 1)) & 6148914691236517205 AS sy FROM s4),
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
      """WITH t AS (
        |  SELECT lang, text,
        |    regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
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

    // the same edge build and three unrolled synchronous rounds —
    // per-round argmax via (count desc, label asc) row_number
    "q193_item_communities" -> {
      def round(prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT n.node, coalesce(b.l, n.label) AS label
           |  FROM $prev n LEFT JOIN (
           |    SELECT node, l FROM (
           |      SELECT src AS node, label AS l,
           |        row_number() OVER (PARTITION BY src
           |          ORDER BY count(*) DESC, label ASC) AS rn
           |      FROM bothw JOIN $prev p ON p.node = bothw.dst
           |      GROUP BY src, label) WHERE rn = 1
           |  ) b USING (node))""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |  SELECT pa AS a, pb AS b FROM (
         |    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY 1, 2) WHERE n >= 2
         |), bothw AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e
         |), nodes AS (
         |  SELECT a AS node FROM e UNION SELECT b FROM e
         |), l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |sizes AS (SELECT label, count(*) AS community_size FROM l3 GROUP BY 1)
         |SELECT l3.node, l3.label, sizes.community_size
         |FROM l3 JOIN sizes USING (label)""".stripMargin
    },

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
      """WITH pu AS (
        |  SELECT user_id AS u, min(ts::DATE) AS start, max(ts::DATE) AS last
        |  FROM events GROUP BY 1
        |), first_ev AS (
        |  SELECT user_id AS u, event_type AS cohort FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1
        |), fin AS (SELECT max(ts::DATE) AS fin FROM events),
        |spans AS (
        |  SELECT f.cohort, CAST(p.last - p.start AS BIGINT) AS t,
        |    (fin.fin - p.last) < 7 AS censored
        |  FROM pu p JOIN first_ev f USING (u) CROSS JOIN fin
        |), atday AS (
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

    // quadratic lev<=1 pair recomputation (length-band prefilter is a
    // necessary condition, so completeness is preserved) + recursive
    // reachability closure; labels = min reachable id
    "q182_entity_clusters" ->
      """WITH RECURSIVE ents AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT CAST(p_partkey + 1000000 AS BIGINT),
        |    substring(p_name, 1, 2) || substring(p_name, 4)
        |  FROM part WHERE p_partkey % 5 = 0
        |), pairs AS (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM ents a JOIN ents b
        |    ON a.id < b.id
        |   AND abs(length(a.name) - length(b.name)) <= 1
        |  WHERE levenshtein(a.name, b.name) <= 1
        |), edges AS (
        |  SELECT ia, ib FROM pairs
        |  UNION ALL
        |  SELECT ib AS ia, ia AS ib FROM pairs
        |), r AS (
        |  SELECT id AS src, id AS dst FROM ents
        |  UNION
        |  SELECT r.src, e.ib AS dst FROM r JOIN edges e ON e.ia = r.dst
        |), labels AS (
        |  SELECT src AS entity_id, min(dst) AS cluster_id FROM r GROUP BY src
        |), sizes AS (
        |  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1
        |)
        |SELECT l.entity_id, l.cluster_id,
        |  CAST(s.cluster_size AS BIGINT) AS cluster_size
        |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin,

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

    // full SQ8 replay: per-dim min/max training, byte encoding with
    // the identical clamp formula, integer code-space scan with
    // (dist, id) candidate cut, fp32 cosine rerank
    "q208_sq_ann" ->
      """WITH corp AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id % 97 <> 0
        |), qs AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id % 97 = 0
        |), stats AS MATERIALIZED (
        |  SELECT u.i AS d, min(c.v[u.i]) AS mn, max(c.v[u.i]) AS mx
        |  FROM corp c, unnest(generate_series(1, 64)) u(i)
        |  GROUP BY 1
        |), statl AS MATERIALIZED (
        |  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
        |  FROM stats
        |), enc_c AS MATERIALIZED (
        |  SELECT c.vec_id, list_transform(generate_series(1, 64),
        |    i -> CASE WHEN s.mxs[i] = s.mns[i] THEN 0
        |      ELSE least(greatest(CAST(floor((c.v[i] - s.mns[i])
        |        / (s.mxs[i] - s.mns[i]) * 255 + 0.5) AS BIGINT) - 128,
        |        -128), 127) END) AS code
        |  FROM corp c, statl s
        |), enc_q AS MATERIALIZED (
        |  SELECT q.vec_id, list_transform(generate_series(1, 64),
        |    i -> CASE WHEN s.mxs[i] = s.mns[i] THEN 0
        |      ELSE least(greatest(CAST(floor((q.v[i] - s.mns[i])
        |        / (s.mxs[i] - s.mns[i]) * 255 + 0.5) AS BIGINT) - 128,
        |        -128), 127) END) AS code
        |  FROM qs q, statl s
        |), scored AS (
        |  SELECT eq.vec_id AS query_id, ec.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> (eq.code[i] - ec.code[i]) * (eq.code[i] - ec.code[i])))
        |      AS dist
        |  FROM enc_q eq, enc_c ec WHERE eq.vec_id <> ec.vec_id
        |), cand AS (
        |  SELECT * FROM (
        |    SELECT s.*, row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist, neighbor_id) AS rn FROM scored s)
        |  WHERE rn <= 20
        |), rer AS (
        |  SELECT c.query_id, c.neighbor_id, c.dist,
        |    round(list_cosine_similarity(q.v, co.v), 4) + 0 AS score
        |  FROM cand c
        |  JOIN qs q ON q.vec_id = c.query_id
        |  JOIN corp co ON co.vec_id = c.neighbor_id
        |)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
        |  score, CAST(dist AS BIGINT) AS sq_dist FROM (
        |  SELECT r.*, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank FROM rer r)
        |WHERE rank <= 5""".stripMargin,

    // same degree counts, HUGEINT moments, identical closing
    // expression over the both-orientations edge frame
    "q209_assortativity" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
        |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
        |           'p' || CAST(l_partkey AS VARCHAR) AS b
        |    FROM lineitem WHERE l_orderkey % 7 = 0)
        |  WHERE a <> b
        |), deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1
        |), dir AS (
        |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
        |), mom AS (
        |  SELECT count(*) AS m,
        |    sum(CAST(da.d AS HUGEINT)) AS sx,
        |    sum(CAST(db.d AS HUGEINT)) AS sy,
        |    sum(CAST(da.d AS HUGEINT) * CAST(db.d AS HUGEINT)) AS sxy,
        |    sum(CAST(da.d AS HUGEINT) * CAST(da.d AS HUGEINT)) AS sxx,
        |    sum(CAST(db.d AS HUGEINT) * CAST(db.d AS HUGEINT)) AS syy
        |  FROM dir JOIN deg da ON da.v = dir.a JOIN deg db ON db.v = dir.b
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(max(d) AS BIGINT) AS max_degree,
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(d AS DOUBLE))
        |      AS p90
        |  FROM deg
        |)
        |SELECT CAST(m // 2 AS BIGINT) AS n_edges, n_nodes, max_degree,
        |  round(p90, 4) AS p90_degree,
        |  round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6)
        |    AS mean_edge_degree,
        |  round(CASE WHEN denx > 0 AND deny > 0
        |    THEN num / sqrt(denx * deny) END, 6) + 0 AS assortativity
        |FROM mom, nd,
        |  LATERAL (SELECT CAST(m * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(m * sxx - sx * sx AS DOUBLE) AS denx,
        |    CAST(m * syy - sy * sy AS DOUBLE) AS deny) l""".stripMargin,

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

    // wedge counts through degree<=64 centers, full-degree Jaccard,
    // the same total order for the top-k set
    "q215_link_prediction" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
        |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
        |           'p' || CAST(l_partkey AS VARCHAR) AS b
        |    FROM lineitem WHERE l_orderkey % 7 = 0)
        |  WHERE a <> b
        |), deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1
        |), ctr AS (SELECT v FROM deg WHERE d <= 64
        |), both_ AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0
        |), adj AS (
        |  SELECT src, dst FROM both_ JOIN ctr ON ctr.v = both_.src
        |), w AS (
        |  SELECT a1.dst AS x, a2.dst AS y, count(*) AS cn
        |  FROM adj a1 JOIN adj a2 USING (src)
        |  WHERE a1.dst < a2.dst GROUP BY 1, 2
        |), nw AS (
        |  SELECT x, y, cn FROM w
        |  ANTI JOIN e0 ON e0.a = w.x AND e0.b = w.y
        |)
        |SELECT x AS id_a, y AS id_b, cn AS common_neighbors,
        |  round(CAST(cn AS DOUBLE)
        |    / CAST(da.d + db.d - cn AS DOUBLE), 6) AS jaccard
        |FROM nw JOIN deg da ON da.v = nw.x JOIN deg db ON db.v = nw.y
        |ORDER BY cn DESC, x, y LIMIT 50""".stripMargin,

    "q216_kcore" -> kCoreOracle(3, 8),

    "q229_khop_reachability" -> khopOracle(4),

    // q112's BM25 pipeline verbatim, whole-word relevance on the padded
    // normalized text, the same ln(x)/ln(2) ordered folds
    "q230_retrieval_eval" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(nt, ' ')) AS term
        |  FROM norm WHERE length(nt) > 0
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
        |), st AS (
        |  SELECT count(*) AS n, sum(dl)*1.0/count(*) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN ('table', 'join', 'stream') GROUP BY 1, 2
        |), dfc AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.doc_id,
        |    sum(ln(1 + ((SELECT n FROM st) - dfc.df + 0.5) / (dfc.df + 0.5))
        |      * (tf.tf * (1.2::DOUBLE + 1))
        |      / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
        |          + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM st)))) AS s
        |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)
        |  GROUP BY 1
        |), ranked AS (
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

    // the q89 int8 codes replayed as SCALAR rows (unnest by
    // generate_series + grouped max/sum — no list_transform /
    // list_aggregate, whose element handling is engine-version
    // territory), prefix and full integer L2, row_number twins of the
    // bounded-heap top-k, LEFT-join intersection, integer-ppm closing
    "q225_prefix_recall" ->
      """WITH el AS (
        |  SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(d)
        |), sc AS (
        |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY 1
        |), qv AS (
        |  SELECT el.vec_id, el.dim,
        |    CASE WHEN sc.scale = 0 THEN 0
        |         ELSE CAST(floor(x / sc.scale * 127.0 + 0.5) AS BIGINT)
        |    END AS q
        |  FROM el JOIN sc USING (vec_id)
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    sum(CASE WHEN q.dim <= 16
        |      THEN (q.q - c.q) * (q.q - c.q) ELSE 0 END) AS dp,
        |    sum((q.q - c.q) * (q.q - c.q)) AS df
        |  FROM qv q JOIN qv c ON q.dim = c.dim
        |  WHERE q.vec_id % 97 = 0 AND c.vec_id % 97 <> 0
        |  GROUP BY 1, 2
        |), tp AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY dp, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 10
        |), tf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY df, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 10
        |)
        |SELECT tf.query_id, count(*) AS k_full,
        |  CAST(sum(CASE WHEN tp.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  CAST((sum(CASE WHEN tp.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
        |    * 1000000) // count(*) AS BIGINT) AS recall_ppm
        |FROM tf LEFT JOIN tp USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin,

    // generate_series twin of posexplode (1-based -> dim = d - 1);
    // the 6-decimal lattice is floor(x·1e6 + 0.5) — three IEEE-
    // correctly-rounded double ops, NOT an engine-implemented
    // DECIMAL-cast rounding — and the output is integer-only moments
    "q226_dim_profile" ->
      """WITH ex AS (
        |  SELECT d - 1 AS dim, CAST(embedding[d] AS DOUBLE) AS xd
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(d)
        |  WHERE embedding IS NOT NULL
        |), qv AS (
        |  SELECT dim, xd,
        |    CAST(floor(xd * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM ex
        |)
        |SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
        |  CAST(sum(CASE WHEN xd = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CAST(v AS HUGEINT)) AS BIGINT) AS sum_e6,
        |  CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS BIGINT)
        |    AS sumsq_e12,
        |  min(v) AS min_e6, max(v) AS max_e6
        |FROM qv GROUP BY 1""".stripMargin,

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

    // the q80 normalization digest per (source, doc), mirror feed
    // unioned in, unordered pair counts + digest-set Jaccard
    "q224_cross_source_dups" ->
      """WITH alldocs AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror', text FROM documents WHERE doc_id % 5 = 0
        |), k AS (
        |  SELECT DISTINCT source AS s,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM alldocs WHERE text IS NOT NULL
        |), sizes AS (
        |  SELECT s, count(*) AS n FROM k GROUP BY 1
        |), shared AS (
        |  SELECT a.s AS source_a, b.s AS source_b, count(*) AS n_shared
        |  FROM k a JOIN k b USING (h) WHERE a.s < b.s GROUP BY 1, 2
        |)
        |SELECT source_a, source_b, n_shared,
        |  round(CAST(n_shared AS DOUBLE)
        |    / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) AS digest_jaccard
        |FROM shared
        |JOIN sizes na ON na.s = source_a
        |JOIN sizes nb ON nb.s = source_b""".stripMargin,

    // ZERO regex on the oracle side: every character class unrolls to
    // a chr()-literal replace chain — length(text) − length(stripped)
    // counts class members exactly, with no regex-library-version
    // surface and no row explosion (replace on single-char needles is
    // dialect-frozen). The engine's Java regex classes count exactly
    // these codepoint sets.
    "q221_mojibake" -> {
      def strip(cps: Seq[Int]): String =
        cps.foldLeft("text")((acc, c) => s"replace($acc, chr($c), '')")
      val c1Chain = strip(128 to 159)
      val ctrlChain = strip((1 to 8) ++ Seq(11, 12) ++ (14 to 31))
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(length(text) - length(replace(text, chr(65533), ''))
        |      AS BIGINT) AS repl,
        |    CAST(length(text) - length($c1Chain) AS BIGINT) AS c1,
        |    CAST(length(text) - length(replace(text, chr(195), ''))
        |      AS BIGINT) AS latin1,
        |    CAST(length(text) - length($ctrlChain) AS BIGINT) AS ctrl
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_replacement,
        |  CAST(sum(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        |  CAST(sum(CASE WHEN latin1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_latin1,
        |  CAST(sum(CASE WHEN ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_control,
        |  CAST(sum(repl + c1 + latin1 + ctrl) AS BIGINT) AS total_artifacts,
        |  CAST(sum(CASE WHEN repl = 0 AND c1 = 0 AND latin1 = 0 AND ctrl = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST((sum(CASE WHEN repl = 0 AND c1 = 0 AND latin1 = 0
        |      AND ctrl = 0 THEN 1 ELSE 0 END) * 1000000) // count(*)
        |    AS BIGINT) AS clean_rate_ppm
        |FROM t GROUP BY 1""".stripMargin
    },

    // q172's bit-interleave chain plus two comparison layouts; bucket
    // by the same exact rank formula; skippable = interval disjointness
    "q222_zonemap_pruning" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
        |  FROM orders
        |), s1 AS (SELECT id, x AS ox, y AS oy,
        |    (x | (x << 16)) & 281470681808895 AS sx,
        |    (y | (y << 16)) & 281470681808895 AS sy FROM base),
        |s2 AS (SELECT id, ox, oy,
        |    (sx | (sx << 8)) & 71777214294589695 AS sx,
        |    (sy | (sy << 8)) & 71777214294589695 AS sy FROM s1),
        |s3 AS (SELECT id, ox, oy,
        |    (sx | (sx << 4)) & 1085102592571150095 AS sx,
        |    (sy | (sy << 4)) & 1085102592571150095 AS sy FROM s2),
        |s4 AS (SELECT id, ox, oy,
        |    (sx | (sx << 2)) & 3689348814741910323 AS sx,
        |    (sy | (sy << 2)) & 3689348814741910323 AS sy FROM s3),
        |s5 AS (SELECT id, ox, oy,
        |    (sx | (sx << 1)) & 6148914691236517205 AS sx,
        |    (sy | (sy << 1)) & 6148914691236517205 AS sy FROM s4),
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
      """WITH pu AS (
        |  SELECT user_id AS u, min(ts::DATE) AS start, max(ts::DATE) AS last
        |  FROM events GROUP BY 1
        |), first_ev AS (
        |  SELECT user_id AS u, event_type AS cohort FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1
        |), fin AS (SELECT max(ts::DATE) AS fin FROM events),
        |spans AS (
        |  SELECT f.cohort, CAST(p.last - p.start AS BIGINT) AS t,
        |    (fin.fin - p.last) < 7 AS censored
        |  FROM pu p JOIN first_ev f USING (u) CROSS JOIN fin
        |), atday AS (
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
      """WITH pu AS (
        |  SELECT user_id AS u, min(ts::DATE) AS start, max(ts::DATE) AS last
        |  FROM events GROUP BY 1
        |), first_ev AS (
        |  SELECT user_id AS u, event_type AS cohort FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1
        |), fin AS (SELECT max(ts::DATE) AS fin FROM events),
        |spans AS (
        |  SELECT f.cohort, CAST(p.last - p.start AS BIGINT) AS t,
        |    (fin.fin - p.last) < 7 AS censored
        |  FROM pu p JOIN first_ev f USING (u) CROSS JOIN fin
        |), atday AS (
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

    // identical nine HUGEINT moments and Cramer expansions; one
    // closing division per coefficient
    "q235_ols_two_feature" ->
      """WITH feat AS (
        |  SELECT lang,
        |    CAST(CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS HUGEINT) AS y,
        |    CAST(n_chars AS HUGEINT) AS x1,
        |    CAST(CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |      ELSE len(list_distinct(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')))
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

    "q77_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_nationkey
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

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

    // all four levels via GROUP BY CUBE, the +1 dayofweek alignment
    "q152_cube_report" ->
      """SELECT event_type,
        |  CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
        |  count(*) AS n,
        |  CAST(GROUPING(event_type, dayofweek(ts) + 1) AS BIGINT) AS gid
        |FROM events
        |GROUP BY CUBE(event_type, dayofweek(ts) + 1)""".stripMargin,

    // the same binary-length bucket rule
    "q151_skew_histogram" ->
      """WITH c AS (
        |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
        |)
        |SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS bucket,
        |  count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM c GROUP BY 1""".stripMargin,

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

    // the same 5 power iterations UNROLLED as chained MATERIALIZED
    // CTEs (each r_i is referenced twice — inlined CTEs would
    // re-evaluate exponentially; a recursive CTE cannot carry the
    // per-iteration dangling scalar), identical operand order
    "q143_pagerank" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
          |    'p' || CAST(l_partkey AS VARCHAR) AS dst
          |  FROM lineitem WHERE l_orderkey % 7 = 0
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          |deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""", dang$i AS MATERIALIZED (
           |  SELECT coalesce(sum(r.rank), 0.0) AS m FROM r${i - 1} r
           |  WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = r.node)
           |), r$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (1.0 - 0.85) / (SELECT n FROM nn)
           |      + 0.85 * (coalesce(c.s, 0.0)
           |                + (SELECT m FROM dang$i) / (SELECT n FROM nn)) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
           |    FROM r${i - 1} r
           |    JOIN deg d USING (node)
           |    JOIN edges e ON e.src = r.node
           |    GROUP BY e.dst) c USING (node)
           |)""".stripMargin
      }.mkString
      head + iters +
        "\nSELECT node, round(rank * 1000000.0, 4) AS rank_ppm FROM r5"
    },

    // q143's unrolled power iterations with the seed-restart teleport:
    // r' = (1-d)·t + d·(contrib + dangling·t), t = 1/|S| on seeds
    "q236_personalized_pagerank" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
          |    'p' || CAST(l_partkey AS VARCHAR) AS dst
          |  FROM lineitem WHERE l_orderkey % 7 = 0
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), seeds AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS s
          |  FROM lineitem WHERE l_orderkey % 91 = 0
          |), sn AS (SELECT count(*)::DOUBLE AS c
          |          FROM seeds JOIN nodes ON nodes.node = seeds.s),
          |tele AS MATERIALIZED (
          |  SELECT node,
          |    CASE WHEN EXISTS (SELECT 1 FROM seeds WHERE s = node)
          |      THEN 1.0 / (SELECT c FROM sn) ELSE 0.0 END AS t
          |  FROM nodes
          |), deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, t AS rank FROM tele)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""", dang$i AS MATERIALIZED (
           |  SELECT coalesce(sum(r.rank), 0.0) AS m FROM r${i - 1} r
           |  WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = r.node)
           |), r$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (1.0 - 0.85) * t.t
           |      + 0.85 * (coalesce(c.s, 0.0)
           |                + (SELECT m FROM dang$i) * t.t) AS rank
           |  FROM nodes n JOIN tele t USING (node) LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
           |    FROM r${i - 1} r
           |    JOIN deg d USING (node)
           |    JOIN edges e ON e.src = r.node
           |    GROUP BY e.dst) c USING (node)
           |)""".stripMargin
      }.mkString
      head + iters +
        """
          |SELECT r.node,
          |  EXISTS (SELECT 1 FROM seeds WHERE s = r.node) AS is_seed,
          |  round(rank * 1000000.0, 4) AS rank_ppm FROM r5 r""".stripMargin
    },

    // q143's unrolled iterations over the word-adjacency graph built
    // with a list comprehension; top-20 by (rounded ppm desc, word)
    "q237_textrank_keywords" -> {
      val head =
        """WITH tok AS (
          |  SELECT regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') AS t
          |  FROM documents
          |  WHERE text IS NOT NULL AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
          |    AND len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) >= 2
          |), pr AS (
          |  SELECT unnest([{'a': t[i], 'b': t[i+1]} for i in range(1, len(t))],
          |    recursive := true)
          |  FROM tok
          |), edges AS MATERIALIZED (
          |  SELECT DISTINCT a AS src, b AS dst FROM pr WHERE a <> b
          |  UNION
          |  SELECT DISTINCT b, a FROM pr WHERE a <> b
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          |deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""", dang$i AS MATERIALIZED (
           |  SELECT coalesce(sum(r.rank), 0.0) AS m FROM r${i - 1} r
           |  WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.node = r.node)
           |), r$i AS MATERIALIZED (
           |  SELECT n.node,
           |    (1.0 - 0.85) / (SELECT n FROM nn)
           |      + 0.85 * (coalesce(c.s, 0.0)
           |                + (SELECT m FROM dang$i) / (SELECT n FROM nn)) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
           |    FROM r${i - 1} r
           |    JOIN deg d USING (node)
           |    JOIN edges e ON e.src = r.node
           |    GROUP BY e.dst) c USING (node)
           |)""".stripMargin
      }.mkString
      head + iters +
        """
          |SELECT CAST(pos AS INT) AS pos, keyword, rank_ppm FROM (
          |  SELECT row_number() OVER (
          |      ORDER BY round(rank * 1000000.0, 4) DESC, node) AS pos,
          |    node AS keyword, round(rank * 1000000.0, 4) AS rank_ppm
          |  FROM r5)
          |WHERE pos <= 20""".stripMargin
    },

    // min-label propagation with pointer doubling, every round
    // unrolled: h_i = min(own, neighbor min), l_i = min(h_i, h_i of
    // one's label) — labels only decrease, so the fixed horizon is
    // the operator's definition on both engines
    "q238_connected_components" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
          |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
          |      'p' || CAST(l_partkey AS VARCHAR) AS b
          |    FROM lineitem WHERE l_orderkey % 13 = 0)
          |  WHERE a <> b
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT node, node AS lab FROM (
          |    SELECT a AS node FROM edges UNION SELECT b FROM edges)
          |)""".stripMargin
      head + ccRoundsSql(6) +
        "\nSELECT node, lab AS component FROM l6"
    },

    // same grid derivation, dense filter, forward-adjacency edges,
    // and unrolled CC rounds; isolated dense cells self-label via l0
    "q242_grid_hotspots" -> {
      val head =
        """WITH pts AS MATERIALIZED (
          |  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 8))::UBIGINT
          |           // 134217728 AS BIGINT) AS cx,
          |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 8))::UBIGINT
          |           // 134217728 AS BIGINT) AS cy
          |  FROM events
          |), dense AS MATERIALIZED (
          |  SELECT cx, cy, cx * 32 + cy AS cell, count(*) AS n
          |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 14
          |), edges AS MATERIALIZED (
          |  SELECT a.cell AS a, b.cell AS b FROM dense a JOIN dense b
          |  ON b.cell > a.cell
          |    AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT cell AS node, cell AS lab FROM dense
          |)""".stripMargin
      head + ccRoundsSql(5) +
        """
          |SELECT l.lab AS component, count(*) AS n_cells,
          |  CAST(sum(d.n) AS BIGINT) AS n_points,
          |  CAST(max(d.n) AS BIGINT) AS peak_cell_points
          |FROM l5 l JOIN dense d ON d.cell = l.node
          |GROUP BY 1""".stripMargin
    },

    // brute force over all (point, facility) pairs — deliberately
    // ignores the engine's grid blocking, so a blocking completeness
    // bug would surface as a hash mismatch; |Δ| pre-filter keeps the
    // BIGINT squares from wrapping, same as the engine
    "q243_radius_nn_join" ->
      """WITH p AS MATERIALIZED (
        |  SELECT event_id,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':nx'), 1, 8))::UBIGINT AS BIGINT) AS x,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':ny'), 1, 8))::UBIGINT AS BIGINT) AS y
        |  FROM events
        |), f AS MATERIALIZED (
        |  SELECT s_suppkey,
        |    CAST(('0x' || substr(md5('s' || CAST(s_suppkey AS VARCHAR) || ':nx'), 1, 8))::UBIGINT AS BIGINT) AS fx,
        |    CAST(('0x' || substr(md5('s' || CAST(s_suppkey AS VARCHAR) || ':ny'), 1, 8))::UBIGINT AS BIGINT) AS fy
        |  FROM supplier
        |), cand AS (
        |  -- CASE so the INT64 square is never evaluated on far pairs
        |  -- (the WHERE alone does not stop eager projection)
        |  SELECT p.event_id, f.s_suppkey,
        |    CASE WHEN abs(p.x - f.fx) <= 134217728
        |           AND abs(p.y - f.fy) <= 134217728
        |      THEN (p.x - f.fx) * (p.x - f.fx) + (p.y - f.fy) * (p.y - f.fy)
        |    END AS d2
        |  FROM p CROSS JOIN f
        |)
        |SELECT event_id, s_suppkey AS facility_id, d2 AS dist_sq FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY event_id ORDER BY d2, s_suppkey) AS rn
        |  FROM cand WHERE d2 <= 134217728::BIGINT * 134217728::BIGINT)
        |WHERE rn = 1""".stripMargin,

    // full Bellman-Ford relaxation unrolled: r_i = min over r_{i-1}
    // plus one-edge extensions — equivalent round-for-round to the
    // engine's frontier form, so a frontier bug shows as a mismatch
    "q244_weighted_distances" -> {
      val head =
        """WITH und AS MATERIALIZED (
          |  SELECT least(a, b) AS a, greatest(a, b) AS b,
          |    min(w) AS w
          |  FROM (
          |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
          |      'p' || CAST(l_partkey AS VARCHAR) AS b,
          |      CAST(l_quantity AS BIGINT) AS w
          |    FROM lineitem
          |    WHERE l_orderkey % 7 = 0 AND l_quantity IS NOT NULL
          |      AND l_quantity >= 0)
          |  WHERE a <> b
          |  GROUP BY 1, 2
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst, w FROM und
          |  UNION ALL SELECT b, a, w FROM und
          |), r0 AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS node,
          |    0::BIGINT AS dist
          |  FROM lineitem WHERE l_orderkey % 91 = 0
          |)""".stripMargin
      val iters = (1 to 6).map { i =>
        s""", r$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM r${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, r.dist + e.w AS dist
           |    FROM r${i - 1} r JOIN both_dir e ON e.src = r.node)
           |  GROUP BY node
           |)""".stripMargin
      }.mkString
      head + iters + "\nSELECT node, dist FROM r6"
    },

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

    // same per-language frequency-of-frequencies and closing ratios
    "q248_good_turing" ->
      """WITH toked AS (
        |  SELECT lang, unnest(
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END) AS w
        |  FROM documents
        |), counts AS MATERIALIZED (
        |  SELECT lang, w, count(*) AS c FROM toked GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS vocab,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / sum(c)::DOUBLE, 6) AS p_unseen,
        |  round(CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0 THEN
        |    2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::DOUBLE
        |      / sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE END, 6)
        |    AS r_star_1,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS singleton_vocab_share
        |FROM counts GROUP BY lang""".stripMargin,

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

    // q89's code replay, md5 ±1 signs, integer sums end to end; the
    // one fp op is the closing distortion division
    "q256_jl_projection" ->
      """WITH vecs AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
        |  FROM (SELECT vec_id, embedding,
        |      list_aggregate(list_transform(embedding::DOUBLE[],
        |        x -> abs(x)), 'max') AS scale
        |    FROM embeddings)
        |), elems AS MATERIALIZED (
        |  SELECT vec_id AS id, d - 1 AS i, qv[d] AS q
        |  FROM vecs CROSS JOIN generate_series(1, 64) AS g(d)
        |), proj AS MATERIALIZED (
        |  SELECT id, j, sum(q * s) AS y FROM (
        |    SELECT e.id, e.i, e.q, gj.j,
        |      CASE WHEN ('0x' || substr(md5('rp|' || CAST(gj.j AS VARCHAR)
        |          || '|' || CAST(e.i AS VARCHAR)), 1, 8))::UBIGINT % 2 = 0
        |        THEN 1 ELSE -1 END AS s
        |    FROM elems e CROSS JOIN (
        |      SELECT unnest(range(0, 16)) AS j) gj)
        |  GROUP BY 1, 2
        |), dorig AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    sum((a.q - b.q) * (a.q - b.q)) AS d2_orig
        |  FROM elems a JOIN elems b ON a.i = b.i AND a.id < b.id
        |  WHERE a.id < 20 AND b.id < 20
        |  GROUP BY 1, 2
        |), dproj AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    sum((a.y - b.y) * (a.y - b.y)) AS d2_proj
        |  FROM proj a JOIN proj b ON a.j = b.j AND a.id < b.id
        |  WHERE a.id < 20 AND b.id < 20
        |  GROUP BY 1, 2
        |)
        |SELECT o.id_a, o.id_b,
        |  CAST(o.d2_orig AS BIGINT) AS d2_orig,
        |  CAST(p.d2_proj AS BIGINT) AS d2_proj,
        |  round(CASE WHEN o.d2_orig > 0 THEN p.d2_proj::DOUBLE
        |    / (16.0 * o.d2_orig::DOUBLE) END, 6) AS distortion
        |FROM dorig o JOIN dproj p USING (id_a, id_b)""".stripMargin,

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

    // the same STRUCTURAL detectors, zero regex: email-shaped token
    // via instr/reverse/replace arithmetic over a literal-space split;
    // phone via a 10-replace digit mask + substring containment
    "q287_pii_incidence" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), etok AS (
        |  SELECT doc_id, max(CASE WHEN
        |      length(t) - length(replace(t, '@', '')) = 1
        |      AND instr(t, '@') >= 2
        |      AND instr(reverse(t), '.') >= 3
        |      AND length(t) - instr(reverse(t), '.') + 1
        |        >= instr(t, '@') + 2
        |    THEN 1 ELSE 0 END) AS has_email
        |  FROM tok GROUP BY 1
        |), ph AS (
        |  SELECT doc_id, source,
        |    CASE WHEN instr(m, '###-###-####') > 0
        |      OR instr(m, '(###) ###-####') > 0
        |      OR instr(m, '(###)###-####') > 0
        |    THEN 1 ELSE 0 END AS has_phone
        |  FROM (SELECT doc_id, source,
        |      replace(replace(replace(replace(replace(replace(replace(
        |        replace(replace(replace(text, '0', '#'), '1', '#'),
        |        '2', '#'), '3', '#'), '4', '#'), '5', '#'), '6', '#'),
        |        '7', '#'), '8', '#'), '9', '#') AS m
        |    FROM documents WHERE source IS NOT NULL)
        |)
        |SELECT p.source, count(*) AS n_docs,
        |  CAST(sum(COALESCE(e.has_email, 0)) AS BIGINT) AS n_email_docs,
        |  CAST(sum(COALESCE(p.has_phone, 0)) AS BIGINT) AS n_phone_docs,
        |  CAST((sum(CASE WHEN COALESCE(e.has_email, 0) = 1
        |      OR COALESCE(p.has_phone, 0) = 1 THEN 1 ELSE 0 END)
        |    * 1000000) // count(*) AS BIGINT) AS pii_doc_ppm
        |FROM ph p LEFT JOIN etok e USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // the q238 batch CC answer unrolled to the FIXPOINT (converges by
    // round 10 at sf0.01 and 11 at sf0.1, DuckDB-measured; 14 carries
    // margin) — the incremental path must land on the fixpoint, not a
    // round-count snapshot. The closing SELECT is GUARDED on l14 = l13:
    // if a deeper graph ever outruns the unroll, the oracle returns
    // ZERO rows and reds ITSELF (rows mismatch) instead of blaming a
    // correct engine with a silently under-converged label table.
    "q288_incremental_cc" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
          |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
          |      'p' || CAST(l_partkey AS VARCHAR) AS b
          |    FROM lineitem WHERE l_orderkey % 13 = 0)
          |  WHERE a <> b
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT node, node AS lab FROM (
          |    SELECT a AS node FROM edges UNION SELECT b FROM edges)
          |)""".stripMargin
      val fixpointGuard =
        """, conv AS (
          |  SELECT count(*) AS n_moved
          |  FROM l14 a JOIN l13 b ON a.node = b.node AND a.lab <> b.lab
          |)""".stripMargin
      head + ccRoundsSql(14) + fixpointGuard +
        "\nSELECT node, lab AS component FROM l14, conv WHERE conv.n_moved = 0"
    },

    // the q264 signature replay cut at the pair surface: exact
    // quadratic hamming over the recomputed md5 signatures
    "q289_simhash_pairs_portable" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') END) AS w
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |    AS INTEGER) AS hamming
         |FROM sig a, sig b
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |""".stripMargin
    },

    // same checkpoints, exact integer growth points, identical
    // 10-summand log-log OLS closing
    "q290_heaps_law" ->
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN length(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0
        |      THEN []::VARCHAR[]
        |      ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END AS t
        |  FROM documents WHERE text IS NOT NULL
        |), pd AS (SELECT doc_id, len(t) AS tc FROM d WHERE len(t) > 0),
        |fd AS (
        |  SELECT w, min(doc_id) AS f
        |  FROM (SELECT doc_id, unnest(t) AS w FROM d) GROUP BY 1
        |), mx AS (
        |  SELECT max(doc_id) AS m FROM documents WHERE text IS NOT NULL
        |), ck AS (
        |  SELECT CAST(k AS INTEGER) AS checkpoint,
        |    (SELECT m FROM mx) * k // 10 AS c
        |  FROM generate_series(1, 10) g(k)
        |), nt AS (
        |  SELECT ck.checkpoint, CAST(sum(pd.tc) AS BIGINT) AS n_tokens
        |  FROM pd JOIN ck ON pd.doc_id <= ck.c GROUP BY 1
        |), vc AS (
        |  SELECT ck.checkpoint, count(*) AS vocab
        |  FROM fd JOIN ck ON fd.f <= ck.c GROUP BY 1
        |), pts AS (
        |  SELECT nt.checkpoint, n_tokens, vocab,
        |    ln(n_tokens::DOUBLE) AS x, ln(vocab::DOUBLE) AS y
        |  FROM nt JOIN vc USING (checkpoint)
        |), fit AS (
        |  SELECT count(*)::DOUBLE AS m, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM pts
        |)
        |SELECT p.checkpoint, p.n_tokens, p.vocab,
        |  CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
        |    THEN floor((f.m * f.sxy - f.sx * f.sy)
        |      / (f.m * f.sxx - f.sx * f.sx) * 1e4 + 0.5) / 1e4
        |    END AS heaps_beta
        |FROM pts p, fit f""".stripMargin,

    // the q231 exact quadratic Jaccard, counted at three thresholds
    // on the UNROUNDED integer-ratio value (identical bits both
    // engines, so the literal comparisons agree)
    "q291_dup_threshold_curve" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), j AS (
        |  SELECT len(list_intersect(a.s, b.s))::DOUBLE /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |)
        |SELECT
        |  CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs_ge_50,
        |  CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs_ge_70,
        |  CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs_ge_90
        |FROM j""".stripMargin,

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

    // distinct (source, token) postings, pair join on the token,
    // unrounded integer-ratio Jaccard
    "q298_vocab_overlap" ->
      """WITH v AS MATERIALIZED (
        |  SELECT DISTINCT source AS s, w FROM (
        |    SELECT source, unnest(CASE WHEN length(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0
        |        THEN []::VARCHAR[]
        |        ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END)
        |      AS w
        |    FROM documents
        |    WHERE source IS NOT NULL AND text IS NOT NULL)
        |), sz AS (SELECT s, count(*) AS n FROM v GROUP BY 1),
        |sh AS (
        |  SELECT a.s AS sa, b.s AS sb, count(*) AS c
        |  FROM v a JOIN v b USING (w) WHERE a.s < b.s GROUP BY 1, 2
        |)
        |SELECT sa AS source_a, sb AS source_b, c AS n_shared,
        |  za.n AS vocab_a, zb.n AS vocab_b,
        |  c::DOUBLE / (za.n + zb.n - c)::DOUBLE AS jaccard
        |FROM sh JOIN sz za ON za.s = sa JOIN sz zb ON zb.s = sb""".stripMargin,

    // full Kneser-Ney retrain + rescore: the same count tables
    // (bigram-position marginal c1b, continuation fan-outs), the
    // same D = 0.75 literal, the identical fixed-order expression
    "q299_kneser_ney_ppl" ->
      (knScoreCte + """
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(nll), 6) AS avg_nll, round(exp(avg(nll)), 4) AS ppl
        |FROM score GROUP BY doc_id""".stripMargin),

    // the q299 scorer rolled up to DOMAIN weights on integer lattices:
    // per-doc round-6 avg NLL lands on the e6 lattice (the floor(x·1e6
    // + 0.5) of an already-round-6 value is exact), per-source sums
    // and means are pure BIGINT arithmetic, excess is clamped at the
    // global mean, weights close as one truncating ppm division each
    "q315_mixture_reweight" ->
      (knScoreCte + """,
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS ne6
        |  FROM score GROUP BY 1
        |), src AS (
        |  SELECT doc_id, source FROM documents WHERE source IS NOT NULL
        |), ps AS (
        |  SELECT s.source, count(*) AS n_docs, sum(p.ne6) AS se
        |  FROM perdoc p JOIN src s USING (doc_id) GROUP BY 1
        |), g AS (SELECT sum(se) AS gs, sum(n_docs) AS gn FROM ps),
        |e AS (
        |  SELECT source, n_docs, se // n_docs AS mean_ne6,
        |    greatest(se // n_docs
        |      - (SELECT gs FROM g) // (SELECT gn FROM g), 0) AS ex6
        |  FROM ps
        |), te AS (SELECT sum(ex6) AS t FROM e)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(mean_ne6 AS BIGINT) AS mean_nll_e6,
        |  CAST((SELECT gs FROM g) // (SELECT gn FROM g) AS BIGINT)
        |    AS global_mean_nll_e6,
        |  CAST(ex6 AS BIGINT) AS excess_e6,
        |  CAST(CASE WHEN (SELECT t FROM te) > 0
        |       THEN ex6 * 1000000 // (SELECT t FROM te)
        |       ELSE 0 END AS BIGINT) AS weight_ppm
        |FROM e""".stripMargin),

    // same md5 8-gram digests (identical space-joined token windows),
    // same max(2, ceil-10%) threshold, integer-only rollup
    "q300_boilerplate_shingles" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(nt, ' ') AS t
        |  FROM d WHERE length(nt) > 0
        |), sh AS (
        |  SELECT source, doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM (SELECT source, doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |        FROM toks WHERE len(t) >= 8)
        |), perdoc AS MATERIALIZED (
        |  SELECT source, doc_id, h, count(*) AS occ FROM sh GROUP BY 1, 2, 3
        |), nd AS (
        |  SELECT source, count(*) AS n_docs FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL GROUP BY 1
        |), flag AS MATERIALIZED (
        |  SELECT f.source, f.h, f.occt,
        |    f.df >= greatest(2, (n.n_docs + 9) // 10) AS boiler
        |  FROM (SELECT source, h, count(*) AS df, sum(occ) AS occt
        |        FROM perdoc GROUP BY 1, 2) f
        |  JOIN nd n USING (source)
        |), agg AS (
        |  SELECT source, count(*) AS n_shingle_types,
        |    sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS n_boiler_types,
        |    sum(CASE WHEN boiler THEN occt ELSE 0 END) AS n_boiler_positions
        |  FROM flag GROUP BY 1
        |), aff AS (
        |  SELECT p.source, count(DISTINCT p.doc_id) AS n_docs_affected
        |  FROM perdoc p JOIN flag f
        |    ON f.source = p.source AND f.h = p.h AND f.boiler
        |  GROUP BY 1
        |)
        |SELECT n.source, n.n_docs,
        |  CAST(coalesce(a.n_shingle_types, 0) AS BIGINT) AS n_shingle_types,
        |  CAST(coalesce(a.n_boiler_types, 0) AS BIGINT) AS n_boiler_types,
        |  CAST(coalesce(a.n_boiler_positions, 0) AS BIGINT)
        |    AS n_boiler_positions,
        |  CAST(coalesce(af.n_docs_affected, 0) AS BIGINT) AS n_docs_affected
        |FROM nd n LEFT JOIN agg a USING (source)
        |LEFT JOIN aff af USING (source)""".stripMargin,

    // identical top-100 (count desc, token asc) cut and the identical
    // 100-summand log-log OLS closing at round 4
    "q301_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(nt, ' ')) AS w FROM (
        |    SELECT trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |    FROM documents)
        |  WHERE length(nt) > 0
        |), cnts AS (
        |  SELECT w AS token, count(*) AS cnt FROM toks GROUP BY 1
        |), top AS MATERIALIZED (
        |  SELECT token, cnt, CAST(rank AS INTEGER) AS rank FROM (
        |    SELECT token, cnt, row_number() OVER (
        |      ORDER BY cnt DESC, token ASC) AS rank
        |    FROM cnts) WHERE rank <= 100
        |), fit AS (
        |  SELECT count(*)::DOUBLE AS m,
        |    sum(ln(rank::DOUBLE)) AS sx, sum(ln(cnt::DOUBLE)) AS sy,
        |    sum(ln(rank::DOUBLE) * ln(cnt::DOUBLE)) AS sxy,
        |    sum(ln(rank::DOUBLE) * ln(rank::DOUBLE)) AS sxx
        |  FROM top
        |)
        |SELECT t.rank, t.token, t.cnt,
        |  floor((f.m * f.sxy - f.sx * f.sy)
        |    / (f.m * f.sxx - f.sx * f.sx) * 1e4 + 0.5) / 1e4 AS zipf_slope
        |FROM top t, fit f""".stripMargin,

    // q80-digest cross counts + the full md5-SimHash signature replay
    // (the q289 machinery) restricted to split-crossing pairs; md5
    // split twin of hashBucket
    "q305_split_leakage" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sp AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'),
         |      1, 8))::UBIGINT % 10 = 9 AS is_eval
         |  FROM documents WHERE text IS NOT NULL
         |), sizes AS (
         |  SELECT sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS n_train,
         |    sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS n_eval
         |  FROM sp
         |), ex AS (
         |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS k,
         |    sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS nt,
         |    sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS ne
         |  FROM sp GROUP BY 1
         |), exagg AS (
         |  SELECT CAST(coalesce(sum(nt * ne), 0) AS BIGINT)
         |      AS exact_cross_pairs,
         |    CAST(coalesce(sum(CASE WHEN nt > 0 THEN ne ELSE 0 END), 0)
         |      AS BIGINT) AS eval_docs_exact_leaked
         |  FROM ex
         |), toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
         |  FROM sp
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), np AS (
         |  SELECT CASE WHEN sa.is_eval THEN a.doc_id ELSE b.doc_id END
         |      AS eval_doc
         |  FROM sig a
         |  JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |  JOIN sp sa ON sa.doc_id = a.doc_id
         |  JOIN sp sb ON sb.doc_id = b.doc_id
         |  WHERE sa.is_eval <> sb.is_eval
         |), nagg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS near_cross_pairs,
         |    CAST(count(DISTINCT eval_doc) AS BIGINT)
         |      AS eval_docs_near_leaked
         |  FROM np
         |)
         |SELECT CAST(s.n_train AS BIGINT) AS n_train,
         |  CAST(s.n_eval AS BIGINT) AS n_eval,
         |  e.exact_cross_pairs, e.eval_docs_exact_leaked,
         |  n.near_cross_pairs, n.eval_docs_near_leaked
         |FROM sizes s, exagg e, nagg n""".stripMargin
    },

    // the q289 signature replay + the any-earlier dup rule: a doc is
    // novel iff no smaller-id doc sits within hamming 3 — batching is
    // invisible to the rule, so the oracle replays it globally
    "q307_incremental_simhash_novelty" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |)
         |SELECT s.doc_id,
         |  CAST(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS is_novel
         |FROM sig s LEFT JOIN dup d USING (doc_id)""".stripMargin
    },

    // q80 digest keep-first + trim-set token counts, integer-ppm
    // overhead closing
    "q308_dedup_token_budget" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS k,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |    END AS tc
         |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
         |), keep AS (
         |  SELECT k, min(doc_id) AS doc_id FROM d GROUP BY 1
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kp.k IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_unique_docs,
         |  CAST(sum(d.tc) AS BIGINT) AS raw_tokens,
         |  CAST(sum(CASE WHEN kp.k IS NOT NULL THEN d.tc ELSE 0 END)
         |    AS BIGINT) AS unique_tokens,
         |  CAST(CASE WHEN sum(d.tc) > 0 THEN
         |      ((sum(d.tc) - sum(CASE WHEN kp.k IS NOT NULL THEN d.tc
         |        ELSE 0 END)) * 1000000) // sum(d.tc)
         |    ELSE 0 END AS BIGINT) AS dup_overhead_ppm
         |FROM d LEFT JOIN keep kp ON kp.k = d.k AND kp.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin
    },

    // the q289 signature replay + the md5 split; quarantined = the
    // TRAIN side of any split-crossing hamming<=3 pair
    "q309_decontaminated_split" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sp AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'),
         |      1, 8))::UBIGINT % 10 = 9 AS is_eval
         |  FROM documents WHERE text IS NOT NULL
         |), toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
         |  FROM sp
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), xc AS (
         |  SELECT DISTINCT CASE WHEN sa.is_eval THEN b.doc_id
         |    ELSE a.doc_id END AS doc_id
         |  FROM sig a
         |  JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |  JOIN sp sa ON sa.doc_id = a.doc_id
         |  JOIN sp sb ON sb.doc_id = b.doc_id
         |  WHERE sa.is_eval <> sb.is_eval
         |)
         |SELECT sp.doc_id,
         |  CASE WHEN sp.is_eval THEN 'eval'
         |       WHEN c.doc_id IS NOT NULL THEN 'quarantined'
         |       ELSE 'train' END AS split
         |FROM sp LEFT JOIN xc c USING (doc_id)""".stripMargin
    },

    // the signature replay with the exact quadratic hamming at <=7,
    // split-crossing filter, integer histogram
    "q310_split_distance_histogram" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sp AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'),
         |      1, 8))::UBIGINT % 10 = 9 AS is_eval
         |  FROM documents WHERE text IS NOT NULL
         |), toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
         |  FROM sp
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), cp AS (
         |  SELECT CAST(bit_count(xor(a.lo, b.lo))
         |      + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming,
         |    CASE WHEN sa.is_eval THEN a.doc_id ELSE b.doc_id END
         |      AS eval_doc
         |  FROM sig a
         |  JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7
         |  JOIN sp sa ON sa.doc_id = a.doc_id
         |  JOIN sp sb ON sb.doc_id = b.doc_id
         |  WHERE sa.is_eval <> sb.is_eval
         |)
         |SELECT hamming, count(*) AS n_cross_pairs,
         |  CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs
         |FROM cp GROUP BY 1""".stripMargin
    },

    // independent replay keyed on span STRINGS (the engine keys on
    // prefix-doubled xxhash64 — same 64-bit birthday bound the q84
    // family documents): per window length, dup spans by >= 2 distinct
    // docs, position counts per source, the identical ppm division
    "q311_repeat_spectrum" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def block(w: Int): String =
        s"""lvl$w AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(len(t) - ${w - 1}) AS BIGINT) AS n_positions
           |  FROM toks WHERE len(t) >= $w GROUP BY 1
           |), spans$w AS (
           |  SELECT doc_id, source,
           |    unnest([array_to_string(t[i:i+${w - 1}], ' ')
           |            for i in range(1, len(t)-${w - 2})]) AS span
           |  FROM toks WHERE len(t) >= $w
           |), dups$w AS (
           |  SELECT span FROM spans$w GROUP BY span
           |  HAVING count(DISTINCT doc_id) >= 2
           |), dupc$w AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_dup
           |  FROM spans$w WHERE span IN (SELECT span FROM dups$w)
           |  GROUP BY 1
           |)""".stripMargin
      def closing(w: Int): String =
        s"""SELECT l.source, CAST($w AS INTEGER) AS window_tokens,
           |  l.n_docs, l.n_positions,
           |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_positions,
           |  CAST(COALESCE(d.n_dup, 0) * 1000000 // l.n_positions
           |    AS BIGINT) AS dup_ppm
           |FROM lvl$w l LEFT JOIN dupc$w d USING (source)""".stripMargin
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    regexp_split_to_array(lower(trim(text, $ws)), '\\s+') AS t
         |  FROM documents
         |  WHERE source IS NOT NULL AND text IS NOT NULL
         |),
         |${Seq(8, 16, 32, 64).map(block).mkString(",\n")}
         |${Seq(8, 16, 32, 64).map(closing).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // exact quadratic cosine against the raw threshold (the q51
    // recall-1.0 contract covers the banded engine path), languages
    // attached by join, the same least/greatest pair normalization
    // under binary string collation on both engines
    "q312_crosslingual_pairs" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 4) + 0 AS cos
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]) >= 0.45
        |), lang AS (
        |  SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL
        |), tagged AS (
        |  SELECT
        |    CASE WHEN la.lang <= lb.lang THEN la.lang ELSE lb.lang END
        |      AS lang_a,
        |    CASE WHEN la.lang <= lb.lang THEN lb.lang ELSE la.lang END
        |      AS lang_b,
        |    CASE WHEN la.lang <= lb.lang THEN p.id_a ELSE p.id_b END AS da,
        |    CASE WHEN la.lang <= lb.lang THEN p.id_b ELSE p.id_a END AS db,
        |    p.cos
        |  FROM pairs p
        |  JOIN lang la ON la.doc_id = p.id_a
        |  JOIN lang lb ON lb.doc_id = p.id_b
        |  WHERE la.lang <> lb.lang
        |)
        |SELECT lang_a, lang_b, count(*) AS n_pairs,
        |  CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
        |  CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b,
        |  max(cos) AS max_cos, min(cos) AS min_cos
        |FROM tagged GROUP BY 1, 2""".stripMargin,

    // span-STRING replay of the any-earlier rule: a doc's verdict is
    // the min first-owner over its 16-token spans — batching invisible
    // by construction, so the oracle needs no batch structure at all
    "q314_incremental_span_novelty" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(lower(trim(text, $ws)),
         |           '\\s+') END AS t
         |  FROM documents WHERE text IS NOT NULL
         |), spans AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+15], ' ')
         |            for i in range(1, len(t)-14)]) AS span
         |  FROM toks WHERE len(t) >= 16
         |), fo AS (
         |  SELECT span, min(doc_id) AS fo FROM spans GROUP BY 1
         |), v AS (
         |  SELECT s.doc_id, min(f.fo) AS mfo
         |  FROM spans s JOIN fo f USING (span) GROUP BY 1
         |)
         |SELECT t.doc_id,
         |  CAST(CASE WHEN v.mfo IS NULL OR v.mfo >= t.doc_id
         |       THEN 1 ELSE 0 END AS INTEGER) AS is_novel
         |FROM toks t LEFT JOIN v USING (doc_id)""".stripMargin
    },

    // span-STRING membership replay per level (the engine keys on
    // prefix-doubled xxhash64 — q84's birthday-bound note), eval spans
    // counted against the train span set, the identical max-window
    // CASE chain
    "q313_memorization_screen" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def spans(w: Int): String =
        s"""spans${w}e AS (
           |  SELECT doc_id,
           |    unnest([array_to_string(t[i:i+${w - 1}], ' ')
           |            for i in range(1, len(t)-${w - 2})]) AS span
           |  FROM toks WHERE is_eval AND len(t) >= $w
           |), spans${w}t AS (
           |  SELECT unnest([array_to_string(t[i:i+${w - 1}], ' ')
           |            for i in range(1, len(t)-${w - 2})]) AS span
           |  FROM toks WHERE NOT is_eval AND len(t) >= $w
           |), c$w AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup$w
           |  FROM spans${w}e WHERE span IN (SELECT span FROM spans${w}t)
           |  GROUP BY 1
           |)""".stripMargin
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, doc_id % 31 = 0 AS is_eval,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(lower(trim(text, $ws)),
         |           '\\s+') END AS t
         |  FROM documents WHERE text IS NOT NULL
         |),
         |${Seq(8, 16, 32, 64).map(spans).mkString(",\n")}
         |SELECT e.doc_id, CAST(len(e.t) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(c8.dup8, 0) AS BIGINT) AS dup8,
         |  CAST(COALESCE(c16.dup16, 0) AS BIGINT) AS dup16,
         |  CAST(COALESCE(c32.dup32, 0) AS BIGINT) AS dup32,
         |  CAST(COALESCE(c64.dup64, 0) AS BIGINT) AS dup64,
         |  CAST(CASE WHEN COALESCE(c64.dup64, 0) > 0 THEN 64
         |            WHEN COALESCE(c32.dup32, 0) > 0 THEN 32
         |            WHEN COALESCE(c16.dup16, 0) > 0 THEN 16
         |            WHEN COALESCE(c8.dup8, 0) > 0 THEN 8
         |            ELSE 0 END AS INTEGER) AS max_dup_window
         |FROM toks e
         |LEFT JOIN c8 USING (doc_id) LEFT JOIN c16 USING (doc_id)
         |LEFT JOIN c32 USING (doc_id) LEFT JOIN c64 USING (doc_id)
         |WHERE e.is_eval""".stripMargin
    },

    // exact quadratic pair enumeration at jac >= 0.25 (the engine's
    // prefix filter post-checks the same double comparison), the
    // identical squaring ladder — every multiply/subtract IEEE
    // correctly rounded, so the e9 lattice values match bit for bit
    "q316_lsh_band_planner" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      // (r, b, s^r column, q^b squaring count)
      val configs = Seq((2, 64, "s2", 6), (4, 32, "s4", 5),
        (8, 16, "s8", 4), (16, 8, "s16", 3))
      def sqs(e: String, k: Int): String =
        (1 to k).foldLeft(e)((a, _) => s"($a * $a)")
      val lats = configs.map { case (r, _, sc, lb) =>
        s"CAST(floor((1.0 - ${sqs(s"(1.0 - $sc)", lb)}) * 1000000000.0" +
          s" + 0.5) AS BIGINT) AS lat$r"
      }.mkString(",\n         |    ")
      val aggs = configs.map { case (r, _, _, _) =>
        s"""CAST(COALESCE(sum(CASE WHEN jac >= 0.5 THEN lat$r ELSE 0 END),
           |      0) AS BIGINT) AS cg$r,
           |    CAST(COALESCE(sum(CASE WHEN jac < 0.5 THEN lat$r ELSE 0 END),
           |      0) AS BIGINT) AS cb$r""".stripMargin
      }.mkString(",\n    ")
      val closings = configs.map { case (r, b, _, _) =>
        s"""SELECT CAST($r AS INTEGER) AS rows_per_band,
           |  CAST($b AS INTEGER) AS bands, nge AS n_pairs_ge50,
           |  cg$r AS exp_caught_ge50_e9, nband AS n_pairs_band,
           |  cb$r AS exp_caught_band_e9 FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents)
         |  WHERE len(toks) >= 3
         |), j AS MATERIALIZED (
         |  SELECT len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.25
         |), p1 AS (SELECT jac, (jac * jac) AS s2 FROM j),
         |p2 AS (SELECT *, (s2 * s2) AS s4 FROM p1),
         |p3 AS (SELECT *, (s4 * s4) AS s8 FROM p2),
         |p4 AS (SELECT *, (s8 * s8) AS s16 FROM p3),
         |lat AS (
         |  SELECT jac,
         |    $lats
         |  FROM p4
         |), agg AS (
         |  SELECT
         |    CAST(COALESCE(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS nge,
         |    CAST(COALESCE(sum(CASE WHEN jac < 0.5 THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS nband,
         |    $aggs
         |  FROM lat
         |)
         |$closings""".stripMargin
    },

    // naive global row_number replay of the two-level surrogate rank
    // (tc DESC, doc_id ASC ties), the same boustrophedon deal and
    // integer ppm closings
    "q317_token_balanced_shards" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |    END AS tc
         |  FROM documents WHERE text IS NOT NULL
         |), r AS (
         |  SELECT tc,
         |    row_number() OVER (ORDER BY tc DESC, doc_id ASC) - 1 AS i
         |  FROM d
         |), a AS (
         |  SELECT CAST(CASE WHEN (i // 8) % 2 = 0 THEN i % 8
         |              ELSE 7 - (i % 8) END AS INTEGER) AS shard,
         |    count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS total_tokens
         |  FROM r GROUP BY 1
         |), g AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS grand FROM a)
         |SELECT shard, n_docs, total_tokens,
         |  -- HUGEINT intermediate mirrors the engine's DECIMAL(38,0):
         |  -- the *1000000 scaling would overflow BIGINT past ~1.3e12
         |  -- corpus tokens (ADVICE r13)
         |  CAST(CAST(abs(total_tokens * 8 - grand) AS HUGEINT)
         |    * 1000000 // grand AS BIGINT) AS abs_dev_ppm,
         |  CAST(CASE WHEN total_tokens * 8 > grand THEN 1
         |            WHEN total_tokens * 8 < grand THEN -1
         |            ELSE 0 END AS INTEGER) AS over_mean
         |FROM a, g""".stripMargin
    },

    // the q98 salted-md5 rank replayed as a naive global row_number,
    // disjoint (2k, 2k+1) pairing, 4-gram set Jaccard per pair, the
    // same decile clamp and e6 lattice sum
    "q318_pair_diversity" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 4 THEN
         |      list_distinct([array_to_string(toks[i:i+3], ' ')
         |                     for i in range(1, len(toks)-2)])
         |    ELSE []::VARCHAR[] END AS s
         |  FROM (SELECT doc_id,
         |          CASE WHEN length(trim(text, $ws)) = 0
         |            THEN []::VARCHAR[]
         |            ELSE regexp_split_to_array(trim(text, $ws), '\\s+')
         |          END AS toks
         |        FROM documents WHERE text IS NOT NULL)
         |), pos AS (
         |  SELECT doc_id, s, row_number() OVER (
         |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |      || '|selfsim'), 1, 8))::UBIGINT ASC, doc_id ASC) - 1 AS i
         |  FROM sh
         |), pr AS (
         |  SELECT a.s AS sa, b.s AS sb
         |  FROM pos a JOIN pos b
         |    ON b.i = a.i + 1 AND a.i % 2 = 0
         |), jc AS (
         |  SELECT CASE WHEN len(sa) + len(sb)
         |        - len(list_intersect(sa, sb)) > 0 THEN
         |      len(list_intersect(sa, sb))::DOUBLE
         |        / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
         |    ELSE 0.0 END AS jac
         |  FROM pr
         |)
         |SELECT CAST(least(floor(jac * 10.0), 9.0) AS INTEGER)
         |    AS jac_decile,
         |  count(*) AS n_pairs,
         |  CAST(sum(CAST(floor(jac * 1000000.0 + 0.5) AS BIGINT))
         |    AS BIGINT) AS sum_jac_e6
         |FROM jc GROUP BY 1""".stripMargin
    },

    // bag fingerprint replayed as string_agg of token:count sorted
    // under the shared binary collation; sequence digest = md5 of the
    // space-joined token array; distinct counts per source
    "q319_bag_fingerprint_dedup" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH d AS MATERIALIZED (
         |  SELECT source, doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(lower(trim(text, $ws)),
         |           '\\s+') END AS t
         |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
         |), w AS (
         |  SELECT doc_id, unnest(t) AS w FROM d
         |), cnt AS (
         |  SELECT doc_id, w || ':' || CAST(count(*) AS VARCHAR) AS e
         |  FROM w GROUP BY doc_id, w
         |), bag AS (
         |  SELECT doc_id, md5(string_agg(e, ',' ORDER BY e)) AS bag_fp
         |  FROM cnt GROUP BY 1
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(count(DISTINCT md5(COALESCE(array_to_string(d.t, ' '), '')))
         |    AS BIGINT) AS n_seq_fp,
         |  CAST(count(DISTINCT COALESCE(b.bag_fp, md5('')))
         |    AS BIGINT) AS n_bag_fp,
         |  CAST(count(DISTINCT md5(COALESCE(array_to_string(d.t, ' '), '')))
         |    - count(DISTINCT COALESCE(b.bag_fp, md5('')))
         |    AS BIGINT) AS n_reorder_collapsed
         |FROM d LEFT JOIN bag b USING (doc_id)
         |GROUP BY 1""".stripMargin
    },

    // q91's removal replay with the df rule swapped to the per-source
    // boilerplate threshold (span STRINGS vs the engine's xxhash64 —
    // the q84 birthday-bound note)
    "q320_boilerplate_removal" ->
      s"""$boilerRemovalCte
         |SELECT t.doc_id, COALESCE(r.clean, '') AS clean_text,
         |  CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  CAST(len(t.t) - COALESCE(r.nk, 0) AS BIGINT)
         |    AS n_removed_tokens
         |FROM toks t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    // the full removal replay re-screened: the same rule over the
    // rebuilt text (thresholds unchanged — no document dropped),
    // before/after boilerplate type counts per source
    "q321_boilerplate_residual" ->
      s"""$boilerRemovalCte,
         |cleaned AS MATERIALIZED (
         |  SELECT t.doc_id, t.source, COALESCE(r.clean, '') AS clean,
         |    CAST(len(t.t) - COALESCE(r.nk, 0) AS BIGINT) AS removed
         |  FROM toks t LEFT JOIN rebuilt r USING (doc_id)
         |), ctoks AS (
         |  SELECT doc_id, source,
         |    CASE WHEN length(clean) = 0 THEN CAST([] AS VARCHAR[])
         |         ELSE regexp_split_to_array(lower(clean), ' ') END AS lt
         |  FROM cleaned
         |), spans2 AS (
         |  SELECT doc_id, source,
         |    unnest([array_to_string(lt[i:i+7], ' ')
         |            for i in range(1, len(lt)-6)]) AS span
         |  FROM ctoks WHERE len(lt) >= 8
         |), bdf2 AS (
         |  SELECT source, span, count(DISTINCT doc_id) AS df
         |  FROM spans2 GROUP BY 1, 2
         |), boiler2 AS (
         |  SELECT b.source, b.span FROM bdf2 b JOIN ndt USING (source)
         |  WHERE b.df >= greatest(2, (ndt.nd + 9) // 10)
         |), nb1 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n1
         |  FROM boiler GROUP BY 1
         |), nb2 AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n2
         |  FROM boiler2 GROUP BY 1
         |)
         |SELECT g.source, g.n_docs, g.n_removed_tokens,
         |  COALESCE(nb1.n1, 0) AS n_boiler_types_before,
         |  COALESCE(nb2.n2, 0) AS n_boiler_types_after
         |FROM (SELECT source, count(*) AS n_docs,
         |        CAST(sum(removed) AS BIGINT) AS n_removed_tokens
         |      FROM cleaned GROUP BY 1) g
         |LEFT JOIN nb1 USING (source)
         |LEFT JOIN nb2 USING (source)""".stripMargin,

    // the q315 rollup extended with the dropped-source mean — shared
    // KN retrain CTE, pure BIGINT closings, NULL-guarded single-source
    // degenerate
    "q322_loo_source_influence" ->
      (knScoreCte + """,
        |perdoc AS (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS ne6
        |  FROM score GROUP BY 1
        |), src AS (
        |  SELECT doc_id, source FROM documents WHERE source IS NOT NULL
        |), ps AS (
        |  SELECT s.source, count(*) AS n_docs, sum(p.ne6) AS se
        |  FROM perdoc p JOIN src s USING (doc_id) GROUP BY 1
        |), g AS (SELECT sum(se) AS gs, sum(n_docs) AS gn FROM ps)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(se // n_docs AS BIGINT) AS mean_nll_e6,
        |  CAST((SELECT gs FROM g) // (SELECT gn FROM g) AS BIGINT)
        |    AS global_mean_nll_e6,
        |  CAST(CASE WHEN (SELECT gn FROM g) > n_docs
        |       THEN ((SELECT gs FROM g) - se)
        |            // ((SELECT gn FROM g) - n_docs)
        |       END AS BIGINT) AS loo_mean_nll_e6,
        |  CAST(CASE WHEN (SELECT gn FROM g) > n_docs
        |       THEN ((SELECT gs FROM g) - se)
        |            // ((SELECT gn FROM g) - n_docs)
        |            - (SELECT gs FROM g) // (SELECT gn FROM g)
        |       END AS BIGINT) AS influence_e6
        |FROM ps""".stripMargin),

    // q317's row_number + snake-deal twin with the manifest digest:
    // doc ids sorted AS STRINGS under the shared binary collation
    "q323_shard_manifest" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |    END AS tc
         |  FROM documents WHERE text IS NOT NULL
         |), r AS (
         |  SELECT doc_id, tc,
         |    row_number() OVER (ORDER BY tc DESC, doc_id ASC) - 1 AS i
         |  FROM d
         |)
         |SELECT CAST(CASE WHEN (i // 8) % 2 = 0 THEN i % 8
         |            ELSE 7 - (i % 8) END AS INTEGER) AS shard,
         |  count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS total_tokens,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
         |    ORDER BY CAST(doc_id AS VARCHAR))) AS manifest_md5
         |FROM r GROUP BY 1""".stripMargin
    },

    // unrolled water-filling rounds (the kCore-unroll discipline):
    // each round's fair share, saturation, and budget return are
    // scalar-subquery CTEs; 24 rounds >= #sources, and a no-op round
    // is a fixed point so over-unrolling is safe; final fill = the
    // last round's fair share
    "q329_token_waterfill" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val rounds = 24
      val parts = Seq.newBuilder[String]
      for (j <- 0 until rounds) {
        parts += s"""f$j AS MATERIALIZED (
           |  SELECT CASE WHEN (SELECT count(*) FROM r$j
           |                    WHERE alloc IS NULL) > 0
           |    THEN (SELECT b FROM b$j)
           |      // (SELECT count(*) FROM r$j WHERE alloc IS NULL)
           |    ELSE 0 END AS fair)""".stripMargin
        parts += s"""r${j + 1} AS MATERIALIZED (
           |  SELECT source, avail,
           |    CASE WHEN alloc IS NULL
           |           AND avail <= (SELECT fair FROM f$j) THEN avail
           |         ELSE alloc END AS alloc
           |  FROM r$j)""".stripMargin
        parts += s"""b${j + 1} AS MATERIALIZED (
           |  SELECT (SELECT b FROM b$j) - COALESCE(
           |    (SELECT sum(avail) FROM r$j
           |     WHERE alloc IS NULL
           |       AND avail <= (SELECT fair FROM f$j)), 0) AS b)""".stripMargin
      }
      parts += s"""ff AS MATERIALIZED (
         |  SELECT CASE WHEN (SELECT count(*) FROM r$rounds
         |                    WHERE alloc IS NULL) > 0
         |    THEN (SELECT b FROM b$rounds)
         |      // (SELECT count(*) FROM r$rounds WHERE alloc IS NULL)
         |    ELSE 0 END AS fair)""".stripMargin
      s"""WITH d AS (
         |  SELECT source,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |    END AS tc
         |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
         |), avl AS MATERIALIZED (
         |  SELECT source, CAST(sum(tc) AS BIGINT) AS avail
         |  FROM d GROUP BY 1
         |), r0 AS (
         |  SELECT source, avail, CAST(NULL AS BIGINT) AS alloc FROM avl
         |), b0 AS (SELECT (SELECT sum(avail) FROM avl) // 5 AS b),
         |${parts.result().mkString(",\n")}
         |SELECT source, avail AS avail_tokens,
         |  CAST(COALESCE(alloc, (SELECT fair FROM ff)) AS BIGINT)
         |    AS alloc_tokens,
         |  CAST(CASE WHEN alloc IS NOT NULL THEN 1 ELSE 0 END
         |    AS INTEGER) AS saturated
         |FROM r$rounds""".stripMargin
    },

    // the q310 signature replay with the candidate flag: exact
    // quadratic hamming <= 3, the two rejection legs as DISTINCT
    // projections, the same CASE precedence
    "q328_eval_dedup_sample" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH fl AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|evalsamp'),
         |      1, 8))::UBIGINT % 7 = 0 AS cand
         |  FROM documents WHERE text IS NOT NULL
         |), toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END) AS w
         |  FROM fl
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), cp AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    fa.cand AS ca, fb.cand AS cb
         |  FROM sig a
         |  JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |  JOIN fl fa ON fa.doc_id = a.doc_id
         |  JOIN fl fb ON fb.doc_id = b.doc_id
         |), tn AS (
         |  SELECT DISTINCT CASE WHEN ca AND NOT cb THEN id_a
         |                       ELSE id_b END AS doc_id
         |  FROM cp WHERE (ca AND NOT cb) OR (cb AND NOT ca)
         |), de AS (
         |  SELECT DISTINCT id_b AS doc_id FROM cp WHERE ca AND cb
         |)
         |SELECT f.doc_id,
         |  CASE WHEN tn.doc_id IS NOT NULL THEN 'train_near'
         |       WHEN de.doc_id IS NOT NULL THEN 'dup_earlier'
         |       ELSE 'kept' END AS verdict
         |FROM fl f
         |LEFT JOIN tn ON tn.doc_id = f.doc_id
         |LEFT JOIN de ON de.doc_id = f.doc_id
         |WHERE f.cand""".stripMargin
    },

    // the shared KN CTE + q177's SBO replay (CTEs suffixed 2, text
    // otherwise verbatim — q177's green row re-proves it every
    // round), both per-doc losses on the e6 lattice, naive
    // row_number twins of the two ranks, integer decile confusion
    "q327_scorer_agreement" ->
      (knScoreCte + """,
        |norm2 AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks2 AS (
        |  SELECT doc_id, regexp_split_to_array(nt, ' ') AS t
        |  FROM norm2 WHERE length(nt) > 0
        |), uni2 AS (
        |  SELECT w, count(*)::DOUBLE AS c
        |  FROM (SELECT unnest(t) AS w FROM toks2) GROUP BY w
        |), nv2 AS (SELECT sum(c) AS n, count(*) AS v FROM uni2),
        |bi2 AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks2 WHERE len(t) >= 2)
        |), bic2 AS (
        |  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bi2 GROUP BY w1, w2
        |), tri2 AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |        FROM toks2 WHERE len(t) >= 3)
        |), tric2 AS (
        |  SELECT w1, w2, w3, count(*)::DOUBLE AS c123
        |  FROM tri2 GROUP BY w1, w2, w3
        |), score2 AS (
        |  SELECT g.doc_id,
        |    -ln(coalesce(tc.c123 / bc1.c12,
        |      0.4 * coalesce(bc2.c12 / u2.c,
        |        0.4 * (coalesce(u3.c, 0.0) + 1)
        |            / ((SELECT n FROM nv2) + (SELECT v FROM nv2))))) AS nls
        |  FROM tri2 g
        |  LEFT JOIN tric2 tc ON tc.w1 = g.w1 AND tc.w2 = g.w2 AND tc.w3 = g.w3
        |  LEFT JOIN bic2 bc1 ON bc1.w1 = g.w1 AND bc1.w2 = g.w2
        |  LEFT JOIN bic2 bc2 ON bc2.w1 = g.w2 AND bc2.w2 = g.w3
        |  LEFT JOIN uni2 u2 ON u2.w = g.w2
        |  LEFT JOIN uni2 u3 ON u3.w = g.w3
        |), ka AS (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS a
        |  FROM score GROUP BY 1
        |), kb AS (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nls), 6) * 1e6 + 0.5) AS BIGINT) AS b
        |  FROM score2 GROUP BY 1
        |), jj AS (SELECT ka.doc_id, a, b FROM ka JOIN kb USING (doc_id)),
        |nn AS (SELECT count(*) AS n FROM jj),
        |rr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY a ASC, doc_id ASC) AS ra,
        |    row_number() OVER (ORDER BY b ASC, doc_id ASC) AS rb
        |  FROM jj
        |)
        |SELECT
        |  CAST((ra - 1) * 10 // (SELECT n FROM nn) AS INTEGER) AS band_kn,
        |  CAST((rb - 1) * 10 // (SELECT n FROM nn) AS INTEGER) AS band_sbo,
        |  count(*) AS n_docs
        |FROM rr GROUP BY 1, 2""".stripMargin),

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
      s"""WITH norm AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g')) AS nt
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(nt, ' ')) AS term
         |  FROM norm WHERE length(nt) > 0
         |), dl AS (
         |  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
         |), st AS (
         |  SELECT count(*) AS n, sum(dl)*1.0/count(*) AS avgdl FROM dl
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tok
         |  WHERE term IN ('key', 'agg', 'row', 'scan', 'slow', 'fast',
         |    'table', 'value', 'part', 'hash') GROUP BY 1, 2
         |), dfc AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY 1
         |), scored AS (
         |  SELECT tf.doc_id,
         |    sum(ln(1 + ((SELECT n FROM st) - dfc.df + 0.5) / (dfc.df + 0.5))
         |      * (tf.tf * (1.2::DOUBLE + 1))
         |      / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE
         |          + 0.75::DOUBLE * dl.dl / (SELECT avgdl FROM st)))) AS s
         |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)
         |  GROUP BY 1
         |), bmr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= 10
         |), sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') toks FROM documents)
         |  WHERE len(toks) >= 3
         |), q AS (
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

    // naive row_number twins of both two-level ranks: loss rank ->
    // quintile, then (band, salted hash, id) order; same e6 lattice
    "q325_curriculum_order" ->
      (knScoreCte + """,
        |perdoc AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS ne6
        |  FROM score GROUP BY 1
        |), nn AS (SELECT count(*) AS n FROM perdoc),
        |r1 AS (
        |  SELECT doc_id, ne6,
        |    row_number() OVER (ORDER BY ne6 ASC, doc_id ASC) AS r
        |  FROM perdoc
        |), b AS (
        |  SELECT doc_id, ne6,
        |    CAST((r - 1) * 5 // (SELECT n FROM nn) AS INTEGER) AS band
        |  FROM r1
        |), p AS (
        |  SELECT doc_id, ne6, band,
        |    row_number() OVER (ORDER BY band ASC,
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|curr'),
        |        1, 8))::UBIGINT ASC, doc_id ASC) AS pos
        |  FROM b
        |)
        |SELECT band, count(*) AS n_docs,
        |  CAST(min(pos) AS BIGINT) AS min_pos,
        |  CAST(max(pos) AS BIGINT) AS max_pos,
        |  CAST(sum(ne6) // count(*) AS BIGINT) AS mean_nll_e6
        |FROM p GROUP BY 1""".stripMargin),

    // the shared KN CTE + q315's rollup replay + q325's two
    // row_number twins PARTITIONED BY source; the engine's
    // band·2^33 + u32-hash composite key is order-isomorphic to the
    // (band, hash, doc_id) sort here
    "q335_source_curriculum" ->
      (knScoreCte + """,
        |perdoc AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS ne6
        |  FROM score GROUP BY 1
        |), src AS (
        |  SELECT doc_id, source FROM documents WHERE source IS NOT NULL
        |), pd AS MATERIALIZED (
        |  SELECT p.doc_id, p.ne6, s.source
        |  FROM perdoc p JOIN src s USING (doc_id)
        |), ps AS (
        |  SELECT source, count(*) AS n, sum(ne6) AS se FROM pd GROUP BY 1
        |), g AS (SELECT sum(se) AS gs, sum(n) AS gn FROM ps),
        |e AS (
        |  SELECT source, n, greatest(se // n
        |    - (SELECT gs FROM g) // (SELECT gn FROM g), 0) AS ex6
        |  FROM ps
        |), te AS (SELECT sum(ex6) AS t FROM e),
        |w AS (
        |  SELECT source, n,
        |    CASE WHEN (SELECT t FROM te) > 0
        |         THEN ex6 * 1000000 // (SELECT t FROM te)
        |         ELSE 0 END AS wppm
        |  FROM e
        |), r1 AS (
        |  SELECT source, doc_id, ne6,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ne6 ASC, doc_id ASC) AS r
        |  FROM pd
        |), b AS (
        |  SELECT r1.source, doc_id, ne6,
        |    CAST((r - 1) * 5 // w.n AS INTEGER) AS band, w.wppm
        |  FROM r1 JOIN w USING (source)
        |), p AS (
        |  SELECT source, doc_id, ne6, band, wppm,
        |    row_number() OVER (PARTITION BY source ORDER BY band ASC,
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|scur'),
        |        1, 8))::UBIGINT ASC, doc_id ASC) AS pos
        |  FROM b
        |)
        |SELECT source, band, count(*) AS n_docs,
        |  CAST(min(pos) AS BIGINT) AS min_pos,
        |  CAST(max(pos) AS BIGINT) AS max_pos,
        |  CAST(sum(ne6) // count(*) AS BIGINT) AS mean_nll_e6,
        |  CAST(max(wppm) AS BIGINT) AS weight_ppm
        |FROM p GROUP BY 1, 2""".stripMargin),

    // the sketch replayed end to end: the same one-md5-per-shingle
    // (h1, h2) split, the same h1 + p*h2 int64 perms, band keys as
    // md5 of the p-ordered comma-joined mins, candidate self-join,
    // q316's squaring ladder for the expectation
    "q324_lsh_backtest" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def cfg(r: Int, b: Int, srCol: String, lb: Int): String = {
        def sqs(e: String, k: Int): String =
          (1 to k).foldLeft(e)((a, _) => s"($a * $a)")
        val pExpr = s"(1.0 - ${sqs(s"(1.0 - $srCol)", lb)})"
        s"""bk$r AS (
           |  SELECT doc_id, p // $r AS b,
           |    md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS k
           |  FROM mh GROUP BY doc_id, p // $r
           |), cand$r AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk$r a JOIN bk$r b
           |    ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
           |), agg$r AS (
           |  SELECT
           |    CAST(count(*) AS BIGINT) AS n_pairs_ge50,
           |    CAST(COALESCE(sum(CAST(floor($pExpr * 1000000000.0 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS exp_caught_ge50_e9,
           |    CAST(COALESCE(sum(CASE WHEN c.id_a IS NOT NULL
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS actual_caught_ge50,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$r)
           |      AS n_band_candidates
           |  FROM lad j LEFT JOIN cand$r c USING (id_a, id_b)
           |  WHERE j.jac >= 0.5
           |)""".stripMargin
      }
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents)
         |  WHERE len(toks) >= 3
         |), j AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.25
         |), l1 AS (SELECT *, (jac * jac) AS s2 FROM j),
         |l2 AS (SELECT *, (s2 * s2) AS s4 FROM l1),
         |l3 AS (SELECT *, (s4 * s4) AS s8 FROM l2),
         |lad AS (SELECT *, (s8 * s8) AS s16 FROM l3),
         |hs AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(g), 16, 13))::UBIGINT::BIGINT AS h2
         |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) t
         |), mh AS MATERIALIZED (
         |  SELECT doc_id, p, min(h1 + p * h2) AS mh
         |  FROM hs, (SELECT unnest(range(0, 128)) AS p) pp
         |  GROUP BY 1, 2
         |),
         |${cfg(8, 16, "s8", 4)},
         |${cfg(16, 8, "s16", 3)}
         |SELECT CAST(8 AS INTEGER) AS rows_per_band,
         |  CAST(16 AS INTEGER) AS bands, n_pairs_ge50,
         |  exp_caught_ge50_e9, actual_caught_ge50, n_band_candidates
         |FROM agg8
         |UNION ALL
         |SELECT CAST(16 AS INTEGER), CAST(8 AS INTEGER), n_pairs_ge50,
         |  exp_caught_ge50_e9, actual_caught_ge50, n_band_candidates
         |FROM agg16""".stripMargin
    },

    // q324's oracle restricted to the same 1-in-2 salted doc sample
    // (the md5-u32 parity filter in the sh CTE); everything else —
    // sketch, bands, candidates, ladder — replays verbatim
    "q336_lsh_backtest_sampled" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def cfg(r: Int, b: Int, srCol: String, lb: Int): String = {
        def sqs(e: String, k: Int): String =
          (1 to k).foldLeft(e)((a, _) => s"($a * $a)")
        val pExpr = s"(1.0 - ${sqs(s"(1.0 - $srCol)", lb)})"
        s"""bk$r AS (
           |  SELECT doc_id, p // $r AS b,
           |    md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS k
           |  FROM mh GROUP BY doc_id, p // $r
           |), cand$r AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bk$r a JOIN bk$r b
           |    ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
           |), agg$r AS (
           |  SELECT
           |    CAST(count(*) AS BIGINT) AS n_pairs_ge50,
           |    CAST(COALESCE(sum(CAST(floor($pExpr * 1000000000.0 + 0.5)
           |      AS BIGINT)), 0) AS BIGINT) AS exp_caught_ge50_e9,
           |    CAST(COALESCE(sum(CASE WHEN c.id_a IS NOT NULL
           |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS actual_caught_ge50,
           |    (SELECT CAST(count(*) AS BIGINT) FROM cand$r)
           |      AS n_band_candidates
           |  FROM lad j LEFT JOIN cand$r c USING (id_a, id_b)
           |  WHERE j.jac >= 0.5
           |)""".stripMargin
      }
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents
         |        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
         |          || '|bts'), 1, 8))::UBIGINT % 2 = 0)
         |  WHERE len(toks) >= 3
         |), j AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s))::DOUBLE /
         |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.25
         |), l1 AS (SELECT *, (jac * jac) AS s2 FROM j),
         |l2 AS (SELECT *, (s2 * s2) AS s4 FROM l1),
         |l3 AS (SELECT *, (s4 * s4) AS s8 FROM l2),
         |lad AS (SELECT *, (s8 * s8) AS s16 FROM l3),
         |hs AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(g), 16, 13))::UBIGINT::BIGINT AS h2
         |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) t
         |), mh AS MATERIALIZED (
         |  SELECT doc_id, p, min(h1 + p * h2) AS mh
         |  FROM hs, (SELECT unnest(range(0, 128)) AS p) pp
         |  GROUP BY 1, 2
         |),
         |${cfg(8, 16, "s8", 4)},
         |${cfg(16, 8, "s16", 3)}
         |SELECT CAST(8 AS INTEGER) AS rows_per_band,
         |  CAST(16 AS INTEGER) AS bands, n_pairs_ge50,
         |  exp_caught_ge50_e9, actual_caught_ge50, n_band_candidates
         |FROM agg8
         |UNION ALL
         |SELECT CAST(16 AS INTEGER), CAST(8 AS INTEGER), n_pairs_ge50,
         |  exp_caught_ge50_e9, actual_caught_ge50, n_band_candidates
         |FROM agg16""".stripMargin
    },

    // the q324 sketch + (2,64) band keys replayed verbatim, candidate
    // similarity estimated as matching-perm fraction (mt/128.0 is a
    // dyadic rational — exact division on both engines), then q316's
    // squaring-ladder planner arithmetic over the ESTIMATES
    "q330_sketch_band_planner" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def sqs(e: String, k: Int): String =
        (1 to k).foldLeft(e)((a, _) => s"($a * $a)")
      def latExpr(srCol: String, lb: Int): String =
        s"CAST(floor((1.0 - ${sqs(s"(1.0 - $srCol)", lb)}) " +
          "* 1000000000.0 + 0.5) AS BIGINT)"
      val cfgs = Seq((2, "s2", 6), (4, "s4", 5), (8, "s8", 4),
        (16, "s16", 3))
      val aggCols = cfgs.map { case (r, sr, lb) =>
        s"""CAST(COALESCE(sum(CASE WHEN mt >= 64
           |      THEN ${latExpr(sr, lb)} ELSE 0 END), 0) AS BIGINT)
           |      AS cg$r,
           |    CAST(COALESCE(sum(CASE WHEN mt >= 32 AND mt < 64
           |      THEN ${latExpr(sr, lb)} ELSE 0 END), 0) AS BIGINT)
           |      AS cb$r""".stripMargin
      }.mkString(",\n    ")
      val selects = cfgs.zip(Seq(64, 32, 16, 8)).map { case ((r, _, _), b) =>
        s"""SELECT CAST($r AS INTEGER) AS rows_per_band,
           |  CAST($b AS INTEGER) AS bands, nge AS n_est_ge50,
           |  cg$r AS exp_caught_ge50_e9, nband AS n_est_band,
           |  cb$r AS exp_caught_band_e9, nlow AS n_cand_low FROM agg"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents)
         |  WHERE len(toks) >= 3
         |), hs AS MATERIALIZED (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(g), 1, 15))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(g), 16, 13))::UBIGINT::BIGINT AS h2
         |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) t
         |), mh AS MATERIALIZED (
         |  SELECT doc_id, p, min(h1 + p * h2) AS mh
         |  FROM hs, (SELECT unnest(range(0, 128)) AS p) pp
         |  GROUP BY 1, 2
         |), bk AS (
         |  SELECT doc_id, p // 2 AS b,
         |    md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS k
         |  FROM mh GROUP BY doc_id, p // 2
         |), cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
         |), m AS MATERIALIZED (
         |  SELECT c.id_a, c.id_b,
         |    CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS mt
         |  FROM cand c
         |  JOIN mh x ON x.doc_id = c.id_a
         |  JOIN mh y ON y.doc_id = c.id_b AND y.p = x.p
         |  GROUP BY 1, 2
         |), e0 AS (SELECT mt, mt / 128.0 AS ej FROM m),
         |l1 AS (SELECT *, (ej * ej) AS s2 FROM e0),
         |l2 AS (SELECT *, (s2 * s2) AS s4 FROM l1),
         |l3 AS (SELECT *, (s4 * s4) AS s8 FROM l2),
         |lad AS (SELECT *, (s8 * s8) AS s16 FROM l3),
         |agg AS (
         |  SELECT
         |    CAST(COALESCE(sum(CASE WHEN mt >= 64 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS nge,
         |    CAST(COALESCE(sum(CASE WHEN mt >= 32 AND mt < 64
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS nband,
         |    CAST(COALESCE(sum(CASE WHEN mt < 32 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS nlow,
         |    $aggCols
         |  FROM lad
         |)
         |$selects""".stripMargin
    },

    // the same six ASCII-class regexp passes, md5 shape digest, and
    // keep-first accounting (arg_min = the engine's min-struct trick)
    "q331_template_clusters" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH s AS (
         |  SELECT doc_id, source,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws),
         |           '\\s+'))
         |    END AS tc,
         |    md5(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(text,
         |      '[0-9]', '9', 'g'), '[a-z]', 'x', 'g'),
         |      '[A-Z]', 'X', 'g'), 'x+', 'x', 'g'), 'X+', 'X', 'g'),
         |      '9+', '9', 'g')) AS tpl
         |  FROM documents WHERE text IS NOT NULL
         |)
         |SELECT tpl AS template_md5, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  min(doc_id) AS keeper_doc_id,
         |  CAST(sum(tc) AS BIGINT) AS total_tokens,
         |  CAST(sum(tc) - arg_min(tc, doc_id) AS BIGINT) AS dup_tokens
         |FROM s GROUP BY tpl HAVING count(*) >= 2""".stripMargin
    },

    // the naive row_number/running-sum twin of the two-level cumsum,
    // the same md5-derived patch counts, range()-exploded pack spans,
    // and identical overlap/straddle arithmetic
    "q332_interleaved_pack_budget" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      def hx(salt: String): String =
        s"(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|$salt'), " +
          "1, 2))::UBIGINT % 8 + 1)"
      s"""WITH it AS (
         |  SELECT doc_id,
         |    CASE WHEN text IS NULL THEN 0
         |         WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws),
         |           '\\s+'))
         |    END AS tt,
         |    CASE WHEN doc_id % 5 = 0
         |         THEN CAST(${hx("imw")} * ${hx("imh")} AS BIGINT)
         |         ELSE 0 END AS ip
         |  FROM documents
         |), cum AS (
         |  SELECT doc_id, tt, ip, tt + ip AS cost,
         |    CAST(COALESCE(SUM(tt + ip) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS s
         |  FROM it WHERE tt + ip > 0
         |), sp AS (
         |  SELECT doc_id, tt, ip, cost, s,
         |    unnest(range(s // 512, (s + cost - 1) // 512 + 1))
         |      AS pack_id
         |  FROM cum
         |), o AS (
         |  SELECT pack_id,
         |    greatest(0, least(s + ip, (pack_id + 1) * 512)
         |      - greatest(s, pack_id * 512)) AS img_in,
         |    greatest(0, least(s + cost, (pack_id + 1) * 512)
         |      - greatest(s + ip, pack_id * 512)) AS txt_in,
         |    CASE WHEN ip > 0 AND s < pack_id * 512
         |              AND s + ip > pack_id * 512
         |         THEN 1 ELSE 0 END AS spl
         |  FROM sp
         |)
         |SELECT CAST(pack_id AS BIGINT) AS pack_id,
         |  count(*) AS n_docs,
         |  CAST(sum(txt_in) AS BIGINT) AS text_tokens,
         |  CAST(sum(img_in) AS BIGINT) AS image_patches,
         |  CAST(sum(spl) AS BIGINT) AS n_split_images
         |FROM o GROUP BY 1""".stripMargin
    },

    // q331's shape digest + the order-free min-owner rule: batching
    // is invisible by construction, so the oracle is one global
    // min-per-digest join
    "q339_incremental_template_novelty" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(text,
        |      '[0-9]', '9', 'g'), '[a-z]', 'x', 'g'),
        |      '[A-Z]', 'X', 'g'), 'x+', 'x', 'g'), 'X+', 'X', 'g'),
        |      '9+', '9', 'g')) AS h
        |  FROM documents WHERE text IS NOT NULL
        |), fo AS (SELECT h, min(doc_id) AS f FROM s GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(CASE WHEN fo.f >= s.doc_id THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_novel
        |FROM s JOIN fo USING (h)""".stripMargin,

    // the next-fit walk replayed as a RECURSIVE CTE: one iteration
    // per doc rank, all shards advance in parallel rows; the same
    // fill/close rule, per-(shard, pack) rollup
    "q341_atomic_next_fit_pack" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH RECURSIVE items AS (
         |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id,
         |    CAST(len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |      AS BIGINT) AS cost
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text, $ws)) > 0
         |), it AS (
         |  SELECT shard, doc_id, cost,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id)
         |      AS rn
         |  FROM items
         |), walk AS (
         |  SELECT shard, rn, cost, cost AS fill, CAST(0 AS BIGINT)
         |    AS pack
         |  FROM it WHERE rn = 1
         |  UNION ALL
         |  SELECT i.shard, i.rn, i.cost,
         |    CASE WHEN w.fill + i.cost > 512 THEN i.cost
         |         ELSE w.fill + i.cost END,
         |    CASE WHEN w.fill + i.cost > 512 THEN w.pack + 1
         |         ELSE w.pack END
         |  FROM walk w JOIN it i
         |    ON i.shard = w.shard AND i.rn = w.rn + 1
         |)
         |SELECT shard, pack AS pack_idx,
         |  count(*) AS n_docs,
         |  CAST(sum(cost) AS BIGINT) AS used_tokens,
         |  CAST(sum(CASE WHEN cost > 512 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oversize
         |FROM walk GROUP BY 1, 2""".stripMargin
    },

    // q331's shape digest + q340's source-partitioned ECDF walk on
    // per-doc cluster sizes within each (source, snapshot)
    "q342_source_template_drift_ks" -> {
      s"""WITH s AS (
         |  SELECT doc_id, source, doc_id % 2 AS par,
         |    md5(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(text,
         |      '[0-9]', '9', 'g'), '[a-z]', 'x', 'g'),
         |      '[A-Z]', 'X', 'g'), 'x+', 'x', 'g'), 'X+', 'X', 'g'),
         |      '9+', '9', 'g')) AS tpl
         |  FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL
         |), cs AS (
         |  SELECT source, par, tpl, CAST(count(*) AS BIGINT) AS v
         |  FROM s GROUP BY 1, 2, 3
         |), vals AS (
         |  SELECT s.source, s.par, cs.v
         |  FROM s JOIN cs ON s.source = cs.source AND s.par = cs.par
         |    AND s.tpl = cs.tpl
         |), hist AS (
         |  SELECT source, v,
         |    CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ca,
         |    CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cb
         |  FROM vals GROUP BY 1, 2
         |), cum AS (
         |  SELECT source, v,
         |    CAST(SUM(ca) OVER (PARTITION BY source ORDER BY v)
         |      AS BIGINT) AS cuma,
         |    CAST(SUM(cb) OVER (PARTITION BY source ORDER BY v)
         |      AS BIGINT) AS cumb
         |  FROM hist
         |), t AS (
         |  SELECT source, CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb
         |  FROM hist GROUP BY 1
         |)
         |SELECT cum.source, na AS n_a, nb AS n_b,
         |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
         |  CASE WHEN na > 0 AND nb > 0
         |       THEN CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
         |         / CAST(na * nb AS DOUBLE)
         |  END AS ks_d
         |FROM cum JOIN t USING (source)
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // the BFD walk replayed as a RECURSIVE CTE: state per shard is
    // the parallel (fills, n_docs) lists in pack-creation order; the
    // best-fit rule is list_max over the comprehension of fills that
    // still fit, list_position resolving ties to the lowest index —
    // exactly the engine's TreeMap floorEntry + lowest-pack-idx rule
    "q343_best_fit_decreasing_pack" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      // the best fitting fill for doc cost i.cost given state w.fills
      val best = "list_max([f for f in w.fills if f + i.cost <= 512])"
      val pos  = s"list_position(w.fills, $best)"
      s"""WITH RECURSIVE items AS (
         |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id,
         |    CAST(len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |      AS BIGINT) AS cost
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text, $ws)) > 0
         |), it AS (
         |  SELECT shard, doc_id, cost,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY cost DESC, doc_id ASC) AS rn
         |  FROM items
         |), walk AS (
         |  SELECT shard, rn, [cost] AS fills,
         |    [CAST(1 AS BIGINT)] AS nd
         |  FROM it WHERE rn = 1
         |  UNION ALL
         |  SELECT i.shard, i.rn,
         |    CASE WHEN $best IS NULL THEN w.fills || [i.cost]
         |         ELSE w.fills[1:$pos-1] || [w.fills[$pos] + i.cost]
         |           || w.fills[$pos+1:len(w.fills)] END,
         |    CASE WHEN $best IS NULL THEN w.nd || [CAST(1 AS BIGINT)]
         |         ELSE w.nd[1:$pos-1] || [w.nd[$pos] + 1]
         |           || w.nd[$pos+1:len(w.nd)] END
         |  FROM walk w JOIN it i
         |    ON i.shard = w.shard AND i.rn = w.rn + 1
         |), fin AS (
         |  SELECT w.shard, w.fills, w.nd
         |  FROM walk w
         |  JOIN (SELECT shard, max(rn) AS mr FROM walk GROUP BY 1) m
         |    ON w.shard = m.shard AND w.rn = m.mr
         |), packs AS (
         |  SELECT shard,
         |    CAST(unnest(range(len(fills))) AS BIGINT) AS pack_idx,
         |    CAST(unnest(nd) AS BIGINT) AS n_docs,
         |    CAST(unnest(fills) AS BIGINT) AS used_tokens
         |  FROM fin
         |)
         |SELECT shard, pack_idx, n_docs, used_tokens,
         |  CAST(CASE WHEN used_tokens > 512 THEN 1 ELSE 0 END
         |    AS BIGINT) AS n_oversize,
         |  CAST(CASE WHEN used_tokens > 512 THEN 0
         |       ELSE 512 - used_tokens END AS BIGINT) AS waste_tokens
         |FROM packs""".stripMargin
    },

    // fp32 truth replayed on the q29 round-4 cosine key with id
    // ties; the int8 shortlist rank via the q306 scalar int8 replay
    // and (distance, id)-tied row_number; oversamples from VALUES —
    // recall closes as the truncating ppm BIGINT
    "q349_int8_oversample_recall" ->
      """WITH fp AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 4) AS s
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 32 AND a.vec_id <> b.vec_id
        |), truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY s DESC, neighbor_id ASC)
        |      AS rn
        |    FROM fp) WHERE rn <= 10
        |), el AS (
        |  SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(d)
        |), sc AS (
        |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY 1
        |), qv AS (
        |  SELECT el.vec_id, el.dim,
        |    CASE WHEN sc.scale = 0 THEN 0
        |         ELSE CAST(floor(x / sc.scale * 127.0 + 0.5) AS BIGINT)
        |    END AS q
        |  FROM el JOIN sc USING (vec_id)
        |), pd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    sum((q.q - c.q) * (q.q - c.q)) AS d
        |  FROM qv q JOIN qv c ON q.dim = c.dim
        |  WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2
        |), short AS (
        |  SELECT query_id, neighbor_id, r8 FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY d, neighbor_id) AS r8
        |    FROM pd) WHERE r8 <= 40
        |)
        |SELECT CAST(m.m AS INTEGER) AS oversample,
        |  CAST(m.m * 10 AS BIGINT) AS shortlist_k,
        |  CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN s.r8 IS NOT NULL AND s.r8 <= m.m * 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
        |  CAST(sum(CASE WHEN s.r8 IS NOT NULL AND s.r8 <= m.m * 10
        |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |    AS recall_ppm
        |FROM truth t
        |LEFT JOIN short s USING (query_id, neighbor_id)
        |CROSS JOIN (VALUES (1), (2), (4)) m(m)
        |GROUP BY 1, 2""".stripMargin,

    // q340's token-count snapshots, reference-decile order-statistic
    // bands (10·cum ≥ i·n — the integer ceiling form), Laplace dense
    // shares, e6-lattice BIGINT closing
    "q350_source_length_psi" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sc AS (
         |  SELECT source AS g, doc_id,
         |    CAST(CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws),
         |           '\\s+'))
         |    END AS BIGINT) AS v
         |  FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL
         |), ha AS (
         |  SELECT g, v, count(*) AS c FROM sc
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|psi'),
         |    1, 8))::UBIGINT % 2 = 0
         |  GROUP BY 1, 2
         |), hb AS (
         |  SELECT g, v, count(*) AS c FROM sc
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|psi'),
         |    1, 8))::UBIGINT % 2 = 1
         |  GROUP BY 1, 2
         |), ta AS (SELECT g, sum(c) AS n FROM ha GROUP BY 1
         |), tb AS (SELECT g, sum(c) AS n FROM hb GROUP BY 1
         |), cm AS (
         |  SELECT g, v,
         |    sum(c) OVER (PARTITION BY g ORDER BY v) AS cum
         |  FROM ha
         |), edges AS (
         |  SELECT cm.g, i.i, min(cm.v) AS e
         |  FROM cm JOIN ta USING (g)
         |  CROSS JOIN (SELECT unnest(range(1, 10)) AS i) i
         |  WHERE cm.cum * 10 >= i.i * ta.n
         |  GROUP BY 1, 2
         |), ba AS (
         |  SELECT g, bin, sum(c) AS c FROM (
         |    SELECT h.g, h.v, min(h.c) AS c,
         |      sum(CASE WHEN h.v > e.e THEN 1 ELSE 0 END) AS bin
         |    FROM ha h JOIN edges e USING (g) GROUP BY h.g, h.v)
         |  GROUP BY 1, 2
         |), bb AS (
         |  SELECT g, bin, sum(c) AS c FROM (
         |    SELECT h.g, h.v, min(h.c) AS c,
         |      sum(CASE WHEN h.v > e.e THEN 1 ELSE 0 END) AS bin
         |    FROM hb h JOIN edges e USING (g) GROUP BY h.g, h.v)
         |  GROUP BY 1, 2
         |), counts AS (
         |  SELECT g, bin, c, 'ref' AS side FROM ba
         |  UNION ALL SELECT g, bin, c, 'cur' FROM bb
         |), tot AS (
         |  SELECT g, n, 'ref' AS side FROM ta
         |  UNION ALL SELECT g, n, 'cur' FROM tb
         |), grid AS (
         |  SELECT g, s.side, b.bin
         |  FROM (SELECT DISTINCT g FROM edges)
         |  CROSS JOIN (SELECT unnest(['ref', 'cur']) AS side) s
         |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
         |), shares AS (
         |  SELECT gr.g, gr.side, gr.bin,
         |    CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
         |      / CAST(t.n + 10 AS DOUBLE) AS p
         |  FROM grid gr
         |  JOIN tot t ON t.g = gr.g AND t.side = gr.side
         |  LEFT JOIN counts c
         |    ON c.g = gr.g AND c.side = gr.side AND c.bin = gr.bin
         |), wide AS (
         |  SELECT g, bin,
         |    max(CASE WHEN side = 'ref' THEN p END) AS pr,
         |    max(CASE WHEN side = 'cur' THEN p END) AS pc
         |  FROM shares GROUP BY 1, 2
         |)
         |SELECT w.g AS source,
         |  CAST(ta.n AS BIGINT) AS n_ref, CAST(tb.n AS BIGINT) AS n_cur,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(floor(sum((pc - pr) * ln(pc / pr)) * 1e6 + 0.5)
         |    AS BIGINT) AS psi_e6
         |FROM wide w
         |JOIN ta ON ta.g = w.g JOIN tb ON tb.g = w.g
         |WHERE pr IS NOT NULL AND pc IS NOT NULL
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // each family's global any-earlier verdict replayed (q308's
    // normalize digest, q307's signature machinery, q314's span
    // strings, q339's layout shape, q345's pair-key chunker), batch
    // assigned by the shared id cut, counts + truncating admit ppm
    // per (family, batch)
    "q351_admission_funnel" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      s"""WITH mx AS (
         |  SELECT max(doc_id) AS m FROM documents WHERE text IS NOT NULL
         |), bd AS (
         |  SELECT doc_id, CASE WHEN doc_id <= (SELECT m FROM mx) // 3 THEN 0
         |    WHEN doc_id <= 2 * (SELECT m FROM mx) // 3 THEN 1
         |    ELSE 2 END AS batch
         |  FROM documents
         |), dg AS (
         |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
         |    lower(text), '[^\\p{L}\\p{N}\\s]', '', 'g'),
         |    '\\s+', ' ', 'g'))) AS h
         |  FROM documents WHERE text IS NOT NULL
         |), dg_fo AS (SELECT h, min(doc_id) AS f FROM dg GROUP BY 1
         |), dgv AS (
         |  SELECT s.doc_id, fo.f >= s.doc_id AS nv
         |  FROM dg s JOIN dg_fo fo USING (h)
         |), tpl AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(text,
         |      '[0-9]', '9', 'g'), '[a-z]', 'x', 'g'),
         |      '[A-Z]', 'X', 'g'), 'x+', 'x', 'g'), 'X+', 'X', 'g'),
         |      '9+', '9', 'g')) AS h
         |  FROM documents WHERE text IS NOT NULL
         |), tpl_fo AS (SELECT h, min(doc_id) AS f FROM tpl GROUP BY 1
         |), tplv AS (
         |  SELECT s.doc_id, fo.f >= s.doc_id AS nv
         |  FROM tpl s JOIN tpl_fo fo USING (h)
         |), sh_toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END)
         |      AS w
         |  FROM documents WHERE text IS NOT NULL
         |), sh_h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM sh_toks
         |), sh_agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM sh_h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS slo, $hi AS shi FROM sh_agg
         |), sh_dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.slo, b.slo))
         |      + bit_count(xor(a.shi, b.shi)) <= 3
         |), shv AS (
         |  SELECT s.doc_id, d.doc_id IS NULL AS nv
         |  FROM sig s LEFT JOIN sh_dup d USING (doc_id)
         |), sp_toks AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, $ws)) = 0 THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(lower(trim(text, $ws)),
         |           '\\s+') END AS t
         |  FROM documents WHERE text IS NOT NULL
         |), sp_spans AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+15], ' ')
         |            for i in range(1, len(t)-14)]) AS span
         |  FROM sp_toks WHERE len(t) >= 16
         |), sp_fo AS (
         |  SELECT span, min(doc_id) AS fo FROM sp_spans GROUP BY 1
         |), sp_v AS (
         |  SELECT s.doc_id, min(f.fo) AS mfo
         |  FROM sp_spans s JOIN sp_fo f USING (span) GROUP BY 1
         |), spv AS (
         |  SELECT t.doc_id, v.mfo IS NULL OR v.mfo >= t.doc_id AS nv
         |  FROM sp_toks t LEFT JOIN sp_v v USING (doc_id)
         |), ck_toked AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |    '\\s+') AS toks
         |  FROM documents WHERE length(trim(text, $ws)) > 0
         |), ck AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |    md5(array_to_string(toks[(i*13+1):(i*13+16)], ' ')) AS h
         |  FROM (
         |    SELECT doc_id, toks,
         |      unnest(range(greatest(1,
         |        CAST(ceil((len(toks) - 3) / 13.0) AS BIGINT)))) AS i
         |    FROM ck_toked)
         |), ck_fo AS (
         |  SELECT h, min(ROW(doc_id, chunk_id)) AS f
         |  FROM ck GROUP BY 1
         |), ckv AS (
         |  SELECT ck.doc_id,
         |    ck_fo.f >= ROW(ck.doc_id, ck.chunk_id) AS nv
         |  FROM ck JOIN ck_fo USING (h)
         |), allv AS (
         |  SELECT 'digest' AS family, doc_id, nv FROM dgv
         |  UNION ALL SELECT 'simhash', doc_id, nv FROM shv
         |  UNION ALL SELECT 'span', doc_id, nv FROM spv
         |  UNION ALL SELECT 'template', doc_id, nv FROM tplv
         |  UNION ALL SELECT 'chunk', doc_id, nv FROM ckv
         |)
         |SELECT a.family, CAST(bd.batch AS INTEGER) AS batch,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN a.nv THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_admitted,
         |  CAST(sum(CASE WHEN a.nv THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_rejected,
         |  CAST(sum(CASE WHEN a.nv THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS admit_ppm
         |FROM allv a JOIN bd USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },

    // the q306 scalar int8 replay: md5-hex-ordered 8-cell codebook,
    // argmin (distance, cell) assignment, (distance, cell)-ranked
    // probe order, exact (distance, id)-tied top-10 truth, budgets
    // from VALUES — recall closes as the truncating ppm BIGINT
    "q344_ivf_nprobe_sweep" ->
      """WITH el AS (
        |  SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS x
        |  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(d)
        |), sc AS (
        |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY 1
        |), qv AS (
        |  SELECT el.vec_id, el.dim,
        |    CASE WHEN sc.scale = 0 THEN 0
        |         ELSE CAST(floor(x / sc.scale * 127.0 + 0.5) AS BIGINT)
        |    END AS q
        |  FROM el JOIN sc USING (vec_id)
        |), cent AS (
        |  SELECT row_number() OVER (ORDER BY h) - 1 AS cell, vec_id
        |  FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
        |        FROM embeddings ORDER BY h LIMIT 8)
        |), cq AS (
        |  SELECT cent.cell, qv.dim, qv.q
        |  FROM cent JOIN qv USING (vec_id)
        |), cdist AS (
        |  SELECT v.vec_id, c.cell,
        |    sum((v.q - c.q) * (v.q - c.q)) AS d
        |  FROM qv v JOIN cq c ON v.dim = c.dim
        |  GROUP BY 1, 2
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |        AS rn
        |    FROM cdist) WHERE rn = 1
        |), qrank AS (
        |  SELECT vec_id AS query_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |      AS cell_rank
        |  FROM cdist WHERE vec_id < 32
        |), pd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    sum((q.q - c.q) * (q.q - c.q)) AS d
        |  FROM qv q JOIN qv c ON q.dim = c.dim
        |  WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2
        |), truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY d, neighbor_id) AS rn
        |    FROM pd) WHERE rn <= 10
        |), hits AS (
        |  SELECT t.query_id, qr.cell_rank
        |  FROM truth t
        |  JOIN assign a ON a.vec_id = t.neighbor_id
        |  JOIN qrank qr ON qr.query_id = t.query_id AND qr.cell = a.cell
        |)
        |SELECT CAST(b.nprobe AS INTEGER) AS nprobe,
        |  CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN cell_rank <= b.nprobe THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_caught,
        |  CAST(sum(CASE WHEN cell_rank <= b.nprobe THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS recall_ppm
        |FROM hits CROSS JOIN (VALUES (1), (2), (4), (8)) AS b(nprobe)
        |GROUP BY 1""".stripMargin,

    // both pack walks replayed in ONE recursive WITH (q341's scalar
    // next-fit state + q343's list-state BFD), rolled up per
    // discipline with the shared waste contract
    "q346_pack_discipline_compare" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val best = "list_max([f for f in w.fills if f + i.cost <= 512])"
      val pos  = s"list_position(w.fills, $best)"
      s"""WITH RECURSIVE items AS (
         |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id,
         |    CAST(len(regexp_split_to_array(trim(text, $ws), '\\s+'))
         |      AS BIGINT) AS cost
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text, $ws)) > 0
         |), it_nf AS (
         |  SELECT shard, doc_id, cost,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id)
         |      AS rn
         |  FROM items
         |), walk_nf AS (
         |  SELECT shard, rn, cost, cost AS fill, CAST(0 AS BIGINT)
         |    AS pack
         |  FROM it_nf WHERE rn = 1
         |  UNION ALL
         |  SELECT i.shard, i.rn, i.cost,
         |    CASE WHEN w.fill + i.cost > 512 THEN i.cost
         |         ELSE w.fill + i.cost END,
         |    CASE WHEN w.fill + i.cost > 512 THEN w.pack + 1
         |         ELSE w.pack END
         |  FROM walk_nf w JOIN it_nf i
         |    ON i.shard = w.shard AND i.rn = w.rn + 1
         |), it AS (
         |  SELECT shard, doc_id, cost,
         |    row_number() OVER (PARTITION BY shard
         |      ORDER BY cost DESC, doc_id ASC) AS rn
         |  FROM items
         |), walk AS (
         |  SELECT shard, rn, [cost] AS fills,
         |    [CAST(1 AS BIGINT)] AS nd
         |  FROM it WHERE rn = 1
         |  UNION ALL
         |  SELECT i.shard, i.rn,
         |    CASE WHEN $best IS NULL THEN w.fills || [i.cost]
         |         ELSE w.fills[1:$pos-1] || [w.fills[$pos] + i.cost]
         |           || w.fills[$pos+1:len(w.fills)] END,
         |    CASE WHEN $best IS NULL THEN w.nd || [CAST(1 AS BIGINT)]
         |         ELSE w.nd[1:$pos-1] || [w.nd[$pos] + 1]
         |           || w.nd[$pos+1:len(w.nd)] END
         |  FROM walk w JOIN it i
         |    ON i.shard = w.shard AND i.rn = w.rn + 1
         |), nf_packs AS (
         |  SELECT shard, pack, CAST(count(*) AS BIGINT) AS nd,
         |    CAST(sum(cost) AS BIGINT) AS used
         |  FROM walk_nf GROUP BY 1, 2
         |), b_fin AS (
         |  SELECT w.shard, w.fills, w.nd
         |  FROM walk w
         |  JOIN (SELECT shard, max(rn) AS mr FROM walk GROUP BY 1) m
         |    ON w.shard = m.shard AND w.rn = m.mr
         |), b_packs AS (
         |  SELECT shard, CAST(unnest(nd) AS BIGINT) AS nd,
         |    CAST(unnest(fills) AS BIGINT) AS used
         |  FROM b_fin
         |), uni AS (
         |  SELECT 'next_fit' AS discipline, nd, used FROM nf_packs
         |  UNION ALL
         |  SELECT 'best_fit_decreasing', nd, used FROM b_packs
         |)
         |SELECT discipline, CAST(count(*) AS BIGINT) AS n_packs,
         |  CAST(sum(nd) AS BIGINT) AS n_docs,
         |  CAST(sum(used) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN used > 512 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oversize,
         |  CAST(sum(CASE WHEN used > 512 THEN 0 ELSE 512 - used END)
         |    AS BIGINT) AS waste_tokens,
         |  CAST(CASE WHEN sum(CASE WHEN used > 512 THEN 0
         |           ELSE 512 - used END) + sum(used) > 0
         |       THEN sum(CASE WHEN used > 512 THEN 0
         |           ELSE 512 - used END) * 1000000
         |         // (sum(CASE WHEN used > 512 THEN 0
         |           ELSE 512 - used END) + sum(used))
         |       END AS BIGINT) AS waste_ppm
         |FROM uni GROUP BY 1""".stripMargin
    },

    // q324's quadratic pair replay (float >= 0.25 pair set, the
    // engine's prefix filter is exact-complete) + q289's portable
    // simhash signature replay; the true/band split is the pure
    // integer predicate 3i >= na+nb on both sides
    "q347_simhash_radius_backtest" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents)
         |  WHERE len(toks) >= 3
         |), j AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s)) AS isz,
         |    len(a.s) AS na, len(b.s) AS nb
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.25
         |), tk AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END)
         |      AS w
         |  FROM documents WHERE text IS NOT NULL
         |), hb AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM tk
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM hb GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), hp AS (
         |  SELECT (3 * j.isz >= j.na + j.nb) AS istrue,
         |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |      AS hd
         |  FROM j JOIN sig a ON a.doc_id = j.id_a
         |  JOIN sig b ON b.doc_id = j.id_b
         |)
         |SELECT CAST(r.radius AS INTEGER) AS radius,
         |  CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true,
         |  CAST(sum(CASE WHEN istrue AND hd <= r.radius THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_true_caught,
         |  CAST(sum(CASE WHEN NOT istrue THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_band,
         |  CAST(sum(CASE WHEN NOT istrue AND hd <= r.radius THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_band_caught,
         |  CAST(CASE WHEN sum(CASE WHEN istrue THEN 1 ELSE 0 END) > 0
         |       THEN sum(CASE WHEN istrue AND hd <= r.radius
         |           THEN 1 ELSE 0 END) * 1000000
         |         // sum(CASE WHEN istrue THEN 1 ELSE 0 END)
         |       END AS BIGINT) AS catch_ppm
         |FROM hp CROSS JOIN (VALUES (0), (1), (2), (3)) r(radius)
         |GROUP BY 1""".stripMargin
    },

    // q347's replay restricted to the same salted-md5 1-in-2 doc
    // sample (the q336 sample predicate, salt '|sbs'), constant
    // sampled marker
    "q348_simhash_radius_sampled" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      val samp = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) " +
        "|| '|sbs'), 1, 8))::UBIGINT % 2 = 0"
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ')
         |                   for i in range(1, len(toks)-1)]) s
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, $ws),
         |                '\\s+') toks
         |        FROM documents WHERE $samp)
         |  WHERE len(toks) >= 3
         |), j AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s)) AS isz,
         |    len(a.s) AS na, len(b.s) AS nb
         |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE /
         |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
         |      >= 0.25
         |), tk AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, $ws)) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, $ws), '\\s+') END)
         |      AS w
         |  FROM documents WHERE text IS NOT NULL AND $samp
         |), hb AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM tk
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM hb GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), hp AS (
         |  SELECT (3 * j.isz >= j.na + j.nb) AS istrue,
         |    bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |      AS hd
         |  FROM j JOIN sig a ON a.doc_id = j.id_a
         |  JOIN sig b ON b.doc_id = j.id_b
         |)
         |SELECT CAST(r.radius AS INTEGER) AS radius,
         |  CAST(sum(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true,
         |  CAST(sum(CASE WHEN istrue AND hd <= r.radius THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_true_caught,
         |  CAST(sum(CASE WHEN NOT istrue THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_band,
         |  CAST(sum(CASE WHEN NOT istrue AND hd <= r.radius THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_band_caught,
         |  CAST(CASE WHEN sum(CASE WHEN istrue THEN 1 ELSE 0 END) > 0
         |       THEN sum(CASE WHEN istrue AND hd <= r.radius
         |           THEN 1 ELSE 0 END) * 1000000
         |         // sum(CASE WHEN istrue THEN 1 ELSE 0 END)
         |       END AS BIGINT) AS catch_ppm,
         |  TRUE AS sampled
         |FROM hp CROSS JOIN (VALUES (0), (1), (2), (3)) r(radius)
         |GROUP BY 1""".stripMargin
    },

    // q334's chunker + the order-free min-owner rule on the
    // (doc, chunk) pair key: batching is invisible by construction,
    // so the oracle is one global min-per-digest join. The min is a
    // tuple-valued min over ROW(doc_id, chunk_id) — lexicographic like
    // the engine's struct min — NOT an arithmetic doc*2^20+chunk
    // packing, which silently diverges once a doc has chunk_id ≥ 2^20
    // (~13.6M tokens at stride 13) or doc_id ≥ 2^43 (ADVICE r15)
    "q345_incremental_chunk_novelty" ->
      """WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), ch AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    md5(array_to_string(toks[(i*13+1):(i*13+16)], ' ')) AS h
        |  FROM (
        |    SELECT doc_id, toks,
        |      unnest(range(greatest(1,
        |        CAST(ceil((len(toks) - 3) / 13.0) AS BIGINT)))) AS i
        |    FROM toked)
        |), fo AS (
        |  SELECT h, min(ROW(doc_id, chunk_id)) AS f
        |  FROM ch GROUP BY 1
        |)
        |SELECT ch.doc_id, ch.chunk_id,
        |  CAST(CASE WHEN fo.f >= ROW(ch.doc_id, ch.chunk_id)
        |       THEN 1 ELSE 0 END AS INTEGER) AS is_novel
        |FROM ch JOIN fo USING (h)""".stripMargin,

    // per-source pooled ECDF walk: the q333 integer cross-product
    // numerator with every window PARTITIONED BY source
    "q340_source_length_drift_ks" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      s"""WITH sc AS (
         |  SELECT source, doc_id,
         |    CAST(CASE WHEN length(trim(text, $ws)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text, $ws),
         |           '\\s+'))
         |    END AS BIGINT) AS v
         |  FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL
         |), hist AS (
         |  SELECT source, v,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cb
         |  FROM sc GROUP BY 1, 2
         |), cum AS (
         |  SELECT source, v,
         |    CAST(SUM(ca) OVER (PARTITION BY source ORDER BY v)
         |      AS BIGINT) AS cuma,
         |    CAST(SUM(cb) OVER (PARTITION BY source ORDER BY v)
         |      AS BIGINT) AS cumb
         |  FROM hist
         |), t AS (
         |  SELECT source, CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb
         |  FROM hist GROUP BY 1
         |)
         |SELECT cum.source, na AS n_a, nb AS n_b,
         |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
         |  CASE WHEN na > 0 AND nb > 0
         |       THEN CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
         |         / CAST(na * nb AS DOUBLE)
         |  END AS ks_d
         |FROM cum JOIN t USING (source)
         |GROUP BY 1, 2, 3""".stripMargin
    },

    // q109's rule CTE verbatim + the fail-count column; per-rule
    // marginals as a 7-way UNION ALL of integer aggregates
    "q337_filter_ablation" -> {
      val ruleNames = Seq("word_count", "mean_word_length",
        "symbol_ratio", "bullet_lines", "ellipsis_lines",
        "alpha_words", "stopword_hits")
      val selects = ruleNames.map { r =>
        s"""SELECT '$r' AS rule,
           |  CAST(sum(CASE WHEN NOT r_$r THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_fail,
           |  CAST(sum(CASE WHEN NOT r_$r AND nf = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_only_fail,
           |  CAST(sum(CASE WHEN reject_reason = '$r' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_first_reason,
           |  CAST(sum(CASE WHEN NOT r_$r AND nf = 1 THEN n_words
           |    ELSE 0 END) AS BIGINT) AS tokens_recovered
           |FROM fin""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |    CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
         |         THEN []::VARCHAR[]
         |         ELSE regexp_split_to_array(
         |           regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END AS toks,
         |    list_filter(string_split(text, chr(10)),
         |      l -> length(regexp_replace(l, '^\\s+|\\s+$$', '', 'g')) > 0) AS lns
         |  FROM documents
         |), sig AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS word_chars,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '\\p{L}'))) AS BIGINT) AS n_alpha_words,
         |    CAST(len(regexp_extract_all(text, '#|…'))
         |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols,
         |    CAST(len(lns) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS BIGINT) AS n_ellipsis_lines,
         |    CAST(len(list_filter(toks, t -> list_contains(
         |      ['the','be','to','of','and','that','have','with'], lower(t)))) AS BIGINT) AS n_stopword_hits
         |  FROM base
         |), rules AS (
         |  SELECT *,
         |    (n_words >= 20 AND n_words <= 5000) AS r_word_count,
         |    (n_words > 0 AND word_chars >= 3*n_words AND word_chars <= 10*n_words) AS r_mean_word_length,
         |    (10*n_symbols <= n_words) AS r_symbol_ratio,
         |    (10*n_bullet_lines <= 9*n_lines) AS r_bullet_lines,
         |    (10*n_ellipsis_lines <= 3*n_lines) AS r_ellipsis_lines,
         |    (5*n_alpha_words >= 4*n_words) AS r_alpha_words,
         |    (n_stopword_hits >= 2) AS r_stopword_hits
         |  FROM sig
         |), fin AS (
         |  SELECT *,
         |    (CASE WHEN r_word_count THEN 0 ELSE 1 END
         |     + CASE WHEN r_mean_word_length THEN 0 ELSE 1 END
         |     + CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END
         |     + CASE WHEN r_bullet_lines THEN 0 ELSE 1 END
         |     + CASE WHEN r_ellipsis_lines THEN 0 ELSE 1 END
         |     + CASE WHEN r_alpha_words THEN 0 ELSE 1 END
         |     + CASE WHEN r_stopword_hits THEN 0 ELSE 1 END) AS nf,
         |    CASE WHEN NOT r_word_count THEN 'word_count'
         |         WHEN NOT r_mean_word_length THEN 'mean_word_length'
         |         WHEN NOT r_symbol_ratio THEN 'symbol_ratio'
         |         WHEN NOT r_bullet_lines THEN 'bullet_lines'
         |         WHEN NOT r_ellipsis_lines THEN 'ellipsis_lines'
         |         WHEN NOT r_alpha_words THEN 'alpha_words'
         |         WHEN NOT r_stopword_hits THEN 'stopword_hits'
         |         ELSE NULL END AS reject_reason
         |  FROM rules
         |)
         |$selects""".stripMargin
    },

    // the shared KN CTE, both tie-broken row_number rank twins, the
    // exact Σd² and the identical one-expression Spearman close
    "q338_curriculum_length_confound" -> {
      val ws = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
      knScoreCte + s""",
        |perdoc AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(floor(round(avg(nll), 6) * 1e6 + 0.5) AS BIGINT) AS ne6
        |  FROM score GROUP BY 1
        |), tcv AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text, $ws)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, $ws),
        |           '\\s+'))
        |    END AS BIGINT) AS tc
        |  FROM documents
        |), pd AS MATERIALIZED (
        |  SELECT p.doc_id, p.ne6, t.tc
        |  FROM perdoc p JOIN tcv t USING (doc_id)
        |), r AS (
        |  SELECT doc_id, ne6, tc,
        |    row_number() OVER (ORDER BY ne6 ASC, doc_id ASC) AS rl,
        |    row_number() OVER (ORDER BY tc ASC, doc_id ASC) AS rt
        |  FROM pd
        |), nn AS (SELECT count(*) AS n FROM pd),
        |s2 AS (
        |  SELECT CAST(sum((rl - rt) * (rl - rt)) AS BIGINT) AS sd2
        |  FROM r
        |), rho AS (
        |  SELECT CASE WHEN (SELECT n FROM nn) > 1 THEN
        |      1.0 - 6.0 * CAST((SELECT sd2 FROM s2) AS DOUBLE)
        |        / (CAST((SELECT n FROM nn) AS DOUBLE)
        |           * CAST((SELECT n FROM nn) AS DOUBLE)
        |           * CAST((SELECT n FROM nn) AS DOUBLE)
        |           - CAST((SELECT n FROM nn) AS DOUBLE))
        |    END AS rho
        |)
        |SELECT CAST((rt - 1) * 10 // (SELECT n FROM nn) AS INTEGER)
        |    AS length_decile,
        |  count(*) AS n_docs,
        |  CAST(sum(tc) // count(*) AS BIGINT) AS mean_tokens,
        |  CAST(sum(ne6) // count(*) AS BIGINT) AS mean_nll_e6,
        |  max(rho.rho) AS spearman_loss_vs_length
        |FROM r, rho GROUP BY 1""".stripMargin
    },

    // the same md5-signed ±1 projection on the e6 lattice, pooled
    // ECDFs as naive running sums, the identical integer
    // cross-multiplication numerator and one closing division
    "q333_embedding_drift_ks" ->
      """WITH sg AS (
        |  SELECT CAST(d AS BIGINT) AS d,
        |    CASE WHEN ('0x' || substr(md5(CAST(d AS VARCHAR) || '|ksp'),
        |        1, 1))::UBIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM generate_series(1, 64) g(d)
        |), pr AS (
        |  SELECT vec_id,
        |    CAST(sum(sgn * CAST(floor(CAST(embedding[d] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
        |  FROM embeddings, sg
        |  WHERE embedding IS NOT NULL
        |  GROUP BY vec_id
        |), hist AS (
        |  SELECT v,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM pr GROUP BY v
        |), cum AS (
        |  SELECT v,
        |    CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
        |  FROM hist
        |), t AS (
        |  SELECT CAST(COALESCE(sum(ca), 0) AS BIGINT) AS na,
        |    CAST(COALESCE(sum(cb), 0) AS BIGINT) AS nb
        |  FROM hist
        |)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(COALESCE(max(abs(cuma * nb - cumb * na)), 0) AS BIGINT)
        |    AS ks_num,
        |  CASE WHEN na > 0 AND nb > 0
        |       THEN CAST(COALESCE(max(abs(cuma * nb - cumb * na)), 0)
        |         AS DOUBLE) / CAST(na * nb AS DOUBLE)
        |  END AS ks_d
        |FROM cum, t GROUP BY na, nb""".stripMargin,

    // q83's chunk replay digested; the keeper's lexicographic
    // (doc, chunk) min rides a packed key (chunk_id < 2^20 — a
    // 13M-token document bound, asserted nowhere because the chunker
    // itself cannot exceed it at these scales; same order as the
    // engine's struct min)
    "q334_chunk_provenance_dedup" ->
      """WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), ch AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    md5(array_to_string(toks[(i*13+1):(i*13+16)], ' ')) AS h
        |  FROM (
        |    SELECT doc_id, toks,
        |      unnest(range(greatest(1,
        |        CAST(ceil((len(toks) - 3) / 13.0) AS BIGINT)))) AS i
        |    FROM toked)
        |)
        |SELECT h AS chunk_md5, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(min(doc_id * 1048576 + chunk_id) // 1048576 AS BIGINT)
        |    AS keeper_doc_id,
        |  CAST(min(doc_id * 1048576 + chunk_id) % 1048576 AS BIGINT)
        |    AS keeper_chunk_id
        |FROM ch GROUP BY h HAVING count(*) >= 2""".stripMargin,

    // the q225 scalar-unnest int8 replay with every vector as corpus
    // and the 1-in-7 id sample as queries; row_number 5-NN, label
    // joins, the identical majority predicate
    "q306_knn_label_agreement" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |), el AS (
        |  SELECT vec_id, d AS dim, CAST(embedding[d] AS DOUBLE) AS x
        |  FROM base CROSS JOIN generate_series(1, 64) AS g(d)
        |), sc AS (
        |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY 1
        |), qv AS (
        |  SELECT el.vec_id, el.dim,
        |    CASE WHEN sc.scale = 0 THEN 0
        |         ELSE CAST(floor(x / sc.scale * 127.0 + 0.5) AS BIGINT)
        |    END AS q
        |  FROM el JOIN sc USING (vec_id)
        |), scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    sum((q.q - c.q) * (q.q - c.q)) AS df
        |  FROM qv q JOIN qv c ON q.dim = c.dim
        |  WHERE q.vec_id % 7 = 0 AND q.vec_id <> c.vec_id
        |  GROUP BY 1, 2
        |), top AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY df, neighbor_id) AS rn
        |    FROM scored) WHERE rn <= 5
        |), per AS (
        |  SELECT t.query_id, ql.label AS qlab,
        |    sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS same
        |  FROM top t
        |  JOIN base ql ON ql.vec_id = t.query_id
        |  JOIN base nl ON nl.vec_id = t.neighbor_id
        |  GROUP BY 1, 2
        |)
        |SELECT qlab AS label, count(*) AS n_queries,
        |  CAST(sum(CASE WHEN same * 2 > 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_majority_same,
        |  CAST((sum(CASE WHEN same * 2 > 5 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS agreement_ppm
        |FROM per GROUP BY 1""".stripMargin,

    // row_number twins of both rank-cover passes; the identical
    // integer flag comparison — no division or float anywhere
    "q303_mad_outliers" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_type AS g,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM v
        |), med AS MATERIALIZED (
        |  SELECT g, max(n) AS n,
        |    CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END
        |      + CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END) AS BIGINT)
        |      AS med2
        |  FROM r GROUP BY 1
        |), dev AS MATERIALIZED (
        |  SELECT v.g, abs(2 * v.v - m.med2) AS d2
        |  FROM v JOIN med m ON m.g = v.g
        |), rd AS (
        |  SELECT g, d2, row_number() OVER (PARTITION BY g ORDER BY d2)
        |      AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM dev
        |), mad AS MATERIALIZED (
        |  SELECT g,
        |    CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN d2 ELSE 0 END
        |      + CASE WHEN rn = n // 2 + 1 THEN d2 ELSE 0 END) AS BIGINT)
        |      AS mad4
        |  FROM rd GROUP BY 1
        |), fl AS (
        |  SELECT d.g, sum(CASE WHEN 2 * d.d2 > 3 * m.mad4
        |    THEN 1 ELSE 0 END) AS n_outliers
        |  FROM dev d JOIN mad m ON m.g = d.g GROUP BY 1
        |)
        |SELECT med.g AS event_type, CAST(med.n AS BIGINT) AS n,
        |  med.med2 AS median2_e6, mad.mad4 AS mad4_e6,
        |  CAST(fl.n_outliers AS BIGINT) AS n_outliers
        |FROM med JOIN mad ON mad.g = med.g
        |JOIN fl ON fl.g = med.g""".stripMargin,

    // row_number top-100 per lang (count desc, token asc — the heap's
    // order), per-token lang-set summary, the identical own/other
    // flag predicates, integer-ppm closing
    "q304_language_mixing" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
        |), toks AS MATERIALIZED (
        |  SELECT doc_id, lang, unnest(regexp_split_to_array(nt, ' ')) AS w
        |  FROM d WHERE length(nt) > 0
        |), cnt AS (
        |  SELECT lang, w, count(*) AS c FROM toks GROUP BY 1, 2
        |), top AS MATERIALIZED (
        |  SELECT lang AS tl, w FROM (
        |    SELECT lang, w, row_number() OVER (PARTITION BY lang
        |      ORDER BY c DESC, w ASC) AS rn
        |    FROM cnt) WHERE rn <= 100
        |), ws AS (
        |  SELECT w, count(*) AS nl, max(tl) AS mtl FROM top GROUP BY 1
        |)
        |SELECT t.doc_id, t.lang, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN o.w IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_own_top,
        |  CAST(sum(CASE WHEN o.w IS NULL AND s.w IS NOT NULL
        |      AND (s.nl >= 2 OR s.mtl <> t.lang) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_other_top,
        |  CAST((sum(CASE WHEN o.w IS NULL AND s.w IS NOT NULL
        |      AND (s.nl >= 2 OR s.mtl <> t.lang) THEN 1 ELSE 0 END)
        |    * 1000000) // count(*) AS BIGINT) AS mixing_ppm
        |FROM toks t
        |LEFT JOIN top o ON o.w = t.w AND o.tl = t.lang
        |LEFT JOIN ws s ON s.w = t.w
        |GROUP BY 1, 2""".stripMargin,

    // per-source length order statistics at rank (n*d)//10 on the e6
    // lattice — the row_number twin of the rank-cover lookup
    "q302_length_deciles" ->
      """WITH v AS (
        |  SELECT source,
        |    CAST(round(length(text)::DOUBLE * 1000000) AS BIGINT) AS v
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
        |), r AS MATERIALIZED (
        |  SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM v
        |)
        |SELECT r.source, CAST(d AS INTEGER) AS decile,
        |  r.n * d // 10 AS rank, r.v AS value_e6
        |FROM r CROSS JOIN generate_series(1, 10) s(d)
        |WHERE r.n * d // 10 = r.rn""".stripMargin,

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

    // the q267 CDF grid with a per-pair lead(v) gap; exact HUGEINT
    // area terms, one division per pair
    "q274_emd_matrix" ->
      """WITH rows_ AS (
        |  SELECT source AS g,
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS v
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

    // farthest-point traversal unrolled: argmax (dist desc, id asc)
    // per step, min-update against the new center — integer L2 on
    // the q89 code lattice throughout
    "q269_kcenter_coreset" -> {
      val head =
        """WITH vecs AS MATERIALIZED (
          |  SELECT vec_id,
          |    list_transform(embedding::DOUBLE[],
          |      x -> CASE WHEN scale = 0 THEN 0
          |           ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
          |  FROM (SELECT vec_id, embedding,
          |      list_aggregate(list_transform(embedding::DOUBLE[],
          |        x -> abs(x)), 'max') AS scale
          |    FROM embeddings)
          |), seed AS (SELECT min(vec_id) AS sid FROM vecs),
          |sv AS (SELECT qv AS v FROM vecs
          |       WHERE vec_id = (SELECT sid FROM seed)),
          |m1 AS MATERIALIZED (
          |  SELECT vec_id, qv,
          |    list_sum(list_transform(generate_series(1, 64),
          |      i -> (qv[i] - s.v[i]) * (qv[i] - s.v[i]))) AS md
          |  FROM vecs CROSS JOIN sv s
          |  WHERE vec_id <> (SELECT sid FROM seed)
          |)""".stripMargin
      val steps = (2 to 8).map { r =>
        s""", p$r AS MATERIALIZED (
           |  SELECT vec_id AS pid, md, qv AS pv FROM (
           |    SELECT *, row_number() OVER (ORDER BY md DESC, vec_id) AS rn
           |    FROM m${r - 1}) WHERE rn = 1
           |), m$r AS MATERIALIZED (
           |  SELECT m.vec_id, m.qv,
           |    least(m.md, list_sum(list_transform(generate_series(1, 64),
           |      i -> (m.qv[i] - p.pv[i]) * (m.qv[i] - p.pv[i])))) AS md
           |  FROM m${r - 1} m, p$r p WHERE m.vec_id <> p.pid
           |)""".stripMargin
      }.mkString
      val finals = (2 to 8).map { r =>
        s"SELECT pid AS selected_id, CAST($r AS INT) AS rank, CAST(md AS BIGINT) AS min_dist_sq FROM p$r"
      }.mkString("\nUNION ALL\n")
      head + steps +
        "\nSELECT (SELECT sid FROM seed) AS selected_id, CAST(1 AS INT) AS rank, NULL::BIGINT AS min_dist_sq\nUNION ALL\n" +
        finals
    },

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
      """WITH rows_ AS (
        |  SELECT source AS g,
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS v
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

    // q89's code replay, md5 half split, HUGEINT per-dimension sums,
    // the cancel-the-1/n cosine
    "q266_semantic_drift" ->
      """WITH vecs AS MATERIALIZED (
        |  SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv,
        |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|drift'), 1, 8))::UBIGINT % 2 AS BIGINT) AS h
        |  FROM (SELECT vec_id, label, embedding,
        |      list_aggregate(list_transform(embedding::DOUBLE[],
        |        x -> abs(x)), 'max') AS scale
        |    FROM embeddings)
        |), el AS (
        |  SELECT label, h, d - 1 AS i, qv[d] AS q
        |  FROM vecs CROSS JOIN generate_series(1, 64) AS g(d)
        |), sums AS (
        |  SELECT label, i,
        |    sum(CASE WHEN h = 0 THEN q ELSE 0 END)::HUGEINT AS sa,
        |    sum(CASE WHEN h = 1 THEN q ELSE 0 END)::HUGEINT AS sb
        |  FROM el GROUP BY 1, 2
        |), m AS (
        |  SELECT label, sum(sa * sb) AS dot, sum(sa * sa) AS na,
        |    sum(sb * sb) AS nb
        |  FROM sums GROUP BY 1
        |), c AS (
        |  SELECT label, count(*) AS n_vectors, sum(h) AS nb1 FROM vecs
        |  GROUP BY 1
        |)
        |SELECT m.label, c.n_vectors,
        |  CAST(c.n_vectors - c.nb1 AS BIGINT) AS n_half_a,
        |  CAST(c.nb1 AS BIGINT) AS n_half_b,
        |  round(CASE WHEN m.na > 0 AND m.nb > 0 THEN
        |    m.dot::DOUBLE / (sqrt(m.na::DOUBLE) * sqrt(m.nb::DOUBLE)) END, 6)
        |    + 0 AS centroid_cosine
        |FROM m JOIN c USING (label)""".stripMargin,

    // full md5-SimHash replay (64 bit-sums per doc, strict-majority
    // signature), exact quadratic hamming pair SQL vs the engine's
    // pigeonhole-blocked path, ordered triangle join, integer wedges
    "q264_dupgraph_clustering" -> {
      val sums1 = (0 until 32)
        .map(b => s"sum((h1 >> $b) & 1) AS b$b").mkString(", ")
      val sums2 = (32 until 64)
        .map(b => s"sum((h2 >> ${b - 32}) & 1) AS b$b").mkString(", ")
      val lo = (0 until 32)
        .map(b => s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << $b) ELSE 0 END")
        .mkString(" + ")
      val hi = (32 until 64)
        .map(b =>
          s"CASE WHEN 2 * b$b > n THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0
         |      THEN []::VARCHAR[]
         |      ELSE regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') END) AS w
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(w), 1, 8))::UBIGINT::BIGINT AS h1,
         |    ('0x' || substr(md5(w), 9, 8))::UBIGINT::BIGINT AS h2
         |  FROM toks
         |), agg AS (
         |  SELECT doc_id, count(*) AS n, $sums1, $sums2
         |  FROM h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $lo AS lo, $hi AS hi FROM agg
         |), e AS MATERIALIZED (
         |  SELECT a.doc_id AS s, b.doc_id AS t
         |  FROM sig a, sig b
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |), deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT s AS v FROM e UNION ALL SELECT t FROM e) GROUP BY 1
         |), tri AS (
         |  SELECT count(*) AS t
         |  FROM e e1
         |  JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
         |  JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t
         |)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM e) AS n_edges,
         |  CAST((SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg) AS BIGINT)
         |    AS n_wedges,
         |  (SELECT t FROM tri) AS n_triangles,
         |  CASE WHEN (SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg) > 0
         |    THEN 3.0 * (SELECT t FROM tri)::DOUBLE
         |      / (SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg)::DOUBLE
         |    END AS clustering_coeff""".stripMargin
    },

    // the q196 score recomputation, then integer-lattice Brier and
    // the 10-bin ECE with identical closing trees
    "q263_brier_ece" ->
      """WITH t AS (
        |  SELECT lang, text,
        |    regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
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

    // union vocab per pair via the side-tagged max-merge, the same
    // half-KL terms with the midpoint denominator, round 4
    "q260_source_js_divergence" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT s, w, count(*) AS c FROM (
        |    SELECT source AS s, unnest(
        |      CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN []::VARCHAR[]
        |           ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END) AS w
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

    // every Hilbert bit level unrolled (rotation reads the PRE-level
    // x/y from the inner subquery), the q222 Morton chain verbatim,
    // same rank/bucket/skippability arithmetic
    "q259_hilbert_pruning" -> {
      val order = 18
      val n1 = (1L << order) - 1
      val head =
        """WITH base AS (
          |  SELECT o_orderkey AS id, CAST(o_custkey AS BIGINT) AS ox,
          |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS oy
          |  FROM orders
          |), s1 AS (SELECT id, ox, oy,
          |    (ox | (ox << 16)) & 281470681808895 AS sx,
          |    (oy | (oy << 16)) & 281470681808895 AS sy FROM base),
          |s2 AS (SELECT id, ox, oy,
          |    (sx | (sx << 8)) & 71777214294589695 AS sx,
          |    (sy | (sy << 8)) & 71777214294589695 AS sy FROM s1),
          |s3 AS (SELECT id, ox, oy,
          |    (sx | (sx << 4)) & 1085102592571150095 AS sx,
          |    (sy | (sy << 4)) & 1085102592571150095 AS sy FROM s2),
          |s4 AS (SELECT id, ox, oy,
          |    (sx | (sx << 2)) & 3689348814741910323 AS sx,
          |    (sy | (sy << 2)) & 3689348814741910323 AS sy FROM s3),
          |s5 AS (SELECT id, ox, oy,
          |    (sx | (sx << 1)) & 6148914691236517205 AS sx,
          |    (sy | (sy << 1)) & 6148914691236517205 AS sy FROM s4),
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

    // the q80 digest, min-id keeper, and exact char accounting
    "q258_dedup_savings" ->
      """WITH g AS MATERIALIZED (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS k,
        |    count(*) AS n,
        |    sum(coalesce(length(text), 0)) AS total,
        |    arg_min(coalesce(length(text), 0), doc_id) AS keeper_len
        |  FROM documents GROUP BY 1
        |)
        |SELECT n AS cluster_size, count(*) AS n_clusters,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(total - keeper_len) AS BIGINT) AS dup_chars
        |FROM g GROUP BY 1""".stripMargin,

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

    // identical contingency marginals and the same fixed-order
    // four-term MI sum scaled by 2N; rank on the rounded value
    // (the q121 contract)
    "q241_llr_collocations" ->
      """WITH toked AS (
        |  SELECT CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN []::VARCHAR[]
        |              ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END AS t
        |  FROM documents
        |), bc AS MATERIALIZED (
        |  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i
        |        FROM toked WHERE len(t) >= 2)
        |  GROUP BY 1, 2
        |), nn AS (SELECT sum(c12) AS ni, sum(c12)::DOUBLE AS n FROM bc),
        |r AS (SELECT w1, sum(c12) AS r1 FROM bc GROUP BY 1),
        |c AS (SELECT w2, sum(c12) AS c1 FROM bc GROUP BY 1),
        |scored AS (
        |  SELECT b.w1, b.w2, b.c12,
        |    floor(2.0 * nn.n * (
        |      ((CASE WHEN b.c12 = 0 THEN 0.0 ELSE
        |          (b.c12::DOUBLE / nn.n) * ln(b.c12::DOUBLE * nn.n
        |            / (r.r1::DOUBLE * c.c1::DOUBLE)) END
        |        + CASE WHEN r.r1 - b.c12 = 0 THEN 0.0 ELSE
        |          ((r.r1 - b.c12)::DOUBLE / nn.n) * ln((r.r1 - b.c12)::DOUBLE * nn.n
        |            / (r.r1::DOUBLE * (nn.ni - c.c1)::DOUBLE)) END)
        |       + (CASE WHEN c.c1 - b.c12 = 0 THEN 0.0 ELSE
        |          ((c.c1 - b.c12)::DOUBLE / nn.n) * ln((c.c1 - b.c12)::DOUBLE * nn.n
        |            / ((nn.ni - r.r1)::DOUBLE * c.c1::DOUBLE)) END
        |        + CASE WHEN nn.ni - r.r1 - c.c1 + b.c12 = 0 THEN 0.0 ELSE
        |          ((nn.ni - r.r1 - c.c1 + b.c12)::DOUBLE / nn.n)
        |            * ln((nn.ni - r.r1 - c.c1 + b.c12)::DOUBLE * nn.n
        |            / ((nn.ni - r.r1)::DOUBLE * (nn.ni - c.c1)::DOUBLE)) END)))
        |      * 1e4 + 0.5) / 1e4 AS llr
        |  FROM bc b
        |  JOIN r ON r.w1 = b.w1
        |  JOIN c ON c.w2 = b.w2
        |  CROSS JOIN nn
        |  WHERE b.c12 >= 5
        |)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, llr FROM (
        |  SELECT *, row_number() OVER (ORDER BY llr DESC, w1 ASC, w2 ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 40""".stripMargin,

    // same list algebra with list_sort pinning the order both sides
    "q141_array_ops" -> {
      val stopSql = graft.text.TextOps.EnStopwords.toSeq.sorted
        .map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN []::VARCHAR[]
         |         ELSE list_sort(list_distinct(
         |           regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+'))) END AS toks
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

    // counters and probes recomputed with the same "row:value" md5
    // bucket formula; the min-of-counters estimate is integer-exact
    "q138_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
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
        |FROM c""".stripMargin,

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
        |FROM st""".stripMargin,

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

    "q31_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) AS token
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

  /** Full-replay oracle for [[graft.graph.GraphOps.kCore]]: the peel
    * unrolls into one CTE triple (degrees, keep-set, filtered edges)
    * per round, then reads the surviving graph's degrees — the same
    * generated-SQL discipline as the q189/q190 k-means replays.
    */
  private def kCoreOracle(coreK: Int, iters: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
      |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
      |           'p' || CAST(l_partkey AS VARCHAR) AS b
      |    FROM lineitem WHERE l_orderkey % 7 = 0)
      |  WHERE a <> b)""".stripMargin
    for (i <- 0 until iters) {
      parts += s"""d$i AS MATERIALIZED (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1)""".stripMargin
      parts += s"k$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= $coreK)"
      parts += s"""e${i + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$i e
        |  JOIN k$i x ON x.v = e.a JOIN k$i y ON y.v = e.b)""".stripMargin
    }
    s"""WITH ${parts.result().mkString(",\n")}
       |SELECT v AS node, count(*) AS core_degree FROM (
       |  SELECT a AS v FROM e$iters UNION ALL SELECT b FROM e$iters)
       |GROUP BY 1""".stripMargin
  }

  /** Full-replay oracle for [[graft.graph.GraphOps.khopDistances]]:
    * one (frontier, reached) CTE pair per level-synchronous round,
    * MATERIALIZED against DuckDB's exponential CTE inlining.
    */
  private def khopOracle(maxHops: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 7 = 0)""".stripMargin
    parts += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
      |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
      |           'p' || CAST(l_partkey AS VARCHAR) AS b FROM li)
      |  WHERE a <> b)""".stripMargin
    parts += """adj AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM e0
      |  UNION ALL SELECT b, a FROM e0)""".stripMargin
    parts += """f0 AS MATERIALIZED (
      |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS node
      |  FROM li WHERE l_orderkey % 700 = 0)""".stripMargin
    parts += "r0 AS MATERIALIZED (SELECT node, 0 AS dist FROM f0)"
    for (h <- 1 to maxHops) {
      parts += s"""f$h AS MATERIALIZED (
        |  SELECT DISTINCT d.node FROM (
        |    SELECT a.dst AS node FROM adj a
        |    JOIN f${h - 1} f ON a.src = f.node) d
        |  ANTI JOIN r${h - 1} r ON r.node = d.node)""".stripMargin
      parts += s"""r$h AS MATERIALIZED (
        |  SELECT node, dist FROM r${h - 1}
        |  UNION ALL SELECT node, $h FROM f$h)""".stripMargin
    }
    s"""WITH ${parts.result().mkString(",\n")}
       |SELECT node, CAST(dist AS INTEGER) AS dist FROM r$maxHops""".stripMargin
  }
}
