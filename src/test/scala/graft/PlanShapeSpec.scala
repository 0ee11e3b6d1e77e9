package graft

import graft.tables.ScaleJoins
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression guards: the performance properties SCALE.md
  * claims (pushdown, pruning, broadcasts, bucket-exchange elision) are
  * asserted against the actual physical plans so a refactor can't
  * silently regress them.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.01"))
      .queryExecution.explainString(SimpleMode)

  test("q01: filter pushed to parquet scan, schema pruned") {
    val p = SparkEntry.queries("q01_agg_pricing_summary")(spark, sf("sf0.01"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate predicate must reach the scan")
    assert(!p.contains("l_orderkey"), "unreferenced columns must not be read")
  }

  test("q02: dimension joins are broadcast") {
    val p = plan("q02_join_chain_customer_geo")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "no sort-merge for tiny dims")
  }

  test("q04/q05: anti and semi joins planned as such") {
    assert(plan("q04_antijoin_new_records").contains("LeftAnti"))
    assert(plan("q05_semijoin_open_orders").contains("LeftSemi"))
  }

  test("q01/q13: aggregates are partial (map-side combine) before exchange") {
    Seq("q01_agg_pricing_summary", "q13_date_ops_monthly").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf("sf0.01"))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("partial_"), s"$q must partial-aggregate before the shuffle")
    }
  }

  test("admitBatch on a micro-batch: the pair plan scans the corpus state " +
    "once and shuffles nothing; no write broadcasts a local relation") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = tempDir("admit_plan").toFile
    def path(n: String) = new java.io.File(dir, n).getPath
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b0 = Seq((1L, text), (2L, "an unrelated first document with its own words"))
      .toDF("doc_id", "text")
    graft.streaming.StreamingOps.dedupBatch(b0, 0L, "doc_id", "text", path("sigs"), path("docs"), 0.7)
    val b1 = Seq((10L, text), (11L, "novel words for the second batch right here"),
      (12L, "novel words for the second batch right here"), (13L, "short"))
      .toDF("doc_id", "text")
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try graft.streaming.StreamingOps.dedupBatch(b1, 1L, "doc_id", "text",
      path("sigs"), path("docs"), 0.7)
    finally {
      org.apache.spark.SpecSparkInternals.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(spark.read.parquet(path("docs")).filter(col("batch") === 1)
      .select("doc_id").as[Long].collect().sorted.toSeq === Seq(11L, 13L))
    val pairPlans = plans.filter(H.find(_)(_.isInstanceOf[CollectLimitExec]).nonEmpty)
    assert(pairPlans.size === 1, plans.mkString("\n"))
    val pairPlan = pairPlans.head
    assert(H.collect(pairPlan) { case s: FileSourceScanExec => s }.size === 1, pairPlan)
    assert(H.collect(pairPlan) { case e: ShuffleExchangeLike => e }.isEmpty, pairPlan)
    val writes = plans.filter(H.find(_)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
    assert(writes.size === 2, plans.mkString("\n"))
    writes.foreach { w =>
      assert(H.collect(w) { case b: BroadcastExchangeExec
        if b.find(_.isInstanceOf[LocalTableScanExec]).nonEmpty => b }.isEmpty, w)
    }
  }

  test("q29 ANN: query side broadcast, corpus never shuffled before scoring") {
    val p = plan("q29_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("bucketed master merge elides the master-side exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val tag = System.nanoTime()
      val master = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      graft.sources.Sinks.writeBucketedMaster(master, s"master_a_$tag", "id", buckets = 8)

      val incoming = Seq((5L, "new5"), (2000L, "new2000")).toDF("id", "v")
      val masterRead = spark.table(s"master_a_$tag")
      val merged = graft.tables.MasterTables.deleteOldInsertNew(masterRead, incoming, Seq("id"))
      val p = merged.queryExecution.explainString(SimpleMode)
      // the anti-join must read the master from its buckets with NO
      // exchange on that branch: the bucketed FileScan appears before
      // any Exchange in the plan text (the master is the join's first
      // child; incoming-side exchanges come after)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(p.indexOf("Bucketed: true") < p.indexOf("Exchange hashpartitioning"),
        s"master branch must not re-shuffle:\n$p")

      ScaleJoins.mergeIntoBucketedMaster(spark, s"master_a_$tag", s"master_b_$tag",
        incoming, "id", buckets = 8)
      val after = spark.table(s"master_b_$tag")
      assert(after.count() === 1001)
      assert(after.filter($"id" === 5L).select("v").as[String].head() === "new5")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q36: two-level aggregate plans without an Expand node") {
    val p = plan("q36_having_filter")
    assert(!p.contains("Expand"),
      "countDistinct-style Expand would double every shuffled row")
  }

  test("q84 dup spans: aggregation keyed on the 64-bit hash with " +
    "map-side combine, not the span string") {
    val p = SparkEntry.queries("q84_dup_spans")(spark, sf("sf0.01"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial_"),
      "span counts must partial-aggregate before the shuffle")
    assert(p.contains("hashpartitioning(__h"),
      "the exchange must partition on the 8-byte hash key, not the span text")
  }

  test("q73 decontaminate: benchmark gram side broadcast, corpus side " +
    "semi-joined without its own exchange") {
    val p = plan("q73_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), "bench grams must broadcast")
  }

  test("dropBoilerplateLines: over-threshold line set broadcast for the " +
    "anti-join (the q72 query itself returns a checkpointed result, so " +
    "the shape is asserted on the operator)") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "a\nc"), (3L, "a\nd")).toDF("doc_id", "text")
    val (cleaned, release) = graft.pipelines.CorpusPipeline
      .dropBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
    val p = cleaned.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    release()
  }

  test("q93 LM scoring: per-doc aggregate is partial, no window anywhere, " +
    "model joins are hash joins on the 8-byte gram key") {
    val p = SparkEntry.queries("q93_lm_perplexity")(spark, sf("sf0.01"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial_"), "per-doc NLL aggregate must map-side combine")
    assert(!p.contains("Window"), "LM scoring must not plan any window")
    assert(!p.contains("CartesianProduct"), "model joins must be keyed, never cartesian")
  }

  test("q130 distinctive terms: no window over the vocab-sized scored " +
    "frame — top-k is the bounded-heap aggregate, count recovery is a " +
    "broadcast join (asserted on the pre-checkpoint plan)") {
    val docs = Seq((1L, "a", "x y z"), (2L, "b", "x q")).toDF("doc_id", "label", "text")
    val (built, caches) = graft.text.Classify
      .distinctiveTermsBuild(docs, "label", "text", k = 2)
    try {
      val p = built.queryExecution.explainString(SimpleMode)
      assert(!p.contains("Window"),
        "per-group top-k must run on TopKAgg, not a vocab-sized window rank")
      assert(p.contains("BroadcastHashJoin"),
        "winner-list count recovery must be a broadcast join")
    } finally caches.foreach(_.unpersist(blocking = false))
  }

  test("q95 int8 ANN: query side broadcast in BOTH stages, no sort-merge " +
    "join before the bounded-heap aggregates") {
    val p = plan("q95_knn_int8_rerank")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), "rerank join must stay broadcast at this scale")
  }

  test("q94 semantic decontamination: bench vectors broadcast, corpus " +
    "not exchanged before the match filter") {
    val p = plan("q94_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("saltedJoin: correct results under replication") {
    val big = (1 to 1000).map(i => (if (i % 2 == 0) "hot" else s"k$i", i)).toDF("key", "v")
    val small = Seq(("hot", "H"), ("k1", "A")).toDF("key", "tag")
    val out = graft.operators.SkewOps.saltedJoin(big, small, Seq("key"), saltFactor = 8)
    assert(out.count() === 501, "500 hot + 1 k1")
    assert(out.filter($"key" === "hot").count() === 500)
  }

  test("pointInIntervalJoin: half-open boundaries, multi-bucket spans, " +
    "empty intervals dropped, ≡ naive range join across bucket widths, " +
    "no cartesian in the plan") {
    import graft.tables.ScaleJoins
    val points = Seq((1L, 5L), (2L, 10L), (3L, 19L), (4L, 20L), (5L, 100L))
      .toDF("pid", "p")
    val intervals = Seq((10L, 10L, 20L), (11L, 0L, 7L), (12L, 50L, 50L))
      .toDF("iid", "s", "e")
    val out = ScaleJoins.pointInIntervalJoin(points, "p", intervals, "s", "e",
      bucketWidth = 8L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // p=10 hits [10,20) (start inclusive); p=19 hits; p=20 does NOT
    // (end exclusive); p=5 hits [0,7); empty [50,50) matches nothing
    assert(out === Set((2L, 10L), (3L, 10L), (1L, 11L)))

    // randomized equivalence to the naive range join, across widths
    val rnd = new scala.util.Random(7)
    val ps = (1 to 500).map(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("pid", "p")
    val ivs = (1 to 80).map { i =>
      val s = rnd.nextInt(950).toLong; (i.toLong, s, s + 1 + rnd.nextInt(80))
    }.toDF("iid", "s", "e")
    val naive = ps.crossJoin(ivs)
      .filter($"p" >= $"s" && $"p" < $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    for (w <- Seq(4L, 32L, 256L)) {
      val got = ScaleJoins.pointInIntervalJoin(ps, "p", ivs, "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got === naive, s"bucketWidth=$w")
    }
    val plan = ScaleJoins.pointInIntervalJoin(ps, "p", ivs, "s", "e", 32L)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay an equi-join on the bucket:\n$plan")

    intercept[IllegalArgumentException] {
      ScaleJoins.pointInIntervalJoin(points, "p",
        intervals.withColumnRenamed("iid", "pid"), "s", "e", 8L)
    }
  }

  test("pointInIntervalJoin keyed variant: same-bucket rows with a " +
    "different key never pair; ≡ the keyed naive range join") {
    import graft.tables.ScaleJoins
    val pts = Seq((1L, "u1", 5L), (2L, "u2", 5L), (3L, "u1", 15L))
      .toDF("pid", "user", "p")
    val ivs = Seq((10L, "u1", 0L, 10L), (11L, "u2", 0L, 10L),
      (12L, "u1", 10L, 20L)).toDF("iid", "user", "s", "e")
    val out = ScaleJoins.pointInIntervalJoin(pts, "p", ivs, "s", "e",
      bucketWidth = 8L, keys = Seq("user"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // u1's p=5 only hits u1's [0,10); u2's p=5 only u2's; p=15 hits
    // u1's [10,20)
    assert(out === Set((1L, 10L), (2L, 11L), (3L, 12L)))
    // a non-key collision still rejects
    intercept[IllegalArgumentException] {
      ScaleJoins.pointInIntervalJoin(pts, "p",
        ivs.withColumnRenamed("iid", "pid"), "s", "e", 8L, Seq("user"))
    }
  }

  test("q166 containment: posting-list equi-join, never a cartesian " +
    "all-pairs product") {
    val p = plan("q166_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must candidate-join on the shingle hash:\n$p")
  }

  test("q162 phrase search: anchor joins are equi-joins, no cartesian") {
    val p = plan("q162_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phrase anchors must equi-join on (doc, anchor):\n$p")
  }

  test("q160 hdr build: ONE exchange (the counter aggregation), " +
    "partial-aggregated map-side; quantile walk windows only counter rows") {
    val vals = Tables.events(spark, sf("sf0.01"))
      .select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("v"))
    val build = graft.operators.SketchOps.hdrBuild(vals, "event_type", "v", 5)
    val p = build.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial_"), s"counter agg must map-side combine:\n$p")
    val exchanges = "Exchange".r.findAllIn(
      build.queryExecution.executedPlan.toString()).size
    assert(exchanges <= 1, s"hdrBuild must shuffle exactly once:\n$p")
  }

  test("bloomPrunedJoin: result ≡ plain inner join on seeded random " +
    "data (no false negatives), NULL keys dropped, probe-side filter " +
    "sits BELOW the join, name-collision and unsupported-type guards") {
    import graft.tables.ScaleJoins
    val rnd = new scala.util.Random(11)
    // parquet-backed probe: over a LocalRelation the optimizer
    // (PushDownPredicates + ConvertToLocalRelation) EVALUATES the
    // prune filter at planning time and folds it away, which would
    // make the Filter plan assertion vacuous
    val probeDir = tempDir("bloomprobe").toString
    (1 to 2000).map { i =>
      (i.toLong, if (i % 97 == 0) null
       else java.lang.Long.valueOf(rnd.nextInt(300).toLong))
    }.toDF("rid", "pk").write.mode("overwrite").parquet(probeDir)
    val probe = spark.read.parquet(probeDir)
    val build = (0 to 60).map(k => (k.toLong * 3, s"tag$k")).toDF("bk", "tag")
    val (out, release) = ScaleJoins.bloomPrunedJoin(
      probe, "pk", build, "bk")
    try {
      val got = out.select("rid", "bk").as[(Long, Long)].collect().toSet
      val want = probe.join(build, $"pk" === $"bk")
        .select("rid", "bk").as[(Long, Long)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty, "fixture must produce matches")
      // the prune is a probe-side Filter containing the bloom UDF,
      // planned below the join
      val p = out.queryExecution.executedPlan.toString()
      assert(p.contains("Filter"), s"bloom prune filter expected:\n$p")
    } finally release()

    intercept[IllegalArgumentException] {
      ScaleJoins.bloomPrunedJoin(
        probe, "pk", build.withColumnRenamed("bk", "pk"), "pk")
    }
    intercept[IllegalArgumentException] {
      val b2 = build.withColumn("bk", $"bk".cast("double"))
      ScaleJoins.bloomPrunedJoin(probe, "pk", b2, "bk")
    }
  }

  test("bloomPrunedJoin: string keys supported") {
    import graft.tables.ScaleJoins
    val probe = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "zz"))
      .toDF("rid", "pk")
    val build = Seq(("a", 10), ("zz", 20)).toDF("bk", "v")
    val before = persistedIds()
    val (joined, release) = ScaleJoins.bloomPrunedJoin(
      probe, "pk", build, "bk")
    val out = graft.state.Checkpoints.stableThenRelease(joined, release)
    assert(persistedSince(before, out).isEmpty, "the build-key cache outlived the call")
    assert(out.select("rid", "v").as[(Long, Int)].collect().toSet ===
      Set((1L, 10), (4L, 20)))
  }

  test("q163 char entropy: map-only — no exchange at all") {
    val p = Tables.documents(spark, sf("sf0.01"))
      .select(col("doc_id"),
        graft.expressions.CharEntropy.column(col("text")).as("e"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"),
      s"the fused entropy pass must not shuffle:\n$p")
  }

  test("q183 winnowing: no cartesian; the only window partitions by " +
    "the document id (the q91 per-doc sort envelope)") {
    val p = plan("q183_winnow_fingerprints")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnowing is a per-doc window + id join, never a product:\n$p")
    val winds = "windowspecdefinition\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(p.toLowerCase).map(_.group(1)).toSet
    assert(winds.forall(_.startsWith("doc_id")),
      s"every window must partition by doc_id, got $winds:\n$p")
  }

  test("q187 winnow pairs: posting-list equi-join on the fingerprint " +
    "hash, never a cartesian product") {
    val p = plan("q187_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair candidates must equi-join on the fingerprint hash:\n$p")
  }

  test("q188 bootstrap: windowless — replicate cells come from " +
    "partial-aggregated explode, percentiles from the cell frame") {
    val p = plan("q188_bootstrap_ci")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      s"the one-pass bootstrap must not contain a window:\n$p")
    assert(p.contains("partial_"),
      s"cell sums must map-side combine before the shuffle:\n$p")
  }

  test("q189/q190 ADC scans: corpus side joins broadcast query frames " +
    "— no corpus-keyed SortMergeJoin anywhere") {
    Seq("q189_pq_ann", "q190_ivfpq_ann").foreach { name =>
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"),
        s"$name must broadcast queries/probes, never sort-merge the corpus:\n$p")
    }
  }

  test("q243 radius NN join: the exploded facility side broadcasts — " +
    "the point side is map-only, never cartesian or sort-merged") {
    val p = plan("q243_radius_nn_join")
    assert(p.contains("BroadcastHashJoin"),
      s"facility neighborhood cells must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the point side must not shuffle for the join:\n$p")
  }

  test("q240 skyline: every window partitions by (group, bucket) — " +
    "no group-sized or global window frame") {
    val p = plan("q240_pareto_skyline")
    val winds = "windowspecdefinition\\(([a-z0-9_#, ]*?) asc"
      .r.findAllMatchIn(p.toLowerCase).map(_.group(1)).toList
    assert(winds.nonEmpty, s"expected window specs in:\n$p")
    // the only data-side window is per (p_brand, __b); the bucket
    // offset window runs over the tiny per-(group,bucket) max table
    assert(winds.forall(w => w.contains("__b")),
      s"every window must include the bucket in its partition, got $winds")
  }

  test("q239 item similarity: pair generation is a user-keyed " +
    "equi-join, never cartesian; top-k is the bounded-heap aggregate " +
    "(no window over the candidate frame)") {
    val p = plan("q239_item_similarity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"basket pairs must equi-join on the user:\n$p")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      s"neighbour ranking must ride the bounded heap, not a window:\n$p")
  }

  test("q182 entity clusters: candidate pairs equi-join on deletion " +
    "keys (never cartesian) and the id-level label/size joins are " +
    "broadcast — the clique-collapse contract") {
    val p = plan("q182_entity_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"SymSpell candidates must equi-join on the deletion key:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"name-component and size maps must broadcast back to ids:\n$p")
  }

  test("q306 kNN label agreement: query sample broadcast, corpus " +
    "scanned once; ranking is the bounded heap (no window over the " +
    "pair frame)") {
    val p = plan("q306_knn_label_agreement")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"sampled queries must broadcast against the corpus scan:\n$p")
    assert(!p.toLowerCase.contains("windowspecdefinition"),
      s"5-NN must ride the bounded heap, not a window:\n$p")
  }

  test("q316/q324 planner family: pair enumeration equi-joins on the " +
    "shingle / band key — never cartesian on the data path") {
    val p316 = plan("q316_lsh_band_planner")
    assert(!p316.contains("CartesianProduct") &&
      !p316.contains("BroadcastNestedLoopJoin"),
      s"q316 must posting-list-join, not cross:\n$p316")
    // q324 assembles THREE 1-row aggregates per config with broadcast
    // cross joins (scalar glue, not data); the pair/band joins
    // themselves must never plan a true cartesian
    val p324 = plan("q324_lsh_backtest")
    assert(!p324.contains("CartesianProduct"),
      s"q324 data joins must be equi (band key / pair id):\n$p324")
  }

  test("q317/q323 shard deal: rank rides the two-level cumsum — every " +
    "window touches the bucket column, none spans the corpus") {
    Seq("q317_token_balanced_shards", "q323_shard_manifest").foreach { q =>
      val p = plan(q)
      val winds = "windowspecdefinition\\(([a-z0-9_#, ]*?) asc"
        .r.findAllMatchIn(p.toLowerCase).map(_.group(1)).toList
      assert(winds.nonEmpty, s"$q: expected the cumsum windows in:\n$p")
      assert(winds.forall(w => w.contains("__b")),
        s"$q: a window without the bucket means a corpus-wide sort, got $winds")
    }
  }

  test("q318 pair diversity: disjoint pairing equi-joins on the pair " +
    "id; q319 bag dedup: one aggregation chain, no windows, no pairs") {
    val p318 = plan("q318_pair_diversity")
    assert(!p318.contains("CartesianProduct") &&
      !p318.contains("BroadcastNestedLoopJoin"),
      s"q318 must join side-0 to side-1 on __pair:\n$p318")
    val p319 = plan("q319_bag_fingerprint_dedup")
    assert(!p319.contains("CartesianProduct") &&
      !p319.toLowerCase.contains("windowspecdefinition"),
      s"q319 is groupBy-only by design:\n$p319")
  }

  test("q320/q321 boilerplate surgery: rule and excision equi-join on " +
    "(source, hash) / (id, pos) — never cartesian; the doc-count " +
    "threshold table broadcasts") {
    Seq("q320_boilerplate_removal", "q321_boilerplate_residual")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q must equi-join throughout:\n$p")
        assert(p.contains("BroadcastHashJoin"),
          s"$q: the #sources-row threshold join must broadcast:\n$p")
      }
  }
}
