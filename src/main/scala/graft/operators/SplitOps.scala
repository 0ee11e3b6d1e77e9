package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic dataset splitting / sampling for training pipelines.
  *
  * Random sampling (`df.sample`) is seed- and partitioning-dependent —
  * unacceptable for reproducible train/val/test assignment at 100 TB
  * (a re-run or repartition would reshuffle membership). These ops
  * hash a stable key instead: assignment is a pure function of the
  * row key, identical on any cluster layout, any engine.
  */
object SplitOps {

  /** Uniform [0, 2^32) value from the md5 of the key — portable across
    * engines (md5 is everywhere; xxhash64 is Spark-specific).
    */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10).cast(LongType)

  /** Keep a deterministic `fraction` of rows by key hash. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(hashBucket(col(keyCol)) < (fraction * 4294967296.0).toLong)

  /** Neyman-allocation stratified sampling (Neyman 1934): a total
    * budget of `totalSample` rows splits across strata proportional
    * to N_h·σ_h — high-variance strata get MORE than proportional
    * share, minimizing the estimator variance at fixed cost (the
    * survey-sampling optimum; proportional allocation is the σ-blind
    * special case). σ_h comes from exact Decimal moments on the
    * ×1e6 integer lattice (scale cancels in the allocation ratio),
    * per-stratum rates round to 6 decimals (the q81 cross-engine
    * contract) and clamp at 1; membership is the pure md5 function
    * of (key, salt). Zero-variance strata draw nothing — by the
    * optimum they contribute nothing to estimator variance.
    *
    * Returns the per-stratum audit: size, σ, target rate, sampled
    * count. Scale shape: one moment pass, a #strata-row allocation
    * frame broadcast back, one map-only membership filter.
    */
  def neymanSample(df: DataFrame, keyCol: String, groupCol: String,
                   valueCol: String, totalSample: Long,
                   salt: String = "ney"): DataFrame = {
    val dec = DecimalType(38, 0)
    val rows = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__v6", round(col(valueCol) * 1000000).cast(LongType)
        .cast(dec))
    val stats = rows.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum("__v6").as("__sx"),
        sum(col("__v6") * col("__v6")).as("__sxx"))
      .withColumn("__sigma", sqrt(greatest(lit(0.0),
        (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
          .cast(DoubleType) / (col("__n") * col("__n")).cast(DoubleType))))
      .withColumn("__w", col("__n").cast(DoubleType) * col("__sigma"))
    val tot = stats.agg(sum("__w").as("__tw"))
    val alloc = stats.crossJoin(broadcast(tot))
      .withColumn("rate", round(least(lit(1.0),
        when(col("__tw") > 0,
          lit(totalSample.toDouble) * col("__w") /
            (col("__tw") * col("__n").cast(DoubleType)))
          .otherwise(lit(0.0))), 6))
    val sampled = rows
      .join(broadcast(alloc.select(col("__g"), col("rate"))),
        rows(groupCol) === col("__g"))
      .filter(hashBucket(concat(col(keyCol).cast(StringType),
        lit("|" + salt))).cast(DoubleType) / 4294967296.0 < col("rate"))
      .groupBy("__g").agg(count(lit(1)).as("n_sampled"))
    alloc.join(sampled, Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        col("__n").cast(LongType).as("n_rows"),
        round(col("__sigma") / 1000000.0, 6).as("sigma"),
        col("rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** Deterministic stratified (per-group) sampling — the data-MIXING
    * primitive: each group keeps its own fraction, membership is a pure
    * function of (key, salt), so a re-run, a repartition, or a second
    * engine reproduces the sample row-for-row. Map-only: the rate map
    * is a literal, no shuffle, no driver round-trip. Groups absent
    * from `rates` are dropped (rate 0). `salt` decorrelates this
    * sample from other hash-keyed decisions on the same key (e.g. the
    * train/val split).
    */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
                       rates: Map[String, Double],
                       salt: String = "mix"): DataFrame = {
    val r = coalesce(
      try_element_at(typedlit(rates), col(groupCol).cast(StringType)), lit(0.0))
    val b = hashBucket(concat(col(keyCol).cast(StringType), lit("|" + salt)))
      .cast(DoubleType) / 4294967296.0
    df.filter(b < r)
  }

  /** Deterministic EXACT-k per-group sample — eval/holdout-set
    * construction: each group keeps the k rows with the largest
    * salted key hash (a uniform random order that is a pure function
    * of (key, salt), reproducible on any cluster layout or engine).
    * Unlike the rate-based [[stratifiedSample]], output size is
    * exactly min(k, |group|) per group. Returns
    * (groupCol, sample_rank, keyCol).
    *
    * Scale shape: the naive idiom — `row_number().over(partitionBy
    * (group).orderBy(hash))` — serializes every row of a group
    * through one task's sort, the hot-partition shape
    * `tokenBudgetByGroup` shed this round. This uses the bounded-heap
    * aggregate instead: partial aggregation reduces every map
    * partition to ≤ k rows per group BEFORE the shuffle, so the
    * exchange carries k × #groups rows regardless of group skew.
    * Ties in the 32-bit hash break on key ASC (TopKAgg's contract),
    * identically in any engine.
    *
    * Rows with a NULL key are EXCLUDED from the sample (not crashed
    * on): a NULL key has no stable identity to hash, so deterministic
    * membership is undefined for it — and the bounded-heap encoder
    * rejects NULL ids outright (review r8). Fill or filter NULL keys
    * upstream if they must be sampleable.
    */
  def sampleKPerGroup(df: DataFrame, keyCol: String, groupCol: String, k: Int,
                      salt: String = "holdout"): DataFrame = {
    val score = hashBucket(concat(col(keyCol).cast(StringType), lit("|" + salt)))
      .cast(DoubleType)
    df.filter(col(keyCol).isNotNull)
      .select(col(groupCol), col(keyCol), score.as("__score"))
      .groupBy(groupCol)
      .agg(graft.expressions.TopKAgg.topKFor(df.schema(keyCol).dataType, k)(
        col(keyCol), col("__score")).as("__topk"))
      .select(col(groupCol), posexplode(col("__topk")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("sample_rank"),
        col("col.id").as(keyCol))
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis exponential-key method (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"):
    * each row draws u = salted-md5 uniform in (0, 1] and keeps key
    * u^(1/w); the k LARGEST keys are a weighted sample without
    * replacement (inclusion ∝ weight, exactly the reservoir-A-ES
    * semantics). Like every sampler here, membership is a pure
    * function of (key, salt) — engines, layouts, and retries agree
    * row-for-row, and a different salt is an independent redraw.
    *
    * Scale shape: the score is a map-only expression; the global
    * top-k goes through the bounded-heap aggregate (≤ k rows per map
    * partition reach the single final combine — the q97 shape, global
    * instead of per-group). Rows with NULL keys or non-positive /
    * NULL weights are excluded (a weight of 0 has zero inclusion
    * probability; a NULL key has no stable identity to hash).
    *
    * Rank is on the raw double key (the q112 contract — both engines
    * compute the identical pow of identical doubles) with the id
    * tie-break; `es_key` is reported rounded to 6.
    */
  def weightedSampleK(df: DataFrame, keyCol: String, weightCol: String,
                      k: Int, salt: String = "wsample"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (hashBucket(concat(col(keyCol).cast(StringType), lit("|" + salt)))
      .cast(DoubleType) + 1.0) / 4294967296.0
    val esKey = pow(u, lit(1.0) / col(weightCol).cast(DoubleType))
    df.filter(col(keyCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(keyCol), esKey.as("__score"))
      .agg(graft.expressions.TopKAgg.topKFor(df.schema(keyCol).dataType, k)(
        col(keyCol), col("__score")).as("__topk"))
      .select(posexplode(col("__topk")))
      .select((col("pos") + 1).cast("int").as("sample_rank"),
        col("col.id").as(keyCol), round(col("col.score"), 6).as("es_key"))
  }

  /** Deterministic global SHUFFLE position — the training-order
    * primitive: every row gets a dense 1-based position equal to the
    * rank of the salted md5 hash of its key (ties broken by key), a
    * pure function of (key, salt) that any engine or cluster layout
    * reproduces exactly. Changing `salt` yields an independent
    * reshuffle (epoch 2, ablation order, …) with no data movement
    * beyond the rank computation itself.
    *
    * Scale shape: reuses [[graft.operators.DedupOps.globalSurrogateId]]
    * — the hash range splits into 64 uniform buckets (the hash is
    * uniform, so the buckets are balanced), per-bucket totals roll
    * into a broadcast offset table, and the within-bucket windows
    * sort only their own bucket. No single-partition global window.
    */
  def shufflePositions(df: DataFrame, keyCol: String,
                       salt: String = "shuffle",
                       outCol: String = "shuffle_pos"): DataFrame = {
    val hashed = df.withColumn("__sh",
      hashBucket(concat(col(keyCol).cast(StringType), lit("|" + salt))))
    graft.operators.DedupOps.globalSurrogateId(
        hashed, "__sh", Seq(keyCol), outCol, bucketWidth = 1L << 26)
      .drop("__sh")
  }

  /** Temperature-weighted source mixing (the multilingual-pretraining
    * rebalance rule): target share of group g ∝ (n_g / N)^T, realized
    * by downsampling only (largest feasible mix, no upsampling).
    * T = 1 keeps everything (natural mix); T = 0 equalizes groups to
    * the smallest group's size; 0 < T < 1 flattens in between. The
    * per-group counts are a #groups-sized aggregate collected to the
    * driver (languages/sources are dozens at 100 TB, not millions);
    * sampling itself is [[stratifiedSample]] — map-only. Rows with a
    * NULL group have no defined mix share and are excluded — fill or
    * filter them upstream.
    */
  def temperatureMix(df: DataFrame, keyCol: String, groupCol: String,
                     temperature: Double, salt: String = "mix"): DataFrame = {
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast(StringType).as("__g"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stratifiedSample(df, keyCol, groupCol,
      temperatureRates(counts, temperature), salt)
  }

  /** [[temperatureMix]] weighted by TOKENS instead of documents — what
    * a pretraining run actually budgets: the kept-token share of group
    * g targets (tok_g / total)^T, realized as a per-document keep rate
    * (groups of long documents get proportionally lower doc rates).
    */
  def temperatureMixByTokens(df: DataFrame, keyCol: String, groupCol: String,
                             textCol: String, temperature: Double,
                             salt: String = "mix"): DataFrame = {
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast(StringType).as("__g"))
      // all-NULL-text group: sum is NULL -> 0 mass (dropped by the
      // zero-mass guard in temperatureRates, like any empty group)
      .agg(coalesce(
        sum(graft.text.TextOps.tokenCount(col(textCol)).cast("long")), lit(0L))
        .as("__n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stratifiedSample(df, keyCol, groupCol,
      temperatureRates(counts, temperature), salt)
  }

  /** Deterministic per-group sampling WITH REPETITION — rates may
    * exceed 1: a row in group g with rate r is emitted floor(r) times
    * plus one extra copy iff its salted hash falls below frac(r), so
    * expected multiplicity is exactly r and the realized copy count
    * is a pure function of (key, salt) — reproducible on any layout
    * or engine, unlike sample-with-replacement. Output rows carry
    * `copy_id` (0-based) so downstream shuffling/packing can treat
    * copies as distinct examples. Groups absent from `rates` and
    * NULL keys/groups are dropped (same contract as
    * [[stratifiedSample]]).
    *
    * Map-only: the rate map is a literal, the copy fan-out is a
    * per-row sequence explode — no shuffle, no driver round-trip.
    */
  def repeatSample(df: DataFrame, keyCol: String, groupCol: String,
                   rates: Map[String, Double],
                   salt: String = "mix"): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r.isFinite),
      s"rates must be finite and >= 0: $rates")
    val r = coalesce(
      try_element_at(typedlit(rates), col(groupCol).cast(StringType)), lit(0.0))
    val b = hashBucket(concat(col(keyCol).cast(StringType), lit("|" + salt)))
      .cast(DoubleType) / 4294967296.0
    val copies = (floor(r) + when(b < r - floor(r), 1).otherwise(0)).cast("int")
    df.filter(col(keyCol).isNotNull)
      .withColumn("__copies", copies)
      .withColumn("copy_id",
        explode(when(col("__copies") > 0,
            sequence(lit(0), col("__copies") - 1))
          .otherwise(array().cast(ArrayType(IntegerType)))))
      .drop("__copies")
  }

  /** [[temperatureMix]] WITH upsampling — the XLM-R/mT5 rebalance
    * (Conneau et al. 2020 §3.1: sample languages by q_g ∝ (n_g/N)^T):
    * the target TOTAL stays at N rows in expectation, so low-resource
    * groups repeat (rate > 1, deterministic copies via
    * [[repeatSample]]) while high-resource groups downsample — unlike
    * the downsample-only [[temperatureMix]], which shrinks the corpus
    * to stay feasible. T = 1 is an exact identity: every rate is
    * 1.000000 and each row appears once with copy_id 0.
    */
  def temperatureMixUpsampled(df: DataFrame, keyCol: String, groupCol: String,
                              temperature: Double,
                              salt: String = "mix"): DataFrame = {
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast(StringType).as("__g"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    repeatSample(df, keyCol, groupCol,
      temperatureRatesUpsampled(counts, temperature), salt)
  }

  /** Upsampling twin of [[temperatureRates]]: r_g = N·(w_g/Σw)/n_g
    * with NO feasibility clamp — rates above 1 mean repetition. Same
    * 6-decimal rounding contract (membership and copy counts become a
    * function of exact decimals, portable across libm pow
    * implementations).
    */
  private def temperatureRatesUpsampled(counts: Map[String, Long],
                                        temperature: Double): Map[String, Double] = {
    require(temperature >= 0.0 && temperature <= 1.0,
      s"temperature must be in [0,1], got $temperature")
    val live = counts.filter(_._2 > 0L)
    if (live.isEmpty) return Map.empty
    val n = live.values.sum.toDouble
    val w = live.map { case (g, ng) => g -> math.pow(ng / n, temperature) }
    val wSum = w.values.sum
    live.map { case (g, ng) =>
      g -> BigDecimal(n * (w(g) / wSum) / ng)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Shared temperature-to-rates math over any per-group mass (docs or
    * tokens): target share ∝ (mass_g / total)^T, scaled to the largest
    * total consistent with every rate <= 1 (downsample only). Rates
    * are rounded to 6 decimals: membership is then a function of exact
    * decimals, so an independent engine recomputing the rates (its
    * libm pow may differ in the last ulp) reproduces the mix
    * row-for-row.
    */
  private def temperatureRates(counts: Map[String, Long],
                               temperature: Double): Map[String, Double] = {
    require(temperature >= 0.0 && temperature <= 1.0,
      s"temperature must be in [0,1], got $temperature")
    // zero-mass groups contribute nothing to the mix and would poison
    // the math (pow(0,0)=1 drags feasibleTotal to 0); an empty input
    // yields an empty rate map -> everything rate-0 (nothing to keep)
    val live = counts.filter(_._2 > 0L)
    if (live.isEmpty) return Map.empty
    val n = live.values.sum.toDouble
    val w = live.map { case (g, ng) => g -> math.pow(ng / n, temperature) }
    val wSum = w.values.sum
    val feasibleTotal = live.map { case (g, ng) => ng / (w(g) / wSum) }.min
    live.map { case (g, ng) =>
      g -> BigDecimal(math.min(1.0, feasibleTotal * (w(g) / wSum) / ng))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Assign train/val/test (or any named splits) by hash percentile.
    * `splits` are (name, weight) — weights normalised internally.
    */
  def assignSplit(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)] = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
                  outCol: String = "split"): DataFrame = {
    val total = splits.map(_._2).sum
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val b = hashBucket(col(keyCol)).cast(DoubleType) / 4294967296.0
    val assignment = splits.zip(bounds).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(b < hi, lit(name)).otherwise(acc)
    }
    // a NULL key has no defined bucket: every `b < hi` is NULL and the
    // fold's base would silently dump the row in the LAST split —
    // assign NULL instead (hashSample/stratifiedSample drop such rows)
    df.withColumn(outCol,
      when(col(keyCol).isNull, lit(null).cast(StringType)).otherwise(assignment))
  }

  /** Deterministic UNIFORM negative sampling for contrastive
    * training — the random-negative complement of the ANN-based HARD
    * negatives (q120): for each anchor, the k candidates with the
    * smallest md5(anchor|candidate|salt) draw among candidates NOT
    * sharing the anchor's group (the positive class, e.g. same
    * source/query). The draw is a pure function of the ID PAIR, so
    * the sample is reproducible across runs, engines, and cluster
    * layouts, and adding corpus rows never reshuffles the ranking of
    * existing pairs (only displaces tail ranks) — the property that
    * makes epoch-stable negatives possible without storing them.
    *
    * Scale shape: anchors broadcast (they are few — a training batch
    * or eval set); the corpus is scanned ONCE; the per-anchor top-k
    * goes through the bounded-heap aggregate, so each map partition
    * contributes ≤ k rows per anchor to the only shuffle
    * (k × #anchors rows) — never a per-anchor window over the corpus.
    * Ties (impossible for distinct pairs under md5, but defined
    * anyway) break by candidate id ascending.
    */
  def negativeSampleK(anchors: DataFrame, corpus: DataFrame,
                      keyCol: String, groupCol: String, k: Int,
                      salt: String = "neg"): DataFrame = {
    require(k >= 1, "k must be positive")
    val a = broadcast(anchors.select(col(keyCol).as("anchor_id"),
      col(groupCol).as("__ag")))
    val c = corpus.select(col(keyCol).as("neg_id"), col(groupCol).as("__cg"))
    val idType = corpus.schema(keyCol).dataType
    val drawn = a.crossJoin(c)
      .filter(col("anchor_id") =!= col("neg_id"))
      .filter(!(col("__ag") <=> col("__cg")))
      .withColumn("__h", conv(substring(md5(concat(
        col("anchor_id").cast(StringType), lit("|"),
        col("neg_id").cast(StringType), lit("|" + salt))), 1, 8), 16, 10)
        .cast(LongType))
      // u32 fits a double exactly; negation makes the heap's
      // (score desc, id asc) order = (draw asc, id asc)
      .withColumn("__score", -col("__h").cast(DoubleType))
    drawn.groupBy("anchor_id")
      .agg(graft.expressions.TopKAgg.topKFor(idType, k)(
        col("neg_id"), col("__score")).as("__topk"))
      .select(col("anchor_id"), posexplode(col("__topk")))
      .select(col("anchor_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.id").as("neg_id"),
        (-col("col.score")).cast(LongType).as("draw"))
  }

  /** Deterministic k-fold cross-validation assignment with a fold ×
    * label balance report — the pre-training sanity check that hash
    * folds didn't accidentally concentrate a label (which would make
    * per-fold eval scores incomparable). Fold = md5-bucket(key) mod k
    * (the engine-portable [[hashBucket]], a pure function of the key,
    * so fold membership is reproducible across runs, engines, and
    * cluster sizes — no Math.random, no partition-dependent state).
    *
    * Per (fold, label) cell: observed count, fold and label marginal
    * totals, the independence-expected count, and the chi-square
    * contribution — computed as (n·N − fold_n·label_n)² /
    * (N·fold_n·label_n) so the numerator and denominator are EXACT
    * Decimal(38,0) integer products with ONE closing IEEE division
    * (envelope: N ≲ 10⁹ rows keeps (n·N)² < 10³⁸; beyond that, chunk
    * by partition date like every other exact-moment report).
    *
    * Scale shape: one cell aggregation on (fold, label); marginals
    * re-aggregate the CELL frame (k·L rows), never the corpus; the
    * join-back broadcasts k-row / L-row / 1-row frames. NULL keys
    * have no defined bucket and are excluded (the assignSplit rule);
    * NULL labels form their own class.
    */
  def kFoldReport(df: DataFrame, keyCol: String, labelCol: String,
                  k: Int): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    val dec = DecimalType(38, 0)
    val cells = df.filter(col(keyCol).isNotNull)
      .withColumn("fold", (hashBucket(col(keyCol)) % k).cast(IntegerType))
      .withColumn("label", coalesce(col(labelCol).cast(StringType), lit("__null__")))
      .groupBy("fold", "label").agg(count(lit(1)).as("n"))
    cells.persist()
    val foldTot = cells.groupBy("fold").agg(sum(col("n")).as("fold_n"))
    val labTot = cells.groupBy("label").agg(sum(col("n")).as("label_n"))
    val total = cells.agg(sum(col("n")).as("__N"))
    val out = cells
      .join(broadcast(foldTot), "fold")
      .join(broadcast(labTot), "label")
      .crossJoin(broadcast(total))
      .withColumn("expected", round(
        (col("fold_n").cast(dec) * col("label_n").cast(dec)).cast("double") /
          col("__N").cast("double"), 6))
      .withColumn("chi_contrib", round(
        {
          val num = col("n").cast(dec) * col("__N").cast(dec) -
            col("fold_n").cast(dec) * col("label_n").cast(dec)
          (num * num).cast("double") /
            (col("__N").cast(dec) * col("fold_n").cast(dec) *
              col("label_n").cast(dec)).cast("double")
        }, 6))
      .select(col("fold"), col("label"), col("n"), col("fold_n"),
        col("label_n"), col("expected"), col("chi_contrib"))
    graft.state.Checkpoints.stableThenRelease(out, () => cells.unpersist(blocking = false))
  }
}
