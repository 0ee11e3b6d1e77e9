package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Counts-based text classification and importance weighting — the two
  * model-driven curation steps big-corpus pipelines run that are pure
  * aggregation under the hood, so they map onto Spark without any
  * driver-side training loop:
  *
  *  - a multinomial Naive Bayes classifier (the public-knowledge
  *    stand-in for the fastText-style quality/domain classifiers used
  *    to filter web crawls — e.g. GPT-3's Wikipedia-vs-crawl filter):
  *    TRAINING is one token-count aggregation per (label, token) plus
  *    a #labels-row scalar frame; SCORING is one hash-keyed join and a
  *    per-doc aggregate.
  *  - DSIR importance weights (Xie et al. 2023, "Data Selection for
  *    Language Models via Importance Resampling", arXiv:2302.03169):
  *    documents are weighted by the log-likelihood ratio of a TARGET
  *    bag-of-hashed-ngrams model to a RAW one, so resampling by weight
  *    tilts a crawl toward the target distribution. Features are
  *    hashed n-gram buckets exactly as in the paper.
  *
  * Cross-engine reproducibility (the q93 contract): every probability
  * is a ratio of integer counts with a fixed operation order. Add-one
  * smoothing makes absent (label, token) numerator terms contribute
  * ln(0 + 1) = 0, so the sparse count join IS the full smoothed sum:
  *   score(d, l) = lnPrior(l) + Σ_w ln(c(l,w) + 1) − n_d · ln(T_l + V)
  * — the second term needs only the (label, token) pairs that exist,
  * and the third is a per-label scalar. The same identity drives the
  * DSIR weight:
  *   w(d) = Σ_b [ln(c_t(b)+1) − ln(c_r(b)+1)] + n_d·[ln(N_r+B) − ln(N_t+B)].
  *
  * Scale shape: token rows travel keyed on xxhash64 (8-byte keys, the
  * q84/q93 birthday-bound argument); per-label scalars broadcast as a
  * #labels-row frame; the only windows partition by doc id over
  * #labels rows (argmax) — nothing corpus-sized ever serializes
  * through one partition, and nothing but #labels-row frames reaches
  * the driver.
  */
object Classify {

  /** Normalized word tokens — the q80 normalization (lowercase, strip
    * non-letter/number, collapse whitespace), so classification is not
    * punctuation-sensitive and the oracle can reproduce tokenization
    * byte-for-byte.
    */
  private def normTokens(c: Column): Column = {
    val norm = TextOps.normalizeText(c)
    // NULL text folds to the empty token set (a NULL array would make
    // size() report -1 and poison the n_tokens denominator term)
    when(norm.isNull || length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, " "))
  }

  /** A trained multinomial NB model:
    *  - `classes`: one row per label — (label, log_prior = ln(docs_l) −
    *    ln(docs_total), log_denom = ln(T_l + V)) where T_l is the
    *    label's token-occurrence total and V the corpus-wide distinct
    *    vocabulary size (the add-one denominator).
    *  - `tokenLogs`: (w_hash, label, log_c1 = ln(c(l,w) + 1)) for the
    *    OBSERVED pairs only — unseen pairs contribute ln(1) = 0 and
    *    need no row.
    */
  final case class NbModel(classes: DataFrame, tokenLogs: DataFrame)

  /** Character n-grams WITH multiplicity over the q80-normalized text
    * — the multinomial feature set for character-level classification
    * (language ID's classic representation: word features need
    * language-specific tokenizers, character n-grams don't). Unicode
    * is preserved by the normalization; Spark's `length`/`substr`
    * count CODE POINTS (UTF8String indexes UTF-8 characters, not
    * UTF-16 units — CharNgramHashesSpec's astral fixture proves the
    * window arithmetic against a code-point reference), matching
    * DuckDB's code-point semantics on all input including
    * astral-plane characters.
    */
  private def charNgrams(c: Column, n: Int): Column = {
    require(n >= 1, s"char n-gram length must be >= 1, got $n")
    val norm = TextOps.normalizeText(c)
    graft.expressions.ExprOps.bind(coalesce(norm, lit(""))) { s =>
      when(length(s) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(s) - n + 1),
          i => s.substr(i, lit(n))))
    }
  }

  /** Train on labeled documents: one explode + two aggregations + one
    * #labels-row action (the per-label scalars), nothing else on the
    * driver.
    *
    * `minPairCount` is a min-df model floor: (label, feature) pairs
    * observed fewer than that many times are DROPPED from `tokenLogs`
    * (scoring then treats them as unseen — the add-one identity makes
    * that exact: their term falls from ln(c+1) to ln(1) = 0, every
    * retained pair scores unchanged). The per-label totals T_l and the
    * vocabulary size V are computed BEFORE the floor, so `log_denom`
    * is untouched and floored models stay score-comparable to full
    * ones on retained features. Character-n-gram models are heavy-
    * tailed (half the observed grams are near-hapax), so a floor of
    * 2–3 shrinks the model frame — the scoring join's build side —
    * severalfold while moving scores only by dropped ~ln(2) terms that
    * carry no discriminative mass.
    */
  def trainNaiveBayes(docs: DataFrame, labelCol: String,
                      textCol: String, minPairCount: Int = 1): NbModel =
    trainNb(docs, labelCol, normTokens(col(textCol)), minPairCount)

  /** Character-n-gram variant of [[trainNaiveBayes]] — the language-ID
    * configuration. Same model shape, same scoring machinery.
    */
  def trainNaiveBayesChar(docs: DataFrame, labelCol: String,
                          textCol: String, n: Int = 3,
                          minPairCount: Int = 1): NbModel =
    trainNb(docs, labelCol, charNgrams(col(textCol), n), minPairCount)

  private def trainNb(docs: DataFrame, labelCol: String,
                      features: Column, minPairCount: Int = 1): NbModel = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val toks = docs.select(col(labelCol).as("label"),
      explode(features).as("w"))
    // aggregate on the 8-byte xxhash64 of the feature, not the feature
    // string — the shuffle carries fixed-width keys (the q84/q93
    // birthday-bound argument), and scoring joins on the same hash
    // anyway; V (distinct hashes) equals distinct features absent a
    // 64-bit collision
    val pair = toks.groupBy(col("label"), xxhash64(col("w")).as("w_hash"))
      .agg(count(lit(1)).as("c"))
    buildNb(docs, labelCol, pair, minPairCount)
  }

  /** The model build of [[trainNb]] and [[trainScoreSelfChar]] from the
    * (label, w_hash, c) pair-count frame `pair`, which is persisted for
    * the build and released after it, also when the build throws.
    */
  private def buildNb(docs: DataFrame, labelCol: String, pair: DataFrame,
                      minPairCount: Int): NbModel = {
    pair.persist()
    try {
      val v = pair.select("w_hash").distinct().count()
      val docCounts = docs.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("nd"))
      val total = docs.count()
      require(total > 0 && v > 0, "training corpus is empty")
      val classes = pair.groupBy("label").agg(sum("c").as("tl"))
        // a label whose docs all normalize to zero tokens still needs a
        // class row (T_l = 0): right join keeps it, tl coalesces
        .join(docCounts, Seq("label"), "right")
        .select(col("label"),
          (log(col("nd").cast("double")) - log(lit(total.toDouble))).as("log_prior"),
          log(coalesce(col("tl"), lit(0L)).cast("double") + v.toDouble).as("log_denom"))
        // model frames are MODEL-sized (#labels and #(label, token)
        // observed pairs): the localCheckpoint barrier materializes both
        // while `pair` is cached, releases the training cache here, and
        // leaves the model resident for the scoring joins it exists for
        .transform(graft.state.Checkpoints.stable)
      val floored =
        if (minPairCount > 1) pair.filter(col("c") >= minPairCount) else pair
      val tokenLogs = floored.select(col("w_hash"), col("label"),
        log(col("c").cast("double") + 1.0).as("log_c1"))
        .transform(graft.state.Checkpoints.stable)
      NbModel(classes, tokenLogs)
    } finally pair.unpersist()
  }

  /** Score documents and pick the argmax label: (idCol, pred_label,
    * score rounded to 6, n_tokens). Zero-token documents score on the
    * prior alone (every token term vanishes), and the (score DESC,
    * label ASC) tie-break makes the argmax deterministic — ties can
    * only arise from IDENTICALLY-computed doubles (equal priors), so
    * the rule is engine-portable.
    */
  def scoreNaiveBayes(docs: DataFrame, idCol: String, textCol: String,
                      model: NbModel, argmaxRound6: Boolean = false): DataFrame =
    scoreNb(docs, idCol, normTokens(col(textCol)), model, argmaxRound6)

  /** Character-n-gram scorer pairing [[trainNaiveBayesChar]]. */
  def scoreNaiveBayesChar(docs: DataFrame, idCol: String, textCol: String,
                          model: NbModel, n: Int = 3): DataFrame =
    scoreNb(docs, idCol, charNgrams(col(textCol), n), model)

  /** `argmaxRound6` quantizes the argmax ORDER key to the integer
    * lattice floor(score·1e6 + 0.5): the raw score is a multi-term fp
    * sum whose accumulation order differs between engines and between
    * runs, so two labels separated by less than the fp-order noise
    * (~1e-12) can argmax-flip across engines; on the lattice such
    * near-ties collapse to equal keys and break deterministically on
    * the label. The key deliberately avoids `round(x, 6)` — round-on-
    * double is itself engine-implemented rounding (a score landing on
    * a half-way boundary can key-split across engine versions), the
    * exact surface the r12 doctrine removed from dimProfile; floor of
    * a scaled double is pure ieee754 arithmetic both engines share
    * (ADVICE r12). Default off — the single-model scorers' raw argmax
    * is the established oracle contract.
    */
  private def scoreNb(docs: DataFrame, idCol: String, features: Column,
                      model: NbModel, argmaxRound6: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol), features.as("__t"))
      .select(col(idCol), size(col("__t")).as("n_tokens"), col("__t"))
    // pre-aggregate to DISTINCT features per doc before the model
    // join: the join fan-out is (#labels carrying the feature) per
    // row, so collapsing within-doc repeats first divides the joined
    // row count by the repetition factor (char n-grams repeat a lot);
    // the per-occurrence sum Σ log_c1 becomes the sparse dot product
    // Σ count·log_c1
    val tokRows = base.select(col(idCol), explode(col("__t")).as("w"))
      .groupBy(col(idCol), xxhash64(col("w")).as("w_hash"))
      .agg(count(lit(1)).as("__n"))
    scoreRows(base.drop("__t"), tokRows, idCol, model, argmaxRound6)
  }

  /** The scoring of [[scoreNb]] and [[trainScoreSelfChar]]: `base` is
    * (idCol, n_tokens) with one row per document, `tokRows` the
    * (idCol, w_hash, __n) within-document feature counts.
    */
  private def scoreRows(base: DataFrame, tokRows: DataFrame, idCol: String,
                        model: NbModel, argmaxRound6: Boolean): DataFrame = {
    val sparse = tokRows.join(model.tokenLogs, "w_hash")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__n").cast("double") * col("log_c1")).as("__num"))
    val dense = base
      .crossJoin(broadcast(model.classes))
      .join(sparse, Seq(idCol, "label"), "left")
      .withColumn("__score", col("log_prior") + coalesce(col("__num"), lit(0.0))
        - col("n_tokens").cast("double") * col("log_denom"))
    val argmaxKey =
      if (argmaxRound6) floor(col("__score") * lit(1e6d) + lit(0.5d))
      else col("__score")
    val w = Window.partitionBy(idCol).orderBy(argmaxKey.desc, col("label").asc)
    dense.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("pred_label"),
        round(col("__score"), 6).as("score"),
        col("n_tokens").cast("long").as("n_tokens"))
  }

  /** Fused self-train-and-score for the SELF-SUPERVISED configuration
    * (language-ID bootstrapping, quality-gating a corpus on its own
    * labels — the q131 shape): semantically identical to
    * [[trainNaiveBayesChar]] followed by [[scoreNaiveBayesChar]] on
    * the same documents, but the char-n-gram explode + hash — the
    * corpus-sized cost that dominates both stages — runs ONCE into a
    * persisted (id, label, w_hash) frame shared by the training
    * aggregation and the scoring join (measured: the separate-stage
    * form pays the explode twice, ~2× the corpus-pass cost of this).
    * The per-doc token total is recovered as Σ within-doc counts from
    * the (id, w_hash) pre-aggregate — equal by construction to the
    * gram-array size the unfused scorer uses — and zero-gram
    * documents (empty/NULL text) re-enter via a left join to score on
    * the prior alone, exactly as in [[scoreNb]]. The cache is
    * released before returning; the result is checkpoint-backed so it
    * does not recompute through the released cache.
    */
  def trainScoreSelfChar(docs: DataFrame, labelCol: String, idCol: String,
                         textCol: String, n: Int = 3,
                         minPairCount: Int = 1): DataFrame = {
    require(minPairCount >= 1, "minPairCount must be >= 1")
    // the fused normalize→gram→hash expression emits hash values
    // bit-equal to xxhash64(substr(normalizeText(s), i, n)) in one
    // string pass (CharNgramHashesSpec asserts the equality
    // elementwise), so this frame is identical to the composed-chain
    // form, just cheaper to produce
    val g = docs
      .select(col(idCol), col(labelCol).as("label"),
        explode(graft.expressions.CharNgramHashes.column(col(textCol), n))
          .as("w_hash"))
      .persist()

    val tokRows = g.groupBy(col(idCol), col("w_hash"))
      .agg(count(lit(1)).as("__n"))
    try {
      // ---- training (the trainNb build, reading the shared frame)
      // (round-17 probed overlapping the vocab/doc counts and the two
      // model checkpoints via Par.build — NEUTRAL on A/B at sf0.1
      // (q131 +0.2 s, q118 +0.1 s); reverted, serial kept)
      val pair = g.groupBy(col("label"), col("w_hash"))
        .agg(count(lit(1)).as("c"))
      val model = buildNb(docs, labelCol, pair, minPairCount)

      // ---- scoring (the scoreNb pipeline, reading the shared frame)
      tokRows.persist()
      val perDoc = tokRows.groupBy(col(idCol)).agg(sum("__n").as("__nt"))
      val base = docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__nt"), lit(0L)).as("n_tokens"))
      // the model is internal: nothing reads its cuts after this one
      graft.state.Checkpoints.stableThenRelease(
        scoreRows(base, tokRows, idCol, model, argmaxRound6 = false), () => {
          graft.state.Checkpoints.release(model.classes)
          graft.state.Checkpoints.release(model.tokenLogs)
        })
    } finally {
      tokRows.unpersist(blocking = false)
      g.unpersist(blocking = false)
    }
  }

  /** Group-distinctive terms — the "Fightin' Words" method (Monroe,
    * Colaresi & Quinn 2008, "Fightin' Words: Lexical Feature Selection
    * and Evaluation for Identifying the Content of Political
    * Conflict"): for each (group, word), the z-scored log-odds ratio
    * of the word's rate in the group vs the REST of the corpus, under
    * an informative Dirichlet prior proportional to corpus-wide
    * counts. The standard answer to "which words characterize
    * subcorpus X" — raw frequency ratios overweight rare words; the
    * prior and the variance term fix exactly that.
    *
    * With y_gw = count of w in group g, n_g = group token total,
    * y_w / N the corpus-wide analogs, and prior a_w = a0·y_w/N:
    *   d = ln[(y_gw + a_w) / (n_g + a0 − y_gw − a_w)]
    *     − ln[(y'_w + a_w) / (n' + a0 − y'_w − a_w)]   (primes = rest)
    *   z = d / sqrt(1/(y_gw + a_w) + 1/(y'_w + a_w))
    * Every input is an integer count; the formula is fixed-order
    * arithmetic on doubles, so scores reproduce cross-engine (the q93
    * contract). Returns the top `k` words per group by (z rounded to
    * 6) DESC with a word tie-break — the q121 rank rule.
    *
    * Scale shape: one token explode → one (group, word) count with
    * map-side combine; corpus-wide word counts derive from it
    * (#groups-fold smaller); group totals are a #groups-row broadcast;
    * the rest-of-corpus counts are pure subtractions. The per-group
    * top-k runs on the bounded-heap [[graft.expressions.TopKAgg]] —
    * partial aggregation reduces every map partition to ≤ k rows per
    * group BEFORE the shuffle, so a web-scale group's observed
    * vocabulary (Heaps-law 10⁸–10⁹ distinct tokens for an "en" slice
    * of a 100 TB corpus) never serializes through one task the way a
    * `Window.partitionBy(group)` rank would. The count columns ride
    * back via a broadcast join of the k×#groups winner list against
    * the scored frame — one map-side pass, no extra shuffle.
    */
  def distinctiveTerms(docs: DataFrame, groupCol: String, textCol: String,
                       k: Int, priorMass: Double = 500.0): DataFrame =
    distinctiveTermsImpl(docs, groupCol, textCol, k, priorMass, heap = true)

  /** Un-materialized form of the heap variant: returns the result
    * frame BEFORE the localCheckpoint barrier plus the cache handles
    * the caller must release. Exposed so PlanShapeSpec can assert the
    * actual physical plan (the public method's checkpoint collapses it
    * to a LogicalRDD scan, which would make a "no Window" assertion
    * vacuous).
    */
  private[graft] def distinctiveTermsBuild(
      docs: DataFrame, groupCol: String, textCol: String,
      k: Int, priorMass: Double = 500.0): (DataFrame, Seq[DataFrame]) =
    distinctiveTermsBuildImpl(docs, groupCol, textCol, k, priorMass, heap = true)

  /** Window-rank reference form of [[distinctiveTerms]] — kept ONLY as
    * the spec's equivalence oracle (ClassifySpec skew fixture); its
    * per-group window serializes a group's whole vocabulary through one
    * task, which is exactly what the heap form exists to avoid. Not
    * wired to any query.
    */
  private[graft] def distinctiveTermsWindowed(
      docs: DataFrame, groupCol: String, textCol: String,
      k: Int, priorMass: Double = 500.0): DataFrame =
    distinctiveTermsImpl(docs, groupCol, textCol, k, priorMass, heap = false)

  private def distinctiveTermsImpl(docs: DataFrame, groupCol: String,
                                   textCol: String, k: Int,
                                   priorMass: Double, heap: Boolean): DataFrame = {
    val (built, caches) =
      distinctiveTermsBuildImpl(docs, groupCol, textCol, k, priorMass, heap)
    graft.state.Checkpoints.stableThenRelease(built,
      () => caches.foreach(_.unpersist()))
  }

  private def distinctiveTermsBuildImpl(
      docs: DataFrame, groupCol: String, textCol: String, k: Int,
      priorMass: Double, heap: Boolean): (DataFrame, Seq[DataFrame]) = {
    require(k > 0 && priorMass > 0, "k and priorMass must be positive")
    val toks = docs.select(col(groupCol).as("group"),
      explode(normTokens(col(textCol))).as("w"))
    val gw = toks.groupBy("group", "w").agg(count(lit(1)).as("ygw"))
    gw.persist()
    val wTot = gw.groupBy("w").agg(sum("ygw").as("yw"))
    val gTot = gw.groupBy("group").agg(sum("ygw").as("ng"))
    val nTotal = gw.agg(coalesce(sum("ygw"), lit(0L))).head().getLong(0)
    require(nTotal > 0, "corpus has no tokens")
    val a0 = lit(priorMass)
    val aw = a0 * col("yw").cast("double") / nTotal.toDouble
    val scored = gw
      .join(wTot, "w")
      .join(broadcast(gTot), "group")
      .withColumn("__aw", aw)
      .withColumn("__yrest", (col("yw") - col("ygw")).cast("double"))
      .withColumn("__nrest", lit(nTotal.toDouble) - col("ng").cast("double"))
      .withColumn("__d",
        log((col("ygw").cast("double") + col("__aw")) /
          (col("ng").cast("double") + a0 - col("ygw").cast("double") - col("__aw")))
          - log((col("__yrest") + col("__aw")) /
            (col("__nrest") + a0 - col("__yrest") - col("__aw"))))
      // e6 lattice (also the ranking key below — both engines rank on
      // the identical quantized value): the log-odds difference
      // cancels to a ±ε residue for a term distributed exactly at the
      // corpus rate — the signed-zero round() hazard (VERDICT r15 #2)
      .withColumn("z", graft.functions.Lattice.e6(col("__d") /
        sqrt(lit(1.0) / (col("ygw").cast("double") + col("__aw"))
          + lit(1.0) / (col("__yrest") + col("__aw")))))
    val (ranked, caches) =
      if (heap) {
        // (z DESC, w ASC-by-UTF8) is TopKAgg's exact ordering, and
        // (group, w) is unique in `scored`, so the heap winners are
        // row-identical to the window rank. scored is consumed twice
        // (heap pass + count-recovery join) — persist it, not just gw.
        scored.persist()
        val winners = scored.groupBy("group")
          .agg(graft.expressions.TopKAgg.topKFor(StringType, k)(
            col("w"), col("z")).as("__top"))
          .select(col("group"), explode(col("__top")).as("__e"))
          .select(col("group"), col("__e.id").as("w"))
        (scored.join(broadcast(winners), Seq("group", "w")), Seq(gw, scored))
      } else {
        val w = Window.partitionBy("group").orderBy(col("z").desc, col("w").asc)
        (scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k),
          Seq(gw))
      }
    val out = ranked
      .select(col("group").as(groupCol), col("w").as("term"),
        col("ygw").as("n_in_group"), col("yw").as("n_corpus"), col("z"))
    (out, caches)
  }

  /** DSIR importance weights: ln p_target(d) − ln p_raw(d) under
    * add-one-smoothed bag-of-hashed-ngram models (unigrams + bigrams,
    * the paper's feature set), divided by nothing — the raw
    * log-ratio, which downstream resampling (the existing
    * stratified/temperature/top-k samplers) consumes directly.
    *
    * The hash bucket is the engine-portable md5-prefix formula every
    * split/sampling operator here uses (q48): an n-gram lands in
    * bucket `md5_32(gram) mod buckets`, so DuckDB reproduces the
    * features exactly — a xxhash64 bucket would be Spark-only.
    *
    * Returns (idCol, n_features, weight rounded to 6) for every
    * corpus document, zero-feature docs included (their weight is
    * 0.0 — both models assign them log-probability 0).
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def featureRows(df: DataFrame, extra: Seq[Column]): DataFrame = {
      val t = df.select(extra :+ normTokens(col(textCol)).as("__t"): _*)
      val unis = t.select(extra :+ explode(col("__t")).as("__g"): _*)
      val bis = t.filter(size(col("__t")) >= 2)
        .select(extra :+ explode(expr(
          "transform(sequence(0, size(__t) - 2), i -> concat(__t[i], ' ', __t[i + 1]))"))
          .as("__g"): _*)
      unis.unionByName(bis)
        .withColumn("__b",
          graft.operators.SplitOps.hashBucket(col("__g")) % buckets)
        .drop("__g")
    }
    def bucketCounts(rows: DataFrame): DataFrame =
      rows.groupBy("__b").agg(count(lit(1)).as("c"))
    val rawRows = featureRows(corpus, Seq(col(idCol)))
    rawRows.persist()
    val rawCounts = bucketCounts(rawRows.select("__b"))
    val tgtCounts = bucketCounts(featureRows(target, Seq.empty))
    val nr = rawRows.count()
    val nt = tgtCounts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    // per-doc constant: n_d · [ln(N_r + B) − ln(N_t + B)]
    val perFeat = lit(math.log(nr.toDouble + buckets) - math.log(nt.toDouble + buckets))
    val scored = rawRows
      .join(tgtCounts.withColumnRenamed("c", "__ct"), Seq("__b"), "left")
      .join(rawCounts.withColumnRenamed("c", "__cr"), Seq("__b"), "left")
      .select(col(idCol),
        (log(coalesce(col("__ct"), lit(0L)).cast("double") + 1.0)
          - log(coalesce(col("__cr"), lit(0L)).cast("double") + 1.0)).as("__d"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_features"), sum("__d").as("__s"))
    val out = corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        // e6 lattice: a DSIR weight is a fp sum of signed log ratios —
        // identical target/raw distributions cancel it to a ±ε
        // residue (VERDICT r15 #2)
        graft.functions.Lattice.e6(coalesce(col("__s"), lit(0.0))
          + coalesce(col("n_features"), lit(0L)).cast("double") * perFeat)
          .as("weight"))
      // doc-sized result: the q88 localCheckpoint barrier materializes
      // it while the feature frame is still cached, so the cache can be
      // released HERE instead of leaking a handle to the caller
    graft.state.Checkpoints.stableThenRelease(out, () => rawRows.unpersist())
  }

  /** Per-truth-class evaluation report from (truth, prediction) rows:
    * confusion-matrix marginals → precision / recall / F1. Exact
    * integer counts, single IEEE divisions, one fixed-order F1
    * expression; precision and F1 are NULL for a class the model
    * never predicts (no honest ratio exists), recall 0 when it never
    * hits. Rows cover TRUTH classes; a predicted-only label (e.g.
    * 'und') appears in no row but drains others' precision through
    * the column marginal it does not contribute to — the standard
    * convention. Scale shape: three class-sized aggregations of the
    * (truth, pred) count matrix — #classes² rows at most.
    */
  def confusionReport(df: DataFrame, truthCol: String,
                      predCol: String): DataFrame = {
    val cm = df.groupBy(col(truthCol).as("__t"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n"))
    cm.persist()
    val rows = cm.groupBy(col("__t")).agg(sum("__n").as("n_docs"))
    val cols = cm.groupBy(col("__p").as("__t")).agg(sum("__n").as("__pred"))
    val tp = cm.filter(col("__t") === col("__p"))
      .select(col("__t"), col("__n").as("__tp"))
    val p = col("__tp").cast("double") / col("__pred").cast("double")
    val r = col("__tp").cast("double") / col("n_docs").cast("double")
    val out = rows
      .join(cols, Seq("__t"), "left")
      .join(tp, Seq("__t"), "left")
      .withColumn("__tp", coalesce(col("__tp"), lit(0L)))
      .select(col("__t").as(truthCol), col("n_docs"),
        col("__tp").as("n_correct"),
        round(when(col("__pred").isNotNull && col("__pred") > 0, p), 6)
          .as("precision"),
        round(r, 6).as("recall"),
        round(when(col("__pred").isNotNull && col("__pred") > 0 &&
          (p + r) > 0, lit(2.0) * p * r / (p + r)), 6).as("f1"))
    graft.state.Checkpoints.stableThenRelease(out, () => cm.unpersist(blocking = false))
  }

  /** Cohen's kappa from (truth, prediction) rows — agreement
    * corrected for chance, with pe built from the EXACT integer
    * marginal-product sum Σ n₁ᵢ·n₂ᵢ (a Long sum — no float
    * accumulation; exact while Σ < 2⁶³, i.e. n < ~3·10⁹ rows) and
    * one closing fixed-order expression. kappa is NULL when chance
    * agreement is total (pe = 1 — a single shared class).
    */
  def cohenKappa(df: DataFrame, truthCol: String,
                 predCol: String): DataFrame = {
    val sc = df.select(col(truthCol).as("__t"), col(predCol).as("__p"))
    sc.persist()
    val n = sc.agg(count(lit(1)).as("n_docs"),
      sum(when(col("__t") === col("__p"), 1L).otherwise(0L)).as("n_agree"))
    val m1 = sc.groupBy(col("__t").as("__l")).agg(count(lit(1)).as("__n1"))
    val m2 = sc.groupBy(col("__p").as("__l")).agg(count(lit(1)).as("__n2"))
    val pe = m1.join(m2, "__l")
      .agg(coalesce(sum(col("__n1") * col("__n2")), lit(0L)).as("__s"))
    val po = col("n_agree").cast("double") / col("n_docs").cast("double")
    val peD = col("__s").cast("double") /
      (col("n_docs").cast("double") * col("n_docs").cast("double"))
    val out = n.crossJoin(pe)
      .select(col("n_docs"), col("n_agree"),
        round(po, 6).as("po"), round(peD, 6).as("pe"),
        // e6 lattice: kappa's po − pe is a fp difference that cancels
        // to a ±ε residue at chance-level agreement — the signed-zero
        // round() hazard (VERDICT r15 #2); po/pe stay round(): single
        // correctly-rounded divisions of counts, never negative
        graft.functions.Lattice.e6(
          when(peD < 1.0, (po - peD) / (lit(1.0) - peD))).as("kappa"))
    graft.state.Checkpoints.stableThenRelease(out, () => sc.unpersist(blocking = false))
  }
}
