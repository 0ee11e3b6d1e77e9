package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style language-model quality scoring (Wenzek et al. 2020,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web
  * Crawl Data", arXiv:1911.00359): documents are scored by the
  * perplexity of an n-gram LM trained on a reference corpus — fluent
  * text scores low, gibberish/boilerplate scores high, and the score
  * drives the head/middle/tail quality buckets. CCNet runs a KenLM
  * 5-gram; the Spark-first analog is an interpolated bigram LM whose
  * TRAINING is two hash-keyed aggregations over the reference corpus
  * and whose SCORING is two hash-keyed left joins — no model file, no
  * driver-side state beyond two scalars (token count, vocab size)
  * collected once at train time.
  *
  * Model: P(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·(c(w2)+1)/(N+V)
  * — maximum-likelihood bigram interpolated with an add-one-smoothed
  * unigram, so unseen bigrams (and OOV words, via the +1) keep
  * nonzero mass. Perplexity = exp(mean over the document's bigrams of
  * −ln P). Every quantity is a ratio of counts in IEEE double with a
  * fixed operation order, so any engine recomputing the same formula
  * reproduces the scores (the q93 oracle does, to 6/4 decimals).
  *
  * Scale shape: model rows travel keyed on xxhash64 of the gram — an
  * 8-byte join key regardless of gram-string length (same 64-bit
  * birthday-bound argument as the dup-span family); scoring explodes
  * each document to its bigram rows (map-side ~1 row/token), joins
  * the two model frames (Spark broadcasts them when small, shuffles
  * otherwise — both correct), and aggregates per doc. Nothing
  * quadratic, nothing driver-side at score time.
  */
object NgramLm {

  /** A trained model: `bigrams` = (bg_hash, cond = c(w1,w2)/c(w1)),
    * `unigrams` = (w_hash, uni = (c(w)+1)/(N+V)), `oovUni` =
    * 1/(N+V) (the add-one mass for a word never seen in training),
    * `lambda` / `uniLambda` = interpolation weights on the bigram and
    * unigram terms. `uniLambda` is carried EXPLICITLY rather than
    * derived as `1.0 - lambda`: the IEEE result of 1.0 − 0.9 is two
    * ulps from the literal 0.1 the documented formula (and the q93
    * oracle) uses, and the cross-engine-reproducibility contract
    * requires both engines to multiply by the same double
    * (review r8).
    */
  final case class BigramLm(bigrams: DataFrame, unigrams: DataFrame,
                            oovUni: Double, lambda: Double, uniLambda: Double)

  /** Normalized word tokens (the q80 normalization: lowercase, strip
    * non-letter/number, collapse whitespace) — scoring must not be
    * punctuation-sensitive.
    */
  private def normTokens(c: Column): Column = {
    val norm = TextOps.normalizeText(c)
    when(length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, " "))
  }

  private def bigramRows(df: DataFrame, textCol: String,
                         extra: Seq[Column]): DataFrame = {
    val toks = normTokens(col(textCol))
    df.select(extra :+ toks.as("__t"): _*)
      .filter(size(col("__t")) >= 2)
      .select(extra :+ posexplode(expr(
        "transform(sequence(0, size(__t) - 2), i -> struct(__t[i] AS w1, __t[i + 1] AS w2))")): _*)
      .select(extra ++ Seq(col("col.w1").as("w1"), col("col.w2").as("w2")): _*)
  }

  /** Train on a reference corpus. Two aggregations (unigram, bigram
    * counts) + one O(1) scalar action for (N, V); conditional and
    * smoothed-unigram probabilities are precomputed so scoring joins
    * carry one double per model row.
    */
  def trainBigramLm(ref: DataFrame, textCol: String,
                    lambda: Double = 0.9,
                    uniLambda: Double = 0.1): BigramLm = {
    require(math.abs(lambda + uniLambda - 1.0) < 1e-9,
      s"interpolation weights must sum to 1: $lambda + $uniLambda")
    val toks = ref.select(explode(normTokens(col(textCol))).as("w"))
    val uniCounts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val nv = uniCounts.agg(sum("c").as("n"), count(lit(1)).as("v")).head()
    val n = nv.getLong(0); val v = nv.getLong(1)
    require(n > 0, "reference corpus has no tokens")
    val unigrams = uniCounts.select(
      xxhash64(col("w")).as("w_hash"),
      ((col("c") + 1).cast("double") / (n + v).toDouble).as("uni"))
    val bi = bigramRows(ref, textCol, Seq.empty)
    val bigrams = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .join(uniCounts.withColumnsRenamed(Map("w" -> "w1", "c" -> "c1")), "w1")
      .select(xxhash64(col("w1"), col("w2")).as("bg_hash"),
        (col("c12").cast("double") / col("c1").cast("double")).as("cond"))
    BigramLm(bigrams, unigrams, 1.0 / (n + v).toDouble, lambda, uniLambda)
  }

  /** A trained stupid-backoff trigram model (Brants et al. 2007,
    * "Large Language Models in Machine Translation": the score that
    * made web-scale n-gram LMs tractable — no discounting, no
    * normalization, a fixed backoff penalty α per level):
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)            if the trigram is seen
    *              = α·S(w3|w2)                    otherwise
    *   S(w3|w2)   = c(w2w3)/c(w2)                 if the bigram is seen
    *              = α·(c(w3)+1)/(N+V)             otherwise
    * (the unigram floor is add-one smoothed — Brants uses c(w)/N, which
    * is zero for OOV words and would make −ln S undefined; the +1 keeps
    * the score total while changing seen-unigram mass by < 1/N).
    * Ratio frames carry one double per OBSERVED n-gram, keyed on the
    * 8-byte xxhash64 of the gram — unseen grams back off via the left
    * join's NULL, so the sparse count frames ARE the full model.
    */
  final case class StupidBackoffLm(trigrams: DataFrame, bigrams: DataFrame,
                                   unigrams: DataFrame, oovUni: Double,
                                   alpha: Double)

  private def trigramRows(df: DataFrame, textCol: String,
                          extra: Seq[Column]): DataFrame = {
    val toks = normTokens(col(textCol))
    df.select(extra :+ toks.as("__t"): _*)
      .filter(size(col("__t")) >= 3)
      .select(extra :+ explode(expr(
        "transform(sequence(0, size(__t) - 3), i -> struct(__t[i] AS w1, __t[i + 1] AS w2, __t[i + 2] AS w3))"))
        .as("__g"): _*)
      .select(extra ++ Seq(col("__g.w1").as("w1"), col("__g.w2").as("w2"),
        col("__g.w3").as("w3")): _*)
  }

  /** Train a stupid-backoff trigram model: three hash-keyed count
    * aggregations (unigram, bigram, trigram) + one O(1) scalar action
    * for (N, V). Each ratio is precomputed at train time so scoring
    * joins carry one double per model row; the division order is fixed
    * (c_high.cast(double) / c_low.cast(double)), the cross-engine
    * contract the q93/q177 oracles replay.
    */
  def trainStupidBackoff(ref: DataFrame, textCol: String,
                         alpha: Double = 0.4): StupidBackoffLm = {
    require(alpha > 0 && alpha < 1, s"backoff penalty must be in (0,1): $alpha")
    val toks = ref.select(explode(normTokens(col(textCol))).as("w"))
    val uniCounts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val nv = uniCounts.agg(sum("c").as("n"), count(lit(1)).as("v")).head()
    val n = nv.getLong(0); val v = nv.getLong(1)
    require(n > 0, "reference corpus has no tokens")
    val unigrams = uniCounts.select(
      xxhash64(col("w")).as("u_hash"),
      ((col("c") + 1).cast("double") / (n + v).toDouble).as("uni"))
    val biCounts = bigramRows(ref, textCol, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val bigrams = biCounts
      .join(uniCounts.withColumnsRenamed(Map("w" -> "w1", "c" -> "c1")), "w1")
      .select(xxhash64(col("w1"), col("w2")).as("b_hash"),
        (col("c12").cast("double") / col("c1").cast("double")).as("r2"))
    val trigrams = trigramRows(ref, textCol, Seq.empty)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .join(biCounts, Seq("w1", "w2"))
      .select(xxhash64(col("w1"), col("w2"), col("w3")).as("t_hash"),
        (col("c123").cast("double") / col("c12").cast("double")).as("r3"))
    StupidBackoffLm(trigrams, bigrams, unigrams,
      1.0 / (n + v).toDouble, alpha)
  }

  /** Score documents under stupid backoff: (idCol, n_trigrams,
    * avg_nls rounded to 6, sbo_ppl rounded to 4) where avg_nls is the
    * mean −ln S over the document's trigram positions. Documents with
    * fewer than three normalized tokens have no trigram positions and
    * are excluded, mirroring [[scorePerplexity]]'s bigram rule.
    *
    * Scale shape: one map-side explode (~1 row/token), three LEFT
    * joins keyed on 8-byte gram hashes (broadcast when the model is
    * small, shuffled otherwise — both correct), one per-doc aggregate.
    * The backoff cascade is a coalesce chain, evaluated per row with
    * no branching state.
    */
  def scoreStupidBackoff(docs: DataFrame, idCol: String, textCol: String,
                         lm: StupidBackoffLm): DataFrame = {
    val rows = trigramRows(docs, textCol, Seq(col(idCol)))
      .select(col(idCol),
        xxhash64(col("w1"), col("w2"), col("w3")).as("t_hash"),
        xxhash64(col("w2"), col("w3")).as("b_hash"),
        xxhash64(col("w3")).as("u_hash"))
    val s = coalesce(col("r3"),
      lit(lm.alpha) * coalesce(col("r2"),
        lit(lm.alpha) * coalesce(col("uni"), lit(lm.oovUni))))
    rows
      .join(lm.trigrams, Seq("t_hash"), "left")
      .join(lm.bigrams, Seq("b_hash"), "left")
      .join(lm.unigrams, Seq("u_hash"), "left")
      .select(col(idCol), (-log(s)).as("__nls"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("__nls")), 6).as("avg_nls"),
        round(exp(avg(col("__nls"))), 4).as("sbo_ppl"))
  }

  /** Score documents against a trained model: (idCol, n_bigrams,
    * avg_nll rounded to 6, ppl rounded to 4). Documents with fewer
    * than two normalized tokens have no bigrams and are excluded —
    * an LM score for them is undefined, and the caller's quality
    * gates already handle ultra-short docs.
    */
  def scorePerplexity(docs: DataFrame, idCol: String, textCol: String,
                      lm: BigramLm): DataFrame = {
    val rows = bigramRows(docs, textCol, Seq(col(idCol)))
      .select(col(idCol), xxhash64(col("w1"), col("w2")).as("bg_hash"),
        xxhash64(col("w2")).as("w_hash"))
    val p = lit(lm.lambda) * coalesce(col("cond"), lit(0.0)) +
      lit(lm.uniLambda) * coalesce(col("uni"), lit(lm.oovUni))
    rows
      .join(lm.bigrams, Seq("bg_hash"), "left")
      .join(lm.unigrams, Seq("w_hash"), "left")
      .select(col(idCol), (-log(p)).as("__nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"),
        round(exp(avg(col("__nll"))), 4).as("ppl"))
  }

  /** A trained Kneser–Ney bigram model (Kneser & Ney 1995; the
    * discounting that makes KenLM's scores what they are — the
    * unigram back-off weight is CONTINUATION probability, "how many
    * distinct contexts does this word follow", not raw frequency, so
    * "Francisco" stops looking probable everywhere just because
    * "San Francisco" is frequent):
    *   P(w2|w1) = (max(c12 − D, 0) + D·N1+(w1·)·Pcont(w2)) / c1b(w1)
    *              when w1 heads at least one observed bigram,
    *            = Pcont(w2) otherwise (OOV / document-final-only head)
    *   Pcont(w2) = (N1+(·w2) + 1) / (B + Vc)   — add-one floored so a
    *   never-continuing word keeps nonzero mass (1/(B+Vc))
    * with c1b(w1) = Σ_w c(w1,w) (the bigram-position marginal — NOT
    * the unigram count, which over-counts document-final tokens),
    * N1+(w1·)/N1+(·w2) the distinct-continuation fan-outs, B the
    * observed bigram-type count, Vc the distinct-continuation vocab,
    * and D the absolute discount (0.75, the textbook constant, kept
    * LITERAL on both engines). Every quantity is a ratio of exact
    * counts combined in one fixed operation order, so an independent
    * engine replays the scores bit-for-bit to the rounded outputs.
    *
    * Scale shape: training is three hash-keyed aggregations of the
    * bigram frame + two O(1) scalars; scoring is the [[scorePerplexity]]
    * shape — explode to bigram rows, three 8-byte-keyed left joins,
    * one per-doc aggregate.
    */
  final case class KneserNeyLm(bigrams: DataFrame, heads: DataFrame,
                               cont: DataFrame, contFloor: Double,
                               discount: Double)

  def trainKneserNey(ref: DataFrame, textCol: String,
                     discount: Double = 0.75): KneserNeyLm = {
    require(discount > 0 && discount < 1, s"discount in (0,1): $discount")
    val bic = bigramRows(ref, textCol, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bv = bic.agg(count(lit(1)).as("b"),
      countDistinct(col("w2")).as("vc")).head()
    val b = bv.getLong(0); val vc = bv.getLong(1)
    require(b > 0, "reference corpus has no bigrams")
    // the three model frames are independent aggregations of the
    // already-materialized bic cache, each eagerly checkpointed —
    // build them as concurrent branches (round-17 opt, guide §2.6 /
    // the q261∥q327 precedent): plans and values byte-identical,
    // their three back-to-back jobs overlap on the idle scheduler
    val Seq(heads, cont, bigrams) = try graft.Par.build(
      () => bic.groupBy("w1")
        .agg(sum("c12").as("c1b"), count(lit(1)).as("n1from"))
        .select(xxhash64(col("w1")).as("h_hash"), col("c1b"), col("n1from"))
        .transform(graft.state.Checkpoints.stable),
      () => bic.groupBy("w2").agg(count(lit(1)).as("nto"))
        .select(xxhash64(col("w2")).as("c_hash"),
          ((col("nto") + 1).cast("double") / (b + vc).toDouble).as("pcont"))
        .transform(graft.state.Checkpoints.stable),
      () => bic
        .select(xxhash64(col("w1"), col("w2")).as("bg_hash"), col("c12"))
        .transform(graft.state.Checkpoints.stable))
    finally bic.unpersist(blocking = false)
    KneserNeyLm(bigrams, heads, cont, 1.0 / (b + vc).toDouble, discount)
  }

  /** Per-doc Kneser–Ney perplexity — identical report shape to
    * [[scorePerplexity]] (n_bigrams, avg_nll round 6, ppl round 4);
    * documents with fewer than two tokens have no bigram rows and are
    * absent, the [[scorePerplexity]] contract.
    */
  def scoreKneserNey(docs: DataFrame, idCol: String, textCol: String,
                     lm: KneserNeyLm): DataFrame = {
    val rows = bigramRows(docs, textCol, Seq(col(idCol)))
      .select(col(idCol), xxhash64(col("w1"), col("w2")).as("bg_hash"),
        xxhash64(col("w1")).as("h_hash"), xxhash64(col("w2")).as("c_hash"))
    val pc = coalesce(col("pcont"), lit(lm.contFloor))
    val p = when(col("c1b").isNotNull,
      (greatest(coalesce(col("c12"), lit(0L)).cast("double") -
        lit(lm.discount), lit(0.0)) +
        lit(lm.discount) * col("n1from").cast("double") * pc) /
        col("c1b").cast("double"))
      .otherwise(pc)
    rows
      .join(lm.bigrams, Seq("bg_hash"), "left")
      .join(lm.heads, Seq("h_hash"), "left")
      .join(lm.cont, Seq("c_hash"), "left")
      .select(col(idCol), (-log(p)).as("__nll"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"),
        round(exp(avg(col("__nll"))), 4).as("ppl"))
  }
}
