package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding tokenizer TRAINING (Sennrich, Haddow & Birch
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") as an iterative dataframe loop — the learned-merges
  * replacement for the regex segmentation estimate in
  * [[TextOps.bpeishTokenCount]]. Every budgeting / packing / vocab-
  * coverage operator in this engine keys on token counts; this makes
  * those counts come from a tokenizer actually fitted to the corpus.
  *
  * == Algorithm ==
  * Pre-tokenize with the same word-piece regex the estimate uses
  * ([[TextOps.BpeishPattern]]), build the distinct-word histogram,
  * split each word into characters, then repeat `numMerges` times:
  * count adjacent symbol pairs weighted by word frequency, pick the
  * globally most frequent pair (ties broken by (a, b) ascending so
  * training is a pure function of the histogram), and merge every
  * greedy left-to-right non-overlapping occurrence of that pair.
  *
  * == Scale shape (the part that matters at 100 TB) ==
  * The ONLY corpus-sized operation is the word histogram: one
  * explode + hash aggregate with map-side partial combine. The merge
  * loop runs entirely on the DISTINCT-WORD frame, which Heaps' law
  * bounds at ~10^7–10^8 rows for web scale — 3–4 orders of magnitude
  * below corpus row count and independent of corpus bytes. Per
  * iteration: one map-only pair explode + hash agg (partial-combined;
  * the shuffle carries at most #distinct-pairs rows), one 1-row
  * argmax collect (the merge DECISION — inherently sequential, the
  * same driver-holds-a-scalar discipline as [[graft.graph.PageRank]]),
  * and one map-only column rewrite. Each iteration's frame is
  * persisted, lineage-cut with the createDataFrame barrier, and the
  * previous generation's cache released via its handle — O(1) lineage
  * depth and O(1) live cache generations across thousands of merges
  * (the PageRank plan-doubling lesson applied verbatim: the word
  * frame is consumed twice per round, once by the argmax action and
  * once by the rewrite).
  *
  * == The rewrite is a plain string `replace`, not a fold ==
  * Symbol sequences are stored WRAPPED: every symbol bracketed by
  * U+001F on both sides, so ["a","b"] is "ab".
  * Merging pair (a, b) is then exactly
  * `replace(wrapped, SEP+a+SEP+SEP+b+SEP, SEP+ab+SEP)`: the full
  * bracketing makes a match possible only at true symbol boundaries
  * (no prefix/suffix collisions — "xa"+"b" does not match "a"+"b"),
  * back-to-back occurrences keep their own brackets so "ab ab" both
  * merge, and standard left-to-right non-overlapping replace
  * semantics ARE greedy BPE merge semantics ("aaa" + (a,a) → "aa","a").
  * Both Spark's `replace` and DuckDB's `replace` implement exactly
  * this, so the oracle twin (q156/q157) recomputes training as an
  * unrolled MATERIALIZED-CTE chain with zero semantic adaptation —
  * and the engine side stays a codegen'd string expression (no UDF,
  * no higher-order fold, policy §2.13).
  *
  * Words containing U+001F itself (possible only as a single-char
  * punctuation token under the pre-tokenizer, since U+001F is neither
  * alphanumeric nor whitespace) are excluded from training and
  * counted by character length — the identical result to training on
  * them, since a 1-char word admits no pairs.
  */
object Bpe {

  /** U+001F (unit separator): the symbol-boundary bracket. */
  val Sep = "\u001F"

  /** Learned model: `merges` = (rank, a, b, n_pairs) in application
    * order; `vocabSegs` = (word, cnt, n_tokens, wrapped) — the final
    * segmentation of every trained word, which doubles as the
    * application table for any corpus drawn from the same
    * distribution.
    */
  final case class BpeModel(merges: DataFrame, vocabSegs: DataFrame)

  /** Distinct-word histogram — the one corpus-sized stage. */
  def wordHistogram(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(
        regexp_extract_all(col(textCol), lit(TextOps.BpeishPattern), lit(0)))
        .as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Initial wrapped representation: each character bracketed. */
  private def wrapChars(word: Column): Column =
    concat_ws("", transform(split(word, ""), ch => concat(lit(Sep), ch, lit(Sep))))

  /** Wrapped string → symbol array (inverse of the bracketing). */
  def symbols(wrapped: Column): Column =
    split(regexp_replace(wrapped, s"^$Sep|$Sep$$", ""), s"$Sep$Sep")

  private def pairCounts(words: DataFrame): DataFrame = {
    val syms = symbols(col("wrapped"))
    words
      .select(col("cnt"), syms.as("__syms"))
      .filter(size(col("__syms")) >= 2)
      .select(col("cnt"), explode(
        zip_with(
          slice(col("__syms"), lit(1), size(col("__syms")) - 1),
          slice(col("__syms"), lit(2), size(col("__syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(sum("cnt").as("n_pairs"))
  }

  /** Train `numMerges` merges on `corpus(textCol)`. Stops early if the
    * vocabulary is exhausted (every word reduced to one symbol).
    */
  def train(corpus: DataFrame, textCol: String, numMerges: Int): BpeModel = {
    require(numMerges >= 1 && numMerges <= 100000, "1 <= numMerges <= 100000")
    val spark = corpus.sparkSession
    import spark.implicits._
    val lvl = StorageLevel.MEMORY_AND_DISK

    // lazy persist + lineage cut: the generation's cache is
    // materialized by the NEXT action that reads it (this iteration's
    // argmax), so no separate count() job is needed — one scheduled
    // job per merge instead of two. The previous generation's cache is
    // released only AFTER the current one has been materialized by
    // that argmax (releasing earlier would force the cut RDD to
    // recompute through its uncut lineage).
    def barrier(df: DataFrame): (DataFrame, DataFrame) = {
      val p = df.persist(lvl)
      (spark.createDataFrame(p.rdd, p.schema), p)
    }

    var (words, cache) = barrier(
      wordHistogram(corpus, textCol)
        .filter(!col("word").contains(Sep))
        .select(col("word"), col("cnt"), wrapChars(col("word")).as("wrapped")))
    var prevCache: DataFrame = null
    // NOTE (round-17, measured and rejected): coalescing the vocab
    // loop frame to 1 partition (CoalesceExec(1) → SinglePartition
    // satisfies the argmax groupBy, one exchange-free stage per merge)
    // A/B'd NEUTRAL-to-NEGATIVE (q156 +0.3 s, q157 +0.0, q161 +0.0,
    // q164 +0.3): the sizing count() plus the 1-task replace chain +
    // 32-block coalesce read cost what the removed kilobyte exchange
    // saved. Reverted — the loop keeps the session width.

    // INTERVAL lineage barriers (round-16 opt, guide §1.2 "per-task
    // work ... and driver overhead"): a barrier per merge made every
    // iteration pay persist bookkeeping + a fresh physical plan
    // (p.rdd) + a cache write of the whole word frame, and the
    // round-16 profiles show the BPE queries are DRIVER-bound (q157:
    // 3.0 s of task run under a 4.8 s wall across ~60 tiny stages).
    // Letting up to `barrierEvery` chained `replace` rewrites ride on
    // top of the last cached generation keeps plans and codegen
    // bounded (the applyMerges ckptEvery precedent) while cutting the
    // per-iteration barrier cost 16x. Merge DECISIONS are unchanged:
    // each argmax still sees exactly the post-replace values — the
    // chain is value-identical to materializing every generation.
    val barrierEvery = 16
    var sinceBarrier = 0

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(desc("n_pairs"), asc("a"), asc("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      if (prevCache != null) { prevCache.unpersist(blocking = false); prevCache = null }
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = top.head
        rank += 1
        merges += ((rank, a, b, n))
        words = words.withColumn("wrapped",
          call_function("replace", col("wrapped"),
            lit(Sep + a + Sep + Sep + b + Sep), lit(Sep + a + b + Sep)))
        sinceBarrier += 1
        if (sinceBarrier >= barrierEvery) {
          val (next, nextCache) = barrier(words)
          prevCache = cache
          words = next; cache = nextCache
          sinceBarrier = 0
        }
      }
    }

    val vocab = graft.state.Checkpoints.stableThenRelease(words
      .select(col("word"), col("cnt"),
        size(symbols(col("wrapped"))).as("n_tokens"), col("wrapped")),
      () => {
        if (prevCache != null) prevCache.unpersist(blocking = false)
        cache.unpersist(blocking = false)
      })

    val mergesDf = spark.createDataFrame(merges.result())
      .toDF("rank", "a", "b", "n_pairs")
    BpeModel(mergesDf, vocab)
  }

  /** Replay a learned merge list (already collected, ≤ numMerges rows
    * — driver-bounded by construction) over NEW words: the inference
    * path for vocabulary the training histogram never saw. Chains the
    * same wrapped `replace` per merge, with a lineage barrier every
    * `ckptEvery` merges so the expression tree and codegen method
    * size stay bounded for multi-thousand-merge models. Words
    * containing the bracket character stay atomic (counted by char
    * length), mirroring training's exclusion.
    */
  def applyMerges(wordsDf: DataFrame, wordCol: String,
                  merges: Seq[(String, String)],
                  ckptEvery: Int = 64): DataFrame = {
    val trainable = !col(wordCol).contains(Sep)
    var df = wordsDf.withColumn("wrapped",
      when(trainable, wrapChars(col(wordCol))).otherwise(lit(null)))
    var sinceCkpt = 0
    for ((a, b) <- merges) {
      df = df.withColumn("wrapped",
        call_function("replace", col("wrapped"),
          lit(Sep + a + Sep + Sep + b + Sep), lit(Sep + a + b + Sep)))
      sinceCkpt += 1
      if (sinceCkpt >= ckptEvery) { df = df.transform(graft.state.Checkpoints.stable); sinceCkpt = 0 }
    }
    df.withColumn("n_tokens",
      when(col("wrapped").isNotNull, size(symbols(col("wrapped"))))
        .otherwise(length(col(wordCol))))
  }

  /** Per-document token counts under a trained model. Corpus-sized
    * work: one explode + (doc, word) pre-aggregate, one join against
    * the vocab frame (broadcast when the vocabulary is small; at web
    * scale both sides hash-partition on the word key), one per-doc
    * sum. Unseen words fall back to [[applyMerges]] on their DISTINCT
    * set only; docs with NULL/empty text count 0.
    */
  def tokenCounts(corpus: DataFrame, idCol: String, textCol: String,
                  model: BpeModel): DataFrame = {
    val occ = corpus
      .select(col(idCol), explode(
        regexp_extract_all(col(textCol), lit(TextOps.BpeishPattern), lit(0)))
        .as("word"))
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("__occ"))

    val vocab = model.vocabSegs.select(col("word"), col("n_tokens"))
    val joined = occ.join(vocab, Seq("word"), "left")

    val seen = joined.filter(col("n_tokens").isNotNull)
    val unseenWords = joined.filter(col("n_tokens").isNull)
      .select(col(idCol), col("word"), col("__occ"))
    val mergeList = model.merges.orderBy("rank")
      .select("a", "b").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    val unseenScored =
      applyMerges(unseenWords.select("word").distinct(), "word", mergeList)
        .select(col("word"), col("n_tokens"))
    val unseen = unseenWords.join(unseenScored, Seq("word"), "left")

    val perDoc = seen.select(col(idCol), (col("__occ") * col("n_tokens")).as("__t"))
      .unionByName(unseen.select(col(idCol), (col("__occ") * col("n_tokens")).as("__t")))
      .groupBy(col(idCol))
      .agg(sum("__t").as("n_bpe_tokens"))

    corpus.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Tokenizer-evaluation report per group (typically language):
    * FERTILITY (BPE tokens per word) and compression (characters per
    * BPE token) — the standard metrics for how well a learned
    * vocabulary fits each slice of the corpus (a tokenizer trained on
    * English text shows elevated fertility on other languages, the
    * classic multilingual-budgeting distortion these numbers expose
    * BEFORE token-count-keyed sampling bakes it in).
    *
    * Scale shape: one explode + (group, word) pre-aggregate (the
    * word-histogram pass sliced by group), one word-keyed join
    * against the vocab frame, one #groups-row aggregate. Ratios are
    * single double divisions of exact integer sums, rounded to 4.
    */
  def fertilityByGroup(corpus: DataFrame, groupCol: String,
                       textCol: String, model: BpeModel): DataFrame = {
    val occ = corpus
      .select(col(groupCol), explode(
        regexp_extract_all(col(textCol), lit(TextOps.BpeishPattern), lit(0)))
        .as("word"))
      .groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("__occ"))
    occ
      .join(model.vocabSegs.select(col("word"), col("n_tokens")),
        Seq("word"), "left")
      .withColumn("__nt",
        coalesce(col("n_tokens"), length(col("word"))).cast(LongType))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__occ")).as("n_words"),
        sum(col("__occ") * col("__nt")).as("n_bpe_tokens"),
        sum(col("__occ") * length(col("word")).cast(LongType)).as("__chars"))
      .select(col(groupCol),
        col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast(DoubleType) /
          col("n_words").cast(DoubleType), 4).as("fertility"),
        round(col("__chars").cast(DoubleType) /
          col("n_bpe_tokens").cast(DoubleType), 4).as("chars_per_token"))
  }
}
