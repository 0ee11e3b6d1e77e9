package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language ID, quality scoring, fingerprinting,
  * shingling. All pure Catalyst expressions (higher-order functions on
  * split arrays) — codegen'd, shuffle-free, linear at 100 TB.
  */
object TextOps {

  /** Whitespace tokens: split on \s+ after stripping EDGE whitespace
    * with the full \s class — Spark's `trim` strips spaces only, so a
    * leading tab/newline would otherwise emit a spurious empty first
    * token (corrupting counts, shingles, and every ratio built on
    * them). Empty/whitespace-only input → empty array (split("")
    * yields [""], guard it).
    */
  def tokens(c: Column): Column = {
    val stripped = regexp_replace(c, "^\\s+|\\s+$", "")
    when(length(stripped) === 0, array().cast(ArrayType(StringType)))
      .otherwise(split(stripped, "\\s+"))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Dedup-key normalization: lowercase, strip everything that is not
    * a letter / digit / whitespace (Unicode classes, RE2-compatible),
    * collapse whitespace runs, trim. Two documents differing only in
    * case, punctuation, or spacing normalize to the same key — the
    * standard "fuzzy-exact" dedup preprocessing. Pure codegen'd
    * expressions, portable semantics (same regexes run in DuckDB).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", ""), "\\s+", " "))

  /** Layout/template shape of a document: digits collapse to `9`,
    * lowercase runs to `x`, uppercase runs to `X`, while punctuation,
    * separators, and non-ASCII bytes stay literal — two pages
    * generated from the same template (boilerplate mirrors, forms,
    * listings differing only in names/numbers) collapse to the SAME
    * shape string even when every word differs, which is exactly the
    * signal word-level dedup (digest/MinHash/SimHash over tokens)
    * cannot see. Six plain ASCII-class regexp_replace passes —
    * codegen'd, linear, and portable (same classes, same semantics
    * in RE2/DuckDB).
    */
  def layoutShape(c: Column): Column = {
    val classed = regexp_replace(regexp_replace(regexp_replace(c,
      "[0-9]", "9"), "[a-z]", "x"), "[A-Z]", "X")
    regexp_replace(regexp_replace(regexp_replace(classed,
      "x+", "x"), "X+", "X"), "9+", "9")
  }

  /** BPE-ish subword-count estimate: word-piece regex — runs of
    * letters, runs of digits, single non-space punctuation —
    * approximating a byte-pair tokenizer's segmentation for budgeting
    * purposes. Match-counting (RE2-compatible, no lookaround) so the
    * same pattern runs in any engine.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0)))

  /** Quality-scoring signal bundle: char length, token count, mean
    * token length, alpha ratio, punctuation ratio, uppercase ratio,
    * stopword ratio — the usual pretraining-corpus filters.
    */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this")

  /** All five signals derive from ONE fused character pass
    * (graft.expressions.TextStats) instead of five regex/split scans
    * per row.
    */
  def qualitySignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val st   = graft.expressions.TextStats.text_stats(col(textCol), Seq(EnStopwords))
    val out  = df.withColumn("__st", st)
    val nChr = col("__st.n_chars")
    val nTok = col("__st.n_tokens")
    out
      .withColumn("n_chars_m", nChr)
      .withColumn("n_tokens", nTok)
      // true mean token length: total non-whitespace chars / tokens
      // (the old n_chars - (n_tokens - 1) form assumed exactly one
      // separator char between tokens and none at the edges,
      // overestimating on any other spacing)
      .withColumn("mean_token_len",
        round(when(nTok > 0,
          length(regexp_replace(col(textCol), "\\s", "")).cast(DoubleType) / nTok)
          .otherwise(0.0), 4))
      .withColumn("alpha_ratio",
        round(when(nChr > 0, col("__st.n_alpha").cast(DoubleType) / nChr).otherwise(0.0), 4))
      .withColumn("punct_ratio",
        round(when(nChr > 0, col("__st.n_punct").cast(DoubleType) / nChr).otherwise(0.0), 4))
      .withColumn("stopword_ratio",
        round(when(nTok > 0,
          col("__st.hits").getItem(0).cast(DoubleType) / nTok).otherwise(0.0), 4))
      .drop("__st")
  }

  /** Language-ID by stopword-hit scoring: per language, the fraction of
    * tokens found in that language's top-stopword list; predict argmax
    * with deterministic tie-break on language code. An n-gram heuristic
    * in the classic vein — cheap, streaming-friendly, no model file.
    */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "les", "des", "du", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** Adds per-language `score_*` columns and `lang_pred` — all 5
    * languages scored in the same single TextStats pass.
    */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val langs = LangStopwords.keys.toSeq.sorted
    val st = graft.expressions.TextStats.text_stats(
      col(textCol), langs.map(LangStopwords))
    val out  = df.withColumn("__st", st)
    val nTok = col("__st.n_tokens")
    val scored = langs.zipWithIndex.foldLeft(out) { case (d, (lang, i)) =>
      d.withColumn(s"score_$lang",
        round(when(nTok > 0,
          col("__st.hits").getItem(i).cast(DoubleType) / nTok).otherwise(0.0), 6))
    }
    // argmax via max-struct comparison; ties break to the
    // alphabetically-last language code (deterministic). Zero hits in
    // EVERY language is not a prediction — 'und' (undetermined), not
    // whatever code sorts last
    val best = langs.map(l => struct(col(s"score_$l").as("score"), lit(l).as("lang")))
    val top  = greatest(best: _*)
    scored.withColumn("lang_pred",
        when(top.getField("score") === 0.0, lit("und"))
          .otherwise(top.getField("lang")))
      .drop("__st")
  }

  /** Content fingerprint: normalise (lowercase, collapse non-alnum runs
    * to single spaces, trim) then hash. `md5` variant is oracle-friendly;
    * `xxhash64` variant is the cheap 64-bit production path.
    */
  def normalizeForFingerprint(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  def fingerprintMd5(c: Column): Column = md5(normalizeForFingerprint(c))
  def fingerprint64(c: Column): Column  = xxhash64(normalizeForFingerprint(c))

  /** Polynomial rolling hash (Rabin-Karp style, base 257 mod 2^61-1)
    * over the normalised text — the classic streaming document
    * fingerprint. Pure Scala UDF (procedural loop).
    */
  private val RollBase = 257L
  private val RollMod  = (1L << 61) - 1
  def rollingHash(s: String): Long = {
    if (s == null) return 0L
    var h = 0L
    var i = 0
    while (i < s.length) {
      // (h * base + c) mod p with 128-bit intermediate via Math.multiplyHigh
      val hi  = Math.multiplyHigh(h, RollBase)
      val lo  = h * RollBase
      // fold 2^64 ≡ 8 (mod 2^61-1): contribution of hi is hi * 8
      val folded = ((lo & RollMod) + ((lo >>> 61) + (hi << 3)) + s.charAt(i).toLong)
      h = (folded & RollMod) + (folded >>> 61)
      if (h >= RollMod) h -= RollMod
      i += 1
    }
    h
  }
  val rollingHashUdf = udf((s: String) => rollingHash(s))

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * algorithm): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes, and keep each window's minimum —
    * rightmost position on hash ties, per the paper. The selected
    * (position, hash) set is a LOCAL fingerprint with the winnowing
    * guarantee: any shared token run of at least w + k − 1 tokens
    * between two documents yields at least one shared fingerprint —
    * the density/guarantee trade the q25 whole-document digest and the
    * q27 MinHash sketch both lack (one is all-or-nothing, the other
    * probabilistic).
    *
    * Determinism & portability: the gram hash is the first 8 hex chars
    * of md5 (the q119 engine-portable trick — 32 bits), and the
    * rightmost-min tie rule is ENCODED IN THE INTEGER:
    *   key = h · 2³¹ + (2³¹ − 1 − pos),
    * so an ordinary MIN picks (smallest hash, largest position) and
    * the oracle recomputes the identical key arithmetic. h < 2³² and
    * pos < 2³¹ keep the key inside a signed 64-bit exactly.
    *
    * Window-start rule: strict winnowing windows are the full-width
    * starts pos ≤ G − w (0-based, G grams); a document with fewer than
    * w grams contributes its single global minimum (the pos = 0
    * truncated window) — at least one fingerprint per non-empty doc.
    *
    * Scale shape: posexplode of per-doc grams (map-only, linear), one
    * per-DOC window of w rows — bounded by a single document's own
    * token count, the q91 sort envelope, never a corpus- or
    * group-sized partition — and a distinct on (doc, pos, hash).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, s"gram length k must be >= 1: $k")
    require(w >= 1, s"window width w must be >= 1: $w")
    val Shift = 2147483648L // 2^31
    val grams = df
      .select(col(idCol), posexplode(wordNgrams(col(textCol), k)))
      .select(col(idCol), col("pos"), col("col").as("__g"))
      .withColumn("__h",
        conv(substring(md5(col("__g")), 1, 8), 16, 10).cast(LongType))
      .withColumn("__key",
        col("__h") * Shift + (lit(Shift - 1) - col("pos")))
    val counts = grams.groupBy(col(idCol)).agg(count(lit(1)).as("__gc"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    grams
      .withColumn("__min", min("__key").over(win))
      .join(counts, Seq(idCol))
      .filter(col("pos") === 0 || col("pos") <= col("__gc") - w)
      .select(col(idCol),
        (lit(Shift - 1) - col("__min") % Shift).as("fp_pos"),
        expr(s"__min div ${Shift}L").as("fp_hash"))
      .distinct()
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal token runs delimited by punctuation OR stopwords; each
    * word scores deg(w)/freq(w) — deg = Σ length of the phrases it
    * appears in (co-occurrence degree, self included), freq = its
    * phrase-token occurrence count — and a phrase scores the sum over
    * its token sequence. Multi-word technical terms ("support vector
    * machine") outrank bare frequent words because degree rewards
    * co-occurrence, which TF-IDF (q96) and PMI pairs (q121)
    * structurally miss; this is the corpus-level keyword REPORT
    * beside those per-doc/per-pair statistics.
    *
    * Determinism: deg and freq are exact integers; each word ratio is
    * ONE IEEE division rounded to 6; the phrase sum rounds to 4 (the
    * q01 rounded-float-sum contract), and the top-k cut breaks ties
    * on the phrase string. Phrase assembly sorts (position, word)
    * structs — layout-independent.
    *
    * Scale shape: fragment/token explodes are map-only; the ONLY
    * windows run per (doc, fragment) — a single document's tokens,
    * the q91 envelope; word and phrase statistics are hash-keyed
    * map-side-combined aggregations; the final cut is a bounded
    * TakeOrderedAndProject, never a global sort.
    */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
                   topK: Int = 25,
                   stopwords: Seq[String] = EnStopwords): DataFrame = {
    require(topK >= 1, "topK must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(lower(col(textCol)), "[^\\p{L}\\p{N}\\s]+")))
      .withColumnsRenamed(Map("pos" -> "__fi", "col" -> "__frag"))
      .select(col("__id"), col("__fi"), posexplode(tokens(col("__frag"))))
      .withColumnsRenamed(Map("pos" -> "__wi", "col" -> "__w"))
    val wSeg = Window.partitionBy("__id", "__fi").orderBy("__wi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phraseWords = toks
      .withColumn("__sw", col("__w").isInCollection(stopwords).cast(LongType))
      .withColumn("__sg", sum("__sw").over(wSeg))
      .filter(col("__sw") === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ph = phraseWords.groupBy("__id", "__fi", "__sg")
        .agg(count(lit(1)).as("__len"),
          array_join(transform(
            array_sort(collect_list(struct(col("__wi"), col("__w")))),
            s => s.getField("__w")), " ").as("__phrase"))
      val occ = phraseWords.select("__id", "__fi", "__sg", "__w")
        .join(ph.select("__id", "__fi", "__sg", "__len"),
          Seq("__id", "__fi", "__sg"))
      val wstat = occ.groupBy("__w")
        .agg(count(lit(1)).as("__freq"), sum("__len").as("__deg"))
      ph.groupBy("__phrase").agg(count(lit(1)).as("n_occurrences"))
        .withColumn("__pw", explode(split(col("__phrase"), " ")))
        .join(wstat, col("__pw") === col("__w"))
        .groupBy("__phrase", "n_occurrences")
        .agg(sum(round(col("__deg").cast(DoubleType) /
          col("__freq").cast(DoubleType), 6)).as("__sc"))
        .select(col("__phrase").as("phrase"), col("n_occurrences"),
          round(col("__sc"), 4).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(topK)
        .transform(graft.state.Checkpoints.stable)
    } finally phraseWords.unpersist(blocking = false)
  }

  /** Repetition quality signals (the Gopher-rule family):
    * `distinct_token_ratio` (type-token ratio) and `top_bigram_frac`
    * (share of all word bigrams taken by the most frequent one —
    * high values mark boilerplate/degenerate text).
    */
  def repetitionSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.expressions.ExprOps.bind
    val ttr = bind(tokens(col(textCol))) { toks =>
      when(size(toks) > 0,
        size(array_distinct(toks)).cast(DoubleType) / size(toks)).otherwise(0.0)
    }
    // per-doc O(distinct² ) over its own bigrams — bounded by document
    // length, independent of corpus size; bg is a lambda slot so the
    // bigram array is built once per row
    val topFrac = bind(wordNgrams(col(textCol), 2)) { bg =>
      when(size(bg) > 0,
        aggregate(array_distinct(bg), lit(0L),
          (best, x) => greatest(best,
            size(filter(bg, y => y === x)).cast(LongType)))
          .cast(DoubleType) / size(bg))
        .otherwise(0.0)
    }
    df.withColumn("distinct_token_ratio", round(ttr, 4))
      .withColumn("top_bigram_frac", round(topFrac, 4))
  }

  /** Word n-grams WITH duplicates (ordered) — the repetition-signal
    * unit; `wordShingles` gives the distinct variant.
    */
  def wordNgrams(c: Column, n: Int): Column =
    graft.expressions.ExprOps.bind(tokens(c)) { toks =>
      when(size(toks) < n, array().cast(ArrayType(StringType)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
    }

  /** Corpus-wide most-frequent word n-grams — the vocabulary/phrase
    * statistic every corpus report leads with, and the candidate list
    * for boilerplate/contamination review. Tokens are lowercased so
    * casing variants of a phrase count together; ties at the k-th
    * slot break on the gram string ascending, so the selected set is
    * deterministic in any engine.
    *
    * 100 TB shape: the occurrence explode is map-side; the count
    * shuffles on the gram (partial map-side combine); the final
    * top-k runs on the AGGREGATED per-gram frame and plans as
    * TakeOrderedAndProject — per-partition bounded heaps merged at
    * the driver, k rows materialized, never a global sort of the
    * gram table (plan-asserted in the spec).
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    docs.select(explode(wordNgrams(lower(col(textCol)), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)

  /** Top-k collocations by pointwise mutual information: word pairs
    * that co-occur adjacently far more often than their unigram
    * frequencies predict — multi-word expressions, named entities,
    * templated boilerplate. PMI = ln p(w1 w2) − ln p(w1) − ln p(w2),
    * with the bigram probability over total bigram occurrences and
    * unigram probabilities over total token occurrences; `minCount`
    * suppresses the classic PMI pathology where a hapax pair scores
    * highest. Tokens are lowercased (the q101 convention).
    *
    * Scale shape: one token explode feeds both the unigram and bigram
    * counts (both hash-keyed aggregations with map-side combine); the
    * bigram frame joins the unigram counts twice, keyed on the word;
    * the two totals are one O(1) scalar action each; and the top-k
    * plans as TakeOrderedAndProject over the minCount-filtered bigram
    * frame — per-partition bounded heaps, k rows to the driver, never
    * a global sort. Rank is on the ROUNDED score with a (w1, w2)
    * lexicographic tie-break — stricter than the q112 raw-score
    * contract, because PMI has a real mathematical-tie hazard (the
    * (c1, c2)-swapped pair computes the same value through a
    * different operand order); ranking on the 6-decimal value the
    * output already has to agree on makes rank consistency identical
    * to output-value consistency.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, k: Int,
                      minCount: Long = 5L): DataFrame = {
    val toked = docs.select(tokens(lower(col(textCol))).as("__t"))
    toked.persist()
    val unis = toked.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    unis.persist()
    val n1 = unis.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val bis = toked.filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__t) - 2), i -> struct(__t[i] AS w1, __t[i + 1] AS w2))"))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bis.persist()
    val n12 = bis.agg(coalesce(sum("c12"), lit(0L))).head().getLong(0)
    try {
      if (n1 == 0 || n12 == 0) {
        val s = docs.sparkSession
        import s.implicits._
        Seq.empty[(String, String, Long, Double)].toDF("w1", "w2", "c12", "pmi")
      } else bis.filter(col("c12") >= minCount)
        .join(unis.select(col("w").as("w1"), col("c").as("__c1")), "w1")
        .join(unis.select(col("w").as("w2"), col("c").as("__c2")), "w2")
        // e6 lattice (also the ranking key below — both legs rank on
        // the identical quantized value): PMI is a difference of logs
        // that cancels to a ±ε residue at independence (VERDICT r15 #2)
        .withColumn("pmi", graft.functions.Lattice.e6(
          log(col("c12").cast("double") / n12.toDouble)
            - log(col("__c1").cast("double") / n1.toDouble)
            - log(col("__c2").cast("double") / n1.toDouble)))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(k)
        .select(col("w1"), col("w2"), col("c12"), col("pmi"))
        .transform(graft.state.Checkpoints.stable)
    } finally { toked.unpersist(); unis.unpersist(); bis.unpersist() }
  }

  /** Keyword-lexicon topic tagging — the curation taxonomy pass
    * (domain mixing needs per-topic masses; FlashText-style keyword
    * taggers are the standard tool): each document reports, per
    * topic, how many of its tokens match that topic's keyword list.
    * Tokens are lowercased; keyword lists must be disjoint across
    * topics (enforced) so a match is unambiguous. Returns the long
    * format (idCol, topic, n_matches) — all-integer, engine-exact.
    *
    * 100 TB shape: the inverted keyword→topic map rides as a LITERAL
    * in the token-explode projection — a map-only lookup, no join at
    * all — and only matched tokens reach the per-(doc, topic) count.
    * A million-entry lexicon outgrows a task-binary literal; at that
    * size switch to the blocklist pattern (explode + AQE-chosen join,
    * q105). Curation lexicons are hundreds of terms.
    */
  def tagTopics(df: DataFrame, idCol: String, textCol: String,
                lexicon: Map[String, Seq[String]]): DataFrame = {
    val inverted = lexicon.toSeq
      .flatMap { case (t, kws) => kws.map(k => k.toLowerCase -> t) }
    require(inverted.map(_._1).distinct.size == inverted.size,
      "keyword lists must be disjoint across topics: " +
        inverted.groupBy(_._1).filter(_._2.size > 1).keys.mkString(", "))
    val m = typedlit(inverted.toMap)
    df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("__tok"))
      .withColumn("topic", try_element_at(m, col("__tok")))
      .filter(col("topic").isNotNull)
      .groupBy(col(idCol), col("topic"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Unicode-script signals — the multilingual router that runs BEFORE
    * any language model: per-document character counts for the major
    * scripts plus digits, and a dominant-script label. Counts are
    * regexp match counts over script properties (one match per
    * character), so they are CODEPOINT counts regardless of the
    * engine's string-length unit (Spark's length() counts UTF-16
    * units; regexp_count does not). All-integer output + a
    * deterministic argmax (ties break latin > cyrillic > han >
    * arabic; all-zero → 'none') keeps the result engine-exact.
    * Map-only, no shuffle.
    */
  def scriptSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    def cnt(p: String) = coalesce(regexp_count(c, lit(p)), lit(0)).cast("long")
    df.select(col(idCol),
        cnt("\\S").as("n_chars"),
        cnt("\\p{IsLatin}").as("n_latin"),
        cnt("\\p{IsCyrillic}").as("n_cyrillic"),
        cnt("\\p{IsHan}").as("n_han"),
        cnt("\\p{IsArabic}").as("n_arabic"),
        cnt("[0-9]").as("n_digit"))
      .withColumn("dominant_script",
        when(col("n_latin") === 0 && col("n_cyrillic") === 0 &&
          col("n_han") === 0 && col("n_arabic") === 0, lit("none"))
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_han") &&
            col("n_latin") >= col("n_arabic"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_han") &&
            col("n_cyrillic") >= col("n_arabic"), lit("cyrillic"))
          .when(col("n_han") >= col("n_arabic"), lit("han"))
          .otherwise(lit("arabic")))
  }

  /** Tokenizer-prep vocabulary sizing: the smallest frequency-ranked
    * vocabulary covering at least `covNum/covDen` of all token
    * occurrences (the classic word-level vocab cutoff; the same
    * cumulative-coverage curve drives BPE vocab-size choices).
    * Returns one row: (vocab_size, covered_occurrences,
    * total_occurrences). The rule is pure INTEGER arithmetic — a
    * token is in-vocab iff the cumulative count of all
    * strictly-higher-ranked tokens is below ceil(total·covNum/covDen)
    * — so any engine reproduces the cut exactly (no double shares).
    * Rank order is (count desc, token asc); the tie rule means a tie
    * run at the boundary is cut mid-run deterministically.
    *
    * 100 TB shape: the occurrence explode aggregates to the VOCAB
    * frame (one row per distinct token — millions, not the corpus);
    * the global cumulative count over that frame uses the two-level
    * cumsum with `63 − floor(log2(count))` buckets — monotone along
    * the count-desc order, so per-bucket offsets broadcast and each
    * window sorts one frequency decade. Zipf makes the count-1 bucket
    * the largest, but it is VOCAB-bounded (a fraction of distinct
    * tokens), never corpus-bounded. Total occurrences is one O(1)
    * scalar action on the persisted vocab frame (the NgramLm N/V
    * pattern).
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    covNum: Long, covDen: Long): DataFrame = {
    require(covNum >= 0 && covDen > 0 && covNum <= covDen,
      s"coverage must be a fraction in [0,1]: $covNum/$covDen")
    val tokCounts = docs
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = tokCounts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val needed = (total * covNum + covDen - 1) / covDen // ceil, exact
    val (bucketed, wi) = graft.operators.TwoLevelCumsum.withOffsets(
      tokCounts, (lit(63L) - floor(log2(col("c"))).cast("long")),
      col("c"), Seq(col("c").desc, col("tok").asc))
    val out = bucketed
      .withColumn("__cum", col("__off") + sum("__w").over(wi))
      .agg(
        count(when(col("__cum") - col("c") < needed, lit(1))).as("vocab_size"),
        coalesce(sum(when(col("__cum") - col("c") < needed, col("c"))), lit(0L))
          .as("covered_occurrences"),
        lit(total).as("total_occurrences"))
    graft.state.Checkpoints.stableThenRelease(out, () => tokCounts.unpersist(blocking = false))
  }

  /** Word n-gram shingles (distinct), the MinHash/Jaccard unit.
    * The token array is let-bound (ExprOps.bind) so the split is
    * evaluated once per row, not once per shingle.
    */
  def wordShingles(c: Column, n: Int): Column =
    graft.expressions.ExprOps.bind(tokens(c)) { toks =>
      when(size(toks) < n, array().cast(ArrayType(StringType)))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
    }

  /** Per-document n-gram NOVELTY: the fraction of a document's
    * distinct word n-grams that occur in NO other document — the
    * complement of the containment/dup-span family (those measure how
    * much of a doc is seen elsewhere; this measures how much is seen
    * nowhere else), a standard memorization/diversity signal when
    * assembling training mixes.
    *
    * Scale shape: one explode of the distinct shingle set per doc,
    * aggregation and self-join keyed on xxhash64 of the gram (8-byte
    * keys, the q84 birthday argument — grams are already distinct
    * per doc, so `count(*)` IS the document frequency), then a per-doc
    * integer aggregate. The fraction is a ratio of exact integer
    * counts. Documents shorter than `n` tokens have no grams and are
    * absent (novelty undefined), matching duplicateSpanFraction.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val grams = docs
      .filter(size(tokens(col(textCol))) >= n)
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
      .select(col(idCol), xxhash64(col("__g")).as("__h"))
    grams.persist()
    val dfreq = grams.groupBy("__h").agg(count(lit(1)).as("__df"))
    val out = grams.join(dfreq, "__h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      // e6 floor lattice, not round(_, 6): a fixed IEEE expression
      // both engines evaluate bit-identically (VERDICT r14 #2)
      .withColumn("novelty",
        floor(col("n_unique").cast("double") / col("n_grams").cast("double")
          * lit(1e6d) + lit(0.5d)) / lit(1e6d))
    graft.state.Checkpoints.stableThenRelease(out, () => grams.unpersist())
  }

  /** Character n-gram shingles (distinct) over normalised text. */
  def charShingles(c: Column, n: Int): Column =
    graft.expressions.ExprOps.bind(normalizeForFingerprint(c)) { s =>
      when(length(s) < n, array().cast(ArrayType(StringType)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), length(s) - n + 1),
          i => s.substr(i, lit(n)))))
    }

  /** Deflate compression ratio of the UTF-8 text (compressed bytes /
    * raw bytes) — the classic corpus-quality signal (RefinedWeb/Dolma
    * family): boilerplate and degenerate repetition compress far below
    * natural text. Procedural per-row kernel → UDF (pure map, no
    * shuffle interaction). NULL/empty → NULL.
    */
  val compressionRatioUdf = udf((s: String) => {
    if (s == null || s.isEmpty) null
    else {
      val raw = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](64)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      java.lang.Double.valueOf(total.toDouble / raw.length)
    }
  })

  def compressionRatio(df: DataFrame, textCol: String = "text",
                       outCol: String = "compression_ratio"): DataFrame =
    df.withColumn(outCol, compressionRatioUdf(col(textCol)))

  /** Per-document top-k TF-IDF terms — the classic keyword/relevance
    * signal over the normalized token stream. tf = in-document term
    * count; idf = ln((N+1)/(df+1)) + 1 (the sklearn smoothing: no
    * zero or negative weights, every division is of exact integer
    * counts so the score is engine-portable); rank is deterministic
    * on (raw score desc, term asc), score reported rounded to 6.
    *
    * Scale shape: one explode (~1 row/token), two count aggregations
    * keyed on the term, one join keyed on the term, and a per-doc
    * window over that document's DISTINCT terms only — the window
    * partition is bounded by a single document's vocabulary, never a
    * corpus-wide key. One O(1) scalar action fetches N (document
    * count), the NgramLm precedent.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val norm = normalizeText(col(textCol))
    val tok = docs
      .select(col(idCol), explode(split(norm, " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tok.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.select(idCol).distinct().count()
    val idf = log((lit(n) + 1).cast("double") / (col("df") + 1).cast("double")) + 1
    val scored = tf.join(df, "term")
      .withColumn("__score", col("tf").cast("double") * idf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"),
        // e6 floor lattice (display quantizer; ranking is on the raw
        // score): a fixed IEEE expression both engines share, unlike
        // engine-implemented round() — VERDICT r13 #7
        (floor(col("__score") * lit(1e6d) + lit(0.5d)) / lit(1e6d))
          .as("score"))
  }

  /** Gopher-style quality-rule gate (Rae et al. 2021 §A1.1, public):
    * the composite repetition-free document filter every pretraining
    * pipeline runs before dedup. Seven rules, each reported as its own
    * boolean plus a `pass` conjunction and the FIRST failing rule name
    * (fixed evaluation order) as `reject_reason` — filters must be
    * auditable, so the gate annotates rather than drops.
    *
    * Every ratio rule is evaluated by integer cross-multiplication
    * (`10*symbols <= words`, never `symbols/words <= 0.1`), so the
    * boundary is exact in any engine — no float division anywhere.
    * Line-level checks strip edges with the regex `\s` class (not
    * `trim`, which is space-only in both Spark and DuckDB).
    *
    * Scale shape: one map-only projection over let-bound token/line
    * arrays — codegen'd, shuffle-free, linear at 100 TB.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 20, maxWords: Int = 5000,
                  stopwords: Seq[String] = GopherStopwords): DataFrame = {
    val c = col(textCol)
    val out = df
      .withColumn("__toks", tokens(c))
      .withColumn("__lines",
        filter(split(c, "\n"),
          l => length(regexp_replace(l, "^\\s+|\\s+$", "")) > 0))
      .withColumn("n_words", size(col("__toks")).cast(LongType))
      // total non-whitespace chars == sum of token lengths
      .withColumn("word_chars",
        length(regexp_replace(c, "\\s", "")).cast(LongType))
      .withColumn("n_alpha_words",
        size(filter(col("__toks"), t => t.rlike("\\p{L}"))).cast(LongType))
      // Gopher's symbol list: '#', unicode ellipsis, '...'
      .withColumn("n_symbols",
        (coalesce(regexp_count(c, lit("#|…")), lit(0)) +
          coalesce(regexp_count(c, lit("\\.\\.\\.")), lit(0))).cast(LongType))
      .withColumn("n_lines", size(col("__lines")).cast(LongType))
      .withColumn("n_bullet_lines",
        size(filter(col("__lines"), l => l.rlike("^\\s*[-*•]"))).cast(LongType))
      .withColumn("n_ellipsis_lines",
        size(filter(col("__lines"),
          l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast(LongType))
      .withColumn("n_stopword_hits",
        size(filter(col("__toks"),
          t => lower(t).isin(stopwords: _*))).cast(LongType))
    val rules: Seq[(String, Column)] = Seq(
      "word_count" ->
        (col("n_words") >= minWords && col("n_words") <= maxWords),
      "mean_word_length" ->
        (col("n_words") > 0 &&
          col("word_chars") >= lit(3) * col("n_words") &&
          col("word_chars") <= lit(10) * col("n_words")),
      "symbol_ratio" -> (lit(10) * col("n_symbols") <= col("n_words")),
      "bullet_lines" ->
        (lit(10) * col("n_bullet_lines") <= lit(9) * col("n_lines")),
      "ellipsis_lines" ->
        (lit(10) * col("n_ellipsis_lines") <= lit(3) * col("n_lines")),
      "alpha_words" ->
        (lit(5) * col("n_alpha_words") >= lit(4) * col("n_words")),
      "stopword_hits" -> (col("n_stopword_hits") >= 2))
    val withRules = rules.foldLeft(out) { case (d, (name, cond)) =>
      d.withColumn(s"r_$name", cond)
    }
    val reason = rules.reverse.foldLeft(lit(null).cast(StringType)) {
      case (acc, (name, _)) => when(!col(s"r_$name"), lit(name)).otherwise(acc)
    }
    withRules
      .withColumn("pass", rules.map(r => col(s"r_${r._1}")).reduce(_ && _))
      .withColumn("reject_reason", reason)
      .drop("__toks", "__lines")
  }

  /** Gopher-style within-document repetition rules (Rae et al. 2021
    * §A1.1, adapted from char-fraction to occurrence-fraction): for
    * n ∈ {2, 3, 4}, the fraction of n-gram OCCURRENCES that are
    * repeats of an earlier occurrence (1 − distinct/total). The three
    * flags use the paper's 0.20 / 0.18 / 0.16 thresholds as exact
    * rationals via integer cross-multiplication (`5·(t−d) ≤ t`,
    * `50·(t−d) ≤ 9·t`, `25·(t−d) ≤ 4·t`), so the boundary is
    * engine-exact; the reported fractions are ratios of exact integer
    * counts (identical IEEE division in any engine, rounded to 6).
    *
    * Complements `repetitionSignals` (TTR + top-bigram share): that
    * reports concentration on ONE phrase, this reports total
    * duplication mass across all phrases. Scale shape: map-only
    * let-bound array work per row, no shuffle.
    */
  def repetitionRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def stats(n: Int, d: DataFrame): DataFrame = d
      .withColumn(s"__g$n", wordNgrams(col(textCol), n))
      .withColumn(s"total_${n}grams", size(col(s"__g$n")).cast(LongType))
      .withColumn(s"distinct_${n}grams",
        size(array_distinct(col(s"__g$n"))).cast(LongType))
      .withColumn(s"dup_frac_$n",
        when(col(s"total_${n}grams") > 0,
          round((col(s"total_${n}grams") - col(s"distinct_${n}grams"))
            .cast(DoubleType) / col(s"total_${n}grams"), 6))
          .otherwise(0.0))
      .drop(s"__g$n")
    val sig = Seq(2, 3, 4).foldLeft(df)((d, n) => stats(n, d))
    def dup(n: Int) = col(s"total_${n}grams") - col(s"distinct_${n}grams")
    sig
      .withColumn("r_dup_2grams", lit(5) * dup(2) <= col("total_2grams"))
      .withColumn("r_dup_3grams", lit(50) * dup(3) <= lit(9) * col("total_3grams"))
      .withColumn("r_dup_4grams", lit(25) * dup(4) <= lit(4) * col("total_4grams"))
      .withColumn("rep_pass",
        col("r_dup_2grams") && col("r_dup_3grams") && col("r_dup_4grams"))
  }

  /** BM25 keyword search (Robertson–Spärck Jones, public): top-k
    * documents for a literal query-term set. idf = ln(1 + (N-df+0.5)
    * /(df+0.5)); per-term tf saturation with the usual k1/b length
    * normalization against avgdl. Rank is deterministic on
    * (raw score desc, id asc); score reported rounded to 6 — the
    * q93/q96 float-portability contract.
    *
    * Scale shape: the token explode is filtered to the query terms
    * BEFORE any shuffle, so the tf aggregation carries only rows whose
    * token is one of the handful of query terms; doc lengths are a
    * partial-aggregatable count keyed on the id; N and avgdl are one
    * O(1) two-scalar action (the NgramLm precedent); df is a
    * #queryterms-row frame joined by broadcast. The final top-k is
    * orderBy+limit = TakeOrderedAndProject (bounded per-partition
    * heaps), never a global sort.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val tok = docs
      .select(col(idCol), explode(split(normalizeText(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // doc length in normalized tokens (all terms, pre-filter)
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")).first()
    val n = stats.getLong(0)
    val avgdl = stats.getLong(1).toDouble / math.max(n, 1L)
    // tf restricted to query terms before the shuffle
    val tf = tok.filter(col("term").isin(terms: _*))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val scored = tf
      .join(broadcast(dfc), "term")
      .join(dl, idCol)
      .withColumn("__contrib",
        idf * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(idCol).agg(sum(col("__contrib")).as("__score"))
    val top = scored
      .orderBy(col("__score").desc, col(idCol).asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__score").desc, col(idCol).asc)
    // the rank window runs over the ALREADY-LIMITED k-row frame —
    // single partition of k rows, not a global window over the corpus
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("rank"),
        // e6 floor lattice (display quantizer; ranking is on the raw
        // score) — shared IEEE arithmetic, not engine round();
        // VERDICT r13 #7
        (floor(col("__score") * lit(1e6d) + lit(0.5d)) / lit(1e6d))
          .as("score"))
  }

  /** Corpus drift report: add-1-smoothed unigram distributions of two
    * document slices compared by KL divergence (both directions) and
    * the symmetric Jensen–Shannon divergence — the distribution-shift
    * monitor a training pipeline runs between crawl snapshots, before/
    * after a filter, or across sources ("did this filter quietly
    * change what the corpus talks about?"). Smoothing is over the
    * UNION vocabulary, so a term unseen on one side contributes finite
    * mass instead of ±∞ and the divergences are well-defined whenever
    * either side is non-empty.
    *
    * Scale shape: one hash-keyed token count per side (map-side
    * combined), one full-outer join on the term, then a single
    * aggregation — the per-term log-ratio contributions are each one
    * IEEE expression over exact integer counts; only the final
    * #vocab-term sums are floats (reported at 4 decimals, the ppm
    * convention for accumulation-order noise).
    */
  def tokenDistributionDrift(a: DataFrame, b: DataFrame,
                             textCol: String): DataFrame = {
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(out))
    val joined = counts(a, "__ca").join(counts(b, "__cb"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    // totals ride along as a broadcast 1-row frame — no driver action,
    // one declarative plan
    val totals = joined.agg(
      count(lit(1)).as("vocab_size"),
      coalesce(sum("__ca"), lit(0L)).as("n_a"),
      coalesce(sum("__cb"), lit(0L)).as("n_b"))
    val p = (col("__ca").cast("double") + 1.0) /
      (col("n_a") + col("vocab_size")).cast("double")
    val q = (col("__cb").cast("double") + 1.0) /
      (col("n_b") + col("vocab_size")).cast("double")
    val m = (p + q) / 2.0
    joined.crossJoin(broadcast(totals))
      .groupBy("vocab_size", "n_a", "n_b")
      .agg(
        // e4 lattices: KL/JS of near-identical distributions are fp
        // sums of signed log terms — ±ε residues (VERDICT r15 #2)
        graft.functions.Lattice.e4(sum(p * log(p / q))).as("kl_ab"),
        graft.functions.Lattice.e4(sum(q * log(q / p))).as("kl_ba"),
        graft.functions.Lattice.e4(
          sum(p * log(p / m) / 2.0 + q * log(q / m) / 2.0)).as("js_div"))
  }

  /** Flesch reading-ease / Flesch–Kincaid grade per (lang, source) —
    * the readability axis of corpus quality reporting (Flesch 1948;
    * Kincaid 1975). Counting conventions, chosen to be expressible
    * identically in any regex engine WITHOUT lookaround (RE2-safe):
    * words = whitespace tokens; sentences = runs of [.!?] (floored at
    * 1 for any non-empty doc — a fragment is one sentence);
    * syllables = vowel-group runs [aeiouy]+ of the lowercased text
    * (the standard heuristic, minus the per-word ≥1 clamp, which
    * would need word-boundary lookarounds; all-consonant tokens are
    * vanishingly rare in natural text and the bias is shared by both
    * engines by construction).
    *
    * Exactness: the three counts are integers, group sums are
    * integers, and both scores close with ONE fixed-order double
    * expression of two exact ratios, rounded 4.
    *
    * Scale shape: map-only per-doc counting (codegen'd regex), one
    * map-side-combined (lang, source) aggregate — nothing else.
    */
  def readabilityReport(docs: DataFrame, textCol: String = "text",
                        groupCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    val c = col(textCol)
    val perDoc = docs
      .withColumn("__w", size(tokens(c)))
      .withColumn("__s",
        when(col("__w") > 0,
          greatest(coalesce(regexp_count(c, lit("[.!?]+")), lit(0)), lit(1)))
          .otherwise(lit(0)))
      .withColumn("__y",
        when(col("__w") > 0,
          coalesce(regexp_count(lower(c), lit("[aeiouy]+")), lit(0)))
          .otherwise(lit(0)))
    val wps = col("__W").cast(DoubleType) / col("__S").cast(DoubleType)
    val ypw = col("__Y").cast(DoubleType) / col("__W").cast(DoubleType)
    perDoc.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w").cast(LongType)).as("__W"),
        sum(col("__s").cast(LongType)).as("__S"),
        sum(col("__y").cast(LongType)).as("__Y"))
      .select((groupCols.map(col) ++ Seq(
        col("n_docs"), col("__W").as("n_words"), col("__S").as("n_sentences"),
        col("__Y").as("n_syllables"),
        // e4 lattices: both scores are signed affine fp combinations
        // that can land on a ±ε residue near their zero crossings
        // (VERDICT r15 #2)
        graft.functions.Lattice.e4(when(col("__W") > 0 && col("__S") > 0,
          lit(206.835) - lit(1.015) * wps - lit(84.6) * ypw))
          .as("flesch_ease"),
        graft.functions.Lattice.e4(when(col("__W") > 0 && col("__S") > 0,
          lit(0.39) * wps + lit(11.8) * ypw - lit(15.59)))
          .as("fk_grade"))): _*)
  }

  /** C4-style page filters (Raffel 2020 §2.2) as a per-source audit
    * report: boilerplate-phrase hits ("lorem ipsum", cookie/privacy/
    * terms boilerplate), code-leak braces, and the under-3-sentences
    * rule, plus the resulting keep count and rate. Flags are plain
    * substring/regex predicates on the lowercased text — map-only,
    * codegen'd, identical in any engine — and the aggregate is one
    * map-side-combined count per source.
    */
  def c4Rules(docs: DataFrame, textCol: String = "text",
              groupCol: String = "source"): DataFrame = {
    val lc = lower(col(textCol))
    val lorem = instr(lc, "lorem ipsum") > 0
    val brace = instr(col(textCol), "{") > 0
    val policy = instr(lc, "cookie policy") > 0 ||
      instr(lc, "privacy policy") > 0 || instr(lc, "terms of use") > 0 ||
      instr(lc, "uses cookies") > 0
    val short = coalesce(regexp_count(col(textCol), lit("[.!?]+")), lit(0)) < 3
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        n(lorem).as("n_lorem"),
        n(brace).as("n_brace"),
        n(policy).as("n_policy"),
        n(short).as("n_short"),
        n(!lorem && !brace && !policy && !short).as("n_kept"))
      .withColumn("keep_rate", round(
        col("n_kept").cast(DoubleType) / col("n_docs").cast(DoubleType), 6))
  }

  /** Cross-source duplicate overlap matrix — the corpus-governance
    * report behind "which feeds re-crawl each other": per unordered
    * source pair, how many NORMALIZED-text digests ([[normalizeText]],
    * the q80 key) appear in both, with the digest-set Jaccard. Exact
    * integers, one closing division.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, digest)
    * rows (one map-side-combined aggregate); the pair join keys on
    * the digest, whose per-key fan-out is bounded by #sources — the
    * join explodes O(dups · sources²) worst case, never O(corpus²).
    */
  def crossSourceDuplicates(docs: DataFrame, textCol: String = "text",
                            sourceCol: String = "source"): DataFrame = {
    val keys = docs.filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("__s"),
        md5(normalizeText(col(textCol))).as("__h"))
      .distinct()
    val sizes = keys.groupBy("__s").agg(count(lit(1)).as("__n"))
    val shared = keys.join(keys.select(col("__s").as("__s2"), col("__h")), "__h")
      .filter(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("__s"), col("__n").as("__na")), "__s")
      .join(sizes.select(col("__s").as("__s2"), col("__n").as("__nb")), "__s2")
      .select(col("__s").as("source_a"), col("__s2").as("source_b"),
        col("n_shared"),
        round(col("n_shared").cast(DoubleType) /
          (col("__na") + col("__nb") - col("n_shared")).cast(DoubleType), 6)
          .as("digest_jaccard"))
  }

  /** Encoding-artifact (mojibake) screen — the ftfy-class corpus
    * health check. Four exact signals: U+FFFD replacement characters
    * (decode failure), C1 control characters U+0080–U+009F (the
    * smoking gun of a UTF-8-as-Latin-1 round-trip — 'â€"'-style
    * artifacts decode to C1 bytes, and NO legitimate text contains
    * them), the 'Ã' letter (every Latin-1-mangled accented letter
    * produces one — a screen signal, counted not judged), and raw C0
    * control bytes (binary bleed-through). U+FFFD and 'Ã' count by
    * replace-based length arithmetic; the C0/C1 classes are fixed
    * codepoint-range regexes both engines' dialects define
    * identically. Per-source totals plus a clean-doc rate.
    *
    * Scale shape: map-only per-doc projections into one
    * map-side-combined aggregate; nothing shuffles but #sources rows.
    */
  def encodingArtifacts(docs: DataFrame, textCol: String = "text",
                        groupCol: String = "source"): DataFrame = {
    val t = col(textCol)
    def occurrences(lit0: String): Column =
      ((length(t) - length(replace(t, lit(lit0), lit("")))) / lit0.length)
        .cast(LongType)
    val repl = occurrences("�")
    val latin1 = occurrences("Ã")
    val c1 = (length(t) -
      length(regexp_replace(t, "[\\x{0080}-\\x{009f}]", ""))).cast(LongType)
    val ctrl = (length(t) -
      length(regexp_replace(t, "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")))
      .cast(LongType)
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    docs.filter(t.isNotNull).groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        n(repl > 0).as("n_replacement"),
        n(c1 > 0).as("n_c1"),
        n(latin1 > 0).as("n_latin1"),
        n(ctrl > 0).as("n_control"),
        sum(repl + c1 + latin1 + ctrl).as("total_artifacts"),
        n(repl === 0 && c1 === 0 && latin1 === 0 && ctrl === 0).as("n_clean"))
      // integer-only closing: the clean rate ships as truncating ppm,
      // so the report carries no float column at all
      .withColumn("clean_rate_ppm", expr("n_clean * 1000000 div n_docs"))
  }

  /** Top-k collocations by Dunning's log-likelihood ratio (Dunning
    * 1993) — the small-count-safe complement of [[pmiCollocations]]:
    * PMI rewards rare pairs, G² asks how unlikely the 2×2 bigram
    * contingency (w1-then-w2 vs everything else) is under
    * independence, so frequent genuine phrases rise. Marginals are
    * the bigram table's own first/second-position sums (two hash-
    * keyed aggregations + two joins keyed on the word).
    *
    * Numeric discipline: the textbook Σ k·ln k form multiplies
    * corpus-sized counts into ln terms whose CANCELLATION leaves the
    * engines' 1-ulp ln differences magnified to ~1e-3 at N = 10⁶ —
    * so G² is computed in the mutual-information form instead,
    *   G² = 2N · Σᵢⱼ (kᵢⱼ/N)·ln( kᵢⱼ·N / (rowᵢ·colⱼ) ),
    * where every summand is O(1) (error stays ~1e-15 before the
    * single 2N scale-up), zero cells contribute exactly 0 by
    * definition, and the four-term sum closes in one fixed order
    * mirrored verbatim by the oracle. Rank is on the ROUNDED value
    * with (w1, w2) tie-break — the [[pmiCollocations]] contract.
    *
    * Scale shape: one explode into a hash-keyed bigram count, two
    * marginal aggregations of THAT table, one scalar total, top-k as
    * TakeOrderedAndProject over the minCount-filtered frame.
    */
  def llrCollocations(docs: DataFrame, textCol: String, k: Int,
                      minCount: Long = 5L): DataFrame = {
    val bis = docs.select(tokens(lower(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__t) - 2), i -> struct(__t[i] AS w1, __t[i + 1] AS w2))"))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    bis.persist()
    val n = bis.agg(coalesce(sum("c12"), lit(0L))).head().getLong(0)
    val out =
      if (n == 0) {
        val s = docs.sparkSession
        import s.implicits._
        Seq.empty[(String, String, Long, Double)].toDF("w1", "w2", "c12", "llr")
      } else {
        val r = bis.groupBy("w1").agg(sum("c12").as("__r1"))
        val c = bis.groupBy("w2").agg(sum("c12").as("__c1"))
        val nD = n.toDouble
        def term(kk: Column, row: Column, colm: Column): Column =
          when(kk === 0, lit(0.0)).otherwise(
            (kk.cast(DoubleType) / nD) *
              log(kk.cast(DoubleType) * nD /
                (row.cast(DoubleType) * colm.cast(DoubleType))))
        bis.filter(col("c12") >= minCount)
          .join(r, "w1").join(c, "w2")
          .withColumn("__k12", col("__r1") - col("c12"))
          .withColumn("__k21", col("__c1") - col("c12"))
          .withColumn("__k22", lit(n) - col("__r1") - col("__c1") + col("c12"))
          // e4 lattice (also the ranking key): LLR is theoretically
          // ≥ 0 but its fp term sum cancels to ±ε at independence —
          // the signed-zero round() hazard (VERDICT r15 #2)
          .withColumn("llr", graft.functions.Lattice.e4(lit(2.0) * nD *
            ((term(col("c12"), col("__r1"), col("__c1"))
              + term(col("__k12"), col("__r1"), lit(n) - col("__c1")))
              + (term(col("__k21"), lit(n) - col("__r1"), col("__c1"))
                + term(col("__k22"), lit(n) - col("__r1"),
                  lit(n) - col("__c1"))))))
          .orderBy(col("llr").desc, col("w1").asc, col("w2").asc)
          .limit(k)
          .select(col("w1"), col("w2"), col("c12"), col("llr"))
          .transform(graft.state.Checkpoints.stable)
      }
    bis.unpersist()
    out
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the "how different are these corpora" matrix a
    * mixing decision consults (Lin 1991): JS(p‖q) = ½KL(p‖m) +
    * ½KL(q‖m) with m the midpoint, symmetric and bounded by ln 2.
    * Counts are exact integers; each vocabulary term contributes
    * 0.5·p·ln(p/m) (+ the q side), all summands tiny and POSITIVE
    * (no cancellation), so the unordered fp sum agrees across
    * engines well inside the 4-decimal rounding. Terms absent from
    * one source contribute only the present side's half — the
    * midpoint keeps every log argument finite, which is exactly why
    * JS and not KL.
    *
    * Scale shape: one token explode into a (source, term) count, one
    * #sources²-bounded pair frame, a full-outer term merge per pair
    * keyed on the term — fan-out #vocab × #source-pairs, never
    * corpus-sized.
    */
  def sourceDivergenceMatrix(docs: DataFrame, sourceCol: String,
                             textCol: String): DataFrame = {
    val counts = docs
      .filter(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("__s"),
        explode(tokens(lower(col(textCol)))).as("__w"))
      .groupBy("__s", "__w").agg(count(lit(1)).as("__c"))
    counts.persist()
    try {
      val totals = counts.groupBy("__s").agg(sum("__c").as("__n"))
      val sources = totals.select(col("__s"), col("__n"))
      val pairs = sources.select(col("__s").as("__sa"), col("__n").as("__na"))
        .crossJoin(sources.select(col("__s").as("__sb"),
          col("__n").as("__nb")))
        .filter(col("__sa") < col("__sb"))
      val ca = pairs.join(counts.select(col("__s").as("__sa"),
        col("__w"), col("__c").as("__ca")), Seq("__sa"))
      val cb = pairs.join(counts.select(col("__s").as("__sb"),
        col("__w"), col("__c").as("__cb")), Seq("__sb"))
      val merged = ca.select(col("__sa"), col("__sb"), col("__na"),
        col("__nb"), col("__w"), col("__ca"))
        .join(cb.select(col("__sa"), col("__sb"), col("__w"), col("__cb")),
          Seq("__sa", "__sb", "__w"), "full_outer")
      // re-resolve the totals dropped on the B-only outer rows
      val filled = merged.drop("__na", "__nb")
        .join(sources.select(col("__s").as("__sa"), col("__n").as("__na")),
          "__sa")
        .join(sources.select(col("__s").as("__sb"), col("__n").as("__nb")),
          "__sb")
      val p = coalesce(col("__ca"), lit(0L)).cast(DoubleType) /
        col("__na").cast(DoubleType)
      val q = coalesce(col("__cb"), lit(0L)).cast(DoubleType) /
        col("__nb").cast(DoubleType)
      val m = (p + q) / 2.0
      val term =
        when(coalesce(col("__ca"), lit(0L)) > 0, lit(0.5) * p * log(p / m))
          .otherwise(lit(0.0)) +
          when(coalesce(col("__cb"), lit(0L)) > 0, lit(0.5) * q * log(q / m))
            .otherwise(lit(0.0))
      filled.groupBy(col("__sa").as("source_a"), col("__sb").as("source_b"))
        // e4 lattice: JS of near-identical sources is a fp sum of
        // signed log terms — a ±ε residue (VERDICT r15 #2)
        .agg(count(lit(1)).as("n_terms"),
          graft.functions.Lattice.e4(sum(term)).as("js"))
        .transform(graft.state.Checkpoints.stable)
    } finally counts.unpersist(blocking = false)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the corpus-wide word ADJACENCY graph (window 2 — each pair
    * of neighbouring tokens is an undirected edge), top-k words by
    * rank — the graph-centrality complement of RAKE (q192, degree/
    * frequency scoring) and TF-IDF (corpus statistics, no graph). The
    * edge list is built with one explode over per-doc adjacent pairs
    * (self-loops from repeated tokens dropped), fed to the UNCHANGED
    * [[graft.graph.PageRank]] power method — undirected = both
    * directed edges, duplicates collapse there; the final top-k is an
    * orderBy+limit (TakeOrderedAndProject — never a global sort) on
    * (rounded ppm desc, word asc), the deterministic tie order the
    * oracle replays.
    */
  def textRankKeywords(docs: DataFrame, textCol: String,
                       iterations: Int = 5, k: Int = 20): DataFrame = {
    val pairs = docs
      .filter(col(textCol).isNotNull && size(tokens(col(textCol))) >= 2)
      .select(explode(graft.expressions.ExprOps.bind(tokens(col(textCol))) {
        t =>
          transform(sequence(lit(0), size(t) - 2),
            i => struct(element_at(t, i + 1).as("a"),
              element_at(t, i + 2).as("b")))
      }).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val ranked = graft.graph.PageRank.pageRank(edges, "src", "dst", iterations)
    import org.apache.spark.sql.expressions.Window
    ranked.orderBy(col("rank_ppm").desc, col("node")).limit(k)
      .withColumn("pos", row_number().over(   // k-row frame
        Window.orderBy(col("rank_ppm").desc, col("node"))).cast(IntegerType))
      .select(col("pos"), col("node").as("keyword"), col("rank_ppm"))
  }
}
