package graft.queries

import graft.Tables
import graft.pipelines.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated corpus-curation extensions beyond the near-dup suite:
  * boilerplate-line removal (CCNet/Dolma rule) and benchmark n-gram
  * decontamination.
  */
object CorpusQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Line-dedup fixture: 'subscribe now' appears in 5 of 6 docs
    * (> maxDocs=2 → boilerplate); 'alpha beta' in exactly 2 (kept).
    */
  private val lineDocs: Seq[(Long, String)] = Seq(
    (1L, "alpha beta\nsubscribe now\nunique one"),
    (2L, "gamma delta\nsubscribe now\nunique two"),
    (3L, "epsilon zeta\nsubscribe now"),
    (4L, "subscribe now\nunique four\nalpha beta"),
    (5L, "solo content only"),
    (6L, "subscribe now"))

  /** Benchmark texts assembled from corpus-vocabulary trigrams so the
    * decontamination join has hits on the synthetic documents table.
    */
  private val benchTexts: Seq[String] =
    Seq("key agg row scan", "batch window spark order")

  /** NFC fixture: ids 1/2 and 4/5 are the precomposed vs
    * combining-mark spellings of the same rendered text; 3 is plain
    * ASCII and must NOT merge with them.
    */
  private val nfcDocs: Seq[(Long, String)] = Seq(
    (1L, "café menu"),        // precomposed é (U+00E9)
    (2L, "café menu"),       // e + combining acute (U+0301)
    (3L, "cafe menu"),             // plain ASCII
    (4L, "naïve approach"),   // precomposed ï (U+00EF)
    (5L, "naïve approach"))  // i + combining diaeresis (U+0308)

  val queries: Map[String, Q] = Map(
    "q72_line_dedup" -> ((s, _) => {
      import s.implicits._
      // cut eagerly, then release the exploded per-line cache (the
      // pipeline's largest) instead of pinning it for the session
      // lifetime; the cut is what the caller consumes
      val (cleaned, release) = CorpusPipeline.dropBoilerplateLines(
        lineDocs.toDF("doc_id", "text"), "doc_id", "text", maxDocs = 2)
      graft.state.Checkpoints.stableThenRelease(
        cleaned.select(col("doc_id"), col("text").as("clean_text")), release)
    }),

    "q73_decontaminate" -> ((s, d) => {
      import s.implicits._
      CorpusPipeline.decontaminate(
        Tables.documents(s, d), "doc_id", "text",
        benchTexts.toDF("btext"), "btext", n = 3)
    }),

    // graded decontamination: per-doc fraction of 3-gram OCCURRENCES
    // found in the benchmark gram set (Lee et al. containment) — the
    // number a kill-threshold policy thresholds on, vs q73's binary flag
    "q115_containment_score" -> ((s, d) => {
      import s.implicits._
      CorpusPipeline.containmentScore(
        Tables.documents(s, d), "doc_id", "text",
        benchTexts.toDF("btext"), "btext", n = 3)
    }),

    // incremental admission: first half of the corpus is "established"
    // and participates only via stored signatures; the second half is
    // the incoming batch. Output = the REJECTED batch ids (near-dups
    // of the corpus or of an earlier kept batch row).
    "q75_incremental_dedup" -> ((s, d) => {
      val docs = graft.Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 250)
      val batch  = docs.filter(col("doc_id") >= 250)
      val sigs = graft.dedup.NearDup.minhashSignatures(corpus, "doc_id", "text")
      val (admitted, _, release) = graft.dedup.NearDup.incrementalDedup(
        sigs, batch, "doc_id", "text", threshold = 0.8)
      // materialize the (tiny) rejected-id answer eagerly, then release
      // the admission pipeline's cached batch frame — repeated
      // invocations (bench min-of-3, a batch loop) would otherwise
      // accumulate an InMemoryRelation per call
      graft.state.Checkpoints.stableThenRelease(batch.select("doc_id")
        .join(admitted.select("doc_id"), Seq("doc_id"), "left_anti"), release)
    }),

    // deterministic per-source sampling (data mixing): membership is a
    // pure function of (doc_id, salt), reproducible in any engine
    "q78_stratified_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("src", concat(lit("src"), (col("doc_id") % 3).cast("string")))
      graft.operators.SplitOps.stratifiedSample(docs, "doc_id", "src",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1))
        .select("doc_id", "src")
    }),

    // deterministic 5-fold CV assignment + fold × label independence
    // report: md5-bucket folds, exact Decimal chi-square contributions
    // with one closing division per cell
    "q232_kfold_balance" -> ((s, d) =>
      graft.operators.SplitOps.kFoldReport(
        Tables.documents(s, d), "doc_id", "lang", k = 5)),

    // deterministic uniform negative sampling (the random-negative
    // complement of q120's hard negatives): per anchor, 8 smallest
    // md5(anchor|cand|salt) draws among different-source candidates
    "q233_negative_sampling" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.SplitOps.negativeSampleK(
        docs.filter(col("doc_id") % 50 === 0), docs,
        "doc_id", "source", k = 8)
    }),

    // concat-then-chunk sequence packing: global token offset via the
    // two-level cumulative sum, chunked into 2048-token packs
    "q79_sequence_packing" -> ((s, d) =>
      CorpusPipeline.packSequences(Tables.documents(s, d), "doc_id", "text",
        packLen = 2048L)),

    // fuzzy-exact dedup: digest over case/punctuation/whitespace-
    // normalized text, min id kept per group
    "q80_normalized_dedup" -> ((s, d) =>
      graft.dedup.NearDup.exactDedupNormalized(
          Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "dup_count")),

    // temperature mixing on the REAL skewed language column — the
    // oracle recomputes counts -> weights -> rates -> membership
    // independently, proving the whole mix is engine-reproducible
    "q81_temperature_mix" -> ((s, d) =>
      graft.operators.SplitOps.temperatureMix(
          Tables.documents(s, d), "doc_id", "lang", temperature = 0.5)
        .select("doc_id", "lang")),

    // temperature mixing WITH upsampling (XLM-R rule): expected total
    // stays at N, low-resource langs repeat with deterministic
    // copy_id fan-out, high-resource langs downsample. The oracle
    // recomputes counts -> (n/N)^T weights -> N-scaled rates ->
    // floor+fractional-hash copy counts -> range explode.
    "q103_upsample_mix" -> ((s, d) =>
      graft.operators.SplitOps.temperatureMixUpsampled(
          Tables.documents(s, d), "doc_id", "lang", temperature = 0.5)
        .select("doc_id", "lang", "copy_id")),

    // per-language token budgets on the real lang column (the
    // proportional-mix control); zh absent from the map -> dropped
    "q82_lang_token_budget" -> ((s, d) =>
      CorpusPipeline.tokenBudgetByGroup(
          Tables.documents(s, d), "doc_id", "text", "lang",
          Map("en" -> 2000L, "es" -> 1500L, "de" -> 1000L, "fr" -> 500L))
        .select("doc_id", "lang")),

    // overlapping context-window chunking, pure expressions
    "q83_doc_chunking" -> ((s, d) =>
      CorpusPipeline.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 3)),

    // exact-substring duplication (Lee et al. 2022 signal): 8-token
    // windows shared by >= 2 documents, hash-keyed aggregation
    "q84_dup_spans" -> ((s, d) =>
      // (round-17 probed a scan fan-out here — NEUTRAL on A/B, kept
      // unfanned; its heavy sibling passes q91/q320/q321 DID win)
      CorpusPipeline.duplicateSpans(Tables.documents(s, d), "doc_id", "text",
        windowTokens = 8, minDocs = 2)),

    // the per-document removal signal the span table feeds; cut
    // eagerly so the shared span frame is exploded once and released
    // per invocation
    "q85_dup_span_fraction" -> ((s, d) => {
      val (out, release) = CorpusPipeline.duplicateSpanFraction(
        Tables.documents(s, d), "doc_id", "text",
        windowTokens = 8, minDocs = 2)
      graft.state.Checkpoints.stableThenRelease(out, release)
    }),

    // Bloom-filter decontamination (the no-broadcast scale path).
    // Oracle = the exact gram join: Spark's Bloom hashes are fixed-
    // seed, so the output is deterministic, and fpp 1e-9 keeps the
    // EXPECTED false-positive count at ~2e-4 even for sf0.1's ~200k
    // probed grams (1e-6 would put it near 0.2 — a real chance of a
    // single FP breaking the hash compare) — verified equal to exact
    // at sf0.001 (spec), sf0.01, and sf0.1 (this oracle)
    "q86_bloom_decontaminate" -> ((s, d) => {
      import s.implicits._
      // cut eagerly so each invocation releases its broadcast bit
      // array (bench runs this 3x)
      val (out, release) = CorpusPipeline.decontaminateBloom(
        Tables.documents(s, d), "doc_id", "text",
        benchTexts.toDF("btext"), "btext", n = 3, fpp = 1e-9)
      graft.state.Checkpoints.stableThenRelease(out, release)
    }),

    // quality-aware near-dup resolution: per cluster keep the doc
    // MAXIMIZING token count (tie -> min id); output = the DROPPED ids
    "q87_near_dup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = CorpusPipeline.nearDupDropBest(docs, "doc_id", "text",
        graft.text.TextOps.tokenCount(col("text")).cast("double"),
        threshold = 0.8)
      docs.select("doc_id")
        .join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    }),

    // SemDeDup: embedding-space near-dup clusters (cosine >= 0.45 via
    // the full-recall banded hyperplane LSH — q51 proves pair-set
    // equality with the exact quadratic at these parameters), keep the
    // min id per cluster. Output = dropped -> keeper mapping; oracle
    // recomputes it independently with quadratic cosine + recursive-CTE
    // reachability (true min-label components, not pinned).
    // KNOWN SENSITIVITY (ADVICE r7): full LSH recall at (96, 6) is
    // empirical for the CURRENT embeddings distribution; if the driver
    // ever regenerates embeddings.parquet (as it does events.parquet),
    // a recall miss here is a parameter-tuning signal (re-run
    // tools.CosineLshProbe, see git rev e766bb7), not a code bug.
    "q88_semantic_dedup" -> ((s, d) => {
      CorpusPipeline.semanticDedupLabels(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.45)
    }),

    // exact-substring span REMOVAL (Lee et al. 2022 surgery): maximal
    // duplicated spans (merged overlapping 8-token dup windows) excised
    // from the text; oracle recomputes the covered-position union and
    // the rebuilt text independently
    "q91_dup_span_removal" -> ((s, d) =>
      CorpusPipeline.removeDuplicateSpans(
        graft.Tables.fanOut(Tables.documents(s, d)), "doc_id", "text",
        windowTokens = 8, minDocs = 2)),

    // incremental SemDeDup admission: even vec_ids are the established
    // corpus participating ONLY via stored int8-quantized state (q89's
    // formula — the 4× state the 100 TB increment driver persists);
    // odd vec_ids are the incoming batch. Output = REJECTED batch ids
    // (cosine-match with the corpus, or non-min member of a
    // batch-internal component). The oracle recomputes the WHOLE
    // admission independently: quantize → quadratic cosine vs corpus →
    // quadratic cosine among survivors → recursive-CTE min-label
    // components. Nearest pair sits 5.4e-05 from the 0.45 threshold at
    // sf0.01 — far outside cross-engine double-rounding reach. Same
    // (96, 6) recall sensitivity note as q88 applies.
    "q92_incremental_semantic" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val corpus = embs.filter(col("vec_id") % 2 === 0)
      val batch  = embs.filter(col("vec_id") % 2 === 1)
      val state = graft.similarity.Ann.quantizeInt8(corpus, "vec_id", "embedding")
      // the admission kernel verifies each band collision in its one
      // pass over the state: the state's band rows carry their codes
      // past the batch's broadcast band keys and codes, so no
      // candidate distinct and no code join runs, and the driver drops
      // the duplicate pairs (timings in SCALE.md's q92 cost anatomy)
      val (admitted, _, release) = CorpusPipeline.incrementalSemanticDedup(
        state, batch, "vec_id", "embedding", threshold = 0.45)
      // materialize the (tiny) rejected-id answer eagerly, then release
      // the admission pipeline's cached intermediates (bench min-of-3)
      graft.state.Checkpoints.stableThenRelease(batch.select("vec_id")
        .join(admitted.select("vec_id"), Seq("vec_id"), "left_anti"), release)
    }),

    // deterministic global training-order shuffle: dense 1-based rank
    // of the salted md5 hash, engine-reproducible, no global window
    "q98_shuffle_positions" -> ((s, d) =>
      graft.operators.SplitOps.shufflePositions(
          Tables.documents(s, d), "doc_id")
        .select("doc_id", "shuffle_pos")),

    // exact-k per-group holdout sample: 25 docs per language by salted
    // md5 order — deterministic cross-engine, bounded-heap aggregation
    // (k rows per group per map partition shuffle, no per-group window)
    "q97_sample_k_per_group" -> ((s, d) =>
      graft.operators.SplitOps.sampleKPerGroup(
        Tables.documents(s, d), "doc_id", "lang", k = 25)),

    // semantic decontamination: every ~97th embedding stands in for a
    // benchmark/eval suite; corpus rows within 0.3 cosine of ANY bench
    // row are flagged (paraphrase-leakage detection that gram overlap
    // cannot see). Nearest value to the threshold is 4e-4 away at all
    // three SFs — far outside cross-engine double-rounding reach.
    "q94_semantic_decontaminate" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      CorpusPipeline.semanticDecontaminate(
        embs.filter(col("vec_id") % 97 =!= 0), "vec_id", "embedding",
        embs.filter(col("vec_id") % 97 === 0), "embedding",
        threshold = 0.3)
    }),

    // CCNet-style LM quality scoring: an interpolated bigram LM
    // trained on the corpus itself (CCNet trains on a reference
    // corpus; self-scoring exercises the identical machinery), each
    // doc scored by bigram perplexity. The oracle recomputes the WHOLE
    // model + scoring independently: counts -> interpolated
    // probabilities -> per-doc mean NLL -> perplexity.
    "q93_lm_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainBigramLm(docs, "text")
      graft.text.NgramLm.scorePerplexity(docs, "doc_id", "text", lm)
    }),

    // stupid-backoff trigram scoring (Brants 2007) self-trained on
    // the corpus — the web-scale LM score (no discounting, fixed α
    // penalty per backoff level) complementing q93's interpolated
    // bigram: three hash-keyed count frames, three left joins, one
    // per-doc aggregate. The oracle retrains the WHOLE model and
    // replays the coalesce cascade with the identical nesting
    "q177_sbo_trigram_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainStupidBackoff(docs, "text")
      graft.text.NgramLm.scoreStupidBackoff(docs, "doc_id", "text", lm)
    }),

    // triangle count of the near-dup graph — the clique-density
    // report distinguishing chain-shaped dup clusters (transcription
    // chains) from true duplicate cliques; standard 3-way ordered
    // self-join on the (id_a < id_b) pair list
    "q144_dup_triangles" -> ((s, d) => {
      import s.implicits._
      val pairs = graft.dedup.NearDup.minhashLshPairs(
          Tables.documents(s, d), "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b")).transform(graft.state.Checkpoints.stable)
      Seq((pairs.count(), graft.graph.GraphOps.triangleCount(pairs)))
        .toDF("n_edges", "n_triangles")
    }),

    // SURGICAL decontamination: benchmark-matching 4-token windows
    // merge into maximal spans and are excised from the text — the
    // middle ground between q73's drop-flag and q115's score; docs
    // survive minus the quotes
    "q140_surgical_decontaminate" -> ((s, d) => {
      import s.implicits._
      CorpusPipeline.decontaminateSpans(
        graft.Tables.fanOut(Tables.documents(s, d)),
        "doc_id", "text", benchTexts.toDF("btext"), "btext",
        windowTokens = 4)
    }),

    // "Fightin' Words" (Monroe et al. 2008): per-language top-10
    // distinctive terms by Dirichlet-prior z-scored log-odds vs the
    // rest of the corpus — the principled answer to "which words
    // characterize subcorpus X" (raw ratios overweight rare words)
    "q130_distinctive_terms" -> ((s, d) =>
      graft.text.Classify.distinctiveTerms(Tables.documents(s, d),
        "lang", "text", k = 10)),

    // corpus report card: per-language doc/token/char totals, distinct
    // vocabulary (two-level aggregate — no countDistinct Expand), and
    // the derived avg-tokens / type-token-ratio columns every corpus
    // datasheet leads with
    "q126_corpus_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val perTok = docs
        .select(col("lang"), explode(graft.text.TextOps.tokens(lower(col("text")))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("__c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_distinct_tokens"), sum("__c").as("n_tokens"))
      docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
        .join(perTok, "lang")
        .withColumn("avg_doc_tokens",
          round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 4))
        .withColumn("type_token_ratio",
          round(col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"), 6))
    }),

    // dedup report card: near-dup cluster-size histogram (MinHash+LSH
    // pairs at 0.8 → min-label components → sizes), singleton row
    // included as total − clustered. The oracle recomputes clusters
    // from exact quadratic Jaccard + a recursive CTE.
    "q122_cluster_sizes" -> ((s, d) =>
      CorpusPipeline.nearDupClusterSizes(Tables.documents(s, d),
        "doc_id", "text", threshold = 0.8)),

    // statistical language ID: the q118 Naive Bayes machinery over
    // character trigrams WITH multiplicity (the classic lang-ID
    // representation — no language-specific tokenizer needed),
    // trained on the lang labels and scored back over the corpus
    "q131_charngram_langid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // minPairCount=3 floors the near-hapax gram tail out of the model
      // frame (the scoring join's build side) — T_l and V stay
      // pre-floor so retained grams score identically (oracle mirrors
      // the floor in its sparse join). The fused path shares ONE
      // persisted gram frame between training and scoring (the
      // explode+hash corpus pass is the dominant cost and the
      // separate-stage form pays it twice; ClassifySpec proves fused ≡
      // unfused)
      graft.text.Classify.trainScoreSelfChar(docs, "lang", "doc_id", "text",
        minPairCount = 3)
    }),

    // fastText-style domain classifier as multinomial Naive Bayes:
    // trained on the documents' source labels, scored back over the
    // corpus (argmax label + log-score). Training is two aggregations;
    // scoring one hash-keyed join + a per-doc argmax over #labels
    // rows. The oracle retrains and rescores the WHOLE model
    // independently on token strings.
    "q118_nb_classify" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.Classify.trainNaiveBayes(docs, "source", "text")
      graft.text.Classify.scoreNaiveBayes(docs, "doc_id", "text", model)
    }),

    // DSIR importance weights (Xie et al. 2023): hashed uni+bigram
    // bag-of-features log-likelihood ratio of a target model (the
    // English slice) to the raw corpus model; the md5-prefix bucket
    // keeps the features engine-portable. Downstream resampling
    // consumes the weight column directly.
    "q119_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.Classify.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    }),

    // cross-split leakage audit: near-dup pairs (MinHash+LSH, verified
    // Jaccard >= 0.8) whose members landed in DIFFERENT train/val/test
    // splits — the contamination a hash split cannot prevent (near-dups
    // hash independently) and every eval pipeline must check for. The
    // oracle recomputes pairs with exact quadratic Jaccard and the
    // split assignment with the q48 md5 formula.
    "q106_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val splits = graft.operators.SplitOps.assignSplit(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      graft.dedup.NearDup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    }),

    // domain blocklist gate: host suffix-explode + semi-join against
    // the list (subdomains of a blocked domain block too), matched
    // ids anti-join back; userinfo spoofs and casing/ports cannot
    // bypass, lookalike domains and hostless rows pass
    "q105_domain_blocklist" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "https://good.com/page"),
        (2L, "https://evil.com/x"),
        (3L, "http://a.b.evil.com/y"),
        (4L, "https://notevil.com/z"),
        (5L, "http://trusted.com@evil.com/spoof"),
        (6L, "https://EVIL.com:8443/up"),
        (7L, "plain text"),
        (8L, "https://sub.ads.example/banner")).toDF("doc_id", "url")
      val blocklist = Seq("evil.com", "ads.example").toDF("domain")
      graft.text.UrlOps.filterBlockedDomains(docs, "doc_id", "url",
        blocklist, "domain")
    }),

    // crawl-style URL canonicalization + dedup: casing/www/default-
    // port/fragment/tracking-param/param-order/trailing-slash variants
    // of the same page collapse to one canonical key; unparseable
    // inputs group under NULL. Pure row map + one count aggregate.
    "q102_url_dedup" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "HTTP://WWW.Example.com:80/Path/?utm_source=x&b=2&a=1#frag"),
        (2L, "http://example.com/Path?a=1&b=2"),
        (3L, "https://Example.com:443/"),
        (4L, "https://example.com"),
        (5L, "http://example.com/Path/?a=1&b=2&utm_campaign=z"),
        (6L, "not a url"),
        (7L, "https://sub.example.com/p?gclid=123")).toDF("doc_id", "url")
      graft.text.UrlOps.dedupByUrl(docs, "doc_id", "url")
    }),

    // paragraph-level exact dedup (C4/Dolma keep-first rule): every
    // occurrence of a non-blank paragraph except the globally first
    // (min (doc_id, pos)) is removed, docs rebuilt in order. Fixture
    // exercises cross-doc dup, within-doc dup whose first lives in
    // ANOTHER doc (both copies go), blank-paragraph immunity, and the
    // fully-deduped doc -> empty string.
    "q100_paragraph_dedup" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "intro one\ncommon footer\nbody a"),
        (2L, "intro two\ncommon footer\nbody b"),
        (3L, "common footer\nunique three"),
        (4L, "body a\nbody a"),
        (5L, ""),
        (6L, "   \nsolo")).toDF("doc_id", "text")
      val (out, release) = CorpusPipeline.dedupParagraphs(docs, "doc_id", "text")
      graft.state.Checkpoints.stableThenRelease(out
        .select(col("doc_id"), col("text").as("clean_text"),
          col("n_removed_paragraphs")), release)
    }),

    // CCNet head/middle/tail quality buckets per language: value-
    // threshold terciles of the q93 perplexity distribution
    // (percentile_disc cut: smallest ppl whose cumulative doc count
    // reaches ceil(n·p)), thresholds built from the (lang, ppl)
    // HISTOGRAM via the grouped two-level cumsum and broadcast back.
    // The oracle recomputes the WHOLE rule: LM -> ppl -> histogram ->
    // cumulative counts -> thresholds -> bucket compare.
    "q99_ppl_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = graft.text.NgramLm.trainBigramLm(docs, "text")
      val (out, release) =
        CorpusPipeline.perplexityBuckets(docs, "doc_id", "text", "lang", lm)
      graft.state.Checkpoints.stableThenRelease(out, release)
    }),

    // Unicode-canonical dedup: precomposed vs combining-mark spellings
    // of the same rendered text collapse under the NFC digest. The
    // oracle recomputes with DuckDB's ICU nfc_normalize — a JDK-vs-ICU
    // UAX#15 agreement check, not a pinned literal.
    "q90_nfc_dedup" -> ((s, _) => {
      import s.implicits._
      graft.dedup.NearDup.exactDedupNfc(
          nfcDocs.toDF("doc_id", "text"), "doc_id", "text")
        .select(col("doc_id"),
          graft.expressions.TextExpressions.nfc_normalize(col("text")).as("norm"),
          col("dup_count"))
    }))

  val oracle: Map[String, String] = Map(
    "q72_line_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text
        |FROM (VALUES
        |  (1, 'alpha beta' || chr(10) || 'unique one'),
        |  (2, 'gamma delta' || chr(10) || 'unique two'),
        |  (3, 'epsilon zeta'),
        |  (4, 'unique four' || chr(10) || 'alpha beta'),
        |  (5, 'solo content only'),
        |  (6, '')
        |) t(doc_id, clean_text)""".stripMargin,

    // audited, not merely pinned: this id list equals the exact-Jaccard
    // (J >= 0.8) ground truth computed independently in DuckDB — batch
    // ids with a corpus-half partner, plus non-min members of
    // batch-internal components (the incremental path's signature
    // estimate agrees with exact J for every rejection at this SF)
    "q75_incremental_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (VALUES
        |  (267),(290),(293),(301),(323),(332),(374),(377),(383),(387),
        |  (389),(413),(420),(446),(447),(450),(455),(457),(462),(486)
        |) t(doc_id)""".stripMargin,

    // same md5-prefix bucket as the engine's SplitOps.hashBucket —
    // membership must be REPRODUCIBLE cross-engine, that's the point
    "q78_stratified_sample" ->
      """SELECT doc_id, 'src' || CAST(doc_id % 3 AS VARCHAR) AS src
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 8))::UBIGINT
        |        / 4294967296.0
        |  < CASE doc_id % 3 WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.1 END""".stripMargin,

    // same md5 bucket mod 5; chi-square replayed on HUGEINT products
    // with the identical one closing division per cell
    "q232_kfold_balance" ->
      """WITH cells AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |           % 5 AS INT) AS fold,
        |    COALESCE(CAST(lang AS VARCHAR), '__null__') AS label,
        |    count(*) AS n
        |  FROM documents WHERE doc_id IS NOT NULL
        |  GROUP BY 1, 2
        |), ft AS (SELECT fold, sum(n) AS fold_n FROM cells GROUP BY 1
        |), lt AS (SELECT label, sum(n) AS label_n FROM cells GROUP BY 1
        |), tt AS (SELECT sum(n) AS nn FROM cells)
        |SELECT c.fold, c.label, CAST(c.n AS BIGINT) AS n,
        |  CAST(ft.fold_n AS BIGINT) AS fold_n,
        |  CAST(lt.label_n AS BIGINT) AS label_n,
        |  round(CAST(CAST(ft.fold_n AS HUGEINT) * CAST(lt.label_n AS HUGEINT)
        |      AS DOUBLE) / CAST(tt.nn AS DOUBLE), 6) AS expected,
        |  round(CAST((CAST(c.n AS HUGEINT) * CAST(tt.nn AS HUGEINT)
        |        - CAST(ft.fold_n AS HUGEINT) * CAST(lt.label_n AS HUGEINT))
        |      * (CAST(c.n AS HUGEINT) * CAST(tt.nn AS HUGEINT)
        |        - CAST(ft.fold_n AS HUGEINT) * CAST(lt.label_n AS HUGEINT))
        |      AS DOUBLE)
        |    / CAST(CAST(tt.nn AS HUGEINT) * CAST(ft.fold_n AS HUGEINT)
        |        * CAST(lt.label_n AS HUGEINT) AS DOUBLE), 6) AS chi_contrib
        |FROM cells c
        |JOIN ft USING (fold) JOIN lt USING (label) CROSS JOIN tt""".stripMargin,

    // same md5 u32 draw; row_number twin of the bounded-heap top-k
    // with the identical (draw asc, neg_id asc) order
    "q233_negative_sampling" ->
      """WITH a AS (
        |  SELECT doc_id AS anchor_id, source AS ag FROM documents
        |  WHERE doc_id % 50 = 0
        |), c AS (
        |  SELECT doc_id AS neg_id, source AS cg FROM documents
        |), s AS (
        |  SELECT anchor_id, neg_id,
        |    CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '|'
        |      || CAST(neg_id AS VARCHAR) || '|neg'), 1, 8))::UBIGINT AS BIGINT)
        |      AS draw
        |  FROM a, c
        |  WHERE anchor_id <> neg_id AND a.ag IS DISTINCT FROM c.cg
        |)
        |SELECT anchor_id, CAST(rnk AS INT) AS rank, neg_id, draw FROM (
        |  SELECT anchor_id, neg_id, draw,
        |    row_number() OVER (PARTITION BY anchor_id
        |      ORDER BY draw ASC, neg_id ASC) AS rnk
        |  FROM s)
        |WHERE rnk <= 8""".stripMargin,

    "q79_sequence_packing" ->
      """WITH toked AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS n_tokens
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM toked
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS pack_id,
        |  CAST(strt % 2048 AS BIGINT) AS pack_offset
        |FROM cum""".stripMargin,

    "q80_normalized_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text),
        |          '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |      FROM documents)
        |GROUP BY norm""".stripMargin,

    // full independent recomputation of the temperature mix: counts ->
    // (n/N)^T weights -> feasible downsample-only rates (rounded to 6
    // decimals, matching the engine's cross-engine-reproducibility
    // contract) -> salted md5 membership
    "q81_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*)::DOUBLE AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang
        |), tot AS (SELECT sum(n) AS nn FROM counts),
        |w AS (SELECT lang, n, pow(n / (SELECT nn FROM tot), 0.5) AS wt FROM counts),
        |ws AS (SELECT sum(wt) AS sw FROM w),
        |feas AS (SELECT min(n / (wt / (SELECT sw FROM ws))) AS c FROM w),
        |rates AS (
        |  SELECT lang,
        |    round(least(1.0, (SELECT c FROM feas) * (wt / (SELECT sw FROM ws)) / n), 6) AS r
        |  FROM w)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates USING (lang)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix'), 1, 8))::UBIGINT
        |        / 4294967296.0 < r""".stripMargin,

    // full independent recomputation of the upsampled mix; rates are
    // N·(w/Σw)/n with NO clamp, rounded to 6 decimals (the q81
    // cross-engine contract); copies = floor(r) + (hash < frac(r));
    // range(0, copies) drops rate-0 rows exactly like the explode
    "q103_upsample_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*)::DOUBLE AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang
        |), tot AS (SELECT sum(n) AS nn FROM counts),
        |w AS (SELECT lang, n, pow(n / (SELECT nn FROM tot), 0.5) AS wt FROM counts),
        |ws AS (SELECT sum(wt) AS sw FROM w),
        |rates AS (
        |  SELECT lang,
        |    round((SELECT nn FROM tot) * (wt / (SELECT sw FROM ws)) / n, 6) AS r
        |  FROM w),
        |base AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(floor(r) AS BIGINT)
        |      + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix'), 1, 8))::UBIGINT
        |               / 4294967296.0 < r - floor(r) THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN rates USING (lang)
        |)
        |SELECT doc_id, lang, CAST(u AS INTEGER) AS copy_id
        |FROM (SELECT doc_id, lang, unnest(range(0, copies)) AS u FROM base)""".stripMargin,

    "q82_lang_token_budget" ->
      """WITH toked AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS n_tok
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, lang,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM toked
        |)
        |SELECT doc_id, lang FROM cum
        |WHERE c <= CASE lang WHEN 'en' THEN 2000 WHEN 'es' THEN 1500
        |                     WHEN 'de' THEN 1000 WHEN 'fr' THEN 500 ELSE 0 END""".stripMargin,

    // stride 13 = 16 - 3; DuckDB list slicing is 1-based inclusive,
    // matching Spark's slice(start, length) window exactly
    "q83_doc_chunking" ->
      """WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  array_to_string(toks[(i*13+1):(i*13+16)], ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, toks,
        |    unnest(range(greatest(1,
        |      CAST(ceil((len(toks) - 3) / 13.0) AS BIGINT)))) AS i
        |  FROM toked)""".stripMargin,

    "q73_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |),
        |dg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) g
        |    FROM toks WHERE len(toks) >= 3)
        |),
        |bg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest([array_to_string(bt[i:i+2], ' ') for i in range(1, len(bt)-1)]) g
        |    FROM (SELECT regexp_split_to_array(trim(btext), '\s+') bt
        |          FROM (VALUES ('key agg row scan'), ('batch window spark order')) v(btext))
        |    WHERE len(bt) >= 3)
        |)
        |SELECT doc_id, count(*) AS n_contaminated_grams
        |FROM dg JOIN bg USING (g)
        |GROUP BY doc_id""".stripMargin,

    // q73's gram machinery, but occurrences keep multiplicity and the
    // LEFT join grades every doc: containment = hits/total, a ratio
    // of exact integer counts
    "q115_containment_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |),
        |dg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) g
        |  FROM toks WHERE len(toks) >= 3
        |),
        |bg AS (
        |  SELECT DISTINCT g AS bgram FROM (
        |    SELECT unnest([array_to_string(bt[i:i+2], ' ') for i in range(1, len(bt)-1)]) g
        |    FROM (SELECT regexp_split_to_array(trim(btext), '\s+') bt
        |          FROM (VALUES ('key agg row scan'), ('batch window spark order')) v(btext))
        |    WHERE len(bt) >= 3)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams,
        |  CAST(count(bgram) AS BIGINT) AS hit_grams,
        |  round(count(bgram) * 1.0 / count(*), 6) AS containment
        |FROM dg LEFT JOIN bg ON dg.g = bg.bgram
        |GROUP BY doc_id""".stripMargin,

    // identical to the q73 oracle except the column name: the Bloom
    // path's candidate count equals the exact count when no false
    // positive fires (see the q86 builder comment)
    "q86_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |),
        |dg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) g
        |    FROM toks WHERE len(toks) >= 3)
        |),
        |bg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest([array_to_string(bt[i:i+2], ' ') for i in range(1, len(bt)-1)]) g
        |    FROM (SELECT regexp_split_to_array(trim(btext), '\s+') bt
        |          FROM (VALUES ('key agg row scan'), ('batch window spark order')) v(btext))
        |    WHERE len(bt) >= 3)
        |)
        |SELECT doc_id, count(*) AS n_candidate_grams
        |FROM dg JOIN bg USING (g)
        |GROUP BY doc_id""".stripMargin,

    // audited, not merely pinned: this id list equals the ground truth
    // computed independently in DuckDB + union-find — exact 3-gram
    // Jaccard >= 0.8 pairs (25 pairs, 23 clusters at sf0.01), per
    // cluster drop everything but the argmax-token-count member
    // (tie -> lowest id). The MinHash estimate agrees with exact J
    // for every cluster at this SF.
    "q87_near_dup_keep_best" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (VALUES
        |  (31),(44),(72),(87),(98),(166),(178),(185),(245),(267),(293),(301),
        |  (310),(326),(332),(374),(387),(413),(420),(435),(447),(450),(455),(458)
        |) t(doc_id)""".stripMargin,

    "q84_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') AS t
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), spans AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(t[i:i+7], ' ') for i in range(1, len(t)-6)]) AS span
        |  FROM toks WHERE len(t) >= 8
        |)
        |SELECT span, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occurrences
        |FROM spans GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    "q85_dup_span_fraction" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') AS t
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), spans AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(t[i:i+7], ' ') for i in range(1, len(t)-6)]) AS span
        |  FROM toks WHERE len(t) >= 8
        |), dups AS (
        |  SELECT span FROM spans GROUP BY span
        |  HAVING count(DISTINCT doc_id) >= 2
        |)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN span IN (SELECT span FROM dups)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  round(sum(CASE WHEN span IN (SELECT span FROM dups)
        |            THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_fraction
        |FROM spans GROUP BY doc_id""".stripMargin,

    // independent recomputation of the span surgery: dup spans by
    // string (the engine keys on xxhash64 — 64-bit birthday bound),
    // covered positions as the union of exploded dup-window ranges,
    // text rebuilt from the surviving original-case tokens in order
    "q91_dup_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END AS t,
        |    CASE WHEN text IS NULL OR length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') END AS lt
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id, CAST(u.strt AS INTEGER) AS strt, u.span FROM (
        |    SELECT doc_id,
        |      unnest([{'strt': i, 'span': array_to_string(lt[i:i+7], ' ')}
        |              for i in range(1, len(lt)-6)]) AS u
        |    FROM toks WHERE len(lt) >= 8)
        |), dups AS (
        |  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        |), covered AS (
        |  SELECT DISTINCT doc_id, strt + j AS p FROM (
        |    SELECT doc_id, strt, unnest(range(0, 8)) AS j
        |    FROM spans WHERE span IN (SELECT span FROM dups))
        |), toklist AS (
        |  SELECT doc_id, unnest(t) AS tok,
        |    CAST(unnest(range(1, len(t)+1)) AS INTEGER) AS p
        |  FROM toks
        |), kept AS (
        |  SELECT k.doc_id, k.p, k.tok FROM toklist k
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |                    WHERE c.doc_id = k.doc_id AND c.p = k.p)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS nk, string_agg(tok, ' ' ORDER BY p) AS clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id, COALESCE(r.clean, '') AS clean_text,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - COALESCE(r.nk, 0) AS BIGINT) AS n_removed_tokens
        |FROM toks t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    // independent ground truth: exact quadratic cosine pairs, then
    // min-label components via recursive reachability (each node's
    // component minimum = min over every reachable ancestor)
    "q88_semantic_dedup" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION ALL
        |  SELECT id_b AS u, id_a AS v FROM pairs
        |), reach(node, anc) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.anc
        |)
        |SELECT node AS vec_id, min(anc) AS kept_id
        |FROM reach GROUP BY node
        |HAVING min(anc) < node""".stripMargin,

    // full independent recomputation of the incremental admission over
    // the SAME quantized representation the engine stores (q89's
    // bit-exact cross-engine formula): corpus-match rejections plus
    // recursive-reachability min-label rejections among survivors
    "q92_incremental_semantic" ->
      """WITH RECURSIVE q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CASE WHEN s = 0 THEN 0.0
        |                ELSE CAST(CAST(floor(x / s * 127 + 0.5) AS INTEGER) AS DOUBLE) END) AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS s
        |        FROM embeddings)
        |), corpus AS (SELECT * FROM q WHERE vec_id % 2 = 0),
        |batch AS (SELECT * FROM q WHERE vec_id % 2 = 1),
        |rejc AS (
        |  SELECT DISTINCT b.vec_id FROM batch b, corpus c
        |  WHERE list_cosine_similarity(b.qv, c.qv) >= 0.45
        |), surv AS (
        |  SELECT * FROM batch WHERE vec_id NOT IN (SELECT vec_id FROM rejc)
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM surv a, surv b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.qv, b.qv) >= 0.45
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(node, anc) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.anc
        |), rejs AS (
        |  SELECT node AS vec_id FROM reach GROUP BY node HAVING min(anc) < node
        |)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id FROM rejc
        |UNION
        |SELECT CAST(vec_id AS BIGINT) AS vec_id FROM rejs""".stripMargin,

    // naive global row_number recomputation of the bucketed two-level
    // rank; hash ties break on doc_id ASC in both engines
    "q98_shuffle_positions" ->
      """SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shuffle'), 1, 8))::UBIGINT ASC,
        |             doc_id ASC) AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin,

    // same salted-md5 order recomputed independently; rank ties (32-bit
    // hash collisions) break on doc_id ASC in both engines
    "q97_sample_k_per_group" ->
      """SELECT lang, CAST(rank AS INTEGER) AS sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|holdout'), 1, 8))::UBIGINT DESC,
        |               doc_id ASC) AS rank
        |  FROM documents)
        |WHERE rank <= 25""".stripMargin,

    "q94_semantic_decontaminate" ->
      """WITH bench AS (
        |  SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id % 97 = 0
        |), corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  WHERE vec_id % 97 <> 0
        |)
        |SELECT c.vec_id, count(*) AS n_matches,
        |  round(max(list_cosine_similarity(c.e, b.e)), 6) + 0 AS max_cos
        |FROM corpus c, bench b
        |WHERE list_cosine_similarity(c.e, b.e) >= 0.3
        |GROUP BY c.vec_id""".stripMargin,

    // full independent recomputation of the bigram LM and the scoring:
    // the engine keys model joins on xxhash64 (8-byte, birthday-bound
    // argument as q84), the oracle joins on the gram strings — same
    // result absent a 64-bit collision
    // exact-Jaccard pairs (the q27-proven ground truth at 0.8) + the
    // same ordered 3-way self-join
    "q144_dup_triangles" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |)
        |SELECT (SELECT count(*) FROM pairs) AS n_edges,
        |  (SELECT count(*) FROM pairs ab
        |     JOIN pairs bc ON bc.id_a = ab.id_b
        |     JOIN pairs ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b)
        |    AS n_triangles""".stripMargin,

    // the q91 surgery recomputation with the dup set replaced by the
    // benchmark's own case-folded 4-token windows
    "q140_surgical_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END AS t,
        |    CASE WHEN text IS NULL OR length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') END AS lt
        |  FROM documents
        |), bench(bt) AS (VALUES ('key agg row scan'), ('batch window spark order')),
        |bspans AS (
        |  SELECT DISTINCT array_to_string(blt[i:i+3], ' ') AS span FROM (
        |    SELECT regexp_split_to_array(lower(trim(bt)), '\s+') AS blt,
        |      unnest(range(1, len(regexp_split_to_array(lower(trim(bt)), '\s+')) - 2)) AS i
        |    FROM bench)
        |), spans AS (
        |  SELECT doc_id, CAST(u.strt AS INTEGER) AS strt, u.span FROM (
        |    SELECT doc_id,
        |      unnest([{'strt': i, 'span': array_to_string(lt[i:i+3], ' ')}
        |              for i in range(1, len(lt)-2)]) AS u
        |    FROM toks WHERE len(lt) >= 4)
        |), covered AS (
        |  SELECT DISTINCT doc_id, strt + j AS p FROM (
        |    SELECT doc_id, strt, unnest(range(0, 4)) AS j
        |    FROM spans WHERE span IN (SELECT span FROM bspans))
        |), toklist AS (
        |  SELECT doc_id, unnest(t) AS tok,
        |    CAST(unnest(range(1, len(t)+1)) AS INTEGER) AS p
        |  FROM toks
        |), kept AS (
        |  SELECT k.doc_id, k.p, k.tok FROM toklist k
        |  WHERE NOT EXISTS (SELECT 1 FROM covered c
        |                    WHERE c.doc_id = k.doc_id AND c.p = k.p)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS nk, string_agg(tok, ' ' ORDER BY p) AS clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id, COALESCE(r.clean, '') AS clean_text,
        |  CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - COALESCE(r.nk, 0) AS BIGINT) AS n_removed_tokens
        |FROM toks t LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,

    // full re-derivation of the Monroe et al. statistic with the same
    // operand order: counts → Dirichlet prior → log-odds delta →
    // variance → rounded z → per-group rank
    "q130_distinctive_terms" ->
      """WITH norm AS (
        |  SELECT lang, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks AS (
        |  SELECT lang AS grp, unnest(regexp_split_to_array(nt, ' ')) AS w
        |  FROM norm WHERE length(nt) > 0
        |), gw AS (
        |  SELECT grp, w, count(*) AS ygw FROM toks GROUP BY 1, 2
        |), wt AS (SELECT w, sum(ygw) AS yw FROM gw GROUP BY 1),
        |gt AS (SELECT grp, sum(ygw) AS ng FROM gw GROUP BY 1),
        |nn AS (SELECT sum(ygw)::DOUBLE AS n FROM gw),
        |sc AS (
        |  SELECT g.grp, g.w, g.ygw, wt.yw, gt.ng,
        |    500.0 * wt.yw::DOUBLE / (SELECT n FROM nn) AS aw,
        |    (wt.yw - g.ygw)::DOUBLE AS yrest,
        |    (SELECT n FROM nn) - gt.ng::DOUBLE AS nrest
        |  FROM gw g JOIN wt USING (w) JOIN gt USING (grp)
        |), zz AS (
        |  SELECT grp, w, ygw, yw,
        |    floor((ln((ygw::DOUBLE + aw)
        |             / (ng::DOUBLE + 500.0 - ygw::DOUBLE - aw))
        |         - ln((yrest + aw) / (nrest + 500.0 - yrest - aw)))
        |      / sqrt(1.0 / (ygw::DOUBLE + aw) + 1.0 / (yrest + aw))
        |      * 1e6 + 0.5) / 1e6 AS z
        |  FROM sc
        |)
        |SELECT grp AS lang, w AS term, CAST(ygw AS BIGINT) AS n_in_group,
        |  CAST(yw AS BIGINT) AS n_corpus, z
        |FROM (SELECT *, row_number() OVER (PARTITION BY grp
        |        ORDER BY z DESC, w ASC) AS rn FROM zz)
        |WHERE rn <= 10""".stripMargin,

    // same totals recomputed from scratch; tokens via the engine's
    // whitespace rule, vocabulary via DISTINCT
    "q126_corpus_stats" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), tok_agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_tokens
        |  FROM toks GROUP BY lang
        |), doc_agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY lang
        |)
        |SELECT lang, n_docs, n_chars, n_distinct_tokens, n_tokens,
        |  round(n_tokens::DOUBLE / n_docs::DOUBLE, 4) AS avg_doc_tokens,
        |  round(n_distinct_tokens::DOUBLE / n_tokens::DOUBLE, 6) AS type_token_ratio
        |FROM doc_agg JOIN tok_agg USING (lang)""".stripMargin,

    // exact-Jaccard pairs at 0.8 (the q27-proven ground truth) →
    // recursive-CTE min-label components → size histogram, with the
    // singleton row as total − clustered
    "q122_cluster_sizes" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(node, anc) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.anc
        |), labels AS (
        |  SELECT node, min(anc) AS label FROM reach GROUP BY node
        |), sizes AS (
        |  SELECT label, count(*) AS cluster_size FROM labels GROUP BY label
        |), hist AS (
        |  SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY cluster_size
        |  UNION ALL
        |  SELECT 1, (SELECT count(*) FROM documents) - (SELECT count(*) FROM labels)
        |)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
        |FROM hist WHERE n_clusters > 0""".stripMargin,

    // the q118 oracle pipeline with character-trigram features
    // (DuckDB's codepoint slicing == Spark's UTF-16 substr on this
    // BMP-only corpus; both engines see identical gram multisets)
    "q131_charngram_langid" ->
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id, lang,
        |    unnest([nt[i:i+2] for i in range(1, length(nt) - 1)]) AS w
        |  FROM norm WHERE length(nt) >= 3
        |), ndoc AS (
        |  SELECT doc_id, CASE WHEN nt IS NULL OR length(nt) < 3 THEN 0
        |                      ELSE length(nt) - 2 END AS n
        |  FROM norm
        |), pair AS (
        |  SELECT lang AS label, w, count(*)::DOUBLE AS c FROM feats GROUP BY 1, 2
        |), vv AS (SELECT count(DISTINCT w) AS v FROM feats),
        |cls AS (SELECT lang AS label, count(*) AS nd FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |tl AS (SELECT label, sum(c) AS t FROM pair GROUP BY 1),
        |classes AS (
        |  SELECT cls.label,
        |    ln(nd::DOUBLE) - ln((SELECT n FROM tot)::DOUBLE) AS log_prior,
        |    ln(coalesce(t, 0)::DOUBLE + (SELECT v FROM vv)::DOUBLE) AS log_denom
        |  FROM cls LEFT JOIN tl USING (label)
        |), sparse AS (
        |  -- min-df floor mirrors the engine's minPairCount=3: pairs
        |  -- below the floor are unseen (their ln(c+1) term drops to 0)
        |  SELECT f.doc_id, p.label, sum(ln(p.c + 1.0)) AS num
        |  FROM feats f JOIN pair p ON p.w = f.w
        |  WHERE p.c >= 3 GROUP BY 1, 2
        |), dense AS (
        |  SELECT nd.doc_id, c.label,
        |    c.log_prior + coalesce(s.num, 0.0) - nd.n::DOUBLE * c.log_denom + 0 AS score,
        |    nd.n
        |  FROM ndoc nd CROSS JOIN classes c
        |  LEFT JOIN sparse s ON s.doc_id = nd.doc_id AND s.label = c.label
        |)
        |SELECT doc_id, label AS pred_label, round(score, 6) + 0 AS score,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, label ASC) AS rn FROM dense)
        |WHERE rn = 1""".stripMargin,

    // full independent retrain + rescore on token strings: counts →
    // smoothed log-probabilities → per-doc scores → (score DESC,
    // label ASC) argmax. The ln(c+1) sparse identity mirrors the
    // engine: absent (label, token) pairs contribute ln(1) = 0.
    "q118_nb_classify" ->
      """WITH norm AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, source, unnest(regexp_split_to_array(nt, ' ')) AS w
        |  FROM norm WHERE length(nt) > 0
        |), ndoc AS (
        |  SELECT doc_id, CASE WHEN nt IS NULL OR length(nt) = 0 THEN 0
        |                      ELSE len(regexp_split_to_array(nt, ' ')) END AS n
        |  FROM norm
        |), pair AS (
        |  SELECT source AS label, w, count(*)::DOUBLE AS c FROM toks GROUP BY 1, 2
        |), vv AS (SELECT count(DISTINCT w) AS v FROM toks),
        |cls AS (SELECT source AS label, count(*) AS nd FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |tl AS (SELECT label, sum(c) AS t FROM pair GROUP BY 1),
        |classes AS (
        |  SELECT cls.label,
        |    ln(nd::DOUBLE) - ln((SELECT n FROM tot)::DOUBLE) AS log_prior,
        |    ln(coalesce(t, 0)::DOUBLE + (SELECT v FROM vv)::DOUBLE) AS log_denom
        |  FROM cls LEFT JOIN tl USING (label)
        |), sparse AS (
        |  SELECT t.doc_id, p.label, sum(ln(p.c + 1.0)) AS num
        |  FROM toks t JOIN pair p ON p.w = t.w GROUP BY 1, 2
        |), dense AS (
        |  SELECT nd.doc_id, c.label,
        |    c.log_prior + coalesce(s.num, 0.0) - nd.n::DOUBLE * c.log_denom + 0 AS score,
        |    nd.n
        |  FROM ndoc nd CROSS JOIN classes c
        |  LEFT JOIN sparse s ON s.doc_id = nd.doc_id AND s.label = c.label
        |)
        |SELECT doc_id, label AS pred_label, round(score, 6) + 0 AS score,
        |  CAST(n AS BIGINT) AS n_tokens
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, label ASC) AS rn FROM dense)
        |WHERE rn = 1""".stripMargin,

    // feature rows (unigrams + space-joined bigrams) bucket with the
    // q48 md5-prefix formula, both models recount independently, and
    // the weight re-assembles from the same ln(c+1) sparse identity
    "q119_dsir_weights" ->
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toked AS (
        |  SELECT doc_id, lang, regexp_split_to_array(nt, ' ') AS t
        |  FROM norm WHERE length(nt) > 0
        |), feats AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % 4096 AS BIGINT) AS b
        |  FROM (
        |    SELECT doc_id, lang, unnest(t) AS g FROM toked
        |    UNION ALL
        |    SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g
        |    FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
        |          FROM toked WHERE len(t) >= 2)
        |  )
        |), raw_c AS (SELECT b, count(*)::DOUBLE AS cr FROM feats GROUP BY b),
        |tgt_c AS (SELECT b, count(*)::DOUBLE AS ct FROM feats
        |          WHERE lang = 'en' GROUP BY b),
        |nr AS (SELECT count(*) AS n FROM feats),
        |nt_ AS (SELECT count(*) AS n FROM feats WHERE lang = 'en'),
        |scored AS (
        |  SELECT f.doc_id, count(*) AS n_features,
        |    sum(ln(coalesce(t.ct, 0) + 1.0) - ln(coalesce(r.cr, 0) + 1.0)) AS s
        |  FROM feats f
        |  LEFT JOIN tgt_c t USING (b)
        |  LEFT JOIN raw_c r USING (b)
        |  GROUP BY f.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_features, 0) AS BIGINT) AS n_features,
        |  floor((coalesce(s, 0.0) + coalesce(n_features, 0)::DOUBLE *
        |    (ln((SELECT n FROM nr)::DOUBLE + 4096) -
        |     ln((SELECT n FROM nt_)::DOUBLE + 4096))) * 1e6 + 0.5) / 1e6
        |    AS weight
        |FROM documents d LEFT JOIN scored USING (doc_id)""".stripMargin,

    "q93_lm_perplexity" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(nt, ' ') AS t
        |  FROM norm WHERE length(nt) > 0
        |), uni AS (
        |  SELECT w, count(*)::DOUBLE AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        |), nv AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)
        |), bic AS (
        |  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bi GROUP BY w1, w2
        |), score AS (
        |  SELECT b.doc_id,
        |    -ln(0.9 * coalesce(c.c12 / u1.c, 0.0)
        |        + 0.1 * (coalesce(u2.c, 0.0) + 1)
        |            / ((SELECT n FROM nv) + (SELECT v FROM nv))) AS nll
        |  FROM bi b
        |  LEFT JOIN bic c ON c.w1 = b.w1 AND c.w2 = b.w2
        |  LEFT JOIN uni u1 ON u1.w = b.w1
        |  LEFT JOIN uni u2 ON u2.w = b.w2
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(nll), 6) AS avg_nll, round(exp(avg(nll)), 4) AS ppl
        |FROM score GROUP BY doc_id""".stripMargin,

    // the full stupid-backoff replay: the same three count tables,
    // the same fixed-order ratio divisions, and the same nested
    // coalesce cascade S = r3 else 0.4*(r2 else 0.4*(c3+1)/(N+V))
    "q177_sbo_trigram_ppl" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(nt, ' ') AS t
        |  FROM norm WHERE length(nt) > 0
        |), uni AS (
        |  SELECT w, count(*)::DOUBLE AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        |), nv AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)
        |), bic AS (
        |  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bi GROUP BY w1, w2
        |), tri AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 3)
        |), tric AS (
        |  SELECT w1, w2, w3, count(*)::DOUBLE AS c123
        |  FROM tri GROUP BY w1, w2, w3
        |), score AS (
        |  SELECT g.doc_id,
        |    -ln(coalesce(tc.c123 / bc1.c12,
        |      0.4 * coalesce(bc2.c12 / u2.c,
        |        0.4 * (coalesce(u3.c, 0.0) + 1)
        |            / ((SELECT n FROM nv) + (SELECT v FROM nv))))) AS nls
        |  FROM tri g
        |  LEFT JOIN tric tc ON tc.w1 = g.w1 AND tc.w2 = g.w2 AND tc.w3 = g.w3
        |  LEFT JOIN bic bc1 ON bc1.w1 = g.w1 AND bc1.w2 = g.w2
        |  LEFT JOIN bic bc2 ON bc2.w1 = g.w2 AND bc2.w2 = g.w3
        |  LEFT JOIN uni u2 ON u2.w = g.w2
        |  LEFT JOIN uni u3 ON u3.w = g.w3
        |)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  round(avg(nls), 6) AS avg_nls, round(exp(avg(nls)), 4) AS sbo_ppl
        |FROM score GROUP BY doc_id""".stripMargin,

    // exact-Jaccard pairs (the q27-proven ground truth at 0.8) joined
    // with the q48 split formula on both members
    "q106_split_leakage" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE /
        |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        |), spl AS (
        |  SELECT doc_id,
        |    CASE WHEN b < 0.8 THEN 'train'
        |         WHEN b < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0 AS b
        |    FROM documents)
        |)
        |SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
        |FROM pairs p
        |JOIN spl sa ON sa.doc_id = p.id_a
        |JOIN spl sb ON sb.doc_id = p.id_b
        |WHERE sa.split <> sb.split""".stripMargin,

    // survivors derived by hand: evil.com blocks 2 (exact), 3
    // (subdomain), 5 (userinfo spoof), 6 (case+port); ads.example
    // blocks 8; lookalike notevil.com and the hostless row pass
    "q105_domain_blocklist" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, url FROM (VALUES
        |  (1, 'https://good.com/page'),
        |  (4, 'https://notevil.com/z'),
        |  (7, 'plain text')
        |) t(doc_id, url)""".stripMargin,

    // hand-derived canonical forms: docs 1/2/5 are the same page
    // (case+www+port+slash+tracking+param-order variants), 3/4 the
    // same root, 7 alone after its gclid strips, 6 unparseable
    "q102_url_dedup" ->
      """SELECT url_canon, CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(dup_count AS BIGINT) AS dup_count
        |FROM (VALUES
        |  ('http://example.com/Path?a=1&b=2', 1, 3),
        |  ('https://example.com', 3, 2),
        |  ('https://sub.example.com/p', 7, 1),
        |  (CAST(NULL AS VARCHAR), 6, 1)
        |) t(url_canon, doc_id, dup_count)""".stripMargin,

    // expected output derived by hand from the keep-first rule:
    // 'common footer' first at (1,1); 'body a' first at (1,2) so BOTH
    // doc-4 copies go; blanks immune; doc 5 stays empty with 0 removed
    "q100_paragraph_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text,
        |  CAST(n_removed AS BIGINT) AS n_removed_paragraphs
        |FROM (VALUES
        |  (1, 'intro one' || chr(10) || 'common footer' || chr(10) || 'body a', 0),
        |  (2, 'intro two' || chr(10) || 'body b', 1),
        |  (3, 'unique three', 1),
        |  (4, '', 2),
        |  (5, '', 0),
        |  (6, '   ' || chr(10) || 'solo', 0)
        |) t(doc_id, clean_text, n_removed)""".stripMargin,

    // q93's LM recomputation extended with the bucket rule: histogram
    // of rounded ppl per lang, running doc count in ppl order, tercile
    // thresholds at ceil(n·1/3)/ceil(n·2/3) (percentile_disc), then a
    // pure value compare — every step integer or fixed-order IEEE, so
    // the assignment is engine-reproducible
    "q99_ppl_buckets" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(nt, ' ') AS t
        |  FROM norm WHERE length(nt) > 0
        |), uni AS (
        |  SELECT w, count(*)::DOUBLE AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        |), nv AS (SELECT sum(c) AS n, count(*) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)
        |), bic AS (
        |  SELECT w1, w2, count(*)::DOUBLE AS c12 FROM bi GROUP BY w1, w2
        |), score AS (
        |  SELECT b.doc_id,
        |    -ln(0.9 * coalesce(c.c12 / u1.c, 0.0)
        |        + 0.1 * (coalesce(u2.c, 0.0) + 1)
        |            / ((SELECT n FROM nv) + (SELECT v FROM nv))) AS nll
        |  FROM bi b
        |  LEFT JOIN bic c ON c.w1 = b.w1 AND c.w2 = b.w2
        |  LEFT JOIN uni u1 ON u1.w = b.w1
        |  LEFT JOIN uni u2 ON u2.w = b.w2
        |), sc AS (
        |  SELECT doc_id, round(exp(avg(nll)), 4) AS ppl
        |  FROM score GROUP BY doc_id
        |), scl AS (
        |  SELECT sc.doc_id, d.lang, sc.ppl
        |  FROM sc JOIN documents d USING (doc_id)
        |), hist AS (
        |  SELECT lang, ppl, count(*) AS c FROM scl GROUP BY lang, ppl
        |), cum AS (
        |  SELECT lang, ppl,
        |    sum(c) OVER (PARTITION BY lang ORDER BY ppl) AS cum
        |  FROM hist
        |), tot AS (
        |  SELECT lang, sum(c) AS n FROM hist GROUP BY lang
        |), thr AS (
        |  SELECT c.lang,
        |    min(CASE WHEN c.cum >= ceil(t.n * (1.0/3.0)) THEN c.ppl END) AS t1,
        |    min(CASE WHEN c.cum >= ceil(t.n * (2.0/3.0)) THEN c.ppl END) AS t2
        |  FROM cum c JOIN tot t ON c.lang IS NOT DISTINCT FROM t.lang
        |  GROUP BY c.lang
        |)
        |SELECT s.doc_id, s.lang, s.ppl,
        |  CASE WHEN s.ppl <= th.t1 THEN 'head'
        |       WHEN s.ppl <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM scl s JOIN thr th ON s.lang IS NOT DISTINCT FROM th.lang""".stripMargin,

    // ICU recomputation of the JDK-normalized result (UAX#15 is an
    // exact spec — both must agree byte-for-byte)
    "q90_nfc_dedup" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (1, 'caf' || chr(233) || ' menu'),
        |  (2, 'cafe' || chr(769) || ' menu'),
        |  (3, 'cafe menu'),
        |  (4, 'na' || chr(239) || 've approach'),
        |  (5, 'nai' || chr(776) || 've approach')
        |), normed AS (
        |  SELECT doc_id, nfc_normalize(text) AS norm FROM docs
        |)
        |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, norm,
        |  count(*) AS dup_count
        |FROM normed GROUP BY norm""".stripMargin)
}
