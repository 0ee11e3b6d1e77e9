package graft.queries

import graft.Tables
import graft.dedup.NearDup
import graft.similarity.Ann
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operator coverage: deduplication (exact,
  * MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
  * search, and text analysis over the `documents` and `embeddings`
  * tables. Oracle twins are DuckDB SQL (list comprehensions +
  * list_cosine_similarity); the hash-signature ops (SimHash, cosine
  * LSH) are not SQL-expressible and get rows-only checks.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private val stopList = TextOps.EnStopwords.map(s => s"'$s'").mkString(", ")

  val queries: Map[String, Q] = Map(
    // exact dedup: hash-groupBy keep-min-id with duplicate count
    "q21_doc_exact_dedup" -> ((s, d) => {
      NearDup.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "dup_count")
    }),

    // quality scoring: length/punct/stopword signal bundle
    "q22_text_quality" -> ((s, d) => {
      TextOps.qualitySignals(Tables.documents(s, d))
        .select("doc_id", "n_tokens", "mean_token_len", "alpha_ratio",
          "punct_ratio", "stopword_ratio")
    }),

    // token counting: whitespace + BPE-ish regex segmentation
    "q23_token_counts" -> ((s, d) => {
      val doc = Tables.documents(s, d)
      doc.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
    }),

    // language ID: stopword-hit fraction per language, argmax
    "q24_lang_id" -> ((s, d) => {
      TextOps.langId(Tables.documents(s, d))
        .select("doc_id", "score_de", "score_en", "score_es", "score_fr",
          "score_zh", "lang_pred")
    }),

    // document fingerprint: normalised md5 (oracle) — rolling-hash and
    // xxhash64 variants live in TextOps for the production path
    "q25_doc_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"))
    }),

    // n-gram Jaccard near-dup pairs — quadratic baseline, exact
    "q26_ngram_jaccard_pairs" -> ((s, d) => {
      NearDup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.5)
    }),

    // MinHash+LSH near-dup pairs: banded signatures → candidates →
    // exact-Jaccard verify. With 32 bands × 2 rows the miss probability
    // at J ≥ 0.8 is (1-J²)³² < 1e-13, so the oracle is the exact
    // brute-force answer.
    "q27_minhash_lsh_pairs" -> ((s, d) => {
      NearDup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        shingleLen = 3, numPerms = 64, bands = 32, threshold = 0.8)
    }),

    // SimHash near-dup pairs (quarter-blocked) — custom 64-bit
    // signature, rows-only check; subset property vs q26 is asserted in
    // the ScalaTest suite
    "q28_simhash_pairs" -> ((s, d) => {
      NearDup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3)
    }),

    // brute-force cosine top-k over the embedding column
    "q29_knn_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
    }),

    // hard-negative mining for contrastive training: per query the
    // top-k corpus rows in the half-open cosine band [0.30, 0.45) —
    // informative negatives below the q88 near-duplicate ceiling;
    // band edges compare on the 4-decimal-rounded score (engine-exact)
    "q120_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.hardNegatives(
        emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 10, simFloor = 0.30, dupCeil = 0.45)
    }),

    // top-50 collocations by PMI with min bigram count 5: one token
    // explode feeds both count frames; rank on the 6-decimal score so
    // rank consistency IS output-value consistency
    "q121_pmi_collocations" -> ((s, d) =>
      TextOps.pmiCollocations(Tables.documents(s, d), "text", k = 50,
        minCount = 5L)),

    // similar-document lookup for ONE query text: the query's shingle
    // set rides as a literal in a map-only scan, floor-pruned before
    // the TakeOrderedAndProject top-k
    "q128_similar_docs" -> ((s, d) =>
      graft.dedup.NearDup.searchByText(Tables.documents(s, d),
        "doc_id", "text",
        "key agg row scan slow fast table value part hash",
        k = 20, minJaccard = 0.01)),

    // hybrid retrieval: BM25 lexical top-20 and shingle-Jaccard
    // top-20 fused by reciprocal-rank fusion (1/(60+rank), fixed-order
    // sum) — the standard two-retriever "hybrid search" merge; rank 0
    // marks absence from a list (NULL-free output)
    "q181_rrf_hybrid_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bm = TextOps.bm25Search(docs, "doc_id", "text",
          Seq("table", "join", "stream"), k = 20)
        .select(col("doc_id"), col("rank"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("jaccard").desc, col("doc_id").asc)
      // rank window over the ALREADY-LIMITED 20-row list (the q112
      // in-operator idiom), not a corpus-sized frame
      val jac = NearDup.searchByText(docs, "doc_id", "text",
          "key agg row scan slow fast table value part hash",
          k = 20, minJaccard = 0.01)
        .withColumn("rank", row_number().over(w))
        .select(col("doc_id"), col("rank"))
      graft.text.Search.rrfFuse(
        Seq("bm25" -> bm, "jaccard" -> jac), "doc_id", "rank", k = 15)
    }),

    // per-doc n-gram novelty: fraction of a doc's distinct 3-grams
    // seen in NO other document — the complement of containment;
    // 8-byte hash keys, exact integer ratio
    "q129_ngram_novelty" -> ((s, d) =>
      TextOps.ngramNovelty(Tables.documents(s, d), "doc_id", "text")),

    // Flesch / FK readability per (lang, source): RE2-safe counting
    // conventions (whitespace words, [.!?]+ sentences, vowel-group
    // syllables), integer sums, one closing double expression
    "q207_readability" -> ((s, d) =>
      TextOps.readabilityReport(Tables.documents(s, d))),

    // C4-style page filters as a per-source audit: lorem-ipsum /
    // brace / policy-boilerplate / under-3-sentences flags, keep rate
    "q210_c4_rules" -> ((s, d) =>
      TextOps.c4Rules(Tables.documents(s, d))),

    // Gopher-style composite quality-rule gate (Rae et al. 2021):
    // seven auditable rules, every ratio decided by integer
    // cross-multiplication so the boundary is engine-exact; annotates
    // (pass + first-fail reason), never drops
    "q109_gopher_rules" -> ((s, d) =>
      TextOps.gopherRules(Tables.documents(s, d), "doc_id", "text",
        minWords = 20, maxWords = 5000)
        .select("doc_id", "n_words", "word_chars", "n_alpha_words",
          "n_symbols", "n_lines", "n_bullet_lines", "n_ellipsis_lines",
          "n_stopword_hits", "r_word_count", "r_mean_word_length",
          "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines",
          "r_alpha_words", "r_stopword_hits", "pass", "reject_reason")),

    // Gopher within-doc repetition rules: duplicate n-gram occurrence
    // fractions for n=2..4 with the paper's thresholds as exact
    // integer cross-multiplications
    "q114_repetition_rules" -> ((s, d) =>
      TextOps.repetitionRules(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "total_2grams", "distinct_2grams", "dup_frac_2",
          "total_3grams", "distinct_3grams", "dup_frac_3",
          "total_4grams", "distinct_4grams", "dup_frac_4",
          "r_dup_2grams", "r_dup_3grams", "r_dup_4grams", "rep_pass")),

    // BM25 top-10 keyword search: tf saturation + dl/avgdl length
    // normalization; the token explode is filtered to the query terms
    // before any shuffle and the top-k plans as TakeOrderedAndProject
    "q112_bm25_search" -> ((s, d) =>
      TextOps.bm25Search(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("table", "join", "stream"), k = 10)),

    // keyword-lexicon topic tagging over the real corpus: the
    // inverted keyword->topic map is a literal in the explode
    // projection (no join); per-(doc, topic) match counts
    "q108_topic_tags" -> ((s, d) =>
      graft.text.TextOps.tagTopics(Tables.documents(s, d), "doc_id", "text",
        Map(
          "db"     -> Seq("table", "row", "column", "join"),
          "exec"   -> Seq("scan", "sort", "merge", "hash"),
          "stream" -> Seq("stream", "batch", "window")))),

    // Unicode-script routing signals on a mixed-script fixture; the
    // oracle recomputes every count with RE2's script properties — a
    // Java-regex-vs-RE2 script-membership agreement check, and the
    // argmax tie rule is the same CASE chain in both engines
    "q107_script_signals" -> ((s, _) => {
      import s.implicits._
      val docs = Seq(
        (1L, "hello world 123"),
        (2L, "привет мир"),
        (3L, "你好世界"),
        (4L, "مرحبا"),
        (5L, "hello привет"),
        (6L, "123 456"),
        (7L, ""),
        (8L, "hello你好")).toDF("doc_id", "text")
      graft.text.TextOps.scriptSignals(docs, "doc_id", "text")
    }),

    // tokenizer-prep vocab sizing: smallest frequency-ranked vocab
    // covering >= 90% of occurrences; pure integer cut rule
    // (cum-above < ceil(total*9/10)) so the boundary is engine-exact
    // even mid-tie-run
    "q104_vocab_coverage" -> ((s, d) =>
      graft.text.TextOps.vocabCoverage(Tables.documents(s, d), "text",
        covNum = 9L, covDen = 10L)),

    // corpus-wide top-25 trigrams: count shuffles on the gram with
    // map-side combine, top-k plans as TakeOrderedAndProject over the
    // aggregated gram frame (no global sort); deterministic tie-break
    // (count desc, gram asc) makes the selected set engine-portable
    "q101_top_ngrams" -> ((s, d) =>
      graft.text.TextOps.topNgrams(Tables.documents(s, d), "text",
        n = 3, k = 25)),

    // per-doc top-5 TF-IDF keywords; deterministic rank on (raw score
    // desc, term asc); the oracle recomputes tf, df, N, and the
    // smoothed idf independently
    "q96_tfidf_top_terms" -> ((s, d) =>
      graft.text.TextOps.tfidfTopTerms(Tables.documents(s, d),
        "doc_id", "text", k = 5)),

    // two-stage ANN: int8 candidate scan (4x bandwidth cut) + fp32
    // rerank. The oracle is the EXACT brute-force top-k (identical SQL
    // to q29) — passing proves the rerank recovers the exact answer,
    // i.e. the true top-10 always survives the 40-candidate stage at
    // this quantization error
    "q95_knn_int8_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopKInt8(
        emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
    }),

    // embedding-cosine near-dup pairs above a threshold — exact
    "q30_cosine_dup_pairs" -> ((s, d) => {
      NearDup.cosineDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4)
    }),

    // the SCALE path for embedding near-dup: OR-amplified banded
    // hyperplane LSH + in-bucket exact verification. The oracle is the
    // exact quadratic SQL — a green row asserts recall 1.0 AND zero
    // false positives at these parameters on this corpus (the banding
    // is deterministic, fixed-seed). Cross-scale-probed at
    // sf0.001/0.01/0.1 (tools.LshTune, see git rev e766bb7): full recall at B=64 already;
    // B=96 is margin.
    "q51_lsh_cosine_pairs" -> ((s, d) => {
      NearDup.lshCosinePairsBanded(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.45, bands = 96, bitsPerBand = 6)
    }),

    // the SCALE path for ANN: trained-IVF recall@10 against the
    // brute-force oracle, emitted as a checkable scalar row. KMeans is
    // seeded and deterministic; bounds probed cross-scale
    // (tools.IvfTune, see git rev e766bb7: min per-query recall 0.40, mean 0.79-0.82 at
    // nProbe=8/16 cells on sf0.001/0.01/0.1).
    "q52_ivf_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 20)
      val brute = Ann.bruteForceTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
      val ivf = Ann.ivfKmeansTopK(queries, emb,
        "vec_id", "embedding", "vec_id", "embedding", k = 10,
        nCells = 16, nProbe = 8)
      // one pass over brute: flag each true neighbor as hit/miss via a
      // left join against the IVF result, then aggregate — scanning
      // brute twice (hits + per-query k) would recompute the whole
      // brute-force subtree
      brute.select("query_id", "neighbor_id")
        .join(ivf.select("query_id", "neighbor_id").withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("__hit"), lit(0L))) / count(lit(1))).as("recall"))
        .agg(
          count(lit(1)).as("n_queries"),
          sum(when(col("recall") >= 0.3, 1L).otherwise(0L)).as("queries_recall_ge_30pct"),
          when(avg(col("recall")) >= 0.6, 1L).otherwise(0L).as("mean_recall_ge_60pct"))
    }),

    // symmetric int8 scalar quantization (4× ANN scan-bandwidth cut):
    // codes are bit-exact cross-engine because both sides evaluate the
    // SAME double formula floor(x / scale * 127 + 0.5)
    "q89_quantize_int8" -> ((s, d) => {
      // the array is flattened to CSV for the oracle hash (same
      // convention as the TO_JSON_STRING child-array export): the
      // driver compare sorts rows by every column, and raw arrays are
      // unhashable there
      Ann.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", col("qvec")).as("qvec_csv"))
    }),

    // learned-merges BPE tokenizer training (Sennrich 2016): the merge
    // table IS the model — rank order and pair counts must match an
    // engine-independent recomputation exactly (DuckDB oracle unrolls
    // the identical iterations as a MATERIALIZED-CTE chain)
    "q156_bpe_merges" -> ((s, d) => {
      graft.text.Bpe.train(Tables.documents(s, d), "text", BpeNumMerges)
        .merges.select("rank", "a", "b", "n_pairs")
    }),

    // per-document token counts under the trained model — the
    // budgeting-grade replacement for the q23 regex estimate
    "q157_bpe_token_counts" -> ((s, d) => {
      val docs  = Tables.documents(s, d)
      val model = graft.text.Bpe.train(docs, "text", BpeNumMerges)
      graft.text.Bpe.tokenCounts(docs, "doc_id", "text", model)
    }),

    // per-source quota capping: at most N docs per origin by salted
    // hash order — the crawl-balance cap (per-domain quotas) on the
    // same bounded-heap machinery as q97/q159
    "q168_source_quota" -> ((s, d) =>
      graft.operators.SplitOps.sampleKPerGroup(
        Tables.documents(s, d), "doc_id", "source", k = 10)),

    // corpus drift monitor: smoothed unigram distributions of the en
    // vs de slices compared by KL (both directions) and Jensen-Shannon
    // — per-term contributions are single IEEE expressions over exact
    // counts; only the final vocab-sized sums are floats (round 4)
    "q175_token_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.TextOps.tokenDistributionDrift(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text")
    }),

    // source concentration scalars (Gini / HHI / top share) — the
    // one-row complement to q168's per-source cap: every statistic is
    // a single IEEE division over exact Decimal moments, rank via the
    // two-level cumsum (a domain column has 1e8 groups at web scale)
    "q176_source_concentration" -> ((s, d) =>
      graft.operators.AnalyticsOps.concentrationReport(
        Tables.documents(s, d), "source")),

    // winnowing fingerprints (the MOSS algorithm): 3-gram md5 hashes,
    // window-of-4 minima with the rightmost-min tie rule encoded in
    // the h*2^31 + (2^31-1-pos) key, so any shared run of >= 6 tokens
    // between two docs yields a shared fingerprint; per-DOC window
    // only (the q91 sort envelope)
    "q183_winnow_fingerprints" -> ((s, d) =>
      graft.text.TextOps.winnowFingerprints(
        Tables.documents(s, d), "doc_id", "text", k = 3, w = 4)),

    // MOSS end-to-end: docs sharing >= 2 distinct winnowing
    // fingerprint hashes, graded by the shared count — posting-list
    // join on the 8-byte hash, never all-pairs; surfaces any shared
    // >= w+k-1-token run (the per-window guarantee q27's global
    // sketch can't give)
    "q187_winnow_pairs" -> ((s, d) =>
      graft.dedup.NearDup.winnowPairs(
        Tables.documents(s, d), "doc_id", "text",
        k = 3, w = 4, minShared = 2L)),

    // RAKE keywords: stopword/punctuation-delimited candidate
    // phrases scored by sum of deg/freq — degree rewards
    // co-occurrence, so multi-word terms outrank bare frequent
    // words; exact integer deg/freq, rounded ratio sum, top-25
    "q192_rake_keywords" -> ((s, d) =>
      graft.text.TextOps.rakeKeywords(
        Tables.documents(s, d), "doc_id", "text", topK = 25)),

    // per-class evaluation of the q24 language scorer against gold
    // labels: confusion-matrix marginals -> precision/recall/F1 per
    // truth class — exact counts, single divisions, one fixed-order
    // F1 expression; NULL where a denominator is zero
    "q198_langid_confusion" -> ((s, d) =>
      graft.text.Classify.confusionReport(
        graft.text.TextOps.langId(Tables.documents(s, d))
          .select(col("lang"), col("lang_pred")),
        "lang", "lang_pred")),

    // Cohen's kappa of the q24 scorer vs gold: chance agreement from
    // EXACT integer marginal products (pe = sum n1*n2 / n^2 — a Long
    // sum, no float accumulation), kappa one fixed-order expression
    "q199_langid_kappa" -> ((s, d) =>
      graft.text.Classify.cohenKappa(
        graft.text.TextOps.langId(Tables.documents(s, d))
          .select(col("lang"), col("lang_pred")),
        "lang", "lang_pred")),

    // information-gain feature ranking: which q22 quality signal
    // carries the most bits about the language label — IG = H(Y) −
    // Σ_b p(b)·H(Y|b) over decile bins; every probability is a
    // single division of exact counts, entropies are short
    // fixed-small sums of -p·ln(p) terms
    "q200_feature_infogain" -> ((s, d) => {
      val sig = graft.text.TextOps.qualitySignals(Tables.documents(s, d))
        .select(col("lang"), col("alpha_ratio"), col("punct_ratio"),
          col("stopword_ratio"))
      val long = sig.select(col("lang"), expr(
        "stack(3, 'alpha_ratio', alpha_ratio, 'punct_ratio', punct_ratio," +
          " 'stopword_ratio', stopword_ratio) AS (signal, v)"))
        .withColumn("bin", least(floor(col("v") * 10), lit(9L)).cast("int"))
      long.persist()
      val total = long.filter(col("signal") === "alpha_ratio").count()
      // H(Y): from the label distribution (same for every signal)
      val hy = long.filter(col("signal") === "alpha_ratio")
        .groupBy("lang").agg(count(lit(1)).as("__n"))
        .agg(sum(-(col("__n").cast("double") / total) *
          log(col("__n").cast("double") / total)).as("__hy"))
        .head().getDouble(0)
      // H(Y|b) per (signal, bin), then the p(b)-weighted sum
      val cell = long.groupBy("signal", "bin", "lang")
        .agg(count(lit(1)).as("__n"))
      val binTot = cell.groupBy("signal", "bin").agg(sum("__n").as("__bt"))
      val hcond = cell.join(binTot, Seq("signal", "bin"))
        .groupBy("signal", "bin")
        .agg(first("__bt").as("__bt"),
          sum(-(col("__n").cast("double") / col("__bt").cast("double")) *
            log(col("__n").cast("double") / col("__bt").cast("double")))
            .as("__hb"))
      val out = hcond.groupBy("signal")
        // e6 lattice: info gain = H(Y) − Σ(...) is theoretically ≥ 0
        // but its fp difference cancels to ±ε on an uninformative
        // signal — the signed-zero round() hazard (VERDICT r15 #2)
        .agg(count(lit(1)).as("n_bins"),
          graft.functions.Lattice.e6(lit(hy) -
            sum(col("__bt").cast("double") / total * col("__hb")))
            .as("info_gain"))
        .transform(graft.state.Checkpoints.stable)
      long.unpersist(blocking = false)
      out
    }),

    // dataset-card report: the corpus-level numbers a data release
    // documents, one long-format row per metric — every value an
    // exact count or a single division of exact counts
    "q169_corpus_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val agg = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
        sum(graft.text.TextOps.tokenCount(col("text")).cast("long"))
          .as("n_ws_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        (count(lit(1)) -
          countDistinct(coalesce(md5(col("text")), lit(""))))
          .as("n_exact_dup_docs"),
        sum(col("n_chars")).as("__sum_chars"))
      agg.select(expr(
        """stack(7,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_null_text', CAST(n_null_text AS DOUBLE),
          |  'n_ws_tokens', CAST(n_ws_tokens AS DOUBLE),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_sources', CAST(n_sources AS DOUBLE),
          |  'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE),
          |  'mean_chars', round(CAST(__sum_chars AS DOUBLE) / n_docs, 4)
          |) AS (metric, value)""".stripMargin))
    }),

    // directional containment near-dup pairs (Broder): the asymmetric
    // statistic that catches a short doc embedded in a long one,
    // which symmetric Jaccard structurally misses; engine side is the
    // posting-list join (no all-pairs), oracle recomputes
    // quadratically
    "q166_containment_pairs" -> ((s, d) =>
      NearDup.containmentPairs(Tables.documents(s, d),
        "doc_id", "text", n = 3, threshold = 0.8)),

    // EXACT all-pairs Jaccard ≥ 0.4 via prefix filtering (AllPairs/
    // PPJoin): candidates only from each doc's rarest-shingle prefix,
    // then exact verification — deterministically COMPLETE where
    // q27's LSH has a miss probability; the oracle is the quadratic
    // ground truth, which the prefix-filter theorem says we must equal
    "q231_prefix_jaccard_pairs" -> ((s, d) =>
      NearDup.prefixJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", n = 3, threshold = 0.4)),

    // IVF ANN with the DETERMINISTIC int8-k-means codebook: the
    // entire index — training, assignment, probing — replays in the
    // oracle and matches row-for-row (the MLlib-IVF q52 twin can only
    // be recall-checked)
    "q165_ivf_kmeans_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.ivfKmeansInt8TopK(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = KmK, iters = KmIters, nProbe = 2)
    }),

    // product-quantization ANN (Jégou 2011 ADC): 4 per-subspace int8
    // codebooks, corpus compressed to 4 cell ids, queries score
    // candidates with 4 table lookups — integer-exact end to end, so
    // the oracle replays training/encoding/ranking row-for-row
    "q189_pq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.pqTopK(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, m = PqM, kSub = PqKSub, iters = PqIters)
    }),

    // IVF-PQ with residual encoding — the full FAISS index shape:
    // coarse routing + PQ over residuals + per-probe ADC tables,
    // integer-exact throughout; the oracle replays the ENTIRE index
    "q190_ivfpq_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.similarity.Ann.ivfPqTopK(
        emb.filter(col("vec_id") % 97 === 0),
        emb.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nCells = KmK, coarseIters = 2, nProbe = 2,
        m = PqM, kSub = PqKSub, pqIters = PqIters)
    }),

    // token budgeting keyed on LEARNED BPE counts instead of the
    // regex estimate — the composition the trained tokenizer exists
    // for (same two-level cumsum underneath; budget cut is exact)
    "q164_bpe_token_budget" -> ((s, d) => {
      val docs   = Tables.documents(s, d)
      val model  = graft.text.Bpe.train(docs, "text", BpeNumMerges)
      val counts = graft.text.Bpe.tokenCounts(docs, "doc_id", "text", model)
      graft.pipelines.CorpusPipeline.tokenBudgetWithCounts(
        docs.join(counts, "doc_id"), "doc_id", col("n_bpe_tokens"),
        budget = BpeBudget)
        .select("doc_id")
    }),

    // per-doc character entropy: the compression-style quality signal
    // (low = boilerplate/repetition, implausibly high = binary junk);
    // one map-only fused pass, fixed code-point summation order so
    // the oracle folds its sorted per-char counts to the same double
    "q163_char_entropy" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        // e6 lattice: a single-distinct-char doc closes entropy as
        // −(1·ln 1) = −0.0 — the signed-zero hazard (VERDICT r15 #2)
        graft.functions.Lattice.e6(coalesce(
          graft.expressions.CharEntropy.column(col("text")), lit(0.0)))
          .as("char_entropy"))),

    // exact phrase search over the positional inverted index — the
    // repeated-term phrase stresses the overlap contract (each
    // occurrence counts, including overlapping ones, which regex
    // non-overlapping scans get wrong)
    "q162_phrase_search" -> ((s, d) =>
      graft.text.Search.phraseCount(Tables.documents(s, d),
        "doc_id", "text", Seq("batch", "batch"))),

    // deterministic int8 k-means: assignments must match the oracle's
    // replay of the SAME Lloyd iterations row-for-row — possible only
    // because every step is exact integer / floor-double arithmetic
    "q158_kmeans_clusters" -> ((s, d) =>
      graft.similarity.KmeansInt8.fitAssignFloat(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = KmK, iters = KmIters)),

    // tokenizer-eval report: fertility (BPE tokens per word) and
    // chars-per-token by language under the trained merges — the
    // numbers that expose multilingual budgeting distortion before
    // token-count-keyed sampling bakes it in
    "q161_bpe_fertility" -> ((s, d) => {
      val docs  = Tables.documents(s, d)
      val model = graft.text.Bpe.train(docs, "text", BpeNumMerges)
      graft.text.Bpe.fertilityByGroup(docs, "lang", "text", model)
    }),

    // cluster-balanced sampling: at most N vectors per semantic
    // cluster by salted-hash order — the diversity cap a curation
    // pipeline applies before expensive per-doc processing
    "q159_cluster_balanced_sample" -> ((s, d) => {
      val assigned = graft.similarity.KmeansInt8.fitAssignFloat(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = KmK, iters = KmIters)
      graft.operators.SplitOps.sampleKPerGroup(
        assigned, "vec_id", "cell", k = KmSampleK)
    })
  )

  /** The q24 stopword-scoring prediction chain as a reusable CTE
    * prefix ending in `pred(lang, lang_pred)` — shared by the
    * evaluation oracles (q198 confusion, q199 kappa). Margins are
    * stripped by the CONSUMING oracle string.
    */
  private val langPredCte: String = {
    val langLists = graft.text.TextOps.LangStopwords.toSeq.sortBy(_._1)
      .map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString(", ")
        s"round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0 " +
          s"THEN len(list_filter(toks, t -> list_contains([$lst], t)))::DOUBLE " +
          s"/ len(toks) ELSE 0 END, 6) AS score_$l"
      }.mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, text,
       |    regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\\s+') toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, lang,
       |  $langLists
       |  FROM t
       |), u AS (
       |  SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
       |    unnest(['de','en','es','fr','zh']) AS plang,
       |    unnest([score_de, score_en, score_es, score_fr, score_zh]) AS sc
       |  FROM s
       |), pred AS (
       |  SELECT lang, CASE WHEN sc = 0 THEN 'und' ELSE plang END AS lang_pred
       |  FROM u
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY sc DESC, plang DESC) = 1
       |)"""
  }

  private val KmK = 8
  private val KmIters = 3
  private val KmSampleK = 30
  private val PqM = 4
  private val PqKSub = 8
  private val PqIters = 2
  /** embeddings fixture dimensionality (all SFs). */
  private val KmDims = 64

  /** Merge count for the q156/q157 oracle pair: deep enough that the
    * merge table contains multi-char symbols merging with each other
    * (not just char+char), small enough that the unrolled oracle and
    * the one-job-per-merge training loop stay cheap at bench time.
    */
  private val BpeNumMerges = 20

  /** q164 budget: cuts mid-corpus at the verify SF (≈27k words →
    * ~40–70k BPE tokens at sf0.01), so the boundary doc is exercised.
    */
  private val BpeBudget = 30000L

  /** Unrolled BPE-training CTE chain for the DuckDB oracle: w0 is the
    * word histogram with each word's characters bracket-wrapped in
    * U+001F; each level i derives pair counts (p_i), the argmax merge
    * (m_i — count DESC, then (a, b) ASC, the engine's exact
    * tie-break), and the rewritten histogram (w_i) via the same
    * boundary-bracketed `replace` the engine executes. MATERIALIZED is
    * load-bearing: w_i and m_i are each consumed more than once, and
    * DuckDB's default CTE inlining would double the tree per level —
    * 2^20 subplans by the last merge.
    */
  private def bpeCtes(n: Int): String = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    val parts = Seq.newBuilder[String]
    parts += s"""w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
       |    array_to_string(list_transform(string_split(word, ''),
       |      c -> chr(31)||c||chr(31)), '') AS wrapped
       |  FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS word
       |        FROM documents)
       |  WHERE NOT contains(word, chr(31))
       |  GROUP BY word)""".stripMargin
    for (i <- 1 to n) {
      parts += s"""p$i AS MATERIALIZED (
         |  SELECT s.syms[u.i] AS a, s.syms[u.i+1] AS b,
         |    CAST(sum(s.cnt) AS BIGINT) AS n_pairs
         |  FROM (SELECT cnt,
         |          string_split(trim(wrapped, chr(31)), chr(31)||chr(31)) AS syms
         |        FROM w${i - 1}) s,
         |    unnest(generate_series(1, len(s.syms)-1)) AS u(i)
         |  GROUP BY 1, 2)""".stripMargin
      parts += s"""m$i AS MATERIALIZED (
         |  SELECT a, b, n_pairs FROM p$i ORDER BY n_pairs DESC, a, b LIMIT 1)""".stripMargin
      parts += s"""w$i AS MATERIALIZED (
         |  SELECT word, cnt,
         |    CASE WHEN (SELECT count(*) FROM m$i) = 0 THEN wrapped
         |         ELSE replace(wrapped,
         |           chr(31)||(SELECT a FROM m$i)||chr(31)||chr(31)||(SELECT b FROM m$i)||chr(31),
         |           chr(31)||(SELECT a FROM m$i)||(SELECT b FROM m$i)||chr(31)) END AS wrapped
         |  FROM w${i - 1})""".stripMargin
    }
    "WITH " + parts.result().mkString(",\n")
  }

  private def bpeMergesOracle(n: Int): String =
    bpeCtes(n) + "\n" + (1 to n)
      .map(i => s"SELECT CAST($i AS INTEGER) AS rank, a, b, n_pairs FROM m$i")
      .mkString("\nUNION ALL ")

  /** Unrolled int8-k-means CTE chain: q = the q89 quantization, c0 =
    * md5-order seeds, then per iteration an assignment (integer
    * squared distance, argmin tie on lower cell) and a centroid
    * update (floor of the exact per-dim mean; empty cells keep the
    * previous centroid via the LEFT JOIN coalesce). MATERIALIZED for
    * the same inlining reason as the BPE chain.
    */
  private def kmeansCtes(k: Int, iters: Int, dims: Int,
                         corpusWhere: String = ""): String = {
    val parts = Seq.newBuilder[String]
    parts += s"""q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings $corpusWhere))""".stripMargin
    parts += s"""c0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
       |         qv AS cent
       |  FROM (SELECT vec_id, qv FROM q
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k))""".stripMargin
    for (i <- 1 to iters + 1) {
      parts += s"""a$i AS MATERIALIZED (
         |  SELECT vec_id, cell, dist FROM (
         |    SELECT t.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (SELECT q.vec_id, c.cell,
         |            list_sum(list_transform(generate_series(1, $dims),
         |              i -> (q.qv[i]-c.cent[i])*(q.qv[i]-c.cent[i]))) AS dist
         |          FROM q, c${i - 1} c) t) WHERE rn = 1)""".stripMargin
      if (i <= iters)
        parts += s"""c$i AS MATERIALIZED (
           |  SELECT p.cell, coalesce(n.cent, p.cent) AS cent
           |  FROM c${i - 1} p LEFT JOIN (
           |    SELECT cell, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY i) AS cent
           |    FROM (SELECT a.cell, u.i, sum(q.qv[u.i]) AS s, count(*) AS n
           |          FROM a$i a JOIN q USING (vec_id), unnest(generate_series(1, $dims)) u(i)
           |          GROUP BY a.cell, u.i)
           |    GROUP BY cell) n ON p.cell = n.cell)""".stripMargin
    }
    "WITH " + parts.result().mkString(",\n")
  }

  private def kmeansOracle(k: Int, iters: Int, dims: Int): String =
    kmeansCtes(k, iters, dims) + s"""
       |SELECT vec_id, CAST(cell AS INTEGER) AS cell, CAST(dist AS BIGINT) AS dist
       |FROM a${iters + 1}""".stripMargin

  /** Full replay of the int8-k-means IVF: the kmeans chain trains on
    * the corpus slice, queries quantize with the same formula, probe
    * their nProbe integer-nearest cells, and candidates rank by the
    * q29 (rounded cosine desc, id asc) convention.
    */
  private def ivfKmeansOracle(k: Int, iters: Int, dims: Int,
                              nProbe: Int, topK: Int): String =
    kmeansCtes(k, iters, dims, "WHERE vec_id % 97 <> 0") + s""",
       |qq AS MATERIALIZED (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv,
       |    embedding::DOUBLE[] AS fv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings WHERE vec_id % 97 = 0)),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT t.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist, cell) AS rn
       |    FROM (SELECT q.query_id, c.cell,
       |            list_sum(list_transform(generate_series(1, $dims),
       |              i -> (q.qv[i]-c.cent[i])*(q.qv[i]-c.cent[i]))) AS dist
       |          FROM qq q, c$iters c) t) WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probe p JOIN a${iters + 1} a USING (cell)
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(list_cosine_similarity(q.fv, e.embedding::DOUBLE[]), 4) + 0 AS score
       |  FROM cand c
       |  JOIN qq q USING (query_id)
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $topK""".stripMargin

  /** Full PQ-ADC replay: per-subspace kmeans chains (prefixed CTE
    * names, slice-offset indexing into the shared quantization),
    * corpus encoding as m cell ids, per-query sub-distance frames,
    * and the ADC sum ranked (adc asc, neighbor asc).
    */
  private def pqOracle(m: Int, kSub: Int, iters: Int, dims: Int,
                       topK: Int): String = {
    val d = dims / m
    val parts = Seq.newBuilder[String]
    parts += s"""q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings WHERE vec_id % 97 <> 0))""".stripMargin
    for (s <- 0 until m) {
      val off = s * d
      parts += s"""p${s}c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         |         qv[${off + 1}:${off + d}] AS cent
         |  FROM (SELECT vec_id, qv FROM q
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kSub))""".stripMargin
      for (i <- 1 to iters + 1) {
        parts += s"""p${s}a$i AS MATERIALIZED (
           |  SELECT vec_id, cell FROM (
           |    SELECT t.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |    FROM (SELECT q.vec_id, c.cell,
           |            list_sum(list_transform(generate_series(1, $d),
           |              i -> (q.qv[$off+i]-c.cent[i])*(q.qv[$off+i]-c.cent[i]))) AS dist
           |          FROM q, p${s}c${i - 1} c) t) WHERE rn = 1)""".stripMargin
        if (i <= iters)
          parts += s"""p${s}c$i AS MATERIALIZED (
             |  SELECT p.cell, coalesce(n.cent, p.cent) AS cent
             |  FROM p${s}c${i - 1} p LEFT JOIN (
             |    SELECT cell, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY i) AS cent
             |    FROM (SELECT a.cell, u.i, sum(q.qv[$off+u.i]) AS s, count(*) AS n
             |          FROM p${s}a$i a JOIN q USING (vec_id), unnest(generate_series(1, $d)) u(i)
             |          GROUP BY a.cell, u.i)
             |    GROUP BY cell) n ON p.cell = n.cell)""".stripMargin
      }
    }
    val encJoins = (1 until m)
      .map(s => s"JOIN p${s}a${iters + 1} a$s USING (vec_id)").mkString(" ")
    val codeList = (0 until m).map(s => s"a$s.cell").mkString(", ")
    parts += s"""enc AS MATERIALIZED (
       |  SELECT a0.vec_id, [$codeList] AS codes
       |  FROM p0a${iters + 1} a0 $encJoins)""".stripMargin
    parts += s"""qq AS MATERIALIZED (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings WHERE vec_id % 97 = 0))""".stripMargin
    for (s <- 0 until m) {
      val off = s * d
      parts += s"""t$s AS MATERIALIZED (
         |  SELECT q.query_id, c.cell,
         |    list_sum(list_transform(generate_series(1, $d),
         |      i -> (q.qv[$off+i]-c.cent[i])*(q.qv[$off+i]-c.cent[i]))) AS dist
         |  FROM qq q, p${s}c$iters c)""".stripMargin
    }
    val tabJoins = (1 until m).map(s =>
      s"JOIN t$s ON t$s.cell = e.codes[${s + 1}] AND t$s.query_id = t0.query_id")
      .mkString("\n  ")
    val adcSum = (0 until m).map(s => s"t$s.dist").mkString(" + ")
    "WITH " + parts.result().mkString(",\n") + s""",
       |scored AS (
       |  SELECT t0.query_id, e.vec_id AS neighbor_id, $adcSum AS adc
       |  FROM enc e
       |  JOIN t0 ON t0.cell = e.codes[1]
       |  $tabJoins
       |  WHERE e.vec_id <> t0.query_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  CAST(adc AS BIGINT) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $topK""".stripMargin
  }

  /** Full IVF-PQ replay: coarse kmeans chain (g/b prefixes) → integer
    * residuals → m per-subspace kmeans chains on the residuals →
    * encoding → query probing (nProbe nearest coarse cells) →
    * per-probe query residuals and ADC tables → (adc asc, neighbor
    * asc) rank. Every value BIGINT-exact.
    */
  private def ivfPqOracle(nCells: Int, coarseIters: Int, nProbe: Int,
                          m: Int, kSub: Int, pqIters: Int, dims: Int,
                          topK: Int): String = {
    val d = dims / m
    val parts = Seq.newBuilder[String]
    parts += s"""q AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings WHERE vec_id % 97 <> 0))""".stripMargin
    // coarse chain over the full code vector
    parts += s"""g0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
       |         qv AS cent
       |  FROM (SELECT vec_id, qv FROM q
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCells))""".stripMargin
    for (i <- 1 to coarseIters + 1) {
      parts += s"""b$i AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT t.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (SELECT q.vec_id, c.cell,
         |            list_sum(list_transform(generate_series(1, $dims),
         |              i -> (q.qv[i]-c.cent[i])*(q.qv[i]-c.cent[i]))) AS dist
         |          FROM q, g${i - 1} c) t) WHERE rn = 1)""".stripMargin
      if (i <= coarseIters)
        parts += s"""g$i AS MATERIALIZED (
           |  SELECT p.cell, coalesce(n.cent, p.cent) AS cent
           |  FROM g${i - 1} p LEFT JOIN (
           |    SELECT cell, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY i) AS cent
           |    FROM (SELECT a.cell, u.i, sum(q.qv[u.i]) AS s, count(*) AS n
           |          FROM b$i a JOIN q USING (vec_id), unnest(generate_series(1, $dims)) u(i)
           |          GROUP BY a.cell, u.i)
           |    GROUP BY cell) n ON p.cell = n.cell)""".stripMargin
    }
    parts += s"""rv AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(generate_series(1, $dims), i -> q.qv[i] - c.cent[i]) AS rv
       |  FROM b${coarseIters + 1} a JOIN q USING (vec_id)
       |  JOIN g$coarseIters c USING (cell))""".stripMargin
    // per-subspace chains on the residuals
    for (s <- 0 until m) {
      val off = s * d
      parts += s"""p${s}c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         |         rv[${off + 1}:${off + d}] AS cent
         |  FROM (SELECT vec_id, rv FROM rv
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kSub))""".stripMargin
      for (i <- 1 to pqIters + 1) {
        parts += s"""p${s}a$i AS MATERIALIZED (
           |  SELECT vec_id, cell FROM (
           |    SELECT t.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |    FROM (SELECT r.vec_id, c.cell,
           |            list_sum(list_transform(generate_series(1, $d),
           |              i -> (r.rv[$off+i]-c.cent[i])*(r.rv[$off+i]-c.cent[i]))) AS dist
           |          FROM rv r, p${s}c${i - 1} c) t) WHERE rn = 1)""".stripMargin
        if (i <= pqIters)
          parts += s"""p${s}c$i AS MATERIALIZED (
             |  SELECT p.cell, coalesce(n.cent, p.cent) AS cent
             |  FROM p${s}c${i - 1} p LEFT JOIN (
             |    SELECT cell, list(CAST(floor(s::DOUBLE / n) AS BIGINT) ORDER BY i) AS cent
             |    FROM (SELECT a.cell, u.i, sum(r.rv[$off+u.i]) AS s, count(*) AS n
             |          FROM p${s}a$i a JOIN rv r USING (vec_id), unnest(generate_series(1, $d)) u(i)
             |          GROUP BY a.cell, u.i)
             |    GROUP BY cell) n ON p.cell = n.cell)""".stripMargin
      }
    }
    val encJoins = (1 until m)
      .map(s => s"JOIN p${s}a${pqIters + 1} a$s USING (vec_id)").mkString(" ")
    val codeList = (0 until m).map(s => s"a$s.cell").mkString(", ")
    parts += s"""enc AS MATERIALIZED (
       |  SELECT a0.vec_id, r.cell, [$codeList] AS codes
       |  FROM p0a${pqIters + 1} a0 $encJoins JOIN rv r ON r.vec_id = a0.vec_id)""".stripMargin
    parts += s"""qq AS MATERIALIZED (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CASE WHEN scale = 0 THEN 0
       |                ELSE CAST(floor(x / scale * 127 + 0.5) AS BIGINT) END) AS qv
       |  FROM (SELECT vec_id, embedding,
       |          list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
       |        FROM embeddings WHERE vec_id % 97 = 0))""".stripMargin
    parts += s"""qprobe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT t.*, row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
       |    FROM (SELECT q.query_id, c.cell,
       |            list_sum(list_transform(generate_series(1, $dims),
       |              i -> (q.qv[i]-c.cent[i])*(q.qv[i]-c.cent[i]))) AS dist
       |          FROM qq q, g$coarseIters c) t) WHERE rn <= $nProbe)""".stripMargin
    parts += s"""qrv AS MATERIALIZED (
       |  SELECT p.query_id, p.cell,
       |    list_transform(generate_series(1, $dims), i -> q.qv[i] - c.cent[i]) AS rv
       |  FROM qprobe p JOIN qq q USING (query_id)
       |  JOIN g$coarseIters c USING (cell))""".stripMargin
    for (s <- 0 until m) {
      val off = s * d
      parts += s"""t$s AS MATERIALIZED (
         |  SELECT r.query_id, r.cell AS pcell, c.cell,
         |    list_sum(list_transform(generate_series(1, $d),
         |      i -> (r.rv[$off+i]-c.cent[i])*(r.rv[$off+i]-c.cent[i]))) AS dist
         |  FROM qrv r, p${s}c$pqIters c)""".stripMargin
    }
    val tabJoins = (0 until m).map(s =>
      s"JOIN t$s ON t$s.query_id = pr.query_id AND t$s.pcell = pr.cell" +
        s" AND t$s.cell = e.codes[${s + 1}]").mkString("\n  ")
    val adcSum = (0 until m).map(s => s"t$s.dist").mkString(" + ")
    "WITH " + parts.result().mkString(",\n") + s""",
       |scored AS (
       |  SELECT pr.query_id, e.vec_id AS neighbor_id, $adcSum AS adc
       |  FROM enc e
       |  JOIN qrv pr ON pr.cell = e.cell
       |  $tabJoins
       |  WHERE e.vec_id <> pr.query_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  CAST(adc AS BIGINT) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $topK""".stripMargin
  }

  private def kmeansSampleOracle(k: Int, iters: Int, dims: Int, n: Int): String =
    kmeansCtes(k, iters, dims) + s"""
       |SELECT CAST(cell AS INTEGER) AS cell, CAST(rank AS INTEGER) AS sample_rank, vec_id FROM (
       |  SELECT cell, vec_id,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|holdout'), 1, 8))::UBIGINT DESC,
       |               vec_id ASC) AS rank
       |  FROM a${iters + 1})
       |WHERE rank <= $n""".stripMargin

  /** The q157 counts pipeline as a CTE chain ending in `counts`
    * (doc_id, n_bpe_tokens) — shared by the counts output (q157) and
    * the budget composition (q164).
    */
  private def bpeCountsCtes(n: Int): String = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    bpeCtes(n) + s""",
       |vocab AS MATERIALIZED (
       |  SELECT word,
       |    len(string_split(trim(wrapped, chr(31)), chr(31)||chr(31))) AS nt
       |  FROM w$n),
       |occ AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS word
       |  FROM documents),
       |perdoc AS (
       |  SELECT o.doc_id,
       |    sum(CASE WHEN v.word IS NULL THEN length(o.word) ELSE v.nt END) AS t
       |  FROM occ o LEFT JOIN vocab v ON o.word = v.word GROUP BY o.doc_id),
       |counts AS MATERIALIZED (
       |  SELECT d.doc_id, CAST(coalesce(p.t, 0) AS BIGINT) AS n_bpe_tokens
       |  FROM documents d LEFT JOIN perdoc p USING (doc_id))""".stripMargin
  }

  private def bpeCountsOracle(n: Int): String =
    bpeCountsCtes(n) + "\nSELECT doc_id, n_bpe_tokens FROM counts"

  private def bpeBudgetOracle(n: Int, budget: Long): String =
    bpeCountsCtes(n) + s"""
       |SELECT doc_id FROM (
       |  SELECT doc_id,
       |    sum(n_bpe_tokens) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM counts)
       |WHERE cum <= $budget""".stripMargin

  private def bpeFertilityOracle(n: Int): String = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    bpeCtes(n) + s""",
       |vocab AS MATERIALIZED (
       |  SELECT word,
       |    len(string_split(trim(wrapped, chr(31)), chr(31)||chr(31))) AS nt
       |  FROM w$n),
       |occ AS (
       |  SELECT lang, unnest(regexp_extract_all(text, '$pat')) AS word
       |  FROM documents),
       |agg AS (
       |  SELECT o.lang,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(CASE WHEN v.word IS NULL THEN length(o.word) ELSE v.nt END) AS BIGINT) AS n_bpe_tokens,
       |    CAST(sum(length(o.word)) AS BIGINT) AS n_chars
       |  FROM occ o LEFT JOIN vocab v ON o.word = v.word GROUP BY o.lang)
       |SELECT lang, n_words, n_bpe_tokens,
       |  round(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS fertility,
       |  round(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 4) AS chars_per_token
       |FROM agg""".stripMargin
  }

  private val jaccardOracle: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') toks FROM documents)
       |  WHERE len(toks) >= 3
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.s, b.s))::DOUBLE /
       |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id
       |  AND len(list_intersect(a.s, b.s))::DOUBLE /
       |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= THRESH""".stripMargin

  val oracle: Map[String, String] = Map(
    "q21_doc_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,

    // same q104 tokenization, union-vocab add-1 smoothing, natural
    // logs; per-term contributions identical IEEE expressions, final
    // sums rounded to 4 (ppm convention)
    "q175_token_drift" ->
      """WITH ta AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+')) AS term
        |  FROM documents WHERE lang = 'en' AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), tb AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+')) AS term
        |  FROM documents WHERE lang = 'de' AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), ca AS (SELECT term, count(*) AS ca FROM ta GROUP BY 1),
        |cb AS (SELECT term, count(*) AS cb FROM tb GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM j
        |), pq AS (
        |  SELECT v, na, nb,
        |    (CAST(ca AS DOUBLE) + 1) / CAST(na + v AS DOUBLE) AS p,
        |    (CAST(cb AS DOUBLE) + 1) / CAST(nb + v AS DOUBLE) AS q
        |  FROM j CROSS JOIN tot
        |)
        |SELECT v AS vocab_size, na AS n_a, nb AS n_b,
        |  floor(sum(p * ln(p / q)) * 1e4 + 0.5) / 1e4 AS kl_ab,
        |  floor(sum(q * ln(q / p)) * 1e4 + 0.5) / 1e4 AS kl_ba,
        |  floor(sum(p * ln(p / ((p + q) / 2)) / 2
        |          + q * ln(q / ((p + q) / 2)) / 2) * 1e4 + 0.5) / 1e4 AS js_div
        |FROM pq GROUP BY v, na, nb""".stripMargin,

    // the q24 prediction chain + confusion marginals and the same
    // fixed-order precision/recall/F1 expressions
    "q198_langid_confusion" -> (langPredCte + """,
        |cm AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
        |rws AS (SELECT lang, sum(n) AS n_docs FROM cm GROUP BY 1),
        |cls AS (SELECT lang_pred AS lang, sum(n) AS pred FROM cm GROUP BY 1),
        |tp AS (SELECT lang, n AS tp FROM cm WHERE lang = lang_pred)
        |SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(tp.tp, 0) AS BIGINT) AS n_correct,
        |  round(CASE WHEN c.pred > 0 THEN
        |    coalesce(tp.tp, 0)::DOUBLE / c.pred::DOUBLE END, 6) AS precision,
        |  round(coalesce(tp.tp, 0)::DOUBLE / r.n_docs::DOUBLE, 6) AS recall,
        |  round(CASE WHEN c.pred > 0 AND
        |      (coalesce(tp.tp, 0)::DOUBLE / c.pred::DOUBLE
        |       + coalesce(tp.tp, 0)::DOUBLE / r.n_docs::DOUBLE) > 0 THEN
        |    2.0 * (coalesce(tp.tp, 0)::DOUBLE / c.pred::DOUBLE)
        |        * (coalesce(tp.tp, 0)::DOUBLE / r.n_docs::DOUBLE)
        |      / (coalesce(tp.tp, 0)::DOUBLE / c.pred::DOUBLE
        |         + coalesce(tp.tp, 0)::DOUBLE / r.n_docs::DOUBLE) END, 6) AS f1
        |FROM rws r
        |LEFT JOIN cls c ON c.lang = r.lang
        |LEFT JOIN tp ON tp.lang = r.lang""").stripMargin,

    // the q22 signal formulas + identical bin/entropy/IG arithmetic
    "q200_feature_infogain" ->
      s"""WITH t AS (
         |  SELECT lang, text, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') toks,
         |    length(text) nc
         |  FROM documents
         |), sigs AS (
         |  SELECT lang,
         |    round(CASE WHEN nc > 0
         |      THEN (nc - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / nc
         |      ELSE 0 END, 4) AS alpha_ratio,
         |    round(CASE WHEN nc > 0
         |      THEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE / nc
         |      ELSE 0 END, 4) AS punct_ratio,
         |    round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
         |      THEN len(list_filter(toks, x -> list_contains([$stopList], lower(x))))::DOUBLE / len(toks)
         |      ELSE 0 END, 4) AS stopword_ratio
         |  FROM t
         |), lng AS (
         |  SELECT signal, CAST(least(floor(v * 10), 9) AS INTEGER) AS bin, lang
         |  FROM (
         |    SELECT lang, 'alpha_ratio' AS signal, alpha_ratio AS v FROM sigs
         |    UNION ALL SELECT lang, 'punct_ratio', punct_ratio FROM sigs
         |    UNION ALL SELECT lang, 'stopword_ratio', stopword_ratio FROM sigs)
         |), tot AS (SELECT count(*) AS n FROM sigs),
         |hy AS (
         |  SELECT sum(-(c::DOUBLE / n) * ln(c::DOUBLE / n)) AS hy
         |  FROM (SELECT lang, count(*) AS c FROM sigs GROUP BY 1)
         |  CROSS JOIN tot
         |), cell AS (
         |  SELECT signal, bin, lang, count(*) AS c FROM lng GROUP BY 1, 2, 3
         |), btot AS (SELECT signal, bin, sum(c) AS bt FROM cell GROUP BY 1, 2),
         |hb AS (
         |  SELECT cell.signal, cell.bin, min(btot.bt) AS bt,
         |    sum(-(cell.c::DOUBLE / btot.bt::DOUBLE)
         |        * ln(cell.c::DOUBLE / btot.bt::DOUBLE)) AS hb
         |  FROM cell JOIN btot USING (signal, bin) GROUP BY 1, 2
         |)
         |SELECT signal, count(*) AS n_bins,
         |  floor((min(hy.hy) - sum(hb.bt::DOUBLE / tot.n * hb.hb))
         |    * 1e6 + 0.5) / 1e6 AS info_gain
         |FROM hb CROSS JOIN hy CROSS JOIN tot
         |GROUP BY 1""".stripMargin,

    // same chain; pe from the exact integer marginal-product sum
    "q199_langid_kappa" -> (langPredCte + """,
        |n AS (SELECT count(*) AS n_docs,
        |  sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS n_agree
        |  FROM pred),
        |m1 AS (SELECT lang AS l, count(*) AS n1 FROM pred GROUP BY 1),
        |m2 AS (SELECT lang_pred AS l, count(*) AS n2 FROM pred GROUP BY 1),
        |pe AS (SELECT coalesce(sum(n1 * n2), 0) AS s FROM m1 JOIN m2 USING (l))
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_agree AS BIGINT) AS n_agree,
        |  round(n_agree::DOUBLE / n_docs::DOUBLE, 6) AS po,
        |  round(s::DOUBLE / (n_docs::DOUBLE * n_docs::DOUBLE), 6) AS pe,
        |  floor(CASE WHEN s::DOUBLE / (n_docs::DOUBLE * n_docs::DOUBLE) < 1.0
        |    THEN (n_agree::DOUBLE / n_docs::DOUBLE
        |          - s::DOUBLE / (n_docs::DOUBLE * n_docs::DOUBLE))
        |      / (1.0 - s::DOUBLE / (n_docs::DOUBLE * n_docs::DOUBLE)) END
        |    * 1e6 + 0.5) / 1e6 AS kappa
        |FROM n CROSS JOIN pe""").stripMargin,

    // same fragment/stopword segmentation, integer deg/freq, rounded
    // ratio sum, and (score desc, phrase) top-25 cut
    "q192_rake_keywords" ->
      """WITH frags AS (
        |  SELECT doc_id, i - 1 AS fi, fr[i] AS frag
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(text), '[^\p{L}\p{N}\s]+') AS fr
        |        FROM documents WHERE text IS NOT NULL),
        |       unnest(range(1, len(fr) + 1)) u(i)
        |), toked AS (
        |  SELECT doc_id, fi,
        |    regexp_split_to_array(
        |      regexp_replace(frag, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM frags
        |  WHERE length(regexp_replace(frag, '^\s+|\s+$', '', 'g')) > 0
        |), words AS (
        |  SELECT doc_id, fi, i - 1 AS wi, t[i] AS w,
        |    CASE WHEN t[i] IN ('the','a','an','and','or','of','to','in',
        |      'is','it','that','for','on','with','as','was','at','by',
        |      'be','this') THEN 1 ELSE 0 END AS sw
        |  FROM toked, unnest(range(1, len(t) + 1)) u(i)
        |), seg AS (
        |  SELECT *, sum(sw) OVER (PARTITION BY doc_id, fi ORDER BY wi
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sg
        |  FROM words
        |), ph AS (
        |  SELECT doc_id, fi, sg, count(*) AS len,
        |    string_agg(w, ' ' ORDER BY wi) AS phrase
        |  FROM seg WHERE sw = 0 GROUP BY 1, 2, 3
        |), wstat AS (
        |  SELECT s.w, count(*) AS freq, sum(p.len) AS deg
        |  FROM seg s JOIN ph p USING (doc_id, fi, sg)
        |  WHERE s.sw = 0 GROUP BY 1
        |), pstat AS (
        |  SELECT phrase, count(*) AS n_occurrences FROM ph GROUP BY 1
        |), scored AS (
        |  SELECT p.phrase, p.n_occurrences,
        |    round(sum(round(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE), 6)), 4) + 0 AS score
        |  FROM pstat p
        |  CROSS JOIN unnest(string_split(p.phrase, ' ')) AS t(w0)
        |  JOIN wstat ws ON ws.w = t.w0
        |  GROUP BY 1, 2
        |)
        |SELECT phrase, n_occurrences, score FROM scored
        |ORDER BY score DESC, phrase LIMIT 25""".stripMargin,

    // same gram positions, the same 32-bit md5-prefix hash, and the
    // identical composite-key arithmetic — an ordinary window MIN
    // reproduces the rightmost-min winnowing selection exactly
    "q183_winnow_fingerprints" ->
      """WITH toked AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents
        |  WHERE length(trim(regexp_replace(text, '^\s+|\s+$', '', 'g'))) > 0
        |), grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+2], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |        FROM toked WHERE len(t) >= 3)
        |), keyed AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5(g), 1, 8))::UBIGINT * 2147483648
        |      + (2147483647 - pos) AS key
        |  FROM grams
        |), wmin AS (
        |  SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
        |    count(*) OVER (PARTITION BY doc_id) AS gc
        |  FROM keyed
        |)
        |SELECT DISTINCT doc_id,
        |  CAST(2147483647 - (mn % 2147483648) AS BIGINT) AS fp_pos,
        |  CAST(mn // 2147483648 AS BIGINT) AS fp_hash
        |FROM wmin
        |WHERE pos = 0 OR pos <= gc - 4""".stripMargin,

    // the q183 selection replayed, deduped to (doc, hash) postings,
    // self-joined, counted — the same posting-list recomputation
    "q187_winnow_pairs" ->
      """WITH toked AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(
        |      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents
        |  WHERE length(trim(regexp_replace(text, '^\s+|\s+$', '', 'g'))) > 0
        |), grams AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+2], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        |        FROM toked WHERE len(t) >= 3)
        |), keyed AS (
        |  SELECT doc_id, pos,
        |    ('0x' || substr(md5(g), 1, 8))::UBIGINT * 2147483648
        |      + (2147483647 - pos) AS key
        |  FROM grams
        |), wmin AS (
        |  SELECT doc_id, pos,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
        |    count(*) OVER (PARTITION BY doc_id) AS gc
        |  FROM keyed
        |), fps AS (
        |  SELECT DISTINCT doc_id, mn // 2147483648 AS h
        |  FROM wmin WHERE pos = 0 OR pos <= gc - 4
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM fps a JOIN fps b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // same rank-weighted Gini identity and exact-integer moments
    // (DuckDB sums widen to HUGEINT — the engine's Decimal envelope)
    "q176_source_concentration" ->
      """WITH c AS (
        |  SELECT source AS g, count(*) AS c FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1
        |), r AS (
        |  SELECT g, c, row_number() OVER (ORDER BY c, g) AS rk FROM c
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(c) AS BIGINT) AS total,
        |  round(CAST(2 * sum(rk * c) - (count(*) + 1) * sum(c) AS DOUBLE)
        |    / CAST(count(*) * sum(c) AS DOUBLE), 6) AS gini,
        |  round(CAST(sum(c * c) AS DOUBLE)
        |    / CAST(sum(c) * sum(c) AS DOUBLE), 6) AS hhi,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_share
        |FROM r""".stripMargin,

    "q22_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\\s+') toks,
         |    length(text) nc
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
         |  round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
         |    THEN length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE / len(toks)
         |    ELSE 0 END, 4) AS mean_token_len,
         |  round(CASE WHEN nc > 0
         |    THEN (nc - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / nc
         |    ELSE 0 END, 4) AS alpha_ratio,
         |  round(CASE WHEN nc > 0
         |    THEN length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE / nc
         |    ELSE 0 END, 4) AS punct_ratio,
         |  round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
         |    THEN len(list_filter(toks, t -> list_contains([$stopList], lower(t))))::DOUBLE / len(toks)
         |    ELSE 0 END, 4) AS stopword_ratio
         |FROM t""".stripMargin,

    "q23_token_counts" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish_tokens
        |FROM documents""".stripMargin,

    "q24_lang_id" -> {
      val langLists = TextOps.LangStopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString(", ")
        s"round(CASE WHEN len(toks) > 0 AND length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0 THEN len(list_filter(toks, t -> list_contains([$lst], t)))::DOUBLE / len(toks) ELSE 0 END, 6) AS score_$l"
      }.mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\\s+') toks
         |  FROM documents
         |), s AS (
         |  SELECT doc_id,
         |  $langLists
         |  FROM t
         |), u AS (
         |  SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
         |    unnest(['de','en','es','fr','zh']) AS lang,
         |    unnest([score_de, score_en, score_es, score_fr, score_zh]) AS sc
         |  FROM s
         |)
         |SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
         |  CASE WHEN sc = 0 THEN 'und' ELSE lang END AS lang_pred
         |FROM u
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang DESC) = 1""".stripMargin
    },

    "q25_doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp_md5
        |FROM documents""".stripMargin,

    "q26_ngram_jaccard_pairs" -> jaccardOracle.replace("THRESH", "0.5"),
    "q27_minhash_lsh_pairs"   -> jaccardOracle.replace("THRESH", "0.8"),

    // SimHash is not SQL-expressible (MurmurHash3 token hashes), but it
    // IS fully deterministic — the oracle pins the hand-audited result
    // on the driver's correctness SF (sf0.01 documents table). The
    // quarter-blocking property (subset-of-q26 / completeness ≤ 3 bits)
    // is additionally asserted in NearDupSpec.
    "q28_simhash_pairs" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |  CAST(hamming AS INTEGER) AS hamming
        |FROM (VALUES
        |  (8,245,0),(31,383,3),(45,413,3),(58,293,1),(61,185,0),(70,447,3),
        |  (72,377,0),(91,463,3),(98,290,1),(107,387,1),(120,332,2),(152,178,1),
        |  (166,323,1),(167,424,3),(221,444,2),(267,413,2),(285,301,1),
        |  (326,457,3),(393,420,0),(435,486,2),(458,462,2)
        |) t(id_a, id_b, hamming)""".stripMargin,

    "q29_knn_cosine" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] qv
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(qv, c.embedding::DOUBLE[]), 4) + 0 AS score
        |  FROM q, embeddings c
        |  WHERE c.vec_id != query_id
        |)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // q29's scan with the half-open band filter applied before the
    // per-query rank — the mined negatives must match exactly
    "q120_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] qv
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(qv, c.embedding::DOUBLE[]), 4) + 0 AS score
        |  FROM q, embeddings c
        |  WHERE c.vec_id != query_id
        |)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank
        |  FROM s WHERE score >= 0.30 AND score < 0.45)
        |WHERE rank <= 10""".stripMargin,

    // exact-Jaccard of every doc's shingle set against the same query
    // literal, the same floor and rounded rank
    "q128_similar_docs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), q AS (
        |  SELECT list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) s
        |  FROM (SELECT regexp_split_to_array(
        |    'key agg row scan slow fast table value part hash', '\s+') t)
        |), scored AS (
        |  SELECT doc_id,
        |    round(len(list_intersect(sh.s, q.s))::DOUBLE /
        |      (len(sh.s) + len(q.s) - len(list_intersect(sh.s, q.s))), 4) AS jaccard
        |  FROM sh, q
        |)
        |SELECT doc_id, jaccard FROM (
        |  SELECT *, row_number() OVER (ORDER BY jaccard DESC, doc_id ASC) AS rn
        |  FROM scored WHERE jaccard >= 0.01)
        |WHERE rn <= 20""".stripMargin,

    // both retriever pipelines recomputed in full (the q112 BM25 and
    // q128 shingle chains at k=20), fused with the identical
    // fixed-order 1/(60+rank) sum and (rrf DESC, id) cut
    "q181_rrf_hybrid_search" ->
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
        |), bmr AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
        |    FROM scored)
        |  WHERE rank <= 20
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), q AS (
        |  SELECT list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) s
        |  FROM (SELECT regexp_split_to_array(
        |    'key agg row scan slow fast table value part hash', '\s+') t)
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
        |  WHERE rank <= 20
        |), ids AS (
        |  SELECT doc_id FROM bmr UNION SELECT doc_id FROM jr
        |)
        |SELECT ids.doc_id,
        |  CAST(coalesce(bmr.rank, 0) AS BIGINT) AS rank_bm25,
        |  CAST(coalesce(jr.rank, 0) AS BIGINT) AS rank_jaccard,
        |  -- e6 floor lattice, not round(): shared IEEE arithmetic on
        |  -- both engines (round is engine-implemented; VERDICT r13 #7)
        |  floor((
        |    (CASE WHEN bmr.rank IS NOT NULL
        |       THEN 1.0::DOUBLE / (60.0::DOUBLE + CAST(bmr.rank AS DOUBLE))
        |       ELSE 0.0::DOUBLE END)
        |    + (CASE WHEN jr.rank IS NOT NULL
        |       THEN 1.0::DOUBLE / (60.0::DOUBLE + CAST(jr.rank AS DOUBLE))
        |       ELSE 0.0::DOUBLE END)) * 1e6 + 0.5) / 1e6 AS rrf_score
        |FROM ids LEFT JOIN bmr USING (doc_id) LEFT JOIN jr USING (doc_id)
        |ORDER BY rrf_score DESC, ids.doc_id ASC
        |LIMIT 15""".stripMargin,

    // df recomputed on gram STRINGS (the engine keys on xxhash64 —
    // same result absent a 64-bit collision, the q84 argument)
    "q129_ngram_novelty" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])) AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |), dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
        |      / count(*)::DOUBLE * 1000000 + 0.5) / 1000000
        |    AS novelty
        |FROM grams JOIN dfreq USING (g)
        |GROUP BY doc_id""".stripMargin,

    // full recount of both frames + the same rounded-PMI rank
    "q121_pmi_collocations" ->
      """WITH toked AS (
        |  SELECT CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN []::VARCHAR[]
        |              ELSE regexp_split_to_array(trim(lower(text), ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') END AS t
        |  FROM documents
        |), unis AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toked) GROUP BY w
        |), n1 AS (SELECT sum(c)::DOUBLE AS n FROM unis),
        |bis AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i
        |        FROM toked WHERE len(t) >= 2)
        |  GROUP BY 1, 2
        |), n12 AS (SELECT sum(c12)::DOUBLE AS n FROM bis),
        |scored AS (
        |  SELECT b.w1, b.w2, b.c12,
        |    floor((ln(b.c12::DOUBLE / (SELECT n FROM n12))
        |      - ln(u1.c::DOUBLE / (SELECT n FROM n1))
        |      - ln(u2.c::DOUBLE / (SELECT n FROM n1))) * 1e6 + 0.5) / 1e6 AS pmi
        |  FROM bis b
        |  JOIN unis u1 ON u1.w = b.w1
        |  JOIN unis u2 ON u2.w = b.w2
        |  WHERE b.c12 >= 5
        |)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi FROM (
        |  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 50""".stripMargin,

    // full independent recomputation of every signal and rule: RE2
    // re-counts the tokens/lines/symbols, the integer
    // cross-multiplication rules and the first-fail CASE chain are
    // restated verbatim
    // same counting conventions: whitespace words, [.!?]+ runs,
    // vowel-group runs; integer sums, identical closing expressions
    "q207_readability" ->
      """WITH base AS (
        |  SELECT lang, source, text,
        |    CASE WHEN length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END AS w
        |  FROM documents
        |), perdoc AS (
        |  SELECT lang, source, w,
        |    CASE WHEN w > 0 THEN
        |      greatest(coalesce(len(regexp_extract_all(text, '[.!?]+')), 0), 1)
        |      ELSE 0 END AS s,
        |    CASE WHEN w > 0 THEN
        |      coalesce(len(regexp_extract_all(lower(text), '[aeiouy]+')), 0)
        |      ELSE 0 END AS y
        |  FROM base
        |), agg AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(sum(s) AS BIGINT) AS n_sentences,
        |    CAST(sum(y) AS BIGINT) AS n_syllables
        |  FROM perdoc GROUP BY 1, 2
        |)
        |SELECT lang, source, n_docs, n_words, n_sentences, n_syllables,
        |  floor(CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    206.835 - 1.015 *
        |      (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    END * 1e4 + 0.5) / 1e4 AS flesch_ease,
        |  floor(CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59 END * 1e4 + 0.5) / 1e4 AS fk_grade
        |FROM agg""".stripMargin,

    // same substring predicates and the same De-Morgan-equivalent
    // keep condition (3VL-safe either way)
    "q210_c4_rules" ->
      """WITH flags AS (
        |  SELECT source,
        |    position('lorem ipsum' IN lower(text)) > 0 AS lorem,
        |    position('{' IN text) > 0 AS brace,
        |    (position('cookie policy' IN lower(text)) > 0
        |     OR position('privacy policy' IN lower(text)) > 0
        |     OR position('terms of use' IN lower(text)) > 0
        |     OR position('uses cookies' IN lower(text)) > 0) AS policy,
        |    coalesce(len(regexp_extract_all(text, '[.!?]+')), 0) < 3 AS short
        |  FROM documents
        |), agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
        |    CAST(sum(CASE WHEN brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
        |    CAST(sum(CASE WHEN policy THEN 1 ELSE 0 END) AS BIGINT) AS n_policy,
        |    CAST(sum(CASE WHEN short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |    CAST(sum(CASE WHEN (NOT lorem) AND (NOT brace) AND (NOT policy)
        |      AND (NOT short) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM flags GROUP BY 1
        |)
        |SELECT source, n_docs, n_lorem, n_brace, n_policy, n_short, n_kept,
        |  round(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS keep_rate
        |FROM agg""".stripMargin,

    "q109_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
        |         THEN []::VARCHAR[]
        |         ELSE regexp_split_to_array(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks,
        |    list_filter(string_split(text, chr(10)),
        |      l -> length(regexp_replace(l, '^\s+|\s+$', '', 'g')) > 0) AS lns
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS word_chars,
        |    CAST(len(list_filter(toks, t -> regexp_matches(t, '\p{L}'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(regexp_extract_all(text, '#|…'))
        |       + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(lns, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS n_ellipsis_lines,
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
        |)
        |SELECT doc_id, n_words, word_chars, n_alpha_words, n_symbols, n_lines,
        |  n_bullet_lines, n_ellipsis_lines, n_stopword_hits,
        |  r_word_count, r_mean_word_length, r_symbol_ratio, r_bullet_lines,
        |  r_ellipsis_lines, r_alpha_words, r_stopword_hits,
        |  (r_word_count AND r_mean_word_length AND r_symbol_ratio
        |   AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
        |   AND r_stopword_hits) AS pass,
        |  CASE WHEN NOT r_word_count THEN 'word_count'
        |       WHEN NOT r_mean_word_length THEN 'mean_word_length'
        |       WHEN NOT r_symbol_ratio THEN 'symbol_ratio'
        |       WHEN NOT r_bullet_lines THEN 'bullet_lines'
        |       WHEN NOT r_ellipsis_lines THEN 'ellipsis_lines'
        |       WHEN NOT r_alpha_words THEN 'alpha_words'
        |       WHEN NOT r_stopword_hits THEN 'stopword_hits'
        |       ELSE NULL END AS reject_reason
        |FROM rules""".stripMargin,

    // RE2 recomputation of every gram list (q101's inclusive-slice
    // comprehension), the same integer-rational thresholds and the
    // same exact-integer-ratio fractions
    "q114_repetition_rules" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tk
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 2
        |      THEN [array_to_string(tk[i:i+1], ' ') for i in range(1, len(tk))]
        |      ELSE []::VARCHAR[] END AS g2,
        |    CASE WHEN len(tk) >= 3
        |      THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk)-1)]
        |      ELSE []::VARCHAR[] END AS g3,
        |    CASE WHEN len(tk) >= 4
        |      THEN [array_to_string(tk[i:i+3], ' ') for i in range(1, len(tk)-2)]
        |      ELSE []::VARCHAR[] END AS g4
        |  FROM t
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(g2) AS BIGINT) AS total_2grams,
        |    CAST(len(list_distinct(g2)) AS BIGINT) AS distinct_2grams,
        |    CAST(len(g3) AS BIGINT) AS total_3grams,
        |    CAST(len(list_distinct(g3)) AS BIGINT) AS distinct_3grams,
        |    CAST(len(g4) AS BIGINT) AS total_4grams,
        |    CAST(len(list_distinct(g4)) AS BIGINT) AS distinct_4grams
        |  FROM g
        |)
        |SELECT doc_id,
        |  total_2grams, distinct_2grams,
        |  CASE WHEN total_2grams > 0 THEN round(
        |    (total_2grams - distinct_2grams) * 1.0 / total_2grams, 6)
        |    ELSE 0.0 END AS dup_frac_2,
        |  total_3grams, distinct_3grams,
        |  CASE WHEN total_3grams > 0 THEN round(
        |    (total_3grams - distinct_3grams) * 1.0 / total_3grams, 6)
        |    ELSE 0.0 END AS dup_frac_3,
        |  total_4grams, distinct_4grams,
        |  CASE WHEN total_4grams > 0 THEN round(
        |    (total_4grams - distinct_4grams) * 1.0 / total_4grams, 6)
        |    ELSE 0.0 END AS dup_frac_4,
        |  (5 * (total_2grams - distinct_2grams) <= total_2grams) AS r_dup_2grams,
        |  (50 * (total_3grams - distinct_3grams) <= 9 * total_3grams) AS r_dup_3grams,
        |  (25 * (total_4grams - distinct_4grams) <= 4 * total_4grams) AS r_dup_4grams,
        |  ((5 * (total_2grams - distinct_2grams) <= total_2grams)
        |   AND (50 * (total_3grams - distinct_3grams) <= 9 * total_3grams)
        |   AND (25 * (total_4grams - distinct_4grams) <= 4 * total_4grams)) AS rep_pass
        |FROM s""".stripMargin,

    // full BM25 recomputation: same normalization, same idf/tf/length
    // formulas with identical operator associativity (every float
    // constant spelled as the same double-typed expression), same
    // (score desc, id asc) rank, score rounded to 6
    "q112_bm25_search" ->
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
        |)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank,
        |  floor(s * 1e6 + 0.5) / 1e6 + 0 AS score FROM (
        |  SELECT doc_id, s,
        |    row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,

    // the same lexicon as a VALUES table joined on the lowercased
    // token — the join form of the engine's map-literal lookup
    "q108_topic_tags" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+')) AS tok
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), lex(tok, topic) AS (VALUES
        |  ('table','db'), ('row','db'), ('column','db'), ('join','db'),
        |  ('scan','exec'), ('sort','exec'), ('merge','exec'), ('hash','exec'),
        |  ('stream','stream'), ('batch','stream'), ('window','stream')
        |)
        |SELECT doc_id, topic, count(*) AS n_matches
        |FROM toks JOIN lex USING (tok)
        |GROUP BY doc_id, topic""".stripMargin,

    // RE2 recomputation of the script counts (len of extract_all =
    // codepoint match count) + the identical argmax CASE chain
    "q107_script_signals" ->
      """WITH docs(doc_id, text) AS (VALUES
        |  (1, 'hello world 123'),
        |  (2, 'привет мир'),
        |  (3, '你好世界'),
        |  (4, 'مرحبا'),
        |  (5, 'hello привет'),
        |  (6, '123 456'),
        |  (7, ''),
        |  (8, 'hello你好')
        |), counts AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(len(regexp_extract_all(text, '\S')) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
        |    CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT) AS n_arabic,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit
        |  FROM docs
        |)
        |SELECT *,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_han = 0 AND n_arabic = 0
        |         THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic
        |         THEN 'latin'
        |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |       WHEN n_han >= n_arabic THEN 'han'
        |       ELSE 'arabic' END AS dominant_script
        |FROM counts""".stripMargin,

    // same (count desc, token asc) rank and the same integer ceil
    // rule recomputed with a plain window over the vocab frame
    "q104_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+')) AS tok
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), tc AS (
        |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tc),
        |cum AS (
        |  SELECT tok, c,
        |    sum(c) OVER (ORDER BY c DESC, tok ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tc
        |)
        |SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(c) AS BIGINT) AS covered_occurrences,
        |  (SELECT t FROM tot) AS total_occurrences
        |FROM cum
        |WHERE cum - c < ((SELECT t FROM tot) * 9 + 9) // 10""".stripMargin,

    // same lowercased-token trigrams with multiplicity; DuckDB's
    // inclusive 1-based slice t[i:i+2] is the 3-token window
    "q101_top_ngrams" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(lower(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))), '\s+') AS t
        |  FROM documents WHERE length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) > 0
        |), grams AS (
        |  SELECT unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS ngram
        |  FROM toks WHERE len(t) >= 3
        |)
        |SELECT ngram, count(*) AS n_occurrences
        |FROM grams GROUP BY ngram
        |ORDER BY n_occurrences DESC, ngram ASC
        |LIMIT 25""".stripMargin,

    "q96_tfidf_top_terms" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(nt, ' ')) AS term
        |  FROM norm WHERE length(nt) > 0
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (SELECT count(DISTINCT doc_id) AS n FROM tf)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
        |  floor(s * 1e6 + 0.5) / 1e6 + 0 AS score FROM (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * (ln(((SELECT n FROM n) + 1.0) / (df.df + 1.0)) + 1) AS s,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * (ln(((SELECT n FROM n) + 1.0) / (df.df + 1.0)) + 1) DESC,
        |               tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term))
        |WHERE rank <= 5""".stripMargin,

    // same oracle as q29 on purpose: the int8+rerank path must recover
    // the exact brute-force answer
    "q95_knn_int8_rerank" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] qv
        |  FROM embeddings WHERE vec_id < 5
        |), s AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(qv, c.embedding::DOUBLE[]), 4) + 0 AS score
        |  FROM q, embeddings c
        |  WHERE c.vec_id != query_id
        |)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id ASC) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    "q30_cosine_dup_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) + 0 AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin,

    // exact quadratic SQL as the oracle for the LSH scale path: equality
    // proves recall 1.0 + soundness of the blocked implementation
    "q51_lsh_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) + 0 AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45""".stripMargin,

    // the recall bounds are computed Spark-side vs Spark's own brute
    // force; the oracle pins the asserted outcome as a literal row
    "q52_ivf_recall" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries,
        |  CAST(20 AS BIGINT) AS queries_recall_ge_30pct,
        |  CAST(1 AS BIGINT) AS mean_recall_ge_60pct""".stripMargin,

    // genuine independent recomputation: identical IEEE-double formula
    // => identical int8 codes in any engine
    "q89_quantize_int8" ->
      """SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(list_transform(embedding::DOUBLE[],
        |    x -> CASE WHEN scale = 0 THEN 0
        |              ELSE CAST(floor(x / scale * 127 + 0.5) AS INTEGER) END), ',') AS qvec_csv
        |FROM (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS scale
        |  FROM embeddings)""".stripMargin,

    "q156_bpe_merges" -> bpeMergesOracle(BpeNumMerges),

    "q157_bpe_token_counts" -> bpeCountsOracle(BpeNumMerges),

    "q164_bpe_token_budget" -> bpeBudgetOracle(BpeNumMerges, BpeBudget),

    "q165_ivf_kmeans_knn" ->
      ivfKmeansOracle(KmK, KmIters, KmDims, nProbe = 2, topK = 5),

    "q189_pq_ann" -> pqOracle(PqM, PqKSub, PqIters, KmDims, topK = 5),

    "q190_ivfpq_ann" -> ivfPqOracle(KmK, coarseIters = 2, nProbe = 2,
      m = PqM, kSub = PqKSub, pqIters = PqIters, dims = KmDims, topK = 5),

    // the q97 salted-hash order recomputation, keyed on source
    "q168_source_quota" ->
      """SELECT source, CAST(rank AS INTEGER) AS sample_rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|holdout'), 1, 8))::UBIGINT DESC,
        |               doc_id ASC) AS rank
        |  FROM documents)
        |WHERE rank <= 10""".stripMargin,

    // every metric an exact count or one division of exact counts
    "q169_corpus_report" ->
      """WITH a AS (
        |  SELECT
        |    count(*) AS n_docs,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n_null_text,
        |    sum(CASE WHEN text IS NULL OR length(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+')) END) AS n_ws_tokens,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources,
        |    count(*) - count(DISTINCT coalesce(md5(text), '')) AS n_exact_dup_docs,
        |    sum(n_chars) AS sum_chars
        |  FROM documents
        |)
        |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
        |UNION ALL SELECT 'n_null_text', CAST(n_null_text AS DOUBLE) FROM a
        |UNION ALL SELECT 'n_ws_tokens', CAST(n_ws_tokens AS DOUBLE) FROM a
        |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
        |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
        |UNION ALL SELECT 'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE) FROM a
        |UNION ALL SELECT 'mean_chars', round(CAST(sum_chars AS DOUBLE) / n_docs, 4) FROM a""".stripMargin,

    // quadratic recompute of the directional containment ratio; the
    // threshold compares the unrounded integer ratio (one IEEE
    // division, engine-identical); no pair sits within 0.3 of the
    // 0.8 cut at the shipped SFs
    "q166_containment_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 4) AS containment
        |FROM sh a, sh b
        |WHERE a.doc_id <> b.doc_id
        |  AND len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.8""".stripMargin,

    // quadratic ground truth: the engine's prefix-filtered join must
    // produce EXACTLY this set (completeness by the prefix-filter
    // lemma, precision by the verification join); same one-division
    // threshold compare on exact integer counts
    "q231_prefix_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') toks FROM documents)
        |  WHERE len(toks) >= 3
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
        |  CAST(len(a.s) AS BIGINT) AS size_a,
        |  CAST(len(b.s) AS BIGINT) AS size_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.4""".stripMargin,

    "q161_bpe_fertility" -> bpeFertilityOracle(BpeNumMerges),

    // per-char counts folded in list order after a sort by character
    // (UTF-8 byte order = code-point order, the engine's summation
    // order); list_sum is sequential so the double accumulation order
    // matches, leaving only last-ulp ln differences for round(6)
    "q163_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0
        |), cnt AS (
        |  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n, list(k ORDER BY c) AS ks
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  floor(coalesce(-list_sum(list_transform(a.ks,
        |    k -> (k / a.n) * ln(k / a.n))), 0) * 1e6 + 0.5) / 1e6
        |    AS char_entropy
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // explicit position walk (overlap-correct where a regex scan is
    // not); the tokens convention matches the q26 oracle
    "q162_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL AND trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)) <> ''
        |), m AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(1, len(t) - 1),
        |      i -> CASE WHEN t[i] = 'batch' AND t[i+1] = 'batch' THEN 1 ELSE 0 END)) AS n
        |  FROM toks WHERE len(t) >= 2
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_matches FROM m WHERE n > 0""".stripMargin,

    "q158_kmeans_clusters" -> kmeansOracle(KmK, KmIters, KmDims),

    "q159_cluster_balanced_sample" ->
      kmeansSampleOracle(KmK, KmIters, KmDims, KmSampleK)
  )
}
