package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes (the whole point of these implementations):
  *  - exact dedup = one hash-shuffle on a 16-byte digest, never on the
  *    document body;
  *  - MinHash signatures are computed with higher-order functions
  *    (codegen'd, no shuffle, no UDF); only the banded signature —
  *    `bands × 8` bytes per doc — is shuffled, never shingle sets;
  *  - candidate verification joins docs only within LSH buckets, so the
  *    quadratic blow-up is bounded by bucket size, not corpus size.
  */
object NearDup {

  // ------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // ------------------------------------------------------------------

  /** Group by content digest, keep the lowest id per group. Returns the
    * kept rows with `dup_count`. The keeper-selection aggregation
    * shuffles only (digest, id); the join-back that returns the kept
    * rows shuffles the full rows (body included) once — inherent to
    * returning them. Callers that only need ids should semi-join
    * against `keepers` themselves and skip that body shuffle.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedupBy(df, idCol, md5(col(textCol)))

  /** Fuzzy-exact dedup: the digest is taken over the NORMALIZED text
    * (lowercase, punctuation stripped, whitespace collapsed —
    * [[TextOps.normalizeText]]), so documents differing only in case /
    * punctuation / spacing collapse to one. Same single digest-key
    * shuffle as [[exactDedup]].
    */
  def exactDedupNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedupBy(df, idCol, md5(TextOps.normalizeText(col(textCol))))

  /** Dedup PLANNING report: before spending a full dedup pass at
    * 100 TB, how much is there to save? Clusters by the q80
    * normalized digest, keeps the min-id doc per cluster (the
    * engine's dedup keeper rule), and reports the cluster-size
    * distribution with the character volume the non-keepers
    * represent — the "bytes saved" estimate and the "is dedup worth
    * a pass" histogram in one table. One digest-keyed shuffle with
    * map-side-combined sums; #cluster-size output rows.
    */
  def dedupSavingsReport(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val groups = df
      .select(md5(TextOps.normalizeText(col(textCol))).as("__k"),
        col(idCol).as("__id"),
        coalesce(length(col(textCol)), lit(0)).cast("long").as("__len"))
      .groupBy("__k")
      .agg(count(lit(1)).as("__n"), sum("__len").as("__total"),
        min(struct(col("__id"), col("__len"))).as("__keeper"))
    groups.groupBy(col("__n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("__n").as("n_docs"),
        sum(col("__total") - col("__keeper.__len")).as("dup_chars"))
  }

  /** Unicode-canonical exact dedup: the digest is taken over the NFC
    * normalization of the text, so strings that render identically but
    * differ in code-point sequence (precomposed é vs e + combining
    * acute — common across scraped sources and OCR) collapse to one.
    * Same single digest-key shuffle; the normalizer is a codegen'd
    * expression with an ASCII fast path ([[graft.expressions
    * .TextExpressions]]).
    */
  def exactDedupNfc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedupBy(df, idCol,
      md5(graft.expressions.TextExpressions.nfc_normalize(col(textCol))))

  /** Shared kernel: group by an arbitrary digest expression, keep the
    * lowest id per group with `dup_count`. A NULL digest (NULL text)
    * forms one group like any other (SQL GROUP BY semantics) instead
    * of silently vanishing in the null-unsafe join-back —
    * quarantine-not-drop. NULL-ness is carried as a separate boolean
    * key column rather than a string sentinel: the digest is an
    * ARBITRARY caller expression, so no sentinel string is
    * collision-free.
    */
  def exactDedupBy(df: DataFrame, idCol: String, digest: Column): DataFrame = {
    val keyed = df.withColumn("__digest", coalesce(digest, lit("")))
      .withColumn("__dignull", digest.isNull)
    val keepers = keyed.groupBy("__dignull", "__digest")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
    keyed.drop("dup_count")
      .join(keepers, Seq("__dignull", "__digest", idCol))
      .drop("__dignull", "__digest")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** MinHash signature of a shingle array: permutation i's value is
    * min over shingles of xxhash64(shingle, seed = i) — k INDEPENDENT
    * hash functions. The shingle array is let-bound (ExprOps.bind) so
    * it is evaluated once per row, not once per permutation.
    *
    * Deliberately NOT the Carter-Wegman h1 + i·h2 two-hash scheme: its
    * permutations are pairwise correlated, and banded-LSH miss
    * probability stops factorizing as (1-J^r)^b — measured 3 of 256
    * true J ≥ 0.8 pairs missed at sf0.1 (the sf0.01 gate passed by
    * luck). Independent per-perm hashing restores the guarantee at k×
    * the hashing cost, which `bind` keeps linear in document length.
    */
  def minhashSignature(shingles: Column, numPerms: Int): Column =
    // codegen'd expression, bit-identical to the HOF formulation
    //   bind(sh)(transform(sequence(0, k-1), i => array_min(transform(sh, s => xxhash64(s, i)))))
    // (asserted by SketchSpec) at 1 string-hash + k int-mixes per
    // element instead of k interpreted passes re-hashing the string
    graft.expressions.SimilarityExpressions.minhash_sig(shingles, numPerms)

  /** Banded LSH key rows `(idCol, sigCol, band, band_hash)`: one row
    * per (band, bandHash) per doc, beside the doc's signature (a
    * caller that reads only the keys has it pruned). numPerms must be
    * divisible by bands; r = numPerms/bands rows per band. Docs
    * sharing any band hash are candidates.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, numPerms: Int): DataFrame = {
    val r = numPerms / bands
    require(bands * r == numPerms, s"bands=$bands must divide numPerms=$numPerms")
    df.select(col(idCol), col(sigCol), posexplode(
        graft.expressions.ExprOps.bind(col(sigCol)) { sig =>
          transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice(sig, b * r + 1, lit(r)), b))
        }))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Candidate pairs (a < b) from shared LSH buckets, deduplicated
    * across bands. The only shuffle keys are (band, band_hash).
    */
  def lshCandidatePairs(bandRows: DataFrame, idCol: String): DataFrame = {
    val l = bandRows.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val r = bandRows.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → signature → bands →
    * candidate pairs → exact Jaccard verification on the candidates
    * only. Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    // filter on token count (cheap split) rather than on the shingle
    // array — pushing `size(shingles) > 0` below the projection would
    // rebuild the full shingle expression once more per row.
    //
    // The repartition serves two purposes: (a) a materialization
    // barrier so CollapseProject cannot inline the shingle/signature
    // expressions into downstream multi-reference projections
    // (measured 30× slowdown without it), and (b) an exchange shared
    // by all three consumers (banding + both verify branches) —
    // Spark's ReuseExchange computes the shingle projection ONCE and
    // serves the other consumers from the shuffle files.
    // width-pinned (guide §2.5 / Tables.pinnedRepartition doc): AQE
    // coalesces this KB-scale exchange to ONE partition otherwise, and
    // the minhash permutation expansion above it runs single-task
    val shingled = graft.Tables.pinnedRepartition(df
      .filter(size(TextOps.tokens(col(textCol))) >= shingleLen)
      .select(col(idCol), TextOps.wordShingles(col(textCol), shingleLen).as("__sh")),
      col(idCol))
    val sigOnly = shingled
      .select(col(idCol), minhashSignature(col("__sh"), numPerms).as("__sig"))
    val cands = lshCandidatePairs(lshBands(sigOnly, idCol, "__sig", bands, numPerms), idCol)
    val a = shingled.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val b = shingled.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact Jaccard similarity of two string arrays — native
    * single-pass expression (graft.expressions.JaccardSim).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.expressions.SimilarityExpressions.jaccard_sim(a, b)

  /** Brute-force n-gram Jaccard pairs over a (small or pre-blocked)
    * corpus: all (a < b) pairs with word-n-gram Jaccard ≥ threshold.
    * The quadratic baseline used to validate the LSH path; at scale use
    * `minhashLshPairs`.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df
      .filter(size(TextOps.tokens(col(textCol))) >= n)
      .select(col(idCol), TextOps.wordShingles(col(textCol), n).as("__sh"))
    val a = sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directional CONTAINMENT near-dup pairs (Broder 1997's second
    * resemblance measure): C(A→B) = |S(A) ∩ S(B)| / |S(A)| over
    * distinct word shingles — the asymmetric statistic that catches a
    * SHORT document embedded in a long one, which symmetric Jaccard
    * structurally misses (a 50-shingle doc fully contained in a
    * 5,000-shingle doc has Jaccard ≈ 0.01 but containment 1.0). The
    * fuzzy sibling of the exact-substring span family (q85/q91):
    * spans need verbatim token runs, containment survives
    * reorderings and interleaved edits.
    *
    * Scale shape — posting-list join, NOT all-pairs: explode each
    * doc's distinct shingles to (shingle-hash, doc), self-join on the
    * 8-byte hash (the only corpus-sized shuffle), count shared
    * shingles per ordered pair, divide by the source doc's set size.
    * Pair fan-out concentrates on high-df shingles; `maxDf` drops
    * shingles appearing in more than that many docs from the
    * CANDIDATE join (boilerplate n-grams — the standard posting-list
    * cap). A dropped shingle can only LOWER a pair's computed
    * containment, so with a cap the result is a conservative subset;
    * the default (no cap) is exact, which is what the q166 oracle
    * verifies quadratically. Both directions emit (C(A→B) and
    * C(B→A) differ); the threshold compares the UNROUNDED integer
    * ratio — one IEEE division of exact counts, identical in any
    * engine.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // fan the docs out of a single-row-group scan before the shingle
    // explode + hash fuse onto it (guide §2.5; round-16 profile: one
    // 2.4 s single-task stage) — `sh` has THREE consumers (sizes +
    // both join sides), each re-running the explode
    val sh = graft.Tables.fanOut(df
      .filter(size(TextOps.tokens(col(textCol))) >= n)
      .select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__s"))
      .select(col("__id"), xxhash64(col("__s")).as("__h"))
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("__n"))
    val joinable = maxDf match {
      case Some(cap) =>
        val hot = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("__h")
        sh.join(hot, Seq("__h"), "left_anti")
      case None => sh
    }
    val shared = joinable.select(col("__id").as("id_a"), col("__h"))
      .join(joinable.select(col("__id").as("id_b"), col("__h")), "__h")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__c"))
    shared
      .join(sizes.select(col("__id").as("id_a"), col("__n")), "id_a")
      .withColumn("containment",
        col("__c").cast("double") / col("__n").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** EXACT all-pairs Jaccard join by prefix filtering (AllPairs /
    * PPJoin family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07):
    * every (a < b) pair with word-n-gram Jaccard ≥ threshold, with NO
    * miss probability — the deterministic-complete alternative to
    * [[minhashLshPairs]] (whose banded LSH has a tunable but nonzero
    * false-negative rate) at the price of an exact-verification join.
    * Produces the identical pair set to the quadratic
    * [[ngramJaccardPairs]] (the prefix-filter theorem guarantees
    * completeness; verification guarantees precision), which is what
    * the q231 oracle checks.
    *
    * Scale shape — candidates come ONLY from the rare tail of each
    * document's shingle set: shingles are globally ordered by
    * (document frequency asc, shingle asc) and each doc contributes
    * just its first `|x| - floor(t·|x|) + 1` shingles in that order to
    * the self-join (dominating the prefix-filter lemma's
    * `|x| - ceil(t·|x|) + 1` even when t·|x| is an exact integer: two
    * sets with overlap ≥ ⌈t·max(|x|,|y|)⌉ must share a member inside
    * those prefixes). The
    * per-doc prefix rank is a window bounded by the DOCUMENT's own
    * shingle count — never a corpus- or vocab-sized frame — and the
    * candidate join keys are by construction the LEAST frequent
    * shingles, so posting-list fan-out is bounded where a naive
    * shingle self-join explodes on boilerplate grams. A size
    * compatibility filter (t·|x| ≤ |y| ≤ |x|/t, evaluated with 1-gram
    * slack so IEEE rounding can only ADMIT extra candidates, never
    * drop a true pair) prunes before dedup; exact verification then
    * joins each surviving candidate pair to its two doc-bounded
    * shingle arrays and computes |∩| with `array_intersect` — the
    * threshold compares the unrounded ratio of exact integer counts,
    * one closing IEEE division, identical in any engine.
    */
  def prefixJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // NOTE (round-17, measured and rejected): a sorted-merge
    // intersect-count verify (sort_array once per doc + a codegen
    // two-pointer walk instead of array_intersect's per-pair hash set)
    // was the round-16 "not yet optimized" candidate here. The
    // same-JVM A/B REGRESSED the family (q324 +0.8 s, q336 +1.1 s,
    // q347 +0.4 s, q348 +0.8 s): adjacent sorted shingles share deep
    // word prefixes, so every merge-step compareTo re-scans the shared
    // prefix, while the hash set scans each string once. Reverted.
    val base = df
      .filter(size(TextOps.tokens(col(textCol))) >= n)
      .select(col(idCol).as("__id"),
        TextOps.wordShingles(col(textCol), n).as("__set"))
      .withColumn("__n", size(col("__set")))
    base.persist()
    val post = base.select(col("__id"), col("__n"),
      explode(col("__set")).as("__s"))
    val dfc = post.groupBy("__s").agg(count(lit(1)).as("__df"))
    // per-doc rank in global (df asc, shingle asc) order — the window
    // partitions by doc id, so the frame is one document's shingles
    val ranked = post.join(dfc, "__s")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("__s"))))
    // prefix length |x| - floor(t|x|) + 1 ≥ the lemma's
    // |x| - ceil(t|x|) + 1 for EVERY t|x| (integral t|x| included,
    // where floor = ceil and the un-incremented form is one short —
    // e.g. t=1 exact duplicates would get a zero-length prefix) and
    // under IEEE multiply rounding; costs at most one extra posting
    // per doc over the tight bound
    val prefix = ranked.filter(
      col("__rn") <= col("__n") - floor(col("__n") * lit(threshold)) + 1)
    val cand = prefix.select(col("__id").as("id_a"), col("__s"),
        col("__n").as("__na"), col("__rn").as("__pa"))
      .join(prefix.select(col("__id").as("id_b"), col("__s"),
        col("__n").as("__nb"), col("__rn").as("__pb")), "__s")
      .filter(col("id_a") < col("id_b"))
      // size filter with 1-gram slack (admit-only under fp rounding)
      .filter(col("__nb").cast("double") >= col("__na") * lit(threshold) - 1.0 &&
        col("__na").cast("double") >= col("__nb") * lit(threshold) - 1.0)
      // PPJoin positional filter (Xiao et al. VLDB'08): jac ≥ t needs
      // overlap O ≥ t(|x|+|y|)/(1+t), and a match at canonical
      // positions (px, py) bounds O ≤ 1 + min(|x|−px, |y|−py) because
      // the shared suffixes start at the match (positions follow the
      // same global (df, shingle) order in every doc). The FIRST
      // shared shingle of a qualifying pair sits inside both prefixes
      // AND passes this bound, so keeping a pair when ANY of its
      // matching rows passes loses nothing; the −1.0 slack makes fp
      // rounding admit-only (reject ⇒ strictly below the true bound)
      .filter((lit(1.0) +
          least(col("__na") - col("__pa"), col("__nb") - col("__pb"))
            .cast("double")) >=
        (col("__na") + col("__nb")).cast("double") *
          lit(threshold / (1.0 + threshold)) - 1.0)
      .select("id_a", "id_b").distinct()
      // spread the verify: the surviving pair frame is tiny in BYTES
      // (two longs per row) so AQE coalesces it to 1-2 partitions,
      // but the per-row cost downstream is an exact shingle-set
      // intersect — the stage that dominates the whole family
      // (measured 2 tasks × ~2 s on 32 idle cores at sf0.1). A
      // round-robin repartition of the id pairs costs a KB-scale
      // shuffle and buys full-width parallelism for the verify.
      // (Round-17 probed pinning BOTH sides of the verify joins at the
      // session width to defeat AQE's post-join coalescing: REJECTED
      // on A/B — q324 +1.1 s, q316 +0.5 s, q348 +0.4 s — AQE already
      // converts these joins to broadcast at runtime, so the explicit
      // keyed exchanges were pure added shuffle.)
      .repartition(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
    val out = cand
      .join(base.select(col("__id").as("id_a"), col("__set").as("__sa"),
        col("__n").as("__na")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__set").as("__sb"),
        col("__n").as("__nb")), "id_b")
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("__jac", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .filter(col("__jac") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("__inter").cast(LongType).as("inter_size"),
        col("__na").cast(LongType).as("size_a"),
        col("__nb").cast(LongType).as("size_b"),
        round(col("__jac"), 4).as("jaccard"))
      .transform(graft.state.Checkpoints.stable)
    base.unpersist(blocking = false)
    out
  }

  /** Winnowing candidate pairs (the MOSS pipeline end-to-end): docs
    * sharing at least `minShared` DISTINCT winnowing fingerprint
    * hashes ([[graft.text.TextOps.winnowFingerprints]]). The
    * fingerprint set is position-local, so unlike MinHash (a global
    * sketch) a pair surfaces when ANY sufficiently long run is shared
    * — the detector behind plagiarism/citation finding, and the fuzzy
    * complement of the exact-substring span family (q84/q91): spans
    * need verbatim runs anchored at n-gram boundaries; winnowing's
    * guarantee is per-window and the match count grades overlap size.
    *
    * Scale shape — posting-list join, never all-pairs: distinct
    * (hash, doc) postings self-join on the 8-byte-key hash (the only
    * corpus-sized shuffle); `maxDf` drops fingerprints appearing in
    * more than that many docs (boilerplate runs — the q166 cap
    * argument: a dropped posting can only LOWER a pair's count, so a
    * capped run is a conservative subset; the default None is exact).
    * Fingerprint density is ~2/(w+1) of grams, so the posting frame
    * is a constant fraction of the token stream.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, w: Int = 4, minShared: Long = 2L,
                  maxDf: Option[Long] = None): DataFrame = {
    require(minShared >= 1, "minShared must be at least 1")
    val fp = graft.text.TextOps.winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("__id"), col("fp_hash").as("__h"))
      .distinct()
    val joinable = maxDf match {
      case Some(cap) =>
        val hot = fp.groupBy("__h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select("__h")
        fp.join(hot, Seq("__h"), "left_anti")
      case None => fp
    }
    joinable.select(col("__id").as("id_a"), col("__h"))
      .join(joinable.select(col("__id").as("id_b"), col("__h")), "__h")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Similar-document search: the corpus rows most Jaccard-similar to
    * ONE query text — the "find the near-dups of this document"
    * lookup every curation investigation runs after the histogram
    * (q122) says duplication exists. The query's shingle set rides as
    * a LITERAL in a map-only scan projection (no join, no shuffle of
    * corpus text); `minJaccard` prunes before the top-k, which plans
    * as TakeOrderedAndProject — per-partition bounded heaps, k rows
    * to the driver, never a global sort. Rank is on the 4-decimal
    * score with an id tie-break (the q121 contract: rank consistency
    * IS output-value consistency).
    *
    * For REPEATED lookups against a 100 TB corpus, prune the scan with
    * the persisted [[minhashSignatures]]/[[lshBands]] state instead:
    * band the query, semi-join its band keys against the stored band
    * frame, and verify only the candidates — the exact shape
    * [[incrementalDedup]] uses for batch admission.
    */
  def searchByText(df: DataFrame, idCol: String, textCol: String,
                   queryText: String, k: Int, minJaccard: Double = 0.05,
                   shingleLen: Int = 3): DataFrame = {
    val qTokens = queryText.trim.split("\\s+").toSeq
    require(qTokens.size >= shingleLen,
      s"query must have at least $shingleLen tokens")
    val qShingles = qTokens.sliding(shingleLen).map(_.mkString(" ")).toSeq.distinct
    val qLit = typedlit(qShingles)
    df.filter(size(TextOps.tokens(col(textCol))) >= shingleLen)
      .select(col(idCol),
        round(jaccard(TextOps.wordShingles(col(textCol), shingleLen), qLit), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("jaccard").desc, col(idCol).asc)
      .limit(k)
  }

  /** Portable Kirsch–Mitzenmacher MinHash mins per id, one wide row of
    * `numPerms` BIGINT columns `__v0..__v{numPerms-1}` — ONE md5 per
    * distinct n-token shingle split into (h1: 60-bit, h2: 52-bit)
    * halves; perm p's hash is h1 + p·h2, overflow-free int64 in both
    * engines (h1 < 2^60, p·h2 < 128·2^52 = 2^59), and the per-perm
    * minima are codegen'd `min` aggregates over the shingle stream —
    * never an interpreted per-(perm, shingle) lambda (the md5-per-perm
    * form measured 62 s at sf0.1; this form ~5 s). Replays verbatim in
    * SQL (`('0x'||substr(md5(g),1,15))::UBIGINT` etc. — the q324/q330
    * oracles), so sketch, band keys, and candidates are
    * engine-portable. Docs with fewer than n tokens are absent.
    *
    * K-M perms are CORRELATED across p (Kirsch & Mitzenmacher 2006
    * prove the Bloom-filter case; for MinHash the argmin shingle is
    * often stable in p) — cheap to compute, but backtest before
    * trusting (q324 measures the realized-catch deficit and candidate
    * amplification vs the independent-perm S-curve).
    */
  def kmMinhashMins(df: DataFrame, idCol: String, textCol: String,
                    shingleLen: Int = 3, numPerms: Int = 128): DataFrame = {
    // enforce the int64 no-overflow envelope, don't just document it
    // (ADVICE r14): h1 + p·h2 needs p·h2 < 2^63 − 2^60, and h2 < 2^52,
    // so p ≤ 1024 keeps p·h2 ≤ 2^62 — a larger caller value would
    // silently wrap and corrupt the sketch instead of failing
    require(numPerms > 0 && numPerms <= 1024,
      s"kmMinhashMins: numPerms must be in [1, 1024] (got $numPerms) — " +
        "beyond 1024 the h1 + p*h2 permutation hash overflows int64")
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val hs = df
      .filter(size(TextOps.tokens(col(textCol))) >= shingleLen)
      // spread the md5 + numPerms-way min work across the full width
      // BEFORE exploding: a single-split parquet otherwise computes
      // the whole sketch in ONE task (measured: 1.7 s of q330's 3.4 s
      // at sf0.1), and the groupBy below reuses this partitioning so
      // the repartition replaces — not adds to — the agg exchange
      .repartition(nParts, col(idCol))
      .select(col(idCol),
        explode(TextOps.wordShingles(col(textCol), shingleLen)).as("__g"))
      .withColumn("__m", md5(col("__g")))
      .select(col(idCol),
        expr("CAST(conv(substring(__m, 1, 15), 16, 10) AS BIGINT)")
          .as("__h1"),
        expr("CAST(conv(substring(__m, 16, 13), 16, 10) AS BIGINT)")
          .as("__h2"))
    val minCols = (0 until numPerms).map(p =>
      min(col("__h1") + lit(p.toLong) * col("__h2")).as(s"__v$p"))
    hs.groupBy(idCol).agg(minCols.head, minCols.tail: _*)
  }

  /** The `(id, band, key)` frame for [[kmMinhashMins]] output at a
    * (rowsPerBand, bands) split: band i's key is the md5 of the
    * comma-joined mins `__v{i·r}..__v{i·r+r-1}` in perm order —
    * byte-identical to the oracle's
    * `md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p))`.
    */
  def kmBandKeys(mins: DataFrame, idCol: String,
                 rowsPerBand: Int, bands: Int): DataFrame = {
    // the band split must fit inside the sketch that was built
    // (ADVICE r14): band i reads __v{i·r}..__v{i·r+r−1}, so r·b
    // beyond the sketch width would resolve to missing columns
    require(rowsPerBand > 0 && bands > 0,
      s"kmBandKeys: rowsPerBand ($rowsPerBand) and bands ($bands) " +
        "must be positive")
    val width = mins.columns.count(_.startsWith("__v"))
    require(rowsPerBand.toLong * bands <= width,
      s"kmBandKeys: rowsPerBand*bands = ${rowsPerBand * bands} exceeds " +
        s"the sketch width $width (numPerms of the kmMinhashMins input)")
    val bandKeys = (0 until bands).map(i =>
      md5(concat_ws(",", (0 until rowsPerBand).map(j =>
        col(s"__v${i * rowsPerBand + j}").cast(StringType)): _*)))
    mins.select(col(idCol),
      posexplode(array(bandKeys: _*)).as(Seq("__b", "__k")))
  }

  // ------------------------------------------------------------------
  // Incremental MinHash (batch vs stored-signature corpus)
  // ------------------------------------------------------------------

  /** (id, signature) frame for persisting alongside a corpus — the
    * state the incremental path reads instead of re-shingling 100 TB.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerms: Int = 64): DataFrame =
    df.filter(size(TextOps.tokens(col(textCol))) >= shingleLen)
      .select(col(idCol),
        minhashSignature(TextOps.wordShingles(col(textCol), shingleLen), numPerms)
          .as("__sig"))

  /** Jaccard estimate from two MinHash signatures: the fraction of
    * agreeing permutations (unbiased estimator, stderr ≈
    * 1/sqrt(numPerms)).
    */
  def sigJaccardEst(a: Column, b: Column): Column =
    // one codegen'd agreement loop per pair (SigAgreeCount: NULL
    // elements never agree, a length mismatch counts over the shorter
    // prefix), closed by the int→double cast divide
    graft.expressions.SimilarityExpressions.sig_agree_count(a, b)
      .cast("double") / size(a)

  /** Incremental near-dup admission: keep the incoming rows that are
    * near-dups of NEITHER the existing corpus NOR a kept earlier row
    * of the same batch. The corpus participates ONLY through its
    * stored (id, signature) frame — its text is never read, shingled,
    * or shuffled; this is the daily-increment shape for a 100 TB
    * corpus where re-running full LSH per batch is impossible.
    * Verification uses the signature-agreement Jaccard estimate
    * (stderr ≈ 1/√numPerms), the standard incremental trade-off.
    *
    * Returns (admitted incoming rows, their signatures to append to
    * the corpus state, release handle). Both outputs are lazy. The
    * handle unpersists what this call CREATED — the batch frame (rows
    * plus signatures), at the Dataset level so its CacheManager entry
    * goes too, and the cut of verified pairs the over-the-limit branch
    * makes — so a long-running stream or batch loop does not accumulate
    * InMemoryRelations on the driver. The corpus signatures are never
    * cached here, so a caller-owned corpus cache is never touched.
    * Call it only AFTER both outputs are materialized (written or cut,
    * e.g. with [[graft.state.Checkpoints.stableThenRelease]]):
    * releasing earlier makes the next action recompute the batch.
    *
    * Materialization strategy: one batch cache and ONE pass over the
    * corpus signatures, whose band rows keep their signature, meet two
    * batch-sized broadcasts (the batch's band keys, and its signatures
    * by id) and are verified in the same shuffle-free pipeline (batch
    * vs corpus and batch vs batch); for small verified pair sets the
    * rejected ids are computed on the driver and each output is one
    * narrow job filtered by an id predicate — see
    * [[graft.pipelines.CorpusPipeline.admitBatch]]. On a micro-batch
    * the cost is driver time between jobs, so the job count is what
    * this shape minimizes. Every frame with several consumers is
    * materialized before they run: lazily persisted frames raced by
    * the CC gate's consumers re-ran the sig→band→verify pipeline a
    * variable number of times, 4 s to 31 s for the same query in the
    * same fresh JVM (see git rev e579ea9).
    * Rows that carry no signature (fewer than `shingleLen` tokens, or
    * NULL text) cannot be near-dups and are admitted unconditionally
    * (parity with the full path, which keeps them as pairless nodes).
    */
  def incrementalDedup(
      corpusSigs: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3, numPerms: Int = 64,
      bands: Int = 16, threshold: Double = 0.7): (DataFrame, DataFrame, () => Unit) =
    graft.pipelines.CorpusPipeline.admitBatch(corpusSigs, incoming, idCol,
      // coalesce catches NULL text: tokens(NULL) is NULL
      eligible = coalesce(size(TextOps.tokens(col(textCol))), lit(0)) >= shingleLen,
      state = Seq("__sig" -> minhashSignature(
        TextOps.wordShingles(col(textCol), shingleLen), numPerms)),
      payload = "__sig",
      bandRows = df => lshBands(df, "__id", "__p", bands, numPerms),
      verify = (a, b) => sigJaccardEst(a, b) >= threshold)

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over word tokens: bit b of the output is 1 iff the
    * sum over tokens of ±1 (per bit b of each token's xxhash64) is
    * positive. Procedural bit loop → Scala UDF (still a pure,
    * shuffle-free map; ~64×|tokens| ops per doc).
    */
  private def simhash64(tokens: Seq[String]): Long = {
    if (tokens == null || tokens.isEmpty) return 0L
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val h = scala.util.hashing.MurmurHash3.stringHash(t).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(t.reverse).toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  def withSimhash(df: DataFrame, textCol: String, outCol: String = "simhash"): DataFrame =
    df.withColumn(outCol, simhashUdf(TextOps.tokens(col(textCol))))

  /** Hamming distance between two 64-bit signatures (bit_count of xor). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs of any 64-bit signature column (SimHash, image
    * dHash, …): block on `maxHamming + 1` disjoint bit ranges of the
    * signature — a pair within Hamming distance ≤ maxHamming differs
    * in at most maxHamming blocks, so it MUST share at least one
    * identical block (pigeonhole) and the blocked join has full
    * recall — then verify with bit_count. The default maxHamming = 3
    * gives the classic four 16-bit quarters. Shuffles only
    * (block, key, id, signature). SCALE NOTE: larger maxHamming means
    * narrower blocks (64/(h+1) bits) whose keys collide more — at
    * corpus scale keep maxHamming small or pre-partition; the narrow
    * blocks are fine for validation-sized inputs.
    */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"need 0 <= maxHamming < 64, got $maxHamming")
    val nBlocks = maxHamming + 1
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    // first `rem` blocks get base+1 bits; offsets partition [0, 64)
    val widths = Seq.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val s2 = sigs.select(col(idCol), col(sigCol).as("__sig64"))
    val blocked = s2.select(col(idCol), col("__sig64"), posexplode(
      array((0 until nBlocks).map { q =>
        val mask = if (widths(q) == 64) -1L else (1L << widths(q)) - 1
        shiftright(col("__sig64"), offsets(q)).bitwiseAND(lit(mask))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "q", "col" -> "qkey"))
    val l = blocked.select(col("q"), col("qkey"),
      col(idCol).as("id_a"), col("__sig64").as("__sa"))
    val r = blocked.select(col("q"), col("qkey"),
      col(idCol).as("id_b"), col("__sig64").as("__sb"))
    l.join(r, Seq("q", "qkey"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hammingDist(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Directed cross variant of [[hammingPairs64]]: for every PROBE
    * signature, the STRICTLY-SMALLER-id build signatures within
    * `maxHamming` — the "is this new document a near-dup of anything
    * earlier" primitive behind incremental admission. Probe-side
    * bands drive the equi-join, so a small batch probing a large
    * admitted state shuffles only batch-band-key matches, never the
    * state. Output (id_earlier, id_probe, hamming), complete by the
    * same pigeonhole argument as the self-join form.
    */
  def hammingPairsAgainst(probe: DataFrame, build: DataFrame,
                          idCol: String, sigCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"need 0 <= maxHamming < 64, got $maxHamming")
    val nBlocks = maxHamming + 1
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    val widths = Seq.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blocked(df: DataFrame) = df
      .select(col(idCol), col(sigCol).as("__sig64"))
      .select(col(idCol), col("__sig64"), posexplode(
        array((0 until nBlocks).map { q =>
          val mask = if (widths(q) == 64) -1L else (1L << widths(q)) - 1
          shiftright(col("__sig64"), offsets(q)).bitwiseAND(lit(mask))
        }: _*)))
      .withColumnsRenamed(Map("pos" -> "q", "col" -> "qkey"))
    val b = blocked(build).select(col("q"), col("qkey"),
      col(idCol).as("id_earlier"), col("__sig64").as("__sa"))
    val p = blocked(probe).select(col("q"), col("qkey"),
      col(idCol).as("id_probe"), col("__sig64").as("__sb"))
    b.join(p, Seq("q", "qkey"))
      .filter(col("id_earlier") < col("id_probe"))
      .withColumn("hamming", hammingDist(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxHamming)
      .select("id_earlier", "id_probe", "hamming")
      .distinct()
  }

  /** SimHash near-dup pairs — [[hammingPairs64]] over [[withSimhash]]
    * signatures.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs64(
      withSimhash(df.select(col(idCol), col(textCol)), textCol)
        .select(col(idCol), col("simhash")),
      idCol, "simhash", maxHamming)

  /** ENGINE-PORTABLE 64-bit SimHash signatures: each token's 64 hash
    * bits are two u32 halves of md5(token) (hex chars 1-8 → bits
    * 0-31, chars 9-16 → bits 32-63), so an independent SQL engine
    * replays the signature bit-for-bit — [[withSimhash]]'s murmur
    * bits are JVM-only and can only be oracle-checked against pinned
    * literals. Bit b of the output is 1 iff STRICTLY more tokens set
    * bit b than clear it (2·ones_b > n_tokens). Docs with no tokens
    * (NULL/blank text) carry no signature and are absent.
    *
    * Scale shape: ONE fused map-only pass per document
    * ([[graft.expressions.Md5Simhash64]] — tokenize, md5, 64-bit
    * tally, majority close, no explode and no shuffle at all). Output
    * is one row per doc — the input to [[hammingPairs64]]'s pigeonhole
    * blocking, whose candidates are COMPLETE by construction (a
    * hamming ≤ h pair must share one of h+1 exact blocks), unlike
    * banded LSH whose recall is probabilistic.
    */
  def md5SimhashSigs(df: DataFrame, idCol: String, textCol: String,
                     outCol: String = "simhash"): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.expressions.Md5Simhash64.column(col(textCol)).as(outCol))
      .filter(col(outCol).isNotNull)

  /** Near-dup pairs on the PORTABLE md5 SimHash ([[md5SimhashSigs]] →
    * [[hammingPairs64]]): the fully-oracle-checkable sibling of
    * [[simhashPairs]] — candidates complete by pigeonhole, exact
    * hamming verify, and a SQL oracle can recompute the entire chain.
    */
  def md5SimhashPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingPairs64(md5SimhashSigs(df, idCol, textCol), idCol, "simhash",
      maxHamming)

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup
  // ------------------------------------------------------------------

  /** Cosine similarity of two float/double array columns, computed in
    * double — native codegen'd expression (graft.expressions.CosineSim):
    * one fused primitive loop per pair instead of three interpreted
    * higher-order-function passes.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.SimilarityExpressions.cosine_sim(a, b)

  /** Exact embedding near-dup pairs above a cosine threshold — the
    * quadratic baseline. At scale, block first (`lshCosinePairs`).
    */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Random-hyperplane LSH blocking for cosine near-dup: `nBits`-bit
    * signature from fixed-seed pseudo-random hyperplanes, block on the
    * signature, verify exact cosine within blocks. Misses across-block
    * pairs by design (tunable via nBits); the scale path.
    */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nBits: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = cosineLshSignature(col(vecCol), nBits, seed)
    val tagged = df.select(col(idCol), col(vecCol), sig.as("__bucket"))
    val a = tagged.select(col("__bucket"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = tagged.select(col("__bucket"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, "__bucket").filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .distinct()
  }

  /** OR-amplified banded cosine LSH — the scale path for embedding
    * near-dup. `bands` independent signatures of `bitsPerBand` sign
    * bits each; a pair is a candidate if ANY band matches, then exact
    * cosine verifies inside the candidate set. Miss probability for a
    * pair at angle θ is (1 - (1-θ/π)^r)^B — tune (B, r) to the
    * corpus's similarity structure: clustered near-dup corpora (the
    * 100 TB case) need few wide bands; the near-uniform synthetic test
    * data needs many narrow ones to reach full recall at the
    * threshold. Only (bandKey, id) rows shuffle for candidate
    * generation — never vectors.
    */
  def lshCosinePairsBanded(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int = 64, bitsPerBand: Int = 6, seed: Long = 42L): DataFrame = {
    // materialization barrier shared by the banding and both verify
    // branches (same CollapseProject/ReuseExchange reasoning as
    // minhashLshPairs above); width-pinned so the bands×bits
    // hyperplane dot products above it don't run on the ONE partition
    // AQE coalesces a KB-scale exchange to (round-16 profile: a 1.8 s
    // single-task stage at 96×6)
    val tagged = graft.Tables.pinnedRepartition(
      df.select(col(idCol), col(vecCol)), col(idCol))
    val bandRows = tagged.select(col(idCol),
      explode(graft.expressions.SimilarityExpressions
        .hyperplane_bands(col(vecCol), bands, bitsPerBand, seed)).as("__band"))
    val l = bandRows.select(col("__band"), col(idCol).as("id_a"))
    val r = bandRows.select(col("__band"), col(idCol).as("id_b"))
    // only verified pairs are distinct'ed, not the candidate
    // multiset: collisions on near-uniform embeddings are mostly
    // non-duplicates, so skipping that shuffle wins (q51 at sf0.1/96
    // bands: 3.4 s → 2.3 s; see git rev e766bb7)
    val cands = l.join(r, "__band").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val a = tagged.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = tagged.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("cos", cosine(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .distinct()
  }

  /** Signed-random-projection signature: bit j = sign(v · h_j) where
    * h_j components are deterministic pseudo-random ±1 derived from
    * xxhash64(dim, j, seed) — no stored model, same hyperplanes on
    * every executor, pure expressions.
    */
  def cosineLshSignature(vec: Column, nBits: Int, seed: Long): Column = {
    // unrolled at plan-build time: nBits is a Scala constant, so each
    // hyperplane's dot product is an independent codegen'd expression
    val bitCols = (0 until nBits).map { j =>
      val signed = zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
        when(xxhash64(i, lit(j), lit(seed)) % 2 === 0, x.cast(DoubleType))
          .otherwise(-x.cast(DoubleType)))
      val dot = aggregate(signed, lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }
}
