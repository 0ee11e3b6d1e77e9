package graft.queries

import graft.Tables
import graft.queries.OracleSql._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search and near-duplicate detection: int8 ANN and IVF
  * recall, embedding distances and drift, SimHash pair surfaces, LSH
  * band planners and backtests, and the streaming novelty queries that
  * admit documents in id-ordered batches against on-disk state.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The three id-ordered batches of the incremental queries: the
    * thirds of `doc_id` up to `mx`.
    */
  private def idThirds(mx: Long): Seq[Column] = Seq(
    col("doc_id") <= mx / 3,
    col("doc_id") > mx / 3 && col("doc_id") <= 2 * mx / 3,
    col("doc_id") > 2 * mx / 3)

  /** The three-batch novelty scaffold (q307, q314, q339, q345): admits
    * each of `docs`' [[idThirds]] in order with `admit(batch, batchNo,
    * stateDir)` against one temp state dir, then cuts
    * `verdicts(stateDir)`. The eager cut severs the lineage to the
    * state parquet, so the dir is deleted before the query returns —
    * Bench runs each query 3× per rep, and a kept dir would leak a
    * state copy per run (ADVICE r12).
    */
  private def thirdsNovelty(docs: DataFrame, prefix: String)(
      admit: (DataFrame, Long, String) => Unit)(
      verdicts: String => DataFrame): DataFrame = {
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    graft.TempTrees.withTempDir(prefix) { tmpRoot =>
      val dir = tmpRoot.toString + "/state"
      idThirds(mx).zipWithIndex.foreach { case (p, b) =>
        admit(docs.filter(p), b.toLong, dir)
      }
      verdicts(dir).transform(graft.state.Checkpoints.stable)
    }
  }

  /** A verdict's `is_novel` flag as the INTEGER the oracles close on. */
  private def novelAsInt: Column =
    when(col("is_novel"), 1).otherwise(0).cast(IntegerType).as("is_novel")

  val queries: Map[String, Q] = Map(
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

    // cross-source duplicate overlap matrix with a deterministic
    // "mirror" feed (every 5th doc relabeled) simulating a re-crawl;
    // normalized-digest pair join bounded by #sources fan-out
    "q224_cross_source_dups" -> ((s, d) => {
      val d0 = Tables.documents(s, d)
      val mirror = d0.filter(col("doc_id") % 5 === 0)
        .withColumn("source", lit("mirror"))
      graft.text.TextOps.crossSourceDuplicates(d0.unionByName(mirror))
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

    // JL ±1 random projection 64→16 on int8 codes with an exact-
    // integer distance-distortion audit over the first 20 vectors
    "q256_jl_projection" -> ((s, d) =>
      graft.similarity.Ann.jlProjectionReport(
        Tables.embeddings(s, d), "vec_id", "embedding",
        outDims = 16, pairIds = 20L)),

    // dedup planning: cluster-size distribution + the exact character
    // volume the non-keeper duplicates represent
    "q258_dedup_savings" -> ((s, d) =>
      graft.dedup.NearDup.dedupSavingsReport(
        Tables.documents(s, d), "doc_id", "text")),

    // greedy k-center coreset: 8 maximally-spread vectors — the
    // diverse eval-set primitive random sampling can't give
    "q269_kcenter_coreset" -> ((s, d) =>
      graft.similarity.Ann.kCenterSelect(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 8)),

    // the portable md5-SimHash near-dup pair surface itself (q264
    // consumes it as a graph): pigeonhole-blocked hamming ≤ 3 pairs
    // against the exact quadratic oracle — a blocking completeness
    // bug or one wrong signature bit is a hash mismatch
    "q289_simhash_pairs_portable" -> ((s, d) =>
      graft.dedup.NearDup.md5SimhashPairs(
        Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast(IntegerType).as("hamming"))),

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
    "q307_incremental_simhash_novelty" -> ((s, d) =>
      thirdsNovelty(Tables.documents(s, d), "q307sig") { (batch, b, dir) =>
        graft.streaming.StreamingOps.simhashDedupBatch(
          batch, b, "doc_id", "text", dir, maxHamming = 3)
      } { dir =>
        graft.streaming.StreamingOps.noveltyFromSimhashState(s, dir)
          .select(col("doc_id"), novelAsInt)
      }),

    // incremental exact-substring admission: the q311/q313 window-hash
    // index as a crawl gate — three id-ordered batches through
    // spanDedupBatch's state; a doc is novel iff NO 16-token window of
    // it appears in any smaller-id doc (order-free any-earlier rule,
    // replayable from the signature state alone)
    "q314_incremental_span_novelty" -> ((s, d) =>
      thirdsNovelty(Tables.documents(s, d).filter(col("text").isNotNull),
        "q314span") { (batch, b, dir) =>
        graft.streaming.StreamingOps.spanDedupBatch(
          batch, b, "doc_id", "text", dir, windowTokens = 16)
      } { dir =>
        graft.streaming.StreamingOps.noveltyFromSpanState(s, dir)
          .select(col("doc_id"), novelAsInt)
      }),

    // incremental TEMPLATE novelty: q331's layout digest as a crawl
    // gate through three id-ordered batches — a doc is novel iff no
    // smaller-id doc owns its layout shape (order-free any-earlier
    // rule; replay-idempotent); the gate that refuses the
    // ten-thousandth boilerplate-varied mirror word-level digests
    // admit as new
    "q339_incremental_template_novelty" -> ((s, d) =>
      thirdsNovelty(Tables.documents(s, d).filter(col("text").isNotNull),
        "q339tpl") { (batch, b, dir) =>
        graft.streaming.StreamingOps.templateDedupBatch(
          batch, b, "doc_id", "text", dir)
      } { dir =>
        graft.streaming.StreamingOps.noveltyFromTemplateState(s, dir)
          .select(col("doc_id"), novelAsInt)
      }),

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
    "q345_incremental_chunk_novelty" -> ((s, d) =>
      thirdsNovelty(Tables.documents(s, d).filter(col("text").isNotNull),
        "q345chunk") { (batch, b, dir) =>
        graft.streaming.StreamingOps.chunkDedupBatch(
          batch, b, "doc_id", "text", dir, chunkTokens = 16, overlap = 3)
      } { dir =>
        graft.streaming.StreamingOps.noveltyFromChunkState(s, dir)
          .select(col("doc_id"), col("chunk_id"), novelAsInt)
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
      graft.TempTrees.withTempDir("q351funnel") { tmpRoot =>
        val dirs = Seq("digest", "simhash", "span", "template", "chunk")
          .map(f => f -> (tmpRoot.toString + "/" + f)).toMap
        def perBatch(f: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit =
          idThirds(mx).zipWithIndex.foreach { case (p, b) =>
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
        graft.streaming.StreamingOps.admissionFunnel(families)
          .transform(graft.state.Checkpoints.stable)
      }
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

    // kNN label-agreement audit over the embeddings' label column:
    // exact int8-lattice 5-NN on a deterministic 1-in-7 query sample,
    // majority-share-the-label counts per label — the label-noise
    // screen run before training a classifier on the corpus
    "q306_knn_label_agreement" -> ((s, d) =>
      graft.similarity.Ann.knnLabelAgreement(
        Tables.embeddings(s, d), "vec_id", "embedding", "label",
        k = 5, sampleMod = 7)),

    // per-label centroid drift between md5 halves on the int8 code
    // lattice — exact integer sums, 1/n factors cancel in the cosine
    "q266_semantic_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val codes = graft.similarity.Ann.quantizeInt8(emb, "vec_id", "embedding")
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      graft.operators.AnalyticsOps.semanticDrift(
        codes, "label", "vec_id", "qvec")
    })
  )

  val oracle: Map[String, String] = Map(
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

    // the q89 int8 codes replayed as SCALAR rows (unnest by
    // generate_series + grouped max/sum — no list_transform /
    // list_aggregate, whose element handling is engine-version
    // territory), prefix and full integer L2, row_number twins of the
    // bounded-heap top-k, LEFT-join intersection, integer-ppm closing
    "q225_prefix_recall" ->
      raw"""WITH ${sq8Codes("embeddings")}, scored AS (
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

    // the q264 signature replay cut at the pair surface: exact
    // quadratic hamming over the recomputed md5 signatures
    "q289_simhash_pairs_portable" -> {
      s"""WITH ${simhashSigCtes("documents WHERE text IS NOT NULL")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |    AS INTEGER) AS hamming
         |FROM sig a, sig b
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |""".stripMargin
    },

    // the q231 exact quadratic Jaccard, counted at three thresholds
    // on the UNROUNDED integer-ratio value (identical bits both
    // engines, so the literal comparisons agree)
    "q291_dup_threshold_curve" ->
      raw"""WITH $shingles, j AS (
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

    // exact quadratic pair enumeration at jac >= 0.25 (the engine's
    // prefix filter post-checks the same double comparison), the
    // identical squaring ladder — every multiply/subtract IEEE
    // correctly rounded, so the e9 lattice values match bit for bit
    "q316_lsh_band_planner" -> {
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
      s"""WITH ${shinglesWrapped("documents")}, j AS MATERIALIZED (
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

    // the q98 salted-md5 rank replayed as a naive global row_number,
    // disjoint (2k, 2k+1) pairing, 4-gram set Jaccard per pair, the
    // same decile clamp and e6 lattice sum
    "q318_pair_diversity" -> {
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

    // the q310 signature replay with the candidate flag: exact
    // quadratic hamming <= 3, the two rejection legs as DISTINCT
    // projections, the same CASE precedence
    "q328_eval_dedup_sample" -> {
      s"""WITH fl AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|evalsamp'),
         |      1, 8))::UBIGINT % 7 = 0 AS cand
         |  FROM documents WHERE text IS NOT NULL
         |), ${simhashSigCtes("fl")}, cp AS MATERIALIZED (
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

    // the sketch replayed end to end: the same one-md5-per-shingle
    // (h1, h2) split, the same h1 + p*h2 int64 perms, band keys as
    // md5 of the p-ordered comma-joined mins, candidate self-join,
    // q316's squaring ladder for the expectation
    "q324_lsh_backtest" -> {
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
      s"""WITH ${shinglesWrapped("documents")}, j AS MATERIALIZED (
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
      s"""WITH ${shinglesWrapped("documents")}, hs AS MATERIALIZED (
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

    // q324's oracle restricted to the same 1-in-2 salted doc sample
    // (the md5-u32 parity filter in the sh CTE); everything else —
    // sketch, bands, candidates, ladder — replays verbatim
    "q336_lsh_backtest_sampled" -> {
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
         |    $wrappedBigrams
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

    // q80-digest cross counts + the full md5-SimHash signature replay
    // (the q289 machinery) restricted to split-crossing pairs; md5
    // split twin of hashBucket
    "q305_split_leakage" -> {
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
         |), ${simhashSigCtes("sp")}, np AS (
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
      s"""WITH ${simhashSigCtes("documents WHERE text IS NOT NULL")}, dup AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |)
         |SELECT s.doc_id,
         |  CAST(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS is_novel
         |FROM sig s LEFT JOIN dup d USING (doc_id)""".stripMargin
    },

    // span-STRING replay of the any-earlier rule: a doc's verdict is
    // the min first-owner over its 16-token spans — batching invisible
    // by construction, so the oracle needs no batch structure at all
    "q314_incremental_span_novelty" -> {
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

    // the q306 scalar int8 replay: md5-hex-ordered 8-cell codebook,
    // argmin (distance, cell) assignment, (distance, cell)-ranked
    // probe order, exact (distance, id)-tied top-10 truth, budgets
    // from VALUES — recall closes as the truncating ppm BIGINT
    "q344_ivf_nprobe_sweep" ->
      raw"""WITH ${sq8Codes("embeddings")}, cent AS (
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

    // fp32 truth replayed on the q29 round-4 cosine key with id
    // ties; the int8 shortlist rank via the q306 scalar int8 replay
    // and (distance, id)-tied row_number; oversamples from VALUES —
    // recall closes as the truncating ppm BIGINT
    "q349_int8_oversample_recall" ->
      raw"""WITH fp AS (
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
        |), ${sq8Codes("embeddings")}, pd AS (
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

    // q334's chunker + the order-free min-owner rule on the
    // (doc, chunk) pair key: batching is invisible by construction,
    // so the oracle is one global min-per-digest join. The min is a
    // tuple-valued min over ROW(doc_id, chunk_id) — lexicographic like
    // the engine's struct min — NOT an arithmetic doc*2^20+chunk
    // packing, which silently diverges once a doc has chunk_id ≥ 2^20
    // (~13.6M tokens at stride 13) or doc_id ≥ 2^43 (ADVICE r15)
    "q345_incremental_chunk_novelty" ->
      raw"""WITH toked AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text, $ws), '\s+') AS toks
        |  FROM documents WHERE length(trim(text, $ws)) > 0
        |), ch AS (
        |${chunkWindows("toked")}
        |), fo AS (
        |  SELECT h, min(ROW(doc_id, chunk_id)) AS f
        |  FROM ch GROUP BY 1
        |)
        |SELECT ch.doc_id, ch.chunk_id,
        |  CAST(CASE WHEN fo.f >= ROW(ch.doc_id, ch.chunk_id)
        |       THEN 1 ELSE 0 END AS INTEGER) AS is_novel
        |FROM ch JOIN fo USING (h)""".stripMargin,

    // each family's global any-earlier verdict replayed (q308's
    // normalize digest, q307's signature machinery, q314's span
    // strings, q339's layout shape, q345's pair-key chunker), batch
    // assigned by the shared id cut, counts + truncating admit ppm
    // per (family, batch)
    "q351_admission_funnel" -> {
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
         |  SELECT doc_id, count(*) AS n, $simhashBitSums
         |  FROM sh_h GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $simhashLo AS slo, $simhashHi AS shi FROM sh_agg
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
         |${chunkWindows("ck_toked")}
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

    // q324's quadratic pair replay (float >= 0.25 pair set, the
    // engine's prefix filter is exact-complete) + q289's portable
    // simhash signature replay; the true/band split is the pure
    // integer predicate 3i >= na+nb on both sides
    "q347_simhash_radius_backtest" -> {
      s"""WITH ${shinglesWrapped("documents")}, j AS MATERIALIZED (
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
         |  SELECT doc_id, count(*) AS n, $simhashBitSums
         |  FROM hb GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $simhashLo AS lo, $simhashHi AS hi FROM agg
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
      val samp = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) " +
        "|| '|sbs'), 1, 8))::UBIGINT % 2 = 0"
      s"""WITH ${shinglesWrapped(s"documents WHERE $samp")}, j AS MATERIALIZED (
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
         |  SELECT doc_id, count(*) AS n, $simhashBitSums
         |  FROM hb GROUP BY 1
         |), sig AS MATERIALIZED (
         |  SELECT doc_id, $simhashLo AS lo, $simhashHi AS hi FROM agg
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

    // the signature replay with the exact quadratic hamming at <=7,
    // split-crossing filter, integer histogram
    "q310_split_distance_histogram" -> {
      s"""WITH sp AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'),
         |      1, 8))::UBIGINT % 10 = 9 AS is_eval
         |  FROM documents WHERE text IS NOT NULL
         |), ${simhashSigCtes("sp")}, cp AS (
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

    // the q225 scalar-unnest int8 replay with every vector as corpus
    // and the 1-in-7 id sample as queries; row_number 5-NN, label
    // joins, the identical majority predicate
    "q306_knn_label_agreement" ->
      raw"""WITH base AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |), ${sq8Codes("base")}, scored AS (
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
        |FROM m JOIN c USING (label)""".stripMargin
  )
}
