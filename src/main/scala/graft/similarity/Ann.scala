package graft.similarity

import graft.dedup.NearDup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query
  * set against the corpus, one corpus scan, per-query top-k via window
  * rank. Scale path: LSH-bucketed search (multi-probe over hyperplane
  * signatures) and a coarse-quantizer IVF variant — both bound the
  * scanned fraction of the corpus instead of reading all of it.
  */
object Ann {

  /** Shared top-k finalization: bounded-heap aggregate per query
    * (partial aggregation keeps <= k rows per query per map partition)
    * exploded to (query_id, rank, neighbor_id, score) rows.
    */
  private def finishTopK(scored: DataFrame,
                         idType: org.apache.spark.sql.types.DataType,
                         k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.expressions.TopKAgg.topKFor(idType, k)(
        col("neighbor_id"), col("score")).as("__topk"))
      .select(col("query_id"), posexplode(col("__topk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("score"))


  /** Brute-force cosine top-k: every query vector against the whole
    * corpus. Queries are broadcast (they are few); the corpus is
    * scanned once, never shuffled until the final per-query top-k
    * (which shuffles only (query_id, corpus_id, score) triples).
    *
    * Deterministic: rank on (rounded score desc, corpus id asc).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    // the shuffle carries k x #queries rows — the window-rank idiom
    // would shuffle every scored row
    finishTopK(scored, corpus.schema(cId).dataType, k)
  }

  /** Two-stage ANN: int8 candidate scan + fp32 rerank — the scan-side
    * consumer [[quantizeInt8]] was built for. Stage 1 scans the 4×
    * smaller code arrays (cosine is SCALE-INVARIANT, so codes score
    * directly against the fp32 query — the per-vector scale never
    * loads) and keeps `k·oversample` candidates per query through the
    * bounded-heap aggregate; stage 2 fetches fp32 vectors for ONLY
    * those candidates and reranks exactly. The output matches
    * [[bruteForceTopK]] whenever the true top-k survives the candidate
    * stage — the safety margin is the quantization error (≲1e-3
    * cosine at d=64) versus the score gap at rank k·oversample, and
    * the q95 oracle asserts EXACT equality with the exact top-k.
    * At 100 TB the corpus pass reads codes instead of vectors (4× scan
    * bandwidth), and the rerank join touches only
    * |queries|·k·oversample rows.
    */
  def bruteForceTopKInt8(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, oversample: Int = 4): DataFrame = {
    val state = quantizeInt8(corpus, cId, cVec)
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv")))
    // int8 codes feed cosine_sim directly (integral-array support,
    // round 17) — same values, no interpreted per-element cast lambda
    val codes = state.select(col(cId).as("neighbor_id"),
      col("qvec").as("__cv8"))
    val cand = q.crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", NearDup.cosine(col("__qv"), col("__cv8")))
    val candidates = finishTopK(cand, corpus.schema(cId).dataType, k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = candidates
      .join(corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
        "neighbor_id")
      .join(q, "query_id")
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    finishTopK(rescored, corpus.schema(cId).dataType, k)
  }

  /** LSH-bucketed ANN: corpus and queries get an `nBits` hyperplane
    * signature; each query probes its own bucket plus all buckets at
    * Hamming distance ≤ `probeHamming` (multi-probe widens recall).
    * Only the probed buckets are scanned — with balanced buckets the
    * scan cost drops by ~2^nBits / probes.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nBits: Int = 8, probeHamming: Int = 1,
      seed: Long = 42L): DataFrame = {
    val cSig = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"),
      NearDup.cosineLshSignature(col(cVec), nBits, seed).as("__bucket"))
    // enumerate probe buckets: signature XOR every mask with ≤ probeHamming
    // bits — all C(nBits, d) combinations for each d, so recall matches
    // the documented "all buckets at Hamming distance ≤ probeHamming"
    // at any probe depth (not just ≤ 2)
    val masks: Seq[Long] =
      (0 to math.min(probeHamming, nBits)).flatMap { d =>
        (0 until nBits).combinations(d).map(_.foldLeft(0L)((m, i) => m | (1L << i)))
      }
    val qSig = broadcast(queries
      .select(col(qId).as("query_id"), col(qVec).as("__qv"),
        NearDup.cosineLshSignature(col(qVec), nBits, seed).as("__qsig"))
      .withColumn("__bucket",
        explode(array(masks.map(m => col("__qsig").bitwiseXOR(lit(m))): _*))))
    val scored = qSig.join(cSig, "__bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    // multi-probe can surface the same (query, neighbor) pair from
    // several buckets — dedup before ranking so a duplicate can't
    // occupy two of the k slots. HONEST COST NOTE: this distinct
    // shuffles the (partially map-side-deduped) candidate multiset, so
    // the <= k-rows-per-query bound holds only for the aggregate AFTER
    // it; the IVF paths avoid the extra pass structurally (one cell
    // per corpus row). Folding id-dedup into TopKAgg's merge would
    // remove it — candidate scores for equal pairs are identical.
    finishTopK(scored.select("query_id", "neighbor_id", "score").distinct(),
      corpus.schema(cId).dataType, k)
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k corpus rows whose cosine lands in the HALF-OPEN band
    * [simFloor, dupCeil) — similar enough to be informative negatives,
    * below the near-duplicate ceiling that would make them false
    * negatives (the standard pair-mining recipe behind dense-retriever
    * and embedding-model training sets).
    *
    * Same scale shape as [[bruteForceTopK]]: queries broadcast, one
    * corpus scan, band filter BEFORE the bounded-heap top-k — so the
    * only shuffle carries ≤ k rows per query. Both band edges compare
    * against the 4-decimal-rounded score, making the boundary
    * engine-exact (the q94 threshold-margin contract).
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, simFloor: Double, dupCeil: Double): DataFrame = {
    require(simFloor < dupCeil, "band must be non-empty: simFloor < dupCeil")
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
      .filter(col("score") >= simFloor && col("score") < dupCeil)
    finishTopK(scored, corpus.schema(cId).dataType, k)
  }

  /** IVF-style coarse quantizer: `nCells` centroids picked
    * deterministically (the corpus vectors whose id hash is smallest —
    * a seeded reservoir standing in for k-means; exchangeable with a
    * trained codebook), corpus assigned to nearest centroid, queries
    * probe the `nProbe` nearest cells.
    *
    * The codebook is collected to the driver (nCells rows) and inlined
    * as an array literal, so cell assignment is a pure map-side argmax
    * expression — NO corpus exchange at index build. The earlier form
    * (crossJoin×nCells + row_number window over a per-row partition)
    * shuffled the whole corpus nCells times over; at 100 TB that window
    * was the index-build bottleneck. Argmax = `array_max` over
    * `struct(similarity, -cell)`: struct ordering gives max similarity
    * first, then the LOWEST cell on ties — exactly the old window's
    * `orderBy(dist desc, cell asc)` contract on the ASSIGNMENT side.
    * (CosineSim returns 0.0 — never NaN — for zero/degenerate
    * vectors, so no NaN-ordering contract exists on either side;
    * degenerate vectors simply score 0 against every centroid and
    * land in the lowest-numbered cell.)
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    // one TakeOrdered pass picks the codebook; nCells rows → driver
    val cents: Seq[(Long, Seq[Float])] = corpus
      .select(col(cId).as("cent_id"), col(cVec).as("cent_vec"),
        xxhash64(col(cId)).as("__h"))
      .orderBy("__h").limit(nCells)
      .select(col("cent_vec"))
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](0)) }.toSeq
    val centLit = typedlit(cents) // array<struct<_1: cell, _2: vec>>

    // assign corpus rows to their single nearest cell — map-side only
    val cellOf = (v: Column) => -array_max(transform(centLit, c =>
      struct(NearDup.cosine(v, c.getField("_2")).as("d"),
        (-c.getField("_1")).as("negcell")))).getField("negcell")
    val assigned = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .withColumn("cell", cellOf(col("__cv")))

    // queries probe their nProbe nearest cells: sort (sim desc, cell
    // asc) via an ascending struct sort on (-sim, cell), slice, explode
    val probeCells = (v: Column) => slice(array_sort(transform(centLit, c =>
      struct((-NearDup.cosine(v, c.getField("_2"))).as("negd"),
        c.getField("_1").as("cell")))), 1, nProbe)
    val probes = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .withColumn("cell", explode(probeCells(col("__qv")).getField("cell")))
      .select("query_id", "__qv", "cell"))

    // (query, neighbor) pairs are unique (one cell per corpus row,
    // distinct probe cells), so no dedup pass; bounded-heap top-k keeps
    // the only shuffle at <= k rows per query
    val scored = probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    finishTopK(scored, corpus.schema(cId).dataType, k)
  }

  /** IVF with a TRAINED coarse quantizer: k-means (seeded,
    * deterministic) over the corpus embeddings builds the codebook;
    * the corpus is assigned to its nearest centroid once (one shuffle
    * at index-build time), queries probe the `nProbe` nearest cells.
    * At 100 TB the model trains on a sample and the assignment is a
    * broadcast-centroid map pass.
    */
  def ivfKmeansTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val corpusFeat = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"),
      array_to_vector(col(cVec).cast("array<double>")).as("features"))
    // random init + few iterations: a coarse quantizer only has to
    // partition space roughly — k-means|| init plus 10 Lloyd rounds
    // costs ~20 scheduled jobs for centroids that probe-recall can't
    // tell apart (recall bounds re-probed per SF via tools.IvfTune)
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
      .setInitMode("random")
      .fit(corpusFeat.select("features"))
    val assigned = model.transform(corpusFeat)
      .select(col("prediction").as("cell"), col("neighbor_id"), col("__cv"))

    // query-side probing: distance to every centroid (broadcast via
    // literal arrays), keep the nProbe nearest cells
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq
    val centDf = broadcast(
      queries.sparkSession.createDataFrame(centroids).toDF("cell", "cent_vec"))
    val wq = Window.partitionBy("query_id").orderBy(col("__sim").desc, col("cell").asc)
    val probes = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .crossJoin(centDf)
      .withColumn("__sim", NearDup.cosine(col("__qv"), col("cent_vec")))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nProbe)
      .select("query_id", "__qv", "cell"))

    val scored = probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    // (query, neighbor) pairs are already unique — each corpus row
    // lives in exactly one cell and a query's probe cells are distinct
    // — so no dedup pass; the bounded-heap aggregate keeps the shuffle
    // at <= k rows per query instead of every scored row
    finishTopK(scored, corpus.schema(cId).dataType, k)
  }

  /** Symmetric int8 scalar quantization of an embedding column: per
    * vector, scale = max |x_i| and q_i = floor(x_i / scale * 127 +
    * 0.5) — a 4× storage/scan-bandwidth cut for ANN candidate
    * generation (rerank on the float vectors as usual). Map-only pure
    * expressions (codegen'd, no UDF, no shuffle); the scale is
    * let-bound so the max-abs pass runs once per vector, not once per
    * element. A zero vector quantizes to zeros, not NULLs/NaNs.
    *
    * All arithmetic is double with the SAME operation order as the
    * documented SQL form (`x / scale * 127`), so any engine computing
    * that formula over IEEE doubles reproduces the codes bit-exactly —
    * asserted cross-engine by the q89 oracle.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val out = int8Codes(col(vecCol))
    df.select(col(idCol), out.getField("scale").as("scale"),
      out.getField("qvec").as("qvec"))
  }

  /** The `struct(scale, qvec)` of [[quantizeInt8]] for one vector
    * column, for callers that project it beside other columns.
    */
  def int8Codes(vec: Column): Column = {
    val asDouble = transform(vec, x => x.cast(DoubleType))
    graft.expressions.ExprOps.bind(asDouble) { v =>
      graft.expressions.ExprOps.bind(array_max(transform(v, x => abs(x)))) { scale =>
        struct(
          scale.as("scale"),
          transform(v, x =>
            when(scale === 0d, lit(0))
              .otherwise(floor(x / scale * 127d + 0.5d).cast(IntegerType)))
            .as("qvec"))
      }
    }
  }

  /** Matryoshka-style prefix-dimension recall report: rank the corpus
    * per query by squared-L2 over the FIRST `prefixDims` int8 code
    * dimensions and over ALL dimensions, and measure recall@k of the
    * prefix ranking against the full one — the measurement behind
    * "can we search on a 4× shorter vector". Distances are exact
    * integers over the [[quantizeInt8]] code space (bit-identical
    * across engines), ties break on (distance, neighbor id), and the
    * intersection count is a plain join — no float comparisons
    * anywhere.
    *
    * Scale shape: queries broadcast, one corpus scan feeding BOTH
    * rankings, bounded-heap top-k per ranking (≤ k rows per query per
    * map partition cross the shuffle), intersection on (query,
    * neighbor) keys.
    */
  def prefixDimRecall(queries: DataFrame, corpus: DataFrame,
                      qId: String, qVec: String, cId: String, cVec: String,
                      k: Int, prefixDims: Int): DataFrame = {
    require(k >= 1 && prefixDims >= 1, "k and prefixDims must be positive")
    val qc = broadcast(quantizeInt8(queries, qId, qVec)
      .select(col(qId).as("query_id"), col("qvec").as("__q")))
    val cc = quantizeInt8(corpus, cId, cVec)
      .select(col(cId).as("neighbor_id"), col("qvec").as("__c"))
    // codegen'd integer L2 — exact-value-identical to the former
    // zip_with+aggregate composition, one fused primitive loop
    def sqDist(a: Column, b: Column): Column =
      graft.expressions.SimilarityExpressions.int_sq_dist(a, b)
    val scored = qc.crossJoin(cc)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__dp", sqDist(slice(col("__q"), 1, prefixDims),
        slice(col("__c"), 1, prefixDims)))
      .withColumn("__df", sqDist(col("__q"), col("__c")))
    val idType = corpus.schema(cId).dataType
    val topPrefix = finishTopK(scored.select(col("query_id"),
      col("neighbor_id"), (-col("__dp")).cast(DoubleType).as("score")),
      idType, k)
    val topFull = finishTopK(scored.select(col("query_id"),
      col("neighbor_id"), (-col("__df")).cast(DoubleType).as("score")),
      idType, k)
    topFull.select("query_id", "neighbor_id")
      .join(topPrefix.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_full"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      // integer-only closing: the recall ratio ships as a truncating
      // parts-per-million BIGINT — no float column leaves this
      // operator, so the gate surface is version-proof by construction
      .withColumn("recall_ppm", expr("n_hits * 1000000 div k_full"))
  }

  /** IVF recall-vs-nprobe tuning sweep (VERDICT r14 #5) — the curve
    * every ANN deployment reads before fixing its probe budget:
    * recall@k against exact ground truth at every budget in
    * `budgets`, computed in ONE pass. Cells are ranked once per query
    * and the budgets are exploded over the ≤ k·|queries| true-neighbor
    * frame, never over the corpus: a true top-k neighbor is caught at
    * budget b iff its cell's rank ≤ b (candidate scoring is exact, so
    * any true neighbor inside the probed cells necessarily survives
    * the candidate top-k — no per-budget search runs).
    *
    * Everything is exact-integer on the [[quantizeInt8]] code space
    * (the q225/q306 discipline): the codebook is the `nCells` corpus
    * codes with the smallest md5 hex of their id (portable — hex
    * order is unsigned order in both engines), assignment is argmin
    * integer L2 with (distance, cell) ties, ground truth is the exact
    * int8 top-k with (distance, id) ties, and recall closes as a
    * truncating ppm BIGINT — no float leaves the operator.
    *
    * Scale shape: queries broadcast; the corpus is scanned once for
    * assignment (map-only vs a broadcast codebook literal) and once
    * for the exact-truth pass (the audit's cost by definition — at
    * 100 TB the truth pass runs on a query SAMPLE, as any recall
    * audit does); bounded-heap top-k keeps the only data-sized
    * shuffle at ≤ k rows per query; the budget explosion touches
    * k·|queries|·|budgets| rows.
    */
  def ivfRecallSweep(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int = 10, nCells: Int = 8,
                     budgets: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(k >= 1 && nCells >= 1, "k and nCells must be positive")
    require(budgets.nonEmpty && budgets.forall(b => b >= 1 && b <= nCells),
      s"every budget must be in [1, nCells=$nCells], got $budgets")
    val qc = broadcast(quantizeInt8(queries, qId, qVec)
      .select(col(qId).as("query_id"), col("qvec").as("__q")))
    val cc = quantizeInt8(corpus, cId, cVec)
      .select(col(cId).as("neighbor_id"), col("qvec").as("__c"))
    // portable deterministic codebook: nCells corpus codes in md5-hex
    // order of their id; cell index = position in that order
    val cents: Seq[(Int, Seq[Int])] = cc
      .withColumn("__h", md5(col("neighbor_id").cast(StringType)))
      .orderBy("__h").limit(nCells)
      .select("__c").collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Int](0)) }.toSeq
    val centLit = typedlit(cents)
    def dist(a: Column, b: Column): Column =
      graft.expressions.SimilarityExpressions.int_sq_dist(a, b)
    // assignment: argmin (integer distance, cell) — struct min gives
    // the lowest cell on exact-integer distance ties
    val assigned = cc.withColumn("__cell",
      array_min(transform(centLit, c =>
        struct(dist(col("__c"), c.getField("_2")).as("d"),
          c.getField("_1").as("cell")))).getField("cell"))
    // per-query cell ranking, computed ONCE: sort the nCells structs
    // (tiny), rank = position
    val ranked = qc.select(col("query_id"),
        posexplode(array_sort(transform(centLit, c =>
          struct(dist(col("__q"), c.getField("_2")).as("d"),
            c.getField("_1").as("cell"))))))
      .select(col("query_id"), (col("pos") + 1).cast(IntegerType)
        .as("__cell_rank"), col("col.cell").as("__cell"))
    // exact ground truth: int8 top-k with (distance, id) ties
    val truth = finishTopK(qc.crossJoin(cc)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (-dist(col("__q"), col("__c"))).cast(DoubleType).as("score")),
      corpus.schema(cId).dataType, k)
    truth.select("query_id", "neighbor_id")
      .join(assigned.select(col("neighbor_id"), col("__cell")),
        "neighbor_id")
      .join(ranked, Seq("query_id", "__cell"))
      .select(col("query_id"), col("__cell_rank"),
        explode(typedlit(budgets.sorted)).as("nprobe"))
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__cell_rank") <= col("nprobe"), 1L).otherwise(0L))
          .as("n_caught"))
      .withColumn("recall_ppm", expr("n_caught * 1000000 div n_true"))
  }

  /** Recall-vs-oversample sweep for the int8 shortlist path (VERDICT
    * r15 #4) — the q344 one-pass shape on the OTHER ANN axis: how
    * many of the true fp32 top-k neighbors survive inside the int8
    * top-(k·m) shortlist, for every oversample factor m in
    * `oversamples`? This is the knob the q95 rerank deployment must
    * pick — m too small silently drops true neighbors before the
    * fp32 rerank ever sees them; m too large pays rerank bandwidth
    * for nothing.
    *
    * One pass per ranking, no per-m search: the fp32 truth is the
    * bounded-heap top-k on the q29-convention round(cosine, 4) key
    * with id ties (the exact truth definition the q95 rerank
    * deployment itself uses — and the quantizer proven green across
    * both engines since round 7), the int8 shortlist is the bounded-heap
    * top-(k·max(oversamples)) on exact integer L2 over the
    * [[quantizeInt8]] codes with (distance, id) ties, and each true
    * neighbor's shortlist RANK (from the top-k·max heap — a
    * ≤ k·max·|queries| frame) decides every m at once: caught at m
    * iff rank ≤ k·m. Recall closes as a truncating ppm BIGINT — no
    * float column leaves the operator.
    *
    * Scale shape: queries broadcast twice (fp32 + codes) against two
    * corpus scans; bounded-heap top-k keeps both data-sized shuffles
    * at ≤ k·max rows per query; the oversample explosion touches
    * k·|queries|·|oversamples| rows. At 100 TB the truth pass runs on
    * a query sample, as any recall audit does.
    */
  def int8OversampleRecall(queries: DataFrame, corpus: DataFrame,
                           qId: String, qVec: String,
                           cId: String, cVec: String,
                           k: Int = 10,
                           oversamples: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(k >= 1, "k must be positive")
    require(oversamples.nonEmpty && oversamples.forall(_ >= 1),
      s"every oversample factor must be >= 1, got $oversamples")
    val idType = corpus.schema(cId).dataType
    val qFp = broadcast(queries
      .select(col(qId).as("query_id"), col(qVec).as("__qv")))
    val cFp = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    // fp32 truth: e6 floor lattice of the cosine as the ranking key
    // (shared IEEE arithmetic — identical bits both engines), id ties
    val truth = finishTopK(qFp.crossJoin(cFp)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(graft.dedup.NearDup.cosine(col("__qv"), col("__cv")), 4)
            .as("score")),
      idType, k)
    val qc = broadcast(quantizeInt8(queries, qId, qVec)
      .select(col(qId).as("query_id"), col("qvec").as("__q")))
    val cc = quantizeInt8(corpus, cId, cVec)
      .select(col(cId).as("neighbor_id"), col("qvec").as("__c"))
    val dist = graft.expressions.SimilarityExpressions
      .int_sq_dist(col("__q"), col("__c"))
    val kMax = k * oversamples.max
    // the shortlist's own rank 1..k·max arrives free from finishTopK
    val shortlist = finishTopK(qc.crossJoin(cc)
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (-dist).cast(DoubleType).as("score")),
      idType, kMax)
    truth.select("query_id", "neighbor_id")
      .join(shortlist.select(col("query_id"), col("neighbor_id"),
        col("rank").as("__r8")), Seq("query_id", "neighbor_id"), "left")
      .select(col("__r8"),
        explode(typedlit(oversamples.sorted)).as("oversample"))
      .groupBy("oversample")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("__r8").isNotNull &&
          col("__r8") <= col("oversample") * k, 1L).otherwise(0L))
          .as("n_caught"))
      .select(col("oversample").cast(IntegerType).as("oversample"),
        (col("oversample") * k).cast(LongType).as("shortlist_k"),
        col("n_true"), col("n_caught"))
      .withColumn("recall_ppm", expr("n_caught * 1000000 div n_true"))
  }

  /** kNN label-agreement audit — the confident-learning-style label
    * NOISE screen: for a deterministic sample of query vectors, do
    * the k nearest neighbors (exact integer L2 on the
    * [[quantizeInt8]] code space, ties (distance, id)) share the
    * query's label? A label whose vectors' neighborhoods disagree is
    * either noisy or genuinely entangled — either way it needs eyes
    * before training on it. Integer-only report per label: sampled
    * query count, majority-agreement count (> k/2 of the k neighbors
    * share the label), truncating ppm.
    *
    * Scale shape: queries are a hash-disjoint SAMPLE (`sampleMod`,
    * the audit's design — a screen, not a full pass) broadcast
    * against one corpus scan; bounded-heap top-k; label join on
    * model-sized frames. The full-corpus variant is the IVF path.
    */
  def knnLabelAgreement(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int = 5,
                        sampleMod: Int = 7): DataFrame = {
    require(k >= 1 && sampleMod >= 1, "k and sampleMod must be positive")
    val base = df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
    val codes = quantizeInt8(base, idCol, vecCol)
      .join(base.select(col(idCol), col(labelCol).as("__lab")), idCol)
    val q = broadcast(codes.filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("query_id"), col("qvec").as("__q"),
        col("__lab").as("__qlab")))
    val c = codes.select(col(idCol).as("neighbor_id"),
      col("qvec").as("__c"), col("__lab").as("__nlab"))
    // codegen'd integer L2 (IntSqDist) — the all-pairs hot loop; the
    // zip_with+aggregate form pays an interpreted lambda per DIMENSION
    // of every pair (measured 2x the query wall-clock at sf0.1)
    val dist = graft.expressions.SimilarityExpressions
      .int_sq_dist(col("__q"), col("__c"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-dist).cast(DoubleType).as("score"))
    val idType = df.schema(idCol).dataType
    val perQuery = finishTopK(scored, idType, k)
      .join(codes.select(col(idCol).as("neighbor_id"),
        col("__lab").as("__nlab")), "neighbor_id")
      .join(q.select(col("query_id"), col("__qlab")), "query_id")
      .groupBy(col("query_id"), col("__qlab"))
      .agg(sum(when(col("__nlab") === col("__qlab"), 1L).otherwise(0L))
        .as("__same"))
    perQuery.groupBy(col("__qlab").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("__same") * 2 > k, 1L).otherwise(0L))
          .as("n_majority_same"))
      .withColumn("agreement_ppm",
        expr("n_majority_same * 1000000 div n_queries"))
  }

  /** Per-dimension embedding health profile — the "dead or exploding
    * dimension" screen run before any ANN index build: for every
    * coordinate, the count, zero count, and the exact integer moments
    * on the 6-decimal lattice (sum, sum-of-squares, min, max of
    * v = floor(x·10⁶ + 0.5)). A dimension with n_zero = n is dead
    * weight in every distance computation; one whose sumsq/n is far
    * above its peers dominates unnormalized L2. Mean and std are one
    * division away for the reader; the OUTPUT is integer-only so the
    * gate surface carries no float at all — the lattice itself is
    * three IEEE-correctly-rounded double ops (×10⁶, +0.5, floor),
    * bit-identical in every engine, with no engine-implemented
    * decimal-cast rounding anywhere.
    *
    * Scale shape: one posexplode (×dims map-side fan-out) into a
    * map-side-combined groupBy(dim); output is #dims rows. Sums
    * accumulate in Decimal(38,0) and close as BIGINT (|v| ≤ 10⁶·|x|,
    * so sumsq fits 2^63 to ~10⁶ rows per dim at |x| ≤ 1 — past that
    * the Decimal is the honest envelope and the closing cast is the
    * documented contract).
    */
  def dimProfile(df: DataFrame, vecCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val ex = df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .withColumn("__xd", col("__x").cast(DoubleType))
      .withColumn("__v", floor(col("__xd") * lit(1000000.0d) + lit(0.5d)))
    ex.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__xd") === 0.0d, 1L).otherwise(0L)).as("n_zero"),
        sum(col("__v").cast(dec)).as("__s"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__q"),
        min("__v").as("min_e6"), max("__v").as("max_e6"))
      .select(col("dim"), col("n"), col("n_zero"),
        col("__s").cast(LongType).as("sum_e6"),
        col("__q").cast(LongType).as("sumsq_e12"),
        col("min_e6"), col("max_e6"))
  }

  /** IVF with the DETERMINISTIC int8 k-means codebook
    * ([[KmeansInt8]]) — the fully-oracle-checkable sibling of
    * [[ivfKmeansTopK]] (whose MLlib trainer is float-reassociation
    * nondeterministic) and the trained upgrade of [[ivfTopK]]'s
    * hash-seeded codebook. Cells, probes, and the candidate set are
    * all exact integer arithmetic, so an independent engine replays
    * the ENTIRE index — training iterations, corpus assignment, query
    * probing — and matches the output row-for-row, not just by
    * recall.
    *
    * Scale shape: training per [[KmeansInt8.fit]]; corpus assignment
    * and query probing are map-only passes against broadcast centroid
    * literals (integer L2 on codes, ties to the lower cell); the
    * (query, neighbor) candidates are unique by construction (one
    * cell per corpus row, distinct probe cells), so the only shuffle
    * is the bounded-heap top-k at ≤ k rows per query. Final scores
    * are the q29-convention round(cosine, 4) on the ORIGINAL float
    * vectors with the id tie-break.
    */
  def ivfKmeansInt8TopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int = 8, iters: Int = 3, nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "1 <= nProbe <= nCells")
    val cCodes = quantizeInt8(corpus, cId, cVec)
      .withColumnRenamed(cId, "neighbor_id")
    val model = KmeansInt8.fit(cCodes, "neighbor_id", "qvec", nCells, iters)

    val assigned = KmeansInt8.assign(cCodes, "neighbor_id", "qvec", model)
      .select(col("neighbor_id"), col("cell"))
      .join(corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
        "neighbor_id")

    // query-side probing on the query's OWN int8 code: nProbe nearest
    // cells by integer distance, (dist asc, cell asc) via struct sort
    val qCodes = quantizeInt8(queries, qId, qVec)
      .withColumnRenamed(qId, "query_id")
      .join(queries.select(col(qId).as("query_id"), col(qVec).as("__qv")),
        "query_id")
    val probeStructs = array_sort(array(
      model.centroids.zipWithIndex.map { case (c, j) =>
        struct(
          graft.expressions.SimilarityExpressions.int_sq_dist(
            col("qvec"), typedLit(c.toSeq)).as("d"),
          lit(j).as("cell"))
      }: _*))
    val probes = broadcast(qCodes
      .withColumn("cell",
        explode(slice(probeStructs, lit(1), lit(nProbe)).getField("cell")))
      .select("query_id", "__qv", "cell"))

    val scored = probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(graft.dedup.NearDup.cosine(col("__qv"), col("__cv")), 4))
    finishTopK(scored, corpus.schema(cId).dataType, k)
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou–Douze–Schmid 2011): the int8 code vector splits into `m`
    * subspaces, each clustered by its OWN deterministic
    * [[KmeansInt8]] codebook (`kSub` cells, same md5-order seeding),
    * and every corpus vector compresses to m small cell ids —
    * m·log2(kSub) bits instead of dims floats, the compression that
    * makes billion-vector indexes fit a memory budget. A query builds
    * its m × kSub integer distance table ONCE (exact int8 squared
    * distances to every sub-centroid), and each corpus candidate
    * scores with m TABLE LOOKUPS + (m−1) adds — the ADC trick: per
    * pair cost is O(m), not O(dims).
    *
    * Fully integer-deterministic END TO END: quantization (q89
    * formula), training (the q158 exact Lloyd chain, per subspace),
    * encoding (argmin with lower-cell ties), the ADC sum, and the
    * final rank (adc asc, neighbor asc — negated into the shared
    * bounded-heap finalizer as an exact −adc double; |adc| < 2⁵³ by
    * construction). The oracle replays ALL of it, assignments
    * included — no recall-only checking.
    *
    * Scale shape: m driver-held codebooks (m·kSub·(dims/m) longs —
    * KB-sized), corpus participation is one map-only encode pass +
    * the broadcast-queries ADC scan (the q29/q94 shape: corpus is
    * never shuffled; the only shuffle is the bounded-heap top-k's
    * k×#queries rows). At IVF+PQ scale, compose: route with
    * [[ivfKmeansInt8TopK]]'s coarse cells, re-rank survivors here.
    */
  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, m: Int = 4, kSub: Int = 16, iters: Int = 2): DataFrame = {
    require(m >= 1 && m <= 64, "1 <= m <= 64")
    val cCodes = quantizeInt8(corpus, cId, cVec)
      .withColumnRenamed(cId, "neighbor_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dims = cCodes.select(size(col("qvec")).as("__d")).head().getInt(0)
      require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
      val d = dims / m
      // per-subspace codebooks — same md5-order seed ROWS, sliced
      val models = (0 until m).map { s =>
        KmeansInt8.fit(
          cCodes.select(col("neighbor_id"),
            slice(col("qvec"), s * d + 1, d).as("qvec")),
          "neighbor_id", "qvec", kSub, iters)
      }
      // encode: m nearest-cell ids per corpus row (map-only)
      val encoded = cCodes.select(col("neighbor_id"),
        array(models.zipWithIndex.map { case (mod, s) =>
          KmeansInt8.cellOf(slice(col("qvec"), s * d + 1, d), mod)
        }: _*).as("__codes"))
      // query-side m x kSub integer distance tables, built once per
      // query row in the broadcast frame
      val qTab = broadcast(
        quantizeInt8(queries, qId, qVec)
          .withColumnRenamed(qId, "query_id")
          .withColumn("__tab", array(models.zipWithIndex.map { case (mod, s) =>
            graft.expressions.ExprOps.bind(
              slice(col("qvec"), s * d + 1, d)) { sub =>
              array(mod.centroids.map(c =>
                KmeansInt8.sqDistTo(sub, c)): _*)
            }
          }: _*))
          .select("query_id", "__tab"))
      val adc = (0 until m).map(s =>
        element_at(element_at(col("__tab"), s + 1),
          element_at(col("__codes"), s + 1) + 1)).reduce(_ + _)
      val scored = qTab.crossJoin(encoded)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("__adc", adc)
        // exact: adc <= m * 254^2 * dims < 2^53 — the negation keeps
        // the shared (score desc, id asc) heap ranking = (adc asc, id)
        .withColumn("score", -col("__adc").cast(DoubleType))
      finishTopK(scored, corpus.schema(cId).dataType, k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (-col("score")).cast(LongType).as("adc_dist"))
        .transform(graft.state.Checkpoints.stable)
    } finally cCodes.unpersist(blocking = false)
  }

  /** IVF-PQ with residual encoding — the full FAISS-style index shape
    * (Jégou 2011 §IV): a coarse [[KmeansInt8]] codebook routes each
    * vector to a cell, the RESIDUAL (code − cell centroid) is what PQ
    * compresses — residuals cluster far tighter than raw vectors, so
    * the same kSub spends its precision where the data actually is —
    * and a query probes only its `nProbe` nearest cells, scoring that
    * fraction of the corpus with per-probe ADC tables built from the
    * query's OWN residual against each probed centroid.
    *
    * Everything stays on the integer-exact rails of [[pqTopK]]:
    * residuals are exact long subtractions (|r| ≤ 254, still int8
    * range ×2), both training chains are the deterministic Lloyd
    * loop, and the rank is (adc asc, neighbor asc). The oracle
    * replays the entire index — coarse chain, residuals, m subspace
    * chains, encoding, probing, ADC — row-for-row.
    *
    * Scale shape: corpus makes three map-only passes (coarse assign,
    * residual, PQ encode) against KB-sized broadcast codebooks plus
    * the per-iteration histogram aggregations of the two trainers;
    * the probe join keys on the coarse cell (corpus side already
    * partitioned by it), and ADC touches only the probed fraction.
    * At 10⁹ vectors × nCells 65k, a 2-probe query scans ~2/65k of
    * the code table — memory-bandwidth-bound over m-byte codes.
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nCells: Int = 8, coarseIters: Int = 2, nProbe: Int = 2,
      m: Int = 4, kSub: Int = 8, pqIters: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "1 <= nProbe <= nCells")
    require(m >= 1 && m <= 64, "1 <= m <= 64")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cCodes = quantizeInt8(corpus, cId, cVec)
      .withColumnRenamed(cId, "neighbor_id").persist(lvl)
    var assigned: DataFrame = null
    try {
      val dims = cCodes.select(size(col("qvec")).as("__d")).head().getInt(0)
      require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
      val d = dims / m
      val coarse = KmeansInt8.fit(cCodes, "neighbor_id", "qvec",
        nCells, coarseIters)
      val centsLit = typedLit(coarse.centroids.map(_.toSeq))
      def residual(codeVec: Column, cell: Column): Column =
        transform(
          zip_with(codeVec, element_at(centsLit, cell + 1),
            (a, b) => a.cast(LongType) - b),
          x => x.cast(IntegerType))
      // corpus: cell + residual, consumed by m trainers and the encode
      assigned = cCodes
        .withColumn("__cell", KmeansInt8.cellOf(col("qvec"), coarse))
        .withColumn("__rv", residual(col("qvec"), col("__cell")))
        .persist(lvl)
      val models = (0 until m).map { s =>
        KmeansInt8.fit(
          assigned.select(col("neighbor_id"),
            slice(col("__rv"), s * d + 1, d).as("qvec")),
          "neighbor_id", "qvec", kSub, pqIters)
      }
      val encoded = assigned.select(col("neighbor_id"),
        col("__cell").as("cell"),
        array(models.zipWithIndex.map { case (mod, s) =>
          KmeansInt8.cellOf(slice(col("__rv"), s * d + 1, d), mod)
        }: _*).as("__codes"))
      // query probes: nProbe nearest coarse cells on the query's own
      // int8 code, (dist asc, cell asc) via struct sort; per probe, a
      // residual vs THAT centroid and its m x kSub ADC table
      val probeStructs = array_sort(array(
        coarse.centroids.zipWithIndex.map { case (c, j) =>
          struct(KmeansInt8.sqDistTo(col("qvec"), c).as("d"),
            lit(j).as("cell"))
        }: _*))
      val probes = quantizeInt8(queries, qId, qVec)
        .withColumnRenamed(qId, "query_id")
        .withColumn("cell",
          explode(slice(probeStructs, 1, nProbe).getField("cell")))
        .withColumn("__rv", residual(col("qvec"), col("cell")))
        .withColumn("__tab", array(models.zipWithIndex.map { case (mod, s) =>
          graft.expressions.ExprOps.bind(
            slice(col("__rv"), s * d + 1, d)) { sub =>
            array(mod.centroids.map(c => KmeansInt8.sqDistTo(sub, c)): _*)
          }
        }: _*))
        .select("query_id", "cell", "__tab")
      val adc = (0 until m).map(s =>
        element_at(element_at(col("__tab"), s + 1),
          element_at(col("__codes"), s + 1) + 1)).reduce(_ + _)
      val scored = broadcast(probes).join(encoded, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("__adc", adc)
        .withColumn("score", -col("__adc").cast(DoubleType))
      finishTopK(scored, corpus.schema(cId).dataType, k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (-col("score")).cast(LongType).as("adc_dist"))
        .transform(graft.state.Checkpoints.stable)
    } finally {
      cCodes.unpersist(blocking = false)
      if (assigned != null) assigned.unpersist(blocking = false)
    }
  }

  /** Per-dimension affine scalar quantization (the FAISS SQ8 shape):
    * the corpus trains a (min_d, max_d) pair per dimension, every
    * vector compresses to one signed byte per dimension —
    * q_d = floor((x_d − min_d)/(max_d − min_d)·255 + 0.5) − 128,
    * clamped to [−128, 127] so out-of-train-range QUERY values cannot
    * overflow the byte — and candidates rank by integer L2 in code
    * space (symmetric distance computation), then the top k·oversample
    * survivors rerank exactly on the fp32 vectors. Unlike
    * [[quantizeInt8]]'s per-VECTOR symmetric scale (built for
    * scale-invariant cosine scanning), the per-DIM affine grid
    * preserves relative Euclidean geometry across dimensions with
    * unequal ranges.
    *
    * Deterministic end to end: train stats are exact min/max; the
    * quantize expression is a fixed-order double formula (identical
    * in the oracle); code distances are exact integers (≤ dims·255²);
    * ranks break ties on the neighbor id; rerank scores are the
    * shared round(cosine, 4) convention. The oracle replays training,
    * encoding, scanning, and reranking row-for-row.
    *
    * Scale shape: training is one dims-key map-side-combined
    * aggregate; stats broadcast back as driver-held literals (dims
    * doubles — KBs); the corpus pass scans 1-byte-per-dim codes (4×
    * less bandwidth than fp32); the candidate shuffle is the bounded
    * heap's ≤ k·oversample rows per query; the rerank join touches
    * only surviving candidates.
    */
  def sqTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, oversample: Int = 4): DataFrame = {
    require(oversample >= 1 && oversample <= 64, "1 <= oversample <= 64")
    val stats = corpus
      .select(posexplode(col(cVec)).as(Seq("__d", "__x")))
      .groupBy("__d")
      .agg(min(col("__x").cast(DoubleType)).as("__mn"),
        max(col("__x").cast(DoubleType)).as("__mx"))
      .collect().sortBy(_.getInt(0))
    val mins = typedLit(stats.map(_.getDouble(1)).toSeq)
    val maxs = typedLit(stats.map(_.getDouble(2)).toSeq)
    def encode(vec: Column): Column =
      graft.expressions.ExprOps.bind(transform(vec, x => x.cast(DoubleType))) { v =>
        zip_with(zip_with(v, mins, (x, mn) => struct(x.as("x"), mn.as("mn"))),
          maxs, (p, mx) =>
            when(mx === p.getField("mn"), lit(0))
              .otherwise(least(greatest(
                (floor((p.getField("x") - p.getField("mn")) /
                  (mx - p.getField("mn")) * 255d + 0.5d) - 128).cast(IntegerType),
                lit(-128)), lit(127))).cast(ByteType))
      }
    val cCodes = corpus.select(col(cId).as("neighbor_id"),
      encode(col(cVec)).as("__code"))
    val qCodes = broadcast(queries.select(col(qId).as("query_id"),
      encode(col(qVec)).as("__qcode"),
      col(qVec).as("__qv")))
    // codegen'd integer L2 over the byte codes (exact-value-identical
    // to the zip_with+aggregate composition it replaces)
    val codeDist = graft.expressions.SimilarityExpressions
      .int_sq_dist(col("__qcode"), col("__code"))
    val cand = finishTopK(
      qCodes.crossJoin(cCodes)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("__dist", codeDist)
        .withColumn("score", -col("__dist").cast(DoubleType)),
      corpus.schema(cId).dataType, k * oversample)
      .select(col("query_id"), col("neighbor_id"),
        (-col("score")).cast(LongType).as("sq_dist"))
    val reranked = cand
      .join(qCodes.select("query_id", "__qv"), "query_id")
      .join(corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
        "neighbor_id")
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
      .select(col("query_id"), col("neighbor_id"), col("score"), col("sq_dist"))
    finishTopK(reranked.select(col("query_id"), col("neighbor_id"),
      col("score")), corpus.schema(cId).dataType, k)
      .join(reranked.select(col("query_id"), col("neighbor_id"), col("sq_dist")),
        Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("score"), col("sq_dist"))
  }

  /** Johnson–Lindenstrauss random projection with a distance-
    * distortion audit — the dimensionality-reduction sketch behind
    * "search 16 dims instead of 64" (Achlioptas 2003's ±1 matrix):
    * y_j = Σ_i s(j,i)·q_i over the [[quantizeInt8]] codes with
    * s(j,i) = ±1 from the engine-portable md5 bucket — so projections
    * and BOTH distance columns are exact integers (bit-identical on
    * any engine; no fp until the one closing distortion ratio
    * d²_proj / (outDims · d²_orig), whose expectation is 1 by the JL
    * identity E[d²_proj] = outDims · d²_orig for ±1 entries).
    *
    * Scale shape: the projection is one posexplode × outDims map and
    * a (id, j)-keyed integer sum — embarrassingly parallel, corpus
    * never joined to itself; the audit pairs are the `pairIds`-bounded
    * prefix only.
    */
  def jlProjectionReport(df: DataFrame, idCol: String, vecCol: String,
                         outDims: Int = 16, pairIds: Long = 20L,
                         salt: String = "rp"): DataFrame = {
    require(outDims >= 1 && outDims <= 1024, "outDims out of range")
    import graft.operators.SplitOps.hashBucket
    val codes = quantizeInt8(df, idCol, vecCol)
    val elems = codes.select(col(idCol).as("__id"), posexplode(col("qvec")))
      .select(col("__id"), col("pos").as("__i"),
        col("col").cast(LongType).as("__q"))
    val proj = elems.select(col("__id"), col("__i"), col("__q"),
      explode(array((0 until outDims).map(lit): _*)).as("__j"))
      .withColumn("__s", when(hashBucket(concat(lit(salt + "|"),
        col("__j").cast(StringType), lit("|"),
        col("__i").cast(StringType))) % 2 === 0, 1L).otherwise(-1L))
      .groupBy("__id", "__j")
      .agg(sum(col("__q") * col("__s")).as("__y"))
    val ea = elems.filter(col("__id") < pairIds)
    val dOrig = ea.select(col("__id").as("id_a"), col("__i"),
      col("__q").as("__qa"))
      .join(ea.select(col("__id").as("id_b"), col("__i"),
        col("__q").as("__qb")), "__i")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum((col("__qa") - col("__qb")) * (col("__qa") - col("__qb")))
        .as("d2_orig"))
    val pa = proj.filter(col("__id") < pairIds)
    val dProj = pa.select(col("__id").as("id_a"), col("__j"),
      col("__y").as("__ya"))
      .join(pa.select(col("__id").as("id_b"), col("__j"),
        col("__y").as("__yb")), "__j")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum((col("__ya") - col("__yb")) * (col("__ya") - col("__yb")))
        .as("d2_proj"))
    dOrig.join(dProj, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("d2_orig"), col("d2_proj"),
        round(when(col("d2_orig") > 0, col("d2_proj").cast(DoubleType)
          / (lit(outDims.toDouble) * col("d2_orig").cast(DoubleType))), 6)
          .as("distortion"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal, the 2-approximation): start from the min-id vector,
    * then k−1 times pick the point FARTHEST from everything selected
    * so far — the classic diverse-subset primitive behind eval-set
    * construction and prototype picking (covers the space where
    * random sampling oversamples dense clusters). All distances are
    * exact integer squared-L2 on the [[quantizeInt8]] code lattice;
    * ties break to the smallest id via the (dist, −id) max-struct, so
    * the whole traversal is a pure function of the corpus.
    *
    * Scale shape: k passes, each one broadcast of the single new
    * center + a map-only min-update of the running distance column +
    * one max-struct aggregate — no pairwise materialization, no
    * windows; lineage resets per round via localCheckpoint.
    */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 256, "k out of range")
    // the (dist, -id) max-struct tie-break needs a numeric id: a
    // string id would cast -id to NULL and silently pick among ties
    // nondeterministically — fail loudly instead (the rest of the ANN
    // family is id-generic via finishTopK; this operator is not)
    require(corpus.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"kCenterSelect requires a numeric id column, got " +
        s"${corpus.schema(idCol).dataType}")
    // codegen'd integer L2 — exact-value-identical to the former
    // zip_with+aggregate composition, one fused primitive loop
    def sqDist(a: Column, b: Column): Column =
      graft.expressions.SimilarityExpressions.int_sq_dist(a, b)
    val codes = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("__id"), col("qvec").as("__v"))
      .transform(graft.state.Checkpoints.stableLazy)
    val seed = codes.orderBy(col("__id").asc).limit(1)
      .select(col("__id").as("__sid"), col("__v").as("__sv"))
    var selected = seed.select(col("__sid").as("selected_id"),
      lit(1).cast(IntegerType).as("rank"),
      lit(null).cast(LongType).as("min_dist_sq"))
      .transform(graft.state.Checkpoints.stableLazy)
    var remaining = codes.crossJoin(broadcast(seed))
      .filter(col("__id") =!= col("__sid"))
      .select(col("__id"), col("__v"),
        sqDist(col("__v"), col("__sv")).as("__md"))
      .transform(graft.state.Checkpoints.stableLazy)
    for (r <- 2 to k) {
      val pick = remaining
        .agg(max(struct(col("__md"), (-col("__id")).as("__ni"))).as("__p"))
        .select((-col("__p.__ni")).as("__pid"), col("__p.__md").as("__pd"))
      val pickRow = pick.join(remaining,
        pick("__pid") === remaining("__id"))
        .select(col("__pid").as("selected_id"),
          lit(r).cast(IntegerType).as("rank"),
          col("__pd").as("min_dist_sq"),
          col("__v").as("__pv"))
        .transform(graft.state.Checkpoints.stableLazy)
      selected = selected.unionByName(
        pickRow.select("selected_id", "rank", "min_dist_sq"))
        .transform(graft.state.Checkpoints.stableLazy)
      remaining = remaining
        .crossJoin(broadcast(pickRow.select(col("selected_id").as("__pid"),
          col("__pv"))))
        .filter(col("__id") =!= col("__pid"))
        .select(col("__id"), col("__v"),
          least(col("__md"), sqDist(col("__v"), col("__pv"))).as("__md"))
        .transform(graft.state.Checkpoints.stableLazy)
    }
    selected
  }

  /** MMR diversified rerank (Carbonell & Goldstein 1998): greedily
    * pick `selectK` of the per-query top-`poolK` relevance candidates
    * maximizing  λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)  — the
    * standard redundancy-killing rerank between retrieval and a
    * context window. Deterministic across engines: EVERY similarity
    * is rounded to 4 decimals before any MMR arithmetic (the
    * rank-on-rounded house contract), the score tree is one fixed
    * fp expression over those 4-decimal values, and each greedy step
    * breaks ties by (mmr desc, candidate id asc) via a max-struct on
    * (mmr, −id). The first pick's diversity term is literally
    * λ·rel − (1−λ)·0.0, which the oracle replays.
    *
    * Scale shape: the candidate CUT is the scale path (broadcast
    * queries, one corpus scan, bounded-heap top-poolK); everything
    * after operates on #queries × poolK rows — the pairwise sim frame
    * is poolK² per query and each greedy round is two hash joins on
    * those tiny frames. poolK is capped to keep that contract.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
                qId: String, qVec: String, cId: String, cVec: String,
                poolK: Int = 12, selectK: Int = 5,
                lambda: Double = 0.7): DataFrame = {
    require(poolK >= selectK && poolK <= 256, "selectK <= poolK <= 256")
    // same numeric-id contract as kCenterSelect: the greedy argmax
    // tie-break is the (mmr, -id) max-struct
    require(corpus.schema(cId).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"mmrRerank requires a numeric corpus id column, got " +
        s"${corpus.schema(cId).dataType}")
    val q = broadcast(queries.select(col(qId).as("query_id"),
      col(qVec).as("__qv")))
    val rel = q.crossJoin(corpus.select(col(cId).as("neighbor_id"),
      col(cVec).as("__cv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(NearDup.cosine(col("__qv"), col("__cv")), 4))
    val pool = finishTopK(rel.select(col("query_id"), col("neighbor_id"),
      col("score")), corpus.schema(cId).dataType, poolK)
      .select(col("query_id"), col("neighbor_id").as("__c"),
        col("score").as("__rel"))
      .transform(graft.state.Checkpoints.stableLazy)
    val vecs = corpus.select(col(cId).as("__id"), col(cVec).as("__v"))
    val pairSim = pool.select(col("query_id"), col("__c").as("__a"))
      .join(pool.select(col("query_id"), col("__c").as("__b")), "query_id")
      .filter(col("__a") =!= col("__b"))
      .join(vecs.select(col("__id").as("__a"), col("__v").as("__va")), "__a")
      .join(vecs.select(col("__id").as("__b"), col("__v").as("__vb")), "__b")
      .select(col("query_id"), col("__a"), col("__b"),
        round(NearDup.cosine(col("__va"), col("__vb")), 4).as("__sim"))
      .transform(graft.state.Checkpoints.stableLazy)
    var remaining = pool.withColumn("__ms", lit(0.0)).transform(graft.state.Checkpoints.stableLazy)
    var selected: DataFrame = null
    for (r <- 1 to selectK) {
      val scored = remaining.withColumn("__mmr",
        lit(lambda) * col("__rel") - lit(1.0 - lambda) * col("__ms"))
      val pick = scored.groupBy("query_id")
        .agg(max(struct(col("__mmr"), (-col("__c")).as("__nc"))).as("__p"))
        .select(col("query_id"), (-col("__p.__nc")).as("__pick"),
          col("__p.__mmr").as("__pmmr"))
      val pickRow = pick.join(remaining,
        pick("query_id") === remaining("query_id") &&
          pick("__pick") === remaining("__c"))
        .select(pick("query_id"), col("__pick").as("selected_id"),
          lit(r).cast(IntegerType).as("rank"), col("__rel").as("rel"),
          col("__pmmr").as("mmr"))
        .transform(graft.state.Checkpoints.stableLazy)
      selected = if (selected == null) pickRow
        else selected.unionByName(pickRow)
      val nextRemaining = remaining
        .join(pick.select(col("query_id"), col("__pick")), "query_id")
        .filter(col("__c") =!= col("__pick"))
        .join(pairSim.select(col("query_id"), col("__a").as("__c"),
          col("__b").as("__pick"), col("__sim")),
          Seq("query_id", "__c", "__pick"))
        .select(col("query_id"), col("__c"), col("__rel"),
          greatest(col("__ms"), col("__sim")).as("__ms"))
        .transform(graft.state.Checkpoints.stableLazy)
      remaining = nextRemaining
    }
    selected.select(col("query_id"), col("rank"), col("selected_id"),
      col("rel"), round(col("mmr"), 4).as("mmr"))
  }
}
