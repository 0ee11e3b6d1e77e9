package graft.pipelines

import graft.dedup.NearDup
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-corpus curation pipeline: the composition a 100 TB
  * pretraining-data run actually executes — quality gating, language
  * selection, exact dedup, near-dup clustering, token budgeting.
  * Every stage is one of the engine's tested operators; this driver
  * fixes the order and the bookkeeping.
  */
object CorpusPipeline {

  final case class QualityGates(
      minTokens: Int = 20,
      maxTokens: Int = 100000,
      minAlphaRatio: Double = 0.5,
      maxPunctRatio: Double = 0.2,
      minStopwordRatio: Double = 0.01,
      maxTopBigramFrac: Double = 0.3,
      minDistinctTokenRatio: Double = 0.1)

  /** Stage 1 — quality gating over the signal bundle + repetition
    * signals (Gopher-rule family). Keeps rows passing every gate. */
  def qualityFilter(docs: DataFrame, g: QualityGates = QualityGates()): DataFrame =
    TextOps.repetitionSignals(TextOps.qualitySignals(docs))
      .filter(col("n_tokens").between(g.minTokens, g.maxTokens)
        && col("alpha_ratio") >= g.minAlphaRatio
        && col("punct_ratio") <= g.maxPunctRatio
        && col("stopword_ratio") >= g.minStopwordRatio
        && col("top_bigram_frac") <= g.maxTopBigramFrac
        && col("distinct_token_ratio") >= g.minDistinctTokenRatio)

  /** Stage 2 — language selection on the predicted language. */
  def langFilter(docs: DataFrame, keep: Seq[String]): DataFrame =
    TextOps.langId(docs).filter(col("lang_pred").isin(keep: _*))

  /** Stage 3 — exact dedup by content digest (keep lowest id). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    NearDup.exactDedup(docs, idCol, textCol)

  /** Minimum-id connected components over an undirected pair list,
    * iterated to FIXPOINT: each round does (a) a neighbor-min
    * propagation and (b) a pointer-jumping shortcut
    * (label(x) := label(label(x))), so convergence is O(log diameter)
    * rounds — a chain of 10^6 duplicates resolves in ~20 rounds, not
    * 10^6. Every round localCheckpoints the label frame (truncating
    * lineage — mandatory for iterative Spark), counts changed labels
    * and releases the previous round's cut; the loop exits when
    * nothing changed, and the last cut is the caller's. `maxIter` is a
    * runaway backstop, logged loudly if hit.
    *
    * `nodes`: one column `node`; `pairs`: columns `id_a`, `id_b`.
    * Returns (node, label) with label = min id of the component.
    *
    * CONCURRENCY CONTRACT: the AQE cached-plan toggle below mutates a
    * SESSION-global conf with save/restore, so this operator assumes no
    * OTHER query runs on the same SparkSession while a CC fixpoint is
    * in flight — a concurrent query would silently lose cached-plan
    * AQE for its duration, and interleaved CC calls could restore a
    * stale value. Callers that need CC concurrently with streaming or
    * parallel actions should run it on `spark.newSession()` (shared
    * SparkContext and cache, isolated conf).
    */
  def minLabelComponents(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 50,
                         smallEdgeLimit: Long = 100000L): DataFrame = {
    // The fixpoint hand-partitions its cache on purpose, so AQE must
    // not re-plan cached output INSIDE this operator: with
    // canChangeCachedPlanOutputPartitioning=true (the engine-wide
    // session default, right for one-shot KB-sized caches) AQE
    // coalesces the cached edge list by BYTES, and a row-heavy but
    // byte-light edge set serializes every round's join — measured 2×
    // on the 262k-edge long-chain CcProbe graph (19 rounds; see git
    // rev e766bb7). Scoped save/restore: the loop's checkpoints and
    // convergence counts all execute inside this method, so the toggle
    // covers every action that touches the edges cache.
    val sess = nodes.sparkSession
    val AqeCachedKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prevAqeCached = sess.conf.getOption(AqeCachedKey)
    sess.conf.set(AqeCachedKey, "false")
    try minLabelComponentsBody(nodes, pairs, maxIter, smallEdgeLimit)
    finally prevAqeCached match {
      case Some(v) => sess.conf.set(AqeCachedKey, v)
      case None    => sess.conf.unset(AqeCachedKey)
    }
  }

  private def minLabelComponentsBody(
      nodes: DataFrame, pairs: DataFrame, maxIter: Int,
      smallEdgeLimit: Long): DataFrame = {
    // undirected edges both ways, hash-partitioned on the propagation
    // join key: the cached InMemoryRelation then reports
    // hashpartitioning(id_b) and the per-round join reuses it with NO
    // edges-side exchange — the edge set is the loop's largest frame
    // and it never changes across rounds
    val edges = pairs.select(col("id_a"), col("id_b")).unionByName(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))).distinct()
      .repartition(col("id_b")).cache()
    // size-gated strategy switch (the CC analogue of a broadcast join):
    // below the limit the iterative loop is pure scheduling overhead —
    // each round is ~3 jobs — so run exact union-find driver-side and
    // broadcast the (node -> min-id) mapping. The distributed fixpoint
    // below remains the path for edge sets that don't fit one machine.
    // Min-label semantics need an ORDERING on the id type, and it must
    // match the distributed path's `least`/`min`: integral ids compare
    // numerically, strings lexicographically; any other id type (or an
    // ANSI-unsafe cast) falls through to the distributed fixpoint
    // rather than guessing.
    // ONE action gates AND fetches: take(limit+1) replaces the former
    // count-then-collect pair — a small edge set is already on the
    // driver when the gate passes, and an over-limit set costs one
    // bounded (limit+1 row) pull before the distributed path runs.
    val sample = edges.limit(math.min(smallEdgeLimit + 1, Int.MaxValue.toLong).toInt).collect()
    if (sample.length <= smallEdgeLimit) {
      val s = nodes.sparkSession
      import s.implicits._
      val mappingDf = edges.schema("id_a").dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(driverUnionFind(
            sample.map(r => (asLong(r.get(0)), asLong(r.get(1)))))
            .toDF("node", "__cc_label"))
        case StringType =>
          Some(driverUnionFind(
            sample.map(r => (r.getString(0), r.getString(1))))
            .toDF("node", "__cc_label"))
        case _ => None
      }
      mappingDf match {
        case Some(mapping) =>
          edges.unpersist()
          return nodes.join(broadcast(mapping), Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__cc_label"), col("node")).as("label"))
        case None => () // unsupported id type: distributed path below
      }
    }
    var labels = nodes.select(col("node"), col("node").as("label")).transform(graft.state.Checkpoints.stable)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val prop = edges.join(labels, edges("id_b") === labels("node"))
        .groupBy(col("id_a").as("node"))
        .agg(min("label").as("nbr_label"))
      // the round-start label rides along as old_label so the changed
      // check reads the freshly checkpointed frame alone — no extra
      // join against the previous labels per round
      val stepped = labels.join(prop, Seq("node"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jumping: follow my label's own label (labels are always
      // node ids, so the self-join is total)
      val l1 = stepped.as("l1"); val l2 = stepped.as("l2")
      val jumped = l1.join(l2, col("l1.label") === col("l2.node"))
        .select(col("l1.node").as("node"), col("l1.old_label").as("old_label"),
          least(col("l1.label"), col("l2.label")).as("label"))
        .transform(graft.state.Checkpoints.stable)
      // labels only ever decrease, so "changed" = any strict decrease
      changed = jumped.filter(col("label") < col("old_label")).count()
      // the round's cut and count are done: the superseded labels have
      // no reader left (the last round's labels are the caller's)
      graft.state.Checkpoints.release(labels)
      labels = jumped.select("node", "label")
      i += 1
    }
    if (changed > 0)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"minLabelComponents hit maxIter=$maxIter before fixpoint; labels may under-merge")
    edges.unpersist()
    labels
  }

  /** Widen any integral id to Long for the driver union-find (the
    * former DataFrame-side cast, moved row-side so the gate sample is
    * reused instead of re-collected).
    */
  private def asLong(v: Any): Long = v match {
    case b: java.lang.Byte    => b.longValue()
    case s: java.lang.Short   => s.longValue()
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long    => l.longValue()
    case other => throw new IllegalArgumentException(s"non-integral id: $other")
  }

  /** Driver-side union-find with path compression; smaller root wins,
    * so every root IS the minimum of its component under `ord`.
    * Returns node -> component-min for every node seen in an edge.
    */
  private[graft] def driverUnionFind[T](edgeList: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(n => (n, find(n))).toSeq
  }

  /** Stage 4 — near-dup removal: MinHash-LSH pairs → connected
    * components → keep the minimum id per duplicate cluster. One call
    * to the shared [[dropByPairs]] tail (review r8: this body, the
    * generic tail, and the incremental admission each carried their
    * own copy of the keeper kernel; the incremental families share
    * [[admitBatch]], which resolves small pair sets on the driver).
    */
  def nearDupDrop(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8, maxIter: Int = 50): DataFrame =
    dropByPairs(docs, idCol,
      NearDup.minhashLshPairs(docs, idCol, textCol, threshold = threshold),
      maxIter)

  /** Generic cluster-and-drop over an arbitrary duplicate PAIR list
    * `(id_a, id_b)`: min-label components over the paired rows ONLY,
    * keep each component's minimum id, pass unclustered rows through
    * untouched (they never enter the component computation). This is
    * the shared tail of every near-dup family — the text paths inline
    * it; the perceptual media paths
    * ([[graft.multimodal.Multimodal.imageDupDrop]] /
    * [[graft.multimodal.Multimodal.audioDupDrop]]) compose their pair
    * generators with it. The pair list is materialized once
    * (localCheckpoint) because it feeds the CC size gate, the node
    * set, and both output branches.
    */
  def dropByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                  maxIter: Int = 50): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b")).transform(graft.state.Checkpoints.stable)
    val nodes = p.select(col("id_a").as("node"))
      .unionByName(p.select(col("id_b").as("node"))).distinct()
    val labels = minLabelComponents(nodes, p, maxIter)
    val keepers = labels.filter(col("node") === col("label"))
      .select(col("node").as(idCol))
    df.join(labels.select(col("node").as(idCol)), Seq(idCol), "left_anti")
      .unionByName(df.join(keepers, Seq(idCol), "left_semi"))
  }

  /** Dedup report card: the near-dup CLUSTER SIZE distribution — the
    * first number a curation run publishes (how much of the corpus is
    * duplicated, and whether the mass sits in pairs or in a few viral
    * mega-clusters, which decides salting/blocking strategy for the
    * next run). One row per cluster size: (cluster_size, n_clusters,
    * n_docs), including the size-1 row for documents that appear in
    * no duplicate pair (computed as total − clustered — a COUNT, not
    * a join).
    *
    * Scale shape: identical to [[nearDupDrop]] up to the labels frame
    * (banded LSH pairs → min-label components over paired rows only),
    * then two count aggregations over the label frame — the sizes
    * histogram is #distinct-sizes rows. Nothing new shuffles.
    */
  def nearDupClusterSizes(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.8, maxIter: Int = 50): DataFrame = {
    val labels = nearDupLabels(docs, idCol, textCol, threshold, maxIter)
      .transform(graft.state.Checkpoints.stable)
    val total = docs.select(col(idCol)).count()
    val clustered = labels.count()
    val spark = docs.sparkSession
    import spark.implicits._
    val singles = Seq(1L -> (total - clustered)).toDF("cluster_size", "n_clusters")
      .filter(col("n_clusters") > 0)
    labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .unionByName(singles)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
  }

  /** Shared kernel of the near-dup drop family: (node, label = min id
    * of cluster) over ONLY the documents that occur in a near-dup
    * pair at `threshold` — unclustered documents never enter the
    * component computation (they pass through the callers' anti-join
    * against this small frame). The pair list is materialized ONCE
    * (localCheckpoint): it feeds the CC size gate, the node set, and
    * every branch of the caller's final plan, and without the barrier
    * each of those actions re-runs the full MinHash-LSH pipeline.
    */
  private def nearDupLabels(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, maxIter: Int): DataFrame = {
    val pairs = NearDup.minhashLshPairs(docs, idCol, textCol, threshold = threshold)
      .select(col("id_a"), col("id_b")).transform(graft.state.Checkpoints.stable)
    val pairNodes = pairs.select(col("id_a").as("node"))
      .unionByName(pairs.select(col("id_b").as("node"))).distinct()
    minLabelComponents(pairNodes, pairs, maxIter)
  }

  /** [[nearDupDrop]] with quality-aware cluster resolution: per
    * near-dup cluster keep the row MAXIMIZING `score` (ties broken by
    * lowest id — fully deterministic) instead of the lowest id. This
    * is the production rule: resolving by id throws away the cleanest
    * copy whenever a higher-quality duplicate happens to carry a
    * higher id. Scale shape: labels are computed only over nodes that
    * occur in a dup pair, the argmax is one window over the (small)
    * clustered subset partitioned by cluster label, and unclustered
    * documents never enter any shuffle — they pass through an
    * anti-join against the (tiny) clustered-id set.
    */
  def nearDupDropBest(docs: DataFrame, idCol: String, textCol: String,
                      score: Column, threshold: Double = 0.8,
                      maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = nearDupLabels(docs, idCol, textCol, threshold, maxIter)
      .withColumnRenamed("node", idCol)
    val scored = docs.select(col(idCol), score.as("__score"))
      .join(labels, Seq(idCol))
    val w = Window.partitionBy("label")
      .orderBy(col("__score").desc, col(idCol))
    val bestIds = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select(col(idCol))
    docs.join(labels.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(docs.join(bestIds, Seq(idCol), "left_semi"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): rows whose EMBEDDINGS are near-identical
    * (cosine >= threshold) cluster together and all but the minimum-id
    * representative are dropped — the embedding-space twin of
    * [[nearDupDrop]], catching paraphrases and re-encodings that share
    * no n-grams. Returns the dropped→keeper mapping `(idCol, kept_id)`
    * — the auditable artifact; [[semanticDedupDrop]] applies it.
    *
    * Scale shape: candidate pairs come from the banded hyperplane LSH
    * path (only (bandKey, id) rows shuffle — vectors never do until
    * in-bucket verification), the pair list is materialized once
    * (localCheckpoint) because it feeds the CC size gate, the node set,
    * and the join branches, and the component computation runs over
    * ONLY rows that occur in a pair. Band parameters default to the
    * q51-proven full-recall setting for this embedding distribution;
    * tune (bands, bitsPerBand) to the corpus's similarity structure as
    * documented on [[graft.dedup.NearDup.lshCosinePairsBanded]].
    */
  def semanticDedupLabels(embs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, bands: Int = 96,
                          bitsPerBand: Int = 6, maxIter: Int = 50): DataFrame = {
    val pairs = NearDup.lshCosinePairsBanded(embs, idCol, vecCol, threshold,
        bands, bitsPerBand)
      .select(col("id_a"), col("id_b")).transform(graft.state.Checkpoints.stable)
    val nodes = pairs.select(col("id_a").as("node"))
      .unionByName(pairs.select(col("id_b").as("node"))).distinct()
    minLabelComponents(nodes, pairs, maxIter)
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol), col("label").as("kept_id"))
  }

  /** Apply [[semanticDedupLabels]]: the input minus dropped rows.
    * Unclustered rows pass through via one anti-join against the
    * (tiny) dropped-id set — they never shuffle.
    */
  def semanticDedupDrop(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bands: Int = 96,
                        bitsPerBand: Int = 6, maxIter: Int = 50): DataFrame =
    embs.join(
      semanticDedupLabels(embs, idCol, vecCol, threshold, bands, bitsPerBand, maxIter)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Incremental SemDeDup admission — the embedding-space twin of
    * [[graft.dedup.NearDup.incrementalDedup]]: an incoming batch
    * is admitted against an established corpus that participates ONLY
    * through stored int8-quantized embedding state
    * ([[graft.similarity.Ann.quantizeInt8]] output `(idCol, scale,
    * qvec)`) — 4× smaller than the fp32 vectors, never re-encoded, and
    * the only thing the 100 TB daily-increment driver has to persist
    * between batches. A batch row is rejected when (a) its cosine
    * against any corpus row reaches `threshold`, or (b) it is a
    * non-minimum-id member of a batch-internal near-dup component among
    * the corpus-survivors. Returns (admitted incoming rows, the
    * admitted rows' quantized state to append, release handle): both
    * outputs are lazy, and the handle, called once both are written
    * or cut, frees what the call cached (the MinHash twin's contract).
    *
    * Cosine is SCALE-INVARIANT, so similarity is verified directly on
    * the int8 code arrays — the per-vector `scale` never participates
    * in admission (it is carried in the state for downstream
    * dequantization/rerank consumers), and because BOTH sides band and
    * verify on the same quantized representation the decision is a pure
    * function of the stored state: no fp32-vs-int8 asymmetry at the
    * threshold, and any engine recomputing the q89 quantization formula
    * reproduces the admission exactly (the q92 oracle does). The codes
    * feed the banding and cosine expressions directly: each element
    * converts to double exactly inside the fused codegen loop.
    *
    * Scale shape is the MinHash path's, through the same kernel
    * ([[admitBatch]]): candidates come from banded hyperplane LSH over
    * the codes — the state's band rows carry their codes past the
    * batch's broadcast band keys and are verified in the same pass, so
    * nothing shuffles; the corpus contributes O(|state|), not
    * O(corpus text/fp32), and is never cached, so the release handle
    * never touches a caller-owned corpus cache. Rows with a
    * NULL/empty embedding cannot be near-dups — admitted
    * unconditionally, excluded from the new state (parity with the
    * MinHash path's short-row rule). Recall is the (bands, bitsPerBand)
    * OR-amplification envelope documented on
    * [[graft.dedup.NearDup.lshCosinePairsBanded]].
    */
  def incrementalSemanticDedup(
      corpusState: DataFrame, incoming: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bands: Int = 96,
      bitsPerBand: Int = 6, seed: Long = 42L,
      maxIter: Int = 50): (DataFrame, DataFrame, () => Unit) = {
    val codes = graft.similarity.Ann.int8Codes(col(vecCol))
    admitBatch(corpusState, incoming, idCol,
      eligible = col(vecCol).isNotNull && size(col(vecCol)) > 0,
      state = Seq("scale" -> codes.getField("scale"), "qvec" -> codes.getField("qvec")),
      payload = "qvec",
      bandRows = df => df.select(col("__id"), col("__p"),
        explode(graft.expressions.SimilarityExpressions.hyperplane_bands(
          col("__p"), bands, bitsPerBand, seed)).as("__band")),
      verify = (a, b) => NearDup.cosine(a, b) >= threshold,
      maxIter = maxIter)
  }

  /** The admission kernel shared by both incremental families
    * ([[graft.dedup.NearDup.incrementalDedup]],
    * [[incrementalSemanticDedup]]): admit the `incoming` rows
    * that are near-dups of neither the stored `corpus` state nor a
    * kept lower-id row of the same batch.
    *
    * A family supplies its `eligible` predicate (rows failing it cannot
    * be near-dups and are admitted unconditionally), its `state`
    * columns computed per eligible row (`payload` names the one that
    * is banded and verified; the corpus carries the same columns),
    * `bandRows` mapping an `(__id, __p)` frame to `(__id, __p, key...)`
    * band rows (each band row keeps its payload), and the pairwise
    * `verify` predicate over two payloads (the batch row's first).
    *
    * Materialization strategy — one cache and one corpus pass per
    * call, since on a micro-batch the driver time between jobs, not the
    * work, is the cost:
    *  - the batch (incoming rows wrapped as one struct, plus the state
    *    columns) is persisted once and materialized by the job that
    *    collects the ids of its ineligible rows; every later read of
    *    the batch comes from that cache;
    *  - the corpus state is read once and never cached: its band rows,
    *    with the batch's own band rows (self, a < b) beside them, meet
    *    two batch-sized broadcasts, the batch's band keys and the
    *    batch's payloads by id, and `verify` runs in that same
    *    pipeline, so the pair plan holds no shuffle. A pair colliding
    *    in several bands is verified once per band; the payload stays
    *    out of the band-key broadcast, which would copy it once per
    *    band. A corpus row with a NULL id matches nothing;
    *  - `limit(smallEdgeLimit + 1)` collects the verified rows directly
    *    and the driver removes duplicate pairs, so up to the limit
    *    there is no cut: the rejected ids (corpus matches plus the
    *    non-minimum members of the components the corpus survivors'
    *    self pairs form) come from union-find on the driver, and each
    *    write is one narrow job over the batch cache filtered by an
    *    id predicate in the id column's own type. The gate counts rows
    *    before that dedup, so a truncated sample always takes the
    *    distributed branch: over the limit, or for an id type without
    *    a driver ordering, the distinct pairs are cut eagerly
    *    (Checkpoints.stable) for the several consumers of the
    *    distributed fixpoint. Collision and verification are facts
    *    about a pair alone, so dropping the self pairs that touch a
    *    corpus-matched row afterwards leaves exactly the self pairs of
    *    the corpus survivors.
    *
    * The returned handle frees the batch cache and, if the distributed
    * branch ran, its pair cut.
    *
    * Output contract (the q75/q92 oracles and the specs pin it): an
    * eligible row is admitted iff its id is not rejected, and an
    * eligible row with a NULL id is never admitted; an ineligible row
    * is admitted once, and a second time when an admitted eligible row
    * of the same batch carries its id; rows sharing an id are all kept
    * or all rejected. The new state holds the admitted eligible rows'
    * `idCol` and `state` columns. The driver holds the distinct ids of
    * the ineligible rows for one step: they are the rows admitted
    * without any work.
    */
  private[graft] def admitBatch(
      corpus: DataFrame, incoming: DataFrame, idCol: String,
      eligible: Column, state: Seq[(String, Column)], payload: String,
      bandRows: DataFrame => DataFrame, verify: (Column, Column) => Column,
      maxIter: Int = 50,
      smallEdgeLimit: Long = 100000L): (DataFrame, DataFrame, () => Unit) = {
    val batch = incoming.select(
        Seq(struct(col("*")).as("__in"), col(idCol), eligible.as("__elig")) ++
          state.map { case (n, c) => when(eligible, c).as(n) }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the one job that materializes the batch cache (a scan builds
    // whole cached partitions); the ids of its ineligible rows are
    // needed only for the rare id shared with an eligible row
    val ineligible = batch.filter(!col("__elig")).select(col(idCol))
      .collect().map(_.get(0)).filter(_ != null).distinct
    val shared =
      if (ineligible.isEmpty) Array.empty[Any]
      else batch.filter(col("__elig") && isIn(col(idCol), ineligible))
        .select(col(idCol)).collect().map(_.get(0)).distinct

    val mine = batch.filter(col("__elig"))
      .select(col(idCol).as("__id"), col(payload).as("__p"))
    val probe = bandRows(mine)
    val keys = probe.columns.filterNot(Set("__id", "__p")).toSeq
    val verified = bandRows(corpus.filter(col(idCol).isNotNull)
          .select(col(idCol).as("__id"), col(payload).as("__p")))
        .withColumn("__self", lit(false))
        .unionByName(probe.withColumn("__self", lit(true)))
        .withColumnsRenamed(Map("__id" -> "__b", "__p" -> "__pb"))
      .join(broadcast(probe.select(col("__id").as("__a") +: keys.map(col): _*)), keys)
      .filter(!col("__self") || col("__a") < col("__b"))
      .join(broadcast(mine.select(col("__id").as("__a"), col("__p").as("__pa"))), "__a")
      .filter(verify(col("__pa"), col("__pb")))
      .select("__a", "__b", "__self")

    val sample = verified.limit(math.min(smallEdgeLimit + 1, Int.MaxValue.toLong).toInt)
      .collect()
    val driverOrder: Option[Ordering[Any]] = batch.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(Ordering.by[Any, Long](asLong))
      case StringType => Some(Ordering.by[Any, String](_.asInstanceOf[String]))
      case _ => None
    }
    val candidates = batch.filter((col("__elig") || isIn(col(idCol), shared)) &&
      col(idCol).isNotNull)
    val (kept, cut) = driverOrder match {
      case Some(ord) if sample.length <= smallEdgeLimit =>
        // rejected ids: the batch rows with a verified corpus match,
        // plus the non-minimum members of the components their self
        // pairs form
        val pairs = sample.map(r => (r.get(0), r.get(1), r.getBoolean(2))).distinct
        val hits = pairs.collect { case (a, _, false) => a }.toSet
        val edges = pairs.collect { case (a, b, true) if !hits(a) && !hits(b) => (a, b) }
        val rejected = hits ++ driverUnionFind(edges)(ord).collect {
          case (n, root) if n != root => n }
        (candidates.filter(!isIn(col(idCol), rejected)), None)
      case _ =>
        val pairs = verified.distinct().transform(graft.state.Checkpoints.stable)
        (candidates.join(distributedRejects(pairs, maxIter), col(idCol) === col("__r"),
          "left_anti"), Some(pairs))
    }
    val admitted = batch.filter(!col("__elig")).unionByName(kept).select("__in.*")
    val newState = kept.filter(col("__elig"))
      .select((idCol +: state.map(_._1)).map(col): _*)
    (admitted, newState, () => {
      batch.unpersist(blocking = false)
      cut.foreach(graft.state.Checkpoints.release(_))
    })
  }

  /** `c` is one of `ids` (values of `c`'s own type, no NULL), as one
    * InSet predicate; `false` for no ids.
    */
  private def isIn(c: Column, ids: Iterable[Any]): Column =
    if (ids.isEmpty) lit(false)
    else org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.graftbridge.ColumnBridge.toExpression(c),
        ids.iterator.map {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case v => v
        }.toSet))

  /** [[admitBatch]]'s distributed branch: the rejected ids `__r` of a
    * cut of distinct verified pairs, through the distributed fixpoint.
    */
  private def distributedRejects(pairs: DataFrame, maxIter: Int): DataFrame = {
    val hits = pairs.filter(!col("__self")).select(col("__a").as("__r"))
    val self = pairs.filter(col("__self"))
      .join(hits.select(col("__r").as("__a")), Seq("__a"), "left_anti")
      .join(hits.select(col("__r").as("__b")), Seq("__b"), "left_anti")
      .select(col("__a").as("id_a"), col("__b").as("id_b"))
    val nodes = self.select(col("id_a").as("node"))
      .unionByName(self.select(col("id_b").as("node"))).distinct()
    hits.unionByName(minLabelComponents(nodes, self, maxIter)
      .filter(col("node") =!= col("label")).select(col("node").as("__r")))
  }

  /** Stage 5 — token budgeting: running token total in a deterministic
    * document order (by id), cut at `budget` tokens.
    *
    * A single global-order window would serialize on one partition; at
    * scale the cumulative sum is computed two-level: per-id-bucket
    * totals → tiny bucket-offset table (broadcast) → within-bucket
    * windows partitioned by bucket. Wall-clock is bounded by the
    * largest bucket, not the corpus.
    */
  def tokenBudget(docs: DataFrame, idCol: String, textCol: String,
                  budget: Long, bucketSize: Long = 100000L): DataFrame =
    tokenBudgetWithCounts(docs, idCol,
      TextOps.tokenCount(col(textCol)).cast("long"), budget, bucketSize)

  /** [[tokenBudget]] with a caller-supplied per-doc token-count
    * expression — the hook that swaps the whitespace estimate for
    * counts from a TRAINED tokenizer (join [[graft.text.Bpe
    * .tokenCounts]]'s frame and pass its column): budgets keyed on
    * learned-BPE counts instead of the regex approximation, same
    * two-level cumsum underneath.
    */
  def tokenBudgetWithCounts(docs: DataFrame, idCol: String,
                            countExpr: Column, budget: Long,
                            bucketSize: Long = 100000L): DataFrame = {
    val toked = docs.withColumn("__n_tok", countExpr.cast("long"))
    val (bucketed, wi) = graft.operators.TwoLevelCumsum.withOffsets(
      toked, expr(s"`$idCol` div ${bucketSize}L"), col("__n_tok"), Seq(col(idCol)))
    bucketed
      .withColumn("__cum", col("__off") + sum("__w").over(wi))
      .filter(col("__cum") <= budget)
      .drop("__n_tok", "__b", "__w", "__off", "__cum")
  }

  /** Sequence packing, concat-then-chunk style: documents are laid out
    * in deterministic id order into one virtual token stream and
    * chunked into fixed `packLen` training sequences; each document
    * reports the pack its FIRST token lands in and its offset there
    * (documents may straddle pack boundaries, as GPT-style packing
    * does). The global token offset uses the same two-level cumulative
    * sum as [[tokenBudget]] — per-bucket totals, broadcast offset
    * table, within-bucket windows — so no global-order window
    * serializes the corpus at scale.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    packLen: Long, bucketSize: Long = 100000L): DataFrame = {
    require(packLen > 0, s"packLen must be positive, got $packLen")
    val toked = docs
      .withColumn("__n_tok", TextOps.tokenCount(col(textCol)).cast("long"))
    val (bucketed, wi) = graft.operators.TwoLevelCumsum.withOffsets(
      toked, expr(s"`$idCol` div ${bucketSize}L"), col("__n_tok"), Seq(col(idCol)))
    bucketed
      .withColumn("__start", col("__off") + sum("__w").over(wi) - col("__n_tok"))
      .select(col(idCol), col("__n_tok").as("n_tokens"),
        expr(s"__start div ${packLen}L").as("pack_id"),
        (col("__start") % packLen).as("pack_offset"))
  }

  /** Overlapping document chunking — the context-window prep step for
    * training/retrieval: chunk i covers whitespace tokens
    * [i·stride, i·stride + chunkTokens) with stride =
    * chunkTokens − overlap; a document of n tokens yields
    * ceil((n − overlap) / stride) chunks (min 1 for any non-empty
    * doc; empty/NULL docs yield no rows). Pure codegen'd expressions:
    * the token array is let-bound (ExprOps.bind) and sliced per
    * chunk — no UDF, no shuffle, linear at 100 TB.
    *
    * Returns (idCol, chunk_id, chunk_text).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    val stride = chunkTokens - overlap
    val chunks = graft.expressions.ExprOps.bind(TextOps.tokens(col(textCol))) { toks =>
      val n = size(toks)
      val nChunks = greatest(lit(1L),
        ceil((n - lit(overlap)).cast("double") / stride).cast("long"))
      when(coalesce(n, lit(0)) <= 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0L), nChunks - 1), i =>
          array_join(slice(toks, (i * stride + 1).cast("int"), lit(chunkTokens)), " ")))
    }
    // aliased explode outputs: posexplode's default names (pos, col)
    // would collide with an id column of the same name
    docs.select(col(idCol), posexplode(chunks).as(Seq("__pos", "__chunk")))
      .select(col(idCol), col("__pos").cast("long").as("chunk_id"),
        col("__chunk").as("chunk_text"))
  }

  /** Per-group token budget: within each group (language, domain,
    * source), keep documents in id order until the group's budget is
    * reached — the proportional-mix control a multilingual pretraining
    * run needs.
    *
    * Scale shape (r7 verdict fix): the per-group running total uses
    * the same two-level cumulative sum as [[tokenBudget]], applied per
    * (group, id-bucket) — per-(group, bucket) totals roll into a tiny
    * broadcast offset table and the data-side window partitions by
    * (group, bucket). The earlier `Window.partitionBy(groupCol)` form
    * serialized EVERY document of a group through one task's sort —
    * groups here are languages/sources, so at 100 TB the "en" group is
    * most of the corpus in a single partition. Now wall-clock is
    * bounded by the hottest (group, bucket) cell (≤ bucketSize ids),
    * regardless of group skew.
    *
    * Requires a NUMERIC id (the bucket is `id div bucketSize`). Rows
    * with a NULL id form their own first bucket and budget-count
    * before all others (NULLS FIRST, the same order the per-group
    * window form gave them); the null-safe bucket join in
    * TwoLevelCumsum is what keeps them (review r8).
    */
  def tokenBudgetByGroup(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetPerGroup: Map[String, Long],
      bucketSize: Long = 100000L): DataFrame = {
    val budgets = typedlit(budgetPerGroup)
    val toked = docs
      .withColumn("__n_tok", TextOps.tokenCount(col(textCol)).cast("long"))
    val (bucketed, wi) = graft.operators.TwoLevelCumsum.withGroupedOffsets(
      toked, Seq(groupCol), expr(s"`$idCol` div ${bucketSize}L"),
      col("__n_tok"), Seq(col(idCol)))
    bucketed
      .withColumn("__cum", col("__off") + sum("__w").over(wi))
      .filter(col("__cum") <=
        coalesce(try_element_at(budgets, col(groupCol).cast("string")), lit(0L)))
      .drop("__n_tok", "__b", "__w", "__off", "__cum")
  }

  /** CCNet head/middle/tail quality bucketing (Wenzek et al. 2020
    * §4.4): documents are scored by LM perplexity and split per group
    * (CCNet buckets per LANGUAGE) into the best-scoring `headFrac`,
    * the next `middleFrac − headFrac`, and the rest — head data is
    * what the paper's pretraining runs consume first. Bucket
    * boundaries are VALUE thresholds, not rank splits: the cut ppl
    * for fraction p is the smallest score whose cumulative doc count
    * reaches ceil(n·p) (percentile_disc semantics), and every
    * document compares against that threshold — so tied scores always
    * land in the same bucket and any engine recomputing the rule from
    * the (group, ppl) histogram reproduces the assignment exactly.
    *
    * 100 TB shape: scoring is [[graft.text.NgramLm.scorePerplexity]]
    * (hash-keyed model joins, per-doc aggregate); the threshold pass
    * runs on the (group, ppl) HISTOGRAM — one row per distinct
    * rounded score, not per document — with its cumulative count
    * built by the grouped two-level cumsum (integer-ppl buckets, tiny
    * broadcast offset table), so no window ever partitions on a bare
    * group key (the r7 tokenBudgetByGroup finding), and the final
    * assignment is a broadcast join of the #groups-row threshold
    * table. Documents with fewer than two normalized tokens carry no
    * LM score and are excluded, as in q93.
    *
    * Returns ((idCol, groupCol, ppl, bucket ∈ head|middle|tail),
    * release handle). NULL group values form their own group
    * (null-safe joins throughout). The output is lazy; the handle
    * unpersists the per-doc score frame (three consumers: histogram,
    * totals, final assignment — without the cache the LM joins would
    * run thrice), so call it once the output is materialized.
    */
  def perplexityBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, lm: graft.text.NgramLm.BigramLm,
      headFrac: Double = 1.0 / 3.0,
      middleFrac: Double = 2.0 / 3.0): (DataFrame, () => Unit) = {
    require(0 < headFrac && headFrac < middleFrac && middleFrac <= 1.0,
      s"need 0 < headFrac < middleFrac <= 1, got ($headFrac, $middleFrac)")
    val scored = graft.text.NgramLm.scorePerplexity(docs, idCol, textCol, lm)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = scored.groupBy(col(groupCol), col("ppl"))
      .agg(count(lit(1)).as("__c"))
    // cumulative doc count per group in ppl order, two-level over
    // integer-ppl buckets (ppl >= 1 always: it is exp of a mean of
    // -ln(p), p <= 1) — the only unpartitioned window is the
    // #groups × #buckets offset table inside withGroupedOffsets
    val (bucketed, wi) = graft.operators.TwoLevelCumsum.withGroupedOffsets(
      hist, Seq(groupCol), floor(col("ppl")).cast("long"),
      col("__c"), Seq(col("ppl")))
    val cum = bucketed.withColumn("__cum", col("__off") + sum("__w").over(wi))
    val tot = hist.groupBy(col(groupCol)).agg(sum("__c").as("__n"))
      .select(col(groupCol).as("__tg"), col("__n"))
    val thr = cum.join(broadcast(tot), col(groupCol) <=> col("__tg"))
      .groupBy(col(groupCol))
      .agg(
        min(when(col("__cum") >= ceil(col("__n") * lit(headFrac)), col("ppl"))).as("__t1"),
        min(when(col("__cum") >= ceil(col("__n") * lit(middleFrac)), col("ppl"))).as("__t2"))
      .select(col(groupCol).as("__bg"), col("__t1"), col("__t2"))
    val out = scored.join(broadcast(thr), col(groupCol) <=> col("__bg"))
      .withColumn("bucket",
        when(col("ppl") <= col("__t1"), lit("head"))
          .when(col("ppl") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(groupCol), col("ppl"), col("bucket"))
    (out, () => scored.unpersist(blocking = false))
  }

  /** Corpus-level PII scrub: the reference's redaction rules
    * (RefFunctions.redactPii golden-tested against
    * tests/test_dataflow_utils.py:285-295) applied to the text column
    * of every surviving document — a pure row map.
    */
  def redactCorpusPii(
      docs: DataFrame, textCol: String,
      retainLocation: Boolean = true): DataFrame = {
    val f = if (retainLocation) graft.functions.RefFunctions.redactPiiUdf
    else graft.functions.RefFunctions.redactPiiNoPlacesUdf
    docs.withColumn(textCol, f(col(textCol)))
  }

  /** CCNet/Dolma-style boilerplate-line removal: drop every NON-BLANK
    * line that occurs in more than `maxDocs` distinct documents
    * corpus-wide (cookie banners, nav chrome, license footers), keeping
    * line order within each surviving document. Blank/whitespace-only
    * lines are never candidates — they occur everywhere and stripping
    * them would collapse paragraph structure corpus-wide (CCNet/Dolma
    * likewise count non-empty lines only).
    *
    * 100 TB shape: ONE exploded scan, persisted (memory-then-disk,
    * lineage kept so executor loss recomputes), feeds both the
    * frequency count and the rebuild — a repartition barrier alone
    * cannot share it, because per-branch column pruning makes the two
    * exchange subtrees non-identical and ReuseExchange never fires.
    * The frequency shuffle keys on (64-bit hash, line) so the count is
    * exact per line TEXT, and the removal anti-join verifies the text,
    * not just the hash — a rare line colliding with boilerplate
    * survives. The over-threshold side carries no broadcast hint: AQE
    * sees its runtime size and picks broadcast when it is small
    * (normal) or a shuffle join when an aggressive `maxDocs` makes it
    * large — the driver is never the bottleneck. Returns the input
    * columns with `textCol` rewritten (possibly to the empty string),
    * lazily, and a release handle that unpersists the exploded-lines
    * frame (one row per LINE of the corpus — the largest cache in the
    * pipeline): call it as soon as the result is materialized, as
    * `curate` does after its first stage count.
    */
  def dropBoilerplateLines(
      docs: DataFrame, idCol: String, textCol: String,
      maxDocs: Int): (DataFrame, () => Unit) = {
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bad = lines
      .filter(trim(col("__line")) =!= "")
      .select(col(idCol), xxhash64(col("__line")).as("__lh"), col("__line").as("__bad_line"))
      .distinct()
      .groupBy("__lh", "__bad_line").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxDocs)
      .select("__lh", "__bad_line")
    val kept = lines.join(bad,
      xxhash64(col("__line")) === bad("__lh") &&
        col("__line") === bad("__bad_line"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")), "\n").as("__clean"))
    (docs.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean"), () => lines.unpersist(blocking = false))
  }

  /** Paragraph-level exact dedup, C4/Dolma-style: every occurrence of
    * a non-blank paragraph EXCEPT the globally first (minimum
    * (doc id, position)) is removed, and each document's text is
    * rebuilt from its surviving paragraphs in order. This is the
    * within-and-across-document twin of [[dropBoilerplateLines]]:
    * boilerplate removal drops a line from EVERY document once it is
    * frequent enough, while paragraph dedup always KEEPS the first
    * occurrence — the C4 rule ("we discarded all but one of any
    * three-sentence span occurring more than once", Raffel et al.
    * 2020 §2.2, applied here at paragraph granularity like Dolma's
    * paragraph dedup). Blank/whitespace-only paragraphs are never
    * candidates: they separate content everywhere and deduping them
    * would collapse document structure corpus-wide.
    *
    * 100 TB shape: one exploded per-paragraph scan (persisted — it
    * feeds both the first-occurrence aggregate and the keep join);
    * the first-occurrence pass is a partial-aggregatable min over
    * (64-bit hash, paragraph text) — deliberately NOT a row_number
    * window over the paragraph key, whose partition would serialize
    * every occurrence of a viral paragraph through one task; the keep
    * decision verifies the TEXT, not just the hash, so a paragraph
    * colliding with an earlier one survives (same collision contract
    * as boilerplate removal).
    *
    * Returns the input columns with `textCol` rewritten (possibly to
    * the empty string) plus `n_removed_paragraphs`, lazily, and a
    * release handle that unpersists the exploded-paragraphs frame (one
    * row per paragraph of the corpus — the stage's largest cache) once
    * the result is materialized.
    */
  def dedupParagraphs(
      docs: DataFrame, idCol: String, textCol: String): (DataFrame, () => Unit) = {
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__para")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = paras
      .filter(trim(col("__para")) =!= "")
      .groupBy(xxhash64(col("__para")).as("__ph"), col("__para").as("__ftext"))
      .agg(min(struct(col(idCol).as("id"), col("__pos").as("pos"))).as("__first"))
    val kept = paras.join(firsts,
        xxhash64(col("__para")) === col("__ph") &&
          col("__para") === col("__ftext"), "left")
      .filter(col("__first").isNull ||  // blank paragraphs: always kept
        struct(col(idCol).as("id"), col("__pos").as("pos")) === col("__first"))
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
            x => x.getField("__para")), "\n").as("__clean"),
        count(lit(1)).as("__nk"))
    val out = docs
      .withColumn("__np", size(split(col(textCol), "\n")).cast("long"))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("n_removed_paragraphs",
        col("__np") - coalesce(col("__nk"), lit(0L)))
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .drop("__clean", "__nk", "__np")
    (out, () => paras.unpersist(blocking = false))
  }

  /** Benchmark decontamination: count, per document, the distinct word
    * n-grams it shares with a benchmark/eval set — documents with any
    * overlap are flagged for exclusion (the standard n-gram
    * decontamination rule for pretraining corpora).
    *
    * 100 TB shape: the benchmark gram set is small (eval suites are
    * MBs) and broadcasts; the corpus side explodes to distinct grams
    * and filters against the broadcast — no corpus shuffle at all
    * except the tiny per-doc count aggregate.
    */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    val docGrams = docs.select(col(idCol),
      explode(TextOps.wordShingles(col(textCol), n)).as("__g"))
    val benchGrams = benchmark
      .select(explode(TextOps.wordShingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    docGrams.join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contaminated_grams"))
  }

  /** Graded member of the decontamination family: instead of
    * [[decontaminate]]'s binary "has ≥1 benchmark gram" flag, report
    * each document's CONTAMINATION FRACTION — the share of its n-gram
    * OCCURRENCES (with multiplicity, Lee et al. 2022's containment
    * convention) found in the benchmark gram set. A doc quoting one
    * eval question verbatim scores high; a doc sharing one common
    * phrase scores near zero — the number a kill-threshold policy
    * actually wants. Emits every doc with ≥ n tokens: (idCol,
    * total_grams, hit_grams, containment round 6 — a ratio of exact
    * integer counts, engine-identical).
    *
    * 100 TB shape: bench grams broadcast (eval suites are small); the
    * doc-gram explode is map-side and feeds a broadcast LEFT join +
    * per-doc count aggregate with map-side combine — the only shuffle
    * carries 2 longs per doc. Bench sets too big to broadcast switch
    * to the [[decontaminateBloom]] bit-array, same as the binary path.
    */
  def containmentScore(
      docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    val docGrams = docs.select(col(idCol),
      explode(TextOps.wordNgrams(col(textCol), n)).as("__g"))
    val benchGrams = benchmark
      .select(explode(TextOps.wordShingles(col(benchTextCol), n)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    docGrams.join(broadcast(benchGrams), Seq("__g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("total_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("hit_grams"))
      .withColumn("containment",
        round(col("hit_grams").cast("double") / col("total_grams"), 6))
  }

  /** SEMANTIC member of the decontamination family (exact-gram join →
    * Bloom → this): flags corpus rows whose EMBEDDING reaches
    * `threshold` cosine against ANY benchmark row — paraphrased or
    * re-worded eval leakage that shares no n-grams, the failure mode
    * gram decontamination cannot see. Returns
    * (idCol, n_matches, max_cos).
    *
    * 100 TB shape mirrors [[decontaminate]]: eval suites are small
    * (thousands of rows), so the benchmark VECTORS broadcast and each
    * corpus row scans them inside a map (BroadcastNestedLoopJoin —
    * |bench| fused-loop cosines per row, no corpus shuffle); only the
    * tiny flagged match set shuffles into the per-id aggregate. For a
    * benchmark too big to broadcast, band both sides with
    * [[graft.dedup.NearDup.lshCosinePairsBanded]]'s machinery instead
    * — the same knob documented for the dedup paths.
    */
  def semanticDecontaminate(
      corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchVecCol: String,
      threshold: Double): DataFrame = {
    val b = broadcast(bench.select(col(benchVecCol).as("__bvec")))
    corpus.select(col(idCol), col(vecCol).as("__cvec"))
      .crossJoin(b)
      .withColumn("__cos", NearDup.cosine(col("__cvec"), col("__bvec")))
      .filter(col("__cos") >= threshold)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_matches"),
        round(max(col("__cos")), 6).as("max_cos"))
  }

  /** Scale variant of [[decontaminate]] for reference gram sets too
    * large to broadcast as join rows (decontaminating against another
    * CORPUS, not a benchmark suite): a Bloom filter built over the
    * reference grams replaces the broadcast hash join — the bit array
    * is ~1.8 GB per 10^9 grams at 0.1% fpp versus tens of GB of gram
    * strings, and the probe side stays a pure map (no shuffle at all
    * until the tiny per-doc count aggregate).
    *
    * Contract: NO false negatives — every truly contaminated document
    * is flagged with at least its true gram count; false positives
    * inflate counts at the fpp rate, so the output is a conservative
    * kill list. The count column is named `n_candidate_grams` (not
    * `n_contaminated_grams`) to keep the exact and approximate
    * contracts distinct. Spark's Bloom hashes are fixed-seed, so the
    * output is deterministic for a given (data, fpp).
    *
    * Returns the lazy output and a release handle that destroys the
    * broadcast bit array; call it once the output is materialized.
    * Each call broadcasts a fresh filter (gigabytes at the 10^9-gram
    * scale this path exists for) that is otherwise pinned until the
    * ContextCleaner happens to run.
    */
  def decontaminateBloom(
      docs: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, n: Int = 3,
      fpp: Double = 0.001): (DataFrame, () => Unit) = {
    // persisted across the two build actions (count for sizing +
    // bloomFilter aggregate) — without it the explode+distinct shuffle
    // of the reference corpus runs twice
    val refGrams = reference
      .select(explode(TextOps.wordShingles(col(refTextCol), n)).as("__g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The sizing is floored at 100k items (~0.5 MB at fpp 1e-3):
    // Spark's BloomFilterImpl uses two-hash double hashing, whose
    // observed fp rate collapses to ~1% on degenerate tiny bit arrays
    // (probed: 4 items at requested fpp 1e-6 -> 128 bits -> 0.75%
    // observed) — the floor keeps the filter out of that regime at
    // negligible memory cost
    val nGrams = math.max(refGrams.count(), 100000L)
    val bf  = refGrams.stat.bloomFilter("__g", nGrams, fpp)
    refGrams.unpersist(blocking = false)
    val bfB = docs.sparkSession.sparkContext.broadcast(bf)
    val hit = udf((g: String) => g != null && bfB.value.mightContainString(g))
    val out = docs
      .select(col(idCol), explode(TextOps.wordShingles(col(textCol), n)).as("__g"))
      .filter(hit(col("__g")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_candidate_grams"))
    (out, () => bfB.destroy())
  }

  /** The exploded (id, start, hash, span) frame behind the
    * duplicate-span family: every overlapping `w`-token window of the
    * case-folded text with its 1-based start token position and its
    * 64-bit hash as the scale-path aggregation key.
    */
  private def spanFrame(docs: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame =
    docs.select(col(idCol), TextOps.tokens(lower(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= w)
      .select(col(idCol), posexplode(transform(
          sequence(lit(1), size(col("__t")) - (w - 1)),
          i => concat_ws(" ", slice(col("__t"), i, lit(w)))))
        .as(Seq("__pos0", "span")))
      .select(col(idCol), (col("__pos0") + 1).as("__s"), col("span"),
        xxhash64(col("span")).as("__h"))

  /** Cross-document duplicated token spans — the exact-substring
    * duplication signal of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al., 2022), realized Spark-first
    * as overlapping w-token windows instead of a suffix array: every
    * case-folded `windowTokens`-token window occurring in at least
    * `minDocs` distinct documents, with its document frequency and
    * total occurrence count. Returns (span, n_docs, n_occurrences).
    *
    * Scale shape: the explode is a map-side expansion (~one row per
    * token); the aggregate groups on the 8-byte xxhash64 of the span
    * — map-side partial aggregation applies, and the shuffle carries
    * (hash, id, one span sample via min) rather than every window
    * string. A spurious hash merge needs ~2^32 distinct spans
    * (64-bit birthday bound) — acceptable for a dedup/reporting
    * signal at any realistic corpus size.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int = 8, minDocs: Long = 2): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    spanFrame(docs, idCol, textCol, windowTokens)
      .groupBy(col("__h"))
      .agg(min(col("span")).as("span"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .select("span", "n_docs", "n_occurrences")
  }

  /** Per-document duplicated-window fraction — the removal signal the
    * span table feeds: for each document with at least one full
    * window, the count of its windows whose span also occurs in
    * ≥ `minDocs` distinct documents, and that count as a fraction of
    * the document's windows. Documents shorter than `windowTokens`
    * tokens have no windows and yield no row.
    *
    * The span frame feeds two consumers (dup-set aggregate + per-doc
    * rollup), each a map-explode + one 8-byte-key shuffle, so it is
    * persisted: the explode otherwise runs twice per action. The
    * output is lazy; the returned handle unpersists the span frame,
    * so call it only after the output is materialized. A driver at
    * scale that also wants the span table should persist
    * `duplicateSpans` output and reuse it rather than re-deriving.
    */
  def duplicateSpanFraction(
      docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDocs: Long = 2): (DataFrame, () => Unit) = {
    val sp = spanFrame(docs, idCol, textCol, windowTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = sp.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(1).as("__dup"))
    val out = sp.join(dupHashes, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0))).cast("long").as("n_dup_windows"))
      .withColumn("dup_fraction",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
    (out, () => sp.unpersist(blocking = false))
  }

  /** Exact-substring span REMOVAL — the surgery step of "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al., 2022),
    * not just its signal (q84/q85): every `windowTokens`-token window
    * whose case-folded span occurs in ≥ `minDocs` distinct documents
    * marks its token positions as duplicated; overlapping/adjacent
    * duplicated windows therefore merge into MAXIMAL spans (the union
    * of their covered positions), and the output text is the document
    * with those spans excised. Matching is case-folded, excision is on
    * the ORIGINAL tokens, so surviving text keeps its case.
    *
    * Returns one row per input document:
    * (idCol, clean_text, n_tokens, n_removed_tokens). A fully
    * duplicated document yields clean_text = '' (kept for the caller
    * to drop or quarantine — not silently removed). The rebuilt text
    * is whitespace-normalized (single spaces): token surgery cannot
    * preserve the original inter-token whitespace.
    *
    * Scale shape: dup-hash aggregation keys on the 8-byte xxhash64
    * (map-side partial agg); covered positions are the dup windows
    * exploded ×w and distinct'd on (id, pos) — output-proportional,
    * never corpus²; the rebuild groups by document id, so the largest
    * sort is one document's tokens. No global structure anywhere.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           windowTokens: Int = 8, minDocs: Long = 2): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    val sp = spanFrame(docs, idCol, textCol, windowTokens)
    val dupHashes = sp.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val dupStarts = sp.join(dupHashes, Seq("__h"), "left_semi")
      .select(col(idCol), col("__s"))
    exciseCovered(docs, idCol, textCol, dupStarts, windowTokens)
  }

  /** The q300 boilerplate RULE as a reusable frame: per source, the
    * case-folded `w`-token window hashes whose document frequency
    * within that source reaches max(2, ceil(n_source_docs/dfDenom)) —
    * the nav-bar/footer signal. Returns (sourceCol, __h).
    *
    * Scale shape: source df aggregates on (source, 8-byte hash) with
    * map-side combine; the threshold join broadcasts the
    * #sources-row doc-count table.
    */
  def boilerplateSpanHashes(docs: DataFrame, idCol: String, textCol: String,
                            sourceCol: String, windowTokens: Int = 8,
                            dfDenom: Int = 10): DataFrame = {
    require(dfDenom > 0, s"dfDenom must be positive, got $dfDenom")
    val src = docs.select(col(idCol), col(sourceCol))
    val nDocs = src.groupBy(col(sourceCol)).agg(count(lit(1)).as("__nd"))
    spanFrame(docs, idCol, textCol, windowTokens)
      .join(src, Seq(idCol))
      .groupBy(col(sourceCol), col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .join(broadcast(nDocs), Seq(sourceCol))
      .filter(col("__df") >=
        greatest(lit(2L), expr(s"(__nd + ${dfDenom - 1}) div $dfDenom")))
      .select(col(sourceCol), col("__h"))
  }

  /** Per-source boilerplate span REMOVAL — the fix the q300 screen
    * calls for: every window matching [[boilerplateSpanHashes]] marks
    * its token positions, overlapping marked windows merge into
    * maximal spans, and the spans are excised
    * ([[removeDuplicateSpans]]'s surgery pointed at within-source
    * boilerplate instead of cross-document duplication). Matching is
    * case-folded; excision keeps the surviving ORIGINAL-case tokens.
    * Returns one row per input document:
    * (idCol, clean_text, n_tokens, n_removed_tokens).
    */
  def removeBoilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
                             sourceCol: String, windowTokens: Int = 8,
                             dfDenom: Int = 10,
                             precomputedHashes: Option[DataFrame] = None)
      : DataFrame = {
    // callers that already hold the rule frame (q321 screens BEFORE
    // removing) pass it in, saving the heaviest pass — the
    // (source, hash) countDistinct over the exploded span stream
    val boiler = precomputedHashes.getOrElse(boilerplateSpanHashes(
      docs, idCol, textCol, sourceCol, windowTokens, dfDenom))
    val src = docs.select(col(idCol), col(sourceCol))
    val dupStarts = spanFrame(docs, idCol, textCol, windowTokens)
      .join(src, Seq(idCol))
      .join(boiler, Seq(sourceCol, "__h"), "left_semi")
      .select(col(idCol), col("__s"))
    exciseCovered(docs, idCol, textCol, dupStarts, windowTokens)
  }

  /** SURGICAL benchmark decontamination — span excision against a
    * benchmark instead of dropping whole documents: every
    * `windowTokens`-token window whose case-folded span occurs
    * ANYWHERE in the benchmark marks its positions, overlapping
    * marked windows merge into maximal spans, and the spans are cut
    * out of the text (the [[removeDuplicateSpans]] surgery pointed at
    * the q73/q115 contamination signal). The middle ground between
    * q73's binary drop and q115's graded score: a long document with
    * one quoted benchmark item survives minus the quote.
    *
    * Scale shape: benchmark windows reduce to DISTINCT 8-byte hashes
    * and the corpus side semi-joins them — Spark broadcasts the hash
    * set when it fits (the q73 broadcast argument, at 8 bytes/gram);
    * everything after is the shared excision tail (output-
    * proportional covered positions, per-document rebuild).
    */
  def decontaminateSpans(docs: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         windowTokens: Int = 8): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    val benchHashes = spanFrame(
      bench.select(lit(0L).as("__bench_id"), col(benchTextCol)),
      "__bench_id", benchTextCol, windowTokens)
      .select(col("__h")).distinct()
    val sp = spanFrame(docs, idCol, textCol, windowTokens)
    val dupStarts = sp.join(benchHashes, Seq("__h"), "left_semi")
      .select(col(idCol), col("__s"))
    exciseCovered(docs, idCol, textCol, dupStarts, windowTokens)
  }

  /** Shared excision tail of the span-surgery family: union the
    * marked windows' covered positions (overlap-merge is exactly the
    * position-set union), drop those tokens, rebuild each document
    * from its surviving ORIGINAL-case tokens in order. The largest
    * sort anywhere is one document's tokens.
    */
  private def exciseCovered(docs: DataFrame, idCol: String, textCol: String,
                            dupStarts: DataFrame, windowTokens: Int): DataFrame = {
    val covered = dupStarts
      .select(col(idCol),
        explode(sequence(col("__s"), col("__s") + lit(windowTokens - 1))).as("__p"))
      .distinct()
    val toks = docs
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol))).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).as("__p"), col("__tok"))
    val rebuilt = toks.join(covered, Seq(idCol, "__p"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nk"),
        array_join(transform(array_sort(collect_list(struct(col("__p"), col("__tok")))),
          s => s.getField("__tok")), " ").as("__clean"))
    docs
      .select(col(idCol),
        coalesce(TextOps.tokenCount(col(textCol)), lit(0)).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__nk"), lit(0L))).as("n_removed_tokens"))
  }

  /** Semantic-dedup stage config for [[curate]]. The LSH band
    * parameters are part of the config because they are a corpus-shape
    * knob (see [[graft.dedup.NearDup.lshCosinePairsBanded]]): the
    * defaults are the q51-proven full-recall setting for near-uniform
    * embeddings; clustered near-dup corpora want fewer, wider bands.
    */
  final case class SemanticDedup(embs: DataFrame, embIdCol: String,
                                 vecCol: String, threshold: Double,
                                 bands: Int = 96, bitsPerBand: Int = 6)

  /** Full curation: optional boilerplate-line removal → quality gates →
    * language filter → optional LM-perplexity gate → exact dedup →
    * near-dup clustering → optional embedding-space semantic dedup →
    * optional duplicated-span gate → optional benchmark
    * decontamination → optional token budget. Stage counts are
    * returned for the curation report.
    *
    * `semanticOpt` runs [[semanticDedupLabels]] over the embeddings of
    * the documents STILL ALIVE after near-dup (ids must share the
    * document id domain) — restricting first means a doc can never be
    * dropped in favor of a keeper that an earlier stage already
    * removed.
    *
    * `lmOpt = (referenceCorpus, maxPpl)` is the CCNet placement
    * (Wenzek et al. 2020 score after language id): a bigram LM trains
    * on the reference corpus's `textCol` and documents whose
    * perplexity exceeds `maxPpl` drop. Documents with no bigrams are
    * NOT dropped here — the length gates own that call.
    *
    * `classifierOpt = (labeledRef, labelCol, keepLabels)` is the
    * GPT-3-style quality-classifier gate: a Naive Bayes model trains
    * on the labeled reference (e.g. wiki vs crawl) and only documents
    * whose argmax label lands in `keepLabels` survive. Runs right
    * after the LM gate — both are model-score gates, and the cheap
    * rule-based gates before them have already shrunk the corpus.
    *
    * `dsirOpt = (targetCorpus, topK)` is DSIR selection (Xie et al.
    * 2023): importance weights against the target distribution, keep
    * the `topK` highest-weighted survivors ((weight, id desc-asc)
    * order — selection is deterministic). Runs LAST, after
    * decontamination, replacing a uniform final sample; compose with
    * `tokenBudgetOpt` for a token-capped selection.
    */
  def curate(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             langs: Seq[String] = Seq("en"),
             gates: QualityGates = QualityGates(),
             nearDupThreshold: Double = 0.8,
             tokenBudgetOpt: Option[Long] = None,
             boilerplateMaxDocs: Option[Int] = None,
             benchmarkOpt: Option[(DataFrame, String, Int)] = None,
             dupSpanOpt: Option[(Int, Double)] = None,
             semanticOpt: Option[SemanticDedup] = None,
             lmOpt: Option[(DataFrame, Double)] = None,
             classifierOpt: Option[(DataFrame, String, Set[String])] = None,
             dsirOpt: Option[(DataFrame, Int)] = None)
      : (DataFrame, Map[String, Long]) = {
    // Per-stage counts are part of the contract (the curation report),
    // but a bare count() per stage re-runs every earlier stage — an
    // O(stages²) pipeline at 100 TB. Each stage is persisted before
    // its count (so the count materializes from the PREVIOUS stage's
    // cache, one stage of new work), and the previous stage is
    // released as soon as its successor is materialized. The returned
    // frame stays cached for the caller's write.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def staged(df: DataFrame, prev: Option[DataFrame]): (DataFrame, Long) = {
      val p = df.persist(lvl)
      val n = p.count()
      prev.foreach(_.unpersist(blocking = false))
      (p, n)
    }
    val n0 = docs.count()
    val (bp, releaseLines) = boilerplateMaxDocs match {
      case Some(k) => dropBoilerplateLines(docs, idCol, textCol, k)
      case None => (docs, () => ())
    }
    val (q, n1)  = staged(qualityFilter(bp, gates), None)
    // q is materialized: the exploded-lines cache (bigger than the
    // corpus) is dead weight from here on
    releaseLines()
    val (l, n2)  = staged(langFilter(q.select(bp.columns.map(col): _*), langs), Some(q))
    // optional LM-perplexity gate (CCNet): train on the reference
    // corpus, drop alive docs scoring above the cap. Bigram-less docs
    // pass (they are un-scorable; the length gates own them).
    val (lmStage, n2a) = lmOpt match {
      case Some((ref, maxPpl)) =>
        val model = graft.text.NgramLm.trainBigramLm(ref, textCol)
        val flagged = graft.text.NgramLm.scorePerplexity(
            l.select(bp.columns.map(col): _*), idCol, textCol, model)
          .filter(col("ppl") > maxPpl).select(col(idCol))
        staged(l.join(flagged, Seq(idCol), "left_anti"), Some(l))
      case None => (l, n2)
    }
    // optional NB quality-classifier gate (the GPT-3 wiki-vs-crawl
    // filter shape): keep only docs predicted into keepLabels
    val (clsStage, n2b) = classifierOpt match {
      case Some((ref, labelCol, keepLabels)) =>
        require(keepLabels.nonEmpty, "classifier gate needs keep labels")
        val model = graft.text.Classify.trainNaiveBayes(ref, labelCol, textCol)
        val kept = graft.text.Classify.scoreNaiveBayes(
            lmStage.select(bp.columns.map(col): _*), idCol, textCol, model)
          .filter(col("pred_label").isin(keepLabels.toSeq: _*))
          .select(col(idCol))
        staged(lmStage.join(kept, Seq(idCol), "left_semi"), Some(lmStage))
      case None => (lmStage, n2a)
    }
    val (e, n3)  = staged(
      exactDedup(clsStage.select(bp.columns.map(col): _*), idCol, textCol), Some(clsStage))
    val (nd, n4) = staged(
      nearDupDrop(e.select(bp.columns.map(col): _*), idCol, textCol, nearDupThreshold), Some(e))
    // optional embedding-space semantic dedup (SemDeDup): clusters are
    // computed over the embeddings of SURVIVING docs only, so every
    // dropped doc's keeper is itself still in the corpus
    val (sd, n4a) = semanticOpt match {
      case Some(cfg) =>
        val alive = cfg.embs.join(nd.select(col(idCol).as(cfg.embIdCol)),
          Seq(cfg.embIdCol), "left_semi")
        val dropped = semanticDedupLabels(alive, cfg.embIdCol, cfg.vecCol,
            cfg.threshold, cfg.bands, cfg.bitsPerBand)
          .select(col(cfg.embIdCol).as(idCol))
        staged(nd.join(dropped, Seq(idCol), "left_anti"), Some(nd))
      case None => (nd, n4)
    }
    // optional exact-substring gate (Lee et al. 2022): drop documents
    // whose duplicated-window share exceeds the cap — catches partial
    // copies that survive whole-document MinHash (e.g. a long doc
    // embedding a verbatim paragraph of another)
    val (ds, n4b) = dupSpanOpt match {
      case Some((w, maxFrac)) =>
        val (frac, releaseSpans) = duplicateSpanFraction(sd, idCol, textCol, w)
        val r = staged(sd.join(
          frac.filter(col("dup_fraction") > maxFrac)
            .select(col(idCol)), Seq(idCol), "left_anti"), Some(sd))
        releaseSpans() // the staged persist+count materialized the stage
        r
      case None => (sd, n4a)
    }
    val (dc, n5) = benchmarkOpt match {
      case Some((bench, benchCol, n)) =>
        staged(ds.join(decontaminate(ds, idCol, textCol, bench, benchCol, n)
          .select(col(idCol)), Seq(idCol), "left_anti"), Some(ds))
      case None => (ds, n4b) // no stage ran: same frame, same count
    }
    // optional DSIR selection: keep the topK highest importance
    // weights among survivors ((weight DESC, id ASC) — deterministic)
    val (dsirStage, n5a) = dsirOpt match {
      case Some((target, topK)) =>
        require(topK > 0, "DSIR selection needs a positive topK")
        val kept = graft.text.Classify.dsirWeights(dc, target, idCol, textCol)
          .orderBy(col("weight").desc, col(idCol).asc)
          .limit(topK)
          .select(col(idCol))
        staged(dc.join(kept, Seq(idCol), "left_semi"), Some(dc))
      case None => (dc, n5)
    }
    val (out, n6) = tokenBudgetOpt match {
      case Some(b) => staged(tokenBudget(dsirStage, idCol, textCol, b), Some(dsirStage))
      case None    => (dsirStage, n5a)
    }
    (out, Map("input" -> n0, "after_quality" -> n1, "after_lang" -> n2,
      "after_lm" -> n2a, "after_classifier" -> n2b,
      "after_exact_dedup" -> n3, "after_near_dedup" -> n4,
      "after_semantic_dedup" -> n4a, "after_dup_span" -> n4b,
      "after_decontamination" -> n5, "after_dsir" -> n5a, "final" -> n6))
  }

  /** Suffix-array-flavored repeat-length SPECTRUM — the index form of
    * the [[duplicateSpans]] family (Lee et al. 2022 §4, ExactSubstr):
    * instead of one fixed window size, for each window length w in
    * {8, 16, 32, 64} tokens, the per-group count of token positions
    * that START a w-token window occurring in ≥ `minDocs` distinct
    * documents corpus-wide. Cumulative by construction (a duplicated
    * 64-window implies duplicated 32/16/8 prefixes at the same
    * position), so the four rows per group read as the tail
    * distribution of maximal-repeat lengths — the statistic a suffix
    * array's LCP table yields, without building one.
    *
    * Level keys are built by MANBER–MYERS PREFIX DOUBLING on hashes:
    * h₈(i) = xxhash64 of the 8-token span string (one O(w·n) base
    * pass, identical keying to [[duplicateSpans]]), then
    * h₂ᵥ(i) = xxhash64(hᵥ(i), hᵥ(i+v)) — each doubling costs O(1)
    * per position (two array lookups + one 16-byte hash) instead of
    * re-hashing 2v tokens, and stays entirely WITHIN the document row
    * (array transforms, no self-joins). Two equal 2v-token sequences
    * agree on both halves, so keys collide exactly when spans match,
    * modulo the same 64-bit birthday bound [[duplicateSpans]]
    * documents.
    *
    * Scale shape: one corpus pass builds all four hash arrays; per
    * level one explode + one 8-byte-key aggregate + one co-partitioned
    * self-aggregate join (dup set ⋈ per-group counts share the hash
    * key, so AQE reuses the exchange); corpus-wide document frequency
    * is Σ over groups of per-(hash, group) distinct docs — exact,
    * because a document carries exactly one group. No windows, no
    * driver loops; the array frame is persisted across the four level
    * consumers and released after materialization.
    */
  /** Shared window-hash levels for the suffix-array-flavored family
    * ([[repeatSpectrum]], [[memorizationScreen]]).
    */
  private val RepeatLevels = Seq(8, 16, 32, 64)

  /** Per-document prefix-doubled window-hash arrays: `__h8[i]` =
    * xxhash64 of the 8-token span string starting at token i (the
    * [[duplicateSpans]] keying), and each doubling
    * `__h2v[i] = xxhash64(__hv[i], __hv[i+v])` — the Manber–Myers
    * step on hashes, O(1) per position per level, entirely within the
    * document row. Docs shorter than the base window drop out; a
    * level longer than the doc yields an empty array. `extra` columns
    * pass through untouched.
    */
  private def prefixDoubledHashes(docs: DataFrame, idCol: String,
                                  textCol: String,
                                  extra: Seq[Column]): DataFrame = {
    def emptyLongs = array().cast(ArrayType(LongType))
    val base = docs
      .select(col(idCol).as("__id") +: extra :+
        TextOps.tokens(lower(col(textCol))).as("__t"): _*)
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") >= RepeatLevels.head)
    val withH8 = base.withColumn("__h8",
      transform(sequence(lit(1), col("__n") - (RepeatLevels.head - 1)),
        i => xxhash64(concat_ws(" ",
          slice(col("__t"), i, lit(RepeatLevels.head))))))
    // doubling: the level-2v array has n-2v+1 entries; entry i pairs
    // hᵥ(i) with hᵥ(i+v), both guaranteed in range by the length guard
    RepeatLevels.sliding(2).foldLeft(withH8) {
      case (df, Seq(v, v2)) =>
        df.withColumn(s"__h$v2",
          when(col("__n") >= v2,
            transform(sequence(lit(1), col("__n") - (v2 - 1)),
              i => xxhash64(element_at(col(s"__h$v"), i),
                element_at(col(s"__h$v"), i + v))))
            .otherwise(emptyLongs))
      case (df, _) => df
    }.drop("__t")
  }

  def repeatSpectrum(docs: DataFrame, idCol: String, textCol: String,
                     groupCol: String, minDocs: Long = 2): DataFrame = {
    val levels = RepeatLevels
    val arrays = prefixDoubledHashes(
        docs.filter(col(groupCol).isNotNull), idCol, textCol,
        Seq(col(groupCol).as("__g")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // all four levels ride ONE (level, hash)-keyed pipeline (the
      // q313 discipline): the per-level form planned 4 × ~6 barrier
      // stages of sub-second wall each, and at local[32] the suite is
      // stage-LATENCY-bound, not volume-bound (q246 stage profile:
      // 48 sequential stages, executor time sums to 1.4 s/thread)
      val tagged = levels.map { w =>
        arrays.filter(col("__n") >= w)
          .select(col("__g"), col("__id"),
            lit(w).cast(IntegerType).as("__w"),
            explode(col(s"__h$w")).as("__h"))
      }.reduce(_ unionByName _)
      val perHG = tagged.groupBy("__w", "__h", "__g")
        .agg(countDistinct("__id").as("__ndg"), count(lit(1)).as("__npos"))
      val dupH = perHG.groupBy("__w", "__h").agg(sum("__ndg").as("__nd"))
        .filter(col("__nd") >= minDocs).select("__w", "__h")
      val dupPos = perHG.join(dupH, Seq("__w", "__h"))
        .groupBy("__g", "__w").agg(sum("__npos").as("__dup"))
      // eligibility is one #groups-sized aggregate with conditional
      // sums per level, stacked without touching the corpus again
      val eligAgg = arrays.groupBy("__g")
        .agg(
          sum(when(col("__n") >= levels.head, 1L).otherwise(0L))
            .as(s"nd${levels.head}"),
          levels.tail.map(w =>
            sum(when(col("__n") >= w, 1L).otherwise(0L)).as(s"nd$w")) ++
          levels.map(w =>
            sum(when(col("__n") >= w, col("__n") - (w - 1))
              .otherwise(0L)).as(s"np$w")): _*)
      val eligible = levels.map { w =>
        eligAgg.filter(col(s"nd$w") > 0)
          .select(col("__g"), lit(w).cast(IntegerType).as("__w"),
            col(s"nd$w").as("n_docs"), col(s"np$w").as("n_positions"))
      }.reduce(_ unionByName _)
      eligible.join(dupPos, Seq("__g", "__w"), "left")
        .select(col("__g").as(groupCol),
          col("__w").as("window_tokens"),
          col("n_docs"), col("n_positions"),
          coalesce(col("__dup"), lit(0L)).as("n_dup_positions"))
        .withColumn("dup_ppm",
          expr("n_dup_positions * 1000000 div n_positions"))
        .transform(graft.state.Checkpoints.stable)
    } finally arrays.unpersist(blocking = false)
  }

  /** Memorization-risk screen for an eval suite drawn against its
    * training corpus (the Lee et al. 2022 / Carlini et al. extraction
    * audit, run as data hygiene BEFORE training): for every eval
    * document (`evalPred` true), the count of its w-token windows
    * that appear verbatim as a window of ANY training document, at
    * w ∈ {8, 16, 32, 64}, plus the largest such w — "how long a span
    * of this eval item would the model see during training". Exact
    * n-gram membership, not similarity: the complement of the
    * decontamination family (q73/q86 DELETE training docs that
    * overlap the eval suite; this AUDITS the eval suite's exposure,
    * eval side kept).
    *
    * Window keys are the [[repeatSpectrum]] prefix-doubled xxhash64
    * levels (same birthday-bound note). All four levels ride ONE
    * shuffle: positions are tagged (level, hash) and the eval-vs-
    * train membership is a single left-semi join on that composite
    * key — the corpus-side pass is paid once, not per level. Eval
    * docs shorter than a level simply contribute no positions there;
    * eval docs shorter than 8 tokens (or empty) report all-zero
    * counts via the closing left join.
    */
  def memorizationScreen(docs: DataFrame, idCol: String, textCol: String,
                         evalPred: Column): DataFrame = {
    val arrays = prefixDoubledHashes(docs, idCol, textCol,
        Seq(evalPred.as("__isEval")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tagged = RepeatLevels.map { w =>
        arrays.select(col("__id"), col("__isEval"),
          lit(w).cast(IntegerType).as("__w"),
          explode(col(s"__h$w")).as("__h"))
      }.reduce(_ unionByName _)
      val hits = tagged.filter(col("__isEval"))
        .join(tagged.filter(!col("__isEval")).select("__w", "__h"),
          Seq("__w", "__h"), "left_semi")
        .groupBy("__id")
        .agg(
          sum(when(col("__w") === RepeatLevels.head, 1L).otherwise(0L))
            .as(s"dup${RepeatLevels.head}"),
          RepeatLevels.tail.map(w =>
            sum(when(col("__w") === w, 1L).otherwise(0L)).as(s"dup$w")): _*)
      val base = docs.filter(evalPred && col(textCol).isNotNull)
        .select(col(idCol).as("__id"),
          TextOps.tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      val joined = base.join(hits, Seq("__id"), "left")
      val filled = RepeatLevels.foldLeft(joined)((df, w) =>
        df.withColumn(s"dup$w", coalesce(col(s"dup$w"), lit(0L))))
      val maxDup = when(col("dup64") > 0, 64)
        .when(col("dup32") > 0, 32)
        .when(col("dup16") > 0, 16)
        .when(col("dup8") > 0, 8)
        .otherwise(0)
      filled
        .select(col("__id").as(idCol) +: col("n_tokens") +:
          RepeatLevels.map(w => col(s"dup$w")) :+
          maxDup.cast(IntegerType).as("max_dup_window"): _*)
        .transform(graft.state.Checkpoints.stable)
    } finally arrays.unpersist(blocking = false)
  }

  /** Cross-lingual near-duplicate pairing — translation-pair mining
    * over a language-agnostic embedding space (the LASER/LaBSE recipe:
    * two documents in DIFFERENT languages whose sentence embeddings
    * sit above a cosine threshold are translation candidates; the
    * embedding column stands in for the multilingual encoder, which is
    * an external model, not an engine operator). Pairs come from the
    * recall-proven banded hyperplane LSH ([[graft.dedup.NearDup.lshCosinePairsBanded]],
    * q51's (96, 6) full-recall settings — same regenerated-embeddings
    * sensitivity note as q88); the language join then keeps only
    * cross-language pairs and rolls them up per unordered language
    * pair: pair count, distinct documents on each side, and the
    * rounded cosine extremes (max/min of per-pair round-4 values —
    * order statistics of already-quantized doubles, bit-stable).
    *
    * Scale shape: LSH candidate generation shuffles (band, id) rows
    * only; the language attach is two hash joins against an
    * (id, lang) projection; the rollup groups on a two-string key.
    */
  def crossLingualPairs(embs: DataFrame, vecIdCol: String, vecCol: String,
                        langs: DataFrame, docIdCol: String, langCol: String,
                        threshold: Double = 0.45, bands: Int = 96,
                        bitsPerBand: Int = 6): DataFrame = {
    val pairs = graft.dedup.NearDup.lshCosinePairsBanded(
      embs, vecIdCol, vecCol, threshold, bands, bitsPerBand)
    val lang = langs.filter(col(langCol).isNotNull)
      .select(col(docIdCol).as("__lid"), col(langCol).as("__lang"))
    val tagged = pairs
      .join(lang.select(col("__lid").as("id_a"), col("__lang").as("__la")), "id_a")
      .join(lang.select(col("__lid").as("id_b"), col("__lang").as("__lb")), "id_b")
      .filter(col("__la") =!= col("__lb"))
      .select(
        least(col("__la"), col("__lb")).as("lang_a"),
        greatest(col("__la"), col("__lb")).as("lang_b"),
        when(col("__la") <= col("__lb"), col("id_a")).otherwise(col("id_b"))
          .as("__da"),
        when(col("__la") <= col("__lb"), col("id_b")).otherwise(col("id_a"))
          .as("__db"),
        col("cos"))
    tagged.groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("__da").as("n_docs_a"),
        countDistinct("__db").as("n_docs_b"),
        max("cos").as("max_cos"),
        min("cos").as("min_cos"))
  }

  /** Chunk-level provenance dedup for retrieval/RAG corpora (VERDICT
    * r13 #8 / the r13 starter-note candidate): [[chunkDocuments]]'s
    * windows digest with md5 and cluster exactly — a duplicated chunk
    * is the RAG failure mode where the retriever returns k copies of
    * the same boilerplate passage and the context window carries one
    * fact k times. Reports each chunk text appearing ≥ 2 times with
    * its occurrence count, the PROVENANCE spread (distinct source
    * documents — cross-doc boilerplate vs within-doc repetition), and
    * the keep-first survivor (lexicographically smallest
    * (doc, chunk) — the replayable keep rule).
    *
    * Scale shape: the chunker is map-only codegen; clustering is one
    * map-side-combined groupBy on the 16-byte digest (never the chunk
    * text) — the q80/q319 discipline.
    */
  def chunkProvenance(docs: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int, overlap: Int = 0): DataFrame =
    chunkDocuments(docs, idCol, textCol, chunkTokens, overlap)
      .select(col(idCol), col("chunk_id"),
        md5(col("chunk_text")).as("__h"))
      .groupBy("__h")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol), col("chunk_id"))).as("__keep"))
      .filter(col("n_occurrences") >= 2L)
      .select(col("__h").as("chunk_md5"),
        col("n_occurrences"), col("n_docs"),
        col("__keep").getField(idCol).as("keeper_doc_id"),
        col("__keep").getField("chunk_id").as("keeper_chunk_id"))

  /** Atomic next-fit sequence packing — the PACKER whose padding bill
    * the interleaved audit (q332) measures: documents never split
    * across packs; walking each shard in id order, a document that
    * does not fit the open pack closes it and starts the next (the
    * classic next-fit discipline, ≤ 2× optimal waste). A document
    * larger than `packLen` occupies a pack alone (reported in
    * `n_oversize` — the truncation candidates). Output is the
    * per-pack manifest: docs, used tokens, oversize count.
    *
    * Scale shape: next-fit is inherently SEQUENTIAL, so the
    * parallelism unit is the shard (id mod `nShards` — q317's deal
    * without the balance snake, since pack boundaries need a FIXED
    * walk order): one shuffle groups each shard's (id, cost) pairs —
    * 16 bytes per doc, never text — and the per-shard fold runs as
    * `flatMapGroups` with an in-memory id sort. Size `nShards` so a
    * shard's doc COUNT fits an executor (at 100 TB that is thousands
    * of shards — the knob is the caller's, like q317's).
    */
  def packAtomicNextFit(docs: DataFrame, idCol: String, textCol: String,
                        packLen: Long, nShards: Int): DataFrame = {
    require(packLen > 0, s"packLen must be positive, got $packLen")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    val items = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        TextOps.tokenCount(col(textCol)).cast(LongType).as("cost"))
      .filter(col("cost") > 0L)
      .withColumn("shard",
        pmod(col("id"), lit(nShards.toLong)).cast(IntegerType))
    items.groupByKey(_.getInt(2))
      .flatMapGroups { (shard: Int, it: Iterator[org.apache.spark.sql.Row]) =>
        val sorted = it.map(r => (r.getLong(0), r.getLong(1)))
          .toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long, Long, Long)]
        var pack = 0L; var fill = 0L; var nDocs = 0L; var nOver = 0L
        sorted.foreach { case (_, cost) =>
          if (fill > 0L && fill + cost > packLen) {
            out += ((shard, pack, nDocs, fill, nOver))
            pack += 1L; fill = 0L; nDocs = 0L; nOver = 0L
          }
          fill += cost; nDocs += 1L
          if (cost > packLen) nOver += 1L
        }
        if (nDocs > 0L) out += ((shard, pack, nDocs, fill, nOver))
        out.iterator
      }
      .toDF("shard", "pack_idx", "n_docs", "used_tokens", "n_oversize")
  }

  /** Atomic BEST-FIT-DECREASING sequence packing — the padding-waste
    * comparison point beside [[packAtomicNextFit]] (VERDICT r14 #4):
    * documents never split; within each shard the docs are walked in
    * DECREASING cost order (ties on id — the q317 size-rank) and each
    * doc is placed into the open pack with the LARGEST fill that
    * still fits (ties on the lowest pack index); if none fits, a new
    * pack opens. Oversize docs (> `packLen`) sort first and therefore
    * each own a pack alone — no later doc ever fits beside a fill
    * that already exceeds `packLen`. BFD's waste bound (11/9·OPT + 4
    * packs, Johnson 1973) is the reason trainers pay the sort: the
    * same manifest schema as next-fit plus a `waste_tokens` column
    * (packLen − fill for normal packs, 0 for oversize) makes the two
    * disciplines comparable under one surface.
    *
    * Scale shape: like next-fit the walk is inherently sequential, so
    * the parallelism unit is the id-mod shard and only 16-byte
    * (id, cost) pairs — never text — reach the fold. Unlike next-fit
    * ALL of a shard's packs stay open, so the fold keeps a
    * fill→pack-index TreeMap: O(log packs) per doc (`floorEntry` IS
    * the best-fit rule) and O(packs) shard memory — the same order as
    * the manifest the shard emits anyway. Size `nShards` so a shard's
    * PACK count fits an executor; at 100 TB that is thousands of
    * shards, the documented knob shared with q317/q341.
    */
  /** The per-shard BFD walk as a pure function (property-tested
    * against a naive O(n²) linear-scan reference in PropertySpec):
    * `costs` in decreasing-cost, increasing-id walk order; returns
    * per pack (in creation order = pack_idx) its (fill, n_docs).
    * The fill→pack-index TreeMap makes `floorEntry(packLen − cost)`
    * exactly the best-fit rule; the per-fill TreeSet resolves equal
    * fills to the lowest pack index.
    */
  private[graft] def bestFitFold(costs: Array[Long], packLen: Long)
      : (IndexedSeq[Long], IndexedSeq[Long]) = {
    val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
    val nDocs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val byFill = new java.util.TreeMap[Long, java.util.TreeSet[Int]]()
    def pool(fill: Long): java.util.TreeSet[Int] = {
      var s = byFill.get(fill)
      if (s == null) { s = new java.util.TreeSet[Int](); byFill.put(fill, s) }
      s
    }
    costs.foreach { cost =>
      val cap = packLen - cost
      val e = if (cap >= 0) byFill.floorEntry(cap) else null
      if (e == null) { // nothing fits (or oversize): open a pack
        fills += cost; nDocs += 1L
        pool(cost).add(fills.length - 1)
      } else {
        val idx = e.getValue.first()
        e.getValue.remove(idx)
        if (e.getValue.isEmpty) byFill.remove(e.getKey)
        fills(idx) += cost; nDocs(idx) += 1L
        pool(fills(idx)).add(idx)
      }
    }
    (fills.toIndexedSeq, nDocs.toIndexedSeq)
  }

  def packBestFitDecreasing(docs: DataFrame, idCol: String,
                            textCol: String, packLen: Long,
                            nShards: Int): DataFrame = {
    require(packLen > 0, s"packLen must be positive, got $packLen")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    val items = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        TextOps.tokenCount(col(textCol)).cast(LongType).as("cost"))
      .filter(col("cost") > 0L)
      .withColumn("shard",
        pmod(col("id"), lit(nShards.toLong)).cast(IntegerType))
    items.groupByKey(_.getInt(2))
      .flatMapGroups { (shard: Int, it: Iterator[org.apache.spark.sql.Row]) =>
        val sorted = it.map(r => (r.getLong(0), r.getLong(1)))
          .toArray.sortBy { case (id, cost) => (-cost, id) }
        val (fills, nDocs) = bestFitFold(sorted.map(_._2), packLen)
        fills.indices.iterator.map { i =>
          val over = fills(i) > packLen
          (shard, i.toLong, nDocs(i), fills(i),
            if (over) 1L else 0L,
            if (over) 0L else packLen - fills(i))
        }
      }
      .toDF("shard", "pack_idx", "n_docs", "used_tokens", "n_oversize",
        "waste_tokens")
  }

  /** Template/layout near-dup audit (VERDICT r13 #8): cluster the
    * corpus on its [[TextOps.layoutShape]] — pages generated from the
    * same template (boilerplate mirrors, forms, listings that differ
    * only in names/numbers) share the SHAPE even though every
    * word-level fingerprint (digest, shingle MinHash, token SimHash)
    * sees them as distinct. Reports each layout appearing in ≥ 2
    * documents: size, source spread, the keep-first survivor, and the
    * token mass a layout-level keep-one policy would drop.
    *
    * Deliberately PAIR-FREE: clustering is an exact groupBy on the
    * 16-byte shape digest (the q319 bag-fingerprint discipline) — one
    * map-side-combined shuffle at any corpus size. A near-miss shape
    * variant (SimHash over shape tokens) was measured and rejected:
    * on low-layout-entropy corpora shape signatures collapse to a few
    * values and any pairwise surface goes quadratic; the exact-shape
    * groupBy is the form that survives 100 TB.
    */
  def templateClusters(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(srcCol),
        TextOps.tokenCount(col(textCol)).cast(LongType).as("__tc"),
        md5(TextOps.layoutShape(col(textCol))).as("__tpl"))
      .groupBy("__tpl")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(srcCol)).as("n_sources"),
        min(col(idCol)).as("keeper_doc_id"),
        sum("__tc").as("total_tokens"),
        // token mass beyond the keeper — what a layout-level
        // keep-one policy drops (exact; keeper identified by min id,
        // its own tokens via the min-by-id trick below)
        (sum("__tc") - min(struct(col(idCol), col("__tc")))
          .getField("__tc")).as("dup_tokens"))
      .filter(col("n_docs") >= 2L)
      .select(col("__tpl").as("template_md5"), col("n_docs"),
        col("n_sources"), col("keeper_doc_id"), col("total_tokens"),
        col("dup_tokens"))
}
