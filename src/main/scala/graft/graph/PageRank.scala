package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) as a fixed-iteration dataframe power
  * method — the link-graph quality signal crawl curation uses to
  * prioritize fetch frontiers and weight domains (alongside the
  * near-dup connected components this engine already ships). A FIXED
  * iteration count (not a convergence test) keeps the result a pure
  * function of the edge list UP TO floating reassociation: the
  * per-destination contribution sums are unordered double additions,
  * so two runs agree to ~1e-12 relative (not bitwise) and the
  * 4-decimal ppm rounding absorbs that for ordinary degree
  * distributions — a node with millions of in-edges can in principle
  * accumulate enough low-bit drift to flip a rounded digit, the same
  * caveat every float-summing aggregate here carries (unlike the
  * exact-integer statistics family, which has none). The q143 oracle
  * unrolls the identical iterations and matches at the shipped scale.
  *
  * Semantics: directed edges, duplicate edges collapse (a link counts
  * once), nodes = src ∪ dst, uniform initial rank 1/N, damping d, and
  * DANGLING nodes (no out-edges) redistribute their mass uniformly:
  *   r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)/outdeg(u) + dangling/N ).
  * Σ r stays exactly 1 in exact arithmetic — a drift check any caller
  * can run.
  *
  * Scale shape: per iteration, ONE join of the rank frame against the
  * edge list keyed on the source (both sides hash-partitioned — at
  * 100 TB pre-partition both on the node key and the join elides its
  * exchange), one map-side-combined sum per destination, and one
  * O(#dangling-partials) scalar action for the dangling mass. The
  * driver holds a loop counter and one double per iteration — never
  * node data (the CC-fixpoint discipline). Each iteration's rank
  * frame is persisted and the previous one released, so the lineage
  * stays O(1) deep instead of O(iterations).
  */
object PageRank {

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, damping: Double = 0.85): DataFrame =
    powerIterate(edges, srcCol, dstCol, iterations, damping,
      e => e.select(col("__s").as("node"))
        .unionByName(e.select(col("__d").as("node")))
        .distinct(),
      Seq(col("node")),
      nodes => {
        val n = nodes.count()
        require(n > 0, "empty graph")
        (lit(1.0 / n),
          lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("__in"), lit(0.0))
              + col("__dm") / lit(n.toDouble)))
      },
      Seq(col("node"), round(col("rank") * 1000000.0, 4).as("rank_ppm")))

  /** Personalized PageRank (random walk with restart to a SEED set) —
    * the "relevance to these nodes" variant behind related-item
    * discovery and seed-expansion labeling (Page et al. 1999's
    * personalization vector; Gleich 2015 survey). Same fixed-iteration
    * power method, lineage-barrier loop, and float-reassociation
    * caveat as [[pageRank]] (kept as a SEPARATE function so the
    * uniform-teleport arithmetic there stays literally unchanged);
    * the teleport vector is uniform over the seeds PRESENT IN THE
    * GRAPH instead of over all nodes:
    *   r'(v) = (1−d)·t(v) + d·( Σ_{u→v} r(u)/outdeg(u) + dangling·t(v) )
    * with t(v) = 1/|S| for seeds, 0 otherwise, r0 = t. Dangling mass
    * restarts at the seeds too, so Σr stays 1 and mass cannot leak to
    * unreachable components — nodes the walk cannot reach from S get
    * EXACTLY rank 0, which is the point of the personalization.
    *
    * Scale shape identical to [[pageRank]]: one source-keyed join +
    * one map-side-combined destination sum per iteration; the seed
    * membership rides as one extra #nodes-sized boolean column
    * resolved by a single left-semi-style join before the loop.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int = 10,
                           damping: Double = 0.85): DataFrame = {
    val sd = seeds.select(col(seedCol).as("node")).filter(col("node").isNotNull)
      .distinct()
    powerIterate(edges, srcCol, dstCol, iterations, damping,
      e => e.select(col("__s").as("node"))
        .unionByName(e.select(col("__d").as("node")))
        .distinct()
        .join(sd.withColumn("__seed", lit(true)), Seq("node"), "left")
        .withColumn("__seed", coalesce(col("__seed"), lit(false))),
      Seq(col("node"), col("__seed")),
      nodes => {
        val nSeeds = nodes.filter(col("__seed")).count()
        require(nSeeds > 0, "no seed is present in the graph")
        val tele = when(col("__seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0))
        (tele,
          lit(1.0 - damping) * tele +
            lit(damping) * (coalesce(col("__in"), lit(0.0))
              + col("__dm") * tele))
      },
      Seq(col("node"), col("__seed").as("is_seed"),
        round(col("rank") * 1000000.0, 4).as("rank_ppm")))
  }

  /** The power loop both variants share. It persists the deduplicated
    * edge list and `nodesOf(edges)`, asks `rates` for the variant's
    * initial and update rank columns over the persisted nodes (the
    * update column reads `__in`, the node's contribution sum, and
    * `__dm`, the round's dangling mass), runs `iterations` rounds with
    * the `carry` columns riding along, and cuts `result` over the
    * final ranks. Everything it persisted is released in a `finally`,
    * on a throw too.
    */
  private def powerIterate(edges: DataFrame, srcCol: String, dstCol: String,
                           iterations: Int, damping: Double,
                           nodesOf: DataFrame => DataFrame, carry: Seq[Column],
                           rates: DataFrame => (Column, Column),
                           result: Seq[Column]): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "1 <= iterations <= 100")
    require(damping > 0 && damping < 1, "damping in (0, 1)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
      .distinct()
      .persist(lvl)
    var nodes: DataFrame = null
    var outDeg: DataFrame = null
    var ranksCache: DataFrame = null
    try {
      nodes = nodesOf(e).persist(lvl)
      val (initial, update) = rates(nodes)
      outDeg = e.groupBy(col("__s").as("node"))
        .agg(count(lit(1)).as("__deg")).persist(lvl)

      // each iteration CUTS ITS LINEAGE with an explicit LogicalRDD
      // barrier: the rank frame is referenced twice per round (dangling
      // branch + contribution branch), so a lineage-preserving loop
      // doubles the LOGICAL plan every iteration — 2^k tree nodes by
      // round k, and Spark's plan stringification alone OOMs the driver
      // around k=10 (found the hard way in PageRankSpec). The
      // persist+count+createDataFrame form (instead of localCheckpoint)
      // keeps an unpersist HANDLE, so the previous round's O(#nodes)
      // cache is released deterministically rather than waiting on
      // driver GC + ContextCleaner — at iterations=100 a leak would
      // stack 100 node-sized block sets on the executors.
      val spark = edges.sparkSession
      def barrier(df: DataFrame): (DataFrame, DataFrame) = {
        val p = df.persist(lvl); p.count()
        (spark.createDataFrame(p.rdd, p.schema), p)
      }
      val (first, firstCache) = barrier(nodes.select(carry :+ initial.as("rank"): _*))
      var ranks = first
      ranksCache = firstCache
      for (_ <- 1 to iterations) {
        val withDeg = ranks.join(outDeg, Seq("node"), "left")
        // the dangling mass rides as a BROADCAST 1-row frame instead of
        // a driver scalar — one materializing job per iteration, not two
        val dang = withDeg.filter(col("__deg").isNull)
          .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
        val contrib = withDeg.filter(col("__deg").isNotNull)
          .select(col("node").as("__s"), (col("rank") / col("__deg")).as("__c"))
          .join(e, "__s")
          .groupBy(col("__d").as("node"))
          .agg(sum("__c").as("__in"))
        val (next, nextCache) = barrier(nodes.join(contrib, Seq("node"), "left")
          .crossJoin(broadcast(dang))
          .select(carry :+ update.as("rank"): _*))
        ranksCache.unpersist(blocking = false)
        ranks = next; ranksCache = nextCache
      }
      graft.state.Checkpoints.stable(ranks.select(result: _*))
    } finally
      Seq(ranksCache, e, nodes, outDeg).filter(_ != null)
        .foreach(_.unpersist(blocking = false))
  }
}
