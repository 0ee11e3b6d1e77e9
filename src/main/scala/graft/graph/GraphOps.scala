package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.storage.StorageLevel

/** Non-iterative graph statistics over ordered edge lists (the
  * near-dup pair convention: one row per undirected edge with
  * `id_a < id_b`).
  */
object GraphOps {

  /** Exact triangle count via DEGREE-ordered edge orientation (the
    * node-iterator++ / forward algorithm, Schank & Wagner 2005): each
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to the higher, wedges are built only from a vertex's OUTGOING
    * edges, and a wedge (b, c) closes iff the oriented edge b→c
    * exists. Every triangle has exactly one vertex with two outgoing
    * edges under a total order, so each is counted exactly once — no
    * division by 6.
    *
    * Scale shape: two hash equi-joins on edge endpoints, and the
    * degree orientation bounds every vertex's out-degree by O(√m)
    * (a vertex of out-degree d has d higher-ranked neighbors, each of
    * degree ≥ d), so wedge rows are O(m^1.5) worst-case TOTAL and
    * O(m) per task — a 10⁷-degree hub contributes wedges sharded
    * across its (low-degree) neighbors instead of exploding O(d²) in
    * one task. That removes the id-ordered variant's hub hazard; the
    * operator is safe on social-scale graphs, not just bounded-cluster
    * dup graphs. Input rows where the endpoints are equal or NULL are
    * dropped, duplicate edges collapse, and the normalized edge frame
    * is persisted (consumed three times) with the handle released
    * before returning.
    */
  def triangleCount(pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): Long = {
    val oriented = orientEdges(pairs, aCol, bCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // wedges from each source's outgoing edges, ordered by the
      // endpoints' (degree, id) rank so the closing edge's orientation
      // (lower rank → higher rank) is known without a second lookup
      val w1 = oriented.select(col("s"), col("t").as("x"), col("td").as("xd"))
      val w2 = oriented.select(col("s"), col("t").as("y"), col("td").as("yd"))
      val wedges = w1.join(w2, "s")
        .filter(struct(col("xd"), col("x")) < struct(col("yd"), col("y")))
        .select(col("x").as("s"), col("y").as("t"))
      wedges.join(oriented.select("s", "t"), Seq("s", "t")).count()
    } finally oriented.unpersist(blocking = false)
  }

  /** Global clustering coefficient C = 3·triangles / wedges (Watts &
    * Strogatz's transitivity in its whole-graph form) — for a
    * NEAR-DUP graph this is the health check on the similarity
    * relation itself: a sound "near duplicate" notion is almost
    * transitive (C → 1 inside clusters); a low C means the threshold
    * is admitting chains A~B~C where A and C share little, the
    * classic over-merge precursor a dedup pass wants to see BEFORE
    * keeping one doc per connected component.
    *
    * Exactness: wedges are the exact integer Σ d(d−1)/2, triangles
    * the exact [[triangleCount]]; the coefficient is one closing
    * division. Scale shape inherits triangleCount's (degree-ordered
    * wedges) — see its caveats for social-scale graphs; dup graphs'
    * bounded clusters are the declared domain.
    */
  def clusteringCoefficient(pairs: DataFrame, aCol: String = "id_a",
                            bCol: String = "id_b"): DataFrame = {
    val und = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nEdges = und.count()
      val tri = triangleCount(und, "a", "b")
      und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
        .select(col("n_nodes"), lit(nEdges).as("n_edges"), col("n_wedges"),
          lit(tri).as("n_triangles"),
          // unrounded exact-integer ratio: one IEEE division, portable
          when(col("n_wedges") > 0,
            lit(3.0) * lit(tri.toDouble) / col("n_wedges").cast("double"))
            .as("clustering_coeff"))
    } finally und.unpersist(blocking = false)
  }

  /** Synchronous label propagation communities (Raghavan 2007), made
    * DETERMINISTIC: labels start as node ids; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * to the smallest label, all nodes updating simultaneously from
    * the previous round's labels (no update-order dependence — the
    * async variant's nondeterminism is exactly what this engine
    * refuses). `iters` is fixed and part of the operator's definition
    * (sync LPA can oscillate on bipartite shapes, so a fixpoint test
    * would not terminate; a fixed horizon is the standard remedy).
    * Isolated behavior: a node keeps its previous label when it has
    * no neighbors. Returns (node, label, community_size).
    *
    * Communities differ from [[graft.pipelines.CorpusPipeline
    * .minLabelComponents]]: CC merges anything connected; LPA keeps
    * DENSELY linked groups apart even inside one component — the
    * "which items cluster" report over co-occurrence graphs.
    *
    * Scale shape: per round, one hash join of the both-ways edge list
    * (partitioned once, reused — the PageRank discipline) against the
    * label frame, one (node, label) count with map-side combine, and
    * one min-struct argmax per node — never a per-node window over
    * anything unbounded. Labels localCheckpoint per round (lineage
    * barrier), the previous round's cache released after the next
    * materializes.
    */
  def labelPropagation(pairs: DataFrame, iters: Int = 3,
                       aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    val edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val both = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      val nodes = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node"))).distinct()
      var labels = nodes.select(col("node"), col("node").as("label"))
        .transform(graft.state.Checkpoints.stable)
      for (_ <- 1 to iters) {
        val counted = both
          .join(labels.select(col("node").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("__n"))
        // argmax (count desc, label asc) via min over (-count, label)
        val best = counted
          .groupBy("node")
          .agg(min(struct((-col("__n")).as("nn"), col("label").as("l")))
            .as("__b"))
          .select(col("node"), col("__b.l").as("__newLabel"))
        val next = labels.join(best, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__newLabel"), col("label")).as("label"))
          .transform(graft.state.Checkpoints.stable)
        graft.state.Checkpoints.release(labels)
        labels = next
      }
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
      val out = labels.join(sizes, "label")
        .select(col("node"), col("label"), col("community_size"))
        .transform(graft.state.Checkpoints.stable)
      graft.state.Checkpoints.release(labels)
      out
    } finally edges.unpersist(blocking = false)
  }

  /** Degree-ordered orientation of a normalized undirected edge list:
    * one row (s, t, td) per distinct edge, directed from the
    * lower-(degree, id) endpoint `s` to the higher `t`, with `td` =
    * deg(t) carried so the wedge-close comparison needs no second
    * degree lookup. Exposed for the spec's wedge-bound assertion: a
    * vertex of out-degree d has d neighbors of rank ≥ its own, each of
    * degree ≥ d, so max out-degree ≤ √(2m) and a star's hub orients
    * ALL edges inward (hub out-degree 0 or 1).
    */
  private[graft] def orientEdges(pairs: DataFrame, aCol: String = "id_a",
                                 bCol: String = "id_b"): DataFrame = {
    val und = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // rank = (degree, id) — a TOTAL order (id breaks degree ties), so
    // orientation is well-defined; struct comparison is lexicographic
    und
      .join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("s"), col("b").as("t"),
            col("__db").as("td")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"),
            col("__da").as("td")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.td").as("td"))
  }

  /** Common-neighbor / Jaccard link prediction: for every UNLINKED
    * pair of nodes sharing at least one common neighbor, score by the
    * common-neighbor count through LOW-DEGREE centers (center degree ≤
    * `maxCenterDegree`) and the degree-Jaccard cn/(d_x + d_y − cn)
    * with FULL degrees. The center cap is part of the operator's
    * definition, not an approximation knob the engine hides: wedge
    * volume through a center is deg², so an uncapped hub contributes
    * O(10¹⁴) candidate rows at web scale while carrying ~zero signal
    * (everything co-occurs with a hub) — the same discount
    * Adamic–Adar's 1/log weight encodes, made exact and replayable.
    * Top-k orders (cn DESC, id_a, id_b) — fully deterministic.
    *
    * Scale shape: wedge volume is O(m · maxCenterDegree) sharded by
    * center; the existing-edge exclusion is one anti-join; top-k plans
    * as TakeOrderedAndProject, never a global sort.
    */
  def linkPrediction(pairs: DataFrame, k: Int = 50,
                     maxCenterDegree: Int = 64,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val und = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = und.select(col("a").as("v"))
        .unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val centers = deg.filter(col("d") <= maxCenterDegree)
        .select(col("v").as("src"))
      val both = und.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      val adj = both.join(centers, "src")
      val cn = adj.join(adj.select(col("src"), col("dst").as("dst2")), "src")
        .filter(col("dst") < col("dst2"))
        .groupBy(col("dst").as("a"), col("dst2").as("b"))
        .agg(count(lit(1)).as("common_neighbors"))
        .join(und, Seq("a", "b"), "left_anti")
      cn.join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
        .select(col("a").as("id_a"), col("b").as("id_b"),
          col("common_neighbors"),
          round(col("common_neighbors").cast("double") /
            (col("__da") + col("__db") - col("common_neighbors"))
              .cast("double"), 6).as("jaccard"))
        .orderBy(col("common_neighbors").desc, col("id_a"), col("id_b"))
        .limit(k)
    } finally und.unpersist(blocking = false)
  }

  /** k-core decomposition by fixed-horizon iterative peeling: each
    * round drops every node of degree < `coreK` (with its edges),
    * simultaneously; after `iters` rounds the surviving subgraph's
    * exact degrees are returned as (node, core_degree). The horizon is
    * part of the operator's definition (both engines replay the same
    * rounds), chosen ≥ the peel depth so the result IS the k-core on
    * the shipped graphs; peeling is monotone, so an unconverged
    * horizon yields a superset of the core, never garbage.
    *
    * Scale shape: per round, one map-side-combined degree count and
    * two hash semi-joins on the edge endpoints; edges localCheckpoint
    * per round (the PageRank lineage barrier) with the previous
    * round's blocks released after the next materializes.
    */
  def kCore(pairs: DataFrame, coreK: Int = 3, iters: Int = 8,
            aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    var edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .transform(graft.state.Checkpoints.stable)
    for (_ <- 1 to iters) {
      val deg = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= coreK)
      val next = edges
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .transform(graft.state.Checkpoints.stable)
      graft.state.Checkpoints.release(edges)
      edges = next
    }
    val out = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
      .select(col("v").as("node"), col("core_degree"))
      .transform(graft.state.Checkpoints.stable)
    graft.state.Checkpoints.release(edges)
    out
  }

  /** Multi-source BFS: exact minimum hop distance from a SEED set to
    * every node within `maxHops` — the bounded transitive-closure
    * primitive Spark's missing recursive CTE would otherwise cover
    * (impact radius, contamination spread, N-degree audience). Level-
    * synchronous frontier expansion: each round joins the CURRENT
    * frontier (not the whole reached set) against the adjacency list
    * and anti-joins everything already reached, so a node is emitted
    * exactly once at its first (minimal) depth. Rounds are fixed and
    * part of the operator's definition; unreached nodes are absent.
    *
    * Scale shape: per round, one hash join frontier⋈edges + one
    * anti-join against the reached set — both keyed on the node;
    * frontier and reached frames localCheckpoint per round (the
    * PageRank lineage barrier), previous handles released. No
    * windows, no collects, no driver-side loop over data.
    */
  def khopDistances(pairs: DataFrame, seeds: DataFrame, maxHops: Int,
                    aCol: String = "id_a", bCol: String = "id_b",
                    seedCol: String = "node"): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops out of range: $maxHops")
    val edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val both = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      var reached = seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0))
        .transform(graft.state.Checkpoints.stable)
      var frontier = reached
      for (h <- 1 to maxHops) {
        val next = frontier
          .join(both, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .withColumn("dist", lit(h))
          .transform(graft.state.Checkpoints.stable)
        val grown = reached.unionByName(next).transform(graft.state.Checkpoints.stable)
        graft.state.Checkpoints.release(frontier)
        graft.state.Checkpoints.release(reached)
        frontier = next
        reached = grown
      }
      graft.state.Checkpoints.release(frontier)
      reached
    } finally edges.unpersist(blocking = false)
  }

  /** Connected components by min-label propagation WITH pointer
    * doubling (the Shiloach–Vishkin/"hash-to-min" family; Rastogi
    * et al. 2013): every node starts labeled with itself; each round
    * takes the min of its own label, its neighbors' labels, AND its
    * label's label (one self-join on the label frame — the pointer-
    * doubling step that collapses convergence from O(diameter) to
    * O(log diameter) rounds, the difference between 8 rounds and
    * thousands on a web-crawl link graph). Labels only ever DECREASE,
    * so a fixed horizon is monotone: an unconverged run yields a
    * refinement (some components still split), never a wrong merge —
    * the same fixed-horizon contract as [[kCore]]/[[khopDistances]],
    * and the oracle replays the identical horizon.
    *
    * Scale shape per round: one frontier⋈adjacency hash join + a
    * map-side-combined min per destination + one label⋈label self-
    * join — all keyed on node/label ids, no windows, no collects;
    * each round localCheckpoints (PageRank lineage barrier) and
    * releases the previous handle. Output is (node, component) with
    * component = the minimum node id reached.
    */
  def connectedComponents(pairs: DataFrame, iters: Int = 8,
                          aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    val edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val both = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      var labels = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .distinct()
        .withColumn("lab", col("node"))
        .transform(graft.state.Checkpoints.stable)
      for (_ <- 1 to iters) {
        val nbrMin = labels.join(both, col("node") === col("src"))
          .groupBy(col("dst").as("node")).agg(min("lab").as("__nb"))
        val hop = labels.join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("lab"), coalesce(col("__nb"), col("lab"))).as("lab"))
        val next = hop.as("x")
          .join(hop.select(col("node").as("lab"), col("lab").as("__ll"))
            .as("y"), Seq("lab"), "left")
          .select(col("node"),
            least(col("lab"), coalesce(col("__ll"), col("lab"))).as("lab"))
          .transform(graft.state.Checkpoints.stable)
        graft.state.Checkpoints.release(labels)
        labels = next
      }
      val out = labels.select(col("node"), col("lab").as("component"))
        .transform(graft.state.Checkpoints.stable)
      graft.state.Checkpoints.release(labels)
      out
    } finally edges.unpersist(blocking = false)
  }

  /** Bounded weighted shortest paths (Bellman–Ford relaxation, the
    * weighted sibling of [[khopDistances]]): exact minimum path cost
    * from a seed set using at most `maxRounds` edges, over the
    * undirected min-weight-normalized edge list (parallel edges keep
    * their cheapest weight). Like every fixed-horizon graph operator
    * here, the round count is part of the definition — costs only
    * DECREASE as rounds grow, so an unconverged run is an upper
    * envelope, never garbage — and the oracle replays the identical
    * horizon. Seeds are emitted at cost 0 whether or not they appear
    * in the graph (the khop contract); unreached nodes are absent.
    *
    * Each round relaxes from the FRONTIER only — nodes whose cost
    * changed last round — which is equivalent to full relaxation
    * round-for-round (a non-improved node's contributions were
    * already min-merged the round it last improved) but shuffles
    * frontier-sized, not reached-sized, frames: the delta-stepping
    * economy that matters when the reached set grows to the whole
    * graph. Integer weights, integer costs — no fp anywhere.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
                        aCol: String = "id_a", bCol: String = "id_b",
                        wCol: String = "weight",
                        seedCol: String = "node"): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds out of range: $maxRounds")
    val und = edges
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(wCol).isNotNull && col(wCol) >= 0 && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"),
        col(wCol).cast("long").as("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val both = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      var reached = seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0L))
        .transform(graft.state.Checkpoints.stable)
      var frontier = reached
      for (_ <- 1 to maxRounds) {
        val relaxed = frontier.join(both, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = reached.unionByName(relaxed)
          .groupBy("node").agg(min("dist").as("dist"))
          .transform(graft.state.Checkpoints.stable)
        val nextFrontier = next.join(reached, Seq("node", "dist"), "left_anti")
          .transform(graft.state.Checkpoints.stable)
        graft.state.Checkpoints.release(frontier)
        graft.state.Checkpoints.release(reached)
        reached = next
        frontier = nextFrontier
      }
      graft.state.Checkpoints.release(frontier)
      reached
    } finally und.unpersist(blocking = false)
  }

  /** Degree summary + degree assortativity (Newman 2002): the Pearson
    * correlation of endpoint degrees over every directed edge (each
    * undirected edge counted in both orientations — the standard
    * convention, making the measure symmetric). Positive = hubs link
    * to hubs; disassortative (negative) is the typical web/bipartite
    * signature.
    *
    * Exactness: all five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * in Decimal(38,0) over exact integer degrees; r closes with ONE
    * fixed-order double expression, rounded 6. Envelope: m·d_max⁴ <
    * 10³⁸ — holds to d_max ~ 10⁷ at a trillion edges.
    *
    * Scale shape: one degree count (map-side combined), two hash
    * joins keyed on edge endpoints, one scalar aggregate; the degree
    * percentile runs over the #nodes frame. No windows, no collects.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    val dec = DecimalType(38, 0)
    val und = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val directed = und.select(col("a"), col("b"))
      .unionAll(und.select(col("b").as("a"), col("a").as("b")))
      .join(deg.select(col("v").as("a"), col("d").as("__x")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("__y")), "b")
    val x = col("__x").cast(dec)
    val y = col("__y").cast(dec)
    val moments = directed.agg(
      count(org.apache.spark.sql.functions.lit(1)).as("__m"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max("d").as("max_degree"),
      expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(d AS DOUBLE))")
        .as("__p90"))
    val num = (col("__m").cast(dec) * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val denX = (col("__m").cast(dec) * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val denY = (col("__m").cast(dec) * col("__syy") - col("__sy") * col("__sy"))
      .cast("double")
    moments.crossJoin(nodes)
      .select(
        (col("__m") / 2).cast(LongType).as("n_edges"),
        col("n_nodes"), col("max_degree"),
        round(col("__p90"), 4).as("p90_degree"),
        round(col("__sx").cast("double") / col("__m").cast("double"), 6)
          .as("mean_edge_degree"),
        round(when(denX > 0 && denY > 0, num / sqrt(denX * denY)), 6)
          .as("assortativity"))
  }
}
