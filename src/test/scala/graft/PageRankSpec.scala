package graft

import graft.graph.PageRank

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Independent driver-side power iteration with the same fixed
    * semantics (dedup edges, dangling redistribution, fixed rounds).
    */
  private def reference(edges: Seq[(String, String)], iterations: Int,
                        d: Double = 0.85): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v ->
        ((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("pageRank: matches an independent power iteration on a hand " +
    "graph with dangling nodes and duplicate edges; ranks sum to 1; " +
    "the hub out-ranks leaves") {
    // a <-> b, both feed c; c is dangling; the duplicate a->c edge
    // must count once
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    val got = PageRank.pageRank(edges, "src", "dst", iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = reference(
      Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("b", "c")), 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (node, ppm) =>
      val expected = BigDecimal(want(node) * 1000000.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(ppm - expected) < 1e-3, s"$node: $ppm vs $expected")
    }
    assert(math.abs(got.values.sum / 1000000.0 - 1.0) < 1e-9,
      "ranks must sum to 1")
    // c receives from both a and b — highest rank
    assert(got("c") > got("a") && got("c") > got("b"))
  }

  test("triangleCount: hand graph — one clique triangle, chains count " +
    "zero, duplicate and reversed edges collapse, self-loops ignored") {
    // clique {1,2,3} = 1 triangle; chain 3-4-5 adds none; the (2,1)
    // reversal and the duplicate (1,3) must not double-count; (6,6)
    // self-loop is ignored
    val pairs = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (6L, 6L)).toDF("id_a", "id_b")
    assert(graft.graph.GraphOps.triangleCount(pairs) === 1L)
    // two triangles sharing an edge
    val two = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    assert(graft.graph.GraphOps.triangleCount(two) === 2L)
  }

  test("triangleCount: degree-ordered orientation — a star's hub " +
    "orients ALL edges inward, so wedge rows stay O(edges) not " +
    "O(hub-degree²)") {
    // 1 hub (id 0, the SMALLEST id — the id-ordered variant would give
    // it out-degree 10⁴ and ~5·10⁷ wedges), 10⁴ spokes
    val n = 10000
    val star = (1 to n).map(i => (0L, i.toLong)).toDF("id_a", "id_b")
    val oriented = graft.graph.GraphOps.orientEdges(star)
    // every spoke has degree 1 < hub degree 10⁴ → all edges spoke→hub
    val outDeg = oriented.groupBy("s").count()
    assert(outDeg.agg(org.apache.spark.sql.functions.max("count"))
      .head.getLong(0) === 1L, "star edges must orient toward the hub")
    assert(graft.graph.GraphOps.triangleCount(star) === 0L)
  }

  test("triangleCount: degree-ordered form matches a driver-side brute " +
    "force on a deterministic pseudo-random graph (degree ties broken " +
    "by id)") {
    // seeded-random edge list: collisions, ties, duplicate edges
    val rnd = new scala.util.Random(42)
    val edges = (0 until 120).map { _ =>
      val x = rnd.nextInt(18).toLong
      val y = rnd.nextInt(18).toLong
      (math.min(x, y), math.max(x, y))
    }.filter { case (a, b) => a != b }
    val want = {
      val es = edges.distinct.toSet
      val vs = es.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      (for {
        a <- vs; b <- vs if a < b; c <- vs if b < c
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield 1).size.toLong
    }
    assert(want > 0, "fixture must actually contain triangles")
    assert(graft.graph.GraphOps.triangleCount(
      edges.toDF("id_a", "id_b")) === want)
  }

  test("pageRank: a pure sink graph (every node dangling after one " +
    "hop) stays uniform-summable and never NaNs") {
    val edges = Seq(("x", "y")).toDF("src", "dst")
    val got = PageRank.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.size === 2)
    assert(got.values.forall(v => !v.isNaN && v > 0))
    assert(math.abs(got.values.sum / 1000000.0 - 1.0) < 1e-9)
    assert(got("y") > got("x"), "the sink must accumulate rank")
  }

  /** JVM reference for synchronous LPA with the engine's exact
    * contract: neighbors-only vote, (count desc, label asc) argmax,
    * simultaneous updates, keep-own-label when isolated. */
  private def refLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = labels.map { case (n, old) =>
        val votes = nbrs(n).map(labels).groupBy(identity).view
          .mapValues(_.size).toSeq
        if (votes.isEmpty) n -> old
        else n -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation: two triangles joined by a bridge stay TWO " +
    "communities (where CC would merge them); sync-update semantics " +
    "match the JVM reference on a seeded random graph") {
    val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val out = graft.graph.GraphOps.labelPropagation(
      bridged.toDF("id_a", "id_b"), iters = 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2))))
    val byLabel = out.groupBy(_._1).view
      .mapValues(_.map(_._2._1).toSet).toMap
    assert(byLabel === Map(1L -> Set(1L, 2L, 3L), 3L -> Set(4L, 5L, 6L)),
      s"bridged triangles must keep separate communities: $byLabel")
    assert(out.forall(_._2._2 == 3L), "both community sizes are 3")
    // random graph vs the reference, exact label-for-label
    val rnd = new scala.util.Random(5)
    val re = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val eng = graft.graph.GraphOps.labelPropagation(
      re.toDF("id_a", "id_b"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eng === refLpa(re, 4))
  }

  test("degreeAssortativity: a star is perfectly disassortative (-1), " +
    "a regular cycle is degenerate (NULL), duplicates and self-loops " +
    "are dropped") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 0L), (1L, 0L))
      .toDF("id_a", "id_b")
    val r = graft.graph.GraphOps.degreeAssortativity(star).collect()(0)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("max_degree") === 3L)
    assert(r.getAs[Double]("mean_edge_degree") === 2.0)
    assert(r.getAs[Double]("assortativity") === -1.0)
    // 4-cycle: every endpoint degree 2 -> zero variance -> NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("id_a", "id_b")
    val rc = graft.graph.GraphOps.degreeAssortativity(cyc).collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("assortativity")))
  }

  test("linkPrediction: 4-cycle scores both diagonals with cn=2 and " +
    "jaccard=1; existing edges are excluded; a center above the degree " +
    "cap contributes no wedges") {
    import spark.implicits._
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("id_a", "id_b")
    val out = graft.graph.GraphOps.linkPrediction(cyc, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getAs[Double]("jaccard"))).toMap
    // diagonals (1,3) and (2,4): two common neighbors each, and the
    // union of neighborhoods is exactly those two -> jaccard 1
    assert(out === Map((1L, 3L) -> ((2L, 1.0)), (2L, 4L) -> ((2L, 1.0))))
    // a star whose hub exceeds the cap yields nothing: all wedges run
    // through the capped-out hub
    val star = (1L to 5L).map(i => (0L, i)).toDF("id_a", "id_b")
    assert(graft.graph.GraphOps.linkPrediction(star, k = 10,
      maxCenterDegree = 4).count() === 0L)
    assert(graft.graph.GraphOps.linkPrediction(star, k = 10,
      maxCenterDegree = 5).count() === 10L) // all spoke pairs
  }

  test("khopDistances: min hop distance on a path, multi-seed min " +
    "wins, beyond-horizon and disconnected nodes are absent") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id_a", "id_b")
    val one = graft.graph.GraphOps.khopDistances(path,
      Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 beyond, 8/9 disconnected
    val two = graft.graph.GraphOps.khopDistances(path,
      Seq(1L, 5L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(two === Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("personalizedPageRank: mass restarts at the seeds so nodes " +
    "unreachable FROM the seed set score exactly 0, ranks sum to 1, " +
    "and a seed outside the graph is ignored") {
    import spark.implicits._
    // two components: seed-reachable a->b->c and disconnected x->y;
    // c is dangling so its mass restarts at the seed
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("s", "d")
    val seeds = Seq("a", "ghost").toDF("seed")
    val out = graft.graph.PageRank.personalizedPageRank(
      edges, "s", "d", seeds, "seed", iterations = 8)
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getAs[Double]("rank_ppm"))).toMap
    assert(out("x") === ((false, 0.0)))
    assert(out("y") === ((false, 0.0)))
    assert(out("a")._1 && !out("b")._1)
    assert(out("a")._2 > 0 && out("b")._2 > 0 && out("c")._2 > 0)
    assert(math.abs(out.values.map(_._2).sum - 1e6) < 1.0) // sums to 1
    // no seed present in the graph is a hard error
    intercept[IllegalArgumentException] {
      graft.graph.PageRank.personalizedPageRank(
        edges, "s", "d", Seq("ghost").toDF("seed"), "seed")
    }
  }

  test("clusteringCoefficient: 1.0 on a triangle, 0 on a star, 0.6 " +
    "on a triangle with a pendant, NULL on a single edge") {
    import spark.implicits._
    def c(edges: Seq[(Long, Long)]) = graft.graph.GraphOps
      .clusteringCoefficient(edges.toDF("id_a", "id_b")).collect()(0)
    val tri = c(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(tri.getAs[Double]("clustering_coeff") === 1.0)
    assert(tri.getAs[Long]("n_wedges") === 3L)
    val star = c(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star.getAs[Double]("clustering_coeff") === 0.0)
    // triangle {1,2,3} + pendant 3-4: wedges 1+1+3 = 5, one triangle
    val pend = c(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(pend.getAs[Long]("n_wedges") === 5L)
    assert(pend.getAs[Double]("clustering_coeff") === 0.6)
    val edge = c(Seq((1L, 2L)))
    assert(edge.isNullAt(edge.fieldIndex("clustering_coeff")))
  }

  test("weightedDistances: cheaper two-hop path found within the " +
    "round budget, one round returns the direct-edge envelope, " +
    "parallel edges keep the min weight, absent seed emitted at 0") {
    import spark.implicits._
    val g = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L),
      (1L, 2L, 7L), // parallel edge: min weight 5 wins
      (8L, 9L, 2L)) // disconnected
      .toDF("id_a", "id_b", "weight")
    def run(rounds: Int) = graft.graph.GraphOps.weightedDistances(
      g, Seq(1L, 42L).toDF("node"), maxRounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) === Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 42L -> 0L))
    // one round cannot take the 2-hop shortcut: direct edge cost 10
    assert(run(1) === Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 42L -> 0L))
  }

  test("connectedComponents: separate components get their own min " +
    "labels, pointer doubling converges a diameter-8 path in 4 " +
    "rounds, and an unconverged horizon refines but never merges") {
    import spark.implicits._
    val g = (1L to 8L).map(i => (i, i + 1)) ++ // path 1..9, diameter 8
      Seq((20L, 21L), (21L, 22L), (20L, 22L)) // triangle
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cc = graft.graph.GraphOps.connectedComponents(
      g.toDF("id_a", "id_b"), iters = 4)
    assert(persistedSince(before, cc).isEmpty,
      "per-round label cuts must be released; only the returned cut stays")
    val full = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(full(_) === 1L))
    assert(Seq(20L, 21L, 22L).forall(full(_) === 20L))
    // one round cannot span the whole path; but every label must
    // still be a member of the node's true component (refinement)
    val part = graft.graph.GraphOps.connectedComponents(
      g.toDF("id_a", "id_b"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(part.filterKeys(_ <= 9L).values.toSet.size > 1)
    assert(part.forall { case (n, l) => (n <= 9L) === (l <= 9L) })
  }

  test("kCore: a pendant chain peels away over multiple rounds while " +
    "the triangle survives with exact degrees; a bare chain empties") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: round 1 drops 5, round 2 drops 4
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val kc = graft.graph.GraphOps.kCore(g, coreK = 2, iters = 3)
    assert(persistedSince(before, kc).isEmpty,
      "per-round edge cuts must be released; only the returned cut stays")
    val core = kc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // chain 1-2-3-4: endpoint peel cascades to empty
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(graft.graph.GraphOps.kCore(chain, coreK = 2, iters = 3)
      .count() === 0L)
  }
}
