package graft.queries

import graft.Tables
import graft.queries.OracleSql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph operators over the order–part and word graphs: PageRank and
  * its personalized and TextRank variants, connected components (batch
  * and incremental), k-core, k-hop reachability, link prediction,
  * assortativity and the community and duplicate-graph clusterings.
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // degree summary + assortativity over the q143 order-part link
    // graph: exact Decimal moments, one closing double expression
    "q209_assortativity" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.degreeAssortativity(edges)
    }),

    // common-neighbor/Jaccard link prediction over the order-part
    // graph: wedges through degree-capped centers only (the exact,
    // replayable hub discount), anti-join against existing edges,
    // deterministic top-k
    "q215_link_prediction" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.linkPrediction(edges, k = 50,
        maxCenterDegree = 64)
    }),

    // 3-core of the order-part graph by 8 fixed peel rounds (monotone,
    // converged on the shipped graphs); oracle replays every round
    "q216_kcore" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.kCore(edges, coreK = 3, iters = 8)
    }),

    // bounded transitive closure: exact min hop distance from seed
    // orders over the order-part graph, 4 level-synchronous rounds
    "q229_khop_reachability" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 7 === 0)
      val edges = li.select(
        concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
        concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      val seeds = li.filter(col("l_orderkey") % 700 === 0)
        .select(concat(lit("o"), col("l_orderkey").cast(StringType))
          .as("node")).distinct()
      graft.graph.GraphOps.khopDistances(edges, seeds, maxHops = 4)
    }),

    // end-to-end entity resolution: part names plus deterministic
    // typo variants (q149's construction) resolve to entity clusters —
    // SymSpell-blocked edit-distance-1 candidate pairs (complete for
    // lev<=1, the q149 proof) feed min-label connected components;
    // output = every entity with its cluster label (component min id)
    // and cluster size. CLIQUE COLLAPSE (round 12): equal names are a
    // clique, so the graph contracts to DISTINCT NAMES before CC —
    // the id-level pair set is the name-pair set times the product of
    // name multiplicities (measured 5.3M id pairs from 288 name pairs
    // at sf0.1, 10.8 s -> the name graph is 1.2k nodes) and the
    // component min-id label recovers exactly as min over the
    // component's per-name min ids. The oracle recomputes pairs
    // QUADRATICALLY at the id level and closes them with a
    // recursive-CTE reachability fixpoint — a collapse bug is a hash
    // mismatch.
    "q182_entity_clusters" -> ((s, d) => {
      val p = s.read.parquet(s"$d/part.parquet")
        .select(col("p_partkey"), col("p_name"))
      val ents = p.select(col("p_partkey").cast("long").as("id"),
          col("p_name").as("name"))
        .unionByName(p.filter(col("p_partkey") % 5 === 0)
          .select((col("p_partkey") + 1000000L).cast("long").as("id"),
            concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)"))
              .as("name")))
      val names = ents.select("name").distinct()
      val namePairs = graft.operators.FuzzyJoin.editDistanceJoin(
          names.select(col("name").as("name_a")), "name_a",
          names.select(col("name").as("name_b")), "name_b")
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      val nameComp = graft.pipelines.CorpusPipeline.minLabelComponents(
        names.select(col("name").as("node")), namePairs)
        .select(col("node").as("name"), col("label").as("__nc"))
      val nameMinId = ents.groupBy("name").agg(min("id").as("__minId"))
      val compLabel = nameComp.join(nameMinId, "name")
        .groupBy("__nc").agg(min("__minId").as("cluster_id"))
      val labeled = ents
        .join(broadcast(nameComp), "name")
        .join(broadcast(compLabel), "__nc")
      val sizes = labeled.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(broadcast(sizes), "cluster_id")
        .select(col("id").as("entity_id"), col("cluster_id"),
          col("cluster_size"))
    }),

    // deterministic synchronous label-propagation communities over
    // the co-purchase item graph (parts sharing >= 2 orders):
    // 3 fixed rounds, ties to the smallest label, all-simultaneous
    // updates — no async update-order nondeterminism
    "q193_item_communities" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val edges = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2)
        .select(col("pa").as("id_a"), col("pb").as("id_b"))
      graft.graph.GraphOps.labelPropagation(edges, iters = 3)
    }),

    // PageRank over the order→part bipartite link graph, 5 fixed
    // power iterations with dangling redistribution — parts (dst-only
    // nodes) are all dangling, so the redistribution path carries
    // real mass; fixed iterations make the result a pure function of
    // the edge list
    "q143_pagerank" -> ((s, d) => {
      val edges = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("src"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("dst"))
      graft.graph.PageRank.pageRank(edges, "src", "dst", iterations = 5)
    }),

    // random walk with restart to the %91 seed orders: teleport and
    // dangling mass go to seeds only, so unreachable nodes score
    // exactly 0 — the "relevance to these nodes" signal
    "q236_personalized_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 7 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("src"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("dst"))
      val seeds = li.filter(col("l_orderkey") % 91 === 0)
        .select(concat(lit("o"), col("l_orderkey").cast(StringType)).as("seed"))
      graft.graph.PageRank.personalizedPageRank(edges, "src", "dst",
        seeds, "seed", iterations = 5)
    }),

    // TextRank keywords: PageRank over the corpus word-adjacency
    // graph, top-20 by (rounded ppm desc, word asc)
    "q237_textrank_keywords" -> ((s, d) =>
      graft.text.TextOps.textRankKeywords(Tables.documents(s, d), "text",
        iterations = 5, k = 20)),

    // connected components over the order–part bipartite graph:
    // min-label propagation + pointer doubling, fixed 6 rounds
    "q238_connected_components" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 13 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"))
      graft.graph.GraphOps.connectedComponents(edges, iters = 6)
    }),

    // DBSCAN-lite hotspots: md5-bucketed 32×32 grid cells, dense ≥ 14
    // points, 8-adjacent dense cells merged by connected components
    "q242_grid_hotspots" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def cellOf(salt: String) = expr(
        s"""conv(substring(md5(concat(cast(event_id as string), '$salt')), 1, 8), 16, 10)""")
        .cast(LongType)
      val cells = ev.select(
        cellOf(":x").as("__hx"), cellOf(":y").as("__hy"))
        .select(expr("__hx div 134217728L").as("cx"),
          expr("__hy div 134217728L").as("cy"))
      graft.geo.Geo.gridHotspots(cells, "cx", "cy",
        gridSize = 32, minPts = 14L, ccIters = 5)
    }),

    // transitivity health of the near-dup relation: a sound "near
    // duplicate" is almost transitive, so a low clustering coefficient
    // flags chain-merging before component-level dedup. Graph = md5
    // SimHash hamming ≤ 3 pairs: candidates COMPLETE by pigeonhole
    // blocking AND selective (only identical 16-bit blocks join) —
    // the τ=0.45 banded-LSH graph this replaces needed non-selective
    // bands (6-bit bands collide ~78% of ALL pairs across 96 bands)
    // to reach full recall, an all-pairs join in disguise at scale
    "q264_dupgraph_clustering" -> ((s, d) => {
      val pairs = graft.dedup.NearDup.md5SimhashPairs(
        Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
      graft.graph.GraphOps.clusteringCoefficient(pairs, "id_a", "id_b")
    }),

    // the q238 component answer rebuilt INCREMENTALLY: the edge set
    // arrives in three deterministic batches through ccLabelBatch's
    // label-contraction state, and the final label table must equal
    // the batch CC — this puts the streaming incremental path itself
    // under the driver's oracle gate, not just ScalaTest
    "q288_incremental_cc" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val edges = li.filter(col("l_orderkey") % 13 === 0)
        .select(
          concat(lit("o"), col("l_orderkey").cast(StringType)).as("id_a"),
          concat(lit("p"), col("l_partkey").cast(StringType)).as("id_b"),
          pmod(expr("l_orderkey div 13"), lit(3)).as("__b"))
      graft.TempTrees.withTempDir("q288cc") { tmpRoot =>
        val dir = tmpRoot.toString + "/labels"
        for (b <- 0 until 3)
          graft.streaming.StreamingOps.ccLabelBatch(
            edges.filter(col("__b") === b), "id_a", "id_b", dir, iters = 6)
        // q307's temp-state discipline (VERDICT r13 task #3): the eager
        // checkpoint severs the lineage to the labels parquet, so the
        // temp dir can be removed before returning — previously every
        // Bench/Verify invocation leaked a labels copy under /tmp
        graft.streaming.StreamingOps.componentsFromLabels(s, dir)
          .transform(graft.state.Checkpoints.stable)
      }
    })
  )

  val oracle: Map[String, String] = Map(
    // same degree counts, HUGEINT moments, identical closing
    // expression over the both-orientations edge frame
    "q209_assortativity" ->
      """WITH und AS (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
        |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
        |           'p' || CAST(l_partkey AS VARCHAR) AS b
        |    FROM lineitem WHERE l_orderkey % 7 = 0)
        |  WHERE a <> b
        |), deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1
        |), dir AS (
        |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
        |), mom AS (
        |  SELECT count(*) AS m,
        |    sum(CAST(da.d AS HUGEINT)) AS sx,
        |    sum(CAST(db.d AS HUGEINT)) AS sy,
        |    sum(CAST(da.d AS HUGEINT) * CAST(db.d AS HUGEINT)) AS sxy,
        |    sum(CAST(da.d AS HUGEINT) * CAST(da.d AS HUGEINT)) AS sxx,
        |    sum(CAST(db.d AS HUGEINT) * CAST(db.d AS HUGEINT)) AS syy
        |  FROM dir JOIN deg da ON da.v = dir.a JOIN deg db ON db.v = dir.b
        |), nd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(max(d) AS BIGINT) AS max_degree,
        |    percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(d AS DOUBLE))
        |      AS p90
        |  FROM deg
        |)
        |SELECT CAST(m // 2 AS BIGINT) AS n_edges, n_nodes, max_degree,
        |  round(p90, 4) AS p90_degree,
        |  round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6)
        |    AS mean_edge_degree,
        |  round(CASE WHEN denx > 0 AND deny > 0
        |    THEN num / sqrt(denx * deny) END, 6) + 0 AS assortativity
        |FROM mom, nd,
        |  LATERAL (SELECT CAST(m * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(m * sxx - sx * sx AS DOUBLE) AS denx,
        |    CAST(m * syy - sy * sy AS DOUBLE) AS deny) l""".stripMargin,

    // wedge counts through degree<=64 centers, full-degree Jaccard,
    // the same total order for the top-k set
    "q215_link_prediction" ->
      """WITH e0 AS (
        |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
        |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
        |           'p' || CAST(l_partkey AS VARCHAR) AS b
        |    FROM lineitem WHERE l_orderkey % 7 = 0)
        |  WHERE a <> b
        |), deg AS (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1
        |), ctr AS (SELECT v FROM deg WHERE d <= 64
        |), both_ AS (
        |  SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0
        |), adj AS (
        |  SELECT src, dst FROM both_ JOIN ctr ON ctr.v = both_.src
        |), w AS (
        |  SELECT a1.dst AS x, a2.dst AS y, count(*) AS cn
        |  FROM adj a1 JOIN adj a2 USING (src)
        |  WHERE a1.dst < a2.dst GROUP BY 1, 2
        |), nw AS (
        |  SELECT x, y, cn FROM w
        |  ANTI JOIN e0 ON e0.a = w.x AND e0.b = w.y
        |)
        |SELECT x AS id_a, y AS id_b, cn AS common_neighbors,
        |  round(CAST(cn AS DOUBLE)
        |    / CAST(da.d + db.d - cn AS DOUBLE), 6) AS jaccard
        |FROM nw JOIN deg da ON da.v = nw.x JOIN deg db ON db.v = nw.y
        |ORDER BY cn DESC, x, y LIMIT 50""".stripMargin,

    "q216_kcore" -> kCoreOracle(3, 8),

    "q229_khop_reachability" -> khopOracle(4),

    // quadratic lev<=1 pair recomputation (length-band prefilter is a
    // necessary condition, so completeness is preserved) + recursive
    // reachability closure; labels = min reachable id
    "q182_entity_clusters" ->
      """WITH RECURSIVE ents AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT CAST(p_partkey + 1000000 AS BIGINT),
        |    substring(p_name, 1, 2) || substring(p_name, 4)
        |  FROM part WHERE p_partkey % 5 = 0
        |), pairs AS (
        |  SELECT a.id AS ia, b.id AS ib
        |  FROM ents a JOIN ents b
        |    ON a.id < b.id
        |   AND abs(length(a.name) - length(b.name)) <= 1
        |  WHERE levenshtein(a.name, b.name) <= 1
        |), edges AS (
        |  SELECT ia, ib FROM pairs
        |  UNION ALL
        |  SELECT ib AS ia, ia AS ib FROM pairs
        |), r AS (
        |  SELECT id AS src, id AS dst FROM ents
        |  UNION
        |  SELECT r.src, e.ib AS dst FROM r JOIN edges e ON e.ia = r.dst
        |), labels AS (
        |  SELECT src AS entity_id, min(dst) AS cluster_id FROM r GROUP BY src
        |), sizes AS (
        |  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1
        |)
        |SELECT l.entity_id, l.cluster_id,
        |  CAST(s.cluster_size AS BIGINT) AS cluster_size
        |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin,

    // the same edge build and three unrolled synchronous rounds —
    // per-round argmax via (count desc, label asc) row_number
    "q193_item_communities" -> {
      def round(prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT n.node, coalesce(b.l, n.label) AS label
           |  FROM $prev n LEFT JOIN (
           |    SELECT node, l FROM (
           |      SELECT src AS node, label AS l,
           |        row_number() OVER (PARTITION BY src
           |          ORDER BY count(*) DESC, label ASC) AS rn
           |      FROM bothw JOIN $prev p ON p.node = bothw.dst
           |      GROUP BY src, label) WHERE rn = 1
           |  ) b USING (node))""".stripMargin
      s"""WITH e AS MATERIALIZED (
         |  SELECT pa AS a, pb AS b FROM (
         |    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
         |    FROM lineitem a JOIN lineitem b
         |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |    GROUP BY 1, 2) WHERE n >= 2
         |), bothw AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e
         |), nodes AS (
         |  SELECT a AS node FROM e UNION SELECT b FROM e
         |), l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |sizes AS (SELECT label, count(*) AS community_size FROM l3 GROUP BY 1)
         |SELECT l3.node, l3.label, sizes.community_size
         |FROM l3 JOIN sizes USING (label)""".stripMargin
    },

    // the same 5 power iterations UNROLLED as chained MATERIALIZED
    // CTEs (each r_i is referenced twice — inlined CTEs would
    // re-evaluate exponentially; a recursive CTE cannot carry the
    // per-iteration dangling scalar), identical operand order
    "q143_pagerank" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
          |    'p' || CAST(l_partkey AS VARCHAR) AS dst
          |  FROM lineitem WHERE l_orderkey % 7 = 0
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          |deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      head + pageRankRounds(5, "/ (SELECT n FROM nn)", "nodes n") +
        "\nSELECT node, round(rank * 1000000.0, 4) AS rank_ppm FROM r5"
    },

    // q143's unrolled power iterations with the seed-restart teleport:
    // r' = (1-d)·t + d·(contrib + dangling·t), t = 1/|S| on seeds
    "q236_personalized_pagerank" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
          |    'p' || CAST(l_partkey AS VARCHAR) AS dst
          |  FROM lineitem WHERE l_orderkey % 7 = 0
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), seeds AS MATERIALIZED (
          |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS s
          |  FROM lineitem WHERE l_orderkey % 91 = 0
          |), sn AS (SELECT count(*)::DOUBLE AS c
          |          FROM seeds JOIN nodes ON nodes.node = seeds.s),
          |tele AS MATERIALIZED (
          |  SELECT node,
          |    CASE WHEN EXISTS (SELECT 1 FROM seeds WHERE s = node)
          |      THEN 1.0 / (SELECT c FROM sn) ELSE 0.0 END AS t
          |  FROM nodes
          |), deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, t AS rank FROM tele)""".stripMargin
      head + pageRankRounds(5, "* t.t", "nodes n JOIN tele t USING (node)") +
        """
          |SELECT r.node,
          |  EXISTS (SELECT 1 FROM seeds WHERE s = r.node) AS is_seed,
          |  round(rank * 1000000.0, 4) AS rank_ppm FROM r5 r""".stripMargin
    },

    // q143's unrolled iterations over the word-adjacency graph built
    // with a list comprehension; top-20 by (rounded ppm desc, word)
    "q237_textrank_keywords" -> {
      val head =
        raw"""WITH tok AS (
          |  SELECT regexp_split_to_array(trim(text, $ws), '\s+') AS t
          |  FROM documents
          |  WHERE text IS NOT NULL AND length(trim(text, $ws)) > 0
          |    AND len(regexp_split_to_array(trim(text, $ws), '\s+')) >= 2
          |), pr AS (
          |  SELECT unnest([{'a': t[i], 'b': t[i+1]} for i in range(1, len(t))],
          |    recursive := true)
          |  FROM tok
          |), edges AS MATERIALIZED (
          |  SELECT DISTINCT a AS src, b AS dst FROM pr WHERE a <> b
          |  UNION
          |  SELECT DISTINCT b, a FROM pr WHERE a <> b
          |), nodes AS MATERIALIZED (
          |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
          |), nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          |deg AS MATERIALIZED (SELECT src AS node, count(*)::DOUBLE AS deg
          |        FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      head + pageRankRounds(5, "/ (SELECT n FROM nn)", "nodes n") +
        """
          |SELECT CAST(pos AS INT) AS pos, keyword, rank_ppm FROM (
          |  SELECT row_number() OVER (
          |      ORDER BY round(rank * 1000000.0, 4) DESC, node) AS pos,
          |    node AS keyword, round(rank * 1000000.0, 4) AS rank_ppm
          |  FROM r5)
          |WHERE pos <= 20""".stripMargin
    },

    // min-label propagation with pointer doubling, every round
    // unrolled: h_i = min(own, neighbor min), l_i = min(h_i, h_i of
    // one's label) — labels only decrease, so the fixed horizon is
    // the operator's definition on both engines
    "q238_connected_components" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
          |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
          |      'p' || CAST(l_partkey AS VARCHAR) AS b
          |    FROM lineitem WHERE l_orderkey % 13 = 0)
          |  WHERE a <> b
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT node, node AS lab FROM (
          |    SELECT a AS node FROM edges UNION SELECT b FROM edges)
          |)""".stripMargin
      head + ccRoundsSql(6) +
        "\nSELECT node, lab AS component FROM l6"
    },

    // same grid derivation, dense filter, forward-adjacency edges,
    // and unrolled CC rounds; isolated dense cells self-label via l0
    "q242_grid_hotspots" -> {
      val head =
        """WITH pts AS MATERIALIZED (
          |  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 8))::UBIGINT
          |           // 134217728 AS BIGINT) AS cx,
          |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 8))::UBIGINT
          |           // 134217728 AS BIGINT) AS cy
          |  FROM events
          |), dense AS MATERIALIZED (
          |  SELECT cx, cy, cx * 32 + cy AS cell, count(*) AS n
          |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 14
          |), edges AS MATERIALIZED (
          |  SELECT a.cell AS a, b.cell AS b FROM dense a JOIN dense b
          |  ON b.cell > a.cell
          |    AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT cell AS node, cell AS lab FROM dense
          |)""".stripMargin
      head + ccRoundsSql(5) +
        """
          |SELECT l.lab AS component, count(*) AS n_cells,
          |  CAST(sum(d.n) AS BIGINT) AS n_points,
          |  CAST(max(d.n) AS BIGINT) AS peak_cell_points
          |FROM l5 l JOIN dense d ON d.cell = l.node
          |GROUP BY 1""".stripMargin
    },

    // full md5-SimHash replay (64 bit-sums per doc, strict-majority
    // signature), exact quadratic hamming pair SQL vs the engine's
    // pigeonhole-blocked path, ordered triangle join, integer wedges
    "q264_dupgraph_clustering" -> {
      s"""WITH ${simhashSigCtes("documents WHERE text IS NOT NULL")}, e AS MATERIALIZED (
         |  SELECT a.doc_id AS s, b.doc_id AS t
         |  FROM sig a, sig b
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |), deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT s AS v FROM e UNION ALL SELECT t FROM e) GROUP BY 1
         |), tri AS (
         |  SELECT count(*) AS t
         |  FROM e e1
         |  JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
         |  JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t
         |)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM e) AS n_edges,
         |  CAST((SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg) AS BIGINT)
         |    AS n_wedges,
         |  (SELECT t FROM tri) AS n_triangles,
         |  CASE WHEN (SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg) > 0
         |    THEN 3.0 * (SELECT t FROM tri)::DOUBLE
         |      / (SELECT coalesce(sum((d * (d - 1)) // 2), 0) FROM deg)::DOUBLE
         |    END AS clustering_coeff""".stripMargin
    },

    // the q238 batch CC answer unrolled to the FIXPOINT (converges by
    // round 10 at sf0.01 and 11 at sf0.1, DuckDB-measured; 14 carries
    // margin) — the incremental path must land on the fixpoint, not a
    // round-count snapshot. The closing SELECT is GUARDED on l14 = l13:
    // if a deeper graph ever outruns the unroll, the oracle returns
    // ZERO rows and reds ITSELF (rows mismatch) instead of blaming a
    // correct engine with a silently under-converged label table.
    "q288_incremental_cc" -> {
      val head =
        """WITH edges AS MATERIALIZED (
          |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
          |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
          |      'p' || CAST(l_partkey AS VARCHAR) AS b
          |    FROM lineitem WHERE l_orderkey % 13 = 0)
          |  WHERE a <> b
          |), both_dir AS MATERIALIZED (
          |  SELECT a AS src, b AS dst FROM edges
          |  UNION ALL SELECT b, a FROM edges
          |), l0 AS MATERIALIZED (
          |  SELECT node, node AS lab FROM (
          |    SELECT a AS node FROM edges UNION SELECT b FROM edges)
          |)""".stripMargin
      val fixpointGuard =
        """, conv AS (
          |  SELECT count(*) AS n_moved
          |  FROM l14 a JOIN l13 b ON a.node = b.node AND a.lab <> b.lab
          |)""".stripMargin
      head + ccRoundsSql(14) + fixpointGuard +
        "\nSELECT node, lab AS component FROM l14, conv WHERE conv.n_moved = 0"
    }
  )

  /** Full-replay oracle for [[graft.graph.GraphOps.kCore]]: the peel
    * unrolls into one CTE triple (degrees, keep-set, filtered edges)
    * per round, then reads the surviving graph's degrees — the same
    * generated-SQL discipline as the q189/q190 k-means replays.
    */
  private def kCoreOracle(coreK: Int, iters: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
      |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
      |           'p' || CAST(l_partkey AS VARCHAR) AS b
      |    FROM lineitem WHERE l_orderkey % 7 = 0)
      |  WHERE a <> b)""".stripMargin
    for (i <- 0 until iters) {
      parts += s"""d$i AS MATERIALIZED (
        |  SELECT v, count(*) AS d FROM (
        |    SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1)""".stripMargin
      parts += s"k$i AS MATERIALIZED (SELECT v FROM d$i WHERE d >= $coreK)"
      parts += s"""e${i + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$i e
        |  JOIN k$i x ON x.v = e.a JOIN k$i y ON y.v = e.b)""".stripMargin
    }
    s"""WITH ${parts.result().mkString(",\n")}
       |SELECT v AS node, count(*) AS core_degree FROM (
       |  SELECT a AS v FROM e$iters UNION ALL SELECT b FROM e$iters)
       |GROUP BY 1""".stripMargin
  }

  /** Full-replay oracle for [[graft.graph.GraphOps.khopDistances]]:
    * one (frontier, reached) CTE pair per level-synchronous round,
    * MATERIALIZED against DuckDB's exponential CTE inlining.
    */
  private def khopOracle(maxHops: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 7 = 0)""".stripMargin
    parts += """e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
      |    SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
      |           'p' || CAST(l_partkey AS VARCHAR) AS b FROM li)
      |  WHERE a <> b)""".stripMargin
    parts += """adj AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM e0
      |  UNION ALL SELECT b, a FROM e0)""".stripMargin
    parts += """f0 AS MATERIALIZED (
      |  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS node
      |  FROM li WHERE l_orderkey % 700 = 0)""".stripMargin
    parts += "r0 AS MATERIALIZED (SELECT node, 0 AS dist FROM f0)"
    for (h <- 1 to maxHops) {
      parts += s"""f$h AS MATERIALIZED (
        |  SELECT DISTINCT d.node FROM (
        |    SELECT a.dst AS node FROM adj a
        |    JOIN f${h - 1} f ON a.src = f.node) d
        |  ANTI JOIN r${h - 1} r ON r.node = d.node)""".stripMargin
      parts += s"""r$h AS MATERIALIZED (
        |  SELECT node, dist FROM r${h - 1}
        |  UNION ALL SELECT node, $h FROM f$h)""".stripMargin
    }
    s"""WITH ${parts.result().mkString(",\n")}
       |SELECT node, CAST(dist AS INTEGER) AS dist FROM r$maxHops""".stripMargin
  }
}
