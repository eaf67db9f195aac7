package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Graph rows over the customer-supplier trade graph and the order-part
  * basket graph.
  */
object GraphQueries {
  import Shared._

  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
  }

  /** Trade-graph chunked adjacency, one per (session, sf dir): four
    * graph queries (pagerank, personalized pagerank, label propagation,
    * BFS) iterate over the SAME undirected customer-supplier graph, so
    * the edge-sized fold (orders ⨝ lineitem → distinct symmetrized
    * edges → adjacency chunks) is paid once per session and every
    * algorithm starts from the checkpointed node-sized adjacency. At
    * 100 TB the fold dominates a 3-round node-sized iteration — this
    * turns four edge shuffles into one.
    */
  private def tradeAdjacency(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "tradeAdjacency",
      Graph.chunkedAdjacency(tradeEdges(s, dir)))

  /** Strong-trade pair counts, one per (session, sf dir): the
    * edge-sized orders ⨝ lineitem join folded to per-(customer,
    * supplier) trade counts. Connected components (n ≥ 4) and k-core
    * (n ≥ 3) consume the SAME fold at different strength thresholds,
    * so the join + aggregate is paid once and each query is a filter
    * of the checkpointed pair-sized table — the threshold filter
    * happens after the fold either way, so sharing it changes no
    * rows. Node encoding custkey*2 / suppkey*2+1 keeps ids disjoint
    * and integer so min-label component ids stay oracle-expressible.
    */
  private def tradePairCounts(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "tradePairCounts", {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
    })

  /** Distinct (order, part) basket pairs, one per (session, sf dir):
    * the lineitem-sized scan + distinct shuffle feeding BOTH
    * co-purchase projections (triangles' bipartite projection and the
    * related-items neighborhood Jaccard). The downstream ops re-group
    * the checkpointed distinct set (pair-sized), never re-scan
    * lineitem.
    */
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.getOrElseUpdate(s, dir, "basketPairs",
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("g"), col("l_partkey").as("i"))
        .distinct()
        .localCheckpoint())

  /** DuckDB `WITH` head mirroring [[tradeEdges]]: `e0` the distinct
    * customer-supplier edges, `und` both directions, a trailing comma
    * before the oracle's own CTEs.
    */
  private val OracleTradeGraphCte: String =
    """WITH e0 AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
      |                  's' || CAST(l_suppkey AS VARCHAR) AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |und AS (SELECT src, dst FROM e0
      |        UNION SELECT dst AS src, src AS dst FROM e0),""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // PageRank power iteration (3 rounds, d=0.85) over the undirected
    // customer-supplier trade graph; each round is one edge-join +
    // one aggregation with a checkpointed rank vector (flat plans) —
    // the link-authority primitive next to dedup's connected components
    QuerySpec("q_pagerank", (s, dir) => {
      val edges = tradeEdges(s, dir)
      Graph.pageRank(edges, iterations = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
        .select(col("node"), round(col("rank"), 8).as("rank"))
    },
      // three unrolled power-iteration rounds; (1.0 - 0.85) is spelled
      // as the same IEEE subtraction the Spark side computes
      oracle = OracleTradeGraphCte + """
        |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
        |r0 AS (SELECT src AS node, 1.0 / nn AS rank FROM deg, n),
        |r1 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r0 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst),
        |r2 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r1 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst),
        |r3 AS (SELECT u.dst AS node,
        |              (1.0 - 0.85) / min(n.nn) + 0.85 * sum(r.rank / d.outdeg) AS rank
        |       FROM und u JOIN r2 r ON u.src = r.node
        |                  JOIN deg d ON u.src = d.src CROSS JOIN n
        |       GROUP BY u.dst)
        |SELECT node, round(rank, 8) AS rank FROM r3""".stripMargin),
    // personalized PageRank: teleport mass concentrated on the
    // custkey%50 seed customers — proximity-to-seed ranking over the
    // same chunked-adjacency scaffold (node-sized rounds)
    QuerySpec("q_ppr", (s, dir) => {
      val edges = tradeEdges(s, dir)
      val sources = t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
        .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
      Graph.personalizedPageRank(edges, sources, iterations = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
        .select(col("node"), round(col("rank"), 8).as("rank"))
    },
      // personalized teleport: (1.0 - 0.85) / |S| on seed nodes, 0
      // elsewhere — the same IEEE expressions the Scala side computes
      oracle = OracleTradeGraphCte + """
        |deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY 1),
        |s AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
        |      FROM orders WHERE o_custkey % 50 = 0),
        |sn AS (SELECT CAST(count(*) AS DOUBLE) AS sn FROM s),
        |r0 AS (SELECT d.src AS node,
        |              CASE WHEN s.node IS NOT NULL THEN 1.0 / sn.sn
        |                   ELSE 0.0 END AS rank
        |       FROM deg d LEFT JOIN s ON d.src = s.node CROSS JOIN sn),
        |r1 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r0 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn),
        |r2 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r1 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn),
        |r3 AS (SELECT c.node,
        |              CASE WHEN s.node IS NOT NULL
        |                   THEN (1.0 - 0.85) / sn.sn ELSE 0.0 END
        |              + 0.85 * c.contrib AS rank
        |       FROM (SELECT u.dst AS node, sum(r.rank / d.outdeg) AS contrib
        |             FROM und u JOIN r2 r ON u.src = r.node
        |                        JOIN deg d ON u.src = d.src
        |             GROUP BY u.dst) c
        |       LEFT JOIN s ON c.node = s.node CROSS JOIN sn)
        |SELECT node, round(rank, 8) AS rank FROM r3""".stripMargin),
    // synchronous label propagation (2 rounds) over the same trade
    // graph — deterministic argmax (count desc, label asc), per-round
    // shuffles node-sized, hub argmax one map-side-combined aggregate
    QuerySpec("q_label_prop", (s, dir) => {
      Graph.labelPropagation(tradeEdges(s, dir), iterations = 2,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
    },
      // two unrolled synchronous LPA rounds; argmax = (count DESC,
      // label ASC) row_number, the same deterministic rule as the
      // Spark side
      oracle = OracleTradeGraphCte + """
        |c1 AS (SELECT u.dst AS node, u.src AS label, count(*) AS c
        |       FROM und u GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                  ORDER BY c DESC, label) AS rn
        |         FROM c1) WHERE rn = 1),
        |c2 AS (SELECT u.dst AS node, l.label, count(*) AS c
        |       FROM und u JOIN l1 l ON u.src = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node
        |                  ORDER BY c DESC, label) AS rn
        |         FROM c2) WHERE rn = 1)
        |SELECT node, label FROM l2""".stripMargin),
    // multi-source BFS over the trade graph: hop distance from the
    // custkey%50 seed customers, 3 frontier rounds — each round joins
    // the chunked adjacency with the FRONTIER only (node-sized
    // shuffles, checkpointed state, early exit on empty frontier)
    QuerySpec("q_bfs_dist", (s, dir) => {
      val sources = t(s, dir, "orders").filter(col("o_custkey") % 50 === 0)
        .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
      Graph.bfsDistances(tradeEdges(s, dir), sources, maxDepth = 3,
        prebuiltAdj = Some(tradeAdjacency(s, dir)))
    },
      // three unrolled frontier rounds over the undirected trade
      // graph; seeds = custkey%50 customers that have orders
      oracle = OracleTradeGraphCte + """
        |d0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
        |       FROM orders WHERE o_custkey % 50 = 0),
        |d1 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d0 ON u.src = d0.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0)),
        |d2 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d1 ON u.src = d1.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0 UNION ALL
        |                           SELECT node FROM d1)),
        |d3 AS (SELECT DISTINCT u.dst AS node FROM und u
        |       JOIN d2 ON u.src = d2.node
        |       WHERE u.dst NOT IN (SELECT node FROM d0 UNION ALL
        |                           SELECT node FROM d1 UNION ALL
        |                           SELECT node FROM d2))
        |SELECT node, CAST(0 AS BIGINT) AS dist FROM d0
        |UNION ALL SELECT node, 1 FROM d1
        |UNION ALL SELECT node, 2 FROM d2
        |UNION ALL SELECT node, 3 FROM d3""".stripMargin),
    // connected components over the STRONG trade graph (pairs that
    // traded >= 4 line items — 73 components at sf0.01, not one giant
    // blob); node encoding custkey*2 / suppkey*2+1 keeps ids disjoint
    // and integer so the min-label component id is oracle-expressible
    QuerySpec("q_connected_components", (s, dir) =>
      Graph.connectedComponents(tradePairCounts(s, dir)
        .filter(col("n") >= 4).select("src", "dst")),
      // min-reachable-label components via transitive closure; the
      // Spark side's large/small-star rounds converge to the same
      // smallest-reachable-id labeling
      oracle = """WITH RECURSIVE p AS (
        |  SELECT CAST(o_custkey * 2 AS BIGINT) AS src,
        |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst, count(*) AS n
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e0 AS (SELECT src, dst FROM p WHERE n >= 4),
        |e AS (SELECT src AS a, dst AS b FROM e0
        |      UNION SELECT dst, src FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
        |SELECT a AS node, least(a, min(b)) AS component
        |FROM reach GROUP BY a""".stripMargin),
    // per-node triangle count + local clustering coefficient of the
    // repeat-co-purchase graph (parts co-ordered in >= 2 baskets);
    // degree-ordered orientation bounds the wedge join at m^1.5
    QuerySpec("q_triangles", (s, dir) => {
      // basketPairs is already distinct + checkpointed (session-shared):
      // skip the operator's internal (g, i) de-dup shuffle
      val co = Graph.bipartiteProject(basketPairs(s, dir),
        "g", "i", maxFanout = 1000, minShared = 2L, assumeDistinct = true)
      Graph.triangleCounts(
        co.select(col("item_a").as("src"), col("item_b").as("dst")))
    },
      // same degree-ordered orientation as the Spark side: edge
      // directed low (degree, node) -> high, wedge pairs ordered the
      // same way, one closing-edge join; coefficient is the identical
      // IEEE expression (2.0 * t / (d * (d - 1)))
      oracle = """WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |           FROM lineitem),
        |kept AS (SELECT g FROM b GROUP BY g
        |         HAVING count(*) BETWEEN 2 AND 1000),
        |c AS (SELECT b.g, b.i FROM b JOIN kept USING (g)),
        |co AS (SELECT a.i AS pa, b2.i AS pb
        |       FROM c a JOIN c b2 ON a.g = b2.g AND a.i < b2.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT pa AS x, pb AS y FROM co
        |        UNION ALL SELECT pb, pa FROM co),
        |deg AS (SELECT x AS node, count(*) AS d FROM sym GROUP BY 1),
        |orient AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND co.pa < co.pb)
        |              THEN co.pa ELSE co.pb END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND co.pa < co.pb)
        |              THEN co.pb ELSE co.pa END AS dst
        |  FROM co JOIN deg da ON da.node = co.pa
        |          JOIN deg db ON db.node = co.pb),
        |od AS (SELECT o.src, o.dst, d.d AS dd
        |       FROM orient o JOIN deg d ON d.node = o.dst),
        |tri AS (
        |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        |  FROM od o1 JOIN od o2 ON o1.src = o2.src
        |    AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
        |  JOIN orient o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
        |pn AS (SELECT node, count(*) AS triangles FROM (
        |         SELECT u AS node FROM tri
        |         UNION ALL SELECT v FROM tri
        |         UNION ALL SELECT w FROM tri)
        |       GROUP BY 1)
        |SELECT deg.node, deg.d AS degree,
        |       COALESCE(pn.triangles, 0) AS triangles,
        |       CASE WHEN deg.d >= 2
        |            THEN 2.0 * COALESCE(pn.triangles, 0) / (deg.d * (deg.d - 1))
        |            ELSE 0.0 END AS clustering_coeff
        |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin),
    // k-core peeling (k=3, 3 bounded rounds) over the n>=3 strong trade
    // graph: per round one node-sized degree aggregate + two edge-sized
    // semi-joins, checkpointed state, early exit at the fixpoint;
    // oracle = 3 unrolled peel rounds
    QuerySpec("q_kcore", (s, dir) =>
      Graph.kCore(tradePairCounts(s, dir)
        .filter(col("n") >= 3).select("src", "dst"), k = 3, maxRounds = 3),
      // 3 unrolled peel rounds; extra rounds past the fixpoint are
      // no-ops, so the bounded form is exactly comparable
      oracle = """WITH tr AS (SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |            GROUP BY 1, 2 HAVING count(*) >= 3),
        |e0 AS (SELECT src, dst FROM tr UNION SELECT dst, src FROM tr),
        |k0 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       WHERE e.src IN (SELECT src FROM k0)
        |         AND e.dst IN (SELECT src FROM k0)),
        |k1 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       WHERE e.src IN (SELECT src FROM k1)
        |         AND e.dst IN (SELECT src FROM k1)),
        |k2 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 3),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       WHERE e.src IN (SELECT src FROM k2)
        |         AND e.dst IN (SELECT src FROM k2))
        |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |FROM e3 GROUP BY 1""".stripMargin),
    // "bought together" top-100: part pairs by basket-neighborhood
    // Jaccard (int-derived IEEE division — reproducible unrounded, so
    // the top-k cut is deterministic without a rounding grid)
    QuerySpec("q_graph_related", (s, dir) =>
      // basketPairs is already distinct + checkpointed (session-shared)
      Graph.relatedByNeighbors(basketPairs(s, dir),
        "g", "i", k = 100, minShared = 2L, assumeDistinct = true),
      oracle = """WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
        |           FROM lineitem),
        |kept AS (SELECT g FROM b GROUP BY g
        |         HAVING count(*) BETWEEN 2 AND 10000),
        |c AS (SELECT b.g, b.i FROM b JOIN kept USING (g)),
        |ideg AS (SELECT i, count(*) AS d FROM c GROUP BY 1),
        |co AS (SELECT a.i AS item_a, b2.i AS item_b, count(*) AS shared
        |       FROM c a JOIN c b2 ON a.g = b2.g AND a.i < b2.i
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, shared,
        |       CAST(shared AS DOUBLE) / (da.d + db.d - shared) AS jaccard
        |FROM co JOIN ideg da ON da.i = item_a
        |        JOIN ideg db ON db.i = item_b
        |ORDER BY jaccard DESC, item_a, item_b
        |LIMIT 100""".stripMargin)
  )
}
