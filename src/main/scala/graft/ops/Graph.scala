package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the link-structure side of a
  * corpus pipeline (host/domain authority for crawl prioritization,
  * citation weight for quality scoring, community detection for topic
  * bucketing). Complements the connected-components machinery in
  * [[Dedup]]: CC answers "which docs form one duplicate cluster",
  * PageRank ranks nodes by stationary visit probability, label
  * propagation groups nodes into densely-linked communities.
  *
  * Scale posture (shared by both algorithms): the edge list is folded
  * ONCE into chunked adjacency rows (node-sized table, arrays bounded
  * by `maxFanout` even for web-scale hub nodes) and checkpointed;
  * after that, every iteration round shuffles only NODE-sized data —
  * the adjacency ⨝ state join keys on node id and the per-round
  * aggregation map-side-combines the exploded neighbor stream back
  * down before it crosses the wire. Edge-sized work per round is
  * purely map-side (the explode). Each round's state vector is
  * checkpointed so the plan stays flat (the [[Dedup]] large-star/
  * small-star pattern). Nothing corpus-sized ever reaches the driver:
  * the only collected value is the node count (one scalar).
  */
object Graph {

  // r14 note: replacing the per-round localCheckpoint of the
  // fixed-iteration loops (pageRank / personalizedPageRank /
  // labelPropagation) with a checkpoint-every-K cadence was tried and
  // MEASURED SLOWER (q_ppr 1.76 s -> 3.69 s, q_pagerank 1.74 -> 2.50
  // at sf0.1): without the materialization, each round's
  // adjacency ⨝ state join loses the checkpointed state's accurate
  // size statistics and plans as a SortMergeJoin that re-shuffles the
  // adjacency every round (11 exchanges / 3 SMJ in one mega-plan, vs
  // per-round broadcast of the node-sized state). The per-round
  // checkpoint is load-bearing: it is what keeps every round's join
  // a broadcast with the adjacency never shuffled. Kept.

  /** Eagerly unpersist the blocks behind a round-state localCheckpoint
    * once the round that consumed it is materialized (r15, guide §5):
    * the ContextCleaner reclaims checkpoint blocks only when a GC
    * notices the RDD is unreachable, so inside a long suite every
    * iteration of every graph query leaves its dead round states in
    * the block manager until the next full GC — storage pressure that
    * inflates NEIGHBORING queries (judged: q_ppr suite median 4.2 s vs
    * solo 1.0 s at r14). A no-op for any frame that is not itself a
    * checkpoint (the analyzed plan root is not a LogicalRDD), so
    * session-shared inputs like the prebuilt adjacency — where the
    * checkpoint is the root but the caller still owns it — are only
    * ever dropped by their owners. Plans are unchanged; only the
    * lifetime of dead blocks shrinks.
    */
  private[ops] def dropRoundState(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** One-time fold of `edges` into the UNDIRECTED chunked adjacency
    * table `(src, dsts, outdeg)` (localCheckpointed) — each input edge
    * contributes both directions, duplicates collapse, and a node of
    * degree D is split into ceil(D / maxFanout) rows by a hash of the
    * neighbor (hash-balanced: sizes are expected, not worst-case,
    * bounds). Symmetrizing removes dangling nodes by construction —
    * every node has out-degree >= 1.
    *
    * The deduped edge list is materialized once: the degree aggregate
    * AND the adjacency fold both consume it, and two lazy consumers
    * would re-run the whole upstream edge derivation (the
    * multiple-consumer re-execution trap).
    *
    * PUBLIC so callers running several algorithms over the SAME graph
    * (rank + communities + BFS over one trade graph is the normal
    * shape) can fold the edge list once and pass the result to each
    * via `prebuiltAdj` — at 100 TB the fold (edge-sized shuffle +
    * distinct) dominates a 3-round node-sized iteration, so paying it
    * once instead of once per algorithm is the difference between one
    * edge shuffle and four.
    */
  def chunkedAdjacency(edges: DataFrame,
                       maxFanout: Long = 100000L): DataFrame = {
    require(maxFanout >= 1, s"maxFanout must be >= 1: $maxFanout")
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = und.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = und.join(deg, "src")
      .withColumn("__chunk", pmod(xxhash64(col("dst")),
        greatest(lit(1L), ceil(col("outdeg") / maxFanout.toDouble).cast("long"))))
      .groupBy(col("src"), col("__chunk"))
      .agg(collect_list(col("dst")).as("dsts"), first(col("outdeg")).as("outdeg"))
      .select(col("src"), col("dsts"), col("outdeg"))
      .localCheckpoint()
    // the adjacency is materialized: the deduped edge list's blocks
    // are dead (both its consumers — deg and the fold — just ran)
    dropRoundState(und)
    adj
  }

  /** PageRank by power iteration over the undirected view of `edges`.
    * Every node has out-degree >= 1 (symmetrized), so the rank vector
    * sums to 1.0 after every round and no dangling-mass redistribution
    * pass is needed.
    *
    * rank_0(v) = 1/N;
    * rank_{t+1}(v) = (1-d)/N + d * sum over in-neighbors u of
    * rank_t(u) / outdeg(u).
    *
    * @param edges       (src, dst) pairs, any orientation, duplicates ok
    * @param maxFanout   expected adjacency-chunk size bound
    * @param prebuiltAdj a [[chunkedAdjacency]] of the same graph, to
    *                    share the edge-sized fold across algorithms
    * @return (node, rank) — one row per distinct endpoint
    */
  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85,
               maxFanout: Long = 100000L,
               prebuiltAdj: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val adj = prebuiltAdj.getOrElse(chunkedAdjacency(edges, maxFanout))
    val n = adj.select(countDistinct("src")).collect()(0).getLong(0)
    require(n > 0, "pageRank needs a non-empty edge list")
    var ranks = adj.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val prev = ranks
      ranks = adj.join(ranks, adj("src") === ranks("node"))
        .select(explode(col("dsts")).as("node"),
          (col("rank") / col("outdeg")).as("__c"))
        .groupBy("node")
        .agg((lit((1.0 - damping) / n) +
          lit(damping) * sum(col("__c"))).as("rank"))
        .localCheckpoint()
      dropRoundState(prev) // round k is materialized; k-1's blocks are dead
    }
    ranks
  }

  /** Personalized PageRank: the teleport distribution concentrates on
    * `sources` instead of being uniform — rank becomes proximity to
    * the seed set (the classic recommendation / related-entity
    * primitive: "nodes important FROM these nodes' perspective").
    *
    * rank_0 = 1/|S| on sources, 0 elsewhere;
    * rank_{t+1}(v) = (1−d)/|S|·[v ∈ S] + d · Σ rank_t(u)/outdeg(u).
    *
    * Same per-round shape as [[pageRank]] (node-sized shuffles over
    * the checkpointed chunked adjacency); the seed membership joins in
    * as a node-keyed flag (AQE broadcasts a small seed set), and the
    * only driver value is the seed count.
    *
    * @param sources one column `node`; nodes absent from the graph
    *                contribute teleport mass but no link mass
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int, damping: Double = 0.85,
                           maxFanout: Long = 100000L,
                           prebuiltAdj: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val adj = prebuiltAdj.getOrElse(chunkedAdjacency(edges, maxFanout))
    // two consumers (count + every round's join): materialize once
    val seeds = sources.select(col("node")).distinct()
      .withColumn("__s", lit(1)).localCheckpoint()
    val sN = seeds.count()
    require(sN > 0, "personalizedPageRank needs a non-empty source set")
    val nodes = adj.select(col("src").as("node")).distinct()
    var ranks = nodes.join(seeds, Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / sN)).otherwise(lit(0.0))
          .as("rank"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val prev = ranks
      ranks = adj.join(ranks, adj("src") === ranks("node"))
        .select(explode(col("dsts")).as("node"),
          (col("rank") / col("outdeg")).as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__in"))
        .join(seeds, Seq("node"), "left")
        .select(col("node"),
          (when(col("__s").isNotNull, lit((1.0 - damping) / sN))
            .otherwise(lit(0.0)) + lit(damping) * col("__in")).as("rank"))
        .localCheckpoint()
      dropRoundState(prev) // round k is materialized; k-1's blocks are dead
    }
    dropRoundState(seeds) // last consumer was the final round's join
    ranks
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its NEIGHBORS (self excluded), most-frequent
    * ties broken by the smallest label — fully deterministic, so runs
    * are reproducible and oracle-checkable (classic async LPA is
    * order-dependent by design; this is the synchronous variant).
    *
    * Per-round shuffle shape (r14): the exploded (node, neighbor-label)
    * stream partial-aggregates map-side into (node, label) counts; the
    * per-node argmax is then ONE more hash aggregate —
    * `min(struct(-count, label))` — whose struct ordering (count DESC,
    * label ASC) is exactly the deterministic adoption rule. Both
    * aggregates partial-combine map-side, so a web-scale hub's label
    * distribution collapses before the wire and never funnels through
    * a window sort: 2 exchanges and 0 sorts per round, vs the previous
    * 3 exchanges + 2 window sorts of the hash-bucketed two-level
    * window argmax it replaced.
    *
    * @return (node, label) after `iterations` rounds
    */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       maxFanout: Long = 100000L,
                       prebuiltAdj: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val adj = prebuiltAdj.getOrElse(chunkedAdjacency(edges, maxFanout))
    var labels = adj.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val prev = labels
      labels = adj.join(labels, adj("src") === labels("node"))
        .select(explode(col("dsts")).as("node"), col("label"))
        .groupBy("node", "label").agg(count(lit(1)).as("__cnt"))
        .groupBy("node")
        .agg(min(struct(negate(col("__cnt")).as("__nc"),
          col("label").as("label"))).as("__m"))
        .select(col("node"), col("__m.label").as("label"))
        .localCheckpoint()
      dropRoundState(prev) // round k is materialized; k-1's blocks are dead
    }
    labels
  }

  /** Connected components over a generic numeric edge list: every
    * endpoint is labeled with the smallest node id reachable through
    * any chain of edges. Thin façade over [[Dedup.clusters]] — the
    * alternating large-star/small-star algorithm (O(log n) rounds,
    * bounded shuffles, nothing but the convergence counter on the
    * driver) is shared, not duplicated.
    *
    * @param edges (src, dst) pairs castable to long, any orientation
    * @return (node, component) — one row per distinct endpoint
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    Dedup.clusters(edges, "src", "dst")
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** k-core peeling, `maxRounds` rounds: repeatedly delete nodes of
    * degree < k (and their incident edges) from the undirected view of
    * `edges`. The fixpoint is the k-core — the standard density filter
    * (spam/bot subgraph mining, community cores). Bounding the rounds
    * keeps the operator oracle-expressible (an unrolled round is a
    * degree aggregate + two semi-joins); a converged graph exits
    * early, and extra rounds past the fixpoint are no-ops, so the
    * bounded form equals the fixpoint whenever convergence happens
    * within the budget.
    *
    * Per round: one degree aggregate (node-sized) + two edge-sized
    * semi-joins against the surviving-node set, state
    * localCheckpointed (flat plans); the only driver value is the
    * per-round emptiness probe. Edge-sized work per round is intrinsic
    * to peeling — there is no node-sized shortcut that maintains exact
    * degrees under deletion.
    *
    * @return (node, deg) for nodes surviving `maxRounds` peels, with
    *         their degree in the peeled subgraph
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    var und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      round += 1
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint() // consumed twice: the probe + the keep set
      if (deg.filter(col("deg") < k).isEmpty) converged = true
      else {
        val keep = deg.filter(col("deg") >= k).select("src")
        val prev = und
        und = und
          .join(keep, Seq("src"), "left_semi")
          .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint()
        // the peeled edge set is materialized: the previous round's
        // edges and this round's degree table are dead (the converged
        // round's deg is left for GC — the result plan reads only und)
        dropRoundState(prev)
        dropRoundState(deg)
      }
    }
    und.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** Multi-source BFS: the shortest hop distance from any node in
    * `sources` to every node reachable within `maxDepth` hops of the
    * UNDIRECTED view of `edges` — the crawl-frontier / link-distance
    * primitive (how many hops from a seed set is each page).
    *
    * Frontier expansion: each round joins the chunked adjacency with
    * the CURRENT frontier only (not the full visited set), explodes
    * its neighbor chunks map-side, and anti-joins the visited set to
    * keep first discoveries. Every shuffle is node-sized; per-round
    * state is checkpointed (flat plans); the loop exits early on an
    * empty frontier (one cheap `isEmpty` job per round, bounded by
    * `maxDepth`). Sources not present in the graph are still emitted
    * at distance 0 — the caller's seed set is the contract.
    *
    * @param sources one column `node`, same type as the edge endpoints
    * @return (node, dist) with dist in [0, maxDepth]
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxDepth: Int,
                   maxFanout: Long = 100000L,
                   prebuiltAdj: Option[DataFrame] = None): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0: $maxDepth")
    val adj = prebuiltAdj.getOrElse(chunkedAdjacency(edges, maxFanout))
    var visited = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val d = depth
      val next = adj.join(frontier, adj("src") === frontier("node"))
        .select(explode(col("dsts")).as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("dist"))
        .localCheckpoint()
      val prevVisited = visited
      val prevFrontier = frontier
      visited = visited.union(next).localCheckpoint()
      frontier = next
      // the new visited/frontier are materialized; the previous
      // round's state blocks are dead (round 1's frontier IS the
      // initial visited — double-unpersist of one RDD is a no-op)
      dropRoundState(prevVisited)
      dropRoundState(prevFrontier)
    }
    visited
  }

  /** Bipartite-to-unipartite projection — the co-occurrence graph:
    * items sharing a group become an edge weighted by how many groups
    * they share (market-basket co-purchase, terms sharing documents,
    * suppliers sharing customers).
    *
    * Scale posture: one distinct + one group-sized aggregate fold each
    * group into a sorted item array; the ordered-pair explode then
    * runs MAP-SIDE (no self-join shuffle keyed on the group), and the
    * pair count partial-aggregates before crossing the wire. The
    * per-group O(fanout²) blow-up is the intrinsic cost of exact
    * co-occurrence; `maxFanout` caps it by DROPPING groups above the
    * cap — the standard hub policy (a group connected to everything
    * contributes near-zero association signal but quadratic pairs).
    * Callers needing the hubs' contribution must pre-aggregate or
    * sample them explicitly.
    *
    * @param pairs     rows containing `groupCol` and `itemCol`
    * @param maxFanout drop groups with more than this many distinct
    *                  items (hub cap; the drop is exact and documented,
    *                  not a silent sample)
    * @param minShared keep item pairs sharing at least this many groups
    * @return (item_a, item_b, shared) with item_a < item_b
    */
  def bipartiteProject(pairs: DataFrame, groupCol: String, itemCol: String,
                       maxFanout: Int = 10000,
                       minShared: Long = 1L,
                       assumeDistinct: Boolean = false): DataFrame = {
    require(maxFanout >= 2, s"maxFanout must be >= 2: $maxFanout")
    pairCounts(groupSets(pairs, groupCol, itemCol, maxFanout,
      assumeDistinct), minShared)
  }

  /** Per-group sorted distinct item arrays, hub-capped:
    * `(__g, items)` with 2 <= size(items) <= maxFanout. The shared
    * first stage of [[bipartiteProject]] and [[relatedByNeighbors]].
    * `assumeDistinct = true` skips the (group, item) de-dup shuffle
    * when the caller's input is already distinct on (group, item) —
    * e.g. a checkpointed distinct pair table shared across queries
    * (guide §2.4: don't re-shuffle data that already has the property).
    *
    * Hub safety (r15): the collect is SIZE-BOUNDED at `maxFanout + 1`
    * elements ([[graft.functions.BoundedCollectList]]) — the input is
    * distinct on (group, item), so the collected size is exactly
    * `min(true fanout, maxFanout + 1)` and the HAVING keeps exactly
    * the groups an unbounded `collect_set` would keep, with identical
    * contents. A web-scale hub group (fanout ≫ cap) now tops out at
    * `maxFanout + 1` buffer elements instead of materializing its
    * whole member list before being discarded (guide §2.2/§5).
    */
  private def groupSets(pairs: DataFrame, groupCol: String, itemCol: String,
                        maxFanout: Int, assumeDistinct: Boolean): DataFrame = {
    require(maxFanout < Int.MaxValue, s"maxFanout must be < Int.MaxValue")
    val base = pairs.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
    (if (assumeDistinct) base else base.distinct())
      .groupBy("__g")
      .agg(sort_array(graft.functions.BoundedCollectList.of(
        col("__i"), maxFanout + 1)).as("items"))
      .filter(size(col("items")).between(2, maxFanout))
  }

  /** Ordered-pair co-occurrence counts over [[groupSets]] output: all
    * item pairs of each group's sorted array, built MAP-SIDE (no
    * group-keyed self-join), then one partial-aggregating count keyed
    * on the pair.
    *
    * r15 (bounded in-row expansion): pairs are generated in TWO
    * explode steps — first the head index `x` (one output row per
    * array position), then that index's pairs
    * `(items[x], y) for y in items[x+1..]` — so one row holds at most
    * `fanout` pair structs, where the previous single
    * `flatten(transform(transform(...)))` materialized ALL
    * `fanout²/2` structs of a group in ONE row (~GBs for a
    * maxFanout=10000 group) before exploding. Same pairs, same order
    * class; per-row memory drops from O(fanout²) to O(fanout).
    */
  private def pairCounts(sets: DataFrame, minShared: Long): DataFrame = {
    // the array is an aggregate output so the size filter above is a
    // HAVING, not a pushable predicate (no HOF-inlining trap);
    // size >= 2 is guaranteed by groupSets' HAVING, so sequence(1,
    // size-1) is never descending
    sets
      .select(col("items"),
        explode(sequence(lit(1), size(col("items")) - 1)).as("__x"))
      .select(explode(transform(
        slice(col("items"), col("__x") + 1, size(col("items")) - col("__x")),
        y => struct(get(col("items"), col("__x") - 1).as("item_a"),
          y.as("item_b")))).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Per-node triangle count and local clustering coefficient by
    * degree-ordered edge orientation (the node-iterator bound): each
    * undirected edge is directed from its lower (degree, node)
    * endpoint to the higher, so every out-degree is O(√m) and the
    * wedge self-join materializes Σ outdeg² ≤ m^1.5 candidate wedges —
    * the optimal exact-counting bound, each triangle enumerated
    * exactly once. Both joins key on node/edge ids; nothing reaches
    * the driver.
    *
    * `clustering_coeff = 2·T / (d·(d−1))` is an exact int-derived IEEE
    * division (no summation, no rounding needed for cross-engine
    * reproducibility).
    *
    * @param edges (src, dst) pairs, any orientation, duplicates ok
    * @return (node, degree, triangles, clustering_coeff)
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected edge set, materialized once: the degree
    // aggregate, the orientation join and the closing-edge probe all
    // consume it (multiple-consumer re-execution trap)
    val canon = edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val withDeg = canon
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    // rank = (degree, node): a strict total order (ids are unique), so
    // orientation is deterministic; keep the head's rank on the edge
    // row for the wedge-ordering predicate below
    val oriented = withDeg.select(
        when(struct(col("da").as("d"), col("a").as("n")) <
            struct(col("db").as("d"), col("b").as("n")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
        .otherwise(
          struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dd").as("dd"))
      .localCheckpoint() // consumed 3×: two wedge sides + closing probe
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw")),
        "src")
      .filter(struct(col("dv").as("d"), col("v").as("n")) <
        struct(col("dw").as("d"), col("w").as("n")))
    // rank(v) < rank(w), so the closing edge {v, w} — if present — is
    // oriented v → w: one equi-join closes every wedge
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1)))
        .otherwise(lit(0.0)))
  }

  /** Top-k most-related item pairs by neighborhood Jaccard over a
    * bipartite (group, item) relation — the "customers who bought this
    * also bought" primitive: J(a,b) = |G_a ∩ G_b| / |G_a ∪ G_b| where
    * G_x is the set of groups containing x, computed on the hub-capped
    * projection of [[bipartiteProject]] (degrees come from the SAME
    * capped set, so the ratio is internally consistent).
    *
    * Jaccard is an int-derived IEEE division — exactly reproducible
    * across engines, so the (jaccard DESC, item_a, item_b) top-k cut
    * is deterministic without rounding. Plans as
    * TakeOrderedAndProject: only k rows cross the wire.
    */
  def relatedByNeighbors(pairs: DataFrame, groupCol: String, itemCol: String,
                         k: Int, maxFanout: Int = 10000,
                         minShared: Long = 1L,
                         assumeDistinct: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // ONE aggregation builds the capped per-group item arrays; both the
    // item degrees and the pair counts derive from it map-side. The
    // previous shape paid a distinct + a group-size aggregate + a
    // cap join + a separate degree aggregate, and then re-did the
    // distinct AND the group aggregate inside bipartiteProject —
    // 6 exchanges where 3 suffice (guide §2.4). Degrees counted by
    // exploding the capped arrays equal the old per-item row counts
    // over the capped distinct pairs (the arrays ARE those rows).
    val sets = groupSets(pairs, groupCol, itemCol, maxFanout,
      assumeDistinct)
      .localCheckpoint() // consumed twice: degree count + pair explode
    val ideg = sets.select(explode(col("items")).as("__i"))
      .groupBy("__i").agg(count(lit(1)).as("d"))
    val co = pairCounts(sets, minShared)
    co.join(ideg.select(col("__i").as("item_a"), col("d").as("da")), "item_a")
      .join(ideg.select(col("__i").as("item_b"), col("d").as("db")), "item_b")
      .select(col("item_a"), col("item_b"), col("shared"),
        (col("shared").cast("double") /
          (col("da") + col("db") - col("shared"))).as("jaccard"))
      .orderBy(desc("jaccard"), asc("item_a"), asc("item_b"))
      .limit(k)
  }
}
