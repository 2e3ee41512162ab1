package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative link analysis over the purchase graph — PageRank as the
  * training-data pipeline uses it: crawl curation weights documents by
  * the authority of their source domain (Common Crawl's
  * harmonic-centrality ranking is the canonical instance), and the
  * customer→supplier bipartite graph from orders⋈lineitem is the
  * testdata's stand-in link structure.
  *
  * Determinism across engines is the hard part of an iterative fixpoint:
  * floating-point rank mass accumulates summation-order drift that 4dp
  * output rounding cannot hide after five iterations. The fix is exact
  * integer arithmetic end-to-end — ranks are scaled to 1e12 "mass
  * units", every division is integer `div` (identical floor in both
  * engines on the non-negative operands involved), so the computed
  * fixpoint is bit-exact regardless of partitioning, merge order, or
  * engine. The damping update per node v:
  *
  *   rank'(v) = base + (85 * (inflow(v) + dangling/N)) div 100
  *   base     = (15 * (SCALE div N)) div 100
  *   inflow(v) = Σ_{u→v} rank(u) div outdeg(u)
  *
  * i.e. d = 0.85 with dangling mass (suppliers have no out-edges)
  * redistributed uniformly — the standard formulation, floored.
  *
  * Scale shape per iteration: one shuffle of the rank table on the edge
  * source key, one dst-keyed partial→final aggregate, one broadcast-able
  * dangling scalar (a single bounded one-row collect). The edge list is
  * computed once, persisted, and re-joined — at 100 TB the edges are the
  * corpus-sized table and each iteration touches them exactly once;
  * lineage is truncated per round (`localCheckpoint`) so the plan stays
  * iteration-sized instead of growing 5 plans deep.
  */
object Graph {

  val Scale = 1000000000000L

  /** Per-round lineage truncation; the audit flag exposes the full
    * iteration subtree to plan tools (same convention as Dedup's
    * lazyCheckpoint).
    */
  private def cut(df: DataFrame): DataFrame =
    if (sys.props.get("graft.audit.noCheckpoint").contains("true")) df
    else df.localCheckpoint()

  /** Per-node triangle participation counts over any canonical
    * (p1 < p2) undirected edge list — the registry passes the
    * co-purchase item graph prepare persisted. The local-clustering
    * primitive (community density, spam-farm detection) next to
    * [[pageRank]]'s global authority.
    *
    * Algorithm: degree-ordered wedge counting (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11).
    * Orient every undirected edge from its lower to its higher
    * endpoint in the total order (degree, id); enumerate wedges by
    * self-joining oriented edges on their source; close each wedge
    * against the oriented edge set. Each triangle is found exactly
    * once — at its minimum vertex — and, the point of the
    * orientation, per-node wedge fan-out is bounded by O(√m) instead
    * of the raw degree: the "celebrity" node that makes the naive
    * edge self-join quadratic emits almost no wedges because nearly
    * all its edges point INTO it. Both joins are plain equi-shuffles
    * on node keys; nothing is broadcast or collected.
    *
    * The edge list and the oriented view are each referenced several
    * times downstream (degrees, both wedge sides, the closing probe) —
    * materialized once via the same lineage cut as the PageRank
    * rounds, so the edge subtree is computed once, not per
    * reference.
    */
  def triangleCountsOfEdges(edgesIn: DataFrame): DataFrame = {
    val e = cut(edgesIn)
    val deg = e.select(col("p1").as("v"))
      .unionAll(e.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("v").as("p1"), col("deg").as("g1")), "p1")
      .join(deg.select(col("v").as("p2"), col("deg").as("g2")), "p2")
    // canonical input has p1 < p2 by id; re-orient by (deg, id)
    val fwd = col("g1") < col("g2") ||
      (col("g1") === col("g2") && col("p1") < col("p2"))
    val oriented = cut(ed.select(
      when(fwd, col("p1")).otherwise(col("p2")).as("src"),
      when(fwd, col("p2")).otherwise(col("p1")).as("dst"),
      when(fwd, col("g2")).otherwise(col("g1")).as("ddeg")))
    val x = oriented.as("x"); val y = oriented.as("y")
    // wedge (u; v, w) with v before w in the total order — the
    // closing edge, if present, is oriented v→w by construction
    val wedges = x.join(y, col("x.src") === col("y.src") &&
        (col("x.ddeg") < col("y.ddeg") ||
          (col("x.ddeg") === col("y.ddeg") &&
            col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
        col("y.dst").as("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-depth BFS over the co-purchase graph: minimum hop count
    * from a deterministic seed set (graph nodes whose part key is
    * divisible by 97), `dist ∈ [0, maxHops]` — the iterative
    * traversal primitive (k-hop neighborhoods, blast-radius queries,
    * recursive-CTE workloads) next to [[pageRank]]'s fixpoint and
    * [[triangleCountsOfEdges]]'s counting.
    *
    * Frontier form, NOT path enumeration: each round expands only the
    * nodes discovered last round and anti-joins away everything
    * already settled, so per-round work is one frontier-sized join +
    * one anti join — never the combinatorial path explosion a naive
    * "unrolled k-way self-join" (or the DuckDB oracle's recursive
    * CTE, which is fine at oracle scale) performs. BFS settles each
    * node at its first discovery, which IS its minimum distance, so
    * no min-aggregate over paths is ever needed. Rounds are
    * lineage-cut like the PageRank iterations; hop arithmetic is
    * exact integers, bit-identical across engines.
    */
  def kHopReachability(s: SparkSession, d: String, maxHops: Int = 3,
      minSupport: Long = 2): DataFrame =
    kHopOfEdges(Relational.coPurchase(s, d, minSupport)
      .select(col("p1"), col("p2")), maxHops)

  /** The frontier-BFS core over any canonical (p1 < p2) undirected
    * edge list (testing seam); `seed` selects the hop-0 nodes.
    */
  def kHopOfEdges(edgesIn: DataFrame, maxHops: Int,
      seed: org.apache.spark.sql.Column = col("node") % 97 === 0)
      : DataFrame = {
    val e = cut(edgesIn)
    val bidir = e.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
    val nodes = e.select(col("p1").as("node"))
      .unionAll(e.select(col("p2").as("node"))).distinct()
    var settled = cut(nodes.filter(seed)
      .select(col("node"), lit(0).as("dist")))
    var frontier = settled.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = cut(frontier
        .join(bidir, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("dist")))
      settled = cut(settled.unionByName(next))
      frontier = next.select(col("node"))
    }
    settled
  }

  /** Bounded weighted shortest paths: minimum path COST from the %97
    * seed set over paths of at most `rounds` edges — the relaxation
    * family next to [[kHopReachability]]'s hop counting. The two are
    * NOT the same operator: with weights, a longer path can be
    * cheaper than a direct edge, so the frontier/anti-join trick
    * (settle on first discovery) is wrong here — each round must
    * re-relax every known node. This is synchronous Bellman–Ford:
    * per lineage-cut round one dist⋈edges join + one node-keyed min
    * aggregate; after k rounds the table holds the exact minimum over
    * ≤k-edge paths, which is what the oracle's bounded recursive CTE
    * enumerates. Edge cost is the exact integer `1000 div n_orders`
    * (stronger co-purchase affinity = cheaper), so the fixpoint is
    * bit-identical across engines and partitionings.
    */
  def boundedCheapestPaths(s: SparkSession, d: String, rounds: Int = 3,
      minSupport: Long = 2): DataFrame =
    cheapestPathsOfEdges(Relational.coPurchase(s, d, minSupport)
      .select(col("p1"), col("p2"),
        expr("1000L div n_orders").as("w")), rounds)

  /** The k-round relaxation core over any canonical (p1 < p2, w)
    * weighted undirected edge list (testing seam).
    */
  def cheapestPathsOfEdges(edgesIn: DataFrame, rounds: Int,
      seed: org.apache.spark.sql.Column = col("node") % 97 === 0)
      : DataFrame = {
    val e = cut(edgesIn)
    val bidir = e.select(col("p1").as("src"), col("p2").as("dst"),
        col("w"))
      .unionAll(e.select(col("p2").as("src"), col("p1").as("dst"),
        col("w")))
    val nodes = e.select(col("p1").as("node"))
      .unionAll(e.select(col("p2").as("node"))).distinct()
    var dist = cut(nodes.filter(seed)
      .select(col("node"), lit(0L).as("cost")))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(bidir, col("node") === col("src"))
        .select(col("dst").as("node"),
          (col("cost") + col("w")).as("cost"))
      dist = cut(dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("cost")).as("cost")))
    }
    dist
  }

  /** Connected components of any canonical (p1 < p2) undirected edge
    * list — the registry passes the co-purchase graph prepare
    * persisted. Every node is labelled with the minimum node id of its
    * component: the global clustering primitive next to
    * [[triangleCountsOfEdges]]'s local one (the relational twin of
    * [[Dedup]]'s star-contraction over near-dup edges).
    *
    * Min-label propagation to fixpoint: each round pushes labels one
    * hop (edges are pre-materialized both ways) and keeps the
    * node-keyed minimum — one edge-keyed join + one min aggregate per
    * lineage-cut round, converging in O(diameter) rounds. The
    * convergence test rides the monotonicity: Σ labels strictly
    * decreases every non-converged round, so ONE scalar row per round
    * (the PageRank dangling-scalar precedent) detects the fixpoint
    * with no label-diff join. Exact integers end-to-end; the hard cap
    * exists only to bound a pathological path-graph input, and
    * hitting it throws rather than returning unconverged labels. At
    * 100 TB diameter-proportional rounds are the known cost of label
    * propagation — the alternating star-contraction in Dedup is the
    * O(log n)-round variant; this one is the simpler, join-lighter
    * choice for the small-diameter graphs co-occurrence produces.
    *
    * Unlike [[pageRankEdges]]'s fixed-round loop, convergence here
    * needs an ACTION per round, so the cuts
    * are unconditional `localCheckpoint`s (the Bpe-loop convention,
    * NOT the audit-transparent [[cut]]): without them each round's
    * convergence job would re-execute exponentially deep uncut
    * lineage. The audit consequently shows this query near-zero-plan
    * (work runs at construction), the same documented note as
    * q_dup_clusters/q_bpe_merges.
    */
  def componentsOfEdges(edgesIn: DataFrame, maxRounds: Int = 30)
      : DataFrame = {
    val e = edgesIn.localCheckpoint()
    val bidir = e.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
    var lab = e.select(col("p1").as("node"))
      .unionAll(e.select(col("p2").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var prevSum = Long.MaxValue
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val prop = lab.join(bidir, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
      lab = lab.unionByName(prop)
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint()
      val sum = lab.agg(org.apache.spark.sql.functions.sum("label"))
        .head().getLong(0)
      converged = sum == prevSum
      prevSum = sum
      rounds += 1
    }
    require(converged,
      s"label propagation did not converge in $maxRounds rounds")
    lab
  }

  /** Five damped integer PageRank iterations over the distinct
    * customer→supplier edges; emits every node's exact scaled rank.
    */
  def pageRank(s: SparkSession, d: String, iters: Int = 5): DataFrame =
    pageRankEdges(bipartiteEdges(s, d), iters)

  /** The distinct customer→supplier bipartite edge list from
    * orders⋈lineitem — [[pageRank]]'s link structure.
    */
  def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
        concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
      .distinct()

  /** Persist the graph-lake edge lists the five graph queries share —
    * the `*_served` index pattern applied to graphs: the basket
    * self-join ([[Relational.coPurchase]]) is the corpus-sized cost
    * every co-purchase algorithm pays, so prepare pays it ONCE and
    * the algorithms read (p1, p2, n_orders) parquet. Stored at the
    * minimum support any reader uses (2); stricter filters push down
    * to the scan. The bipartite customer→supplier list rides along
    * for PageRank. Content is still driver-verified end-to-end: each
    * graph oracle recomputes from the base tables, and q_copurchase
    * keeps the inline build under its own oracle.
    */
  def prepareEdges(s: SparkSession, d: String, dir: String): Unit = {
    Relational.coPurchase(s, d, minSupport = 2)
      .write.mode("overwrite").parquet(s"$dir/copurchase")
    bipartiteEdges(s, d)
      .write.mode("overwrite").parquet(s"$dir/bipartite")
  }

  /** The iteration over an arbitrary distinct (src, dst) edge list.
    *
    * One distributed job per round: the dangling-mass scalar rides the
    * round's own plan as a broadcast one-row aggregate (no separate
    * driver collect — halving the per-round job count), and the
    * static edge⋈outdeg frame is computed once and persisted so each
    * round pays exactly one rank join + one dst-keyed aggregate.
    */
  def pageRankEdges(edgesIn: DataFrame, iters: Int): DataFrame = {
    val edges = edgesIn.persist()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // deg denormalized onto each edge once — rounds never re-join it
    // (a pre-repartition on src was tried and measured SLOWER here:
    // AQE re-plans the tiny rank side anyway and the extra exchange
    // costs more than it saves)
    val edgesWithDeg = edges.join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg")).persist()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().persist()
    val srcs = outdeg.select(col("src").as("node")).persist()
    val n = nodes.count()
    val base = (15L * (Scale / n)) / 100L

    var rank = nodes.select(col("node"), lit(Scale / n).as("rank"))
    for (_ <- 1 to iters) {
      val dang = rank.join(srcs, Seq("node"), "left_anti")
        .agg(expr(s"coalesce(sum(rank), 0L) div ${n}L")
          .as("dang_share"))
      val inflow = rank.join(edgesWithDeg, col("node") === col("src"))
        .select(col("dst").as("node"),
          expr("rank div deg").as("contrib"))
        .groupBy(col("node")).agg(sum(col("contrib")).as("inflow"))
      rank = cut(nodes.join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          expr(s"${base}L + (85 * (coalesce(inflow, 0L) + " +
            "dang_share)) div 100").as("rank")))
    }
    Seq(edges, edgesWithDeg, nodes, srcs).foreach(_.unpersist())
    rank.select(col("node"), col("rank").as("rank_scaled"))
  }

  /** The same recurrence as chained DuckDB CTEs — generated from one
    * template so the driver oracle can never drift from the engine's
    * iteration count or constants.
    */
  def oracleSql(iters: Int = 5): String = {
    val head =
      s"""WITH edges AS (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |outdeg AS (SELECT src AS node, count(*) AS deg
         |           FROM edges GROUP BY src),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |p AS (SELECT count(*) AS n,
         |        (15 * (${Scale} // count(*))) // 100 AS base
         |      FROM nodes),
         |r0 AS (SELECT node, (${Scale} // p.n) AS rank
         |       FROM nodes, p)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""d$i AS (
         |  SELECT coalesce(sum(r.rank), 0) AS dm
         |  FROM $prev r LEFT JOIN outdeg o ON r.node = o.node
         |  WHERE o.deg IS NULL),
         |r$i AS (
         |  SELECT nodes.node,
         |    p.base + (85 * (coalesce(i.inflow, 0) + (d$i.dm // p.n)))
         |      // 100 AS rank
         |  FROM nodes CROSS JOIN p CROSS JOIN d$i
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // o.deg) AS inflow
         |    FROM edges e
         |      JOIN $prev r ON e.src = r.node
         |      JOIN outdeg o ON e.src = o.node
         |    GROUP BY e.dst) i ON nodes.node = i.node)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank_scaled
       |FROM r$iters""".stripMargin
  }
}
