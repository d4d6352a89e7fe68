package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Graph-centrality operators (§2.65) — the quality-prior side of corpus
  * curation: web-scale pipelines (CCNet, RefinedWeb, the Common Crawl
  * host ranking) use link-graph centrality as a document quality signal,
  * and a CDC-fed lakehouse computes it over the interaction graph its
  * change streams accrete. PageRank (Brin & Page, WWW 1998) is the
  * canonical member and the canonical ITERATIVE dataflow: rank mass
  * flows along edges for a fixed number of supersteps.
  *
  * Scale design (100 TB):
  *  - the edge list is built ONCE, hash-partitioned on `dst`, and
  *    persisted. Each superstep then runs EXCHANGE-FREE over the edges:
  *    the node-sized contribution frame broadcast-joins onto the cached
  *    edge scan (edges never move again), and the rank aggregate keyed
  *    by `dst` is satisfied by the cached partitioning — zero edge
  *    shuffles per superstep (probe at the 10× events fixture: the
  *    src-partitioned formulation paid a 1.46 M-row shuffle per
  *    superstep, ~1 s each; dst-partitioning removes all five).
  *  - broadcast of the contribution frame is the nodes ≪ edges regime
  *    (any real link graph); for node sets past broadcast range,
  *    repartition contrib on src and edges on src instead — one
  *    node-sized shuffle per superstep, still never the edges.
  *  - nothing in the loop scales with the raw event count after the
  *    initial distinct.
  *  - the driver holds NOTHING but the loop counter — ranks stay
  *    distributed end to end (contrast with collect-based "iterate on
  *    the driver" formulations that die at web scale).
  *  - arithmetic is INTEGER micro-units with floor division (rank 1.0 ≡
  *    1 000 000; damping 0.85 as ×85 div 100) so five supersteps land
  *    bit-identically on any engine — float mass diverges across
  *    engines after one iteration. Domain: 85 · Σ(r div d) stays in
  *    int64 while a single node's in-flowing mass is < ~10^17 micro-units
  *    (total graph mass is conserved at ~nodes × 10^6, so this holds to
  *    ~10^11-node graphs — beyond that, widen to DECIMAL(38)).
  */
object GraphQueries extends GateFamily {

  /** Damped integer-exact PageRank over a pre-partitioned edge list.
    * `edges` must be (src, dst) with every node present as a source
    * (symmetrize the graph or pre-add self-loops for dangling nodes —
    * the caller owns dangling-mass policy, as reference implementations
    * do). A node with out-edges but NO in-edges drops out of the frame
    * after superstep 1 (its true rank is the bare damping floor
    * 150 000) — union such rows back if floor-rank rows are needed;
    * symmetrized graphs have none. Partition the persisted edges by
    * `dst` so each superstep's rank aggregate reuses the cached layout
    * exchange-free (see the object doc).
    * `broadcastContrib = false` is the escape hatch for
    * node sets past broadcast range: the per-superstep join falls back
    * to the planner (shuffle contrib + edges on src — node-sized and
    * edge-sized shuffles per superstep respectively, still never a
    * cross product). Returns (node, r) after `iters` supersteps.
    */
  def pageRank(edges: DataFrame, iters: Int,
      broadcastContrib: Boolean = true): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    var ranks = deg.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      // broadcast(deg) explicitly (r16): deg is node-sized and its plan
      // is IDENTICAL every superstep, so exchange reuse can serve all
      // five supersteps from one build — unhinted, the join strategy
      // rode on static size estimates through the rank chain (the same
      // estimate blindness the contrib broadcast below works around);
      // the hint pins BroadcastHashJoin at any scale where deg fits,
      // which is every graph whose contrib broadcast fits anyway
      val contrib = ranks.join(broadcast(deg), "node")
        .select(col("node").as("src"), expr("r div d").as("c"))
      // contrib is node-sized — BROADCAST it so the edge side never
      // moves: the static planner sees only a worst-case size estimate
      // through the rank chain and would sort-merge-join, re-shuffling
      // the cached edges on src EVERY superstep (probe: ~1 s per
      // superstep at the 10× fixture, all exchange+sort). With the
      // broadcast, the join output keeps the cache's dst partitioning
      // and the rank aggregate needs no exchange either.
      ranks = edges.join(
          if (broadcastContrib) broadcast(contrib) else contrib, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("cin"))
        .select(col("node"),
          (lit(150000L) + expr("85 * cin div 100")).as("r"))
    }
    ranks
  }

  def gates: Seq[Gate] = Seq(
    // Interaction-graph centrality: users and items (the event's
    // props.k) form a bipartite graph, symmetrized so every node has
    // out-degree ≥ 1 (no dangling mass), item nodes offset to their own
    // id space; 5 integer-exact supersteps. The oracle restates the
    // SAME fixed-point chain as 5 chained CTEs — two independent
    // executions of the iterative dataflow must agree on every node's
    // exact rank. Item offset is 2^40 (r16): the former +100000 sat
    // inside the 10× fixture's shifted user-id range (user_id +
    // 100000·copy), silently merging colliding user and item nodes —
    // an id-space violation BOTH engines applied, so the differential
    // gate could never see it. 2^40 is above any fixture or production
    // user id while keeping rank arithmetic far from int64 range.
    Gate("q_pagerank", (s, dir) => {
      val itemOffset = 1L << 40
      val pairs = events(s, dir)
        .select(col("user_id").as("u"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .distinct()
      val edges = pairs
        .select(col("u").as("src"), (col("k") + itemOffset).as("dst"))
        .unionAll(pairs
          .select((col("k") + itemOffset).as("src"), col("u").as("dst")))
        .repartition(col("dst"))
        .persist()
      try {
        val out = pageRank(edges, iters = 5).localCheckpoint(true)
        out
      } finally edges.unpersist(blocking = false)
    }, _ => pagerankOracle)
  )

  private def pagerankOracle: String = {
    val iter = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(150000 + 85 * SUM(r.r // d.d) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} r
         |  JOIN deg d ON d.node = r.node
         |  JOIN edges e ON e.src = r.node
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT DISTINCT user_id AS u,
      |         CAST(props::JSON->>'k' AS BIGINT) AS k
      |  FROM events WHERE props::JSON->>'k' IS NOT NULL),
      |edges AS (
      |  SELECT u AS src, 1099511627776 + k AS dst FROM pairs
      |  UNION ALL
      |  SELECT 1099511627776 + k AS src, u AS dst FROM pairs),
      |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
      |$iter
      |SELECT node, r FROM r5 ORDER BY node""".stripMargin
  }
}
