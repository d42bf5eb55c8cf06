package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative link-analysis over a relationship graph — PageRank in exact
  * fixed-point arithmetic, the reputation/centrality primitive a
  * crawl-pipeline uses to weight domains (and a second iterative-engine
  * capability next to Dedup's connected components).
  *
  * Graph: the customer–supplier purchase graph — a distinct
  * (custkey, suppkey) edge wherever a customer's order contains a
  * supplier's line — walked in BOTH directions (random walk on the
  * bipartite graph), so the scores are co-purchase centrality: a
  * supplier is central when many well-connected customers buy from it.
  *
  * Exactness: ranks are BIGINT fixed-point (10^12 = probability 1).
  * Share division and the damping blend both use FLOOR integer division
  * (`div` / DuckDB `//`), and integer sums are order-independent — so
  * after any number of iterations the scores are bit-equal across
  * engines and the gate is a full hash match, with no libm, doubles, or
  * rounding-mode traps anywhere. Dropped remainders stay in [0, outdeg)
  * per share — a deterministic ≤nanoscale mass leak both engines agree
  * on, NOT a numerical error.
  *
  * Scale shape: edges materialize once (one distinct shuffle) and are
  * cached; each iteration is one src-keyed join (ranks table = #nodes
  * rows, partition-sized everywhere) + one dst-keyed partial-agg sum.
  * Iterations are a fixed small constant (PageRank converges
  * geometrically; 3 damped rounds separate the score tiers). No
  * collect(), no driver loop over data — the driver only composes 3
  * plan stages, like [[Dedup.dupClustersLogRounds]].
  */
object Graph {

  /** Fixed-point scale: 1.0 of rank mass = 10^12. */
  val Scale = 1000000000000L

  /** Damping factor 0.85 as an integer percent pair. */
  val DampNum = 85
  val DampDen = 100

  val Iterations = 3

  /** Distinct customer↔supplier purchase edges, both directions.
    * Node ids are disjoint by parity: customer c → 2c, supplier s →
    * 2s+1. */
  def purchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cust"),
        (col("l_suppkey") * 2 + 1).as("supp"))
      .distinct()
    // r17: both union legs read the SAME pair table — un-cached, the
    // planner inlined the orders⋈lineitem join + distinct under each
    // leg (2 scans of both facts in the before plan). Materializing the
    // pair table once makes the union two projections of one settled
    // frame; downstream consumers keep their own cache/checkpoint of
    // the symmetric edge set (checkpointing the UNION here instead was
    // measured 15-50% SLOWER at sf0.1 — it double-materializes under
    // pagerank/bfs, which re-pin edges for their iterations).
    val p = Dedup.materialized(pairs)
    p.select(col("cust").as("src"), col("supp").as("dst"))
      .union(p.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** Above this node count the per-round rank join switches from
    * broadcast to co-partitioned shuffle (see [[pageRank]]). ~2M
    * (node, share) rows ≈ 32 MB serialized — the practical ceiling for
    * a per-round broadcast repeated `iterations` times. */
  val BroadcastNodeCap = 2000000L

  /** The node-count dial every graph operator here shares: broadcast the
    * node-sized table while the graph has ≤ [[BroadcastNodeCap]] nodes.
    * A side forced by [[graft.operators.Scale.forcingSide]] wins
    * (at-scale = the shuffle side). */
  private def broadcastsNodes(nNodes: Long): Boolean =
    graft.operators.Scale.forced.fold(nNodes <= BroadcastNodeCap)(!_)

  /** `Iterations` damped fixed-point PageRank rounds over (src, dst)
    * edges. Every node appears as a src (edges are bidirectional), so
    * out-degrees double as the node list.
    *
    * Rank-join strategy is node-count-selected (the `simhashPairsAuto`
    * pattern): a dimension-scale graph (≤ [[BroadcastNodeCap]] nodes)
    * broadcasts the (node, share) table each round so the edge table
    * never shuffles; a corpus-scale graph (a true web graph at 100×)
    * must NOT re-broadcast an O(#nodes) table per round — instead the
    * edge table is hash-partitioned on `src` ONCE (materialized, reused
    * every round) and only the #nodes-row rank table shuffles to meet
    * it. The two plans are result-identical because the arithmetic is
    * integer fixed-point either way. */
  def pageRank(edges: DataFrame, iterations: Int = Iterations): DataFrame = {
    val cached = edges.cache()
    val deg = cached.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // one control-plane scalar per call: drives both init_fp and the
    // join-strategy dial
    val nNodes = deg.count()
    // empty edge set: lit(Scale / nNodes) below would divide by zero at
    // plan-BUILD time (ADVICE r9); return the (empty) ranks frame instead
    if (nNodes == 0L)
      return deg.select(col("node"), col("outdeg"), lit(0L).as("rank_fp"))
    val useBroadcast = broadcastsNodes(nNodes)
    // shuffle mode pays one up-front edge shuffle; localCheckpoint
    // materializes it WITH its HashPartitioning(src) preserved, so every
    // round's join reuses the layout and moves only rank rows
    val roundEdges =
      if (useBroadcast) cached
      else cached.repartition(col("src")).localCheckpoint(true)
    var ranks = deg
      .withColumn("init_fp", lit(Scale / nNodes))
      .select(col("node"), col("outdeg"), col("init_fp"),
        col("init_fp").as("rank_fp"))
    for (_ <- 1 to iterations) {
      val share = ranks.select(col("node").as("src"),
        expr("rank_fp div outdeg").as("share"))
      // broadcast: the edge table never shuffles (the carried checkpoint
      // statistics otherwise overestimate ranks into a sort-merge join).
      // shuffle: hint shuffle_hash so neither AQE nor stats re-broadcast
      // the rank side — the point is an #edges-stationary plan.
      val inflow = roundEdges
        .join(if (useBroadcast) broadcast(share) else share.hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("inflow"))
      ranks = ranks.drop("rank_fp")
        .join(inflow, Seq("node"), "left")
        .withColumn("rank_fp",
          expr(s"((${DampDen - DampNum} * init_fp) + ($DampNum * coalesce(inflow, 0L))) div $DampDen"))
        .drop("inflow")
        // each round's ranks feed the next round TWICE (share source +
        // blend base); without a materialization barrier the lineage
        // re-executes shared subtrees 2^k times (measured 7.0 -> ~2.5 s
        // at 3 rounds, and unbounded growth with depth)
        .localCheckpoint(true)
    }
    ranks.select(col("node"), col("outdeg"), col("rank_fp"))
  }

  /** One PageRank iteration body, pre-checkpoint — factored out so the
    * plan spec can pin the iteration's exchanges directly (the eager
    * localCheckpoint otherwise hides each round's plan from the final
    * query's executedPlan). See [[pageRankBucketed]] for the layout
    * contract. */
  private[graft] def iterateBucketed(edges: DataFrame, ranks: DataFrame,
      useBroadcast: Boolean): DataFrame = {
    val inflow =
      if (useBroadcast) {
        // SYMMETRY REWRITE: the edge set is bidirectional by
        // construction, so Σ share(dst) grouped by src IS each node's
        // inflow — and grouping by src rides the bucketed layout's
        // HashPartitioning(src) straight through the broadcast join:
        // ZERO exchange in the whole round. The classic groupBy(dst)
        // form would shuffle edge-sized partial aggregates every round.
        val share = ranks.select(col("node").as("dst"),
          expr("rank_fp div outdeg").as("share"))
        edges.join(broadcast(share), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("share")).as("inflow"))
      } else {
        // corpus-scale graph (> BroadcastNodeCap nodes): share cannot
        // broadcast; it shuffles to meet the bucketed edges (node-sized
        // move) and the join itself plans with ZERO exchange on the
        // edge side. The dst aggregate's exchange carries map-side
        // partial sums — ≤ #nodes rows per partition, the "rank vector
        // shuffle" that is the floor for message passing along edges.
        val share = ranks.select(col("node").as("src"),
          expr("rank_fp div outdeg").as("share"))
        edges.join(share.hint("shuffle_hash"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("share")).as("inflow"))
      }
    ranks.drop("rank_fp")
      .join(inflow, Seq("node"), "left")
      .withColumn("rank_fp",
        expr(s"((${DampDen - DampNum} * init_fp) + ($DampNum * coalesce(inflow, 0L))) div $DampDen"))
      .drop("inflow")
  }

  /** PageRank whose iterations are EXCHANGE-FREE on the edge side
    * (VERDICT r13 item 3): `edges` must come from a src-bucketed table
    * scan ([[bucketedEdgesFor]]) carrying HashPartitioning(src), and
    * must be SYMMETRIC (every (u,v) has (v,u) — [[purchaseEdges]]'
    * construction), which lets the dimension-scale path aggregate
    * inflow by src instead of dst. Per round, dimension-scale: one
    * node-sized broadcast, no exchange anywhere. Corpus-scale: one
    * node-sized share shuffle + one partial-agged inflow shuffle; the
    * edge table — the 100 TB object — never moves after the settle-once
    * bucketed write. Identical integer fixed-point arithmetic over the
    * identical edge multiset ⇒ bit-equal to [[pageRank]] (spec-pinned
    * both modes; shares the oPageRank twin). */
  def pageRankBucketed(edges: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nNodes = deg.count()
    if (nNodes == 0L)
      return deg.select(col("node"), col("outdeg"), lit(0L).as("rank_fp"))
    val useBroadcast = broadcastsNodes(nNodes)
    var ranks = deg
      .withColumn("init_fp", lit(Scale / nNodes))
      .select(col("node"), col("outdeg"), col("init_fp"),
        col("init_fp").as("rank_fp"))
    for (_ <- 1 to iterations)
      // same materialization barrier as pageRank (lineage doubles per
      // round otherwise); localCheckpoint preserves the partitioning,
      // so the bucketed alignment survives into the next round
      ranks = iterateBucketed(edges, ranks, useBroadcast)
        .localCheckpoint(true)
    ranks.select(col("node"), col("outdeg"), col("rank_fp"))
  }

  /** Top-20 centrality presentation over ranked nodes — shared by the
    * inline and persisted-edge paths. */
  private def pageRankTop(edges: DataFrame): DataFrame =
    presentTop(pageRank(edges))

  private def presentTop(ranked: DataFrame): DataFrame =
    ranked
      .withColumn("node_type",
        when(col("node") % 2 === 0, "customer").otherwise("supplier"))
      .withColumn("entity_key",
        expr("CASE WHEN node % 2 = 0 THEN node div 2 ELSE (node - 1) div 2 END"))
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(20)
      .select(col("node").as("node_id"), col("node_type"), col("entity_key"),
        col("outdeg"), col("rank_fp"))

  /** The benched inline gates run on a deterministic ORDER slice
    * (o_orderkey ≡ 0 mod [[GateOrderMod]], 25% of orders): the serving
    * gates already prove the FULL graph from the settled artifact, so
    * the inline twins exist to re-prove edge-projection CONSTRUCTION +
    * iteration — which a quarter-slice exercises end-to-end at a
    * quarter of the suite cost (the `entity_edit2_pairs` bounding
    * precedent, VERDICT r13 item 4). Each bounded gate has its own
    * bounded DuckDB twin; `bounded = false` recovers the full inline
    * query for the serving-equivalence specs. */
  val GateOrderMod = 4

  private def gateOrders(orders: DataFrame, bounded: Boolean): DataFrame =
    if (bounded) orders.filter(col("o_orderkey") % GateOrderMod === 0)
    else orders

  private[graft] def gateWhere(bounded: Boolean): String =
    if (bounded) s"WHERE o_orderkey % $GateOrderMod = 0" else ""

  /** Top-20 centrality table over the purchase graph. */
  def qPageRank(spark: SparkSession, dir: String,
      bounded: Boolean = true): DataFrame =
    pageRankTop(purchaseEdges(
      gateOrders(Tables.orders(spark, dir), bounded),
      Tables.lineitem(spark, dir)))

  /** Distinct customer–customer co-purchase edges (u < v): two
    * customers are linked when they bought the SAME part from the SAME
    * supplier. Keying on the exact (part, supplier) combination keeps
    * the projection sparse — group sizes per key stay O(1) as the
    * catalog grows with the corpus (the co-ANY-part projection is
    * measured complete even at sf0.01 and is exactly the projection
    * blow-up this key choice avoids). */
  def coPurchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cp = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"),
        col("l_suppkey").as("s"))
      .distinct()
    // r17: materialize the (c, p, s) incidence once instead of
    // re-running the facts join + distinct under BOTH self-join legs
    // (2 scans of both facts in the before plan); the pair join and its
    // distinct stay lazy for the consumer's own cache.
    val c = Dedup.materialized(cp)
    c.as("a").join(c.as("b"),
        col("a.p") === col("b.p") && col("a.s") === col("b.s")
          && col("a.c") < col("b.c"))
      .select(col("a.c").as("u"), col("b.c").as("v"))
      .distinct()
  }

  /** Per-node triangle participation counts over an undirected edge set
    * (u < v per row). Wedges are enumerated from each triangle's
    * LOWEST-rank corner under a (degree, id) total order — the
    * orientation that bounds wedge volume by O(m^1.5) regardless of hub
    * skew (id-ordered wedges blow up quadratically on a high-degree,
    * low-id node; counts are identical either way, so the oracle twin
    * uses the simple id order). Three joins, all on node keys; no n³. */
  def triangleCounts(undirected: DataFrame): DataFrame = {
    val edges = undirected.cache()
    val both = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = both.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    // total-order rank: degree-major, id-minor, as a STRUCT comparison —
    // structs order lexicographically in Spark, so the order is correct
    // for ANY id width (the r11 packing degree*1e9 + node silently
    // corrupted the order once ids reached 10^9, i.e. any 100 TB corpus;
    // VERDICT r12 item 4)
    val rk = deg.select(col("node"),
      struct(col("degree"), col("node")).as("rank"))
    val oriented = both
      .join(rk.select(col("node").as("u"), col("rank").as("ru")), Seq("u"))
      .join(rk.select(col("node").as("v"), col("rank").as("rv")), Seq("v"))
      .filter(col("ru") < col("rv"))
      .select(col("u").as("src"), col("v").as("dst"), col("rv"))
      .cache()
    val tris = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rv") < col("e2.rv"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.as("e3").select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
    val roles = tris.select(col("a").as("node"))
      .union(tris.select(col("b").as("node")))
      .union(tris.select(col("c").as("node")))
    roles.groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .join(deg, Seq("node"))
      .select(col("node"), col("degree"), col("triangles"))
  }

  private def trianglesTop(undirected: DataFrame): DataFrame =
    triangleCounts(undirected)
      .orderBy(col("triangles").desc, col("node"))
      .limit(25)

  /** Top-25 most triangle-embedded customers of the co-purchase graph —
    * the local-clustering signal (dense co-purchase neighborhoods). */
  def qTriangles(spark: SparkSession, dir: String,
      bounded: Boolean = true): DataFrame =
    trianglesTop(coPurchaseEdges(
      gateOrders(Tables.orders(spark, dir), bounded),
      Tables.lineitem(spark, dir)))

  /** Twin: same graph, id-ordered triangle enumeration (a<b<c — the
    * count is orientation-independent), same role-union per-node
    * aggregation. Full form gates the serving path; the bounded form
    * gates the inline build path on the same order slice. */
  def oTriangles: String = trianglesSql(gateWhere(false))
  def oTrianglesGate: String = trianglesSql(gateWhere(true))

  private def trianglesSql(where: String): String =
    s"""WITH cp AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey $where),
      |e AS (
      |  SELECT DISTINCT a.c AS u, b.c AS v
      |  FROM cp a JOIN cp b ON a.p = b.p AND a.s = b.s AND a.c < b.c),
      |t AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      |roles AS (
      |  SELECT a AS node FROM t
      |  UNION ALL SELECT b FROM t
      |  UNION ALL SELECT c FROM t),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node)
      |SELECT node, degree, count(*) AS triangles
      |FROM roles JOIN deg USING (node)
      |GROUP BY node, degree
      |ORDER BY triangles DESC, node LIMIT 25""".stripMargin

  /** Bounded multi-source BFS: minimum hop count from a source node set,
    * depth-limited. Frontier expansion is one edges⋈frontier join + an
    * anti-join against the settled set per level — the frontier and
    * settled tables are #nodes-sized (partition-scale), the edge table
    * is the only big operand and is probed on its partitioned src key;
    * per-level checkpoints keep lineage (and carried size statistics)
    * flat, the [[pageRank]] lesson. Depth is a small constant: reach
    * analyses ask "within k hops", not full shortest paths. */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val cached = edges.cache()
    var settled = sources.select(col("node")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint(true)
    var frontier = settled.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = cached
        .join(broadcast(frontier.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("hop", lit(h)).localCheckpoint(true)
      // settled is a union of already-checkpointed levels — re-reading
      // it is a cached-block scan, so no checkpoint (and no extra job)
      settled = settled.union(next)
      frontier = next.select(col("node"))
    }
    settled
  }

  /** Reach histogram of the purchase graph from one nation's suppliers:
    * how much of the customer/supplier universe lies within k hops
    * (hop −1 = unreached at depth [[BfsMaxHops]]). */
  val BfsMaxHops = 4
  val BfsSourceNation = 0

  private def bfsReachHistogram(edgesIn: DataFrame,
      supplier: DataFrame): DataFrame = {
    val edges = edgesIn.cache()
    val sources = supplier
      .filter(col("s_nationkey") === BfsSourceNation)
      .select((col("s_suppkey") * 2 + 1).as("node"))
      // sources must exist in the graph (suppliers with no lines never
      // appear as nodes and would distort the unreached count)
      .join(edges.select(col("src").as("node")).distinct(), Seq("node"),
        "left_semi")
    val dist = bfsHops(edges, sources, BfsMaxHops)
    val nodes = edges.select(col("src").as("node")).distinct()
    nodes.join(dist, Seq("node"), "left")
      .withColumn("hop", coalesce(col("hop"), lit(-1)))
      .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hop"))
  }

  def qBfsReach(spark: SparkSession, dir: String,
      bounded: Boolean = true): DataFrame =
    bfsReachHistogram(
      purchaseEdges(gateOrders(Tables.orders(spark, dir), bounded),
        Tables.lineitem(spark, dir)),
      Tables.supplier(spark, dir))

  /** Twin: bounded recursive expansion — UNION dedups (node, hop) pairs
    * so the recursion terminates at the depth bound; min hop per node,
    * then the same histogram. Full form gates the serving path; the
    * bounded form gates the inline build path (sources semi-join to the
    * sliced graph's nodes in both engines). */
  def oBfsReach: String = bfsReachSql(gateWhere(false))
  def oBfsReachGate: String = bfsReachSql(gateWhere(true))

  private def bfsReachSql(where: String): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey $where),
       |edges AS (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |sources AS (
       |  SELECT s_suppkey * 2 + 1 AS node FROM supplier
       |  WHERE s_nationkey = $BfsSourceNation
       |    AND s_suppkey * 2 + 1 IN (SELECT node FROM nodes)),
       |walk(node, hop) AS (
       |  SELECT node, 0 FROM sources
       |  UNION
       |  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.hop < $BfsMaxHops),
       |dist AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node)
       |SELECT CAST(COALESCE(d.hop, -1) AS INTEGER) AS hop,
       |       count(*) AS n_nodes
       |FROM nodes n LEFT JOIN dist d USING (node)
       |GROUP BY 1 ORDER BY hop""".stripMargin

  private def iterSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT d.node, d.outdeg, d.init_fp,
       |    CAST(((${DampDen - DampNum} * d.init_fp)
       |          + ($DampNum * COALESCE(f.inflow, 0))) // $DampDen AS BIGINT) AS rank_fp
       |  FROM $prev d LEFT JOIN (
       |    SELECT e.dst AS node, sum(p.rank_fp // p.outdeg) AS inflow
       |    FROM edges e JOIN $prev p ON e.src = p.node GROUP BY e.dst) f
       |  USING (node))""".stripMargin

  /** Twin: identical integer recurrence, iterations unrolled as chained
    * CTEs (`//` = the same floor division). Full form gates the serving
    * path; the bounded form gates the inline build path. */
  def oPageRank: String = pageRankSql(gateWhere(false))
  def oPageRankGate: String = pageRankSql(gateWhere(true))

  private def pageRankSql(where: String): String = {
    val iters = (1 to Iterations)
      .map(i => iterSql(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey $where),
       |edges AS (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |n1 AS (SELECT count(*) AS nn FROM deg),
       |r0 AS (
       |  SELECT node, outdeg, $Scale // nn AS init_fp, $Scale // nn AS rank_fp
       |  FROM deg CROSS JOIN n1),
       |$iters
       |SELECT node AS node_id,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  CASE WHEN node % 2 = 0 THEN node // 2 ELSE (node - 1) // 2 END AS entity_key,
       |  outdeg, rank_fp
       |FROM r$Iterations
       |ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
  }

  // -------------------------------------- persisted edge serving layout

  /** Build-once persisted edge projections for the graph family
    * (VERDICT r12 item 4). The orders⋈lineitem projection + distinct is
    * the dominant cost of every inline graph query — pagerank, BFS
    * reach, and triangles each rebuilt it per run (three of the five
    * heaviest suite queries) — and the edge set is exactly the kind of
    * slowly-changing derived table a 100 TB deployment settles once per
    * ingest batch. ONE artifact holds both projections
    * (purchase bipartite edges under /purchase, customer co-purchase
    * under /copurchase) so all three serving queries share a single
    * build; [[graft.Serving.buildOnce]]'s freshness rule rebuilds it
    * when the source dir's data changes. Files are clustered by the
    * probe key (repartition + sortWithinPartitions) so downstream scans
    * stream key-local runs; row contents are identical to the inline
    * projections, so the serving queries share the inline twins. */
  def edgesArtifactFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("graph_edges", dir) { path =>
      purchaseEdges(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
        .repartition(col("src")).sortWithinPartitions(col("src"), col("dst"))
        .write.mode("overwrite").parquet(path + "/purchase")
      coPurchaseEdges(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
        .repartition(col("u")).sortWithinPartitions(col("u"), col("v"))
        .write.mode("overwrite").parquet(path + "/copurchase")
    }

  /** The purchase edges as a src-bucketed TABLE (the bucketedFacts
    * discipline): bucket metadata lives in the session catalog, so a
    * fresh JVM registers + writes once from the settled parquet
    * artifact and every later query reads HashPartitioning(src,
    * [[EdgeBuckets]]) straight off the scan. */
  val EdgeBuckets = 8
  private[this] var bucketedEdgesKey: Option[String] = None
  def bucketedEdgesFor(spark: SparkSession, dir: String): Unit = synchronized {
    if (!bucketedEdgesKey.contains(dir) ||
        !spark.catalog.tableExists("b3_graph_edges")) {
      // Scale the object is shadowed by Scale the fixed-point constant
      graft.operators.Scale.writeBucketed(
        spark.read.parquet(edgesArtifactFor(spark, dir) + "/purchase"),
        "b3_graph_edges", "src", EdgeBuckets)
      bucketedEdgesKey = Some(dir)
    }
  }

  def qPageRankServing(spark: SparkSession, dir: String): DataFrame = {
    bucketedEdgesFor(spark, dir)
    presentTop(pageRankBucketed(spark.table("b3_graph_edges")))
  }

  // ------------------------------------------- personalized PageRank

  /** Personalized PageRank: the damped blend teleports to a SEED set
    * instead of the uniform vector — "centrality as seen from these
    * nodes", the primitive behind seed-expansion (grow a trusted-domain
    * list), local community scoring, and contamination-neighborhood
    * ranking. Arithmetic is [[pageRank]]'s integer fixed point with
    * init_fp = Scale/|seeds| on seeds and 0 elsewhere — the SAME
    * iteration body ([[iterateBucketed]]) because classic PageRank IS
    * the uniform-restart special case (spec-pinned bit-equal when every
    * node seeds). Iterations inherit the bucketed layout's
    * exchange-free plan; seeds must exist in the graph (semi-join, the
    * BFS-sources rule). */
  def personalizedPageRankBucketed(edges: DataFrame, seeds: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val seedNodes = seeds.select(col("node")).distinct()
      .join(deg.select(col("node")), Seq("node"), "left_semi")
    // two control-plane scalars (node count drives the broadcast dial,
    // seed count the restart mass) — same budget as pageRank's count
    val nNodes = deg.count()
    val nSeeds = seedNodes.count()
    if (nNodes == 0L || nSeeds == 0L)
      return deg.select(col("node"), col("outdeg"), lit(0L).as("rank_fp"))
    val useBroadcast = broadcastsNodes(nNodes)
    var ranks = deg
      .join(broadcast(seedNodes.withColumn("_s", lit(1))), Seq("node"), "left")
      .withColumn("init_fp",
        when(col("_s").isNotNull, lit(Scale / nSeeds)).otherwise(lit(0L)))
      .select(col("node"), col("outdeg"), col("init_fp"),
        col("init_fp").as("rank_fp"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations)
      ranks = iterateBucketed(edges, ranks, useBroadcast)
        .localCheckpoint(true)
    ranks.select(col("node"), col("outdeg"), col("rank_fp"))
  }

  /** Seeds: one nation's suppliers (the BFS source set) — "purchase
    * centrality as seen from nation 0's supplier base". */
  def qPprServing(spark: SparkSession, dir: String): DataFrame = {
    bucketedEdgesFor(spark, dir)
    val seeds = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") === BfsSourceNation)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    presentTop(personalizedPageRankBucketed(
      spark.table("b3_graph_edges"), seeds))
  }

  /** Twin: oPageRank's unrolled CTE chain with the restart vector
    * seeded on nation-0 suppliers present in the graph. */
  def oPprServing: String = {
    val iters = (1 to Iterations)
      .map(i => iterSql(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cust, l_suppkey * 2 + 1 AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT cust AS src, supp AS dst FROM pairs
       |  UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |seeds AS (
       |  SELECT s_suppkey * 2 + 1 AS node FROM supplier
       |  WHERE s_nationkey = $BfsSourceNation
       |    AND s_suppkey * 2 + 1 IN (SELECT node FROM deg)),
       |ns AS (SELECT count(*) AS n FROM seeds),
       |r0 AS (
       |  SELECT d.node, d.outdeg,
       |    CASE WHEN s.node IS NOT NULL THEN $Scale // ns.n ELSE 0 END AS init_fp,
       |    CASE WHEN s.node IS NOT NULL THEN $Scale // ns.n ELSE 0 END AS rank_fp
       |  FROM deg d LEFT JOIN seeds s USING (node) CROSS JOIN ns),
       |$iters
       |SELECT node AS node_id,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  CASE WHEN node % 2 = 0 THEN node // 2 ELSE (node - 1) // 2 END AS entity_key,
       |  outdeg, rank_fp
       |FROM r$Iterations
       |ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin
  }

  // --------------------------------------------------- HITS (bipartite)

  /** Fixed-point scale for HITS scores: 1.0 of mass = 10^6. Smaller
    * than PageRank's 10^12 on purpose — each half-step SUMS hub mass
    * once per out-edge before normalizing, so the un-normalized total
    * is bounded by Scale·#edges, and raw totals must stay inside a
    * BIGINT at corpus scale (10^6·#edges overflows only past ~9·10^12
    * edges; 10^12 would overflow at thousands). */
  val HitsScale = 1000000L
  val HitsIterations = 3

  /** Directed customer→supplier purchase edges (src = customer key,
    * dst = supplier key, both raw — the bipartite sides never mix). */
  def purchaseEdgesDirected(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()

  /** L1-normalize a (id, raw) score frame to total ≈ [[HitsScale]] in
    * EXACT integer arithmetic: unit = max(Σraw div Scale, 1), score =
    * raw div unit. Two floor divisions both engines share; the 1-row
    * total broadcasts (the bounded-aggregate crossJoin idiom), no
    * driver action. The unit floors at 1: per-node floor loss can pull
    * Σraw BELOW Scale (a perfect bipartite matching loses one unit per
    * node per half-step), and an unguarded `div 0` would null every
    * score — with unit = 1 the scores pass through un-shrunk, total
    * < Scale, still a valid fixed-point vector (spec-pinned on the
    * matching graph). */
  private def l1Normalize(scores: DataFrame, idCol: String): DataFrame = {
    val tot = scores.agg(sum(col("raw")).as("tot"))
    scores.crossJoin(broadcast(tot))
      .select(col(idCol),
        expr(s"raw div greatest(tot div $HitsScale, 1L)").as("score_fp"))
  }

  /** HITS hubs/authorities over the DIRECTED bipartite purchase graph —
    * the mutual-reinforcement centrality PageRank's random walk does
    * not express: a customer is a good hub when it buys from good
    * suppliers, a supplier a good authority when good hubs buy from it
    * (Kleinberg's algorithm, L1-normalized each half-step so scores
    * stay integer fixed-point instead of the classic L2 — same ranking
    * fixpoint, no sqrt/libm anywhere).
    *
    * Scale shape per iteration: two edge joins on the edge table's own
    * keys (src then dst) + two partial-agg sums + two 1-row broadcast
    * normalizations. The hub/authority tables are node-sized; the edge
    * table is the 100 TB operand and — like [[pageRankBucketed]] — can
    * ride a bucketed layout so only node-sized tables move
    * ([[qHitsServing]] pins src-side zero-exchange on the hub join).
    * Exact integer floor divisions ⇒ bit-equal to the unrolled-CTE
    * DuckDB twin after any iteration count. */
  def hits(edges: DataFrame, iterations: Int = HitsIterations): DataFrame = {
    val cached = edges.cache()
    // scope the cache to the run: every half-step localCheckpoints
    // eagerly, so by return nothing downstream re-reads the cached
    // edges — an unscoped cache() would accumulate blocks for the
    // SparkSession lifetime across repeated invocations (ADVICE r14)
    try hitsOn(cached, cached, iterations, broadcastScores = false)
    finally cached.unpersist(false)
  }

  /** One HITS half-step's edge join + mass aggregate, pre-checkpoint —
    * factored out so the plan spec can pin each half-step's exchanges
    * directly (the eager localCheckpoint otherwise hides them).
    * Authority half-step: scores = hubs keyed `c`, join on src,
    * aggregate by dst (swap the key triple for the hub half-step).
    *
    * [[hitsOn]] checkpoints THIS frame before normalizing:
    * [[l1Normalize]] consumes its input twice (the 1-row total and the
    * per-node division), and without a barrier the edge join + sum —
    * the data-sized work — executed twice per half-step (measured ~2×
    * on graph_hits/serving, SCALE.md r15); the checkpoint is node-sized. */
  private[graft] def hitsHalfStepRaw(edges: DataFrame, scores: DataFrame,
      scoreIdCol: String, joinKey: String, outKey: String, outId: String,
      broadcastScores: Boolean): DataFrame = {
    val side = scores.select(col(scoreIdCol).as(joinKey),
      col("score_fp").as("m"))
    edges
      .join(if (broadcastScores) broadcast(side) else side, Seq(joinKey))
      .groupBy(col(outKey).as(outId)).agg(sum(col("m")).as("raw"))
  }

  /** HITS core over per-half-step edge frames. `edgesSrc`/`edgesDst`
    * are the SAME edge multiset (possibly two bucketed layouts of it);
    * which layout each half-step reads depends on the score-table mode:
    *
    *  - broadcast mode (dimension scale): the joins are broadcast-hash
    *    (no distribution requirement), so each half-step reads the
    *    layout matching its AGGREGATE key — authority groups by dst
    *    over the dst-bucketed scan, hub groups by src over the
    *    src-bucketed scan: ZERO exchange in the whole round.
    *  - shuffle mode (corpus scale, > [[BroadcastNodeCap]] nodes): the
    *    node-sized score table shuffles to meet the edges, so each
    *    half-step reads the layout matching its JOIN key — the edge
    *    table never moves and the aggregate exchange carries only
    *    node-bounded partial sums (the [[iterateBucketed]] floor).
    *
    * Pairings swap between modes; results are identical either way
    * (same joins, same integer arithmetic — the layouts only relocate
    * exchanges). */
  private[graft] def hitsOn(edgesSrc: DataFrame, edgesDst: DataFrame,
      iterations: Int, broadcastScores: Boolean): DataFrame = {
    require(iterations >= 1, "HITS needs at least one half-step pair")
    val (eA, eH) =
      if (broadcastScores) (edgesDst, edgesSrc) else (edgesSrc, edgesDst)
    var hubs = edgesSrc.select(col("src").as("c")).distinct()
      .withColumn("score_fp", lit(HitsScale))
      .localCheckpoint(true)
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      // checkpoint the RAW mass (node-sized) so l1Normalize's two reads
      // hit the barrier, not the edge join; the normalized frame itself
      // is a bounded crossJoin over the barrier — no second checkpoint
      auths = l1Normalize(hitsHalfStepRaw(eA, hubs, "c", "src", "dst", "s",
        broadcastScores).localCheckpoint(true), "s")
      hubs = l1Normalize(hitsHalfStepRaw(eH, auths, "s", "dst", "src", "c",
        broadcastScores).localCheckpoint(true), "c")
    }
    hubs.select(lit("hub").as("role"), col("c").as("entity_key"),
        col("score_fp"))
      .unionByName(auths.select(lit("authority").as("role"),
        col("s").as("entity_key"), col("score_fp")))
  }

  private[graft] def hitsTop(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("role"))
      .orderBy(col("score_fp").desc, col("entity_key"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("role"), col("rank"), col("entity_key"), col("score_fp"))
      .orderBy(col("role"), col("rank"))
  }

  def qHits(spark: SparkSession, dir: String,
      bounded: Boolean = true): DataFrame =
    hitsTop(hits(purchaseEdgesDirected(
      gateOrders(Tables.orders(spark, dir), bounded),
      Tables.lineitem(spark, dir))))

  /** The directed purchase edges as their own settled artifact (a third
    * projection NEXT TO — not inside — the `graph_edges` artifact: a new
    * sublayout under an existing kind would be invisible to already-built
    * artifacts, whose freshness marker only watches SOURCE mtimes). */
  def directedEdgesArtifactFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("graph_edges_directed", dir) { path =>
      purchaseEdgesDirected(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
        .repartition(col("src")).sortWithinPartitions(col("src"), col("dst"))
        .write.mode("overwrite").parquet(path)
    }

  /** The directed edges as TWO bucketed tables — src- and dst-bucketed
    * twins of the same multiset (the [[bucketedEdgesFor]] discipline,
    * doubled because HITS is directed: the hub half-step keys on src,
    * the authority half-step on dst, and one layout can only satisfy
    * one side). Settled once per (JVM, dataset); both twins rebuild
    * from the same settled artifact. */
  private[this] var bucketedDirectedKey: Option[String] = None
  private[this] var bucketedDirectedNodes: Long = 0L
  def bucketedDirectedEdgesFor(spark: SparkSession, dir: String): Long =
    synchronized {
      if (!bucketedDirectedKey.contains(dir) ||
          !spark.catalog.tableExists("b3_hits_src") ||
          !spark.catalog.tableExists("b3_hits_dst")) {
        val e = spark.read.parquet(directedEdgesArtifactFor(spark, dir))
        // ONE settle-time stats scan: edge count (sizes the buckets) and
        // the broadcast dial's node count (memoized so serving calls
        // never pay the Expand-based double-distinct again)
        val stats = e.agg(count(lit(1)).as("m"), greatest(
          countDistinct(col("src")), countDistinct(col("dst"))).as("n"))
          .head()
        val nEdges = stats.getLong(0)
        bucketedDirectedNodes = stats.getLong(1)
        // bucket count is a CAPACITY parameter — a scan's parallelism IS
        // its bucket count (measured: 8 buckets lose to a plain scan
        // past ~10M edges on 32 cores, SCALE.md r15), but
        // over-bucketing a small table costs pure scheduling overhead
        // (32 tiny tasks × 6 half-steps measured 1.5× on the sf0.1
        // serving gate). Size by DATA — ~1M edges per bucket — with an
        // EdgeBuckets floor that always wins and a ceiling of
        // max(shuffle.partitions, floor) so a low-parallelism session
        // cannot undercut the floor
        val cap = math.max(EdgeBuckets,
          spark.sessionState.conf.numShufflePartitions)
        val buckets = math.max(EdgeBuckets.toLong,
          math.min(cap.toLong, nEdges / 1000000L + 1L)).toInt
        graft.operators.Scale.writeBucketed(e, "b3_hits_src", "src", buckets)
        graft.operators.Scale.writeBucketed(e, "b3_hits_dst", "dst", buckets)
        bucketedDirectedKey = Some(dir)
      }
      bucketedDirectedNodes
    }

  /** [[qHits]] served from the dual-bucketed directed-edge layout — the
    * edge build (the inline gate's dominant cost) is paid once per
    * ingest, and each half-step reads the twin matching its keys, so a
    * full round plans with ZERO exchange in broadcast mode (spec-pinned
    * with an unbucketed control). Score-table broadcast rides the
    * [[BroadcastNodeCap]] dial like [[pageRankBucketed]] — hard-coding
    * it would blow the broadcast limit on a corpus-scale graph (ADVICE
    * r14); past the cap each half-step still leaves the edge table
    * stationary (join-key-matched twin) and moves only node-sized
    * score/partial-sum exchanges. Same integer arithmetic over the
    * same edge multiset ⇒ shares the [[oHits]] twin. */
  def qHitsServing(spark: SparkSession, dir: String): DataFrame = {
    // both score tables broadcast each round, so the dial watches the
    // larger side's cardinality (memoized with the settled twins)
    val n = bucketedDirectedEdgesFor(spark, dir)
    val eSrc = spark.table("b3_hits_src")
    val eDst = spark.table("b3_hits_dst")
    hitsTop(hitsOn(eSrc, eDst, HitsIterations,
      broadcastScores = broadcastsNodes(n)))
  }

  /** Twin: the identical integer recurrence, iterations unrolled as
    * chained CTEs; each normalization is the same two floor divisions
    * against a scalar total. Full form gates the serving path; the
    * bounded form gates the inline build path. */
  def oHits: String = hitsSql(gateWhere(false))
  def oHitsGate: String = hitsSql(gateWhere(true))

  private def hitsSql(where: String): String = {
    def iter(i: Int): String = {
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""a${i}r AS (
         |  SELECT e.dst AS s, sum(h.score_fp) AS raw
         |  FROM edges e JOIN $prevH h ON e.src = h.c GROUP BY e.dst),
         |a${i}t AS (SELECT sum(raw) AS tot FROM a${i}r),
         |a$i AS (
         |  SELECT s, CAST(raw // greatest(tot // $HitsScale, 1) AS BIGINT) AS score_fp
         |  FROM a${i}r CROSS JOIN a${i}t),
         |h${i}r AS (
         |  SELECT e.src AS c, sum(a.score_fp) AS raw
         |  FROM edges e JOIN a$i a ON e.dst = a.s GROUP BY e.src),
         |h${i}t AS (SELECT sum(raw) AS tot FROM h${i}r),
         |h$i AS (
         |  SELECT c, CAST(raw // greatest(tot // $HitsScale, 1) AS BIGINT) AS score_fp
         |  FROM h${i}r CROSS JOIN h${i}t)""".stripMargin
    }
    val iters = (1 to HitsIterations).map(iter).mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey $where),
       |h0 AS (
       |  SELECT DISTINCT src AS c, CAST($HitsScale AS BIGINT) AS score_fp
       |  FROM edges),
       |$iters,
       |scored AS (
       |  SELECT 'hub' AS role, c AS entity_key, score_fp FROM h$HitsIterations
       |  UNION ALL
       |  SELECT 'authority', s, score_fp FROM a$HitsIterations),
       |ranked AS (
       |  SELECT role, CAST(row_number() OVER (
       |      PARTITION BY role ORDER BY score_fp DESC, entity_key) AS INTEGER)
       |    AS rank, entity_key, score_fp
       |  FROM scored)
       |SELECT role, rank, entity_key, score_fp FROM ranked
       |WHERE rank <= 10 ORDER BY role, rank""".stripMargin
  }

  def qBfsReachServing(spark: SparkSession, dir: String): DataFrame =
    bfsReachHistogram(
      spark.read.parquet(edgesArtifactFor(spark, dir) + "/purchase"),
      Tables.supplier(spark, dir))

  def qTrianglesServing(spark: SparkSession, dir: String): DataFrame =
    trianglesTop(spark.read.parquet(
      edgesArtifactFor(spark, dir) + "/copurchase"))
}
