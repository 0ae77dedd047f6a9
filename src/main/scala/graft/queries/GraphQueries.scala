package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Graph analytics: PageRank variants, communities, k-core, neighbourhood
  * and harmonic centrality, triangles, link prediction and projections.
  */
object GraphQueries extends QueryFamily {
  import SketchQueries.hllChunks

  /** Link authority over the customer→supplier purchase graph (suppliers
    * offset into their own id space): the crawl-curation ranking signal,
    * integer-exact so the oracle replays every iteration.
    */
  private def pageRankQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.pageRank(edges, "src", "dst")
  }
  // per-iteration localCheckpoints (Fixpoint.iterate) — the final plan
  // reads the last snapshot only
  query("page_rank", pageRankQuery, BuiltByJobs) {
    // PageRank replay: the iteration body is GENERATED once per iteration
    // from one Scala template (contribution = rank // outdeg summed per
    // dst, update = teleport + (inbound * 85) // 100), so the unrolled
    // chain cannot drift from itself — all integer ops, engine-identical
    val iters = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
         |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CAST(150000 + (coalesce(c.inb, 0) * 85) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT node, rank FROM r3""".stripMargin
  }

  /** PageRank with dangling-mass redistribution over the same purchase
    * graph: every supplier node is a sink (suppliers never link out), so
    * the leaky formulation sheds their entire rank each iteration; with
    * the correction that mass returns as a uniform per-node share — total
    * rank is conserved up to integral-division floors, and customer ranks
    * rise strictly above the `page_rank` baseline. Same integer lane,
    * one extra 1-row aggregate + broadcast per iteration.
    */
  private def pageRankDanglingQuery(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.pageRank(edges, "src", "dst", redistributeDangling = true)
  }
  // the same loop with the per-iteration dangling-mass 1-row aggregate
  query("page_rank_dangling", pageRankDanglingQuery, BuiltByJobs) {
    // dangling redistribution: the page_rank unroll with one extra
    // 1-row CTE per iteration — the dangling nodes' summed rank split
    // integrally over N, added to every node's inbound before damping
    val iters = (1 to 3).map { i =>
      s"""d$i AS (SELECT CAST(coalesce(
         |      sum(CASE WHEN od.src IS NULL THEN r.rank END), 0)
         |    // count(*) AS BIGINT) AS ds
         |  FROM r${i - 1} r LEFT JOIN od ON od.src = r.node),
         |c$i AS (SELECT e.dst AS node,
         |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
         |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CAST(150000 + ((coalesce(c.inb, 0) + (SELECT ds FROM d$i))
         |      * 85) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT node, rank FROM r3""".stripMargin
  }

  /** 3-core of the purchase graph plus a planted double-chain filament
    * (nodes 2000001..2000025, edges (i,i+1) and (i,i+2)): the chain's ends
    * sit at degree 2 and each removal drops the next node to 2, so the
    * filament peels from both ends INWARD — 12 cascade rounds no single
    * degree filter could express — while the main graph's ≥3-degree body
    * survives untouched. The oracle unrolls 16 peel layers: the k-core is
    * the unique maximal fixed point and post-convergence layers are
    * no-ops, so a generous fixed unroll replays the early-stopping engine
    * exactly.
    */
  private def kCoreQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val chain = s.range(1, 25)
      .select((col("id") + 2000000L).as("src"), (col("id") + 2000001L).as("dst"))
      .unionByName(s.range(1, 24)
        .select((col("id") + 2000000L).as("src"), (col("id") + 2000002L).as("dst")))
    ops.Graph.kCore(edges.unionByName(chain), "src", "dst", k = 3)
  }
  // per-round survivor checkpoints + the convergence count jobs; the
  // final plan is one degree aggregation over the last snapshot
  query("graph_kcore", kCoreQ, BuiltByJobs)(
    // 16 unrolled peel layers over the planted-filament graph: the
    // k-core fixed point is unique and post-convergence layers are
    // no-ops, so the fixed unroll replays the early-stopping engine
    """WITH kl_0 AS MATERIALIZED (
      |  SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b FROM (
      |    SELECT o_custkey AS a0, l_suppkey + 1000000 AS b0
      |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |    UNION ALL SELECT 2000000 + i, 2000001 + i FROM range(1, 25) t(i)
      |    UNION ALL SELECT 2000000 + i, 2000002 + i FROM range(1, 24) t(i))
      |  WHERE a0 <> b0),
      |kk_1 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_0
      |    UNION ALL SELECT b FROM kl_0) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_1 AS MATERIALIZED (SELECT a, b FROM kl_0
      |  WHERE a IN (SELECT id FROM kk_1) AND b IN (SELECT id FROM kk_1)),
      |kk_2 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_1
      |    UNION ALL SELECT b FROM kl_1) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_2 AS MATERIALIZED (SELECT a, b FROM kl_1
      |  WHERE a IN (SELECT id FROM kk_2) AND b IN (SELECT id FROM kk_2)),
      |kk_3 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_2
      |    UNION ALL SELECT b FROM kl_2) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_3 AS MATERIALIZED (SELECT a, b FROM kl_2
      |  WHERE a IN (SELECT id FROM kk_3) AND b IN (SELECT id FROM kk_3)),
      |kk_4 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_3
      |    UNION ALL SELECT b FROM kl_3) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_4 AS MATERIALIZED (SELECT a, b FROM kl_3
      |  WHERE a IN (SELECT id FROM kk_4) AND b IN (SELECT id FROM kk_4)),
      |kk_5 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_4
      |    UNION ALL SELECT b FROM kl_4) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_5 AS MATERIALIZED (SELECT a, b FROM kl_4
      |  WHERE a IN (SELECT id FROM kk_5) AND b IN (SELECT id FROM kk_5)),
      |kk_6 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_5
      |    UNION ALL SELECT b FROM kl_5) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_6 AS MATERIALIZED (SELECT a, b FROM kl_5
      |  WHERE a IN (SELECT id FROM kk_6) AND b IN (SELECT id FROM kk_6)),
      |kk_7 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_6
      |    UNION ALL SELECT b FROM kl_6) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_7 AS MATERIALIZED (SELECT a, b FROM kl_6
      |  WHERE a IN (SELECT id FROM kk_7) AND b IN (SELECT id FROM kk_7)),
      |kk_8 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_7
      |    UNION ALL SELECT b FROM kl_7) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_8 AS MATERIALIZED (SELECT a, b FROM kl_7
      |  WHERE a IN (SELECT id FROM kk_8) AND b IN (SELECT id FROM kk_8)),
      |kk_9 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_8
      |    UNION ALL SELECT b FROM kl_8) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_9 AS MATERIALIZED (SELECT a, b FROM kl_8
      |  WHERE a IN (SELECT id FROM kk_9) AND b IN (SELECT id FROM kk_9)),
      |kk_10 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_9
      |    UNION ALL SELECT b FROM kl_9) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_10 AS MATERIALIZED (SELECT a, b FROM kl_9
      |  WHERE a IN (SELECT id FROM kk_10) AND b IN (SELECT id FROM kk_10)),
      |kk_11 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_10
      |    UNION ALL SELECT b FROM kl_10) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_11 AS MATERIALIZED (SELECT a, b FROM kl_10
      |  WHERE a IN (SELECT id FROM kk_11) AND b IN (SELECT id FROM kk_11)),
      |kk_12 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_11
      |    UNION ALL SELECT b FROM kl_11) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_12 AS MATERIALIZED (SELECT a, b FROM kl_11
      |  WHERE a IN (SELECT id FROM kk_12) AND b IN (SELECT id FROM kk_12)),
      |kk_13 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_12
      |    UNION ALL SELECT b FROM kl_12) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_13 AS MATERIALIZED (SELECT a, b FROM kl_12
      |  WHERE a IN (SELECT id FROM kk_13) AND b IN (SELECT id FROM kk_13)),
      |kk_14 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_13
      |    UNION ALL SELECT b FROM kl_13) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_14 AS MATERIALIZED (SELECT a, b FROM kl_13
      |  WHERE a IN (SELECT id FROM kk_14) AND b IN (SELECT id FROM kk_14)),
      |kk_15 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_14
      |    UNION ALL SELECT b FROM kl_14) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_15 AS MATERIALIZED (SELECT a, b FROM kl_14
      |  WHERE a IN (SELECT id FROM kk_15) AND b IN (SELECT id FROM kk_15)),
      |kk_16 AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM kl_15
      |    UNION ALL SELECT b FROM kl_15) GROUP BY id
      |  HAVING count(*) >= 3),
      |kl_16 AS MATERIALIZED (SELECT a, b FROM kl_15
      |  WHERE a IN (SELECT id FROM kk_16) AND b IN (SELECT id FROM kk_16)),
      |f AS (SELECT a, b FROM kl_16)
      |SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
      |  SELECT a AS id FROM f UNION ALL SELECT b FROM f)
      |GROUP BY id""".stripMargin)

  /** Link communities over the same customer→supplier purchase graph the
    * PageRank signal ranks: 4 synchronous label-propagation rounds with the
    * (count DESC, label ASC) winner — deterministic, so the oracle unrolls
    * every round as plain SQL over the mirrored edge list.
    */
  private def graphCommunitiesQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    ops.Graph.labelPropagation(edges, "src", "dst", rounds = 4)
  }
  // per-round label checkpoints (the page_rank shape)
  query("graph_communities", graphCommunitiesQ, BuiltByJobs) {
    // synchronous LPA unrolled: each round is a plain (node, label) count
    // over the mirrored edges + the (count DESC, label ASC) row_number
    // pick — the fixed-round contract makes the replay exact
    val lpaRounds = (1 to 4).map { i =>
      s"""u$i AS (SELECT nb.dst AS id, l.community, count(*) AS c
         |  FROM nb JOIN l${i - 1} l ON nb.src = l.id
         |  GROUP BY nb.dst, l.community),
         |l$i AS (SELECT id, community FROM (
         |  SELECT id, community, row_number() OVER (PARTITION BY id
         |    ORDER BY c DESC, community ASC) AS rn
         |  FROM u$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT least(o_custkey, l_suppkey + 1000000) AS a,
       |    greatest(o_custkey, l_suppkey + 1000000) AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nb AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT a AS id, a AS community FROM e UNION SELECT b, b FROM e),
       |$lpaRounds
       |SELECT id, community FROM l4""".stripMargin
  }

  // the p=4 variant (graph_neighborhood's HyperBall precision): 4-bit
  // bucket from the top chunk, 60-bit rest, rank ladder 1..60 else 61
  private lazy val hllRestP4 = "((c0 % 4096) << 48) | (c1 << 32) | (c2 << 16) | c3"

  private lazy val hllLadderP4 = (1 to 60).map(r =>
    s"WHEN rest >= ${1L << (60 - r)} THEN $r").mkString(" ")

  // shared HyperBall register chain over the purchase+path graph —
  // edges, symmetrize, per-node p=4 seed registers, three unrolled
  // bucket-wise-max sweeps, the stacked radius table `allr`; consumed by
  // graph_neighborhood AND graph_harmonic so the replays cannot drift
  private lazy val hyperballCtes = {
    val sweeps = (1 to 3).map { r =>
      s"""r$r AS (SELECT node, bucket, max(max_rank) AS max_rank FROM (
         |  SELECT node, bucket, max_rank FROM r${r - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, rr.bucket, rr.max_rank
         |  FROM e JOIN r${r - 1} rr ON rr.node = e.src) t
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val stack = (0 to 3).map(r =>
      s"SELECT $r AS radius, node, bucket, max_rank FROM r$r")
      .mkString("\nUNION ALL ")
    s"""o AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |pth AS (SELECT gs.j + 3000000 AS src, gs.j + 3000001 AS dst
       |  FROM generate_series(1, 39) gs(j)),
       |raw AS (SELECT src, dst FROM o UNION ALL SELECT src, dst FROM pth),
       |e AS (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw) s
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h AS (SELECT node, substr(md5(CAST(node AS VARCHAR)), 1, 16) AS hx FROM n),
       |c AS (SELECT node, $hllChunks FROM h),
       |b AS (SELECT node, c0 // 4096 AS bucket, $hllRestP4 AS rest FROM c),
       |r0 AS (SELECT node, bucket, CASE $hllLadderP4 ELSE 61 END AS max_rank FROM b),
       |$sweeps,
       |allr AS ($stack)""".stripMargin
  }

  /** HyperBall neighborhood panel over the purchase graph plus a planted
    * 40-node PATH (nodes 3000001..3000040, its own component): the dense
    * bipartite body saturates its balls within ~2 sweeps while the path's
    * balls grow by exactly two nodes per radius — so every radius of the
    * panel carries a real delta instead of an immediate fixed point. p=4
    * (16 registers — the low-precision web-scale posture HyperBall's own
    * paper runs; the register table is the exact artifact, precision only
    * widens estimate error bars), maxRadius 3, undirected.
    */
  private def graphNeighborhoodQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val path = s.range(1, 40)
      .select((col("id") + 3000000L).as("src"), (col("id") + 3000001L).as("dst"))
    ops.Graph.neighborhoodFunction(
      edges.unionByName(path), "src", "dst", maxRadius = 3, p = 4)
  }
  // per-radius register checkpoints (HyperBall sweeps); the final plan
  // is the panel aggregation over the stacked snapshots
  query("graph_neighborhood", graphNeighborhoodQ, BuiltByJobs)(
    // HyperBall replay: the md5 register chain at p=4 (4-bit bucket,
    // 60-bit rest, rank ladder) seeds each node's radius-0 ball, then
    // three unrolled sweeps — each the node's own registers UNION ALL
    // in-neighbor registers, bucket-wise max — exactly the
    // hllMergeRegisters algebra; the panel re-aggregates the stacked
    // radius tables
    s"""WITH $hyperballCtes,
       |per AS (SELECT radius, CAST(count(*) AS BIGINT) AS n_register_rows,
       |  CAST(count(DISTINCT node) AS BIGINT) AS n_nodes FROM allr GROUP BY 1)
       |SELECT a.radius, a.max_rank, CAST(count(*) AS BIGINT) AS n_registers,
       |  per.n_nodes, per.n_register_rows
       |FROM allr a JOIN per ON per.radius = a.radius
       |GROUP BY 1, 2, 4, 5""".stripMargin)

  /** Harmonic centrality via HyperBall over the same graph — the
    * CommonCrawl-style curation ranking, every node scored in three edge
    * sweeps on the integral quantized-estimator lane.
    */
  private def graphHarmonicQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val path = s.range(1, 40)
      .select((col("id") + 3000000L).as("src"), (col("id") + 3000001L).as("dst"))
    ops.Graph.harmonicCentrality(
      edges.unionByName(path), "src", "dst", maxRadius = 3, p = 4)
  }
  // the same checkpointed register chain; the final plan is the
  // quantized-estimator aggregation + one per-node lag window
  query("graph_harmonic", graphHarmonicQ, BuiltByJobs) {
    // harmonic-centrality replay: the shared HyperBall chain, then the
    // QUANTIZED estimator per (radius, node) — HUGEINT denominator sum,
    // the baked alpha numerator, the 15-entry linear-counting table
    // (identical Scala-computed literals in plan and oracle) — lagged
    // radius deltas clamped at 0, each divided by its radius
    val alphaNum =
      (BigInt(ops.Graph.hllAlphaPpm(4)) * 16 * 16 * BigInt(2).pow(61)).toString
    val lcCase = ops.Graph.hllLcMicroTable(4).zipWithIndex.map {
      case (v, i) => s"WHEN ${i + 1} THEN $v"
    }.mkString("CASE zeros ", " ", " ELSE NULL END")
    s"""WITH $hyperballCtes,
       |e0 AS (SELECT radius, node, count(*) AS ne,
       |  sum(1::HUGEINT << (61 - max_rank)) AS d FROM allr GROUP BY 1, 2),
       |e1 AS (SELECT radius, node, 16 - ne AS zeros,
       |  CAST('$alphaNum' AS HUGEINT)
       |    // (d + (16 - ne)::HUGEINT * 2305843009213693952) AS raw1 FROM e0),
       |es AS (SELECT radius, node,
       |  CASE WHEN zeros > 0 AND raw1 <= 40000000
       |    THEN ($lcCase) ELSE CAST(raw1 AS BIGINT) END AS est FROM e1),
       |lg AS (SELECT radius, node, est,
       |  lag(est) OVER (PARTITION BY node ORDER BY radius) AS prev FROM es)
       |SELECT node,
       |  max(CASE WHEN radius = 3 THEN est END) AS ball_micro,
       |  CAST(coalesce(sum(CASE WHEN radius > 0
       |    THEN greatest(est - prev, 0) // radius END), 0) AS BIGINT)
       |    AS harmonic_micro
       |FROM lg GROUP BY 1""".stripMargin
  }

  /** Triangle counts over the co-supply graph: suppliers are adjacent when
    * they ship line items in at least 28 common orders (the strength
    * threshold keeps the graph sparse — below it the co-supply relation
    * degenerates toward the complete graph and triangles stop meaning
    * community). [[ops.Graph.triangleCounts]] with the degree-ordered
    * orientation; the oracle counts x<y<z triangles by numeric order —
    * orientation must be invisible in the result.
    */
  private def triangleCountQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 28)
    ops.Graph.triangleCounts(co, "s1", "s2")
  }
  // the normalized edge list and the oriented list are localCheckpoints
  // (each feeds 2-3 consumers); the final plan hangs off the second
  query("triangle_count", triangleCountQ, BuiltByJobs)(
    // x<y<z triangles by plain numeric order — the operator's
    // degree-ordered orientation is a plan strategy, invisible in results
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      |co AS (SELECT a.s AS s1, b.s AS s2 FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
      |  GROUP BY 1, 2 HAVING count(*) >= 28),
      |tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
      |  FROM co e1 JOIN co e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
      |  JOIN co e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2),
      |nodes AS (SELECT DISTINCT s FROM (
      |  SELECT s1 AS s FROM co UNION ALL SELECT s2 FROM co)),
      |cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri) GROUP BY 1)
      |SELECT n.s AS id, coalesce(c.n, 0) AS n_triangles
      |FROM nodes n LEFT JOIN cnt c ON c.id = n.s""".stripMargin)

  /** Link-prediction panel over the co-supply graph (the triangle_count
    * graph: suppliers adjacent at >= 28 common orders) — every absent
    * edge at distance 2 scored by common neighbors / neighborhood
    * Jaccard / preferential attachment.
    */
  private def linkPredictQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 28)
    ops.Graph.linkScores(co, "s1", "s2")
  }
  // adjacency re-key + center groupBy + pair groupBy + anti-join re-key
  // + the two degree attaches (cand re-keys on a then b, deg side
  // exchanges once); the canonical edge build and degree table sit
  // behind their checkpoints
  query("link_predict", linkPredictQ, Shuffles(7))(
    // link-prediction replay: the identical co-supply graph → adjacency
    // → capped wedge expansion → non-edge filter → degree attach chain
    // with integral `//` for the neighborhood Jaccard
    """WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |und AS MATERIALIZED (
      |  SELECT x.sk AS a, y.sk AS b FROM li x JOIN li y
      |  ON x.ok = y.ok AND x.sk < y.sk
      |  GROUP BY 1, 2 HAVING count(*) >= 28),
      |adj AS (SELECT a AS c, b AS n FROM und
      |  UNION ALL SELECT b, a FROM und),
      |deg AS MATERIALIZED (
      |  SELECT c AS id, count(*) AS deg FROM adj GROUP BY 1),
      |ok_c AS (SELECT id FROM deg WHERE deg <= 256),
      |cand AS MATERIALIZED (
      |  SELECT x.n AS a, y.n AS b, count(*) AS cn
      |  FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
      |  JOIN ok_c ON ok_c.id = x.c
      |  GROUP BY 1, 2),
      |ne AS (SELECT cand.* FROM cand LEFT JOIN und
      |  ON und.a = cand.a AND und.b = cand.b WHERE und.a IS NULL)
      |SELECT ne.a, ne.b, ne.cn AS common_neighbors,
      |  da.deg AS deg_a, db.deg AS deg_b,
      |  ne.cn * 1000000 // (da.deg + db.deg - ne.cn) AS jaccard_ppm,
      |  da.deg * db.deg AS pa_score
      |FROM ne JOIN deg da ON da.id = ne.a JOIN deg db ON db.id = ne.b
      |WHERE ne.cn >= 1""".stripMargin)

  /** Personalized PageRank over the purchase graph, restarting at nation-0
    * customers: every customer and supplier scored by proximity to that
    * nation's buying base — the seed-expansion signal.
    */
  private def personalizedPageRankQ(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
    val seeds = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_nationkey") === 0).select(col("c_custkey"))
    ops.Graph.personalizedPageRank(edges, "src", "dst", seeds, "c_custkey")
  }
  // the same shared prLoop with a seeded restart vector
  query("personalized_pagerank", personalizedPageRankQ, BuiltByJobs) {
    // personalized PR: the page_rank unroll with the restart vector
    // concentrated on nation-0 customers (tp/r0 per node from the seed
    // flag); arithmetic is otherwise identical
    val iters = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |    CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inb
         |  FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT n.node,
         |    CAST(n.tp + (coalesce(c.inb, 0) * 85) // 100 AS BIGINT) AS rank
         |  FROM nt n LEFT JOIN c$i c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sd AS (SELECT DISTINCT c_custkey AS node FROM customer
       |  WHERE c_nationkey = 0),
       |nt AS MATERIALIZED (SELECT n.node,
       |    CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END AS tp,
       |    CASE WHEN sd.node IS NOT NULL THEN 1000000 ELSE 0 END AS r0
       |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
       |r0 AS (SELECT node, CAST(r0 AS BIGINT) AS rank FROM nt),
       |$iters
       |SELECT node, rank FROM r3""".stripMargin
  }

  /** One-row degree/assortativity panel over the co-supplier graph (the
    * triangle_count graph shape at a >= 8 co-order threshold — 28 empties
    * it at sf0.1, where pair co-occurrence dilutes with supplier count).
    */
  private def graphAssortativityQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val co = li.select(col("ok"), col("sk").as("s1"))
      .join(li.select(col("ok"), col("sk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 8)
    ops.Graph.degreeAssortativity(co, "s1", "s2")
  }
  // the nodes/moments 1-row aggs (2, landing in the whitelisted scalar
  // cross) + the two node-keyed degree-attach SMJs over the
  // checkpointed stub stream (2x2 re-keys)
  // the 1-row moments x 1-row node-panel cross: the scalar-attach idiom
  query("graph_assortativity", graphAssortativityQ, ShufflesWithBnlj(6))(
    // assortativity replay: the triangle_count co-supplier graph, degree
    // table, directed stubs, HUGEINT moments, ONE IEEE division in the
    // engine's operand order
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
      |    FROM lineitem),
      |co AS (SELECT a.s AS s1, b.s AS s2 FROM li a
      |  JOIN li b ON a.ok = b.ok AND a.s < b.s
      |  GROUP BY 1, 2 HAVING count(*) >= 8),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
      |  SELECT s1 AS id FROM co UNION ALL SELECT s2 FROM co) GROUP BY 1),
      |stubs AS (SELECT s1 AS u, s2 AS v FROM co
      |  UNION ALL SELECT s2, s1 FROM co),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    sum(CAST(du.deg AS HUGEINT)) AS sx,
      |    sum(CAST(du.deg AS HUGEINT) * du.deg) AS sxx,
      |    sum(CAST(du.deg AS HUGEINT) * dv.deg) AS sxy
      |  FROM stubs JOIN deg du ON du.id = stubs.u
      |  JOIN deg dv ON dv.id = stubs.v),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    max(deg) AS max_degree FROM deg)
      |SELECT nd.n_nodes, CAST(m.m // 2 AS BIGINT) AS n_edges,
      |  nd.max_degree,
      |  CASE WHEN nd.n_nodes > 0 THEN
      |    CAST(CAST(m.m AS HUGEINT) * 1000000 // nd.n_nodes AS BIGINT)
      |  END AS mean_degree_ppm,
      |  CASE WHEN (CAST(m.m AS HUGEINT) * m.sxx - m.sx * m.sx) <> 0 THEN
      |    round(CAST(CAST(m.m AS HUGEINT) * m.sxy - m.sx * m.sx AS DOUBLE)
      |      / CAST(CAST(m.m AS HUGEINT) * m.sxx - m.sx * m.sx AS DOUBLE),
      |      6)
      |  END AS assortativity
      |FROM nd, m""".stripMargin)

  /** Supplier co-membership graph from order containment: the bipartite
    * (order, supplier) list projected with the 100 TB cap observable —
    * orders with more than 6 distinct suppliers drop whole, co-counts
    * below 3 drop after.
    */
  private def bipartiteProjectQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    ops.Graph.bipartiteProject(li, "l_orderkey", "l_suppkey",
      maxPerLeft = 6, minWeight = 3L)
  }
  // per-left member arrays (collect_set dedups map-side — Catalyst
  // even folds the membership distinct into it) + the pair-keyed
  // count agg; the C(k,2) expansion is in-row
  query("bipartite_project", bipartiteProjectQ, Shuffles(2))(
    // projection replay: the cap as a HAVING on left-membership counts
    // BEFORE the pair join — the drop-whole contract is replayed, not
    // approximated
    """WITH mem AS (SELECT DISTINCT l_orderkey AS l, l_suppkey AS r
      |    FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
      |keep AS (SELECT l FROM mem GROUP BY l HAVING count(*) <= 6),
      |m2 AS (SELECT mem.l, mem.r FROM mem JOIN keep USING (l))
      |SELECT a.r AS a, b.r AS b, CAST(count(*) AS BIGINT) AS weight
      |FROM m2 a JOIN m2 b ON a.l = b.l AND a.r < b.r
      |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)
}
