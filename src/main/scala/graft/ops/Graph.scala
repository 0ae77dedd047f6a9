package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointUtil

/** Graph operators over edge lists. The curation use case sits next to
  * [[Url.domainCaps]]: a crawl's link graph ranks domains/pages by link
  * authority, and that rank is a standard corpus-quality and sampling signal
  * (what CommonCrawl's harmonic-centrality ranking provides out of band).
  */
object Graph {

  /** Deterministic fixed-point PageRank over a directed edge list — the
    * link-authority score, kept ENTIRELY in the integer lane so results are
    * engine- and partitioning-identical (the float formulation sums
    * contributions in shuffle order; two runs disagree in the last ulps and
    * rankings flip):
    *
    *  - ranks live as integer micro-units (`scale` per node initially);
    *  - a node's per-edge contribution is `rank div outdeg` (integral
    *    division — the truncation is deterministic, and the dropped
    *    sub-unit remainder is bounded by `outdeg` units per node per
    *    iteration: at the default scale, parts in a million);
    *  - the damping update is `rank' = scale·(100−d)/100 + (inbound·d) div
    *    100` with `d = dampingPct` — pure integer ops, so the oracle
    *    replays it exactly.
    *
    * Dangling nodes (no out-edges): by default they leak their mass — the
    * classic simplified formulation; ranks are comparable WITHIN a run,
    * which is what a curation ranking needs. `redistributeDangling = true`
    * enables the standard correction: each iteration the dangling nodes'
    * total rank is collected by ONE 1-row aggregate (alongside the node
    * count), split evenly (`mass div N`, integral), and every node's
    * inbound sum receives the share through a broadcast scalar cross —
    * total mass is then conserved up to integral-division floors, the
    * property a cross-RUN comparison needs. Fixed `iterations` (default 3) rather
    * than convergence detection: a ranking signal stabilizes its ORDER in
    * a few iterations, and a fixed count keeps the oracle an unrolled
    * replay. Overflow bound: `inbound·dampingPct` stays inside int64 up to
    * ~10^11 nodes at the default scale — documented, not discovered.
    *
    * Shape at 100 TB: per iteration one hash join of the (src, dst,
    * outdeg)-annotated edge list with the current rank table plus one
    * keyed re-aggregation — the standard Pregel-free formulation; the edge
    * list with out-degrees is checkpointed ONCE and reused every
    * iteration, and each iteration's rank table checkpoints to truncate
    * the growing lineage ([[Fixpoint.iterate]] releases the superseded
    * snapshots).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      dampingPct: Int = 85,
      scale: Long = 1000000L,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations must be in [1, 50]")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct must be in [0, 100]")
    require(scale >= 100 && scale % 100 == 0,
      "scale must be a positive multiple of 100 (keeps the teleport term exact)")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outdeg, Seq("src")).localCheckpoint()
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node"))).distinct()
    val teleport = scale / 100L * (100L - dampingPct)
    // the dangling flag rides the node table (one anti-ish left join at
    // build time, not per iteration): a node with no out-edge leaks —
    // or, under redistribution, donates — its whole rank each round
    val srcs = eDeg.select(col("src").as("node")).distinct()
      .withColumn("_has_out", lit(true))
    val nodesT = nodes.join(srcs, Seq("node"), "left")
      .select(col("node"), lit(teleport).as("_tp"), lit(scale).as("_r0"),
        col("_has_out").isNull.as("_dg"))
    prLoop(eDeg, nodesT, iterations, dampingPct, redistributeDangling)
  }

  /** The shared power-iteration loop of [[pageRank]] and
    * [[personalizedPageRank]]: `nodesT` carries each node's per-iteration
    * teleport term (`_tp`) and initial rank (`_r0`) — uniform for global
    * PageRank, seed-concentrated for the personalized form. Identical
    * integer lane either way. Only the final rank snapshot stays
    * persisted: every round checkpoints eagerly, so once the loop returns
    * the last generation has materialized and its truncated lineage no
    * longer reaches `eDeg` or `nodes`, which are released then.
    */
  private def prLoop(
      eDeg: DataFrame,
      nodesT: DataFrame,
      iterations: Int,
      dampingPct: Int,
      redistribute: Boolean = false): DataFrame = {
    val nodes = nodesT.localCheckpoint()
    val rank0 = nodes.select(col("node"), col("_r0").as("rank"),
      (if (redistribute) col("_dg") else lit(false)).as("_dg"))
    val ranks = Fixpoint.iterate(rank0, iterations) { (rank, _) =>
      val contrib = eDeg
        .join(rank.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_in"))
      // each node's share of the dangling mass: one 1-row aggregate over
      // the current ranks (mass AND node count in the same pass), divided
      // integrally, broadcast into the update — zero when redistribution
      // is off, so the leaky formulation's arithmetic is untouched
      val dShare =
        if (redistribute)
          rank.agg(
            coalesce(sum(when(col("_dg"), col("rank"))), lit(0L)).as("_dm"),
            count(lit(1)).as("_n"))
            .select(expr("_dm div _n").as("_ds"))
        else rank.sparkSession.range(1).select(lit(0L).as("_ds"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dShare))
        .select(col("node"),
          (col("_tp") +
            expr(s"((coalesce(_in, 0L) + _ds) * $dampingPct) div 100"))
            .as("rank"),
          (if (redistribute) col("_dg") else lit(false)).as("_dg"))
        .localCheckpoint()
      (next, false)
    }.last
    Seq(eDeg, nodes).foreach(CheckpointUtil.unpersist(_))
    ranks.select(col("node"), col("rank"))
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * CONCENTRATED on a seed set instead of spread uniformly: random walks
    * restart at the seeds, so a node's rank reads "proximity to the
    * seeds through the link structure" — the standard related-items /
    * seed-expansion signal (grow a trusted-domain whitelist outward, rank
    * suppliers by closeness to one nation's customer base). Same exact
    * integer lane as the global form: seeds start at `scale` and receive
    * the full per-node teleport term each iteration, non-seeds start at
    * 0 and receive none — every arithmetic op is the global form's,
    * so the oracle replay differs only in the restart vector. Nodes
    * unreachable from the seeds hold rank 0 (emitted, not dropped — the
    * caller sees the whole universe scored). Seeds not on any edge are
    * ignored (they have no links to walk).
    *
    * Shape: identical to [[pageRank]] — the seed flag rides the node
    * table built once at the start (one left-semi hash join against the
    * seed frame), and the loop is the shared [[prLoop]].
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 3,
      dampingPct: Int = 85,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations must be in [1, 50]")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct must be in [0, 100]")
    require(scale >= 100 && scale % 100 == 0,
      "scale must be a positive multiple of 100 (keeps the teleport term exact)")
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outdeg, Seq("src")).localCheckpoint()
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node"))).distinct()
    val seedSet = seeds.select(col(seedCol).as("node"))
      .filter(col("node").isNotNull).distinct()
    val teleport = scale / 100L * (100L - dampingPct)
    val nodesT = nodes
      .join(seedSet.withColumn("_s", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("_s"), lit(teleport)).otherwise(lit(0L)).as("_tp"),
        when(col("_s"), lit(scale)).otherwise(lit(0L)).as("_r0"))
    prLoop(eDeg, nodesT, iterations, dampingPct)
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal (a crawl node whose neighbors all know each other
    * is a community; one whose neighbors never touch is a hub or spam
    * farm). Input edges may be directed/duplicated either way; they
    * normalize to distinct undirected `(a < b)` pairs first, self-loops
    * dropped. Returns `(id, n_triangles)` for every node on an edge,
    * zero-participation nodes included.
    *
    * The scale trick is DEGREE-ORDERED ORIENTATION (the standard
    * compact-forward algorithm): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, then count wedges
    * `u→v, u→w` closed by an oriented edge `v→w`. Every triangle is
    * counted EXACTLY once (its nodes are totally ordered by (degree, id);
    * the wedge forms at the smallest), and — the part that matters at
    * 100 TB — every node's oriented out-degree is O(√|E|), so the wedge
    * join's intermediate is Σ outdeg² ≤ |E|^1.5 instead of the Σ deg²
    * blowup a hub node causes in the naive wedge count: a celebrity with
    * 10^7 followers contributes zero wedges as a wedge CENTER because
    * every edge points INTO it. Three shuffle aggregations + two
    * self-joins on node keys; the triangle table never materializes wider
    * than (x, y, z).
    */
  /** Label-propagation communities over an undirected edge list — the
    * community-detection member of the graph family next to the two CCs
    * (which find CONNECTED pieces) and [[triangleCounts]] (which scores
    * local density): each round, every node adopts the most frequent label
    * among its neighbors (ties → smallest label), so dense regions agree on
    * their minimum id in a few rounds while bridges stay thin. Communities
    * partition finer than components — the crawl-graph use is splitting a
    * giant connected blob into link neighborhoods for per-community caps.
    *
    * Deterministic by construction where classic LPA is not: updates are
    * SYNCHRONOUS (every node reads round t−1's labels), the winner is the
    * `(count DESC, label ASC)` arg-max — a pure function of the edge set —
    * and the round count is FIXED rather than convergence-detected, because
    * synchronous LPA can 2-cycle on bipartite structure (the documented
    * trade: a fixed unroll is engine-replayable; convergence detection on
    * an oscillating system isn't even well-defined). Self-loops drop,
    * multi-edges collapse, direction is ignored; only nodes on at least one
    * surviving edge are labeled (an isolated node is trivially its own
    * community — union it back if the caller needs the full universe).
    *
    * Shape at 100 TB: per round one equality join of the mirrored edge list
    * with the labels table plus two keyed aggregations ((node, label) counts
    * then per-node arg-max) — all narrow (id, label, count) rows; the edge
    * list checkpoints once, each round's labels checkpoint to truncate
    * lineage ([[Fixpoint.iterate]]). Only the final labels stay
    * persisted: every round checkpoints eagerly, so the edge list is
    * released once the loop returns.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 20, "rounds must be in [1, 20]")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false) // feeds the mirror both ways + the node set
    val nbrs = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val labels0 = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id"))).distinct()
      .select(col("id"), col("id").as("community"))
    val communities = Fixpoint.iterate(labels0, rounds) { (labels, _) =>
      val next = nbrs
        .join(labels.select(col("id").as("src"), col("community")), Seq("src"))
        .groupBy(col("dst").as("id"), col("community"))
        .agg(count(lit(1)).as("_c"))
        // (count DESC, label ASC) via min over the negated-count struct
        .groupBy(col("id"))
        .agg(min(struct((-col("_c")).as("_nc"), col("community").as("_l")))
          .as("_best"))
        .select(col("id"), col("_best._l").as("community"))
        .localCheckpoint()
      (next, false)
    }.last
    CheckpointUtil.unpersist(und)
    communities
  }

  /** k-core of an undirected simple graph — the maximal subgraph in which
    * every node has degree ≥ k, by iterative peeling: each round drops
    * every node whose CURRENT degree is below k (and the edges it
    * carries), until a round removes nothing. The crawl-curation use sits
    * next to [[pageRank]]: the k-core strips the low-engagement periphery
    * (pages/domains held in the graph only by a thin thread) while spam
    * farms — dense but isolated — survive coring and fall instead to
    * [[labelPropagation]] community caps; conversely a node with many
    * edges into REMOVED nodes peels in a later round, which no single
    * degree filter can express.
    *
    * Determinism: the k-core is the UNIQUE maximal fixed point — peel
    * order cannot change it (removing any sub-k node never raises another
    * node's degree), so unlike LPA there is nothing order-sensitive to
    * pin; convergence detection is well-defined and extra rounds past the
    * fixed point are no-ops, which is exactly what lets an oracle replay
    * a FIXED generous unroll and land on the same answer the early-stopping
    * engine produced. Self-loops drop, multi-edges collapse, direction is
    * ignored. Returns the core's nodes with their within-core degree
    * (`(id, degree)`, every `degree ≥ k`); an empty core returns no rows.
    *
    * Shape at 100 TB: per round one mirrored degree aggregation + two
    * semi-joins of the surviving edge list against the keep set — narrow
    * (a, b)/(id, deg) rows only; each round's survivors checkpoint
    * (truncating lineage, [[Fixpoint.iterate]]; only the final survivors
    * stay persisted) and the round count is bounded by the peel depth,
    * ≤ a few dozen on real degree distributions (each round removes a
    * whole degree-layer, not one node).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 40): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val (und, nUnd) = Fixpoint.observedCheckpoint(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct(), count(lit(1)))
    // r20 NOTE — incremental peeling attempted and REVERTED with numbers:
    // maintaining degrees by per-endpoint loss subtraction (mark both
    // endpoints against the peel set, aggregate losses over dropped edges
    // only, apply with broadcastable joins) removes the per-round mirrored
    // degree aggregation and both edge-volume semi-join exchanges — the
    // right shape on paper at 100 TB — but a 13-round peel then runs
    // 4 joins/round across ~10 AQE stages/round (128 stages total), and
    // with only ~14 s of total task time the wall is pure stage-scheduling
    // latency: measured 9.4–12.5 s against this form's 5.8 s at sf0.1.
    // AQE's runtime broadcast conversion also still pays the big side's
    // shuffle WRITE, so even the shuffle saving was partial. The simple
    // form below keeps one heavy pipelined job per round, whose checkpoint
    // also observes the surviving edge count.
    var nLive = nUnd
    val peels = if (nLive == 0L) 0 else maxRounds
    val core = Fixpoint.iterate(und, peels, ownsInit = true) { (live, _) =>
      val deg = live.select(col("a").as("id"))
        .unionByName(live.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      val (next, n) = Fixpoint.observedCheckpoint(live
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")), count(lit(1)))
      val done = n == nLive
      nLive = n
      (next, done)
    }.last
    core.select(col("a").as("id"))
      .unionByName(core.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
  }

  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false) // feeds degrees AND the orientation join
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order: the lower endpoint owns the edge
    val ori = und
      .join(deg.select(col("id").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("_db")), "b")
      .select(
        when(struct(col("_da"), col("a")) < struct(col("_db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .join(deg.select(col("id").as("v"), col("deg").as("_dv")), "v")
      .localCheckpoint(false) // feeds the wedge join twice and the closer
    // wedges at u between its two higher neighbors, ordered to count once
    val w1 = ori.select(col("u"), col("v"), col("_dv"))
    val w2 = ori.select(col("u"), col("v").as("w"), col("_dv").as("_dw"))
    val tri = w1.join(w2, Seq("u"))
      .filter(struct(col("_dv"), col("v")) < struct(col("_dw"), col("w")))
      .select(col("u"), col("v"), col("w"))
      .join(ori.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
    val perNode = tri.select(col("u").as("id"))
      .unionByName(tri.select(col("v").as("id")))
      .unionByName(tri.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("id"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Link-prediction scores over an undirected simple graph — the classic
    * neighborhood heuristics (Liben-Nowell & Kleinberg CIKM'03) for every
    * NON-edge pair at distance 2: `common_neighbors` (the wedge count),
    * full degrees of both endpoints, `jaccard_ppm =
    * ⌊cn·10^6/(deg_a + deg_b − cn)⌋` (neighborhood Jaccard in the integral
    * lane — no Adamic–Adar here, its 1/log(deg) weights have no exact
    * integer form), and the preferential-attachment score
    * `pa_score = deg_a·deg_b`. Existing edges are excluded (the point is
    * predicting ABSENT links); pairs below `minCommon` drop.
    *
    * Skew contract (the [[Affinity.basketRules]] discipline): a wedge
    * center of degree d contributes C(d,2) candidate pairs, so centers
    * with more than `maxDegree` neighbors drop WHOLE before expansion,
    * observably (`n_centers_in` / `n_dropped_centers` via `metrics`) —
    * one celebrity node in a 10^12-edge graph would alone emit 10^12+
    * pairs, and evidence THROUGH such a hub is the least informative kind
    * (everything neighbors it). Degrees in the output stay FULL degrees;
    * only wedge evidence through dropped centers is forgone, and with the
    * cap above the true max degree the scores are exact.
    *
    * Shape at 100 TB: one exchange to assemble per-center sorted neighbor
    * arrays (collect_set dedups map-side), the C(d,2) expansion happens
    * IN-ROW over the capped arrays (never a corpus self-join), pair
    * counts aggregate on the pair key, the existing-edge exclusion is a
    * left-anti hash join on the canonical edge key, and degrees attach by
    * node-keyed hash joins — every exchange is edge- or pair-volume,
    * bounded by the cap.
    */
  def linkScores(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      minCommon: Long = 1L,
      maxDegree: Int = 256,
      metrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    require(maxDegree >= 2, "maxDegree must be >= 2 (wedges need 2 neighbors)")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false) // feeds adjacency, degrees, and the anti-join
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // consumed by BOTH endpoint attaches
    // per-center sorted neighbor arrays; the cap drops hot centers whole,
    // observably, BEFORE the C(d,2) in-row expansion
    val adj = und.select(col("a").as("_c"), col("b").as("_n"))
      .unionByName(und.select(col("b").as("_c"), col("a").as("_n")))
      .groupBy(col("_c")).agg(array_sort(collect_set(col("_n"))).as("_ns"))
    val capped = metrics.map { o =>
      adj.observe(o,
        count(lit(1)).as("n_centers_in"),
        coalesce(sum(when(size(col("_ns")) > maxDegree, 1L).otherwise(0L)),
          lit(0L)).as("n_dropped_centers"))
    }.getOrElse(adj)
      .filter(size(col("_ns")) <= maxDegree)
    val cand = capped
      .select(flatten(transform(col("_ns"), (x, i) =>
        transform(slice(col("_ns"), i + lit(2),
          greatest(size(col("_ns")) - i - lit(1), lit(0))), y =>
          struct(x.as("_pa"), y.as("_pb"))))).as("_ps"))
      .select(explode(col("_ps")).as("_p"))
      .groupBy(col("_p._pa").as("a"), col("_p._pb").as("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
      // the pair key is already canonical (sorted arrays pair low→high),
      // so the anti-join hits the canonical edge key directly
      .join(und, Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("id").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"),
        expr("(CAST(common_neighbors AS DECIMAL(38,0)) * 1000000) div " +
          "(deg_a + deg_b - common_neighbors)").cast("long").as("jaccard_ppm"),
        (col("deg_a") * col("deg_b")).as("pa_score"))
  }

  /** Bipartite → unipartite projection: the co-membership graph builder
    * every "items that co-occur in a container" analysis starts from
    * (suppliers co-filling orders, users co-editing documents, tokens
    * co-tagging items) — the inline step the co-supplier queries compose,
    * made first-class WITH the missing 100 TB contract: two right-nodes
    * get an edge weighted by how many left-containers hold both.
    *
    * Skew contract (the [[linkScores]] / [[Affinity.basketRules]]
    * discipline): a left node with k members emits C(k,2) pairs — one
    * 10⁶-member container alone would emit 5·10¹¹ pairs — so left nodes
    * with more than `maxPerLeft` members drop WHOLE before expansion,
    * observably (`n_left_in` / `n_dropped_left` via `metrics`). Pairs
    * below `minWeight` drop after the count.
    *
    * Shape at 100 TB: membership distinct (one exchange), per-left sorted
    * member arrays (collect_set dedups map-side, one exchange), the
    * C(k,2) expansion IN-ROW over capped arrays (never a self-join —
    * compare the naive `m JOIN m ON same left` whose skew is unbounded),
    * one pair-keyed count agg. Sorted arrays pair low→high, so the edge
    * key is canonical (a < b) by construction.
    */
  def bipartiteProject(
      df: DataFrame,
      leftCol: String,
      rightCol: String,
      maxPerLeft: Int = 256,
      minWeight: Long = 1L,
      metrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxPerLeft >= 2,
      s"maxPerLeft must be >= 2 (pairs need 2 members), got $maxPerLeft")
    require(minWeight >= 1, s"minWeight must be >= 1, got $minWeight")
    val adj = df
      .filter(col(leftCol).isNotNull && col(rightCol).isNotNull)
      .select(col(leftCol).as("_l"), col(rightCol).as("_r"))
      .distinct()
      .groupBy(col("_l")).agg(array_sort(collect_set(col("_r"))).as("_ns"))
    val capped = metrics.map { o =>
      adj.observe(o,
        count(lit(1)).as("n_left_in"),
        coalesce(sum(when(size(col("_ns")) > maxPerLeft, 1L).otherwise(0L)),
          lit(0L)).as("n_dropped_left"))
    }.getOrElse(adj)
      .filter(size(col("_ns")) <= maxPerLeft)
    capped
      .select(flatten(transform(col("_ns"), (x, i) =>
        transform(slice(col("_ns"), i + lit(2),
          greatest(size(col("_ns")) - i - lit(1), lit(0))), y =>
          struct(x.as("_pa"), y.as("_pb"))))).as("_ps"))
      .select(explode(col("_ps")).as("_p"))
      .groupBy(col("_p._pa").as("a"), col("_p._pb").as("b"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** One-row degree/assortativity panel over an undirected simple graph —
    * the structural summary every graph operator here assumes implicitly
    * (is this a hub-and-spoke crawl graph or a flat mesh?), made
    * first-class: `n_nodes`, `n_edges` (canonical a<b, self-loops and
    * duplicates dropped like [[triangleCounts]]), `max_degree`,
    * `mean_degree_ppm = ⌊2E·10⁶/N⌋`, and Newman's degree assortativity
    * (Phys. Rev. Lett. 89, 208701 (2002)) — the Pearson correlation of
    * endpoint degrees over DIRECTED edge stubs (each undirected edge
    * contributes both (d_u,d_v) and (d_v,d_u), which symmetrizes the
    * marginals: Σx = Σy, Σx² = Σy², so
    * `r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)` with M = 2E). Negative r =
    * hubs attach to leaves (crawl/star graphs), positive = degree-sorted
    * cores (social graphs). All four moments are exact DECIMAL(38,0)
    * sums over integer degrees; r is ONE correctly-rounded IEEE division
    * of exact integers (the [[Stats.correlations]] discipline), rounded
    * to 6 places. Zero degree variance (k-regular graph) reads NULL r —
    * no variance, no correlation. Moments Σx² ≤ M·maxdeg² ride
    * DECIMAL(38,0) exactly past 10¹⁵ edges at 10⁹ max degree.
    *
    * Shape at 100 TB: canonical-edge distinct (one exchange), the degree
    * agg (one), two node-keyed degree attaches onto the directed stub
    * stream, and two global 1-row aggregates — no self-join, nothing
    * collected beyond the panel row.
    */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false) // feeds degrees AND both stub attaches
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false) // feeds the node panel AND both attaches
    val stubs = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
    val moments = stubs
      .join(deg.select(col("id").as("u"), col("deg").as("_du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("_dv")), "v")
      .agg(
        count(lit(1)).as("_m"),
        sum(col("_du").cast(dec)).as("_sx"),
        sum(col("_du").cast(dec) * col("_du")).as("_sxx"),
        sum(col("_du").cast(dec) * col("_dv")).as("_sxy"))
    val nodes = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"))
    val num = col("_m").cast(dec) * col("_sxy") - col("_sx") * col("_sx")
    val den = col("_m").cast(dec) * col("_sxx") - col("_sx") * col("_sx")
    nodes.crossJoin(broadcast(moments))
      .select(
        col("n_nodes"),
        expr("_m div 2").cast("long").as("n_edges"),
        col("max_degree"),
        // guarded: an EMPTY graph still emits its one panel row (that the
        // graph is empty IS the structural finding) — n_nodes = 0 must
        // read NULL mean, not an ANSI divide-by-zero
        when(col("n_nodes") > 0,
          expr("(CAST(_m AS DECIMAL(38,0)) * 1000000) div n_nodes")
            .cast("long")).as("mean_degree_ppm"),
        when(den === lit(0).cast(dec), lit(null).cast("double"))
          .otherwise(round(num.cast("double") / den.cast("double"), 6))
          .as("assortativity"))
  }

  /** HyperBall neighborhood registers (Boldi & Vigna 2013, "In-Core
    * Computation of Geometric Centralities with HyperBall") — the
    * distance-distribution primitive the rest of the graph family can't
    * answer: how many nodes sit within r hops of each node, for every r,
    * WITHOUT all-pairs BFS. Each node carries an HLL register set of its
    * radius-r ball; the radius-(r+1) ball is the union of the node's own
    * ball with its in-neighbors' balls, and HLL union is register-wise max
    * ([[Sketch.hllMergeRegisters]] — THE property that makes the sketch
    * family compose with iteration). Exactly [[Sketch.hllBucketAndRank]]'s
    * md5 arithmetic, so every register is a pure integer function of the
    * node-id set and any engine replays the whole sweep bit-for-bit.
    *
    * Output: one register row per `(radius, node, bucket)` with `max_rank`
    * — radius 0 is each node's own singleton ball; radii stack so the
    * caller reads growth curves without re-running. Isolated nodes (on no
    * edge) are absent — a ball needs a graph. Self-loops drop (they add
    * nothing to any ball).
    *
    * Shape at 100 TB: per sweep ONE hash join of the edge list with the
    * current register table plus one `(node, bucket)` re-aggregation —
    * E × (registers per source) message rows, the HyperBall cost model,
    * with `p` the accuracy/cost knob (m = 2^p registers ceiling per node;
    * the paper runs low precisions at web scale for exactly this reason).
    * Each radius localCheckpoints (the [[pageRank]] lineage discipline);
    * all R+1 snapshots stay pinned because the OUTPUT reads every one —
    * memory is (R+1) register tables, each at most V·2^p rows, and in
    * practice collapsed far below the ceiling by bucket dedup.
    */
  def neighborhoodRegisters(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRadius: Int,
      p: Int = 4,
      undirected: Boolean = true): DataFrame =
    neighborhoodWideStack(edges, srcCol, dstCol, maxRadius, p, undirected) match {
      case Some(wide) => unpivotRegisters(wide, p)
      case None =>
        neighborhoodRegistersRowForm(edges, srcCol, dstCol, maxRadius, p, undirected)
    }

  /** The sweep loop in WIDE register form — one row per node, 2^p
    * `max_rank` columns (NULL = empty bucket) — used whenever 2^p ≤ 64
    * (the HyperBall posture: the paper itself runs LOW precisions at web
    * scale). The row form shuffles E × (registers per source) three-column
    * rows per sweep; the wide form shuffles E rows of 2^p small ints —
    * ~16× fewer shuffle rows and hash-table entries at p = 4 (r20,
    * guide §2.3: shuffle fewer rows/bytes), with the merge still a
    * register-wise max (one codegen'd max slot per column, map-side
    * partials intact). Returns the radius-stacked wide table
    * `(radius, node, _r0.._r{m−1})`, each radius localCheckpointed (the
    * [[pageRank]] lineage discipline; all stay pinned — the output reads
    * every radius). None when 2^p > 64 (the wide plan would carry
    * thousands of agg columns — callers fall back to the row form).
    */
  private def neighborhoodWideStack(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRadius: Int,
      p: Int,
      undirected: Boolean): Option[DataFrame] = {
    require(maxRadius >= 0 && maxRadius <= 12,
      "maxRadius must be in [0, 12] (each radius is a full edge sweep)")
    val m = 1 << p
    if (m > 64) None
    else {
      val e0 = edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
      val eDir = if (undirected)
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      else e0
      val e = eDir.filter(col("src") =!= col("dst")).distinct().localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val rcols = (0 until m).map(b => s"_r$b")
      // radius-0 registers straight from each node's own hash, pivoted to
      // one row per node (same exchange count as the row form's build)
      val base = Sketch.hllRegisters(
        nodes.select(col("node"), col("node").as("_v")), Seq("node"), "_v", p)
      var wide = base.groupBy(col("node"))
        .agg(max(when(col("bucket") === 0, col("max_rank"))).as("_r0"),
          (1 until m).map(b =>
            max(when(col("bucket") === b, col("max_rank"))).as(s"_r$b")): _*)
        .localCheckpoint()
      val perRadius = collection.mutable.Buffer(
        wide.withColumn("radius", lit(0)))
      for (r <- 1 to maxRadius) {
        val msgs = e
          .join(wide.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node") +: rcols.map(col): _*)
        // register-wise max: max() skips NULLs, so an absent bucket stays
        // NULL exactly when no in-ball member occupies it (the row form's
        // absence) — union-then-max is hllMergeRegisters column-wise
        wide = wide.unionByName(msgs)
          .groupBy(col("node"))
          .agg(max(col(rcols.head)).as(rcols.head),
            rcols.tail.map(c => max(col(c)).as(c)): _*)
          .localCheckpoint()
        perRadius += wide.withColumn("radius", lit(r))
      }
      Some(perRadius.reduce(_ unionByName _))
    }
  }

  /** Wide stack → the public `(radius, node, bucket, max_rank)` row form:
    * one in-row posexplode, absent (NULL) buckets filtered — identical
    * rows and types to the row-form sweep (bucket rides as long, exactly
    * [[Sketch.hllRegisters]]' shiftrightunsigned type).
    */
  private def unpivotRegisters(wide: DataFrame, p: Int): DataFrame = {
    val rcols = (0 until (1 << p)).map(b => s"_r$b")
    wide
      .select(col("radius"), col("node"),
        posexplode(array(rcols.map(col): _*)))
      .filter(col("col").isNotNull)
      .select(col("radius"), col("node"),
        col("pos").cast("long").as("bucket"), col("col").as("max_rank"))
  }

  /** The pre-r20 row-form sweep, kept for p with 2^p > 64 (and as the
    * equivalence baseline the wide lane is spec-gated against): message
    * volume is E × (registers per source) three-column rows per sweep.
    */
  private[ops] def neighborhoodRegistersRowForm(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRadius: Int,
      p: Int = 4,
      undirected: Boolean = true): DataFrame = {
    require(maxRadius >= 0 && maxRadius <= 12,
      "maxRadius must be in [0, 12] (each radius is a full edge sweep)")
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val eDir = if (undirected)
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    else e0
    val e = eDir.filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var regs = Sketch.hllRegisters(
        nodes.select(col("node"), col("node").as("_v")), Seq("node"), "_v", p)
      .localCheckpoint()
    val perRadius = collection.mutable.Buffer(
      regs.withColumn("radius", lit(0)))
    for (r <- 1 to maxRadius) {
      val msgs = e
        .join(regs.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("bucket"), col("max_rank"))
      regs = Sketch.hllMergeRegisters(regs.unionByName(msgs), Seq("node"))
        .localCheckpoint()
      perRadius += regs.withColumn("radius", lit(r))
    }
    perRadius.reduce(_ unionByName _)
      .select(col("radius"), col("node"), col("bucket"), col("max_rank"))
  }

  /** The neighborhood-function panel over [[neighborhoodRegisters]] — the
    * integer-exact surface (the [[Sketch.hllRegisters]] discipline: the
    * register table is the oracle-checkable artifact; float estimates are
    * monitoring math): per `(radius, max_rank)` the register count, with
    * each radius's node count and total register rows alongside. A
    * flattening `n_register_rows` curve IS the effective-diameter reading
    * — once balls stop acquiring new buckets, the graph has run out of
    * new reachable nodes.
    */
  def neighborhoodFunction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRadius: Int,
      p: Int = 4,
      undirected: Boolean = true): DataFrame =
    neighborhoodWideStack(edges, srcCol, dstCol, maxRadius, p, undirected) match {
      case Some(wide) =>
        // wide lane: the per-radius panel is an in-row projection over one
        // node-sized pass (one row per node per radius — count(1) IS the
        // node count, Σ non-null register columns IS the register-row
        // count); only the (radius, max_rank) histogram needs the unpivot,
        // and its map-side partials collapse to ≤ radii × ranks groups
        val rcols = (0 until (1 << p)).map(b => s"_r$b")
        val nonempty = rcols.map(c =>
          when(col(c).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        val per = wide.groupBy(col("radius"))
          .agg(coalesce(sum(nonempty), lit(0L)).as("n_register_rows"),
            count(lit(1)).as("n_nodes"))
        unpivotRegisters(wide, p)
          .groupBy(col("radius"), col("max_rank"))
          .agg(count(lit(1)).as("n_registers"))
          .join(broadcast(per), Seq("radius"))
          .select(col("radius"), col("max_rank"), col("n_registers"),
            col("n_nodes"), col("n_register_rows"))
      case None =>
        val regs = neighborhoodRegistersRowForm(
          edges, srcCol, dstCol, maxRadius, p, undirected)
        val per = regs.groupBy(col("radius"))
          .agg(count(lit(1)).as("n_register_rows"),
            countDistinct(col("node")).as("n_nodes"))
        regs.groupBy(col("radius"), col("max_rank"))
          .agg(count(lit(1)).as("n_registers"))
          .join(broadcast(per), Seq("radius"))
          .select(col("radius"), col("max_rank"), col("n_registers"),
            col("n_nodes"), col("n_register_rows"))
    }

  /** Per-(radius, node) ball-size ESTIMATES from the registers — float,
    * monitoring/spec-grade like [[Sketch.hllEstimate]] (which this is,
    * grouped by radius and node); the registers stay the exact artifact.
    */
  def neighborhoodEstimates(registers: DataFrame, p: Int): DataFrame =
    Sketch.hllEstimate(registers, Seq("radius", "node"), p)

  /** Harmonic centrality via HyperBall — the paper's own headline
    * application (Boldi & Vigna 2013/2014) and the curation ranking
    * CommonCrawl publishes for the web graph: `H(v) = Σ_{u≠v} 1/d(u,v)`,
    * estimated as `Σ_r (|B_v(r)| − |B_v(r−1)|)/r` over the
    * [[neighborhoodRegisters]] ball sizes — every node scored in
    * `maxRadius` edge sweeps, where exact all-pairs BFS is quadratic and
    * [[pageRank]] measures a different (eigenvector-ish) notion.
    *
    * Everything stays in the INTEGRAL lane so any engine replays it
    * bit-for-bit (the [[pageRank]] argument — float harmonic sums are
    * shuffle-order-dependent): per (radius, node) the ball estimate is
    * the standard HLL estimator QUANTIZED to micro-units —
    * `raw = ⌊alpha_ppm·m²·2^61 / (Σ 2^(61−rank) + zeros·2^61)⌋` with
    * every term an exact DECIMAL(38,0), and the small-range linear-
    * counting branch (`zeros > 0` and raw ≤ 2.5m) reads a BAKED
    * 15-entry integer table `⌊m·ln(m/zeros)·10⁶⌉` — the ln constants are
    * compile-time literals in plan and oracle alike, so no runtime float
    * ever crosses an engine boundary. Radius deltas clamp at 0 (the
    * raw↔linear-counting switch can step an estimate down a hair; a ball
    * never shrinks) and each contributes `delta div r`. Output per node:
    * `ball_micro` (the radius-R ball estimate) and `harmonic_micro`.
    * Estimator error is HLL's (~1.04/√m) — a RANKING signal, exactly the
    * posture of the published web-graph rankings; `p` trades accuracy.
    */
  /** The quantized-estimator constants [[harmonicCentrality]] bakes into
    * its plan — exposed (package-private) so the DuckDB oracle builder
    * uses the SAME Scala computation and the literals cannot drift. */
  private[graft] def hllAlphaPpm(p: Int): Long = math.round((
    if (p == 4) 0.673 else if (p == 5) 0.697 else if (p == 6) 0.709
    else 0.7213 / (1 + 1.079 / (1 << p))) * 1e6)

  /** `⌊m·ln(m/z)·10⁶⌉` for z = 1..m−1 (index z−1). */
  private[graft] def hllLcMicroTable(p: Int): Seq[Long] = {
    val m = 1 << p
    (1 until m).map(z => math.round(m * math.log(m.toDouble / z) * 1e6))
  }

  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRadius: Int,
      p: Int = 4,
      undirected: Boolean = true): DataFrame = {
    require(p >= 1, "p too small") // 2^(64-p) must fit a long
    val m = 1 << p
    val shiftBase = hllShiftBase(p)
    // the per-(radius, node) moment pair (_nonempty, _d) comes from the
    // WIDE register stack as an in-row projection when 2^p ≤ 64 — the
    // row-form groupBy re-exchanged V·registers·(R+1) rows just to count
    // what the wide row already holds (r20); the estimator arithmetic
    // downstream is byte-identical either way
    val nd = neighborhoodWideStack(
        edges, srcCol, dstCol, maxRadius, p, undirected) match {
      case Some(wide) =>
        val rcols = (0 until m).map(b => s"_r$b")
        val nonempty = rcols.map(c =>
          when(col(c).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
        val dSum = rcols.map(c =>
          when(col(c).isNotNull,
            expr(s"CAST(shiftleft(1L, $shiftBase - $c) AS DECIMAL(38,0))"))
            .otherwise(lit(0).cast("decimal(38,0)"))).reduce(_ + _)
        wide.select(col("radius"), col("node"),
          nonempty.as("_nonempty"), dSum.as("_d"))
      case None =>
        registerMoments(neighborhoodRegistersRowForm(
          edges, srcCol, dstCol, maxRadius, p, undirected), p)
    }
    harmonicFromMoments(nd, maxRadius, p)
  }

  /** Register rank 1..65−p maps to the exponent `hllShiftBase − rank`. */
  private def hllShiftBase(p: Int): Int = 65 - p

  /** [[harmonicCentrality]]'s per-(radius, node) moments `(_nonempty, _d)`
    * over row-form `(radius, node, bucket, max_rank)` registers. */
  private[ops] def registerMoments(regs: DataFrame, p: Int): DataFrame =
    regs.groupBy(col("radius"), col("node"))
      .agg(count(lit(1)).as("_nonempty"),
        sum(expr(
          s"CAST(shiftleft(1L, ${hllShiftBase(p)} - max_rank) AS DECIMAL(38,0))"))
          .as("_d"))

  /** The quantized estimator and radius-delta sum of [[harmonicCentrality]]
    * over its per-(radius, node) moments. */
  private[ops] def harmonicFromMoments(
      nd: DataFrame, maxRadius: Int, p: Int): DataFrame = {
    val m = 1 << p
    val twoShift = BigInt(2).pow(hllShiftBase(p))
    val alphaNum = BigInt(hllAlphaPpm(p)) * m * m * twoShift
    val lcCase = hllLcMicroTable(p).zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN ${v}L"
    }.mkString("CASE _zeros ", " ", " ELSE NULL END")
    val est = nd
      .withColumn("_zeros", lit(m.toLong) - col("_nonempty"))
      .withColumn("_raw", expr(
        s"CAST((CAST('$alphaNum' AS DECIMAL(38,0))) div " +
          s"(_d + CAST(_zeros AS DECIMAL(38,0)) * $twoShift) AS BIGINT)"))
      .withColumn("est_micro", expr(
        s"CASE WHEN _zeros > 0 AND _raw <= ${(2.5 * m * 1e6).toLong} " +
          s"THEN ($lcCase) ELSE _raw END"))
      .select(col("radius"), col("node"), col("est_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("radius"))
    est
      .withColumn("_prev", lag(col("est_micro"), 1).over(w))
      .groupBy(col("node"))
      .agg(
        max(when(col("radius") === maxRadius, col("est_micro")))
          .as("ball_micro"),
        coalesce(sum(when(col("radius") > 0, expr(
          "greatest(est_micro - _prev, 0L) div radius"))), lit(0L))
          .as("harmonic_micro"))
  }
}
