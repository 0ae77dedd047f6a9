package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {

  test("pageRank: hand-computed integer iterations, dangling leak, duplicate edges count once") {
    import spark.implicits._
    // A(1)→B(2), A→C(3), B→C; C dangles. scale 1e6, damping 85.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 2L)).toDF("src", "dst")
    // iteration 1 by hand: contributions B←1e6//2, C←1e6//2 + 1e6 →
    // A 150000, B 150000+425000, C 150000+1275000
    val r1 = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 150000L, 2L -> 575000L, 3L -> 1425000L))
    // iteration 2: B←150000//2, C←75000 + 575000 →
    // A 150000, B 150000+63750, C 150000+552500
    val r2 = Graph.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 === Map(1L -> 150000L, 2L -> 213750L, 3L -> 702500L))
    // partitioning-independent (integer lane, no float summation)
    val r2b = Graph.pageRank(edges.repartition(7), "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2b === r2)
    // the authority ORDER is what the signal is for: sink > hub > source
    assert(r2(3L) > r2(2L) && r2(2L) > r2(1L))
    // dangling leak stated honestly: total mass decreases, never grows
    assert(r2.values.sum < 3L * 1000000L)
    // null endpoints drop, never a fabricated node
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(2L), None))
      .toDF("src", "dst")
    val rn = Graph.pageRank(withNull, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rn.keySet === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(edges, "src", "dst", scale = 999L)
    }
  }

  test("pageRank: dangling redistribution conserves total mass; hand iterations; leaky default untouched") {
    import spark.implicits._
    // A(1)→B(2), A→C(3), B→C; C dangles. N=3, scale 1e6, damping 85.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    def run(it: Int, rd: Boolean) =
      Graph.pageRank(edges, "src", "dst", iterations = it,
        redistributeDangling = rd)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1 by hand: D=1e6, ds=333333; contributions B←500000, C←1500000
    // A: 150000+(333333*85)//100=433333; B: 150000+(833333*85)//100=858333;
    // C: 150000+(1833333*85)//100=1708333
    val r1 = run(1, rd = true)
    assert(r1 === Map(1L -> 433333L, 2L -> 858333L, 3L -> 1708333L))
    assert(r1.values.sum >= 3000000L - 3L, "mass conserved up to floors")
    // iter 2: D=1708333, ds=569444; B←216666, C←216666+858333=1074999
    val r2 = run(2, rd = true)
    assert(r2 === Map(1L -> 634027L, 2L -> 818193L, 3L -> 1547776L))
    assert(r2.values.sum >= 3000000L - 6L)
    // partitioning invariance (integer lane)
    val r2b = Graph.pageRank(edges.repartition(7), "src", "dst",
      iterations = 2, redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2b === r2)
    // default still LEAKS — the baseline arithmetic is bit-identical
    val leak = run(2, rd = false)
    assert(leak === Map(1L -> 150000L, 2L -> 213750L, 3L -> 702500L))
    assert(leak.values.sum < 3000000L)
  }

  test("triangleCounts: K4 hand case; star has none until a leaf edge closes one") {
    import spark.implicits._
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)).toDF("s", "d")
    val got = Graph.triangleCounts(k4, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // star: the hub's wedges are never closed — everyone counts 0 (and the
    // orientation makes the hub a wedge center for NOTHING: all its edges
    // point into it)
    val star = (2L to 8L).map(l => (1L, l)).toDF("s", "d")
    val s0 = Graph.triangleCounts(star, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s0.size === 7 + 1 && s0.values.forall(_ == 0L))
    // one leaf-leaf edge closes exactly one triangle at (hub, 2, 3)
    val closed = Graph.triangleCounts(star.unionByName(Seq((2L, 3L)).toDF("s", "d")), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(closed(1L) === 1L && closed(2L) === 1L && closed(3L) === 1L)
    assert((4L to 8L).forall(closed(_) === 0L))
  }

  test("triangleCounts: direction/duplicate/self-loop normalization and partitioning invariance") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("s", "d")
    val got = Graph.triangleCounts(tri, "s", "d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      "reversed duplicates and self-loops collapse to one undirected triangle")
    val big = (1L to 400L).map(i => (i % 37, (i * 7) % 37)).toDF("s", "d")
    val a = Graph.triangleCounts(big, "s", "d").orderBy("id").collect().toSeq
    val b = Graph.triangleCounts(big.repartition(11), "s", "d").orderBy("id").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("labelPropagation: two cliques over a bridge split into min-label communities") {
    import spark.implicits._
    // 4-clique {1,2,3,4} — bridge 4-11 — 4-clique {11,12,13,14}; messy
    // input: duplicates, reversed direction, a self-loop
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val ev = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++
      Seq((4L, 11L), (11L, 4L), (1L, 2L), (7L, 7L))).toDF("s", "d")
    val got = Graph.labelPropagation(ev, "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(11L, 12L, 13L, 14L).forall(got(_) == 11L))
    // the self-loop node is on no surviving edge: unlabeled by contract
    assert(got.size === 8)
    // partitioning invariance (the arg-max is a pure function of the edges)
    val re = Graph.labelPropagation(ev.repartition(9), "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re === got)
    // synchronous LPA 2-cycles on a bare edge — the fixed round count pins
    // the answer (rounds=4: each endpoint is back to its own label)
    val pair = Seq((1L, 2L)).toDF("s", "d")
    val p4 = Graph.labelPropagation(pair, "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p4 === Map(1L -> 1L, 2L -> 2L))
    val p3 = Graph.labelPropagation(pair, "s", "d", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p3 === Map(1L -> 2L, 2L -> 1L))
  }

  test("kCore: cascading peel reaches the unique fixed point; a single filter could not") {
    import spark.implicits._
    // K4 on {1,2,3,4} (every degree 3) + a disconnected filament 11..16
    // with (i,i+1) and (i,i+2) edges — ends at degree 2, interior at 3-4,
    // so under k=3 the filament peels from both ends over three rounds
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = (1 to 5).map(i => (i + 10L, i + 11L)) ++
      (1 to 4).map(i => (i + 10L, i + 12L))
    val edges = (k4 ++ chain).toDF("src", "dst")
    val got = Graph.kCore(edges, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the chain peels from both ends over multiple rounds (11 and 16 start
    // at degree 2; their removal drops 12 and 15, then 13 and 14) — the
    // 3-core is exactly K4, every survivor at degree 3
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // round-1-only peeling would have kept 12..15 (degrees 3,4,4,3): prove
    // the cascade by checking the single-pass answer differs
    val deg1 = edges.select($"src".as("id")).union(edges.select($"dst"))
      .groupBy("id").count().filter($"count" >= 3)
      .collect().map(_.getLong(0)).toSet
    assert(deg1.exists(id => id > 10L && !got.contains(id)),
      "fixture must cascade: some node survives one filter pass but not the peel")
    // k=1 keeps everything (simple graph, no isolated nodes in an edge list)
    assert(Graph.kCore(edges, "src", "dst", k = 1).count() === 10L)
    // empty core: k above the max degree
    assert(Graph.kCore(edges, "src", "dst", k = 10).count() === 0L)
    // duplicate/reversed/self-loop edges collapse; partitioning invariance
    val noisy = edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
      .unionByName(Seq((1L, 1L)).toDF("src", "dst")).repartition(7)
    val again = Graph.kCore(noisy, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("pageRank: empty edge list yields an empty ranking, no crash") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(none, "src", "dst").count() === 0L)
  }

  test("personalizedPageRank: hand iterations from a seeded restart; unreachable nodes emit 0; off-graph seeds ignored") {
    import spark.implicits._
    // chain 1→2→3 seeded at 1, plus an unreachable island 10→11 and a
    // seed (99) on no edge
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("id")
    def run(it: Int) =
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "id",
        iterations = it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0: 1e6 at the seed only. iter 1: 2 ← 1e6 div 1, damped 850000;
    // seed re-teleports 150000; everything else 0
    assert(run(1) === Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L,
      10L -> 0L, 11L -> 0L))
    // iter 2: 2 ← 150000·85% = 127500, 3 ← 850000·85% = 722500
    assert(run(2) === Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L,
      10L -> 0L, 11L -> 0L))
    // integer lane: partitioning-invariant
    val rep = Graph.personalizedPageRank(edges.repartition(7), "src", "dst",
      seeds, "id", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === run(2))
    // global pageRank unchanged by the shared-loop refactor: uniform
    // teleport replays the documented hand case
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(g, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr === Map(1L -> 150000L, 2L -> 575000L, 3L -> 1425000L))
  }

  private def lsRun(
      edges: org.apache.spark.sql.DataFrame,
      minCommon: Long = 1L, maxDeg: Int = 256) =
    Graph.linkScores(edges, "src", "dst", minCommon, maxDeg)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap

  test("linkScores: hand wedges; edges and closed triangles excluded; duplicate/reversed edges count once") {
    import spark.implicits._
    // path 1-2-3 (wedge at 2), square 10-11-12-13 (two diagonals), and a
    // closed triangle 20-21-22 (no candidates); edge 1-2 also reversed+dup
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val out = lsRun(edges)
    assert(out.keySet === Set((1L, 3L), (10L, 12L), (11L, 13L)))
    // path ends: cn=1, both degree 1 -> jaccard 1e6, pa 1
    assert(out((1L, 3L)) === ((1L, 1L, 1L, 1000000L, 1L)))
    // square diagonals: cn=2, both degree 2 -> union 2 -> jaccard 1e6, pa 4
    assert(out((10L, 12L)) === ((2L, 2L, 2L, 1000000L, 4L)))
    assert(out((11L, 13L)) === ((2L, 2L, 2L, 1000000L, 4L)))
    // minCommon prunes the single-wedge pair
    assert(lsRun(edges, minCommon = 2L).keySet === Set((10L, 12L), (11L, 13L)))
  }

  test("linkScores: hot-center cap drops its wedges observably; degrees stay full; brute-force complete") {
    import spark.implicits._
    // hub 100 neighbors 1..6 (degree 6 > cap 5): its wedges vanish; the
    // side wedge 1-7-2 survives and endpoint degrees still count the hub
    val hub = (1L to 6L).map(n => (100L, n))
    val side = Seq((1L, 7L), (7L, 2L))
    val obs = new org.apache.spark.sql.Observation("ls-cap")
    val out = Graph.linkScores(
      (hub ++ side).toDF("src", "dst"), "src", "dst",
      minCommon = 1L, maxDegree = 5, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 1-7-2 survives, and so does 7..100 through the NON-hub centers 1 and
    // 2 — the cap silences evidence THROUGH the hub, not evidence ABOUT it
    assert(out.keySet === Set((1L, 2L), (7L, 100L)))
    // full degrees: node 1 has hub + 7 = 2, node 2 likewise
    assert(out((1L, 2L)) === ((1L, 2L, 2L)))
    assert(out((7L, 100L)) === ((2L, 2L, 6L)))
    val m = obs.get
    assert(m("n_centers_in") == 8L && m("n_dropped_centers") == 1L)
    // brute force on a deterministic pseudo-random graph, cap not binding
    val rnd = (1 to 120).map(i => ((i * 7) % 23).toLong -> ((i * 13) % 23).toLong)
      .filter(e => e._1 != e._2)
    val got = lsRun(rnd.toDF("src", "dst"))
    val und = rnd.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nbrs = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val want = (for {
      (a, na) <- nbrs.toSeq; (b, nb) <- nbrs.toSeq
      if a < b && !und((a, b))
      cn = (na & nb).size.toLong if cn >= 1
    } yield (a, b) -> ((cn, na.size.toLong, nb.size.toLong,
      cn * 1000000L / (na.size + nb.size - cn), na.size.toLong * nb.size))).toMap
    assert(got === want)
    assert(lsRun(rnd.toDF("src", "dst").repartition(13)) === got)
  }

  test("bipartiteProject: hand co-membership weights; cap drops hot containers whole, observably; duplicate memberships collapse; minWeight filters") {
    import spark.implicits._
    val mem = Seq(
      ("L1", "a"), ("L1", "b"), ("L1", "c"),
      ("L2", "a"), ("L2", "b"), ("L2", "b"), // dup membership collapses
      ("L3", "a"), ("L3", "b")).toDF("l", "r")
    def run(df: org.apache.spark.sql.DataFrame, cap: Int, mw: Long,
        obs: Option[org.apache.spark.sql.Observation] = None) =
      Graph.bipartiteProject(df, "l", "r", cap, mw, obs).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // uncapped: (a,b) in all three, (a,c)/(b,c) only in L1
    assert(run(mem, 256, 1L) ===
      Map(("a", "b") -> 3L, ("a", "c") -> 1L, ("b", "c") -> 1L))
    // minWeight prunes the tail
    assert(run(mem, 256, 2L) === Map(("a", "b") -> 3L))
    // cap 2 drops L1 whole (its (a,b) evidence too), observably
    val o = org.apache.spark.sql.Observation()
    assert(run(mem, 2, 1L, Some(o)) === Map(("a", "b") -> 2L))
    assert(o.get("n_left_in") === 3L && o.get("n_dropped_left") === 1L)
    // matches the triangle_count co-builder shape on a pseudo-random
    // bipartite list (cap not binding) + partitioning-invariance
    val rnd = (1 to 300).map(i => ((i * 7) % 40).toLong -> ((i * 13) % 23).toLong)
    val got = Graph.bipartiteProject(
      rnd.toDF("l", "r"), "l", "r", 256, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val und = rnd.distinct.groupBy(_._1).values.flatMap { ms =>
      val rs = ms.map(_._2).distinct.sorted
      for (i <- rs.indices; j <- i + 1 until rs.size) yield (rs(i), rs(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got === und)
    assert(Graph.bipartiteProject(rnd.toDF("l", "r").repartition(13),
      "l", "r", 256, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap === got)
  }

  test("degreeAssortativity: star reads -1, path reads -1, regular graph reads NULL; dupes/self-loops/nulls drop; invariant") {
    import spark.implicits._
    def run(edges: Seq[(java.lang.Long, java.lang.Long)]) = {
      val r = Graph.degreeAssortativity(
        edges.toDF("src", "dst"), "src", "dst").collect()(0)
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }
    def L(x: Long): java.lang.Long = x
    // star 1-{2,3,4}: M=6, sx=12, sxx=30, sxy=18 -> r = -36/36 = -1 (the
    // canonical disassortative graph); mean degree 6e6/4
    assert(run(Seq(L(1) -> L(2), L(1) -> L(3), L(1) -> L(4)))
      === ((4L, 3L, 3L, 1500000L, Some(-1.0))))
    // path 1-2-3: stub degrees {1,2,2,1} vs {2,1,1,2}, perfectly
    // anticorrelated
    assert(run(Seq(L(1) -> L(2), L(2) -> L(3)))._5 === Some(-1.0))
    // 4-cycle: 2-regular, zero degree variance -> NULL r, not a number
    assert(run(Seq(L(1) -> L(2), L(2) -> L(3), L(3) -> L(4), L(4) -> L(1)))
      === ((4L, 4L, 2L, 2000000L, None)))
    // duplicates (both orders) and self-loops drop; NULL endpoints drop
    assert(run(Seq(L(1) -> L(2), L(2) -> L(1), L(1) -> L(1), L(2) -> L(3),
      null.asInstanceOf[java.lang.Long] -> L(9), L(9) -> null))
      === run(Seq(L(1) -> L(2), L(2) -> L(3))))
    // EMPTY graph still emits its one panel row with NULLs, no ANSI
    // divide-by-zero (that the graph is empty IS the finding)
    assert(run(Seq(L(5) -> L(5))) === ((0L, 0L, -1L, -1L, None)))
    // partitioning-invariant on a pseudo-random graph
    val rnd = (1 to 150).map(i =>
      L((i * 7) % 29) -> L((i * 13) % 29)).filter(e => e._1 != e._2)
    val a = Graph.degreeAssortativity(
      rnd.toDF("src", "dst"), "src", "dst").collect()(0).toSeq
    val b = Graph.degreeAssortativity(
      rnd.toDF("src", "dst").repartition(13), "src", "dst")
      .collect()(0).toSeq
    assert(a === b)
  }

  test("neighborhoodRegisters: radius-r registers == HLL of the TRUE r-ball; clique saturates; path grows by two") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // a 5-node path 1-2-3-4-5 and a disjoint triangle 10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val p = 4
    val regs = Graph.neighborhoodRegisters(edges, "src", "dst", maxRadius = 2, p = p)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // ground truth: exact BFS balls, tiny graph
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L, 4L),
      4L -> Set(3L, 5L), 5L -> Set(4L),
      10L -> Set(11L, 12L), 11L -> Set(10L, 12L), 12L -> Set(10L, 11L))
    def ball(v: Long, r: Int): Set[Long] =
      if (r == 0) Set(v) else ball(v, r - 1).flatMap(u => adj(u) + u)
    // the DEFINING property: each (radius, node)'s registers equal
    // hllRegisters built directly over the true ball membership
    val expected = (for {
      r <- 0 to 2
      v <- adj.keys
    } yield (r, v)).flatMap { case (r, v) =>
      graft.ops.Sketch.hllRegisters(
          ball(v, r).toSeq.toDF("m").select(lit(v).as("node"), col("m")),
          Seq("node"), "m", p)
        .collect().map(x => (r, x.getLong(0), x.getLong(1), x.getInt(2)))
    }.toSet
    assert(regs === expected,
      "HyperBall registers must equal HLL of the exact BFS ball at every radius")
    // clique saturation: triangle nodes' registers stop changing at r=1
    val tri = regs.filter(t => Set(10L, 11L, 12L).contains(t._2))
    assert(tri.filter(_._1 == 1).map(t => (t._2, t._3, t._4)) ===
      tri.filter(_._1 == 2).map(t => (t._2, t._3, t._4)),
      "a saturated ball is a fixed point")
    // panel: integral, radius-stacked, node counts constant
    val panel = Graph.neighborhoodFunction(edges, "src", "dst", 2, p)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(panel.map(_._4).toSet === Set(8L), "every node has a ball at every radius")
    // estimates: per-node ball estimate is monotone in radius
    val est = Graph.neighborhoodEstimates(
        Graph.neighborhoodRegisters(edges, "src", "dst", 2, p), p)
      .collect().map(r => (r.getLong(1), r.getInt(0)) -> r.getDouble(2)).toMap
    for (v <- adj.keys; r <- 1 to 2)
      assert(est((v, r)) >= est((v, r - 1)) - 1e-9,
        s"ball estimate must not shrink: node $v radius $r")
    // partitioning invariance
    val regs13 = Graph.neighborhoodRegisters(
        edges.repartition(13), "src", "dst", 2, p)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(regs13 === regs)
    // empty input: empty output, schema intact
    val empty = Graph.neighborhoodRegisters(
      edges.filter(lit(false)), "src", "dst", 2, p)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("radius", "node", "bucket", "max_rank"))
  }

  test("harmonicCentrality: equals the quantized chain recomputed from the registers; star center outranks leaves; invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // star (center 100, 8 leaves) + an isolated edge, radius 2, p = 4
    val edges = ((1L to 8L).map(l => (100L, l)) :+ (500L, 501L))
      .toDF("src", "dst")
    val p = 4
    val out = Graph.harmonicCentrality(edges, "src", "dst", maxRadius = 2, p = p)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // THE consistency check: recompute the full integral chain in Scala
    // from the exact registers — quantized raw estimator, baked
    // linear-counting table, switch rule, clamped radius deltas
    val m = 1 << p
    val alphaNum = BigInt(Graph.hllAlphaPpm(p)) * m * m * BigInt(2).pow(61)
    val lcT = Graph.hllLcMicroTable(p)
    val regs = Graph.neighborhoodRegisters(edges, "src", "dst", 2, p)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(3)))
    def est(radius: Int, node: Long): Long = {
      val ranks = regs.collect { case (r, n, mr) if r == radius && n == node => mr }
      val d = ranks.map(r => BigInt(2).pow(61 - r)).sum
      val zeros = m - ranks.length
      val raw = alphaNum / (d + BigInt(zeros) * BigInt(2).pow(61))
      if (zeros > 0 && raw <= BigInt((2.5 * m * 1e6).toLong)) lcT(zeros - 1)
      else raw.toLong
    }
    for ((node, (ball, h)) <- out) {
      assert(ball === est(2, node), s"ball_micro mismatch for $node")
      val want = (1 to 2).map(r =>
        math.max(est(r, node) - est(r - 1, node), 0L) / r).sum
      assert(h === want, s"harmonic_micro mismatch for $node")
    }
    // ranking: the star center (8 neighbors at d=1) strictly outranks
    // every leaf (1 at d=1, 7 at d=2) and the isolated pair
    for (l <- 1L to 8L)
      assert(out(100L)._2 > out(l)._2, s"center must outrank leaf $l")
    assert(out(100L)._2 > out(500L)._2)
    // partitioning invariance
    val out13 = Graph.harmonicCentrality(edges.repartition(13),
        "src", "dst", 2, p)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out13 === out)
  }

  test("iterative sweeps scale with spark.sql.shuffle.partitions — the spill lever is configuration, not luck") {
    import spark.implicits._
    // the 100x graph_neighborhood measurement showed 20 GB/sweep shuffling
    // through however many partitions the SESSION sets; this pins that the
    // sweep shuffles genuinely follow the knob (each radius snapshot is the
    // localCheckpointed output of a (node, bucket) re-aggregation, so its
    // partition count IS the sweep's shuffle partitioning). AQE coalescing
    // is disabled for the observation — on tiny test data it would
    // collapse everything to one partition and hide the contract.
    // a star forest plus one triangle, so the k=2 peel below converges to
    // a NON-empty core (an empty result collapses to a 0-partition
    // LocalTableScan and would observe nothing)
    val edges = ((1L to 40L).map(i => (i, i % 20 + 100L)) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L))).toDF("src", "dst")
    val conf = spark.conf
    val before = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"))
    try {
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      for (n <- Seq(7, 11)) {
        conf.set("spark.sql.shuffle.partitions", n.toString)
        val regs = Graph.neighborhoodRegisters(edges, "src", "dst",
          maxRadius = 2, p = 4)
        // union of 3 radius snapshots, each aggregated into n partitions
        assert(regs.rdd.getNumPartitions === 3 * n,
          s"sweep re-aggregation must shuffle into $n partitions")
        // the peel loop follows the same knob: kCore's final degree agg
        val core = Graph.kCore(edges, "src", "dst", k = 2)
        assert(core.rdd.getNumPartitions === n)
      }
    } finally {
      conf.set("spark.sql.shuffle.partitions", before._1)
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", before._2)
    }
  }

  test("neighborhoodRegisters: wide sweep lane == row-form sweep, row for row (r20)") {
    import spark.implicits._
    // path + triangle + a hub, plus a directed-only variant: enough
    // structure that merges, saturation and asymmetry all occur
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)) ++
      (20L to 26L).map(l => (19L, l))).toDF("src", "dst")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    def harmonic(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (p <- Seq(4, 6); und <- Seq(true, false)) {
      val wide = collect(Graph.neighborhoodRegisters(
        edges, "src", "dst", maxRadius = 3, p = p, undirected = und))
      val rowForm = Graph.neighborhoodRegistersRowForm(
        edges, "src", "dst", maxRadius = 3, p = p, undirected = und)
      assert(wide === collect(rowForm), s"wide lane diverged at p=$p undirected=$und")
      // harmonicCentrality's in-row wide moments == the groupBy moments
      // of the row-form registers, through the same estimator
      val viaWide = harmonic(Graph.harmonicCentrality(
        edges, "src", "dst", maxRadius = 3, p = p, undirected = und))
      val viaRows = harmonic(Graph.harmonicFromMoments(
        Graph.registerMoments(rowForm, p), maxRadius = 3, p = p))
      assert(viaWide.nonEmpty && viaWide === viaRows,
        s"harmonic moments diverged at p=$p undirected=$und")
    }
  }
}
