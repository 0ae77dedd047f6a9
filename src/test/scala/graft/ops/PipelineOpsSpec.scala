package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Specs for the round-3 pipeline operators: rolling window features,
  * attribution joins, deterministic sampling, blocklist filtering, grouped
  * quantiles, and PII redaction.
  */
class PipelineOpsSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("rollingAggregate: trailing window includes current row, expires old rows") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L),
      (1L, ts("2024-01-01 00:30:00"), 20L),
      (1L, ts("2024-01-01 02:00:00"), 40L), // first two outside a 1h window
      (2L, ts("2024-01-01 00:10:00"), 7L)
    ).toDF("user_id", "ts", "value")
    val out = Temporal.rollingAggregate(df, Seq("user_id"), "ts", "value", 3600L)
      .select("user_id", "value", "roll_count", "roll_sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(
      (1L, 10L, 1L, 10L),
      (1L, 20L, 2L, 30L), // 00:30 sees 00:00 (inclusive 1h lookback)
      (1L, 40L, 1L, 40L), // 02:00 sees neither (00:30 is 90min back)
      (2L, 7L, 1L, 7L)))
  }

  test("correlations: hand-built perfect/anti/independent pairs; zero variance yields null") {
    import spark.implicits._
    // y = 2x (corr 1), z = -x (corr -1), w constant (zero variance -> null),
    // u crafted so corr(x, u) = 0 exactly (u symmetric around its mean
    // while x is monotone: covariance terms cancel)
    val df = Seq(
      (1L, 2L, -1L, 7L, 5L),
      (2L, 4L, -2L, 7L, 9L),
      (3L, 6L, -3L, 7L, 5L)
    ).toDF("x", "y", "z", "w", "u")
    val out = Stats.correlations(df, Seq("x", "y", "z", "w", "u"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("x", "y")) === ((3L, Some(1.0))))
    assert(out(("x", "z")) === ((3L, Some(-1.0))))
    assert(out(("y", "z")) === ((3L, Some(-1.0))))
    assert(out(("x", "w")) === ((3L, None)), "zero variance -> null, not NaN")
    assert(out(("x", "u")) === ((3L, Some(0.0))))
    assert(out.size === 10, "one row per unordered pair")
    // deterministic under partitioning (decimal sums, no float accumulation)
    val again = Stats.correlations(df.repartition(4), Seq("x", "y", "z", "w", "u"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(again === out)
    intercept[IllegalArgumentException] { Stats.correlations(df, Seq("x")) }
    intercept[IllegalArgumentException] { Stats.correlations(df, Seq("x", "x")) }
  }

  test("categoricalDrift: hand-built TVD; new/vanished categories count; nulls are a category") {
    import spark.implicits._
    // base: a×3, b×1   current: a×1, c×3  → p_base = (.75, .25, 0),
    // p_cur = (.25, 0, .75) → TVD = ½(.5 + .25 + .75) = 0.75
    val base = Seq("a", "a", "a", "b").toDF("k")
    val cur = Seq("a", "c", "c", "c").toDF("k")
    val r = Stats.categoricalDrift(base, cur, Seq("k")).collect().head
    assert(r.getString(0) === "k" && r.getLong(1) === 4L && r.getLong(2) === 4L)
    assert(r.getLong(3) === 3L) // a, b, c — union of both supports
    assert(r.getDouble(4) === 0.75)
    // identical distributions → 0; disjoint supports → 1
    assert(Stats.categoricalDrift(base, base, Seq("k"))
      .collect().head.getDouble(4) === 0.0)
    assert(Stats.categoricalDrift(
      Seq("x").toDF("k"), Seq("y").toDF("k"), Seq("k"))
      .collect().head.getDouble(4) === 1.0)
    // NULL is a category, not a dropped row
    val withNull = Stats.categoricalDrift(
      Seq(Some("a"), None).toDF("k"), Seq(Some("a"), Some("a")).toDF("k"), Seq("k"))
      .collect().head
    assert(withNull.getLong(3) === 2L && withNull.getDouble(4) === 0.5)
    // empty side → NULL tvd, never a fabricated number
    val emptySide = Stats.categoricalDrift(
      base.filter(lit(false)), cur, Seq("k")).collect().head
    assert(emptySide.isNullAt(4))
    // partitioning-independent (decimal lane)
    val a = Stats.categoricalDrift(base.repartition(7), cur.repartition(5), Seq("k"))
      .collect().head.getDouble(4)
    assert(a === 0.75)
  }

  test("numericDrift: histogram binning feeds the categorical TVD chain") {
    import spark.implicits._
    // bins of width 10 over [0,40): base fills bin 0 ×3 + bin 1 ×1,
    // current bin 0 ×1 + bin 3 ×3 → same shape as the categorical hand case:
    // TVD = ½(.5 + .25 + .75) = 0.75
    val base = Seq(1.0, 2.0, 9.9, 15.0).toDF("v")
    val cur = Seq(3.0, 31.0, 35.0, 39.9).toDF("v")
    val r = Stats.numericDrift(base, cur, Seq(("v", 0.0, 40.0, 4))).collect().head
    assert(r.getString(0) === "v" && r.getLong(1) === 4L && r.getLong(2) === 4L)
    assert(r.getLong(3) === 3L) // bins 0, 1, 3 — union of both supports
    assert(r.getDouble(4) === 0.75)
    // out-of-range mass clamps into the EDGE bins and still registers:
    // base all in bin 0, current all below lo (clamped to bin 0) → identical
    val below = Stats.numericDrift(
      Seq(0.0, 5.0).toDF("v"), Seq(-100.0, -1.0).toDF("v"),
      Seq(("v", 0.0, 40.0, 4))).collect().head
    assert(below.getDouble(4) === 0.0)
    // ...but mass moving ABOVE hi lands in the top bin: disjoint → 1
    val above = Stats.numericDrift(
      Seq(0.0, 5.0).toDF("v"), Seq(100.0, 999.0).toDF("v"),
      Seq(("v", 0.0, 40.0, 4))).collect().head
    assert(above.getDouble(4) === 1.0)
    // NULL stays its own category — a null-rate shift is drift
    val withNull = Stats.numericDrift(
      Seq(Some(1.0), None).toDF("v"), Seq(Some(1.0), Some(1.0)).toDF("v"),
      Seq(("v", 0.0, 40.0, 4))).collect().head
    assert(withNull.getLong(3) === 2L && withNull.getDouble(4) === 0.5)
    // bad spec rejected loudly
    intercept[IllegalArgumentException] {
      Stats.numericDrift(base, cur, Seq(("v", 40.0, 0.0, 4)))
    }
  }

  test("equiDepthBins: SQL-standard ntile fill, deterministic tie split, nulls excluded") {
    import spark.implicits._
    // 10 rows, k=4 → bucket sizes 3,3,2,2 (remainder spreads from bucket 1)
    val df = (1 to 10).map(i => (i.toLong, "g", i.toDouble)).toDF("id", "g", "v")
    val bins = Stats.equiDepthBins(df, Seq("g"), "v", "id", 4)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(bins === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 2,
      7L -> 3, 8L -> 3, 9L -> 4, 10L -> 4))
    // equal values split across the boundary by id — a pure function of the
    // data, not of partitioning
    val ties = (1 to 8).map(i => (i.toLong, "g", 5.0)).toDF("id", "g", "v")
    val a = Stats.equiDepthBins(ties, Seq("g"), "v", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(a === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      5L -> 2, 6L -> 2, 7L -> 2, 8L -> 2))
    val b = Stats.equiDepthBins(ties.repartition(7), Seq("g"), "v", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(b === a)
    // nulls have no rank: excluded, never a fabricated boundary
    val withNull = (Seq((1L, "g", Some(1.0)), (2L, "g", None), (3L, "g", Some(3.0))))
      .toDF("id", "g", "v")
    val n = Stats.equiDepthBins(withNull, Seq("g"), "v", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(n === Map(1L -> 1, 3L -> 2))
    intercept[IllegalArgumentException] {
      Stats.equiDepthBins(df, Seq("g"), "v", "id", 0)
    }
  }

  test("correlations: wide tables plan as ONE inline projection, no per-pair unions") {
    import spark.implicits._
    // k = 30 -> C(30,2) = 435 pairs: the retired union-of-branches form grew
    // the PLAN quadratically (435 one-row projections + an eager checkpoint);
    // the inline form must stay one aggregate + one Generate
    val k = 30
    val names = (0 until k).map(i => s"c$i")
    val df = Seq(1L, 2L, 3L).toDF("v")
      .select(names.map(nm => (col("v") * (names.indexOf(nm) + 1)).as(nm)): _*)
    val out = Stats.correlations(df, names)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), "pair expansion must not plan as a union")
    assert(out.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size === 1, "one Generate node carries all pairs")
    // values still exact: every column is a multiple of v, so every pair is
    // perfectly correlated
    val rows = out.collect()
    assert(rows.length === k * (k - 1) / 2)
    assert(rows.forall(r => r.getDouble(3) === 1.0))
  }

  test("decayedSum: exact power-of-two step decay, horizon and future cutoffs") {
    import spark.implicits._
    val asOf = ts("2024-01-10 00:00:00")
    val df = Seq(
      (1L, ts("2024-01-10 00:00:00"), 1000L), // dt 0 -> k=0, weight 1
      (1L, ts("2024-01-09 00:00:00"), 1000L), // 1 day = 1 half-life -> 1/2
      (1L, ts("2024-01-07 12:00:00"), 1000L), // 2.5 days -> k=2 -> 1/4
      (1L, ts("2023-11-01 00:00:00"), 9999L), // 70 days -> beyond 40 half-lives: dropped
      (1L, ts("2024-01-11 00:00:00"), 9999L), // after asOf: dropped
      (2L, ts("2024-01-08 00:00:00"), 400L)   // k=2 -> 100
    ).toDF("user_id", "ts", "value")
    val out = Temporal.decayedSum(df, Seq("user_id"), "ts", "value",
        halfLifeSeconds = 86400L, asOf = asOf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((3L, 1000.0 + 500.0 + 250.0)))
    assert(out(2L) === ((1L, 100.0)))
    // deterministic under partitioning (integer lane — no float summation)
    val again = Temporal.decayedSum(df.repartition(5), Seq("user_id"), "ts", "value",
        halfLifeSeconds = 86400L, asOf = asOf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(again === out)
    intercept[IllegalArgumentException] {
      Temporal.decayedSum(df, Seq("user_id"), "ts", "value", 0L, asOf)
    }
    intercept[IllegalArgumentException] {
      Temporal.decayedSum(df, Seq("user_id"), "ts", "value", 86400L, asOf,
        maxHalfLives = 51)
    }
  }

  test("scd2: interval build — same-instant collapse, no-op extension, open tail") {
    import spark.implicits._
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), "A"),
      (1L, ts("2024-01-02 00:00:00"), "A"), // no-op: extends, never fragments
      (1L, ts("2024-01-03 00:00:00"), "B"),
      (1L, ts("2024-01-03 00:00:00"), "C"), // same instant: max value wins
      (1L, ts("2024-01-04 00:00:00"), "A"),
      (2L, ts("2024-01-01 12:00:00"), "X")
    ).toDF("user_id", "ts", "v")
    val out = Temporal.scd2(log, "user_id", "ts", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(out === Set(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00"))),
      (1L, "C", ts("2024-01-03 00:00:00"), Some(ts("2024-01-04 00:00:00"))),
      (1L, "A", ts("2024-01-04 00:00:00"), None),
      (2L, "X", ts("2024-01-01 12:00:00"), None)))
    // collapseNoChange = false keeps the no-op row as its own interval
    val raw = Temporal.scd2(log, "user_id", "ts", Seq("v"), collapseNoChange = false)
    assert(raw.filter($"user_id" === 1L).count() === 4)
  }

  test("scd2: intervals tile each key's timeline; as-of probes equal asofJoin on the log") {
    val ev = graft.sources.GraftSource.of(
      table = Some(s"${sf()}/events.parquet"), timestampField = Some("ts")).load(spark)
    val hist = Temporal.scd2(ev, "user_id", "ts", Seq("event_type"))
    // tiling: per key, ordered intervals chain valid_to == next valid_from,
    // exactly one open tail, and no consecutive equal values (collapse held)
    hist.collect().groupBy(_.getLong(0)).foreach { case (uid, rows) =>
      val sorted = rows.sortBy(_.getTimestamp(2).getTime)
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getTimestamp(3) === b.getTimestamp(2), s"gap/overlap for user $uid")
        assert(a.getString(1) !== b.getString(1), s"uncollapsed no-op for user $uid")
      }
      assert(sorted.init.forall(!_.isNullAt(3)) && sorted.last.isNullAt(3),
        s"exactly one open tail for user $uid")
    }
    // the PRODUCER/CONSUMER invariant: an as-of probe into the intervals
    // (valid_from <= t, latest) returns what asofJoin finds on the log
    import spark.implicits._
    val probes = ev.select(col("user_id"), col("ts")).orderBy("ts")
      .limit(50).withColumn("event_id", monotonically_increasing_id())
    val viaHist = Temporal.asofJoin(probes,
        hist.select(col("user_id"), col("valid_from").as("ts"), col("event_type")),
        Seq("user_id"), "ts", "ts",
        leftIdCols = Seq("event_id"), rightValueCols = Seq("event_type"))
      .select("event_id", "asof_event_type")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // log side must collapse same-instant duplicates by the SAME max rule
    val dedupLog = ev.groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_type")).as("event_type"))
    val viaLog = Temporal.asofJoin(probes, dedupLog,
        Seq("user_id"), "ts", "ts",
        leftIdCols = Seq("event_id"), rightValueCols = Seq("event_type"))
      .select("event_id", "asof_event_type")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(viaHist === viaLog)
  }

  test("asofJoin: backward nearest-at-or-before, tolerance, ties to greatest tieBreak, no-match nulls") {
    import spark.implicits._
    val left = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),
      (101L, 1L, ts("2024-01-01 00:05:00")), // only far history -> out of tolerance
      (102L, 2L, ts("2024-01-01 10:00:00")) // no right rows for user 2
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 09:00:00"), 5.0),
      (2L, 1L, ts("2024-01-01 09:30:00"), 7.0), // nearest for 100
      (3L, 1L, ts("2024-01-01 09:30:00"), 8.0), // same ts: greater id wins
      (4L, 1L, ts("2024-01-01 11:00:00"), 9.0), // after probe -> ignored (backward)
      (5L, 1L, ts("2023-12-25 00:00:00"), 1.0) // 7d back -> outside 1h tolerance for 101
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      toleranceSeconds = Some(3600L), tieBreak = Some("event_id"))
    assert(out.columns.toSeq === Seq("event_id", "user_id", "ts",
      "asof_ts", "asof_event_id", "asof_value"))
    val rows = out.select("event_id", "asof_event_id", "asof_value")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(rows === Set(
      (100L, Some(3L), Some(8.0)), // tie at 09:30 broke to event_id 3
      (101L, None, None), // nearest exists but outside tolerance
      (102L, None, None))) // nothing to match
  }

  test("asofJoin: forward picks nearest at-or-after; no tolerance means unbounded") {
    import spark.implicits._
    val left = Seq((100L, 1L, ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 09:59:00"), 1.0), // before -> ignored (forward)
      (2L, 1L, ts("2024-01-05 00:00:00"), 2.0), // nearest after (4 days out, no tolerance)
      (3L, 1L, ts("2024-01-06 00:00:00"), 3.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("value"),
      direction = "forward")
      .select("event_id", "asof_value").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((100L, 2.0)))
  }

  test("asofJoin: nearest picks min |Δt| either side; ties to the earlier right, then greatest tieBreak; tolerance binds both sides") {
    import spark.implicits._
    val left = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")), // 09:20 (40m back) vs 10:30 (30m fwd)
      (101L, 1L, ts("2024-01-01 12:00:00")), // equidistant 11:30/12:30 -> earlier
      (102L, 1L, ts("2024-01-05 10:00:00")), // nothing within tolerance
      (103L, 2L, ts("2024-01-01 10:00:00")) // no right rows for user 2
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 09:20:00"), 1.0),
      (2L, 1L, ts("2024-01-01 10:30:00"), 2.0), // nearest for 100
      (3L, 1L, ts("2024-01-01 11:30:00"), 3.0), // equidistant EARLIER: wins 101
      (4L, 1L, ts("2024-01-01 12:30:00"), 4.0),
      (5L, 1L, ts("2024-01-01 11:30:00"), 5.0) // same ts as 3: greater id wins
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Temporal.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      direction = "nearest", toleranceSeconds = Some(3600L),
      tieBreak = Some("event_id"))
      .select("event_id", "asof_event_id", "asof_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(out === Set(
      (100L, Some(2L), Some(2.0)), // 30m forward beats 40m back
      (101L, Some(5L), Some(5.0)), // earlier side wins the tie, id 5 > 3
      (102L, None, None),
      (103L, None, None)))
    // without tolerance, nearest is unbounded: 102 now finds the 12:30 row
    val unb = Temporal.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id"),
      direction = "nearest", tieBreak = Some("event_id"))
      .select("event_id", "asof_event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(unb(102L) === Some(4L))
  }

  test("rankAuc: perfect/anti/random separation, tie averaging, one-class NULL") {
    import spark.implicits._
    def auc(rows: Seq[(Long, Boolean)]): Option[Long] = {
      val r = Stats.rankAuc(rows.toDF("score", "label"), "score", "label").collect().head
      if (r.isNullAt(2)) None else Some(r.getLong(2))
    }
    // perfect separation: every positive outranks every negative -> 1.0
    assert(auc(Seq((1L, false), (2L, false), (10L, true), (20L, true))) === Some(1048576L))
    // perfectly wrong -> 0.0
    assert(auc(Seq((10L, false), (20L, false), (1L, true), (2L, true))) === Some(0L))
    // all scores tied: average ranks make AUC exactly 0.5
    assert(auc(Seq((5L, true), (5L, false), (5L, true), (5L, false))) === Some(524288L))
    // hand case with a tie straddling the classes: scores pos={2,3}, neg={1,3}
    // ranks: 1->1, 2->2, 3->avg(3,4)=3.5; U = (2 + 3.5) - 2*3/2 = 2.5;
    // AUC = 2.5/4 = 0.625 -> 0.625 * 2^20 = 655360
    assert(auc(Seq((1L, false), (2L, true), (3L, true), (3L, false))) === Some(655360L))
    // one-class samples are undefined, not 0.5
    assert(auc(Seq((1L, true), (2L, true))) === None)
    assert(auc(Seq((1L, false))) === None)
    // partitioning-invariant on a larger mix
    val big = (1L to 2000L).map(i => (i * 37 % 501, i % 3 == 0))
    val a = Stats.rankAuc(big.toDF("score", "label"), "score", "label").collect().head
    val b = Stats.rankAuc(big.toDF("score", "label").repartition(13), "score", "label")
      .collect().head
    assert(a.getLong(2) === b.getLong(2) && a.getLong(0) === 666L)
  }

  test("rankAuc: continuous scores pay no global score-table sort; values match brute-force pairs") {
    import spark.implicits._
    // corpus-cardinality distinct doubles — the 100×-scale shape the bucketed
    // cumulative exists for (a raw-score window would single-task); past
    // 2¹⁴ distinct scores, so the bucket rule picks more than one bucket
    val rows = (1 to 20000).map(i =>
      (math.sin(i.toDouble) * 1000.0 + i * 1e-7, i % 7 == 0))
    val out = Stats.rankAuc(rows.toDF("score", "label"), "score", "label")
    val got = out.collect().head
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    // brute-force Mann–Whitney pair count in half-win units
    val wins = (for { p <- pos.iterator; n <- neg.iterator }
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    val expected = wins * (1L << 20) / (2L * pos.size * neg.size)
    assert(got.getLong(0) === pos.size.toLong)
    assert(got.getLong(1) === neg.size.toLong)
    assert(got.getLong(2) === expected)
    // plan gate: every Window node in the per-score lane is PARTITIONED (by
    // range bucket); the only unpartitioned window runs over the ≤256-row
    // bucket offsets table, whose child is the per-bucket AGGREGATE — never
    // the distinct-score table itself
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      (p match { case w: WindowExec => Seq(w); case _ => Seq.empty }) ++
        kids.flatMap(windows)
    }
    val ws = windows(out.queryExecution.executedPlan)
    assert(ws.nonEmpty)
    val (bounded, perScore) = ws.partition(_.partitionSpec.isEmpty)
    assert(perScore.nonEmpty, "the per-score cumulative window must exist")
    assert(perScore.forall(_.partitionSpec.nonEmpty))
    // the unpartitioned one(s) must sit over an aggregate (the band table),
    // not over the score table
    def hasAgg(p: SparkPlan): Boolean = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
        kids.exists(hasAgg)
    }
    assert(bounded.forall(hasAgg))
  }

  test("ksTest: hand-computed D, ppm, and smallest attaining value") {
    import spark.implicits._
    // a = {1,2,3}, b = {2,3,4}: cross-scaled D = 3 at every v in {1,2,3};
    // d_at is the SMALLEST attaining value
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 3.0), ("b", 4.0)).toDF("g", "v")
    val r = Stats.ksTest(df, "g", "v").collect().head
    assert((r.getString(0), r.getString(1)) === (("a", "b")))
    assert(r.getAs[Long]("n_a") === 3L && r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Long]("d_num") === 3L)
    assert(r.getAs[Long]("ks_ppm") === 333333L)
    assert(r.getAs[Double]("d_at") === 1.0)
  }

  test("ksTest: identical distributions read 0; disjoint supports read 1e6") {
    import spark.implicits._
    val same = Seq(("a", 1.0), ("a", 5.0), ("b", 1.0), ("b", 5.0)).toDF("g", "v")
    val rs = Stats.ksTest(same, "g", "v").collect().head
    assert(rs.getAs[Long]("d_num") === 0L && rs.getAs[Long]("ks_ppm") === 0L)
    assert(rs.getAs[Double]("d_at") === 1.0) // every value attains a zero max
    // disjoint: a = {1,2}, b = {10,11}; the max 4 = n_a·n_b first holds at v=2
    val dj = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0)).toDF("g", "v")
    val rd = Stats.ksTest(dj, "g", "v").collect().head
    assert(rd.getAs[Long]("ks_ppm") === 1000000L)
    assert(rd.getAs[Double]("d_at") === 2.0)
  }

  test("ksTest: all pairs emitted; duplicates weight the CDF; NULLs drop") {
    import spark.implicits._
    val df = Seq(
      ("a", Option(1.0)), ("a", Option(1.0)), ("a", Option(4.0)), // mass 2/3 at 1
      ("b", Option(1.0)), ("b", Option(4.0)), ("b", Option(4.0)), // mass 1/3 at 1
      ("c", Option(9.0)), (null: String, Option(1.0)), ("c", None: Option[Double])
    ).toDF("g", "v")
    val out = Stats.ksTest(df, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = out(("a", "b"))
    // F_a(1) = 2/3 vs F_b(1) = 1/3 -> d_num = |2·3 − 1·3| = 3 of 9
    assert(ab.getAs[Long]("d_num") === 3L && ab.getAs[Double]("d_at") === 1.0)
    assert(out(("a", "c")).getAs[Long]("ks_ppm") === 1000000L)
    assert(out(("a", "c")).getAs[Long]("n_b") === 1L) // c's NULL row dropped
  }

  test("ksTest: matches brute force on a continuous mix and is partitioning-invariant") {
    import spark.implicits._
    // corpus-cardinality distinct doubles — the shape the banded two-phase
    // cumulative exists for (a raw-value window would single-task per group)
    val rows = (1 to 4000).map { i =>
      val g = s"g${i % 3}"
      (g, math.sin(i.toDouble) * (1.0 + (i % 3) * 0.2) + (i % 3) * 0.1)
    }
    def brute(ga: String, gb: String): (Long, Long, Double) = {
      val a = rows.filter(_._1 == ga).map(_._2)
      val b = rows.filter(_._1 == gb).map(_._2)
      val pooled = (a ++ b).distinct.sorted
      val na = a.size.toLong; val nb = b.size.toLong
      val ds = pooled.map { v =>
        val fa = a.count(_ <= v).toLong; val fb = b.count(_ <= v).toLong
        (math.abs(fa * nb - fb * na), v)
      }
      val dmax = ds.map(_._1).max
      (dmax, dmax * 1000000L / (na * nb), ds.filter(_._1 == dmax).map(_._2).min)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.ksTest(df, "g", "v").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getAs[Long]("d_num"), r.getAs[Long]("ks_ppm"),
            r.getAs[Double]("d_at")))).toMap
    val out = run(rows.toDF("g", "v"))
    assert(out.size === 3)
    for (((ga, gb), got) <- out) assert(got === brute(ga, gb), s"$ga/$gb")
    assert(run(rows.toDF("g", "v").repartition(13)) === out)
  }

  test("prCurve: hand-computed confusion rows at every distinct threshold") {
    import spark.implicits._
    val df = Seq((1.0, false), (2.0, true), (3.0, false), (4.0, true))
      .toDF("score", "label")
    val out = Stats.prCurve(df, "score", "label").collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet === Set(1.0, 2.0, 3.0, 4.0))
    //                 tp  fp  fn  precision recall   f1
    assert(out(1.0) === ((2L, 2L, 0L, 500000L, 1000000L, 666666L)))
    assert(out(2.0) === ((2L, 1L, 0L, 666666L, 1000000L, 800000L)))
    assert(out(3.0) === ((1L, 1L, 1L, 500000L, 500000L, 500000L)))
    assert(out(4.0) === ((1L, 0L, 1L, 1000000L, 500000L, 666666L)))
  }

  test("prCurve: no positives leaves recall/F1 NULL; duplicates collapse per threshold") {
    import spark.implicits._
    val noPos = Seq((1.0, false), (2.0, false)).toDF("score", "label")
    val r = Stats.prCurve(noPos, "score", "label")
      .orderBy("threshold").collect()
    assert(r.length === 2)
    assert(r.forall(x => x.getLong(1) === 0L && x.isNullAt(5) && x.isNullAt(6)))
    assert(r.map(_.getLong(4)).toSeq === Seq(0L, 0L)) // precision still emitted
    // duplicate scores: one row per distinct threshold, counts weighted
    val dup = Seq((5.0, true), (5.0, true), (5.0, false), (7.0, false))
      .toDF("score", "label")
    val d = Stats.prCurve(dup, "score", "label").collect()
      .map(x => x.getDouble(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(d === Map(5.0 -> ((2L, 2L)), 7.0 -> ((0L, 1L))))
  }

  test("prCurve: matches a brute-force confusion matrix on a continuous mix; partitioning-invariant") {
    import spark.implicits._
    val rows = (1 to 3000).map(i =>
      (math.sin(i.toDouble) * 100.0 + i * 1e-6, i % 5 == 0))
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.prCurve(df, "score", "label").collect()
        .map(r => r.getDouble(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            Option(r.get(5)), Option(r.get(6))))).toMap
    val out = run(rows.toDF("score", "label"))
    assert(out.size === rows.map(_._1).distinct.size)
    val p = rows.count(_._2).toLong
    for (t <- Seq(rows.map(_._1).min, rows.map(_._1).max,
        rows(17)._1, rows(1234)._1)) {
      val tp = rows.count(x => x._1 >= t && x._2).toLong
      val pred = rows.count(_._1 >= t).toLong
      assert(out(t) === ((tp, pred - tp, p - tp,
        tp * 1000000L / pred, Some(tp * 1000000L / p),
        Some(2L * tp * 1000000L / (pred + p)))), s"threshold $t")
    }
    assert(run(rows.toDF("score", "label").repartition(13)) === out)
  }

  test("cusumChangepoint: a level shift lands the changepoint at the last pre-change bucket") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    // 1.0/day for days 0-4, then 2.0/day for days 5-9: D_i = 5e6·i peaks
    // at i=5 (epoch day 4 — the last uniform bucket); S_n = 15e6, n = 10
    val df = (0 until 10).map(d =>
      ("g", dayTs(d), if (d < 5) 1.0 else 2.0)).toDF("g", "ts", "v")
    val r = Stats.cusumChangepoint(df, "g", "ts", "v", 86400L).collect().head
    assert(r.getAs[Long]("n_buckets") === 10L)
    assert(r.getAs[Long]("s_total") === 15000000L)
    assert(r.getAs[Long]("d_num") === 25000000L)
    assert(r.getAs[Long]("cusum_ppm") === 166666L)
    assert(r.getAs[java.sql.Timestamp]("change_at") === dayTs(4))
  }

  test("cusumChangepoint: uniform series reads 0 at the first bucket; zero-total NULLs ppm") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val flat = (0 until 6).map(d => ("g", dayTs(d), 3.5)).toDF("g", "ts", "v")
    val rf = Stats.cusumChangepoint(flat, "g", "ts", "v", 86400L).collect().head
    assert(rf.getAs[Long]("d_num") === 0L && rf.getAs[Long]("cusum_ppm") === 0L)
    assert(rf.getAs[java.sql.Timestamp]("change_at") === dayTs(0))
    // single bucket: D_1 = |1·S − 1·S| = 0
    val one = Seq(("g", dayTs(3), 9.0)).toDF("g", "ts", "v")
    val ro = Stats.cusumChangepoint(one, "g", "ts", "v", 86400L).collect().head
    assert(ro.getAs[Long]("n_buckets") === 1L && ro.getAs[Long]("d_num") === 0L)
    // +1 then −1: s_total = 0 -> ppm NULL, deviation still real
    val mix = Seq(("g", dayTs(0), 1.0), ("g", dayTs(1), -1.0)).toDF("g", "ts", "v")
    val rm = Stats.cusumChangepoint(mix, "g", "ts", "v", 86400L).collect().head
    assert(rm.getAs[Long]("s_total") === 0L)
    assert(rm.getAs[Long]("d_num") === 2000000L)
    assert(rm.isNullAt(rm.fieldIndex("cusum_ppm")))
  }

  test("cusumChangepoint: NULLs drop; per-group independence; partitioning-invariant") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val rows = (0 until 200).map { i =>
      val g = s"g${i % 2}"
      val d = i / 2
      (g, dayTs(d), if (g == "g1" && d >= 60) 5.0 else 1.0 + (d % 3) * 0.25)
    } ++ Seq((null: String, dayTs(0), 9.0), ("g0", null: java.sql.Timestamp, 9.0))
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.cusumChangepoint(df, "g", "ts", "v", 86400L).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val out = run(rows.toDF("g", "ts", "v"))
    assert(out.keySet === Set("g0", "g1"))
    assert(out("g0").head === 100L) // NULL rows dropped, 100 buckets each
    // the shifted group's alarm statistic dwarfs the flat group's
    val ppm = (g: String) => out(g)(3).asInstanceOf[Long]
    assert(ppm("g1") > 10L * ppm("g0"))
    assert(run(rows.toDF("g", "ts", "v").repartition(13)) === out)
  }

  test("activeUsers: hand timeline with window entry/exit and truncation") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    // A active days 0 and 2 (twice on day 0 — dedups), B day 0, C day 35
    val df = Seq(("A", 0), ("A", 0), ("A", 2), ("B", 0), ("C", 35))
      .map { case (u, d) => (u, dayTs(d)) }.toDF("u", "ts")
    val out = Temporal.activeUsers(df, "u", "ts").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("day").getTime / 86400000L).toInt ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau"),
          r.getAs[Long]("stickiness_ppm")))).toMap
    assert(out(0) === ((2L, 2L, 2L, 1000000L)))
    assert(out(1) === ((0L, 2L, 2L, 0L)))
    assert(out(2) === ((1L, 2L, 2L, 500000L)))
    assert(out(6) === ((0L, 2L, 2L, 0L)))  // B's day-0 still in: offset 6 < 7
    assert(out(7) === ((0L, 1L, 2L, 0L)))  // B exits WAU at offset 7
    assert(out(8) === ((0L, 1L, 2L, 0L)))  // A's day-2 last WAU day
    assert(out(9) === ((0L, 0L, 2L, 0L)))  // A exits WAU too
    assert(out(29) === ((0L, 0L, 2L, 0L))) // B's last MAU day (offset 29)
    assert(out(30) === ((0L, 0L, 1L, 0L))) // only A (via day 2, offset 28)
    assert(out(31) === ((0L, 0L, 1L, 0L))) // A's last MAU day
    assert(!out.contains(32) && !out.contains(34)) // dead gap: absent, not 0
    assert(out(35) === ((1L, 1L, 1L, 1000000L)))
    assert(out.keySet.max === 35) // truncation: nothing past last activity
  }

  test("activeUsers: NULLs drop; matches brute force; partitioning-invariant") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val active = (1 to 800).map(i => (s"u${i % 37}", (i * 13) % 60))
    val rows = active.map { case (u, d) => (u, dayTs(d)) } ++
      Seq((null: String, dayTs(1)), ("uX", null: java.sql.Timestamp))
    def run(df: org.apache.spark.sql.DataFrame) =
      Temporal.activeUsers(df, "u", "ts").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("day").getTime / 86400000L) ->
          ((r.getAs[Long]("dau"), r.getAs[Long]("wau"),
            r.getAs[Long]("mau")))).toMap
    val out = run(rows.toDF("u", "ts"))
    val pairs = active.distinct
    val maxD = pairs.map(_._2).max
    for (day <- 0 to maxD) {
      val dau = pairs.filter(_._2 == day).map(_._1).distinct.size.toLong
      val wau = pairs.filter(p => p._2 <= day && p._2 > day - 7)
        .map(_._1).distinct.size.toLong
      val mau = pairs.filter(p => p._2 <= day && p._2 > day - 30)
        .map(_._1).distinct.size.toLong
      if (mau == 0) assert(!out.contains(day.toLong), s"day $day")
      else assert(out(day.toLong) === ((dau, wau, mau)), s"day $day")
    }
    assert(run(rows.toDF("u", "ts").repartition(13)) === out)
  }

  test("funnelStats: hand counts and exact lower medians; stalled steps yield NULL medians") {
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // u1: signup@0 -> click@10 -> purchase@40 (gaps 10m, 30m)
    // u2: signup@0 -> click@30            (gap 30m, stalls)
    // u3: signup@0 -> click@50 -> purchase@60 (gaps 50m, 10m)
    // u4: signup@0 only
    val ev = Seq(
      (1L, t(0), "signup"), (1L, t(10), "click"), (1L, t(40), "purchase"),
      (2L, t(0), "signup"), (2L, t(30), "click"),
      (3L, t(0), "signup"), (3L, t(50), "click"), (3L, t(60), "purchase"),
      (4L, t(0), "signup"),
      (5L, t(5), "click")) // no signup: not in the funnel population
      .toDF("user_id", "ts", "event_type")
    val r = Temporal.funnelStats(ev, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 3L, 2L)))
    // gaps12 sorted: 10, 30, 50 -> rank (3-1)//2+1 = 2 -> 30 minutes
    assert(r.getLong(3) === 30L * 60000000L)
    // gaps23 sorted: 10, 30 -> rank (2-1)//2+1 = 1 -> LOWER median 10
    assert(r.getLong(4) === 10L * 60000000L)
    // a funnel where nobody reaches step 2: counts still real, medians NULL
    val stalled = Temporal.funnelStats(
      Seq((1L, t(0), "signup")).toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))
      .collect().head
    assert(stalled.getLong(0) === 1L && stalled.getLong(1) === 0L)
    assert(stalled.isNullAt(3) && stalled.isNullAt(4))
  }

  test("intervalOverlapJoin: parity with the naive overlap join; one emit per pair; no BNLJ") {
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // mixed lengths: a 9-hour interval spans MANY 1-hour cells against a
    // 7-hour one — shared cells galore, must still emit once
    val l = Seq(
      (1L, "u", t(0), t(540)), (2L, "u", t(600), t(660)),
      (3L, "v", t(0), t(60)), (4L, "u", t(100), t(100))) // empty drops
      .toDF("lid", "k", "ls", "le")
    val r = Seq(
      (10L, "u", t(120), t(540)), // overlaps 1 across many cells
      (11L, "u", t(540), t(700)), // touches 1 at its end: half-open, NO match; overlaps 2
      (12L, "v", t(30), t(90)), // overlaps 3
      (13L, "w", t(0), t(600))) // key isolation: matches nothing
      .toDF("rid", "k", "rs", "re")
    val got = Temporal.intervalOverlapJoin(l, r, "ls", "le", "rs", "re",
      bucketSeconds = 3600L, keys = Seq("k")).select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(got.length === got.toSet.size, "each overlapping pair exactly once")
    assert(got.toSet === Set((1L, 10L), (2L, 11L), (3L, 12L)))
    // naive parity on random data
    val rng = new scala.util.Random(7)
    val la = (1L to 150L).map(i => (i, s"k${i % 3}", t(rng.nextInt(500)), rng.nextInt(300)))
      .map { case (i, k, s, d) => (i, k, s, new java.sql.Timestamp(s.getTime + d * 60000L)) }
      .toDF("lid", "k", "ls", "le")
    val ra = (1L to 150L).map(i => (i, s"k${i % 3}", t(rng.nextInt(500)), 1 + rng.nextInt(300)))
      .map { case (i, k, s, d) => (i, k, s, new java.sql.Timestamp(s.getTime + d * 60000L)) }
      .toDF("rid", "k", "rs", "re")
    val fast = Temporal.intervalOverlapJoin(la, ra, "ls", "le", "rs", "re", 7200L, Seq("k"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val naive = la.join(ra, Seq("k"))
      .filter(col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(fast === naive && naive.nonEmpty)
    // the plan is an equality join on (_cell, keys) — never a nested loop
    val plan = Temporal.intervalOverlapJoin(la, ra, "ls", "le", "rs", "re", 7200L, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("flattenIntervals: touching/nested/duplicate intervals fold per key; nulls and empties drop") {
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val iv = Seq(
      (Option("u"), Option(t(0)), Option(t(60))), // island 1 opens
      (Option("u"), Option(t(30)), Option(t(50))), // nested: folds in
      (Option("u"), Option(t(60)), Option(t(90))), // touches at 60: half-open MERGE
      (Option("u"), Option(t(30)), Option(t(50))), // exact duplicate: folds in
      (Option("u"), Option(t(120)), Option(t(130))), // gap [90,120): island 2
      (Option("v"), Option(t(0)), Option(t(10))), // key isolation
      (Option("u"), Option(t(200)), Option(t(200))), // empty interval: drops
      (Option("u"), Option(t(300)), Option.empty[java.sql.Timestamp]), // NULL bound: drops
      (Option.empty[String], Option(t(0)), Option(t(500)))) // NULL key: drops
      .toDF("k", "s", "e")
    def run(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
      Temporal.flattenIntervals(df, "s", "e", keys).collect()
        .map(r => (if (keys.isEmpty) "*" else r.getString(0),
          r.getTimestamp(if (keys.isEmpty) 0 else 1),
          r.getTimestamp(if (keys.isEmpty) 1 else 2),
          r.getLong(if (keys.isEmpty) 2 else 3))).toSet
    val got = run(iv, Seq("k"))
    assert(got === Set(
      ("u", t(0), t(90), 4L), ("u", t(120), t(130), 1L), ("v", t(0), t(10), 1L)))
    // partitioning invariance: the island rule is a pure function of the rows
    assert(run(iv.repartition(13), Seq("k")) === got)
    // ungrouped = one global timeline (v's [0,10) folds into u's first
    // island; NULL keys only drop when keys are in play, so drop that row)
    assert(run(iv.filter(col("k").isNotNull), Nil) ===
      Set(("*", t(0), t(90), 5L), ("*", t(120), t(130), 1L)))
    // the island aggregation reuses the window's key partitioning: the whole
    // flatten is ONE shuffle, and never a nested loop
    val plan = Temporal.flattenIntervals(iv, "s", "e", Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1)
  }

  test("resampleForwardFill: per-bucket arg-max, capped fill span, holes past the TTL") {
    import spark.implicits._
    // base aligned to the 60s grid so bucket starts are round offsets
    def t(s: Int) = new java.sql.Timestamp(1700000040000L + s * 1000L)
    def us(s: Int) = 1700000040000000L + s * 1000000L
    val ev = Seq(
      (Option("u"), Option(t(0)), 1L, 10L), // b0: earlier obs, loses to s=30
      (Option("u"), Option(t(30)), 2L, 20L), // b0 survivor (later ts)
      (Option("u"), Option(t(90)), 5L, 30L), // b1: same-instant pair —
      (Option("u"), Option(t(90)), 6L, 40L), //   eid tie-break picks 6
      (Option("u"), Option(t(330)), 7L, 50L), // b5: gap of 3 empty buckets
      (Option("w"), Option(t(10)), 8L, 60L), // key isolation
      (Option.empty[String], Option(t(0)), 9L, 70L), // NULL key drops
      (Option("u"), Option.empty[java.sql.Timestamp], 10L, 80L)) // NULL ts drops
      .toDF("k", "ts", "eid", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Temporal.resampleForwardFill(df, "ts", Seq("v"), bucketSeconds = 60L,
        maxFillBuckets = 2L, keys = Seq("k"), tieBreak = Some("eid"))
        .select(col("k"), unix_micros(col("bucket_start")).as("b"),
          col("v"), col("n_obs"), col("is_observed"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val got = run(ev)
    assert(got === Set(
      ("u", us(0), 20L, 2L, 1L), // arg-max by ts within the bucket
      ("u", us(60), 40L, 2L, 1L), // same-instant: eid tie-break
      ("u", us(120), 40L, 0L, 0L), // fill 1 of 2
      ("u", us(180), 40L, 0L, 0L), // fill 2 of 2
      // us(240) is a HOLE: the 3-bucket gap exceeds maxFillBuckets = 2
      ("u", us(300), 50L, 1L, 1L), // last obs: no fill past it
      ("w", us(0), 60L, 1L, 1L)))
    // the fill is a pure function of the rows — partitioning-invariant
    assert(run(ev.repartition(11)) === got)
    // two shuffles: the (key, bucket) arg-max agg + the per-key lead window
    val plan = Temporal.resampleForwardFill(ev, "ts", Seq("v"), 60L, 2L,
      Seq("k"), Some("eid")).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2)
  }

  test("timeWeightedAverage: holding-time weights, window clips, open tails, zero coverage") {
    import spark.implicits._
    // window [100s, 200s) in µs; values are integer "cents"
    val (ws, we) = (100000000L, 200000000L)
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L) // epoch sec -> ts
    val iv = Seq(
      // u: 10 cents held [50,130), 40 cents [130,170), 10 cents [170, open)
      (Option("u"), 10L, Option(t(50)), Option(t(130))),
      (Option("u"), 40L, Option(t(130)), Option(t(170))),
      (Option("u"), 10L, Option(t(170)), Option.empty[java.sql.Timestamp]),
      // w: entirely before the window -> zero coverage, NULL twa
      (Option("w"), 99L, Option(t(10)), Option(t(20))),
      // NULL key drops
      (Option.empty[String], 5L, Option(t(100)), Option(t(200))))
      .toDF("k", "v", "f", "to")
    val got = ops2map(Temporal.timeWeightedAverage(
      iv, "k", "v", "f", "to", ws, we))
    // u: 10·30 + 40·40 + 10·30 = 2200 over 100s -> twa 22
    assert(got("u") === ((100L, 2200L, Option(22L))))
    assert(got("w") === ((0L, 0L, Option.empty[Long])))
    assert(got.size === 2)
    // an events-count average would say (10+40+10)/3 = 20 — the point
    // partitioning invariance
    assert(ops2map(Temporal.timeWeightedAverage(
      iv.repartition(7), "k", "v", "f", "to", ws, we)) === got)
  }

  private def ops2map(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Option.empty[Long] else Option(r.getLong(3))))).toMap

  test("intervalJoin: parity with a naive range join; equality-key plan, no BNLJ") {
    import spark.implicits._
    val points = (0 until 200).map(i => (i.toLong, ts(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00")))
      .toDF("point_id", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 02:00:00"), ts("2024-01-01 05:30:00")),
      (11L, ts("2024-01-01 05:00:00"), ts("2024-01-01 09:00:00")), // overlaps 10
      (12L, ts("2024-01-01 22:00:00"), ts("2024-01-01 22:00:00")), // empty -> dropped
      (13L, ts("2024-01-01 23:59:00"), ts("2024-01-02 01:00:00"))
    ).toDF("window_id", "w_start", "w_end")
    val out = Temporal.intervalJoin(points, intervals, "ts", "w_start", "w_end",
      bucketSeconds = 3600L)
    val naive = points.join(intervals,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("point_id", "window_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(out) === key(naive))
    assert(key(out).nonEmpty)
    // the whole point: a hash join on the grid cell, not a nested-loop scan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("precedingJoinAgg: half-open window, self excluded, zero-match rows kept") {
    import spark.implicits._
    val probes = Seq(
      (100L, 1L, ts("2024-01-01 01:00:00")),
      (101L, 1L, ts("2024-01-01 03:00:00")),
      (102L, 2L, ts("2024-01-01 01:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val src = Seq(
      (1L, ts("2024-01-01 00:10:00"), 5L), // within 1h of probe 100
      (1L, ts("2024-01-01 01:00:00"), 9L), // == probe ts -> excluded (half-open)
      (1L, ts("2024-01-01 02:30:00"), 3L) // within 1h of probe 101
    ).toDF("user_id", "click_ts", "value")
    val out = Temporal.precedingJoinAgg(probes, src, Seq("user_id"),
      "ts", "click_ts", 3600L, "value")
      .select("event_id", "preceding_count", "preceding_sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((100L, 1L, 5L), (101L, 1L, 3L), (102L, 0L, 0L)))
    // with leftIdCols the narrow grouping key gives the identical result...
    val outById = Temporal.precedingJoinAgg(probes, src, Seq("user_id"),
      "ts", "click_ts", 3600L, "value", leftIdCols = Seq("event_id"))
    assert(outById.columns.toSeq ===
      Seq("event_id", "user_id", "ts", "preceding_count", "preceding_sum"))
    assert(outById.select("event_id", "preceding_count", "preceding_sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === out)
    // ...and distinct ids with identical payloads do NOT collapse (they would
    // under the group-by-all-columns fallback)
    val dupPayload = Seq(
      (200L, 1L, ts("2024-01-01 01:00:00")),
      (201L, 1L, ts("2024-01-01 01:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val kept = Temporal.precedingJoinAgg(dupPayload, src, Seq("user_id"),
      "ts", "click_ts", 3600L, "value", leftIdCols = Seq("event_id"))
    assert(kept.count() === 2L)
    assert(kept.select("preceding_count").collect().map(_.getLong(0)).toSeq === Seq(1L, 1L))
  }

  test("splitBuckets: labeled partition of the corpus, consistent with hashSample's rule") {
    import spark.implicits._
    val df = spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id")
    val out = Sampling.splitBuckets(df, "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val byLabel = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a split PARTITIONS the corpus: every non-null-key row labeled
    assert(byLabel.values.sum === df.count())
    assert(byLabel.keySet === Set("train", "val", "test"))
    // consistency: train+val = exactly hashSample at 90 (same bucket rule)
    val trainVal = out.filter(col("split") =!= "test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = Sampling.hashSample(df, "doc_id", 90)
      .collect().map(_.getLong(0)).toSet
    assert(trainVal === sampled)
    intercept[IllegalArgumentException] {
      Sampling.splitBuckets(df, "doc_id", Seq("a" -> 50, "b" -> 40)) // != 100
    }
    intercept[IllegalArgumentException] {
      Sampling.splitBuckets(df, "doc_id", Seq("a" -> 50, "a" -> 50)) // dup label
    }
  }

  test("hashSample: deterministic across runs, rate near target, subset property") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val s10a = Sampling.hashSample(docs, "doc_id", 10).select("doc_id").collect().map(_.getLong(0)).toSet
    val s10b = Sampling.hashSample(docs, "doc_id", 10).select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = Sampling.hashSample(docs, "doc_id", 30).select("doc_id").collect().map(_.getLong(0)).toSet
    val n = docs.count()
    assert(s10a === s10b, "same keys must sample identically")
    assert(s10a.subsetOf(s30), "a 10% sample is contained in the 30% sample")
    assert(math.abs(s10a.size.toDouble / n - 0.10) < 0.06)
    assert(Sampling.hashSample(docs, "doc_id", 0).count() === 0L)
    assert(Sampling.hashSample(docs, "doc_id", 100).count() === n)
  }

  test("filterBlocklist: anti-join drops exactly the blocked values, plan broadcasts") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val blocked = Seq("src1", "src2").toDF("value")
    val out = Sampling.filterBlocklist(docs, "source", blocked)
    assert(out.filter(col("source").isin("src1", "src2")).count() === 0L)
    assert(out.count() ===
      docs.filter(!col("source").isin("src1", "src2")).count())
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join, got:\n$plan")
  }

  test("groupedQuantiles: exact interpolated quartiles per group") {
    import spark.implicits._
    // group g: 1..5 -> p25=2, p50=3, p75=4; group h: 10,20 -> 12.5, 15, 17.5
    val df = (Seq.tabulate(5)(i => ("g", (i + 1).toLong)) ++
      Seq(("h", 10L), ("h", 20L))).toDF("grp", "v")
    val out = Stats.groupedQuantiles(df, Seq("grp"), "v", Seq(0.25, 0.5, 0.75))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(out === Set(("g", 5L, 2.0, 3.0, 4.0), ("h", 2L, 12.5, 15.0, 17.5)))
  }

  test("redactPii: emails and IPv4s counted and replaced; clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to a.b+c@mail.example.org or ping 192.168.0.1 now"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io z@w.co one ip 10.0.0.7"),
      (4L, "bogus 999.999.999.999 and 256.1.1.1 are not IPs; 255.255.255.255 is")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out === Set((1L, 1, 1), (2L, 0, 0), (3L, 2, 1), (4L, 0, 1)))
    // fingerprint of redacted text equals md5 of the hand-redacted string
    val fp = TextAnalysis.redactPii(df.filter(col("doc_id") === 1L), "doc_id", "text")
      .select("redacted_fp").head().getString(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("write to <EMAIL> or ping <IP> now".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(fp === expected)
  }

  test("redactPii: v-prefixed version quads untouched; bare quads redacted by design") {
    import spark.implicits._
    def fp(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // "v1.2.3.4": no word boundary between 'v' and '1', so the quad never
    // matches — version strings glued to a prefix survive the scrubber
    val versioned = Seq((1L, "upgrade to v1.2.3.4 today")).toDF("doc_id", "text")
    val outV = TextAnalysis.redactPii(versioned, "doc_id", "text").head()
    assert(outV.getInt(2) === 0, "v-prefixed quad is not an IP match")
    assert(outV.getString(3) === fp("upgrade to v1.2.3.4 today"))
    // a BARE in-range quad in prose is indistinguishable from an IP and IS
    // redacted — the decided over-redaction trade (see ipv4Re scaladoc)
    val bare = Seq((2L, "since version 1.2.3.4 we ship daily")).toDF("doc_id", "text")
    val outB = TextAnalysis.redactPii(bare, "doc_id", "text").head()
    assert(outB.getInt(2) === 1, "bare quad counts as an IP match")
    assert(outB.getString(3) === fp("since version <IP> we ship daily"))
  }

  test("exactStratifiedSplit: counts are exact per stratum; deterministic; hash split is binomial") {
    import spark.implicits._
    // strata of awkward sizes: 10, 7, 3, 1 — the small-strata case the
    // hash-bucket split gets wrong
    val df = ((1L to 10L).map(i => (i, "a")) ++ (11L to 17L).map(i => (i, "b")) ++
      (18L to 20L).map(i => (i, "c")) :+ ((21L, "d")))
      .toDF("id", "grp")
      .unionByName(Seq((Option.empty[Long], "a")).toDF("id", "grp"))
    val cuts = Seq(("train", 80), ("val", 10), ("test", 10))
    val out = Sampling.exactStratifiedSplit(df, Seq("grp"), "id", cuts)
      .collect().map(r => (r.getString(1), r.getString(2)))
    val counts = out.groupBy(identity).view.mapValues(_.length).toMap
    // n=10: 8/1/1; n=7: floor(5.6)=5 train, floor(6.3)-5=1 val, 1 test;
    // n=3: 2/0/1; n=1: 0/0/1 (remainders fall to the LAST label)
    assert(counts === Map(
      ("a", "train") -> 8, ("a", "val") -> 1, ("a", "test") -> 1,
      ("b", "train") -> 5, ("b", "val") -> 1, ("b", "test") -> 1,
      ("c", "train") -> 2, ("c", "test") -> 1,
      ("d", "test") -> 1))
    assert(out.length === 21, "NULL keys are excluded, everything else labeled")
    // deterministic under partitioning: identical (id, split) assignment
    val a = Sampling.exactStratifiedSplit(df.repartition(7), Seq("grp"), "id", cuts)
      .collect().map(r => (r.get(0), r.getString(2))).toSet
    val b = Sampling.exactStratifiedSplit(df, Seq("grp"), "id", cuts)
      .collect().map(r => (r.get(0), r.getString(2))).toSet
    assert(a === b)
    // empty input degrades
    assert(Sampling.exactStratifiedSplit(df.limit(0), Seq("grp"), "id", cuts).count() === 0)
    // bad cuts fail fast
    intercept[IllegalArgumentException] {
      Sampling.exactStratifiedSplit(df, Seq("grp"), "id", Seq(("x", 60), ("y", 30)))
    }
  }

  test("crawlFullPipeline: one hand-traced corpus survives all seven stages correctly") {
    import spark.implicits._
    // 96 controlled tokens: alpha-heavy 8-char words, "the" every 12th for
    // the stopword gate; the planting math (12-token lines, (id+i)%3 period
    // rule) then decides exactly which lines survive per doc id
    def toks(tweak: Int => String): String =
      (1 to 96).map(k => if (k % 12 == 1) "the" else tweak(k)).mkString(" ")
    val base = toks(k => s"word${k}xx")
    val nearDup = toks(k => if (k == 50) "zzqq" else s"word${k}xx") // 1 token off
    val short = (1 to 24).map(k => if (k % 12 == 1) "the" else s"word${k}xx").mkString(" ")
    val df = Seq(
      (1L, base),        // A: survives end-to-end
      (100003L, base),   // B: exact twin of A (same %3 class) -> stage-4 collapse
      (4L, nearDup),     // C: near twin of A (same %3 class) -> stage-5 merge
      (7L, short),       // D: too few kept words -> Gopher kills it
      (8L, base)         // F: %4==0 gets the blocked javascript line -> filtered, doc survives
    ).toDF("doc_id", "text")
    val out = graft.queries.PipelineQueries.crawlFullPipeline(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getInt(6), r.getLong(7)))
    val byDoc = out.groupBy(_._1)
    // D is gone; B collapsed into A (exact); C merged into A's semantic
    // group (near-dup), so exactly ONE of {1, 4} is canonical
    assert(!byDoc.contains(7L), "short doc must die at the Gopher gate")
    assert(!byDoc.contains(100003L), "exact twin must collapse at stage 4")
    val abCanon = Seq(1L, 4L).filter(byDoc.contains)
    assert(abCanon.size === 1, s"exactly one canonical of the near-dup pair, got $abCanon")
    val canon = byDoc(abCanon.head).head
    assert(canon._6 === 2L, "semantic group {A, C} has two members")
    // A's exact-dup count rode through iff A won the quality argmax
    if (abCanon.head == 1L) assert(canon._5 === 2L, "A carries n_dups 2 (B collapsed)")
    assert(byDoc.contains(8L), "blocked-line doc survives once the line drops")
    // stage 6/7 invariants for every surviving doc: copies match the bucket
    // of its own quality score, shard positions are dense per shard
    byDoc.foreach { case (_, rows) =>
      val q = rows.head._4
      val bucket = if (q >= 0.75) "head" else if (q >= 0.65) "middle" else "tail"
      assert(rows.forall(_._2 == bucket), s"mix_source must equal bucket($q)")
      val expected = if (bucket == "head") 2 else 1 // tail docs present have 1
      assert(rows.map(_._3).sorted.toSeq === (1 to expected),
        s"bucket $bucket docs carry copy_ids 1..$expected")
    }
    out.groupBy(_._7).foreach { case (shard, rows) =>
      assert(rows.map(_._8).sorted.toSeq === rows.indices.map(_.toLong),
        s"shard $shard positions must be dense 0..n-1")
    }
    // the blocked line never leaks into any stage: re-run stage 1+2 alone
    val lined = graft.ops.TextAnalysis.filterLines(
      graft.queries.TextQueries.withSyntheticLines(
        graft.ops.TextAnalysis.extractHtmlText(
          graft.queries.TextQueries.withSyntheticHtml(df.filter(col("doc_id") === 8L)),
          "doc_id", "text")
          .select(col("doc_id"), col("text_extracted").as("text"))),
      "doc_id", "text").select("text_kept").head().getString(0)
    assert(!lined.toLowerCase.contains("javascript"))
  }

  test("redactPiiV2: Luhn gate redacts valid cards only; all five categories count; no cross-eating") {
    import spark.implicits._
    def fp(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val df = Seq(
      // valid spaced Visa + Luhn-reject sibling in the SAME doc
      (1L, "pay 4111 1111 1111 1111 not 4111 1111 1111 1112 ok"),
      // dashed MC (valid), contiguous Amex 15-digit (valid)
      (2L, "mc 5555-5555-5555-4444 amex 378282246310005"),
      // order id: card-shaped 16 digits, Luhn-invalid -> stays verbatim
      (3L, "order 1234567890123456 shipped"),
      // 20-digit run: \b cannot fall mid-run, structurally never a candidate
      (4L, "serial 12345678901234567890 intact"),
      // all three phone forms; the intl digits must NOT reach the card pass
      (5L, "call +44 20 7946 0958 or (415) 555-2671 or 555-123-4567"),
      // mod-97 valid IBAN redacts; the check-digit-off sibling stays
      (6L, "iban DE89370400440532013000 not DE89370400440532013001 wired"),
      (7L, "mail a@b.io from 10.0.0.7"),
      (8L, "clean text"),
      (9L, "gb GB82WEST12345698765432 ok")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPiiV2(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
          r.getInt(6), r.getInt(7), r.getString(8)))).toMap
    // (n_emails, n_ibans, n_ibans_rejected, n_phones, n_cards,
    //  n_cards_rejected, n_ips, fp)
    assert(out(1L) === ((0, 0, 0, 0, 1, 1, 0,
      fp("pay <CARD> not 4111 1111 1111 1112 ok"))))
    assert(out(2L) === ((0, 0, 0, 0, 2, 0, 0, fp("mc <CARD> amex <CARD>"))))
    assert(out(3L) === ((0, 0, 0, 0, 0, 1, 0, fp("order 1234567890123456 shipped"))))
    assert(out(4L) === ((0, 0, 0, 0, 0, 0, 0, fp("serial 12345678901234567890 intact"))))
    assert(out(5L) === ((0, 0, 0, 3, 0, 0, 0, fp("call <PHONE> or <PHONE> or <PHONE>"))))
    assert(out(6L) === ((0, 1, 1, 0, 0, 0, 0,
      fp("iban <IBAN> not DE89370400440532013001 wired"))))
    assert(out(7L) === ((1, 0, 0, 0, 0, 0, 1, fp("mail <EMAIL> from <IP>"))))
    assert(out(8L) === ((0, 0, 0, 0, 0, 0, 0, fp("clean text"))))
    assert(out(9L) === ((0, 1, 0, 0, 0, 0, 0, fp("gb <IBAN> ok"))))
    // partitioning invariance + empty input degrade
    val a = TextAnalysis.redactPiiV2(df.repartition(7), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(a === TextAnalysis.redactPiiV2(df, "doc_id", "text").collect().map(_.toSeq).toSet)
    assert(TextAnalysis.redactPiiV2(df.limit(0), "doc_id", "text").count() === 0)
    // zero-Exchange plan: pure scan-speed projection
    val plan = TextAnalysis.redactPiiV2(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
  }

  test("stratifiedSample: per-stratum rates honored, same bucket rule as hashSample") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0, "de" -> 100), defaultPercent = 30)
    assert(out.filter(col("lang") === "en").count() === 0L, "0% stratum drops everything")
    assert(out.filter(col("lang") === "de").count() ===
      docs.filter(col("lang") === "de").count(), "100% stratum keeps everything")
    // default-rate strata follow the hashSample bucket rule exactly: the
    // stratified sample of an uncovered stratum == hashSample at the default
    val restStrat = out.filter(!col("lang").isin("en", "de"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val restHash = Sampling.hashSample(docs.filter(!col("lang").isin("en", "de")),
        "doc_id", 30).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(restStrat === restHash)
  }

  test("mixCorpora: whole epochs copy every row, fractional epochs hash-sample, zero drops; no shuffle") {
    import spark.implicits._
    val a = (0L until 200L).map(i => (i, "A")).toDF("doc_id", "src")
    val b = (0L until 200L).map(i => (i + 1000L, "B")).toDF("doc_id", "src")
    val out = Sampling.mixCorpora(Seq(("a", a, 230), ("b", b, 0)), "doc_id")
    assert(out.columns.toSeq === Seq("doc_id", "src", "copy_id", "mix_source"))
    // weight 0 contributes nothing
    assert(out.filter(col("mix_source") === "b").count() === 0L)
    // every A row appears at least twice (2 whole epochs), copy_ids dense from 1
    val perDoc = out.filter(col("mix_source") === "a")
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy_id").as("mx"))
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(perDoc.length === 200)
    assert(perDoc.forall { case (n, mx) => (n == 2L || n == 3L) && mx == n })
    // fractional 30% rides the same bucket rule as hashSample: identical key set
    val extra = out.filter(col("mix_source") === "a" && col("copy_id") === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = Sampling.hashSample(a, "doc_id", 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(extra === sampled)
    // deterministic across runs
    val again = Sampling.mixCorpora(Seq(("a", a, 230)), "doc_id")
      .filter(col("copy_id") === 3).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === extra)
    // scan-speed: no exchange anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("temperatureMix: √-scaled epochs from exact sizes; realized mix = mixCorpora at the derived pcts") {
    import spark.implicits._
    // sizes 400 / 100: T = 500, S = √400 + √100 = 30 →
    // pct_a = ⌊100·20·500/30/400⌋ = 83, pct_b = ⌊100·10·500/30/100⌋ = 166 —
    // the big corpus downweights below 1 epoch, the small one upweights
    val a = (0L until 400L).map(i => (i, "A")).toDF("doc_id", "src")
    val b = (0L until 100L).map(i => (i + 1000L, "B")).toDF("doc_id", "src")
    val out = Sampling.temperatureMix(Seq(("a", a), ("b", b)), "doc_id")
    val expect = Sampling.mixCorpora(Seq(("a", a, 83), ("b", b, 166)), "doc_id")
    assert(out.collect().map(_.toSeq).toSet === expect.collect().map(_.toSeq).toSet)
    // flattening direction: a contributes < 1 epoch, b > 1
    val byTag = out.groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag("a") < 400L && byTag("b") > 100L)
    // an empty corpus contributes nothing — and never a division by zero
    val withEmpty = Sampling.temperatureMix(
      Seq(("a", a), ("none", a.filter(lit(false)))), "doc_id")
    assert(withEmpty.filter(col("mix_source") === "none").count() === 0L)
    assert(Sampling.temperatureMix(
      Seq(("x", a.filter(lit(false)))), "doc_id").count() === 0L)
  }

  test("capPerGroup: exact cap, digest order, small groups untouched, skew-safe plan") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "lang")
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = 5
    val out = Sampling.capPerGroup(docs, "lang", "doc_id", k)
    val after = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    before.foreach { case (lang, n) =>
      assert(after(lang) === math.min(n, k.toLong), s"lang $lang")
    }
    // the kept set is exactly the k smallest digests per group (the
    // reference semantics the oracle also checks at sf0.01)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val ref = docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === ref)
    // skew-safety: no window partitions by the group alone
    val plan = out.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(lang#\\d+, _digest".r.findFirstIn(plan).isEmpty,
      "found a whole-group sort window; cap must use the (group, bucket) two-phase")
  }

  test("zScoreOutliers: NULL group keeps its own moments, outliers still flagged") {
    import spark.implicits._
    val df = (Seq.fill(20)(10L) :+ 1000L).zipWithIndex
      .map { case (value, i) => (i.toLong, Option.empty[String], value) }
      .toDF("id", "g", "v")
    val out = Stats.zScoreOutliers(df, Seq("g"), "v", z = 3.0).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(20L), "null-group outlier flagged")
  }

  test("sampler family: NULL keys excluded everywhere, reserved-name guards fire") {
    import spark.implicits._
    val df = Seq((Option(1L), "en"), (Option.empty[Long], "en")).toDF("doc_id", "lang")
    // even at 100% / whole epochs, a NULL key identifies nothing — excluded
    assert(Sampling.hashSample(df, "doc_id", 100).count() === 1L)
    assert(Sampling.prioritySample(df, "doc_id", 5, "s").count() === 1L)
    assert(Sampling.mixCorpora(Seq(("a", df, 100)), "doc_id").count() === 1L)
    intercept[IllegalArgumentException](Sampling.prioritySample(
      df.withColumn("priority", lit(1)), "doc_id", 1, "s"))
    intercept[IllegalArgumentException](Sampling.mixCorpora(
      Seq(("a", df.withColumn("copy_id", lit(1)), 100)), "doc_id"))
    intercept[IllegalArgumentException](
      Sampling.shuffleShards(df, "doc_id", (1 << 24) + 1))
  }

  test("two-phase operators: NULL keys excluded by policy, real rows unaffected") {
    import spark.implicits._
    val withNull = Seq(
      (Option(1L), "en"), (Option(2L), "en"), (Option(3L), "de"),
      (Option.empty[Long], "en"), (Option.empty[Long], "de")
    ).toDF("doc_id", "lang")
    val clean = withNull.filter(col("doc_id").isNotNull)
    // shuffleShards: null keys dropped, surviving layout identical to the
    // null-free input (no position gaps, no starved buckets)
    val a = Sampling.shuffleShards(withNull, "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    val b = Sampling.shuffleShards(clean, "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    assert(a === b)
    // capPerGroup: null keys don't occupy cap slots or starve real rows
    val c1 = Sampling.capPerGroup(withNull, "lang", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val c2 = Sampling.capPerGroup(clean, "lang", "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c1 === c2)
    assert(c1.map(_._1) === Set(1L, 2L, 3L))
  }

  test("kmeans trainPercent: an empty hash sample falls back to full-corpus training") {
    import spark.implicits._
    // doc ids 1,2,3 hash to md5 buckets 34/94/64 — a 1% sample keeps NOTHING
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))
    ).toDF("id", "vec")
    val sampled = Similarity.kmeansAssign(corpus, numClusters = 2, trainPercent = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = Similarity.kmeansAssign(corpus, numClusters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sampled === full, "empty sample must train on the full corpus, not nothing")
    assert(sampled.size === 3)
  }

  test("capPerGroup: NULL is a real group — capped, never silently dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a")), (2L, Option("a")), (3L, Option("a")),
      (4L, None), (5L, None), (6L, None), (7L, None)
    ).toDF("id", "g")
    val out = Sampling.capPerGroup(df, "g", "id", maxPerGroup = 2)
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(out.count(_._2.isEmpty) === 2, "null group capped at 2, not dropped")
    assert(out.count(_._2.contains("a")) === 2)
  }

  test("shuffleShards: positions are a dense 0..n-1 per shard, deterministic, key-driven") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").select("doc_id", "lang")
    val a = Sampling.shuffleShards(docs, "doc_id", 8)
    val b = Sampling.shuffleShards(docs, "doc_id", 8)
    assert(a.collect().toSet === b.collect().toSet, "layout is a pure function of keys")
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("position").as("lo"), max("position").as("hi"))
      .collect()
    assert(perShard.length === 8)
    perShard.foreach { r =>
      assert(r.getAs[Long]("lo") === 0L)
      assert(r.getAs[Long]("hi") === r.getAs[Long]("n") - 1, "dense positions")
    }
    // row order within a shard is NOT the key order (it is digest order): the
    // shard looks shuffled for training even though it's deterministic
    val shard0 = a.filter(col("shard") === 0).orderBy("position")
      .select("doc_id").collect().map(_.getLong(0))
    assert(!shard0.sameElements(shard0.sorted), "digest order breaks key order")
    // scale shape: position assignment is two-phase — NO window may sort a
    // whole shard in one task, so every window spec that partitions by shard
    // must also partition by the digest-prefix bucket
    val plan = a.queryExecution.executedPlan.toString
    val shardOnlyWindow = "windowspecdefinition\\(shard#\\d+, _digest".r
    assert(shardOnlyWindow.findFirstIn(plan).isEmpty,
      "found a per-shard global sort window; positions must come from the " +
        "(shard, bucket) two-phase assignment")
  }

  test("histogram: exact bin assignment, edge clamping, every row accounted for") {
    import spark.implicits._
    val df = Seq(
      ("a", -5.0), // below lo -> clamps to bin 0
      ("a", 0.0), ("a", 9.99), // bin 0 of [0,100) x 10
      ("a", 10.0), // bin 1 (left-closed boundary)
      ("a", 99.9), ("a", 100.0), ("a", 250.0), // 100+ clamps to bin 9
      ("b", 55.0)
    ).toDF("g", "v")
    val out = Stats.histogram(df, Seq("g"), "v", lo = 0.0, hi = 100.0, nBins = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("a", 0L) -> 3L, ("a", 1L) -> 1L, ("a", 9L) -> 3L, ("b", 5L) -> 1L))
    assert(out.values.sum === df.count())
  }

  test("zScoreOutliers: flags exactly the |z|>threshold rows, never shuffles the row side") {
    import spark.implicits._
    // group "a": values 0,10 (x9 each) and one extreme 100
    val rows = (Seq.fill(9)(0L) ++ Seq.fill(9)(10L) :+ 100L).zipWithIndex
      .map { case (v, i) => (i.toLong, "a", v) } :+ ((100L, "b", 5L))
    val df = rows.toDF("id", "g", "v")
    // group a: n=19, mean=500/19≈26.3... compute via the same formula
    val out = Stats.zScoreOutliers(df, Seq("g"), "v", z = 3.0)
      .select("id", "z_score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq === Seq(18L), "only the extreme row flags")
    assert(out.head._2 > 3.0)
    // constant group (sigma 0) flags nothing rather than dividing by zero
    val const = Seq((1L, "c", 7L), (2L, "c", 7L)).toDF("id", "g", "v")
    assert(Stats.zScoreOutliers(const, Seq("g"), "v", 1.0).collect().isEmpty)
    // plan: row side joins a broadcast stats table - no row-side exchange
    val plan = Stats.zScoreOutliers(df, Seq("g"), "v", 3.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"stats must broadcast:\n$plan")
  }

  test("crosstabCounts: explicit categories, absent cells are 0L not null") {
    import spark.implicits._
    val df = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "y")).toDF("k", "c")
    val out = Stats.crosstabCounts(df, "k", "c", Seq("x", "y", "z"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(1L -> ((2L, 1L, 0L)), 2L -> ((0L, 1L, 0L))))
  }

  test("profile: nulls counted, exact distincts, native-type min/max (not lexicographic)") {
    import spark.implicits._
    val df = Seq(
      (Some(2L), Some("b")), (Some(10L), None), (Some(10L), Some("a"))
    ).toDF("n", "s")
    val out = Stats.profile(df, Seq("n", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    // numeric min/max: 2 < 10 numerically (a string min would say "10" < "2")
    assert(out("n") === ((3L, 0L, 2L, "2", "10")))
    assert(out("s") === ((3L, 1L, 2L, "a", "b")))
  }

  test("zScoreOutliers: fractional valueCol fails fast instead of silently rounding the moments") {
    import spark.implicits._
    val frac = Seq(("g", 1.5), ("g", 2.5)).toDF("g", "v")
    val e = intercept[IllegalArgumentException](
      Stats.zScoreOutliers(frac, Seq("g"), "v", 3.0))
    assert(e.getMessage.contains("integral"))
    // decimal scale 0 IS integral and stays accepted
    val dec = Seq(("g", 1L), ("g", 2L)).toDF("g", "v")
      .withColumn("v", col("v").cast("decimal(20,0)"))
    Stats.zScoreOutliers(dec, Seq("g"), "v", 3.0).collect()
  }

  test("zScoreOutliers: near-constant large values give sigma 0, never a NaN that flags everyone") {
    import spark.implicits._
    // mu^2 ~ 1e16 where double ulp is 2: the naive variance lands a few ulps
    // negative, sqrt -> NaN, and NaN passes BOTH filters (NaN > 0 in Spark)
    val base = 100000001L
    val df = Seq.tabulate(9)(i => ("g", base + (i % 2))).toDF("g", "v")
    val out = Stats.zScoreOutliers(df, Seq("g"), "v", z = 3.0).collect()
    assert(out.forall(r => !r.getAs[Double]("z_score").isNaN))
    assert(out.length <= 1, "a near-constant group must not flag wholesale")
    // int values near sqrt(Int.Max) would overflow int v*v — decimal moments don't
    val big = Seq(("g", 100000), ("g", 100000), ("g", 100001)).toDF("g", "v")
      .withColumn("v", col("v").cast("int"))
    assert(Stats.zScoreOutliers(big, Seq("g"), "v", 3.0).count() === 0L)
  }

  test("quantile labels: tail quantiles get distinct names (p99_9, not a second p100)") {
    import spark.implicits._
    val df = Seq.tabulate(1000)(i => ("a", i.toLong)).toDF("g", "v")
    val out = Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5, 0.995, 0.999))
    assert(out.columns.toSeq === Seq("g", "n_rows", "p50", "p99_5", "p99_9"))
    assert(out.columns.distinct.length === out.columns.length)
  }

  test("groupedQuantiles approx: element-exact on element-aligned quantiles, stable schema") {
    import spark.implicits._
    // odd group: p50 falls exactly on an element, so the sketch (exact below
    // `accuracy` rows) must return precisely the exact answer
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 5L)).toDF("g", "v")
    val exact = Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val approx = Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5), approx = true)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(exact === Map("a" -> 20.0, "b" -> 5.0))
    assert(approx === exact, "sketch is exact below accuracy rows")
    // schemas identical across modes (approx casts back to double)
    assert(Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5), approx = true).schema ===
      Stats.groupedQuantiles(df, Seq("g"), "v", Seq(0.5)).schema)
  }

  test("profile approx: same stats at toy scale, and NO Expand in the plan") {
    import spark.implicits._
    val df = Seq(
      (Some(2L), Some("b")), (Some(10L), None), (Some(10L), Some("a"))
    ).toDF("n", "s")
    // the exact (default) plan is the documented Expand-based multi-distinct;
    // the approx plan must NOT pay the per-column row expansion
    val exactPlan = Stats.profile(df, Seq("n", "s"))
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "exact multi-distinct plans via Expand")
    val ap = Stats.profile(df, Seq("n", "s"), approx = true)
    val approxPlan = ap.queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"),
      "approx profile must be a single non-expanded aggregation")
    // at toy cardinalities HLL++ is exact, so values match the exact profile
    val out = ap.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(out("n") === ((3L, 0L, 2L, "2", "10")))
    assert(out("s") === ((3L, 1L, 2L, "a", "b")))
  }

  test("cohortRetention: weeks_since survives a DST transition (non-UTC session)") {
    import spark.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // US spring-forward 2024-03-10: the Mar-4 -> Mar-11 week gap is
      // 7d - 1h in epoch micros; an epoch division would truncate it to 0
      val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-03-05 10:00:00")), // week of Mar 4
        (1L, java.sql.Timestamp.valueOf("2024-03-12 10:00:00")) // week of Mar 11
      ).toDF("user_id", "ts")
      val weeks = Temporal.cohortRetention(df, "user_id", "ts")
        .collect().map(_.getLong(1)).toSet
      assert(weeks === Set(0L, 1L), "DST week must count as weeks_since = 1")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("asofJoin: rightTsCol listed in rightValueCols does not duplicate the payload field") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 5.0)).toDF("id", "rts", "v")
    val out = Temporal.asofJoin(left, right, Seq("id"), "ts", "rts",
      Seq("id", "ts"), Seq("rts", "v")) // rts redundantly listed
    assert(out.columns.count(_ == "asof_rts") === 1, "single asof ts column")
    val row = out.head
    assert(row.getAs[java.sql.Timestamp]("asof_rts") === ts("2024-01-01 09:00:00"))
    assert(row.getAs[Double]("asof_v") === 5.0)
  }

  test("intervalJoin: shared non-key columns fail fast instead of ambiguous refs") {
    import spark.implicits._
    val pts = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts")
    val ivs = Seq((9L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("id", "s", "e") // "id" collides
    val e = intercept[IllegalArgumentException] {
      Temporal.intervalJoin(pts, ivs, "ts", "s", "e", bucketSeconds = 3600)
    }
    assert(e.getMessage.contains("id"))
  }

  test("cohortRetention: cohort = first-event week, weeks_since exact, distinct users") {
    import spark.implicits._
    val mon1 = ts("2024-01-01 10:00:00") // Monday week 1
    val mon1b = ts("2024-01-03 09:00:00") // same week
    val mon2 = ts("2024-01-08 00:00:00") // week 2
    val mon3 = ts("2024-01-17 23:00:00") // week 3
    val df = Seq(
      (1L, mon1), (1L, mon1b), (1L, mon3), // user 1: cohort w1, active w1+w3
      (2L, mon2), (2L, mon2), // user 2: cohort w2, active w2 only (dup events)
      (3L, mon1), (3L, mon2) // user 3: cohort w1, active w1+w2
    ).toDF("user_id", "ts")
    val out = Temporal.cohortRetention(df, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val w2 = java.sql.Timestamp.valueOf("2024-01-08 00:00:00").getTime * 1000L
    assert(out === Map(
      (w1, 0L) -> 2L, // users 1+3 active in their cohort week
      (w1, 1L) -> 1L, // user 3 in week 2
      (w1, 2L) -> 1L, // user 1 in week 3
      (w2, 0L) -> 1L)) // user 2
  }

  test("funnel: strict ordering, stalls keep nulls, greedy earliest chain") {
    import spark.implicits._
    def t(m: Long) = ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val ev = Seq(
      // user 1 completes in order: signup@1, click@5, purchase@9
      (1L, t(1), "signup"), (1L, t(5), "click"), (1L, t(9), "purchase"),
      // user 2: click BEFORE signup doesn't count; no click after -> stalls at step 1
      (2L, t(3), "click"), (2L, t(4), "signup"), (2L, t(2), "purchase"),
      // user 3: no signup -> not in the funnel population at all
      (3L, t(1), "click"), (3L, t(2), "purchase"),
      // user 4: two signups - the EARLIEST starts the chain; purchase between
      // signup and click doesn't count (order matters), later one does
      (4L, t(10), "signup"), (4L, t(20), "signup"), (4L, t(12), "purchase"),
      (4L, t(15), "click"), (4L, t(30), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = Temporal.funnel(ev, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getTimestamp(1), Option(r.getTimestamp(2)), Option(r.getTimestamp(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 4L))
    assert(out(1L) === ((t(1), Some(t(5)), Some(t(9)))))
    assert(out(2L) === ((t(4), None, None)))
    assert(out(4L) === ((t(10), Some(t(15)), Some(t(30)))))
  }

  test("corpusReport: per-group counts exact; null/empty docs counted, not dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "alpha beta alpha"),
      (2L, "a", "ALPHA beta alpha"), // normalizes equal to doc 1 -> not unique
      (3L, "a", ""),
      (4L, "a", null.asInstanceOf[String]),
      (5L, "b", "gamma")).toDF("doc_id", "source", "text")
    val out = Stats.corpusReport(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getDouble(7)))).toMap
    // group a: 4 docs, 2 empty (null + ""), 2 unique contents (docs 1 and 2
    // normalize equal; null coalesces to "" and collides with doc 3 — an
    // empty doc IS empty content), 6 tokens, vocab {alpha, beta} = 2,
    // chars 16 + 16 + 0 + 0
    assert(out("a") === ((4L, 2L, 2L, 6L, 2L, 32L, 1.5)))
    assert(out("b") === ((1L, 0L, 1L, 1L, 1L, 5L, 1.0)))
  }

  test("corpusReport: NULL group key keeps its vocabulary (null-safe join)") {
    import spark.implicits._
    val docs = Seq(
      (1L, null.asInstanceOf[String], "alpha beta alpha"),
      (2L, null.asInstanceOf[String], "beta gamma"),
      (3L, "a", "delta")).toDF("doc_id", "source", "text")
    val out = Stats.corpusReport(docs, "text", "source")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(4), r.getLong(5)))).toMap
    // Both sides of the internal join aggregate the NULL group; a plain
    // equality join would report n_distinct_tokens = 0 here.
    assert(out(None) === ((2L, 5L, 3L))) // 2 docs, 5 tokens, vocab {alpha,beta,gamma}
    assert(out(Some("a")) === ((1L, 1L, 1L)))
  }

  test("keySkewProfile: exact shares and heaviness, NULL key profiles, k-bound, determinism") {
    import spark.implicits._
    // 10 rows: key a ×6, b ×2, c ×1, NULL ×1 → 4 keys, mean 2.5 rows/key
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", null))
      .toDF("k")
    val out = Stats.keySkewProfile(df, "k", k = 3)
      .collect().map(r => r.getInt(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(out.length === 3, "k bounds the output")
    // a: share 6/10, heaviness 6·4/10 = 2.4× the mean key
    assert(out(0) === (1 -> ((Some("a"), 6L, 600000L, 2400000L))))
    assert(out(1) === (2 -> ((Some("b"), 2L, 200000L, 800000L))))
    // the n=1 tie between c and NULL ranks NULL first (asc nulls-first,
    // the Spark total order — pinned so the oracle can replay it)
    assert(out(2) === (3 -> ((None, 1L, 100000L, 400000L))))
    val again = Stats.keySkewProfile(df.repartition(7), "k", k = 3)
      .collect().map(_.toSeq).toSeq
    assert(again === Stats.keySkewProfile(df, "k", k = 3).collect().map(_.toSeq).toSeq)
  }

  test("transitionMatrix: hand case — pairs, ppm normalization, last event drops, id tiebreak") {
    import spark.implicits._
    val df = Seq(
      // user 1: a -> b -> a -> c; user 2: a -> b; the two events at the SAME
      // ts for user 1 order by event_id (20 before 21)
      (10L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (11L, ts("2024-01-01 00:01:00"), 1L, "b"),
      (20L, ts("2024-01-01 00:02:00"), 1L, "a"),
      (21L, ts("2024-01-01 00:02:00"), 1L, "c"),
      (30L, ts("2024-01-01 00:00:00"), 2L, "a"),
      (31L, ts("2024-01-01 00:05:00"), 2L, "b")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Temporal.transitionMatrix(df, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // from 'a': a->b twice, a->c once (3 total); from 'b': b->a once (1 total)
    assert(out(("a", "b")) === ((2L, 666666L))) // 2*10^6 div 3
    assert(out(("b", "a")) === ((1L, 1000000L)))
    assert(out(("a", "c")) === ((1L, 333333L)))
    assert(out.size === 3, "each user's last event pairs with nothing")
    // partitioning-invariant
    val again = Temporal.transitionMatrix(df.repartition(5), "user_id", "ts",
      "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(again === out)
  }

  test("topPaths: ordered assembly, maxLen truncation, deterministic tie ranking") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 00:01:00"), 1L, "b"),
      (3L, ts("2024-01-01 00:02:00"), 1L, "c"), // truncated at maxLen=2
      (4L, ts("2024-01-01 00:00:00"), 2L, "a"),
      (5L, ts("2024-01-01 00:01:00"), 2L, "b"),
      (6L, ts("2024-01-01 00:00:00"), 3L, "a"),
      (7L, ts("2024-01-01 00:00:00"), 4L, "z")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val all = Temporal.topPaths(df, "user_id", "ts", "event_type", "event_id",
      maxLen = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(all.toSet === Set(("a>b", 2L), ("a", 1L), ("z", 1L)))
    // k cuts on (n_keys desc, path asc): the n=1 tie resolves to "a" over "z"
    val top2 = Temporal.topPaths(df, "user_id", "ts", "event_type", "event_id",
      maxLen = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top2.toSet === Set(("a>b", 2L), ("a", 1L)))
    // the top-k never plans a global sort
    val plan = Temporal.topPaths(df, "user_id", "ts", "event_type", "event_id",
      maxLen = 2, k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("compactScd2Buckets: fragmented bucket collapses to ~1 file, reads identical, other bucket untouched") {
    import spark.implicits._
    val nb = 2
    def bucketOf(k: Long) = spark.range(1).select(
      pmod(xxhash64(lit(k)), lit(nb.toLong)).cast("int")).collect().head.getInt(0)
    val hotBucket = bucketOf(1L)
    // 50 keys in the hot bucket (many collapse partitions -> many files),
    // one key in the other
    val hotKeys = (1L to 400L).filter(bucketOf(_) == hotBucket).take(50)
    val coldKey = (1L to 400L).find(bucketOf(_) != hotBucket).get
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val path = java.nio.file.Files.createTempDirectory("graft-scd2c").toString + "/store"
    Temporal.scd2UpsertBatch(
      (hotKeys.map(k => (k, t(1), "A")) :+ ((coldKey, t(1), "X")))
        .toDF("user_id", "ts", "plan"),
      path, "user_id", "ts", Seq("plan"), nb)
    Temporal.scd2UpsertBatch(
      hotKeys.map(k => (k, t(2), "B")).toDF("user_id", "ts", "plan"),
      path, "user_id", "ts", Seq("plan"), nb)
    // fragment the hot bucket the way a long-lived store fragments: more
    // change rows landing as separate files (append writes carrying the
    // store's own bucket rule)
    (3 to 5).foreach { i =>
      hotKeys.map(k => (k, t(i), s"P$i")).toDF("user_id", "ts", "plan")
        .withColumn("bucket", pmod(xxhash64(col("user_id")), lit(nb.toLong)).cast("int"))
        .coalesce(1)
        .write.mode("append").partitionBy("bucket").parquet(path)
    }
    def files(b: Int) = new java.io.File(s"$path/bucket=$b")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val hotBefore = files(hotBucket)
    val coldBefore = files(if (hotBucket == 0) 1 else 0)
    assert(hotBefore.size > 2, s"setup: hot bucket fragmented (${hotBefore.size} files)")
    def readAll = Temporal.readScd2Store(spark, path, "user_id", "ts", Seq("plan"), nb)
      .collect().map(_.toSeq).toSet
    val before = readAll
    val compacted = Temporal.compactScd2Buckets(spark, path, "user_id", "ts",
      Seq("plan"), nb, maxFilesPerBucket = 2)
    assert(compacted === Seq(hotBucket), "only the fragmented bucket compacts")
    assert(files(hotBucket).size <= 2, "file count drops where fragmented")
    assert(files(if (hotBucket == 0) 1 else 0) === coldBefore,
      "untouched bucket byte-identical (same files, same mtimes)")
    assert(readAll === before, "interval read-back identical")
    // idempotent: nothing fragmented anymore
    assert(Temporal.compactScd2Buckets(spark, path, "user_id", "ts",
      Seq("plan"), nb, maxFilesPerBucket = 2).isEmpty)
  }

  test("pipeline_feature_serve: one row per entity; regime equals the last event at-or-before; nulls propagate") {
    import org.apache.spark.sql.expressions.Window
    val served = graft.SparkEntry.queries("pipeline_feature_serve")(spark, sf())
    val ev = spark.read.parquet(s"${sf()}/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val rows = served.collect()
    // composition must not fan out: exactly the entity frame's row count
    val nUsers = ev.select("user_id").distinct().count()
    assert(rows.length.toLong === nUsers)
    // independent regime oracle: the event_type of each user's LAST event
    // (max ts, ties to max event_type — scd2's same-instant collapse) at or
    // before the entity timestamp
    val regime = ev
      .withColumn("ent_us", // the entity-frame formula: Jan 8 + (uid % 20) days
        lit(1704672000000000L) + (col("user_id") % 20) * lit(86400000000L))
      .filter(col("ts_us") <= col("ent_us"))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_type").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val u = r.getLong(0)
      val got = Option(r.getString(r.fieldIndex("regime_event_type")))
      assert(got === regime.get(u),
        s"user $u: regime $got vs independent ${regime.get(u)}")
      // a user with no event at-or-before the entity ts has NO regime and
      // no since; the row itself still serves (left-join null propagation)
      if (got.isEmpty) assert(r.isNullAt(r.fieldIndex("regime_since_us")))
    }
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("regime_event_type"))))
  }

  private def chiRows(rows: Seq[(String, String)]) = {
    import spark.implicits._
    Stats.chiSquare(rows.toDF("r", "c"), "r", "c").collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getLong(6), x.getLong(7)))).toMap
  }

  test("chiSquare: hand-computed 2x2 association; zero cells enter the grid; NULLs drop") {
    import spark.implicits._
    // 30/10 vs 10/30 on N=80: every marginal 40, every expected count 20,
    // every cell contributes (800)^2*1e6/(1600*80) = 5e6 -> chi2 = 20.0
    val rows =
      Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(30)(("b", "y")) ++
      Seq((null, "x"), ("a", null))
    val out = chiRows(rows.map { case (r, c) => (r, c) })
    assert(out.keySet === Set(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")))
    assert(out(("a", "x")) === ((30L, 20000000L, 5000000L, 20000000L, 1L, 80L)))
    assert(out(("b", "y")) === ((30L, 20000000L, 5000000L, 20000000L, 1L, 80L)))
    assert(out(("a", "y")) === ((10L, 20000000L, 5000000L, 20000000L, 1L, 80L)))
    // an absent combination materializes with observed 0 and a real
    // contribution: drop all (b, z): E = 40*5*1e6/85 cells shift
    val withZ = rows ++ Seq.fill(5)(("a", "z"))
    val oz = chiRows(withZ)
    assert(oz(("b", "z"))._1 === 0L)
    assert(oz(("b", "z"))._3 > 0L) // (0*N - R*C)^2 term is positive
    assert(oz.values.head._5 === 2L) // dof = (2-1)*(3-1)
  }

  test("calibration: hand panel and ECE; constant score collapses; NULLs drop; partitioning-invariant") {
    import spark.implicits._
    // two score levels, 2 bins: 0.2 (1/4 positive) under-calibrated by
    // 50000 ppm in each direction, 0.8 (3/4 positive) over — ECE 50000
    val rows: Seq[(Option[Double], Option[Boolean])] =
      Seq.fill(3)((Some(0.2), Some(false))) ++ Seq((Some(0.2), Some(true))) ++
      Seq.fill(3)((Some(0.8), Some(true))) ++ Seq((Some(0.8), Some(false))) ++
      Seq((None, Some(true)), (Some(0.9), None))
    val df = rows.toDF("s", "y")
    def run(d: org.apache.spark.sql.DataFrame, k: Int) =
      Stats.calibration(d, "s", "y", nBins = k).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val out = run(df, 2)
    assert(out.keySet === Set(0L, 1L))
    assert(out(0L) === ((4L, 1L, 200000L, 250000L, 50000L, 50000L)))
    assert(out(1L) === ((4L, 3L, 800000L, 750000L, 50000L, 50000L)))
    assert(run(df.repartition(13), 2) === out)
    // a constant score collapses to bin 0 with a pure base-rate panel
    val const = Seq.fill(5)((0.5, true)) ++ Seq.fill(5)((0.5, false))
    val c = run(const.toDF("s", "y"), 10)
    assert(c.keySet === Set(0L))
    assert(c(0L) === ((10L, 5L, 500000L, 500000L, 0L, 0L)))
  }

  test("seasonalAnomaly: planted spike flags against its OWN phase; flat series reads 1e6; zero-mass phase yields NULL ratio") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    // 6 weeks of 100/day, one 500 spike at day 16 (phase 2, week 3): the
    // spike's phase mean is (5*100+500)/6 = 166.67 -> normal phase-2 days
    // read 600000 ppm (inside the ±50% band), the spike reads 3e6
    val rows = (0 until 42).map(d =>
      ("g", dayTs(d), if (d == 16) 500.0 else 100.0)) ++
      // a second group entirely zero: phase means 0 -> NULL ratios, no flag
      (0 until 14).map(d => ("z", dayTs(d), 0.0)) ++
      Seq((null, dayTs(1), 1.0), ("g", null, 1.0))
    def run(df: org.apache.spark.sql.DataFrame) =
      Stats.seasonalAnomaly(df, "g", "ts", "v").collect()
        .map(r => (r.getString(0),
          r.getAs[java.sql.Timestamp]("bucket").getTime / 86400000L) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            Option(r.get(5)).map(_.asInstanceOf[Long]), r.getBoolean(6))))
        .toMap
    val out = run(rows.toDF("g", "ts", "v"))
    assert(out.size === 56)
    // the spike: phase 2, 5e8 micro vs floor(1e9/6) mean -> ratio 3000000
    val spike = out(("g", 16L))
    assert(spike._1 === 2L && spike._2 === 500000000L)
    assert(spike._3 === 166666666L && spike._4 === Some(3000000L) && spike._5)
    // its phase siblings sit at 600000 ppm — inside the band, not flagged
    assert(out(("g", 2L)) ===
      ((2L, 100000000L, 166666666L, Some(600000L), false)))
    // every other phase is flat: ratio exactly 1e6, never flagged
    assert(out(("g", 3L)) ===
      ((3L, 100000000L, 100000000L, Some(1000000L), false)))
    assert(out.count { case ((g, _), v) => g == "g" && v._5 } === 1)
    // the zero group: NULL ratios, nothing flagged
    assert(out(("z", 0L))._4.isEmpty && !out(("z", 0L))._5)
    assert(run(rows.toDF("g", "ts", "v").repartition(13)) === out)
  }

  test("madOutliers: lower-median band flags what dragged moments miss; zero-MAD rule; fractional input rejected") {
    import spark.implicits._
    // g1: med 5 (rank 5 of 10), MAD 2 -> only the 1000 flags (dev 497.5x)
    val g1 = ((1L to 9L) :+ 1000L).map(v => ("g1", v))
    // g2: FOUR 10^6 outliers drag sigma so far the z-test goes blind
    // (|z| = 2.0 < 2.5) while the median band flags exactly those four
    val g2 = ((1L to 16L) ++ Seq.fill(4)(1000000L)).map(v => ("g2", v))
    // g3: constant-majority -> MAD 0 -> any deviation flags, NULL dev_ppm
    val g3 = Seq.fill(4)(("g3", 10L)) :+ (("g3", 100L))
    val df = (g1 ++ g2 ++ g3).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.madOutliers(d, Seq("g"), "v").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), Option(r.get(4))))).toMap
    val out = run(df)
    assert(out.keySet === Set(("g1", 1000L), ("g2", 1000000L), ("g3", 100L)))
    assert(out(("g1", 1000L)) === ((5L, 2L, Some(497500000L))))
    assert(out(("g2", 1000000L))._1 === 10L) // lower median of 1..18 + twins
    assert(out(("g3", 100L)) === ((10L, 0L, None)))
    // the z-test on g2 misses what MAD catches (the breakdown story)
    assert(Stats.zScoreOutliers(g2.toDF("g", "v"), Seq("g"), "v", z = 2.5)
      .count() === 0L)
    assert(run(df.repartition(13)) === out)
    val err = intercept[IllegalArgumentException] {
      Stats.madOutliers(Seq(("a", 1.5)).toDF("g", "v"), Seq("g"), "v")
    }
    assert(err.getMessage.contains("integral"))
  }

  test("intersectIntervals: clipped AND of flattened coverages; touching intervals intersect empty; fragments fold first") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // u1 side A: fragments [0,6)+[4,10) fold to [0,10), plus [20,30)
    // u1 side B: [5,25) -> intersections [5,10) and [20,25)
    // u2: A [0,10) and B [10,20) touch -> empty
    // u3: only on side A -> absent
    val a = Seq(("u1", t(0), t(6)), ("u1", t(4), t(10)), ("u1", t(20), t(30)),
      ("u2", t(0), t(10)), ("u3", t(0), t(100)),
      ("u1", t(50), t(50)), // empty interval drops
      (null, t(0), t(10))).toDF("k", "a_s", "a_e")
    val b = Seq(("u1", t(5), t(25)), ("u2", t(10), t(20)))
      .toDF("k", "b_s", "b_e")
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      Temporal.intersectIntervals(l, r, "a_s", "a_e", "b_s", "b_e",
        bucketSeconds = 4L, keys = Seq("k")).collect()
        .map(x => (x.getString(0),
          x.getAs[java.sql.Timestamp]("valid_from").getTime / 1000,
          x.getAs[java.sql.Timestamp]("valid_to").getTime / 1000,
          x.getAs[Long]("duration_us"))).toSet
    val out = run(a, b)
    assert(out === Set(("u1", 5L, 10L, 5000000L), ("u1", 20L, 25L, 5000000L)))
    assert(run(a.repartition(13), b.repartition(7)) === out)
  }

  test("activityGaps: silences over threshold per key; ties and boundary exact; leading/trailing unobservable") {
    import spark.implicits._
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val rows = Seq(
      ("a", t(0)), ("a", t(0)), ("a", t(100)), // tie at 0; gap 100 > 60
      ("a", t(160)), ("a", t(221)),            // 60 NOT > 60; 61 flags
      ("b", t(5)),                             // single event: no gaps
      (null, t(0)), ("c", null)).toDF("k", "ts")
    def run(df: org.apache.spark.sql.DataFrame) =
      Temporal.activityGaps(df, "k", "ts", minGapSeconds = 60L).collect()
        .map(r => (r.getString(0),
          r.getAs[java.sql.Timestamp]("gap_start").getTime / 1000,
          r.getAs[java.sql.Timestamp]("gap_end").getTime / 1000,
          r.getAs[Long]("gap_us"))).toSet
    val out = run(rows.toDF("k", "ts"))
    assert(out === Set(("a", 0L, 100L, 100000000L),
      ("a", 160L, 221L, 61000000L)))
    assert(run(rows.toDF("k", "ts").repartition(13)) === out)
  }

  test("interarrivalStats: periodic reads cv2 0; hand-computed bursty cv2; single-event NULLs; all-tied reads mean 0 cv2 NULL; ties invariant; invariant") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def run(rows: Seq[(String, java.sql.Timestamp)]) =
      Temporal.interarrivalStats(rows.toDF("k", "ts"), "k", "ts")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.get(4)), Option(r.get(5))))).toMap
    // p: events at 0,10,20,30 -> gaps all 1e7us: mean 1e7, cv2 exactly 0
    // b: events at 0,1,2,33 -> gaps us {1e6,1e6,31e6}: S1=33e6, S2=963e12;
    //    cv2 = (3*963e12 - 33e6^2)*1e6 div (33e6^2)
    //        = (2889e12 - 1089e12)*1e6 div 1089e12 = 1652892
    // s: one event -> 0 gaps, NULL mean/cv2, span 0
    // z: three events same second -> gaps {0,0}: mean 0, cv2 NULL
    val rows = Seq(
      ("p", t(0)), ("p", t(10)), ("p", t(20)), ("p", t(30)),
      ("b", t(0)), ("b", t(1)), ("b", t(2)), ("b", t(33)),
      ("s", t(5)),
      ("z", t(7)), ("z", t(7)), ("z", t(7)))
    val out = run(rows)
    assert(out("p") === ((4L, 3L, 30000000L, Some(10000000L), Some(0L))))
    assert(out("b") === ((4L, 3L, 33000000L, Some(11000000L), Some(1652892L))))
    assert(out("s") === ((1L, 0L, 0L, None, None)))
    assert(out("z") === ((3L, 2L, 0L, Some(0L), None)))
    // tie-order invariance: equal timestamps contribute zero gaps whichever
    // row the lag window picks first (sorted-multiset difference argument)
    assert(run(rows.reverse) === out)
    val rnd = (1 to 300).map(i => (s"u${i % 5}", t(((i * 37) % 250).toLong)))
    val x = Temporal.interarrivalStats(rnd.toDF("k", "ts"), "k", "ts")
      .collect().map(_.toSeq).toSet
    val y = Temporal.interarrivalStats(
      rnd.toDF("k", "ts").repartition(13), "k", "ts")
      .collect().map(_.toSeq).toSet
    assert(y === x)
  }

  test("trendLines: perfect line recovers slope/intercept/r2 exactly; flat and single-point groups read NULL; partitioning-invariant") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // g: v = 2t + 5 exactly -> slope 2/s = 172800/day, r2 = 1
    val line = (1000L to 1019L).map(t => ("g", ts(t), 2L * t + 5L))
    val flat = (1000L to 1009L).map(t => ("f", ts(t), 7L))
    val one = Seq(("o", ts(1000L), 3L))
    val df = (line ++ flat ++ one).toDF("g", "ts", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.trendLines(d, Seq("g"), "ts", "v").collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    val out = run(df)
    assert(out("g") === ((20L, Some(172800.0), Some(5.0), Some(1.0))))
    // flat: slope exactly 0, intercept 7, but r2 NULL (zero value variance)
    assert(out("f") === ((10L, Some(0.0), Some(7.0), None)))
    // single point: zero time variance -> no line at all
    assert(out("o") === ((1L, None, None, None)))
    assert(run(df.repartition(13)) === out)
    val err = intercept[IllegalArgumentException] {
      Stats.trendLines(Seq(("a", ts(1), 1.5)).toDF("g", "ts", "v"),
        Seq("g"), "ts", "v")
    }
    assert(err.getMessage.contains("integral"))
  }

  test("positionAttribution: U-shape credits sum to exactly 1e6 per conversion; ties rank by id; unattributed surface as NULL channel") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user A: conv X@100 sees 4 touches (10v 20c 30v 40s):
    //   first v 400000, mid c/v 100000 each, last s 400000
    // user A: conv Y@25 sees 2 touches (10v 20c): 500000 each
    // user B: conv Z@50 sees none -> NULL-channel row
    // user C: conv W@100, 3 touches with a TIE at t=10 (ids 2 < 3):
    //   first = id 2 (c) 400000 (+ 200000 mod 1 = 0), mid id 3 (v) 200000,
    //   last @20 (s) 400000
    val conv = Seq(("A", 900L, 100L), ("A", 901L, 25L), ("B", 902L, 50L),
      ("C", 903L, 100L))
      .map { case (u, id, t) => (u, id, ts(t)) }.toDF("user_id", "cid", "cts")
    val tch = Seq(
      ("A", 1L, 10L, "v"), ("A", 2L, 20L, "c"), ("A", 3L, 30L, "v"),
      ("A", 4L, 40L, "s"),
      ("C", 2L, 10L, "c"), ("C", 3L, 10L, "v"), ("C", 4L, 20L, "s"))
      .map { case (u, id, t, ch) => (u, id, ts(t), ch) }
      .toDF("user_id", "tid", "tts", "ch")
    def run(c: org.apache.spark.sql.DataFrame, t: org.apache.spark.sql.DataFrame) =
      Temporal.positionAttribution(c, t, Seq("user_id"),
        "cts", "cid", "tts", "tid", "ch", lookbackSeconds = 1000L)
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = run(conv, tch)
    // v: X(400000 + 100000) + Y(500000) + W(200000) = 1200000, 3 convs
    assert(out(Some("v")) === ((4L, 3L, 1200000L)))
    // c: X(100000) + Y(500000) + W(400000) = 1000000, 3 convs
    assert(out(Some("c")) === ((3L, 3L, 1000000L)))
    // s: X(400000) + W(400000), 2 convs
    assert(out(Some("s")) === ((2L, 2L, 800000L)))
    // unattributed conversion Z
    assert(out(None) === ((0L, 1L, 0L)))
    // conservation: total credit = 1e6 x 3 attributed conversions
    assert(out.values.map(_._3).sum === 3000000L)
    assert(run(conv.repartition(7), tch.repartition(5)) === out)
    // NULL-channel touches drop before the join: B's in-window NULL touch
    // must NOT turn the unattributed NULL row into a credited one
    val tchN = tch.unionByName(Seq(("B", 9L, 40L))
      .map { case (u, id, t) => (u, id, ts(t), null.asInstanceOf[String]) }
      .toDF("user_id", "tid", "tts", "ch"))
    assert(run(conv, tchN) === out)
  }

  test("emdDrift: hand W1 distances; identical reads 0; unit shift reads 1e6 micro; sub-micro gaps quantize to zero") {
    import spark.implicits._
    def run(rows: Seq[(String, Double)]) =
      Stats.emdDrift(rows.toDF("g", "v"), "g", "v").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a={0,1}, b={1}: mass 1/2 moves distance 1 -> 500000 micro
    val h = run(Seq(("a", 0.0), ("a", 1.0), ("b", 1.0)))
    assert(h(("a", "b")) === ((2L, 1L, 500000L)))
    // identical distributions: exactly zero
    val ident = run(Seq(("a", 3.0), ("a", 7.0), ("b", 3.0), ("b", 7.0)))
    assert(ident(("a", "b")) === ((2L, 2L, 0L)))
    // whole-distribution shift by 1.0: W1 = 1e6 micro regardless of spread
    val shift = run(Seq(("a", 0.0), ("a", 10.0), ("b", 1.0), ("b", 11.0)))
    assert(shift(("a", "b")) === ((2L, 2L, 1000000L)))
    // values closer than 1e-6 carry zero lattice width
    val tiny = run(Seq(("a", 1.0), ("b", 1.0 + 1e-9)))
    assert(tiny(("a", "b"))._3 === 0L)
    // three groups -> three pairs; partitioning-invariant
    val rows = (1 to 300).map(i =>
      (s"g${i % 3}", ((i * 7) % 50).toDouble / 4.0))
    val out = Stats.emdDrift(rows.toDF("g", "v"), "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(out.size === 3)
    val rep = Stats.emdDrift(rows.toDF("g", "v").repartition(13), "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(rep === out)
  }

  test("rankSumTest: hand U/z2 incl. tie correction; separation reads u_ppm 0; stochastic equality reads 500000 with z2 0; all-tied pool reads NULL z2") {
    import spark.implicits._
    def run(rows: Seq[(String, Double)]) =
      Stats.rankSumTest(rows.toDF("g", "v"), "g", "v").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    // complete separation a={1,2} < b={3,4}: U=0, u_ppm=0; no ties so
    // W=(N+1)N(N-1)=60, d=-n_a*n_b=-4, z2 = 16*3*4*3/(4*60) = 2.4 — the
    // classic small-sample normal approximation (mu=2, sigma2=5/3)
    assert(run(Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)))(("a", "b"))
      === ((2L, 2L, 0L, 0L, Some(2.4))))
    // identical distributions a=b={1,2}: U = 1 win + 2 half-ties = 2 =
    // n_a*n_b/2 -> u_ppm 500000 (stochastically equal), d=0 -> z2=0
    assert(run(Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)))(("a", "b"))
      === ((2L, 2L, 4L, 500000L, Some(0.0))))
    // tie correction by hand: a={1,2,2}, b={2,3}: wins 0, ties 2 (the two
    // a-2s vs the b-2) -> u2=2, u_ppm = 2e6/12 = 166666; pooled tie group
    // t=3 at v=2 eats 24 from W: W = 6*5*4-24 = 96, d = 2-6 = -4,
    // z2 = 16*3*5*4/(6*96) = 1.666667 (classic: (U-mu)^2/sigma2 = 4/2.4)
    assert(run(Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)))(
      ("a", "b")) === ((3L, 2L, 2L, 166666L, Some(1.666667))))
    // every pooled value identical: zero variance -> z2 NULL, not a test;
    // u_ppm still reads the half-tie 500000
    assert(run(Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)))(("a", "b"))
      === ((2L, 1L, 2L, 500000L, None)))
    // NULL groups/values drop; three groups -> three pairs; invariant
    // under repartitioning
    val rows = (1 to 300).map(i =>
      (s"g${i % 3}", ((i * 7) % 50).toDouble / 4.0))
    val out = Stats.rankSumTest(rows.toDF("g", "v"), "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(out.size === 3)
    val rep = Stats.rankSumTest(
      rows.toDF("g", "v").repartition(13), "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(rep === out)
    val withNulls = rows.toDF("g", "v")
      .unionByName(Seq(("zz", Option.empty[Double])).toDF("g", "v"))
      .unionByName(Seq((Option.empty[String], 9.0)).toDF("g", "v"))
    val outN = Stats.rankSumTest(withNulls, "g", "v").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(outN === out)
  }

  test("concentrationPanel: hand Gini/HHI/top-share; even reads gini 0, one owner reads (n-1)/n; zero-mass group reads NULL; micro floor") {
    import spark.implicits._
    def run(rows: Seq[(String, String, Double)], topK: Int = 10) =
      Stats.concentrationPanel(
        rows.toDF("g", "e", "v"), "g", "e", "v", topK).collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    // even: 4 entities x 1.0 -> HHI = 1e6/4, gini 0, top-10 share = all
    assert(run(Seq(("g", "a", 1.0), ("g", "b", 1.0), ("g", "c", 1.0),
      ("g", "d", 1.0)))("g") === ((4L, 4000000L, 250000L, 0L, 1000000L)))
    // one owner of 4: HHI 1e6, gini = 3/4 (the (n-1)/n ceiling)
    assert(run(Seq(("g", "a", 1.0), ("g", "b", 0.0), ("g", "c", 0.0),
      ("g", "d", 0.0)))("g") === ((4L, 1000000L, 1000000L, 750000L, 1000000L)))
    // hand case values {3,1}: T=4e6, HHI=(9+1)/16 -> 625000, gini: ranks
    // asc (1,1e6),(2,3e6) -> (2*7e6-3*4e6)*1e6/(2*4e6) = 250000; topK=1
    // share 3/4
    assert(run(Seq(("g", "a", 3.0), ("g", "b", 1.0)), topK = 1)("g")
      === ((2L, 4000000L, 625000L, 250000L, 750000L)))
    // multi-entity rows aggregate per entity before ranking: a=1+2, b=3
    // is two equal entities -> gini 0
    assert(run(Seq(("g", "a", 1.0), ("g", "a", 2.0), ("g", "b", 3.0)))("g")
      === ((2L, 6000000L, 500000L, 0L, 1000000L)))
    // zero-mass group: indices NULL, entity count stays
    assert(run(Seq(("z", "a", 0.0), ("z", "b", 0.0)))("z")
      === ((2L, 0L, -1L, -1L, -1L)))
    // micro floor lane: 0.5 -> 500000; NULLs drop; two groups independent
    val out = run(Seq(("g", "a", 0.5), ("g", "b", 0.25),
      ("h", "x", 2.0), (null, "q", 9.0), ("g", null, 9.0)))
    assert(out("g")._2 === 750000L && out("h")._1 === 1L && out.size === 2)
    // partitioning-invariant
    val rows = (1 to 400).map(i =>
      (s"g${i % 3}", s"e${i % 37}", ((i * 7) % 50).toDouble / 4.0))
    assert(run(rows) === Stats.concentrationPanel(
      rows.toDF("g", "e", "v").repartition(13), "g", "e", "v", 10).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap)
  }

  test("monitoring family: every operator rejects a bad bucket width, ppm weight, period or key list") {
    import spark.implicits._
    val ev = Seq(("a", ts("2024-01-01 00:00:00"), 1.0)).toDF("g", "ts", "v")
    val st = Seq(("a", "2024-01-01", 1L)).toDF("g", "dt", "sum_value")
    val g = Seq("g")
    val bucket = "bucketSeconds must be positive"
    def ppm(n: String, v: Long) = s"$n must be in [1, 1000000], got $v"
    val cases: Seq[(String, () => Any, String)] = Seq(
      ("theilSen", () => Stats.theilSen(ev, "g", "ts", "v", 0L), bucket),
      ("autocorrelation", () => Stats.autocorrelation(ev, "g", "ts", "v", 0L, Seq(1)), bucket),
      ("crossCorrelation", () => Stats.crossCorrelation(ev, "g", "ts", "v", 0L, Seq(0)), bucket),
      ("cusumChangepoint", () => Stats.cusumChangepoint(ev, "g", "ts", "v", 0L), bucket),
      ("ewmaChart", () => Stats.ewmaChart(ev, "g", "ts", "v", 0L), bucket),
      ("holtChart", () => Stats.holtChart(ev, "g", "ts", "v", 0L), bucket),
      ("holtWintersChart", () => Stats.holtWintersChart(ev, "g", "ts", "v", 0L), bucket),
      ("seasonalAnomaly", () => Stats.seasonalAnomaly(ev, "g", "ts", "v", 0L), bucket),
      ("seasonalAnomaly band", () => Stats.seasonalAnomaly(ev, "g", "ts", "v", bandPpm = 0L),
        "bandPpm must be positive"),
      ("holtWintersChart period 1", () => Stats.holtWintersChart(ev, "g", "ts", "v", 60L,
        period = 1), "period must be in [2, 1000], got 1"),
      ("holtWintersChart period 1001", () => Stats.holtWintersChart(ev, "g", "ts", "v", 60L,
        period = 1001), "period must be in [2, 1000], got 1001"),
      ("holtWintersFromDailyState period 1", () => Stats.holtWintersFromDailyState(st, g,
        period = 1), "period must be in [2, 1000], got 1"),
      ("holtWintersFromDailyState period 1001", () => Stats.holtWintersFromDailyState(st, g,
        period = 1001), "period must be in [2, 1000], got 1001"),
      ("ewmaFromDailyState keys", () => Stats.ewmaFromDailyState(st, Nil),
        "need at least one key column"),
      ("holtFromDailyState keys", () => Stats.holtFromDailyState(st, Nil),
        "need at least one key column"),
      ("holtWintersFromDailyState keys", () => Stats.holtWintersFromDailyState(st, Nil),
        "need at least one key column")
    ) ++ Seq(0L, 1000001L).flatMap(v => Seq(
      ("ewmaChart alphaPpm", () => Stats.ewmaChart(ev, "g", "ts", "v", 60L, alphaPpm = v),
        ppm("alphaPpm", v)),
      ("holtChart alphaPpm", () => Stats.holtChart(ev, "g", "ts", "v", 60L, alphaPpm = v),
        ppm("alphaPpm", v)),
      ("holtChart betaPpm", () => Stats.holtChart(ev, "g", "ts", "v", 60L, betaPpm = v),
        ppm("betaPpm", v)),
      ("holtWintersChart alphaPpm", () => Stats.holtWintersChart(ev, "g", "ts", "v", 60L,
        alphaPpm = v), ppm("alphaPpm", v)),
      ("holtWintersChart betaPpm", () => Stats.holtWintersChart(ev, "g", "ts", "v", 60L,
        betaPpm = v), ppm("betaPpm", v)),
      ("holtWintersChart gammaPpm", () => Stats.holtWintersChart(ev, "g", "ts", "v", 60L,
        gammaPpm = v), ppm("gammaPpm", v)),
      ("ewmaFromDailyState alphaPpm", () => Stats.ewmaFromDailyState(st, g, alphaPpm = v),
        ppm("alphaPpm", v)),
      ("holtFromDailyState alphaPpm", () => Stats.holtFromDailyState(st, g, alphaPpm = v),
        ppm("alphaPpm", v)),
      ("holtFromDailyState betaPpm", () => Stats.holtFromDailyState(st, g, betaPpm = v),
        ppm("betaPpm", v)),
      ("holtWintersFromDailyState alphaPpm", () => Stats.holtWintersFromDailyState(st, g,
        alphaPpm = v), ppm("alphaPpm", v)),
      ("holtWintersFromDailyState betaPpm", () => Stats.holtWintersFromDailyState(st, g,
        betaPpm = v), ppm("betaPpm", v)),
      ("holtWintersFromDailyState gammaPpm", () => Stats.holtWintersFromDailyState(st, g,
        gammaPpm = v), ppm("gammaPpm", v))))
    assert(cases.length === 40)
    cases.foreach { case (name, call, message) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage === s"requirement failed: $message", name)
    }
    // the bounds themselves are accepted
    Stats.holtWintersChart(ev, "g", "ts", "v", 1L, period = 1000, alphaPpm = 1L,
      betaPpm = 1000000L, gammaPpm = 1L)
    Stats.holtWintersFromDailyState(st, g, period = 2, alphaPpm = 1000000L)
  }

  test("ewmaChart: hand recurrence at alpha=1/2; first bucket seeds with NULL residual; missing buckets skip; NULLs drop; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp, Double)], alphaPpm: Long) =
      Stats.ewmaChart(rows.toDF("g", "ts", "v"), "g", "ts", "v",
        bucketSeconds = 60L, alphaPpm = alphaPpm).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))).toMap
    // minute buckets, values 4, 8, 8 at alpha = 1/2: s = 4e6, 6e6, 7e6
    // micro; residuals NULL, 4e6, 2e6 (the one-step prediction errors)
    val out = run(Seq(
      ("g", ts("2024-01-01 00:00:30"), 4.0),
      ("g", ts("2024-01-01 00:01:30"), 8.0),
      ("g", ts("2024-01-01 00:02:30"), 8.0)), 500000L)
    val t0 = ts("2024-01-01 00:00:00").getTime
    assert(out === Map(
      ("g", t0) -> ((4000000L, 4000000L, Long.MinValue)),
      ("g", t0 + 60000L) -> ((8000000L, 6000000L, 4000000L)),
      ("g", t0 + 120000L) -> ((8000000L, 7000000L, 2000000L))))
    // same-bucket rows sum before smoothing; missing buckets skip (the
    // recurrence runs over OBSERVED buckets)
    val sparse = run(Seq(
      ("g", ts("2024-01-01 00:00:10"), 1.0),
      ("g", ts("2024-01-01 00:00:50"), 3.0),
      ("g", ts("2024-01-01 00:30:00"), 8.0)), 500000L)
    assert(sparse(("g", t0)) === ((4000000L, 4000000L, Long.MinValue)))
    assert(sparse(("g", t0 + 1800000L)) === ((8000000L, 6000000L, 4000000L)))
    // alpha = 1: the chart follows the series exactly
    val follow = run(Seq(
      ("g", ts("2024-01-01 00:00:30"), 4.0),
      ("g", ts("2024-01-01 00:01:30"), 9.0)), 1000000L)
    assert(follow(("g", t0 + 60000L))._2 === 9000000L)
    // NULLs drop; groups independent; partitioning-invariant
    val rows = (1 to 300).map(i => (s"g${i % 3}",
      ts(f"2024-01-01 ${i % 24}%02d:${(i * 7) % 60}%02d:00"),
      ((i * 13) % 50).toDouble / 4.0))
    val a = run(rows, 300000L)
    val b = Stats.ewmaChart(rows.toDF("g", "ts", "v").repartition(13),
      "g", "ts", "v", 60L, 300000L).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))).toMap
    assert(b === a)
  }

  test("holtChart: hand level+trend recurrence at alpha=beta=1/2; trending series residuals center; NULLs drop; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp, Double)], aPpm: Long, bPpm: Long) =
      Stats.holtChart(rows.toDF("g", "ts", "v"), "g", "ts", "v",
        bucketSeconds = 60L, alphaPpm = aPpm, betaPpm = bPpm).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) Long.MinValue else r.getLong(3),
            if (r.isNullAt(4)) Long.MinValue else r.getLong(4),
            if (r.isNullAt(5)) Long.MinValue else r.getLong(5)))).toMap
    // minute buckets, values 4, 8, 12 at alpha = beta = 1/2 (micro units):
    //  t0: l = 4e6, b = 0, r = NULL
    //  t1: f = 4e6;  l = .5·8e6 + .5·4e6 = 6e6;  b = .5·2e6 + 0 = 1e6; r = 4e6
    //  t2: f = 7e6;  l = .5·12e6 + .5·7e6 = 9.5e6; b = .5·3.5e6 + .5·1e6
    //      = 2.25e6; r = 5e6
    val out = run(Seq(
      ("g", ts("2024-01-01 00:00:30"), 4.0),
      ("g", ts("2024-01-01 00:01:30"), 8.0),
      ("g", ts("2024-01-01 00:02:30"), 12.0)), 500000L, 500000L)
    val t0 = ts("2024-01-01 00:00:00").getTime
    assert(out === Map(
      ("g", t0) -> ((4000000L, 4000000L, 0L, Long.MinValue)),
      ("g", t0 + 60000L) -> ((8000000L, 6000000L, 1000000L, 4000000L)),
      ("g", t0 + 120000L) -> ((12000000L, 9500000L, 2250000L, 5000000L))))
    // the Holt point vs the EWMA chart: on a perfectly linear series the
    // trend estimate converges toward the true slope and the residual
    // SHRINKS with each step, where ewmaChart's residual stays at a
    // constant lag — run 8 linear steps and compare the last residuals
    val linear = (0 to 7).map(i =>
      ("g", ts(f"2024-01-01 00:0$i:30"), 10.0 + 5.0 * i))
    val holtLast = run(linear, 500000L, 500000L)(("g", t0 + 7 * 60000L))._4
    val ewmaLast = Stats.ewmaChart(linear.toDF("g", "ts", "v"), "g", "ts",
        "v", 60L, 500000L).collect()
      .filter(!_.isNullAt(4))
      .map(r => r.getTimestamp(1).getTime -> r.getLong(4)).toMap
      .apply(t0 + 7 * 60000L)
    assert(math.abs(holtLast) < ewmaLast,
      s"Holt must out-forecast EWMA on a linear trend: |$holtLast| vs $ewmaLast")
    // NULLs drop; groups independent; partitioning-invariant
    val rows = (1 to 300).map(i => (s"g${i % 3}",
      ts(f"2024-01-01 ${i % 24}%02d:${(i * 7) % 60}%02d:00"),
      ((i * 13) % 50).toDouble / 4.0))
    val a = run(rows, 300000L, 100000L)
    val b = Stats.holtChart(rows.toDF("g", "ts", "v").repartition(13),
      "g", "ts", "v", 60L, 300000L, 100000L).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3),
          if (r.isNullAt(4)) Long.MinValue else r.getLong(4),
          if (r.isNullAt(5)) Long.MinValue else r.getLong(5)))).toMap
    assert(b === a)
  }

  test("holtWintersChart: hand level+trend+seasonal recurrence at period 2; periodic series out-forecasts Holt; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp, Double)]) =
      Stats.holtWintersChart(rows.toDF("g", "ts", "v"), "g", "ts", "v",
        bucketSeconds = 60L, period = 2,
        alphaPpm = 500000L, betaPpm = 500000L, gammaPpm = 500000L).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) Long.MinValue else r.getLong(3),
            if (r.isNullAt(4)) Long.MinValue else r.getLong(4),
            if (r.isNullAt(5)) Long.MinValue else r.getLong(5),
            if (r.isNullAt(6)) Long.MinValue else r.getLong(6)))).toMap
    // minute buckets, values 4, 8, 12, 6 at alpha=beta=gamma=1/2, period 2
    // (2024-01-01T00:00 is an EVEN epoch minute, so phases go 0,1,0,1):
    //  t0 ph0: seed l=4e6 t=0 s=[0,0] si=0 r=NULL
    //  t1 ph1: sPrev=0; f=4e6; l=.5*8e6+.5*4e6=6e6; t=.5*2e6=1e6;
    //          si=.5*(8e6-6e6)=1e6; r=4e6
    //  t2 ph0: sPrev=0; f=7e6; l=.5*12e6+.5*7e6=9.5e6;
    //          t=.5*3.5e6+.5e6=2.25e6; si=.5*2.5e6=1.25e6; r=5e6
    //  t3 ph1: sPrev=1e6; f=9.5e6+2.25e6+1e6=12.75e6;
    //          l=.5*(6e6-1e6)+.5*11.75e6=8.375e6;
    //          t=.5*(8.375e6-9.5e6)+.5*2.25e6=562500;
    //          si=.5*(6e6-8.375e6)+.5*1e6=-687500; r=-6.75e6
    val out = run(Seq(
      ("g", ts("2024-01-01 00:00:30"), 4.0),
      ("g", ts("2024-01-01 00:01:30"), 8.0),
      ("g", ts("2024-01-01 00:02:30"), 12.0),
      ("g", ts("2024-01-01 00:03:30"), 6.0)))
    val t0 = ts("2024-01-01 00:00:00").getTime
    assert(out === Map(
      ("g", t0) -> ((4000000L, 4000000L, 0L, 0L, Long.MinValue)),
      ("g", t0 + 60000L) -> ((8000000L, 6000000L, 1000000L, 1000000L, 4000000L)),
      ("g", t0 + 120000L) -> ((12000000L, 9500000L, 2250000L, 1250000L, 5000000L)),
      ("g", t0 + 180000L) -> ((6000000L, 8375000L, 562500L, -687500L, -6750000L))))
    // the Winters point vs plain Holt: on a purely periodic series the
    // seasonal indices absorb the oscillation and the residual shrinks,
    // where Holt's trend chases the alternation forever
    val periodic = (0 to 11).map(i =>
      ("g", ts(f"2024-01-01 00:$i%02d:30"), if (i % 2 == 0) 10.0 else 20.0))
    val hwLast = run(periodic)(("g", t0 + 11 * 60000L))._5
    val holtLast = Stats.holtChart(periodic.toDF("g", "ts", "v"),
        "g", "ts", "v", 60L, 500000L, 500000L).collect()
      .filter(!_.isNullAt(5))
      .map(r => r.getTimestamp(1).getTime -> r.getLong(5)).toMap
      .apply(t0 + 11 * 60000L)
    assert(math.abs(hwLast) < math.abs(holtLast),
      s"Winters must out-forecast Holt on a periodic series: |$hwLast| vs |$holtLast|")
    // partitioning-invariant
    val rows = (1 to 300).map(i => (s"g${i % 3}",
      ts(f"2024-01-01 ${i % 24}%02d:${(i * 7) % 60}%02d:00"),
      ((i * 13) % 50).toDouble / 4.0))
    val a = run(rows)
    val b = Stats.holtWintersChart(rows.toDF("g", "ts", "v").repartition(13),
      "g", "ts", "v", 60L, 2, 500000L, 500000L, 500000L).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3),
          if (r.isNullAt(4)) Long.MinValue else r.getLong(4),
          if (r.isNullAt(5)) Long.MinValue else r.getLong(5),
          if (r.isNullAt(6)) Long.MinValue else r.getLong(6)))).toMap
    assert(b === a)
  }

  test("spearmanCorrelations: monotone-nonlinear reads exactly 1 where Pearson can't; ties average; outlier-robust; id-value and partitioning invariant") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long, Long)]) =
      Stats.spearmanCorrelations(
        rows.toDF("id", "x", "y"), Seq("id"), Seq("x", "y"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    // a perfect monotone but NONLINEAR relation: rho = 1 exactly, while
    // Pearson on the same data is strictly below 1 — the family split
    val cubic = (1L to 12L).map(i => (i, i, i * i * i))
    assert(run(cubic)(("x", "y")) === ((12L, 1.0)))
    val pearson = Stats.correlations(
      cubic.toDF("id", "x", "y"), Seq("x", "y"))
      .collect().head.getDouble(3)
    assert(pearson < 1.0 && pearson > 0.9)
    // reversed: exactly -1
    assert(run((1L to 9L).map(i => (i, i, 100L - i)))(("x", "y"))._2 === -1.0)
    // ties take AVERAGE ranks: hand case x=(1,2,2,3) doubled ranks
    // (2,5,5,8), y=(1,3,2,4) doubled ranks (2,6,4,8) — centered products
    // give 18/sqrt(18*20) = 0.948683 (round 6)
    val tied = run(Seq((1L, 1L, 1L), (2L, 2L, 3L), (3L, 2L, 2L), (4L, 3L, 4L)))
    assert(tied(("x", "y")) === ((4L, 0.948683)))
    // one wild outlier barely moves rho (it is one rank step) while
    // Pearson collapses toward it
    val out = (1L to 20L).map(i => (i, i, i)) :+ (21L, 21L, -1000000L)
    val rho = run(out)(("x", "y"))._2.asInstanceOf[Double]
    assert(rho > 0.65, s"rho stays high under one outlier, got $rho")
    val pOut = Stats.correlations(out.toDF("id", "x", "y"), Seq("x", "y"))
      .collect().head.getDouble(3)
    assert(pOut < 0.35, s"Pearson must collapse, got $pOut")
    // zero-variance column: NULL, never NaN
    assert(run((1L to 5L).map(i => (i, 7L, i)))(("x", "y"))._2 === null)
    // listwise NULL drop: a row with any null among cols vanishes
    val withNull = Stats.spearmanCorrelations(
      Seq((1L, Some(1L), Some(1L)), (2L, Some(2L), None),
        (3L, Some(3L), Some(3L)), (4L, Some(4L), Some(4L)))
        .toDF("id", "x", "y"), Seq("id"), Seq("x", "y"))
      .collect().head
    assert(withNull.getLong(2) === 3L && withNull.getDouble(3) === 1.0)
    // id VALUES are irrelevant (only distinctness matters) and the result
    // is partitioning-invariant
    val base = (1L to 50L).map(i => (i, (i * 7) % 23, (i * 13) % 29))
    val a = run(base)
    val relabeled = base.map { case (i, x, y) => (1000L - i, x, y) }
    assert(run(relabeled) === a)
    val c = Stats.spearmanCorrelations(
      base.toDF("id", "x", "y").repartition(13), Seq("id"), Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(c === a)
  }

  test("spearman rank derivation is range-bucketed: no window sorts a whole column's values in one task; doubles rejected") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, (i * 7) % 101, (i * 13) % 37))
      .toDF("id", "x", "y")
    // the scale gate: every Window that orders by a value must ALSO
    // partition by that value's range bucket — a window partitioned by the
    // column (or the pair) alone would run a whole column's values through
    // one task's sort (the 100-TB single-thread hazard the buckets exist to
    // remove). Each window's (partition names, order names) in a plan:
    def rankWindows(q: org.apache.spark.sql.DataFrame): Seq[(Seq[String], Seq[String])] =
      q.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          (w.partitionSpec.flatMap(_.references.map(_.name)),
            w.orderSpec.flatMap(_.references.map(_.name)))
      }
    // pairwise ranks are windows of the final query, over the checkpointed
    // cells; several buckets are forced, since a cell table this small
    // ranks in one bucket (whose bucket key the optimizer folds away)
    val pw = rankWindows(Stats.spearmanPairwise(df, Seq("x", "y"), _ => 8))
    for ((v, rb) <- Seq("_vx" -> "_rbx", "_vy" -> "_rby")) {
      val byValue = pw.filter(_._2.contains(v))
      assert(byValue.nonEmpty, s"expected a rank window ordering by $v")
      byValue.foreach { case (part, _) =>
        assert(part.contains(rb), s"$v window must partition by $rb too: $part")
      }
    }
    // the listwise rank table is eagerly checkpointed at build time, so
    // its final query no longer CONTAINS the rank windows — the gate
    // inspects the doubledRanks derivation plan directly, which is exactly
    // the plan the checkpoint materializes; several buckets are forced, as
    // for the pairwise plan above.
    val melted = df.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.lit("x").as("c"),
          org.apache.spark.sql.functions.col("x").as("v")),
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.lit("y").as("c"),
          org.apache.spark.sql.functions.col("y").as("v")))).as("_e"))
      .select(org.apache.spark.sql.functions.col("_e.c").as("_c"),
        org.apache.spark.sql.functions.col("_e.v").as("_v"))
    val lw = rankWindows(Stats.doubledRanks(melted, Seq("x", "y"), _ => 8))
      .filter(_._2.contains("_v"))
    assert(lw.nonEmpty, "expected rank windows in the plan")
    lw.foreach { case (part, _) =>
      assert(part.contains("_rb"), s"rank window must partition by the range bucket too: $part")
    }
    // and the results survive the bucketing: many distinct values spread
    // over >1 bucket must give the same rho as DuckDB-style hand ranks —
    // x strictly increasing, y = x reversed gives exactly -1 across any
    // bucket boundary placement
    val rev = (1L to 2000L).map(i => (i, i, 2001L - i)).toDF("id", "x", "y")
    val rho = Stats.spearmanCorrelations(rev, Seq("id"), Seq("x", "y"))
      .collect().head.getDouble(3)
    assert(rho === -1.0)
    // the integral fixed-point contract is eager, not a silent rounding:
    // double columns are rejected with the scaling remedy in the message
    val dbl = Seq((1L, 1.5, 2.0), (2L, 2.5, 1.0)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Stats.spearmanCorrelations(dbl, Seq("id"), Seq("x", "y"))
    }
    assert(e.getMessage.contains("fixed point"))
    intercept[IllegalArgumentException] {
      Stats.spearmanPairwise(dbl, Seq("x", "y"))
    }
  }

  test("spearmanPairwise: per-pair n over pairwise-complete rows; listwise contrast on planted NULLs; empty pair emits n=0") {
    import spark.implicits._
    def L(v: Long): Option[Long] = Some(v)
    // x fully observed; y missing on rows 4-6; z missing on rows 1-2:
    // (x,y) sees rows {1,2,3,7,8}, (x,z) sees {3,4,5,6,7,8},
    // (y,z) sees {3,7,8} — three different n where listwise forces one
    val rows = Seq(
      (1L, L(10), L(1), Option.empty[Long]),
      (2L, L(20), L(3), Option.empty[Long]),
      (3L, L(30), L(2), L(5)),
      (4L, L(40), None, L(4)),
      (5L, L(50), None, L(3)),
      (6L, L(60), None, L(2)),
      (7L, L(70), L(4), L(1)),
      (8L, L(80), L(5), L(6))).toDF("id", "x", "y", "z")
    val pw = Stats.spearmanPairwise(rows, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(pw.size === 3)
    assert(pw(("x", "y"))._1 === 5L)
    assert(pw(("x", "z"))._1 === 6L)
    assert(pw(("y", "z"))._1 === 3L)
    // hand check (y,z) over rows 3,7,8: y=(2,4,5) ranks (1,2,3),
    // z=(5,1,6) ranks (2,1,3) -> rho = 0.5
    assert(pw(("y", "z"))._2 === 0.5)
    // (x,z): z = (5,4,3,2,1,6) vs x increasing -> hand Spearman over
    // ranks (1..6) x (5,4,3,2,1,6): sum d^2 = 40, rho = 1 - 240/210 =
    // -0.142857 (round 6)
    assert(pw(("x", "z"))._2 === -0.142857)
    // listwise on the same table sees ONLY rows {3,7,8} for every pair
    val lw = Stats.spearmanCorrelations(rows, Seq("id"), Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(lw.values.toSet === Set(3L))
    // a pair with zero complete rows still emits, n=0 and NULL rho
    val disjoint = Seq(
      (1L, L(1), Option.empty[Long]), (2L, L(2), Option.empty[Long]),
      (3L, Option.empty[Long], L(1)), (4L, Option.empty[Long], L(2)))
      .toDF("id", "x", "y")
    val empty = Stats.spearmanPairwise(disjoint, Seq("x", "y")).collect()
    assert(empty.length === 1)
    assert(empty.head.getLong(2) === 0L && empty.head.isNullAt(3))
    // fully-observed table: pairwise == listwise (the contracts agree
    // exactly when nothing is missing)
    val dense = (1L to 60L).map(i => (i, (i * 7) % 23, (i * 13) % 29, i))
      .toDF("id", "x", "y", "z")
    val a = Stats.spearmanCorrelations(dense, Seq("id"), Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val b = Stats.spearmanPairwise(dense, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(b === a)
  }

  /** Driver-side pairwise Spearman: doubled average ranks over each pair's
    * complete rows, exact integer moments, the closed form rounded to 6. */
  private def handSpearman(rows: Seq[Seq[Option[Long]]], cols: Seq[String])
      : Map[(String, String), (Long, Any)] =
    (for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      val xy = rows.flatMap(r => for (x <- r(i); y <- r(j)) yield (x, y))
      def doubled(v: Seq[Long]): Seq[BigInt] = {
        var below = 0L
        val rank = v.groupBy(identity).toSeq.sortBy(_._1).map { case (k, ks) =>
          val r = 2 * below + ks.size + 1
          below += ks.size
          k -> BigInt(r)
        }.toMap
        v.map(rank)
      }
      val (dx, dy) = (doubled(xy.map(_._1)), doubled(xy.map(_._2)))
      val n = BigInt(xy.size)
      val (sx, sy) = (dx.sum, dy.sum)
      val num = (n * dx.zip(dy).map { case (a, b) => a * b }.sum - sx * sy).toDouble
      val va = (n * dx.map(a => a * a).sum - sx * sx).toDouble
      val vb = (n * dy.map(b => b * b).sum - sy * sy).toDouble
      val rho = if (n == 0 || va * vb == 0.0) null
        else BigDecimal(num / math.sqrt(va * vb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cols(i), cols(j)) -> ((xy.size.toLong, rho))
    }).toMap

  private def pairwiseMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      ((r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))).toMap

  test("spearmanPairwise: any bucket count gives the one-bucket result and the hand ranking (ties, NULLs, a hot value, a zero-row pair)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    def maybe(pNull: Double)(v: => Long): Option[Long] =
      if (rnd.nextDouble() < pNull) None else Some(v)
    // a: 50 values, heavy ties; b: one hot value on ~40% of its rows;
    // c: near-continuous; d and e never both present (a zero-row pair)
    val rows = (1 to 3000).map { i =>
      Seq(
        maybe(0.1)(rnd.nextInt(50).toLong),
        maybe(0.2)(if (rnd.nextDouble() < 0.4) 7L else rnd.nextInt(100000).toLong),
        maybe(0.0)(rnd.nextLong() % 1000000L),
        if (i % 2 == 0) Some(rnd.nextInt(300).toLong) else None,
        if (i % 2 == 1) maybe(0.3)(rnd.nextInt(20).toLong) else None)
    }
    val cols = Seq("a", "b", "c", "d", "e")
    val df = rows.map(r => (r(0), r(1), r(2), r(3), r(4))).toDF(cols: _*)
    val hand = handSpearman(rows, cols)
    assert(hand(("d", "e")) === ((0L, null)))
    val one = pairwiseMap(Stats.spearmanPairwise(df, cols, _ => 1))
    assert(one === hand)
    for (b <- Seq(2, 8, 256))
      assert(pairwiseMap(Stats.spearmanPairwise(df, cols, _ => b)) === one, s"$b buckets")
    assert(pairwiseMap(Stats.spearmanPairwise(df, cols)) === one, "the default rule")
    intercept[IllegalArgumentException](Stats.spearmanPairwise(df, cols, _ => 3))
  }

  test("spearmanPairwise: one call submits 5 jobs in one bucket, 6 in several") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i % 7, (i * 13) % 101, Option(i).filter(_ % 5 != 0)))
      .toDF("x", "y", "z")
    // the cell table's checkpoint (its exchange and its own job, which also
    // observes the cell count and the boundary sketch), then the query's
    // exchanges and its result: in one bucket the x and y windows share the
    // cells' exchange by pair, in several each side has its own
    for ((b, want) <- Seq(1 -> 5, 8 -> 6)) {
      val (out, jobs) = jobsOf(Stats.spearmanPairwise(df, Seq("x", "y", "z"), _ => b).collect())
      assert(out.length === 3)
      assert(jobs === want, s"$b buckets")
    }
  }

  test("kendallTau: hand pair counts and tie corrections exact; pair identity holds; pairwise NULLs; constant NULL; invariant") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long)]) =
      Stats.kendallTau(rows.toDF("x", "y"), Seq("x", "y"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7)),
            if (r.isNullAt(8)) null else r.getDouble(8))).toMap
    // hand case, no ties: x=(1,2,3,4), y=(1,3,2,4) — the single (2,3)
    // inversion is the one discordant pair; tau = (5-1)/6
    val h = run(Seq((1L, 1L), (2L, 3L), (3L, 2L), (4L, 4L)))(("x", "y"))
    assert(h._1 === ((4L, 5L, 1L, 0L, 0L, 0L)))
    assert(h._2 === 0.666667)
    // perfect concordance on a monotone NONLINEAR relation reads exactly 1
    // (tau consumes order only — the Spearman family property)
    val cubic = (1L to 12L).map(i => (i, i * i * i))
    assert(run(cubic)(("x", "y"))._2 === 1.0)
    assert(run((1L to 9L).map(i => (i, 100L - i)))(("x", "y"))._2 === -1.0)
    // the textbook tie correction: x=(1,1,2,2), y=(1,2,3,4) — C=4, D=0,
    // two x-tied pairs, tau-b = 4/sqrt((6-2)(6-0)) = 0.816497
    val tb = run(Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L)))(("x", "y"))
    assert(tb._1 === ((4L, 4L, 0L, 2L, 0L, 0L)))
    assert(tb._2 === 0.816497)
    // both-tied pairs count in tied_x, tied_y AND tied_both:
    // x=y=(1,1,2): one pair tied in both, two concordant, tau-b = 1
    val bt = run(Seq((1L, 1L), (1L, 1L), (2L, 2L)))(("x", "y"))
    assert(bt._1 === ((3L, 2L, 0L, 1L, 1L, 1L)))
    assert(bt._2 === 1.0)
    // the pair-count identity C + D + n1 + n2 - n_both = n(n-1)/2 on
    // messy pseudo-random tied data (every pair is counted exactly once)
    val messy = (1L to 200L).map(i => ((i * 7) % 13, (i * 11) % 17))
    val m = run(messy)(("x", "y"))._1
    assert(m._2 + m._3 + m._4 + m._5 - m._6 === m._1 * (m._1 - 1) / 2)
    // constant column: n0 = n1, NULL not NaN
    assert(run((1L to 5L).map(i => (7L, i)))(("x", "y"))._2 === null)
    // pairwise-complete: per-pair n differ under planted NULLs, and a
    // pair with zero complete rows still emits n=0/NULL
    def L(v: Long): Option[Long] = Some(v)
    val sparse = Seq(
      (L(1L), L(1L), Option.empty[Long]),
      (L(2L), L(2L), Option.empty[Long]),
      (L(3L), Option.empty[Long], L(1L)),
      (L(4L), Option.empty[Long], L(2L))).toDF("x", "y", "z")
    val pw = Stats.kendallTau(sparse, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(8)) null else r.getDouble(8))).toMap
    assert(pw.size === 3)
    assert(pw(("x", "y")) === ((2L, 1.0)))
    assert(pw(("x", "z")) === ((2L, 1.0)))
    assert(pw(("y", "z")) === ((0L, null)))
    // doubles rejected eagerly with the scaling remedy
    val e = intercept[IllegalArgumentException] {
      Stats.kendallTau(Seq((1.5, 2.0)).toDF("x", "y"), Seq("x", "y"))
    }
    assert(e.getMessage.contains("fixed point"))
    // partitioning invariance
    val base = (1L to 100L).map(i => ((i * 7) % 23, (i * 13) % 29))
    val a = run(base)
    val b = Stats.kendallTau(
      base.toDF("x", "y").repartition(13), Seq("x", "y"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)),
          if (r.isNullAt(8)) null else r.getDouble(8))).toMap
    assert(b === a)
  }

  test("giniGain: hand purity arithmetic exact; leak outranks honest features; per-feature NULLs; invariant") {
    import spark.implicits._
    def panel(df: org.apache.spark.sql.DataFrame, t: String, fs: Seq[String]) =
      Stats.giniGain(df, t, fs).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    // perfect split: parent 0.5, split 0, gain = the whole parent
    val p = panel(Seq(("A", "x"), ("A", "x"), ("B", "y"), ("B", "y"))
      .toDF("t", "f"), "t", Seq("f"))
    assert(p(("f", "x")) === ((2L, 0L, 4L, 2L, 500000L, 0L, 500000L)))
    // useless split: children mirror the parent, gain exactly 0
    val u = panel(Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))
      .toDF("t", "f"), "t", Seq("f"))
    assert(u(("f", "x"))._7 === 0L)
    assert(u(("f", "x"))._2 === 500000L) // child gini = parent gini
    // hand three-class case: t=(A,A,B,C), f=(p,p,q,q) — parent 625000,
    // a_p = 4e6/2, a_q = 2e6/2, split floor 750000 -> gain 375000
    val h = panel(Seq(("A", "p"), ("A", "p"), ("B", "q"), ("C", "q"))
      .toDF("t", "f"), "t", Seq("f"))
    assert(h(("f", "p")) === ((2L, 0L, 4L, 2L, 625000L, 250000L, 375000L)))
    assert(h(("f", "q"))._2 === 500000L)
    // a single-valued feature reads gain 0 (floors included: this case
    // exercises the double-floor path, 5e6/3/3 vs 5e6/9 both 555555)
    val s1 = panel(Seq(("A", "x"), ("A", "x"), ("B", "x"))
      .toDF("t", "f"), "t", Seq("f"))
    assert(s1(("f", "x")) === ((3L, 444445L, 3L, 1L, 444445L, 444445L, 0L)))
    // per-feature-complete: a NULL in one feature drops that row for THAT
    // feature only, and its parent recomputes over the same subset
    val rows = Seq(
      ("A", Some("x"), Some("p")), ("A", Some("x"), None),
      ("B", Some("y"), Some("q")), ("B", Some("y"), Some("q")))
      .toDF("t", "f", "g")
    val pn = panel(rows, "t", Seq("f", "g"))
    assert(pn(("f", "x"))._3 === 4L)  // f sees all 4 rows
    assert(pn(("g", "p"))._3 === 3L)  // g sees 3 (its parent too)
    assert(pn(("g", "p"))._5 === 444445L) // parent gini over {A,B,B}
    // NULL target drops the row everywhere
    val tn = panel(Seq((Some("A"), "x"), (None, "x"), (Some("B"), "y"))
      .toDF("t", "f"), "t", Seq("f"))
    assert(tn(("f", "x"))._3 === 2L)
    // the defining screen reading: a LEAKED feature (deterministic
    // function of the target) carries near-parent gain; an independent
    // one sits at ~0 — the ranking is unambiguous
    val big = (1 to 400).map { i =>
      val t = Seq("aa", "bbb", "cccc")(i % 3)
      (t, (i % 7).toString, t.length.toString)
    }.toDF("t", "rand", "leak")
    val pb = panel(big, "t", Seq("rand", "leak"))
    val leakGain = pb(("leak", "2"))._7
    val randGain = pb(("rand", "0"))._7
    assert(leakGain > 600000L, s"leak gain should approach parent, got $leakGain")
    assert(randGain < 10000L, s"independent feature should read ~0, got $randGain")
    // partitioning invariance
    val a = panel(big, "t", Seq("rand", "leak"))
    val b = panel(big.repartition(13), "t", Seq("rand", "leak"))
    assert(b === a)
  }

  test("theilSen: outlier-immune median slope where OLS drags; sign-split truncation exact; single bucket NULL; invariant") {
    import spark.implicits._
    def day(d: Int) = ts(f"2024-01-${d + 1}%02d 12:00:00")
    // 8 daily buckets on y = 10 + 2d with day 3 corrupted to 1000:
    // 21 clean pair slopes are exactly 2e12 (micro x ppm), the 7
    // outlier pairs sort to the tails, lower median stays 2e12
    val rows = (0 to 7).map(d =>
      ("g", day(d), if (d == 3) 1000.0 else 10.0 + 2.0 * d))
    val out = Stats.theilSen(rows.toDF("g", "ts", "v"), "g", "ts", "v",
      86400L).collect().head
    assert(out.getInt(1) === 8 && out.getLong(2) === 28L)
    assert(out.getLong(3) === 2000000000000L, "median slope ignores the outlier")
    val d0 = day(0).toInstant.getEpochSecond / 86400
    assert(out.getLong(4) === 10000000L - 2000000L * d0,
      "intercept median ignores the outlier row's intercept")
    // ...where OLS is dragged: trendLines on the same series reads a slope
    // far from 2.0/day
    val ols = Stats.trendLines(
      rows.map { case (g, t, v) => (g, t, math.round(v)) }.toDF("g", "ts", "v"),
      Seq("g"), "ts", "v").collect().head.getDouble(2)
    assert(math.abs(ols - 2.0) > 10.0, s"OLS must be dragged, got $ols")
    // sign-split truncation toward ZERO (a flooring engine would read
    // -333333333334): x goes 0 -> -1 over 3 buckets
    val neg = Stats.theilSen(Seq(
      ("n", day(0), 0.0), ("n", day(3), -1.0)).toDF("g", "ts", "v"),
      "g", "ts", "v", 86400L).collect().head
    assert(neg.getLong(3) === -333333333333L)
    // single bucket: nothing to vote — NULL slope/intercept, 0 pairs
    val one = Stats.theilSen(Seq(("s", day(0), 5.0)).toDF("g", "ts", "v"),
      "g", "ts", "v", 86400L).collect().head
    assert(one.getInt(1) === 1 && one.getLong(2) === 0L)
    assert(one.isNullAt(3) && one.isNullAt(4))
    // partitioning invariance
    val big = (1 to 300).map(i => (s"g${i % 3}",
      ts(f"2024-01-${1 + i % 9}%02d ${(i * 5) % 24}%02d:00:00"),
      ((i * 13) % 50).toDouble / 4.0))
    val a = Stats.theilSen(big.toDF("g", "ts", "v"), "g", "ts", "v", 86400L)
      .collect().map(_.toSeq).toSet
    val b = Stats.theilSen(big.toDF("g", "ts", "v").repartition(13),
      "g", "ts", "v", 86400L).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("sessionize: hand gap cut; ties share a session; per-key independence; exact panel fields; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp)]) =
      Temporal.sessionize(rows.toDF("u", "ts"), "u", "ts", 1800L).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def us(s: String) = ts(s).getTime * 1000L
    // 0min, 10min, then 40min of silence -> two sessions
    val out = run(Seq(
      ("u", ts("2024-01-01 10:00:00")), ("u", ts("2024-01-01 10:10:00")),
      ("u", ts("2024-01-01 10:50:00"))))
    assert(out === Map(
      ("u", 1L) -> ((us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"),
        600000000L, 2L)),
      ("u", 2L) -> ((us("2024-01-01 10:50:00"), us("2024-01-01 10:50:00"),
        0L, 1L))))
    // a gap of EXACTLY the threshold stays one session (strict >)
    val edge = run(Seq(
      ("u", ts("2024-01-01 10:00:00")), ("u", ts("2024-01-01 10:30:00"))))
    assert(edge.keySet === Set(("u", 1L)) && edge(("u", 1L))._4 === 2L)
    // duplicate timestamps share a session; keys independent
    val multi = run(Seq(
      ("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:00:00")),
      ("b", ts("2024-01-01 23:00:00"))))
    assert(multi(("a", 1L))._4 === 2L && multi(("b", 1L))._4 === 1L)
    // partitioning-invariant on a pseudo-random stream
    val rows = (1 to 400).map(i => (s"u${i % 7}",
      ts(f"2024-01-01 ${(i * 3) % 24}%02d:${(i * 11) % 60}%02d:${(i * 7) % 60}%02d")))
    val a = run(rows)
    val b = Temporal.sessionize(rows.toDF("u", "ts").repartition(13),
      "u", "ts", 1800L).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(b === a)
  }

  test("cohortLtv: hand weekly curve; cohort_size is the age-0 active count; cumulative and per-member values exact; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp, Double)]) =
      Temporal.cohortLtv(rows.toDF("u", "ts", "v"), "u", "ts", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6)))).toMap
    // Mondays: W0=2024-01-01, W1=2024-01-08. u1,u2 enter W0; u3 enters W1
    val rows = Seq(
      ("u1", ts("2024-01-01 10:00:00"), 1.0),
      ("u1", ts("2024-01-09 10:00:00"), 2.0),
      ("u2", ts("2024-01-03 10:00:00"), 3.0),
      ("u3", ts("2024-01-08 10:00:00"), 4.0),
      ("u3", ts("2024-01-16 10:00:00"), 0.5))
    val w0 = ts("2024-01-01 00:00:00").getTime * 1000L
    val w1 = ts("2024-01-08 00:00:00").getTime * 1000L
    val out = run(rows)
    // W0 cohort: size 2; age 0 worth 4M cum 4M -> 2M each; age 1 only u1
    // active, +2M -> cum 6M -> 3M per MEMBER (not per active)
    assert(out((w0, 0L)) === ((2L, 2L, 4000000L, 4000000L, 2000000L)))
    assert(out((w0, 1L)) === ((1L, 2L, 2000000L, 6000000L, 3000000L)))
    // W1 cohort of one: micro floor keeps the 0.5 exact
    assert(out((w1, 0L)) === ((1L, 1L, 4000000L, 4000000L, 4000000L)))
    assert(out((w1, 1L)) === ((1L, 1L, 500000L, 4500000L, 4500000L)))
    assert(out.size === 4)
    // partitioning-invariant
    val rnd = (1 to 300).map(i => (s"u${i % 17}",
      ts(f"2024-01-${1 + (i * 3) % 28}%02d 12:00:00"),
      ((i * 7) % 50).toDouble / 4.0))
    val a = run(rnd)
    val b = Temporal.cohortLtv(rnd.toDF("u", "ts", "v").repartition(13),
      "u", "ts", "v").collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(b === a)
  }

  test("crossCorrelation: hand lead/lag pairs read exactly -1; single-pair reads NULL (zero variance); lag 0 symmetric; ordered pairs distinct; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Timestamp, Double)], lags: Seq[Int]) =
      Stats.crossCorrelation(rows.toDF("s", "ts", "v"), "s", "ts", "v",
        bucketSeconds = 60L, lags = lags).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
          ((r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // a rises 1,2,3 over minutes 1-3; b = 10 - a(t-1) over minutes 2-4:
    // (a,b,1) pairs (1,9),(2,8),(3,7) -> exactly -1 over 3 pairs;
    // (a,b,0) shares minutes 2,3 -> (2,9),(3,8) -> -1 over 2;
    // (b,a,1) has the single pair (9@m2, 3@m3) -> zero variance, NULL
    val rows = Seq(
      ("a", ts("2024-01-01 00:01:00"), 1.0),
      ("a", ts("2024-01-01 00:02:00"), 2.0),
      ("a", ts("2024-01-01 00:03:00"), 3.0),
      ("b", ts("2024-01-01 00:02:00"), 9.0),
      ("b", ts("2024-01-01 00:03:00"), 8.0),
      ("b", ts("2024-01-01 00:04:00"), 7.0))
    val out = run(rows, Seq(0, 1))
    assert(out(("a", "b", 1L)) === ((3L, Some(-1.0))))
    assert(out(("a", "b", 0L)) === ((2L, Some(-1.0))))
    assert(out(("b", "a", 1L)) === ((1L, None)))
    // lag 0 is the same pair set from both sides
    assert(out(("b", "a", 0L)) === out(("a", "b", 0L)))
    // no self rows
    assert(!out.keySet.exists(k => k._1 == k._2))
    // a repeated lag must not double-count n_pairs (lags dedupe up front)
    assert(run(rows, Seq(1, 1, 0, 1)) === out)
    // partitioning-invariant on a three-series fixture
    val rnd = (1 to 300).map(i => (s"s${i % 3}",
      ts(f"2024-01-0${1 + i % 9} ${(i * 5) % 24}%02d:00:00"),
      ((i * 7) % 50).toDouble / 4.0))
    val x = run(rnd, Seq(0, 1, 2))
    val y = Stats.crossCorrelation(
      rnd.toDF("s", "ts", "v").repartition(13), "s", "ts", "v", 60L,
      Seq(0, 1, 2)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(y === x)
  }

  test("rankMobility: hand quintile transitions; churned keys read NULL bin_to inside the row share; new keys enter the next pair; invariant") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Double)], k: Int) =
      Stats.rankMobility(rows.toDF("u", "p", "v"), "u", "p", "v", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)) ->
          ((r.getLong(4), r.getLong(5)))).toMap
    // p1: a,b lower half; c,d upper. p2: b,c lower; a,e upper; d absent.
    // a climbs 1->2, b stays 1, c drops 2->1, d churns (NULL bin_to,
    // still in bin 2's denominator); new key e appears nowhere
    val out = run(Seq(
      ("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 3.0), ("d", 1L, 4.0),
      ("a", 2L, 4.0), ("b", 2L, 1.0), ("c", 2L, 2.0), ("e", 2L, 9.0)), 2)
    assert(out === Map(
      (1L, 2L, 1L, 1L) -> ((1L, 500000L)),
      (1L, 2L, 1L, 2L) -> ((1L, 500000L)),
      (1L, 2L, 2L, 1L) -> ((1L, 500000L)),
      (1L, 2L, 2L, -1L) -> ((1L, 500000L))))
    // ntile ties break on the key string: equal values order by key, so
    // with k=2 over {a=5, b=5, c=5, d=5} the split is {a,b} | {c,d}
    val tie = run(Seq(
      ("a", 1L, 5.0), ("b", 1L, 5.0), ("c", 1L, 5.0), ("d", 1L, 5.0),
      ("a", 2L, 5.0), ("b", 2L, 5.0), ("c", 2L, 5.0), ("d", 2L, 5.0)), 2)
    assert(tie === Map(
      (1L, 2L, 1L, 1L) -> ((2L, 1000000L)),
      (1L, 2L, 2L, 2L) -> ((2L, 1000000L))))
    // three periods pair consecutively: (1,2) and (2,3), never (1,3)
    val tri = run(Seq(("a", 1L, 1.0), ("b", 1L, 2.0),
      ("a", 2L, 1.0), ("b", 2L, 2.0), ("a", 3L, 2.0), ("b", 3L, 1.0)), 2)
    assert(tri.keySet.map(t => (t._1, t._2)) === Set((1L, 2L), (2L, 3L)))
    assert(tri((2L, 3L, 1L, 2L)) === ((1L, 1000000L)))
    // partitioning-invariant
    val rows = (1 to 300).map(i =>
      (s"u${i % 23}", (i % 4).toLong, ((i * 7) % 50).toDouble / 4.0))
    val a = run(rows, 5)
    val b = Stats.rankMobility(rows.toDF("u", "p", "v").repartition(13),
      "u", "p", "v", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(b === a)
  }

  test("kaplanMeier: hand product-limit curve; censoring reduces at-risk without a step; same-time censor counts at risk; all-censored group empty") {
    import spark.implicits._
    def run(rows: Seq[(String, Long, Boolean)]) =
      Temporal.kaplanMeier(rows.toDF("g", "t", "e"), "g", "t", "e").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // classic: events at 1 and 3, censors at 2 and 4: S(1) = 3/4; at t=3
    // only 2 remain at risk (the t=2 censor left WITHOUT a step) ->
    // S(3) = 0.75 * 0.5; censored times emit no rows
    val h = run(Seq(("g", 1L, true), ("g", 2L, false),
      ("g", 3L, true), ("g", 4L, false)))
    assert(h === Map(("g", 1L) -> ((4L, 1L, 0L, 0.75)),
      ("g", 3L) -> ((2L, 1L, 0L, 0.375))))
    // a censor AT an event time still counts at risk there (standard
    // convention): n=5 now, so S(1) = 4/5, and t=3 reads n=3, d=1, c=1,
    // S = 0.8 * (1 - 1/3) = 0.533333
    val h2 = run(Seq(("g", 1L, true), ("g", 2L, false),
      ("g", 3L, true), ("g", 3L, false), ("g", 4L, false)))
    assert(h2(("g", 1L)) === ((5L, 1L, 0L, 0.8)))
    assert(h2(("g", 3L)) === ((3L, 1L, 1L, 0.533333)))
    // everyone events at the same time: one row, survival exactly 0
    assert(run(Seq(("g", 5L, true), ("g", 5L, true)))
      === Map(("g", 5L) -> ((2L, 2L, 0L, 0.0))))
    // all-censored group emits nothing; groups independent; NULLs drop
    val m = run(Seq(("a", 1L, true), ("z", 9L, false)))
    assert(m.keySet === Set(("a", 1L)))
    // partitioning-invariant on a multi-group fixture
    val rows = (1 to 200).map(i =>
      (s"g${i % 3}", ((i * 7) % 13).toLong, i % 4 != 0))
    val out = run(rows)
    val rep = Temporal.kaplanMeier(
      rows.toDF("g", "t", "e").repartition(13), "g", "t", "e").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rep === out)
  }

  test("paretoFront: hand skyline; same-x lower-y and equal-y-higher-x dominated; duplicate optima both survive; groups independent") {
    import spark.implicits._
    def run(rows: Seq[(String, String, Long, Long)]) =
      Stats.paretoFront(rows.toDF("g", "id", "x", "y"), "g", "id", "x", "y")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
    // frontier {(3,1),(2,5)}: (3,0) loses at equal x; (2,3) loses at
    // equal x; (1,5) dominated by (2,5) — equal y, strictly greater x
    assert(run(Seq(("g", "a", 1L, 5L), ("g", "b", 2L, 3L), ("g", "c", 3L, 1L),
      ("g", "d", 2L, 5L), ("g", "e", 3L, 0L)))
      === Set(("g", "c", 3L, 1L), ("g", "d", 2L, 5L)))
    // duplicate optima: neither dominates, both survive
    assert(run(Seq(("g", "a", 2L, 5L), ("g", "b", 2L, 5L), ("g", "c", 1L, 1L)))
      === Set(("g", "a", 2L, 5L), ("g", "b", 2L, 5L)))
    // single max point dominates everything weakly below it
    assert(run(Seq(("g", "a", 9L, 9L), ("g", "b", 9L, 8L), ("g", "c", 8L, 9L),
      ("g", "d", 3L, 3L))) === Set(("g", "a", 9L, 9L)))
    // groups independent; brute-force dominance check + invariance on a
    // pseudo-random set
    val rows = (1 to 200).map(i => (s"g${i % 2}", s"p$i",
      ((i * 7) % 23).toLong, ((i * 13) % 19).toLong))
    val got = run(rows)
    val want = rows.filter { p =>
      !rows.exists(q => q._1 == p._1 &&
        q._3 >= p._3 && q._4 >= p._4 && (q._3 > p._3 || q._4 > p._4))
    }.toSet
    assert(got === want)
    assert(Stats.paretoFront(rows.toDF("g", "id", "x", "y").repartition(13),
      "g", "id", "x", "y").collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet === got)
  }

  test("benfordAudit: uniform-digit and single-digit TVDs by hand; absent digits keep their expectation; sign-blind; zeros drop") {
    import spark.implicits._
    // u: digits 1..9 once each (obs 111111 ppm) -> TVD 268727 by hand
    // x: everything leads with 1 (one NEGATIVE, one zero dropped)
    val rows = (1L to 9L).map(d => ("u", d * 100L)) ++
      Seq(("x", 123L), ("x", -150L), ("x", 1999L), ("x", 0L))
    val out = Stats.benfordAudit(rows.toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size === 18) // dense grid: 9 digits per group
    assert(out(("u", 1L)) === ((1L, 111111L, 301029L, 268727L)))
    assert(out(("u", 9L)) === ((1L, 111111L, 45757L, 268727L)))
    assert(out(("x", 1L)) === ((3L, 1000000L, 301029L, 698968L)))
    assert(out(("x", 2L)) === ((0L, 0L, 176091L, 698968L))) // absent digit
    val rep = Stats.benfordAudit(rows.toDF("g", "v").repartition(13),
      Seq("g"), "v").collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rep === out)
    val err = intercept[IllegalArgumentException] {
      Stats.benfordAudit(Seq(("a", 1.5)).toDF("g", "v"), Seq("g"), "v")
    }
    assert(err.getMessage.contains("integral"))
    // null-safe grid attach: a NULL group's digit counts land on ITS grid
    // rows (pre-fix the plain-equality join reported a phantom all-zero
    // panel for the NULL group while its total still drove obs shares)
    val nullG = Seq((Option("a"), 123L), (None, 150L), (None, 1999L),
      (None, 2048L))
      .toDF("g", "v")
    val ng = Stats.benfordAudit(nullG, Seq("g"), "v")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(ng((None, 1L)) === ((2L, 666666L)))
    assert(ng((None, 2L)) === ((1L, 333333L)))
    assert(ng((None, 3L)) === ((0L, 0L)))
    assert(ng((Some("a"), 1L)) === ((1L, 1000000L)))
  }

  test("autocorrelation: period-2 alternation reads -1/+1 exactly; constant series NULL; holes shrink n_pairs; partitioning-invariant") {
    import spark.implicits._
    def dayTs(d: Int) = new java.sql.Timestamp(d * 86400000L)
    // g: 12 days alternating 10/20 -> lag1 exactly -1, lag2 exactly +1
    val alt = (0 until 12).map(d =>
      ("g", dayTs(d), if (d % 2 == 0) 10.0 else 20.0))
    // f: constant -> zero variance, NULL acf
    val flat = (0 until 8).map(d => ("f", dayTs(d), 5.0))
    // h: alternating with day 5 missing -> lag-1 pairs drop from 9 to 7
    val holed = (0 until 10).filter(_ != 5).map(d =>
      ("h", dayTs(d), if (d % 2 == 0) 1.0 else 3.0))
    val df = (alt ++ flat ++ holed).toDF("g", "ts", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.autocorrelation(d, "g", "ts", "v", 86400L, Seq(1, 2)).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), Option(r.get(3))))).toMap
    val out = run(df)
    assert(out(("g", 1L)) === ((11L, Some(-1.0))))
    assert(out(("g", 2L)) === ((10L, Some(1.0))))
    assert(out(("f", 1L)) === ((7L, None)))
    assert(out(("h", 1L))._1 === 7L) // pairs (4,5) and (5,6) both gone
    assert(out(("h", 2L))._1 === 6L)
    assert(out(("h", 1L))._2 === Some(-1.0)) // survivors still alternate
    assert(run(df.repartition(13)) === out)
    // repeated lags dedupe up front: n_pairs must not double
    assert(Stats.autocorrelation(df, "g", "ts", "v", 86400L, Seq(1, 2, 1))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3))))).toMap === out)
  }

  test("chiSquare: exact independence reads zero; partitioning-invariant") {
    import spark.implicits._
    // proportional table: E == O in every cell, so every (O*N - R*C) == 0
    val rows =
      Seq.fill(20)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(40)(("b", "x")) ++ Seq.fill(20)(("b", "y"))
    val out = chiRows(rows)
    assert(out.values.forall(v => v._3 == 0L && v._4 == 0L))
    assert(out(("a", "x"))._2 === 20 * 1000000L)
    val rep = Stats.chiSquare(rows.toDF("r", "c").repartition(13), "r", "c")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getLong(6), x.getLong(7)))).toMap
    assert(rep === out)
  }

  test("spearman/kendall: decimal(<=18,0) inputs ride the long value lane with identical results (r19 advisory)") {
    import spark.implicits._
    val base = Seq((1L, 5L, 9L), (2L, 4L, 8L), (3L, 3L, 7L), (4L, 2L, 9L),
      (5L, 1L, 7L), (2L, 4L, 9L), (7L, 6L, 7L)).toDF("a", "b", "c")
    val asDec = base.select(
      col("a").cast("decimal(12,0)").as("a"),
      col("b").cast("decimal(18,0)").as("b"),
      col("c").cast("decimal(9,0)").as("c"))
    def pw(df: org.apache.spark.sql.DataFrame) =
      Stats.spearmanPairwise(df, Seq("a", "b", "c"))
        .collect().map(_.toSeq).toSet
    assert(pw(asDec) === pw(base))
    def lw(df: org.apache.spark.sql.DataFrame) =
      Stats.spearmanCorrelations(df.withColumn("_rid", monotonically_increasing_id()),
        Seq("_rid"), Seq("a", "b", "c")).collect().map(_.toSeq).toSet
    assert(lw(asDec) === lw(base))
    def kt(df: org.apache.spark.sql.DataFrame) =
      Stats.kendallTau(df, Seq("a", "b", "c")).collect().map(_.toSeq).toSet
    assert(kt(asDec) === kt(base))
    // a precision-19 decimal must stay on the wide decimal lane and agree
    val asWide = base.select(
      col("a").cast("decimal(19,0)").as("a"),
      col("b").cast("decimal(38,0)").as("b"),
      col("c").cast("decimal(19,0)").as("c"))
    assert(pw(asWide) === pw(base))
  }
}
