package graft
package queries

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Statistics: correlations, drift, hypothesis tests, outliers, control charts,
  * forecasts, evaluation curves, association rules and data-quality panels.
  */
object StatsQueries extends QueryFamily {

  /** Data-quality constraint panel over orders: one row per declared
    * constraint with exact violation counts. The referential check runs
    * against a deliberately incomplete dimension (positive-balance
    * customers only) so the panel shows a real failure alongside real
    * passes; the priority uniqueness check fails by construction (few
    * distinct values), proving the duplicate-group row accounting.
    */
  private def qualityPanelQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality._
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val goodCustomers = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_acctbal") > 0)
    Quality.checkConstraints(orders, Seq(
      NotNullCheck("o_custkey"),
      RangeCheck("o_totalprice", 0.0, 400000.0),
      RegexCheck("o_orderstatus", "^[A-Z]$"),
      UniqueCheck("o_orderkey"),
      UniqueCheck("o_orderpriority"),
      RefCheck("o_custkey", goodCustomers, "c_custkey")))
  }
  // constraint panel: row-local trio is ONE scalar agg (1) + the n_rows
  // scalar agg (1); each uniqueness check pays its value-distribution
  // partial->final exchange + a scalar reduce (2x2); the ref anti-join's
  // dim distinct + scalar reduce (2); panel glue is 1-row frames
  // quality_panel's 1-row n_rows attach onto the panel: the same idiom
  query("quality_panel", qualityPanelQ, ShufflesWithBnlj(8))(
    // quality panel: each constraint replayed as its defining SQL — the
    // row-local trio from one scan, uniqueness as duplicate-group row
    // sums, referential as NOT EXISTS against the filtered dimension
    """WITH rl AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
      |    sum(CASE WHEN o_totalprice IS NOT NULL
      |             AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)
      |        THEN 1 ELSE 0 END) AS v_rng,
      |    sum(CASE WHEN o_orderstatus IS NOT NULL
      |             AND NOT regexp_matches(o_orderstatus, '^[A-Z]$')
      |        THEN 1 ELSE 0 END) AS v_rx
      |  FROM orders),
      |uq1 AS (SELECT COALESCE(sum(c), 0) AS v FROM (
      |  SELECT count(*) AS c FROM orders WHERE o_orderkey IS NOT NULL
      |  GROUP BY o_orderkey HAVING count(*) > 1)),
      |uq2 AS (SELECT COALESCE(sum(c), 0) AS v FROM (
      |  SELECT count(*) AS c FROM orders WHERE o_orderpriority IS NOT NULL
      |  GROUP BY o_orderpriority HAVING count(*) > 1)),
      |rf AS (SELECT count(*) AS v FROM orders o
      |  WHERE o_custkey IS NOT NULL AND NOT EXISTS (
      |    SELECT 1 FROM customer c
      |    WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0))
      |SELECT 'not_null' AS "check", 'o_custkey' AS col_name, n_rows,
      |       CAST(v_nn AS BIGINT) AS n_violations, v_nn = 0 AS passed FROM rl
      |UNION ALL SELECT 'in_range', 'o_totalprice', n_rows,
      |       CAST(v_rng AS BIGINT), v_rng = 0 FROM rl
      |UNION ALL SELECT 'regex', 'o_orderstatus', n_rows,
      |       CAST(v_rx AS BIGINT), v_rx = 0 FROM rl
      |UNION ALL SELECT 'unique', 'o_orderkey', (SELECT n_rows FROM rl),
      |       CAST(v AS BIGINT), v = 0 FROM uq1
      |UNION ALL SELECT 'unique', 'o_orderpriority', (SELECT n_rows FROM rl),
      |       CAST(v AS BIGINT), v = 0 FROM uq2
      |UNION ALL SELECT 'ref_integrity', 'o_custkey', (SELECT n_rows FROM rl),
      |       CAST(v AS BIGINT), v = 0 FROM rf""".stripMargin)

  /** DQ metric history + anomaly flags over the per-day event snapshots —
    * Deequ's second half: the constraint panel grouped by day, each
    * series' violation RATE banded against its trailing week. The plant is
    * a level shift, not a violation-vs-pass toggle: from Jan 24 every
    * 23rd event's value goes missing (~43 000 ppm not-null rate where the
    * prior band is 0 ± margin), so the SHIFT day flags while the already-
    * shifted days that follow re-enter the trailing band — the "flag the
    * incident once, not forever" contract. The range check's natural
    * day-to-day rate rides inside the margin; uniqueness and the regex are
    * clean series that must never flag. Every count, ppm division, and
    * band endpoint replays exactly in the oracle.
    */
  private def dqHistoryQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality
    import graft.ops.Quality._
    val base = eventsFixedPoint(s, dir)
      .select(to_date(col("ts")).cast("string").as("dt"),
        col("event_id"), col("event_type"), col("value").as("v_cents"))
      .withColumn("v_planted",
        when(col("dt") >= "2024-01-24" && pmod(col("event_id"), lit(23)) === 0,
          lit(null).cast("long"))
          .otherwise(col("v_cents")))
    val metrics = Quality.constraintMetricsByGroup(base, "dt", Seq(
      NotNullCheck("v_planted"),
      RangeCheck("v_cents", 100.0, 4500000.0),
      UniqueCheck("event_id"),
      RegexCheck("event_type", "^[a-z]+$")))
    Quality.anomalyFlags(metrics, "dt", window = 7, marginPpm = 20000L,
      minPrior = 3)
  }
  // the grouped row-local agg is a lazy checkpoint boundary (totals +
  // unpivot + uniqueness left-join reuse it); visible: uniqueness's
  // (dt, id) value-distribution agg + its per-dt re-agg, and the band
  // window keyed by (check, col_name) over the |checks|x|days| metric
  // table — the totals join rides a broadcast at gate SF
  query("dq_history", dqHistoryQ, Shuffles(3))(
    // per-day grouped panel + trailing-week rate bands; the planted
    // level shift (every 23rd value missing from Jan 24) must flag on
    // the shift day and re-enter the band after
    """WITH p AS (
      |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_id,
      |    event_type, CAST(round(value * 10000) AS BIGINT) AS v,
      |    CASE WHEN CAST(CAST(ts AS DATE) AS VARCHAR) >= '2024-01-24'
      |              AND event_id % 23 = 0
      |         THEN NULL ELSE CAST(round(value * 10000) AS BIGINT)
      |    END AS vp
      |  FROM events),
      |tot AS (SELECT dt, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM p GROUP BY dt),
      |m AS (
      |  SELECT dt, 'not_null' AS check_name, 'v_planted' AS col_name,
      |    CAST(sum(CASE WHEN vp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_violations
      |  FROM p GROUP BY dt
      |  UNION ALL
      |  SELECT dt, 'in_range', 'v_cents',
      |    CAST(sum(CASE WHEN v IS NOT NULL
      |                  AND (v < 100.0 OR v > 4500000.0)
      |             THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM p GROUP BY dt
      |  UNION ALL
      |  SELECT t.dt, 'unique', 'event_id', CAST(COALESCE(u.nv, 0) AS BIGINT)
      |  FROM tot t LEFT JOIN (
      |    SELECT dt, sum(c) AS nv FROM (
      |      SELECT dt, event_id, count(*) AS c FROM p
      |      WHERE event_id IS NOT NULL GROUP BY dt, event_id)
      |    WHERE c > 1 GROUP BY dt) u USING (dt)
      |  UNION ALL
      |  SELECT dt, 'regex', 'event_type',
      |    CAST(sum(CASE WHEN event_type IS NOT NULL
      |                  AND NOT regexp_matches(event_type, '^[a-z]+$')
      |             THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM p GROUP BY dt),
      |j AS (SELECT m.dt, check_name, col_name, t.n_rows, n_violations,
      |  CAST(CASE WHEN t.n_rows > 0
      |    THEN (CAST(n_violations AS HUGEINT) * 1000000) // t.n_rows
      |    ELSE 0 END AS BIGINT) AS violation_ppm
      |  FROM m JOIN tot t USING (dt)),
      |wnd AS (SELECT *,
      |  CAST(count(*) OVER w AS BIGINT) AS n_prior,
      |  min(violation_ppm) OVER w AS lo,
      |  max(violation_ppm) OVER w AS hi
      |  FROM j
      |  WINDOW w AS (PARTITION BY check_name, col_name ORDER BY dt
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT dt, check_name AS "check", col_name, n_rows, n_violations,
      |  n_violations = 0 AS passed, violation_ppm, n_prior,
      |  CASE WHEN n_prior >= 3 THEN greatest(lo - 20000, 0)
      |       END AS band_lo_ppm,
      |  CASE WHEN n_prior >= 3 THEN hi + 20000 END AS band_hi_ppm,
      |  n_prior >= 3 AND (violation_ppm < greatest(lo - 20000, 0)
      |                    OR violation_ppm > hi + 20000) AS flagged
      |FROM wnd""".stripMargin)

  /** Feature-correlation profile over lineitem's four measure columns in
    * ×100 fixed point (prices/rates carry two decimals): six unordered
    * pairs, exact integer moment sums, one IEEE step per pair.
    */
  private def columnCorrelations(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("ep"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    ops.Stats.correlations(fp, Seq("q", "ep", "disc", "tax"))
  }
  // the single-partition gather of the one global moment aggregation —
  // previously hidden behind an eager checkpoint (the shuffle ran at
  // construction time); the inline-projection rewrite made the full lazy
  // plan visible, which is the honest count
  // +1 headroom for the conditional spread() round-robin exchange
  // (fires only when the scan carries fewer splits than the session's
  // parallelism — the single-row-group bench corpus)
  query("column_correlations", columnCorrelations, Shuffles(2)) {
    // correlation replay: identical exact decimal moment sums in ONE
    // pass, then the same single IEEE step per pair (generated from the
    // same pair list as the Spark side — the oracle cannot drift)
    val cc = Seq("q", "ep", "disc", "tax")
    val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
      yield (cc(i), cc(j))
    def dd(c: String) = s"CAST($c AS DECIMAL(38,0))"
    val sums = cc.flatMap(c => Seq(
      s"sum(${dd(c)}) AS s_$c",
      s"sum(${dd(c)} * ${dd(c)}) AS ss_$c")) ++
      cPairs.map { case (a, b) => s"sum(${dd(a)} * ${dd(b)}) AS p_${a}_$b" }
    val branches = cPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CASE WHEN CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
         |            CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE) = 0 THEN NULL
         |  ELSE round(CAST(nn * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    sqrt(CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
         |         CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE)), 6)
         |  END AS corr FROM a""".stripMargin
    }
    s"""WITH f AS (SELECT
       |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |  CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
       |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
       |a AS (SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
       |  ${sums.mkString(",\n  ")} FROM f)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Spearman matrix over the same four fixed-point lineitem columns as
    * column_correlations — the monotone-association screen beside the
    * linear one. The synthetic lineitem has no unique natural key
    * ((l_orderkey, l_linenumber) repeats), so the row key is a generated
    * id — legitimate here because the OUTPUT is invariant to id VALUES
    * (ranks come from the data; ids only keep rows distinct through the
    * re-pivot), which the operator's partitioning-invariance spec pins.
    */
  private def spearmanCorrelationsQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("ep"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
      .withColumn("_row", monotonically_increasing_id())
    ops.Stats.spearmanCorrelations(fp,
      Seq("_row"), Seq("q", "ep", "disc", "tax"))
  }
  // r19 shape: the rank table is EAGERLY materialized at build time
  // (doubledRanks counts checkpoint + the ranks checkpoint), so the
  // static plan is the final segment only — k=4 SHUFFLE_HASH value
  // joins (k probe re-keys + k build re-keys over the checkpointed
  // ranks, 8) + the single moment gather; measured 9
  query("spearman_correlations", spearmanCorrelationsQ, Shuffles(9)) {
    // Spearman replay: doubled average ranks per column via global
    // rank/count windows (2*rank + ties - 1 == 2*below + ties + 1), then
    // the IDENTICAL moment chain as column_correlations over the ranks
    val cc = Seq("q", "ep", "disc", "tax")
    val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
      yield (cc(i), cc(j))
    def dd(c: String) = s"CAST($c AS DECIMAL(38,0))"
    val sums = cc.flatMap(c => Seq(
      s"sum(${dd(c)}) AS s_$c",
      s"sum(${dd(c)} * ${dd(c)}) AS ss_$c")) ++
      cPairs.map { case (a, b) => s"sum(${dd(a)} * ${dd(b)}) AS p_${a}_$b" }
    val rankCols = cc.map(c =>
      s"2 * rank() OVER (ORDER BY $c) + count(*) OVER (PARTITION BY $c) - 1 AS $c")
    val branches = cPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CASE WHEN CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
         |            CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE) = 0 THEN NULL
         |  ELSE round(CAST(nn * p_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    sqrt(CAST(nn * ss_$a - s_$a * s_$a AS DOUBLE) *
         |         CAST(nn * ss_$b - s_$b * s_$b AS DOUBLE)), 6)
         |  END AS rho FROM a""".stripMargin
    }
    s"""WITH f AS (SELECT
       |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |  CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
       |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem),
       |g AS (SELECT ${rankCols.mkString(",\n  ")} FROM f),
       |a AS (SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
       |  ${sums.mkString(",\n  ")} FROM g)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Pairwise-complete Spearman over the same fixed-point lineitem columns
    * with DETERMINISTICALLY planted missingness (ep missing on every 3rd
    * order, disc on every 5th) so the per-pair n genuinely differ — the
    * sparse-table contract the listwise matrix cannot express (listwise
    * would shrink every pair to the fully-observed ~53% of rows).
    */
  private def spearmanPairwiseQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      when(col("l_orderkey") % 3 === 0, lit(null).cast("long"))
        .otherwise(round(col("l_extendedprice") * 100).cast("long")).as("ep"),
      when(col("l_orderkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(round(col("l_discount") * 100).cast("long")).as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    ops.Stats.spearmanPairwise(fp, Seq("q", "ep", "disc", "tax"))
  }
  // r19 shape: ranks checkpointed at build; final segment = the two
  // corpus-side SHUFFLE_HASH probe re-keys + two rank-side build
  // re-keys + the per-pair moment agg + the pair-list attach; measured 6
  query("spearman_pairwise", spearmanPairwiseQ, Shuffles(6)) {
    // pairwise-complete Spearman replay: per pair, ranks computed over
    // exactly the both-non-null rows (the same doubled-average-rank
    // identity), then the identical per-pair moment chain — the planted
    // missingness (ep: every 3rd order, disc: every 5th) makes per-pair
    // n genuinely differ, so a listwise engine cannot fake this oracle
    val cc = Seq("q", "ep", "disc", "tax")
    val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
      yield (cc(i), cc(j))
    val branches = cPairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CASE WHEN n = 0 OR
         |    CAST(nn * sxx - sx * sx AS DOUBLE) *
         |    CAST(nn * syy - sy * sy AS DOUBLE) = 0 THEN NULL
         |  ELSE round(CAST(nn * sxy - sx * sy AS DOUBLE) /
         |    sqrt(CAST(nn * sxx - sx * sx AS DOUBLE) *
         |         CAST(nn * syy - sy * sy AS DOUBLE)), 6)
         |  END AS rho FROM (
         |  SELECT count(*) AS n, CAST(count(*) AS DECIMAL(38,0)) AS nn,
         |    sum(dx) AS sx, sum(dx * dx) AS sxx,
         |    sum(dy) AS sy, sum(dy * dy) AS syy,
         |    sum(dx * dy) AS sxy
         |  FROM (SELECT
         |    CAST(2 * rank() OVER (ORDER BY $a)
         |      + count(*) OVER (PARTITION BY $a) - 1
         |      AS DECIMAL(38,0)) AS dx,
         |    CAST(2 * rank() OVER (ORDER BY $b)
         |      + count(*) OVER (PARTITION BY $b) - 1
         |      AS DECIMAL(38,0)) AS dy
         |    FROM f WHERE $a IS NOT NULL AND $b IS NOT NULL) r) agg_$a$b""".stripMargin
    }
    s"""WITH f AS (SELECT
       |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |  CASE WHEN l_orderkey % 3 = 0 THEN NULL
       |    ELSE CAST(round(l_extendedprice * 100) AS BIGINT) END AS ep,
       |  CASE WHEN l_orderkey % 5 = 0 THEN NULL
       |    ELSE CAST(round(l_discount * 100) AS BIGINT) END AS disc,
       |  CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem)
       |${branches.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Kendall τ-b over lineitem's four LOW-CARDINALITY ordinal columns —
    * quantity (50 levels), discount (11), tax (9), linenumber (7) — the
    * regime the operator is FOR: with this much tying Spearman's average
    * ranks wash out and τ-b's tie correction is the calibrated reading.
    * linenumber carries the same deterministic planted missingness as
    * spearman_pairwise (every 5th order) so the per-pair n genuinely
    * differ and a listwise replay cannot fake the oracle. The grids stay
    * ≤ 50×11 cells — the dense-grid contract the scaladoc states.
    */
  private def kendallTauQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val fp = li.select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"),
      when(col("l_orderkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("l_linenumber").cast("long")).as("ln"))
    ops.Stats.kendallTau(fp, Seq("q", "disc", "tax", "ln"))
  }
  // ONE corpus exchange (the pair-melt cell groupBy, behind the lazy
  // checkpoint); everything after runs at dimension size — the two
  // marginal re-aggs, the two dominance-window re-keys ((pair,x) then
  // (pair,y)), the two tie re-aggs (2-stage each), and the final
  // pair-list attach; the dense grid itself rides broadcasts
  query("kendall_tau", kendallTauQ, Shuffles(9)) {
    // Kendall τ-b replay: the identical pair-melt → cell-count → dense
    // marginal grid → 2-D dominance prefix (two cumulative windows)
    // chain — every concordant/discordant/tie count an exact HUGEINT,
    // τ-b the same two-cast/multiply/sqrt/divide/round-6 IEEE tree;
    // the planted linenumber missingness (every 5th order) makes the
    // per-pair n differ, so a listwise replay cannot fake this oracle
    val cc = Seq("q", "disc", "tax", "ln")
    val cPairs = for { i <- cc.indices; j <- (i + 1) until cc.size }
      yield (cc(i), cc(j))
    val melt = cPairs.map { case (a, b) =>
      s"""SELECT '$a' AS cx, '$b' AS cy, $a AS vx, $b AS vy
         |  FROM f WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
    }
    s"""WITH f AS (SELECT
       |  CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |  CAST(round(l_discount * 100) AS BIGINT) AS disc,
       |  CAST(round(l_tax * 100) AS BIGINT) AS tax,
       |  CASE WHEN l_orderkey % 5 = 0 THEN NULL
       |    ELSE CAST(l_linenumber AS BIGINT) END AS ln FROM lineitem),
       |pr AS MATERIALIZED (
       |${melt.mkString("\nUNION ALL\n")}),
       |cells AS MATERIALIZED (
       |  SELECT cx, cy, vx, vy, CAST(count(*) AS HUGEINT) AS o
       |  FROM pr GROUP BY 1, 2, 3, 4),
       |xm AS MATERIALIZED (
       |  SELECT cx, cy, vx, CAST(sum(o) AS HUGEINT) AS rt
       |  FROM cells GROUP BY 1, 2, 3),
       |ym AS MATERIALIZED (
       |  SELECT cx, cy, vy, CAST(sum(o) AS HUGEINT) AS ct
       |  FROM cells GROUP BY 1, 2, 3),
       |grid AS MATERIALIZED (
       |  SELECT xm.cx, xm.cy, xm.vx, ym.vy, xm.rt,
       |    CAST(coalesce(cells.o, 0) AS HUGEINT) AS nij
       |  FROM xm JOIN ym ON xm.cx = ym.cx AND xm.cy = ym.cy
       |  LEFT JOIN cells ON cells.cx = xm.cx AND cells.cy = xm.cy
       |    AND cells.vx = xm.vx AND cells.vy = ym.vy),
       |d1 AS (SELECT cx, cy, vx, vy, rt, nij,
       |    sum(nij) OVER (PARTITION BY cx, cy, vx ORDER BY vy
       |      ROWS UNBOUNDED PRECEDING) AS rc
       |  FROM grid),
       |d2 AS MATERIALIZED (SELECT *,
       |    sum(rc)  OVER wc AS p,
       |    sum(nij) OVER wc AS cc2,
       |    sum(rt)  OVER wc AS xt
       |  FROM d1 WINDOW wc AS (PARTITION BY cx, cy, vy ORDER BY vx
       |    ROWS UNBOUNDED PRECEDING)),
       |g AS (SELECT cx, cy, CAST(sum(nij) AS HUGEINT) AS n,
       |    sum(nij * (p - rc - cc2 + nij)) AS c,
       |    sum(nij * ((xt - rt) - (p - rc))) AS d,
       |    sum((nij * (nij - 1)) // 2) AS tb
       |  FROM d2 GROUP BY 1, 2),
       |t1 AS (SELECT cx, cy, sum((rt * (rt - 1)) // 2) AS t1
       |  FROM xm GROUP BY 1, 2),
       |t2 AS (SELECT cx, cy, sum((ct * (ct - 1)) // 2) AS t2
       |  FROM ym GROUP BY 1, 2)
       |SELECT g.cx AS col_x, g.cy AS col_y, CAST(n AS BIGINT) AS n,
       |  CAST(c AS BIGINT) AS concordant,
       |  CAST(d AS BIGINT) AS discordant,
       |  CAST(t1 AS BIGINT) AS tied_x, CAST(t2 AS BIGINT) AS tied_y,
       |  CAST(tb AS BIGINT) AS tied_both,
       |  CASE WHEN n < 2 OR
       |    CAST((n * (n - 1)) // 2 - t1 AS DOUBLE) *
       |    CAST((n * (n - 1)) // 2 - t2 AS DOUBLE) = 0 THEN NULL
       |  ELSE round(CAST(c - d AS DOUBLE) /
       |    sqrt(CAST((n * (n - 1)) // 2 - t1 AS DOUBLE) *
       |         CAST((n * (n - 1)) // 2 - t2 AS DOUBLE)), 6)
       |  END AS tau_b
       |FROM g JOIN t1 ON t1.cx = g.cx AND t1.cy = g.cy
       |JOIN t2 ON t2.cx = g.cx AND t2.cy = g.cy""".stripMargin
  }

  private def corpusQuantiles(s: SparkSession, dir: String): DataFrame =
    ops.Stats.groupedQuantiles(docs(s, dir), Seq("lang"), "n_chars",
      Seq(0.25, 0.5, 0.75))
  query("corpus_quantiles", corpusQuantiles, Shuffles(1))(
    """SELECT lang, count(*) AS n_rows,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.50) AS p50,
      |  quantile_cont(n_chars, 0.75) AS p75
      |FROM documents GROUP BY lang""".stripMargin)

  // Shared TVD-drift chain, continuing from an `m(column, value, ts_us)`
  // melt CTE: per-side counts split at Jan 15, full-outer category join,
  // per-column totals via window, exact decimal numerator, one final
  // decimal→double division. ONE definition serves both drift oracles
  // (categorical_drift / numeric_drift) so the replays cannot drift.
  private lazy val tvdChainSql =
    """cb AS (SELECT "column", value, count(*) AS c_base FROM m
      |  WHERE ts_us < 1705276800000000 GROUP BY 1, 2),
      |cc AS (SELECT "column", value, count(*) AS c_cur FROM m
      |  WHERE ts_us >= 1705276800000000 GROUP BY 1, 2),
      |j AS (SELECT coalesce(cb."column", cc."column") AS "column",
      |    coalesce(cb.value, cc.value) AS value,
      |    coalesce(c_base, 0) AS c_base, coalesce(c_cur, 0) AS c_cur
      |  FROM cb FULL OUTER JOIN cc
      |    ON cb."column" = cc."column" AND cb.value = cc.value),
      |t AS (SELECT "column", c_base, c_cur,
      |  sum(c_base) OVER (PARTITION BY "column") AS n_base,
      |  sum(c_cur) OVER (PARTITION BY "column") AS n_cur FROM j)
      |SELECT "column",
      |  CAST(max(n_base) AS BIGINT) AS n_base,
      |  CAST(max(n_cur) AS BIGINT) AS n_current,
      |  count(*) AS n_categories,
      |  round(CAST(sum(abs(
      |      CAST(c_base AS DECIMAL(38,0)) * CAST(n_cur AS DECIMAL(38,0)) -
      |      CAST(c_cur AS DECIMAL(38,0)) * CAST(n_base AS DECIMAL(38,0))))
      |    AS DOUBLE) / (2.0 * CAST(max(n_base) AS DOUBLE)
      |      * CAST(max(n_cur) AS DOUBLE)), 6) AS tvd
      |FROM t GROUP BY "column"""".stripMargin

  /** Generic as-of enrichment: each purchase picks the same user's most
    * recent click at-or-before it within 3 days (ties on the click timestamp
    * break to the greatest click event_id). No-match columns surface as -1
    * sentinels (value is always > 0) so the cross-engine compare stays
    * integer-exact — nullable ints decay to float64 in both engines' pandas
    * bridges, which is a precision hazard at µs magnitudes.
    */
  /** Distribution drift between the first two weeks of events and the rest:
    * TVD per categorical column (event_type + a floor(value) band).
    */
  private def categoricalDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .withColumn("value_band", floor(col("value")).cast("long").cast("string"))
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
    ops.Stats.categoricalDrift(
      ev.filter(col("ts") < lit(cut)),
      ev.filter(col("ts") >= lit(cut)),
      Seq("event_type", "value_band"))
  }
  // one per-category count exchange per side; the full-outer join is
  // co-partitioned on (column, value), the per-column window re-keys (1),
  // and the final per-column rollup reuses its partitioning
  query("categorical_drift", categoricalDriftQuery, Shuffles(3))(
    // TVD drift replay: melt both snapshots to (column, value) counts, the
    // full-outer category join, per-column totals via window, and the one
    // decimal→double division — everything before it exact integers
    s"""WITH ev AS (SELECT event_type,
       |  CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS value_band,
       |  epoch_us(ts) AS ts_us FROM events),
       |m AS (SELECT 'event_type' AS "column",
       |    coalesce(event_type, '<null>') AS value, ts_us FROM ev
       |  UNION ALL SELECT 'value_band', coalesce(value_band, '<null>'), ts_us FROM ev),
       |$tvdChainSql""".stripMargin)

  /** Decile features over the event values, per event type — the row-level
    * bucket assignment (groupedQuantiles returns the cut VALUES; this tags
    * every row), deterministic via the (value, event_id) total order.
    */
  private def equiDepthBinsQuery(s: SparkSession, dir: String): DataFrame =
    ops.Stats.equiDepthBins(events(dir).load(s),
      Seq("event_type"), "value", "event_id", k = 10)
      .select(col("event_id"), col("event_type"), col("value"), col("bin"))
  // one window exchange keyed on the group columns
  query("equi_depth_bins", equiDepthBinsQuery, Shuffles(1))(
    // ntile is rank-based over a TOTAL order (value, event_id), so the
    // bucket assignment — including how equal values split across the
    // boundary — is deterministic and the replay is row-exact
    """SELECT event_id, event_type, value,
      |  ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
      |FROM events WHERE value IS NOT NULL""".stripMargin)

  /** Continuous drift over the same two-week split: `value` binned with the
    * histogram arithmetic (0–500, 25 bins — the `value_histogram` spec) and
    * `user_id` binned 0–200 in 20 (a population shift would land here).
    */
  private def numericDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
    ops.Stats.numericDrift(
      ev.filter(col("ts") < lit(cut)),
      ev.filter(col("ts") >= lit(cut)),
      Seq(("value", 0.0, 500.0, 25), ("user_id", 0.0, 200.0, 20)))
  }
  // identical chain — the binning is a fused in-row projection
  query("numeric_drift", numericDriftQuery, Shuffles(3))(
    // numeric drift = the histogram bin arithmetic as the melt, then the
    // IDENTICAL shared TVD chain (one definition — cannot drift from the
    // categorical replay)
    s"""WITH ev AS (SELECT
       |  CASE WHEN value IS NULL THEN NULL ELSE
       |    CAST(CAST(least(greatest(floor((value - 0.0) / 20.0), 0.0), 24.0)
       |      AS BIGINT) AS VARCHAR) END AS value_bin,
       |  CASE WHEN user_id IS NULL THEN NULL ELSE
       |    CAST(CAST(least(greatest(floor((CAST(user_id AS DOUBLE) - 0.0) / 10.0),
       |      0.0), 19.0) AS BIGINT) AS VARCHAR) END AS user_bin,
       |  epoch_us(ts) AS ts_us FROM events),
       |m AS (SELECT 'value' AS "column",
       |    coalesce(value_bin, '<null>') AS value, ts_us FROM ev
       |  UNION ALL SELECT 'user_id', coalesce(user_bin, '<null>'), ts_us FROM ev),
       |$tvdChainSql""".stripMargin)

  /** Top-20 heaviest join keys on events.user_id with exact shares and
    * mean-relative heaviness — [[ops.Stats.keySkewProfile]], the
    * pre-join salting diagnostic.
    */
  private def keySkewQuery(s: SparkSession, dir: String): DataFrame =
    ops.Stats.keySkewProfile(events(dir).load(s), "user_id", k = 20)
  // the per-key count exchange is behind a checkpoint (one corpus pass
  // feeding both consumers); static remainder: the totals re-agg over the
  // count table (2: partial→Single) and the k-row rank window (1)
  // key_skew_profile's 1-row (N, n_keys) broadcast: the same idiom
  query("key_skew_profile", keySkewQuery, ShufflesWithBnlj(3))(
    // per-key counts → deterministic top-20 → ppm share and
    // mean-relative heaviness, HUGEINT products with integral //
    """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
      |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS HUGEINT) AS nr,
      |  CAST(count(*) AS BIGINT) AS nk FROM c),
      |top AS (SELECT key, n,
      |  row_number() OVER (ORDER BY n DESC, key NULLS FIRST) AS rank
      |  FROM c ORDER BY n DESC, key NULLS FIRST LIMIT 20)
      |SELECT rank, key, n,
      |  CAST((CAST(n AS HUGEINT) * 1000000) // nr AS BIGINT) AS share_ppm,
      |  CAST((CAST(n AS HUGEINT) * nk * 1000000) // nr AS BIGINT)
      |    AS skew_x_ppm
      |FROM top, t""".stripMargin)

  private def tableProfile(s: SparkSession, dir: String): DataFrame =
    ops.Stats.profile(
      eventsFixedPoint(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").as("value_e4"), unix_micros(col("ts")).as("ts_us")),
      Seq("event_id", "user_id", "event_type", "value_e4", "ts_us"))
  query("table_profile", tableProfile, Shuffles(2)) {
    val profiled = Seq("event_id", "user_id", "event_type", "value_e4", "ts_us")
    profiled.map(c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) FILTER (WHERE $c IS NULL) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
         |FROM (SELECT event_id, user_id, event_type,
         |  CAST(round(value * 10000) AS BIGINT) AS value_e4,
         |  epoch_us(ts) AS ts_us FROM events)""".stripMargin)
      .mkString("\nUNION ALL\n")
  }

  private def valueHistogram(s: SparkSession, dir: String): DataFrame =
    ops.Stats.histogram(events(dir).load(s), Seq("event_type"), "value",
      lo = 0.0, hi = 500.0, nBins = 25)
  query("value_histogram", valueHistogram, Shuffles(1))(
    """SELECT event_type,
      |  CAST(least(greatest(floor((value - 0.0) / 20.0), 0.0), 24.0) AS BIGINT) AS bin,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin)

  /** Exact rank AUC of the (fixed-point) event value against the
    * is-purchase label — does value separate purchases? (It should not:
    * value is type-independent in this data, so the interesting part is
    * the exact ~0.5 the integer rank algebra must reproduce.)
    */
  private def evalAucQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.rankAuc(
      events(dir).load(s).select(
        round(col("value") * 10000).cast("long").as("score"),
        (col("event_type") === "purchase").as("label")),
      "score", "label")
  // the distinct-score aggregation is a lazy checkpoint boundary (two
  // consumers + the build-time 1-row range pull); visible: the per-band
  // count agg (1), the offsets prefix window's single partition over the
  // ≤257-row band table (1), the per-band cumulative window (1), the final
  // rollup (1) — every global-sort node is band-table-sized, never the
  // distinct-score table (the continuous-score 100× guard)
  query("eval_auc", evalAucQ, Shuffles(4))(
    // the integer Mann-Whitney chain: tied scores at average rank via
    // 2*avgrank = 2*cum_below + cnt + 1, one integral division at the end
    """WITH e AS (SELECT CAST(round(value * 10000) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |g AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
      |    CAST(sum(pos) AS BIGINT) AS pos FROM e GROUP BY s),
      |c AS (SELECT *, coalesce(sum(cnt) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM g)
      |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
      |  CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
      |  CAST(((sum(CAST(pos AS HUGEINT) * (2 * cum + cnt + 1))
      |        - CAST(sum(pos) AS HUGEINT) * (sum(pos) + 1)) * 1048576)
      |    // (2 * sum(pos) * sum(cnt - pos)) AS BIGINT) AS auc_q
      |FROM c""".stripMargin)

  private def valueOutliers(s: SparkSession, dir: String): DataFrame =
    ops.Stats.zScoreOutliers(
      eventsFixedPoint(s, dir).select("event_id", "event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      groupCols = Seq("event_type"), valueCol = "value_e4", z = 2.5)
      .select(col("event_id"), col("event_type"), col("value_e4"),
        round(col("z_score"), 6).as("z_score"))
  query("value_outliers", valueOutliers, Shuffles(1))(
    """WITH e AS (SELECT event_id, event_type,
      |  CAST(round(value * 10000) AS BIGINT) AS value_e4 FROM events),
      |st AS (SELECT event_type, count(*) AS n, CAST(sum(value_e4) AS BIGINT) AS s,
      |  CAST(sum(value_e4 * value_e4) AS BIGINT) AS ss FROM e GROUP BY event_type),
      |m AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
      |  sqrt(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sigma
      |  FROM st)
      |SELECT e.event_id, e.event_type, e.value_e4,
      |  round((CAST(value_e4 AS DOUBLE) - mu) / sigma, 6) AS z_score
      |FROM e JOIN m USING (event_type)
      |WHERE sigma > 0 AND abs((CAST(value_e4 AS DOUBLE) - mu) / sigma) > 2.5""".stripMargin)

  /** Robust (median/MAD) outliers over the same fixed-point lane as
    * value_outliers — the zScore panel's 50%-breakdown twin. */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.madOutliers(
      eventsFixedPoint(s, dir).select("event_id", "event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      groupCols = Seq("event_type"), valueCol = "value_e4")
  // the MAD agg over the checkpointed residual table + its group-key
  // join back (both sides exchange at gate SF); the base scan, median
  // agg, and median attach sit behind the withMed checkpoint
  query("mad_outliers", madOutliersQ, Shuffles(3))(
    // MAD replay: exact lower medians as rank (n+1)//2 order statistics
    // (never an interpolated midpoint), then the integral band test
    """WITH base AS MATERIALIZED (
      |  SELECT event_id, event_type AS g,
      |    CAST(round(value * 10000) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |m AS (SELECT g, v AS med FROM (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY g) AS n FROM base)
      |  WHERE rn = (n + 1) // 2),
      |d AS MATERIALIZED (SELECT base.event_id, base.g, base.v, m.med,
      |    abs(base.v - m.med) AS adev
      |  FROM base JOIN m USING (g)),
      |md AS (SELECT g, adev AS mad FROM (
      |  SELECT g, adev, row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
      |    count(*) OVER (PARTITION BY g) AS n FROM d)
      |  WHERE rn = (n + 1) // 2)
      |SELECT d.event_id, d.g AS event_type, d.v AS value_e4,
      |  d.med AS med_fp, md.mad AS mad_fp,
      |  CASE WHEN md.mad > 0
      |    THEN CAST(d.adev * 1000000 // md.mad AS BIGINT) END AS dev_ppm
      |FROM d JOIN md USING (g)
      |WHERE (md.mad = 0 AND d.adev > 0)
      |   OR (md.mad > 0 AND d.adev * 1000000 > md.mad * 4450000)""".stripMargin)

  /** Per-event-type linear trend of the fixed-point value over time —
    * which signals drift up or down, at what daily rate, and how linear
    * the drift is.
    */
  private def trendLinesQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.trendLines(
      eventsFixedPoint(s, dir).select("event_type", "ts", "value")
        .withColumnRenamed("value", "value_e4"),
      Seq("event_type"), "ts", "value_e4")
  // one map-side-partial moment aggregation; the line math is projection
  query("trend_lines", trendLinesQ, Shuffles(1))(
    // trend replay: identical HUGEINT moment sums then the same
    // correctly-rounded IEEE closed-form steps (the correlations rule)
    """WITH e AS (SELECT event_type AS g,
      |    CAST(epoch_us(ts) // 1000000 AS HUGEINT) AS t,
      |    CAST(CAST(round(value * 10000) AS BIGINT) AS HUGEINT) AS v
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |m AS (SELECT g, count(*) AS n, sum(t) AS st, sum(t * t) AS stt,
      |    sum(v) AS sv, sum(v * v) AS svv, sum(t * v) AS stv
      |  FROM e GROUP BY 1),
      |d AS (SELECT g, n,
      |    CAST(n * stt - st * st AS DOUBLE) AS sxx,
      |    CAST(n * svv - sv * sv AS DOUBLE) AS syy,
      |    CAST(n * stv - st * sv AS DOUBLE) AS sxy,
      |    CAST(st AS DOUBLE) AS std, CAST(sv AS DOUBLE) AS svd
      |  FROM m)
      |SELECT g AS event_type, n,
      |  CASE WHEN sxx != 0 THEN round(sxy / sxx * 86400.0, 6) END
      |    AS slope_per_day,
      |  CASE WHEN sxx != 0
      |    THEN round((svd - sxy / sxx * std) / CAST(n AS DOUBLE), 6) END
      |    AS intercept,
      |  CASE WHEN sxx * syy != 0
      |    THEN round(sxy * sxy / (sxx * syy), 6) END AS r2
      |FROM d""".stripMargin)

  /** Benford first-digit audit of the fixed-point event values per type —
    * the fraud/DQ screen: observed vs log10(1+1/d) leading-digit shares
    * with the per-group TVD deviation.
    */
  private def benfordAuditQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.benfordAudit(
      eventsFixedPoint(s, dir).select("event_type", "value")
        .withColumnRenamed("value", "value_e4"),
      Seq("event_type"), "value_e4")
  // the TVD re-agg over the checkpointed dense digit grid; the corpus
  // digit pass, totals, and grid cross sit behind checkpoints
  query("benford_audit", benfordAuditQ, Shuffles(1))(
    // Benford replay: integer-lane first digit (head of the decimal
    // string), dense 9-digit grid, integral shares, half-sum TVD
    """WITH e AS (SELECT event_type AS g,
      |    CAST(substr(CAST(abs(CAST(round(value * 10000) AS BIGINT))
      |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM events WHERE value IS NOT NULL
      |    AND CAST(round(value * 10000) AS BIGINT) != 0),
      |c AS MATERIALIZED (SELECT g, digit, count(*) AS n FROM e GROUP BY 1, 2),
      |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1),
      |d AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
      |  (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
      |  (9, 45757)) AS v(digit, exp_ppm)),
      |grid AS (SELECT t.g, CAST(d.digit AS BIGINT) AS digit,
      |    CAST(d.exp_ppm AS BIGINT) AS exp_ppm,
      |    coalesce(c.n, 0) AS n, t.nt
      |  FROM t CROSS JOIN d
      |  LEFT JOIN c ON c.g IS NOT DISTINCT FROM t.g
      |    AND c.digit = d.digit),
      |o AS (SELECT g, digit, n,
      |    CAST(n * 1000000 // nt AS BIGINT) AS obs_ppm, exp_ppm
      |  FROM grid)
      |SELECT g AS event_type, digit, n, obs_ppm, exp_ppm,
      |  CAST(sum(abs(obs_ppm - exp_ppm)) OVER (PARTITION BY g) // 2
      |    AS BIGINT) AS benford_tvd_ppm
      |FROM o""".stripMargin)

  /** Co-purchase association rules over order-baskets of distinct parts:
    * cap 10 drops the 11-item tail baskets whole (the documented skew
    * contract, exercised at every SF), support 2 keeps the pair table at
    * rule-worthy co-occurrences. All three rule metrics land in the exact
    * ppm integral-division lane the oracle replays with `//`.
    */
  private def basketRulesQ(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    ops.Affinity.basketRules(li, "l_orderkey", "l_partkey",
      minSupport = 2L, maxBasketItems = 10)
  }
  // the basket groupBy + the N-count action run at build time behind the
  // multi-consumer checkpoint; the returned plan is the directed-rule
  // projection over the checkpointed pair table with both item-support
  // sides on broadcasts — zero further exchanges
  query("basket_rules", basketRulesQ, Shuffles(0))(
    // basket-rule replay: the same distinct-presence → cap → pair-count
    // → both-directions → integral-ppm chain; `//` is DuckDB's floor
    // division, matching the engine's DECIMAL(38,0) `div` on these
    // all-positive lanes
    """WITH d AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |ok AS MATERIALIZED (
      |  SELECT basket FROM d GROUP BY basket HAVING count(*) <= 10),
      |dd AS MATERIALIZED (SELECT d.* FROM d JOIN ok USING (basket)),
      |n AS (SELECT count(DISTINCT basket) AS nb FROM dd),
      |ic AS MATERIALIZED (
      |  SELECT item, count(*) AS ci FROM dd GROUP BY item),
      |pc AS MATERIALIZED (
      |  SELECT a.item AS ia, b.item AS ib, count(*) AS cab
      |  FROM dd a JOIN dd b ON a.basket = b.basket AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |r AS (SELECT ia AS antecedent, ib AS consequent, cab FROM pc
      |  UNION ALL SELECT ib, ia, cab FROM pc)
      |SELECT r.antecedent, r.consequent, r.cab AS n_pair_baskets,
      |  r.cab * 1000000 // n.nb AS support_ppm,
      |  r.cab * 1000000 // ca.ci AS confidence_ppm,
      |  r.cab * n.nb * 1000000 // (ca.ci * cb.ci) AS lift_ppm
      |FROM r
      |JOIN ic ca ON r.antecedent = ca.item
      |JOIN ic cb ON r.consequent = cb.item
      |CROSS JOIN n""".stripMargin)

  /** Exact KS statistic for all 10 event-type pairs over the value
    * distribution — the drift family's no-binning member; ~950 pooled
    * distinct values per 1000 events keep the dense V×G grid honest at
    * every SF.
    */
  private def ksTestQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.ksTest(ev, "event_type", "value")
  }
  // per-pair max agg + the min-attaining re-agg over the checkpointed
  // V×G²/2 pair grid; the corpus count pass, dense-grid cumulative
  // (banded two-phase windows), and the G-row BNLJ scalar-attach all sit
  // behind build-time checkpoints
  query("ks_test", ksTestQ, Shuffles(2))(
    // KS replay: the identical (group, value) count table → dense V×G
    // grid → per-group cumulative → cross-scaled |F̂_a·n_b − F̂_b·n_a|
    // pair max → min value attaining it; every quantity integer until
    // the final integral `//` (matching the engine's DECIMAL(38,0) div)
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    CAST(value AS DOUBLE) AS v, count(*) AS c
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
      |vals AS (SELECT DISTINCT v FROM base),
      |cum AS MATERIALIZED (SELECT t.g, vals.v,
      |    sum(coalesce(base.c, 0)) OVER (
      |      PARTITION BY t.g ORDER BY vals.v) AS f
      |  FROM vals CROSS JOIN (SELECT g FROM totals) t
      |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
      |pv AS MATERIALIZED (SELECT a.v, a.g AS group_a, b.g AS group_b,
      |    ta.n AS n_a, tb.n AS n_b,
      |    abs(CAST(a.f AS HUGEINT) * tb.n - CAST(b.f AS HUGEINT) * ta.n) AS d
      |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
      |  JOIN totals ta ON ta.g = a.g JOIN totals tb ON tb.g = b.g),
      |m AS (SELECT group_a, group_b, n_a, n_b, max(d) AS dmax
      |  FROM pv GROUP BY 1, 2, 3, 4)
      |SELECT m.group_a, m.group_b, m.n_a, m.n_b,
      |  CAST(m.dmax AS BIGINT) AS d_num,
      |  CAST(m.dmax * 1000000 // (CAST(m.n_a AS HUGEINT) * m.n_b)
      |    AS BIGINT) AS ks_ppm,
      |  min(pv.v) AS d_at
      |FROM m JOIN pv ON pv.group_a = m.group_a AND pv.group_b = m.group_b
      |  AND pv.d = m.dmax
      |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin)

  /** Exact PR curve over the events value score against the purchase
    * label — one row per distinct score (~950 per 1000 events: the
    * continuous-score shape the banded two-phase cumulative exists for).
    */
  private def evalPrQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("value"), (col("event_type") === "purchase").as("label"))
    ops.Stats.prCurve(ev, "value", "label")
  }
  // the eval_auc discipline minus the rollup, plus the 1-row totals agg:
  // per-band agg (1), offsets prefix window over the ≤256-row band table
  // (1), per-band cumulative window (1), totals global agg (1) — no
  // global-sort node ever sees the distinct-score table
  // the 1-row (n, p) totals attach onto the distinct-score curve: the
  // scalar-attach idiom
  query("eval_pr", evalPrQ, ShufflesWithBnlj(4))(
    // PR-curve replay: distinct-score confusion matrices from the same
    // counts-below cumulative (predict positive ⇔ score ≥ t); integral
    // `//` matches the engine's DECIMAL(38,0) div on all-positive lanes
    """WITH base AS MATERIALIZED (
      |  SELECT value AS s, count(*) AS cnt,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |  CAST(sum(pos) AS BIGINT) AS p FROM base),
      |cum AS (SELECT s,
      |    coalesce(sum(cnt) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cc,
      |    coalesce(sum(pos) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
      |  FROM base)
      |SELECT s AS threshold,
      |  CAST(p - cp AS BIGINT) AS tp,
      |  CAST((n - cc) - (p - cp) AS BIGINT) AS fp,
      |  CAST(cp AS BIGINT) AS fn,
      |  CAST((p - cp) * 1000000 // (n - cc) AS BIGINT) AS precision_ppm,
      |  CASE WHEN p > 0
      |    THEN CAST((p - cp) * 1000000 // p AS BIGINT) END AS recall_ppm,
      |  CASE WHEN p > 0
      |    THEN CAST(2 * (p - cp) * 1000000 // ((n - cc) + p) AS BIGINT)
      |  END AS f1_ppm
      |FROM cum CROSS JOIN tot""".stripMargin)

  /** Daily CUSUM changepoint scan per event type over the value series —
    * where each type's cumulative value mass diverges most from uniform
    * accumulation.
    */
  private def cusumChangeQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.cusumChangepoint(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L)
      .withColumn("change_at_us", unix_micros(col("change_at")))
      .drop("change_at")
  // per-group max agg + earliest-attaining re-agg over the checkpointed
  // (group, bucket) deviation table; the corpus bucket-sum pass and the
  // per-group running-sum window sit behind build-time checkpoints
  query("cusum_change", cusumChangeQ, Shuffles(2))(
    // CUSUM replay: the identical micro-unit daily bucket sums → per-group
    // running-sum deviation |n·S_i − i·S_n| → max → earliest attaining
    // bucket; HUGEINT carries the cross-scaled products exactly
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    epoch_us(ts) // 86400000000 AS b,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS st FROM base GROUP BY 1),
      |dd AS MATERIALIZED (SELECT base.g, b, n, st,
      |    abs(CAST(n AS HUGEINT) *
      |        (sum(x) OVER (PARTITION BY base.g ORDER BY b)) -
      |      CAST(row_number() OVER (PARTITION BY base.g ORDER BY b)
      |        AS HUGEINT) * st) AS d
      |  FROM base JOIN tot ON tot.g = base.g),
      |m AS (SELECT g, n, st, max(d) AS dmax FROM dd GROUP BY 1, 2, 3)
      |SELECT m.g AS event_type, m.n AS n_buckets, m.st AS s_total,
      |  CAST(m.dmax AS BIGINT) AS d_num,
      |  CASE WHEN m.st != 0 THEN CAST(m.dmax * 1000000 //
      |    (CAST(m.n AS HUGEINT) * abs(m.st)) AS BIGINT) END AS cusum_ppm,
      |  min(dd.b) * 86400000000 AS change_at_us
      |FROM m JOIN dd ON dd.g = m.g AND dd.d = m.dmax
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin)

  /** Exact chi-square independence panel: is event type associated with
    * the day of week? The dow derives in the integer lane
    * ((epoch_day + 4) mod 7 — 1970-01-01 was a Thursday), never through a
    * session-timezone-dependent calendar function.
    */
  private def chiSquareQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(col("event_type"),
      pmod(call_function("div", unix_micros(col("ts")), lit(86400000000L))
        + 4, lit(7)).as("dow"))
    ops.Stats.chiSquare(ev, "event_type", "dow")
  }
  // the 1-row table-statistic agg + the two 1-row dof marginal counts
  // (all three land in broadcast scalar-attaches); the corpus cell pass,
  // marginals, and the dense grid sit behind the cells checkpoint
  // chi_square's 1-row table-statistic and dof attaches: the same idiom
  query("chi_square", chiSquareQ, ShufflesWithBnlj(3))(
    // chi-square replay: the identical cell-count → dense marginal grid
    // → common-denominator (O·N − R·C)²·10^6 // (R·C·N) chain; per-cell
    // floors sum to the quantized table statistic in both engines
    """WITH base AS MATERIALIZED (
      |  SELECT event_type AS r,
      |    (epoch_us(ts) // 86400000000 + 4) % 7 AS c, count(*) AS o
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rr FROM base GROUP BY 1),
      |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS cc FROM base GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM base),
      |cells AS MATERIALIZED (
      |  SELECT rt.r, ct.c, coalesce(base.o, 0) AS o, rr, cc, nn,
      |    CAST(rr AS HUGEINT) * cc * 1000000 // nn AS expected_ppm,
      |    ((CAST(coalesce(base.o, 0) AS HUGEINT) * nn
      |        - CAST(rr AS HUGEINT) * cc)
      |     * (CAST(coalesce(base.o, 0) AS HUGEINT) * nn
      |        - CAST(rr AS HUGEINT) * cc) * 1000000)
      |      // (CAST(rr AS HUGEINT) * cc * nn) AS cell_chi2_ppm
      |  FROM rt CROSS JOIN ct CROSS JOIN n
      |  LEFT JOIN base ON base.r = rt.r AND base.c = ct.c)
      |SELECT r AS row_val, c AS col_val, o AS observed,
      |  CAST(expected_ppm AS BIGINT) AS expected_ppm,
      |  CAST(cell_chi2_ppm AS BIGINT) AS cell_chi2_ppm,
      |  CAST(sum(cell_chi2_ppm) OVER () AS BIGINT) AS chi2_ppm,
      |  CAST(((SELECT count(*) FROM rt) - 1)
      |    * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
      |  nn AS n
      |FROM cells""".stripMargin)

  /** Gini feature screen over events: target event_type; the integer-lane
    * day-of-week and a floor-value bucket are honest near-independent
    * features, while `leak` = length(event_type) is a PLANTED leaked
    * feature (a deterministic function of the target, with classes
    * error/click colliding at length 5) — the screen's defining reading:
    * the leak's gain approaches the parent impurity while honest
    * features sit near zero. Leak DETECTION is half of why this panel
    * runs before training at all.
    */
  private def giniGainQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(
      col("event_type"),
      pmod(call_function("div", unix_micros(col("ts")), lit(86400000000L))
        + 4, lit(7)).cast("string").as("dow"),
      call_function("div", floor(col("value")).cast("long"), lit(20L))
        .cast("string").as("vbucket"),
      length(col("event_type")).cast("string").as("leak"))
    ops.Stats.giniGain(ev, "event_type", Seq("dow", "vbucket", "leak"))
  }
  // ONE corpus exchange (the feature-melt cell groupBy, behind the lazy
  // checkpoint) + the (feature, value) and (feature, class) re-aggs;
  // the per-feature panel and its attach ride broadcasts; +1 headroom
  // for the conditional spread() round-robin exchange (fires only when
  // the scan carries fewer splits than the session's parallelism)
  query("gini_gain", giniGainQ, Shuffles(4))(
    // Gini feature-screen replay: the identical per-feature melt →
    // (feature, value, class) cell counts → purity-mass floors
    // a_v = (Σ n_vc²·10⁶)//n_v → panel chain in HUGEINT — every floor
    // identical, so the quantized gains match bit-for-bit
    """WITH ev AS (SELECT event_type AS t,
      |    CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS VARCHAR) AS dow,
      |    CAST(CAST(floor(value) AS BIGINT) // 20 AS VARCHAR) AS vbucket,
      |    CAST(length(event_type) AS VARCHAR) AS leak
      |  FROM events WHERE event_type IS NOT NULL),
      |m AS (
      |  SELECT t, 'dow' AS f, dow AS v FROM ev WHERE dow IS NOT NULL
      |  UNION ALL
      |  SELECT t, 'vbucket', vbucket FROM ev WHERE vbucket IS NOT NULL
      |  UNION ALL
      |  SELECT t, 'leak', leak FROM ev WHERE leak IS NOT NULL),
      |cells AS MATERIALIZED (
      |  SELECT f, v, t, CAST(count(*) AS HUGEINT) AS o
      |  FROM m GROUP BY 1, 2, 3),
      |byv AS MATERIALIZED (
      |  SELECT f, v, CAST(sum(o) AS HUGEINT) AS nv, sum(o * o) AS ssq
      |  FROM cells GROUP BY 1, 2),
      |byc AS (SELECT f, t, CAST(sum(o) AS HUGEINT) AS nc
      |  FROM cells GROUP BY 1, 2),
      |par AS (SELECT f, CAST(sum(nc) AS HUGEINT) AS n,
      |    sum(nc * nc) AS csq
      |  FROM byc GROUP BY 1),
      |spl AS (SELECT f, sum((ssq * 1000000) // nv) AS s,
      |    count(*) AS n_values
      |  FROM byv GROUP BY 1),
      |pan AS (SELECT par.f, n, n_values,
      |    CAST(1000000 - (csq * 1000000) // (n * n) AS BIGINT)
      |      AS parent_gini_ppm,
      |    CAST(1000000 - s // n AS BIGINT) AS split_gini_ppm
      |  FROM par JOIN spl ON spl.f = par.f)
      |SELECT byv.f AS feature, v AS feature_value,
      |  CAST(nv AS BIGINT) AS n_v,
      |  CAST(1000000 - (ssq * 1000000) // (nv * nv) AS BIGINT)
      |    AS child_gini_ppm,
      |  CAST(n AS BIGINT) AS n, CAST(n_values AS BIGINT) AS n_values,
      |  parent_gini_ppm, split_gini_ppm,
      |  parent_gini_ppm - split_gini_ppm AS gain_ppm
      |FROM byv JOIN pan ON pan.f = byv.f""".stripMargin)

  /** Calibration panel of the events value score against the purchase
    * label over 10 uniform bins — eval_pr's operating points ask "how do
    * precision and recall trade", this asks "does the score MEAN its
    * value" (and ece_ppm compresses the answer).
    */
  private def calibrationQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .select(col("value"), (col("event_type") === "purchase").as("label"))
    ops.Stats.calibration(ev, "value", "label", nBins = 10)
  }
  // the 1-row ECE agg over the checkpointed nBins-sized panel; the
  // corpus bin aggregation and the range pull sit behind checkpoints
  // eval_calibration's 1-row ECE attach onto the bin panel: the same idiom
  query("eval_calibration", calibrationQ, ShufflesWithBnlj(1))(
    // calibration replay: the identical IEEE width-binning (subtract,
    // divide, floor — exactly rounded in both engines) → micro-unit
    // panel → n-weighted ECE chain with integral `//`
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(value AS DOUBLE) AS s,
      |    event_type = 'purchase' AS y
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |rng AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
      |b AS MATERIALIZED (
      |  SELECT CASE WHEN hi = lo THEN 0 ELSE
      |      least(greatest(CAST(floor((s - lo) / ((hi - lo) / 10))
      |        AS BIGINT), 0), 9) END AS bin,
      |    s, y
      |  FROM base CROSS JOIN rng),
      |p AS MATERIALIZED (
      |  SELECT bin, count(*) AS n,
      |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(floor(s * 1000000) AS BIGINT)) AS BIGINT) AS sm
      |  FROM b GROUP BY 1),
      |g AS (SELECT bin, n, n_pos,
      |    sm // n AS conf_ppm, n_pos * 1000000 // n AS acc_ppm,
      |    abs(sm // n - n_pos * 1000000 // n) AS gap_ppm
      |  FROM p)
      |SELECT bin, n, n_pos, conf_ppm, acc_ppm, gap_ppm,
      |  CAST(sum(gap_ppm * n) OVER () // sum(n) OVER () AS BIGINT)
      |    AS ece_ppm
      |FROM g""".stripMargin)

  /** Weekly-seasonality anomaly panel per event type: daily value-mass
    * buckets compared against their own day-of-week mean, flagged outside
    * ±50% — "it's Sunday" and "something broke" separated.
    */
  private def seasonalAnomalyQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.seasonalAnomaly(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, periodBuckets = 7, bandPpm = 500000L)
      .withColumn("bucket_us", unix_micros(col("bucket")))
      .drop("bucket")
  // the (group, phase) mean re-agg riding inside the broadcast attach;
  // the corpus bucket-sum pass sits behind the base checkpoint
  query("seasonal_anomaly", seasonalAnomalyQ, Shuffles(1))(
    // seasonal-anomaly replay: the identical micro-unit bucket sums →
    // (group, phase) integral means → ratio/band chain; `%` on
    // non-negative epoch buckets matches Spark's pmod
    """WITH base AS MATERIALIZED (
      |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS b,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |ph AS (SELECT g, b, b % 7 AS p, x FROM base),
      |pm AS (SELECT g, p, CAST(sum(x) // count(*) AS BIGINT) AS m
      |  FROM ph GROUP BY 1, 2),
      |r AS (SELECT ph.g, ph.b, ph.p, ph.x, pm.m,
      |    CASE WHEN pm.m > 0 THEN ph.x * 1000000 // pm.m END AS ratio
      |  FROM ph JOIN pm ON pm.g = ph.g AND pm.p = ph.p)
      |SELECT g AS event_type, p AS phase, x AS value_micro,
      |  m AS phase_mean_micro, CAST(ratio AS BIGINT) AS ratio_ppm,
      |  (ratio IS NOT NULL AND (ratio < 500000 OR ratio > 1500000))
      |    AS anomalous,
      |  b * 86400000000 AS bucket_us
      |FROM r""".stripMargin)

  /** k-anonymity / l-diversity audit of the customer table: equivalence
    * classes of (nation, segment) with account balance as the sensitive
    * attribute — the failing classes are the suppression work-list.
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    ops.Quality.kAnonymity(
      s.read.parquet(s"$dir/customer.parquet"),
      Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10L)
  // the (quasi, sensitive) agg + the quasi re-agg, both map-side partial
  query("k_anonymity", kAnonymityQ, Shuffles(2))(
    // k-anonymity replay: plain two-level grouping; SQL GROUP BY is
    // null-safe exactly like the engine's groupBy
    """SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
      |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
      |  count(*) >= 10 AS k_anonymous
      |FROM customer GROUP BY 1, 2""".stripMargin)

  /** FD audit: which orders violate l_orderkey → l_suppkey (i.e. were
    * supplied by more than one supplier) — an empty result would BE the
    * dependency holding.
    */
  private def fdCheckQ(s: SparkSession, dir: String): DataFrame =
    ops.Quality.functionalDependency(
      s.read.parquet(s"$dir/lineitem.parquet"),
      Seq("l_orderkey"), "l_suppkey")
  // the identical two-level shape on (lhs, rhs)
  query("fd_check", fdCheckQ, Shuffles(2))(
    """SELECT l_orderkey, count(*) AS n_rows,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_rhs
      |FROM lineitem GROUP BY 1
      |HAVING count(DISTINCT l_suppkey) > 1""".stripMargin)

  /** Exact 1-Wasserstein drift for all event-type pairs over the value
    * distribution — KS's sup-norm sibling reads the worst gap, this
    * integrates it: how much mass moved how far.
    */
  private def emdDriftQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.emdDrift(ev, "event_type", "value")
  }
  // gap table (band groupBy + head lead + within-band lead windows) +
  // the pair join re-keys on the value + the pair-sum agg; the grid
  // build sits behind the shared cum checkpoint, and the <=255-row
  // band-head lead is the documented bounded-table window
  query("emd_drift", emdDriftQ, Shuffles(6))(
    // W1 replay: the ks_test grid with the step integral instead of the
    // max — Σ |ΔF·n| · micro-lattice gap, one integral division
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    CAST(value AS DOUBLE) AS v, count(*) AS c
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
      |vals AS MATERIALIZED (SELECT DISTINCT v FROM base),
      |gaps AS (SELECT v, coalesce(
      |    CAST(floor(lead(v) OVER (ORDER BY v) * 1000000) AS HUGEINT)
      |      - CAST(floor(v * 1000000) AS HUGEINT),
      |    CAST(0 AS HUGEINT)) AS gap FROM vals),
      |cum AS MATERIALIZED (SELECT t.g, vals.v,
      |    sum(coalesce(base.c, 0)) OVER (
      |      PARTITION BY t.g ORDER BY vals.v) AS f
      |  FROM vals CROSS JOIN (SELECT g FROM totals) t
      |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
      |pv AS (SELECT a.v, a.g AS group_a, b.g AS group_b,
      |    ta.n AS n_a, tb.n AS n_b,
      |    abs(CAST(a.f AS HUGEINT) * tb.n - CAST(b.f AS HUGEINT) * ta.n) AS d
      |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
      |  JOIN totals ta ON ta.g = a.g JOIN totals tb ON tb.g = b.g)
      |SELECT pv.group_a, pv.group_b, pv.n_a, pv.n_b,
      |  CAST(sum(pv.d * gaps.gap)
      |    // (CAST(pv.n_a AS HUGEINT) * pv.n_b) AS BIGINT) AS emd_micro
      |FROM pv JOIN gaps ON gaps.v = pv.v
      |GROUP BY 1, 2, 3, 4""".stripMargin)

  /** Exact Mann–Whitney rank-sum panel for all event-type pairs over the
    * value distribution — the drift trio's rank member: which population
    * runs systematically higher, with the tie-corrected z².
    */
  private def rankSumQ(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value")
    ops.Stats.rankSumTest(ev, "event_type", "value")
  }
  // pair self-join re-key on the value (both sides from the shared cum
  // checkpoint, 2) + the (group_a, group_b) pair agg (1); the grid build
  // sits behind the checkpoint and both totals attach as broadcasts
  query("rank_sum_test", rankSumQ, Shuffles(3))(
    // rank-sum replay: the same pooled grid carrying point mass c, the
    // u2/tie-term pair aggregation, then the one correctly-rounded IEEE
    // closed-form z² step in the IDENTICAL operand order as the engine
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    CAST(value AS DOUBLE) AS v, count(*) AS c
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |totals AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM base GROUP BY 1),
      |vals AS (SELECT DISTINCT v FROM base),
      |cum AS MATERIALIZED (SELECT t.g, vals.v,
      |    CAST(coalesce(base.c, 0) AS HUGEINT) AS c,
      |    CAST(sum(coalesce(base.c, 0)) OVER (
      |      PARTITION BY t.g ORDER BY vals.v) AS HUGEINT) AS f
      |  FROM vals CROSS JOIN (SELECT g FROM totals) t
      |  LEFT JOIN base ON base.g = t.g AND base.v = vals.v),
      |pr AS (SELECT a.g AS group_a, b.g AS group_b,
      |    sum(a.c * (b.f * 2 - b.c)) AS u2,
      |    sum((a.c + b.c) * (a.c + b.c) * (a.c + b.c) - (a.c + b.c)) AS tt
      |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
      |  GROUP BY 1, 2),
      |fin AS (SELECT pr.group_a, pr.group_b, ta.n AS n_a, tb.n AS n_b,
      |    pr.u2, pr.u2 - CAST(ta.n AS HUGEINT) * tb.n AS d,
      |    CAST(ta.n AS HUGEINT) + tb.n AS nn,
      |    (CAST(ta.n AS HUGEINT) + tb.n + 1) * (CAST(ta.n AS HUGEINT) + tb.n)
      |      * (CAST(ta.n AS HUGEINT) + tb.n - 1) - pr.tt AS w
      |  FROM pr JOIN totals ta ON ta.g = pr.group_a
      |    JOIN totals tb ON tb.g = pr.group_b)
      |SELECT group_a, group_b, n_a, n_b, CAST(u2 AS BIGINT) AS u2,
      |  CAST(u2 * 1000000 // (CAST(n_a AS HUGEINT) * n_b * 2)
      |    AS BIGINT) AS u_ppm,
      |  CASE WHEN w <> 0 THEN round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
      |      * 3.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |        * CAST(w AS DOUBLE)), 6)
      |  END AS z2
      |FROM fin""".stripMargin)

  /** Customer-spend concentration per order priority — Gini / HHI /
    * top-10 share over per-customer order totals, exact micro-unit lane.
    */
  private def concentrationQ(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_custkey", "o_totalprice")
    ops.Stats.concentrationPanel(
      o, "o_orderpriority", "o_custkey", "o_totalprice", topK = 10)
  }
  // the (group, entity) totals agg + ONE group-keyed exchange shared by
  // both rank windows; the final group agg clusters on the window's
  // partitioning — no further exchange
  query("concentration", concentrationQ, Shuffles(2))(
    // concentration replay: per-entity micro totals, the two rank
    // windows, then HUGEINT moment sums and integral `//` indices in
    // the engine's operand order (all-positive lanes throughout)
    """WITH base AS (
      |  SELECT CAST(o_orderpriority AS VARCHAR) AS g,
      |    CAST(o_custkey AS VARCHAR) AS e,
      |    sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS s
      |  FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
      |    AND o_totalprice IS NOT NULL
      |  GROUP BY 1, 2),
      |r AS (SELECT g, s,
      |    row_number() OVER (PARTITION BY g ORDER BY s ASC, e ASC) AS ra,
      |    row_number() OVER (PARTITION BY g ORDER BY s DESC, e ASC) AS rd
      |  FROM base),
      |p AS (SELECT g, CAST(count(*) AS BIGINT) AS n_entities,
      |    sum(CAST(s AS HUGEINT)) AS t,
      |    sum(CAST(s AS HUGEINT) * s) AS sq,
      |    sum(CAST(ra AS HUGEINT) * s) AS rs,
      |    sum(CASE WHEN rd <= 10 THEN CAST(s AS HUGEINT) ELSE 0 END) AS tp
      |  FROM r GROUP BY 1)
      |SELECT g AS o_orderpriority, n_entities,
      |  CAST(t AS BIGINT) AS total_micro,
      |  CASE WHEN t > 0 THEN CAST(sq * 1000000 // (t * t) AS BIGINT)
      |  END AS hhi_ppm,
      |  CASE WHEN t > 0 THEN CAST((rs * 2 -
      |      (CAST(n_entities AS HUGEINT) + 1) * t) * 1000000
      |    // (CAST(n_entities AS HUGEINT) * t) AS BIGINT)
      |  END AS gini_ppm,
      |  CASE WHEN t > 0 THEN CAST(tp * 1000000 // t AS BIGINT)
      |  END AS topk_share_ppm
      |FROM p""".stripMargin)

  /** Per-event-type Pareto frontier over users on (activity, value): the
    * undominated (n_events, value_micro) set — the exact SKYLINE operator.
    */
  private def paretoFrontQ(s: SparkSession, dir: String): DataFrame = {
    val peru = s.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value").cast("double") * 1000000L).cast("long"))
          .as("value_micro"))
    ops.Stats.paretoFront(
      peru, "event_type", "user_id", "n_events", "value_micro")
  }
  // the (group, x) level-maxima agg + the group-keyed running-max
  // window; the verdict joins back to the checkpointed corpus as a
  // level-sized broadcast
  query("pareto_front", paretoFrontQ, Shuffles(2))(
    // skyline replay: (group, x) level maxima, the strictly-greater-x
    // running max (1 PRECEDING frame), survivors where y equals the
    // level max and strictly beats the running max
    """WITH peru AS (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS value_micro
      |  FROM events
      |  WHERE user_id IS NOT NULL AND value IS NOT NULL
      |    AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |lvl AS (SELECT event_type, n_events,
      |    max(value_micro) AS ymax,
      |    max(max(value_micro)) OVER (PARTITION BY event_type
      |      ORDER BY n_events DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM peru GROUP BY 1, 2)
      |SELECT p.event_type, p.user_id, p.n_events, p.value_micro
      |FROM peru p JOIN lvl l
      |  ON l.event_type = p.event_type AND l.n_events = p.n_events
      |WHERE p.value_micro = l.ymax
      |  AND (l.pm IS NULL OR p.value_micro > l.pm)""".stripMargin)

  /** EWMA control chart per event type over daily value buckets — the
    * monitoring family's recency member next to cusum_change.
    */
  private def ewmaChartQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.ewmaChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, alphaPpm = 300000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")
  // the (group, bucket) sum agg + the group-keyed fold collect; the
  // recurrence and re-explode are in-row
  query("ewma_chart", ewmaChartQ, Shuffles(2))(
    // EWMA replay: (group, day-bucket) micro sums, then the recurrence
    // s1 = x1, st = s + alpha*(x - s) as a RECURSIVE CTE in the
    // IDENTICAL operand order, alpha divided from its ppm integer
    // in-engine on both sides
    """WITH RECURSIVE b AS (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    epoch_us(ts) // 86400000000 AS bkt,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |st AS (SELECT g, bkt, x, row_number() OVER (
      |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
      |ew AS (
      |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS s,
      |    CAST(NULL AS DOUBLE) AS r
      |  FROM st WHERE rn = 1
      |  UNION ALL
      |  SELECT o.g, o.bkt, o.x, o.rn,
      |    ew.s + (CAST(300000 AS DOUBLE) / 1000000.0) *
      |      (CAST(o.x AS DOUBLE) - ew.s),
      |    CAST(o.x AS DOUBLE) - ew.s
      |  FROM ew JOIN st o ON o.g = ew.g AND o.rn = ew.rn + 1)
      |SELECT g AS event_type, x AS value_micro,
      |  CAST(floor(s) AS BIGINT) AS ewma_micro,
      |  CAST(floor(r) AS BIGINT) AS resid_micro,
      |  bkt * 86400000000 AS bucket_us
      |FROM ew""".stripMargin)

  /** Holt level+trend chart per event type over daily value buckets — the
    * monitoring family's forecasting member next to ewma_chart: the
    * residual is against the one-step forecast `level + trend`, so a
    * steadily growing series alarms on breaks, not on its own growth.
    */
  private def holtChartQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.holtChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, alphaPpm = 300000L, betaPpm = 100000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")
  // identical chain — the second (trend) recurrence rides the same fold
  query("holt_chart", holtChartQ, Shuffles(2)) {
    // Holt replay: the ewma_chart recursive CTE with the second
    // recurrence — the level update repeats textually inside the trend
    // update exactly as the engine's fold does, so the IEEE op tree is
    // identical step for step
    val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
    val lNext = s"($a * CAST(o.x AS DOUBLE) + (1.0 - $a) * (h.l + h.t))"
    s"""WITH RECURSIVE b AS (
       |  SELECT CAST(event_type AS VARCHAR) AS g,
       |    epoch_us(ts) // 86400000000 AS bkt,
       |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |st AS (SELECT g, bkt, x, row_number() OVER (
       |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
       |h AS (
       |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t, CAST(NULL AS DOUBLE) AS r
       |  FROM st WHERE rn = 1
       |  UNION ALL
       |  SELECT o.g, o.bkt, o.x, o.rn,
       |    $lNext,
       |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
       |    CAST(o.x AS DOUBLE) - (h.l + h.t)
       |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
       |SELECT g AS event_type, x AS value_micro,
       |  CAST(floor(l) AS BIGINT) AS level_micro,
       |  CAST(floor(t) AS BIGINT) AS trend_micro,
       |  CAST(floor(r) AS BIGINT) AS resid_micro,
       |  bkt * 86400000000 AS bucket_us
       |FROM h""".stripMargin
  }

  /** Holt–Winters level+trend+seasonality chart per event type over daily
    * value buckets, weekly period — the forecasting lane's seasonal
    * member: the residual is against `level + trend + day-of-week index`,
    * so a metric with a weekend dip alarms on breaks, not on Saturdays.
    */
  private def holtWintersQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.holtWintersChart(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value",
      bucketSeconds = 86400L, period = 7,
      alphaPpm = 300000L, betaPpm = 100000L, gammaPpm = 300000L)
      .withColumn("bucket_us", unix_micros(col("bucket"))).drop("bucket")
  // identical chain again — the seasonal index array is FOLD state, not
  // extra plan structure
  query("holt_winters", holtWintersQ, Shuffles(2)) {
    // Holt–Winters replay: the holt_chart recursive chain with the
    // seasonal state carried as SEVEN explicit double columns (the
    // Spark fold carries an array; same IEEE op tree, different
    // layout) — level repeated textually inside the trend AND seasonal
    // updates, phase selected by bkt % 7 in both engines
    val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
    val g = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val sPrev = "(CASE o.bkt % 7 " +
      (0 until 7).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
    val lNext =
      s"($a * (CAST(o.x AS DOUBLE) - $sPrev) + (1.0 - $a) * (h.l + h.t))"
    val sNext =
      s"($g * (CAST(o.x AS DOUBLE) - $lNext) + (1.0 - $g) * $sPrev)"
    val sCols = (0 until 7).map(i =>
      s"CASE WHEN o.bkt % 7 = $i THEN $sNext ELSE h.s$i END")
      .mkString(",\n           |    ").stripMargin
    val zeroCols = (0 until 7).map(i => s"CAST(0.0 AS DOUBLE) AS s$i")
      .mkString(", ")
    s"""WITH RECURSIVE b AS (
       |  SELECT CAST(event_type AS VARCHAR) AS g,
       |    epoch_us(ts) // 86400000000 AS bkt,
       |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |st AS (SELECT g, bkt, x, row_number() OVER (
       |    PARTITION BY g ORDER BY bkt) AS rn FROM b),
       |h AS (
       |  SELECT g, bkt, x, rn, CAST(x AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t, $zeroCols,
       |    CAST(0.0 AS DOUBLE) AS si, CAST(NULL AS DOUBLE) AS r
       |  FROM st WHERE rn = 1
       |  UNION ALL
       |  SELECT o.g, o.bkt, o.x, o.rn,
       |    $lNext,
       |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
       |    $sCols,
       |    $sNext,
       |    CAST(o.x AS DOUBLE) - (h.l + h.t + $sPrev)
       |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
       |SELECT g AS event_type, x AS value_micro,
       |  CAST(floor(l) AS BIGINT) AS level_micro,
       |  CAST(floor(t) AS BIGINT) AS trend_micro,
       |  CAST(floor(si) AS BIGINT) AS season_micro,
       |  CAST(floor(r) AS BIGINT) AS resid_micro,
       |  bkt * 86400000000 AS bucket_us
       |FROM h""".stripMargin
  }

  /** Theil–Sen robust daily trend per event type — trend_lines' median-
    * slope twin: one corrupted day drags OLS, the pairwise-median vote
    * ignores it.
    */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.theilSen(events(dir).load(s)
        .select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L)
  // the same bucket agg + group collect; the O(B^2) pair vote and both
  // medians run in-row over the bucket array
  query("theil_sen", theilSenQ, Shuffles(2))(
    // Theil-Sen replay: the same daily micro buckets, every (i < j)
    // bucket pair's SIGN-SPLIT truncating ppm slope via self-join, the
    // lower median by row_number, intercepts from the picked slope in
    // the identical sign-split lane
    """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS g,
      |    epoch_us(ts) // 86400000000 AS bkt,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |p AS (SELECT b1.g,
      |    CASE WHEN b2.x - b1.x >= 0
      |      THEN CAST((CAST(b2.x - b1.x AS HUGEINT) * 1000000)
      |        // (b2.bkt - b1.bkt) AS BIGINT)
      |      ELSE -CAST((CAST(-(b2.x - b1.x) AS HUGEINT) * 1000000)
      |        // (b2.bkt - b1.bkt) AS BIGINT)
      |    END AS s
      |  FROM b b1 JOIN b b2 ON b1.g = b2.g AND b2.bkt > b1.bkt),
      |ms AS (SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
      |    count(*) OVER (PARTITION BY g) AS m FROM p),
      |sl AS (SELECT g, s AS slope_ppm, m AS n_pairs FROM ms
      |  WHERE rn = (m + 1) // 2),
      |nb AS (SELECT g, CAST(count(*) AS BIGINT) AS n_buckets FROM b GROUP BY 1),
      |ic0 AS (SELECT b.g, b.x - (CASE WHEN sl.slope_ppm >= 0
      |      THEN CAST((CAST(sl.slope_ppm AS HUGEINT) * b.bkt) // 1000000 AS BIGINT)
      |      ELSE -CAST((CAST(-sl.slope_ppm AS HUGEINT) * b.bkt) // 1000000 AS BIGINT)
      |    END) AS i0
      |  FROM b JOIN sl ON sl.g = b.g),
      |mi AS (SELECT g, i0, row_number() OVER (PARTITION BY g ORDER BY i0) AS rn,
      |    count(*) OVER (PARTITION BY g) AS m FROM ic0),
      |ic AS (SELECT g, i0 AS intercept_micro FROM mi WHERE rn = (m + 1) // 2)
      |SELECT nb.g AS event_type, nb.n_buckets,
      |  coalesce(sl.n_pairs, 0) AS n_pairs, sl.slope_ppm, ic.intercept_micro
      |FROM nb LEFT JOIN sl ON sl.g = nb.g LEFT JOIN ic ON ic.g = nb.g""".stripMargin)

  /** The streaming EWMA monitor's read path: daily per-type state
    * partials (the incremental-store shape the exactly-once sink
    * maintains) merged and folded — identical numbers to ewma_chart,
    * state-table-sized work.
    */
  private def ewmaFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.ewmaFromDailyState(state, Seq("event_type"), 300000L)
  }
  // the raw->daily-state agg + the per-day partial merge + the
  // group-keyed fold collect; recurrence/re-explode in-row
  query("ewma_from_state", ewmaFromStateQ, Shuffles(3))(
    // state-path EWMA replay: per-(type, day) partial sums (the
    // incremental-store shape), then the IDENTICAL recurrence as
    // ewma_chart keyed on the ISO day string
    """WITH RECURSIVE b AS (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |st AS (SELECT g, dt, x, row_number() OVER (
      |    PARTITION BY g ORDER BY dt) AS rn FROM b),
      |ew AS (
      |  SELECT g, dt, x, rn, CAST(x AS DOUBLE) AS s,
      |    CAST(NULL AS DOUBLE) AS r
      |  FROM st WHERE rn = 1
      |  UNION ALL
      |  SELECT o.g, o.dt, o.x, o.rn,
      |    ew.s + (CAST(300000 AS DOUBLE) / 1000000.0) *
      |      (CAST(o.x AS DOUBLE) - ew.s),
      |    CAST(o.x AS DOUBLE) - ew.s
      |  FROM ew JOIN st o ON o.g = ew.g AND o.rn = ew.rn + 1)
      |SELECT g AS event_type, dt, x AS value_micro,
      |  CAST(floor(s) AS BIGINT) AS ewma_micro,
      |  CAST(floor(r) AS BIGINT) AS resid_micro
      |FROM ew""".stripMargin)

  /** Holt level+trend over the persisted daily-state shape — the
    * ewma_from_state read path with the forecasting recurrence: the
    * monitor's cost follows the state table, never the stream.
    */
  private def holtFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.holtFromDailyState(state, Seq("event_type"), 300000L, 100000L)
  }
  // identical state-path chain with the trend recurrence in the fold
  query("holt_from_state", holtFromStateQ, Shuffles(3)) {
    // state-path Holt replay: the ewma_from_state day-keyed chain with
    // the holt_chart recurrences — level repeated textually inside the
    // trend update, identical op tree
    val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
    val lNext = s"($a * CAST(o.x AS DOUBLE) + (1.0 - $a) * (h.l + h.t))"
    s"""WITH RECURSIVE b AS (
       |  SELECT CAST(event_type AS VARCHAR) AS g,
       |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
       |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |st AS (SELECT g, dt, x, row_number() OVER (
       |    PARTITION BY g ORDER BY dt) AS rn FROM b),
       |h AS (
       |  SELECT g, dt, x, rn, CAST(x AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t, CAST(NULL AS DOUBLE) AS r
       |  FROM st WHERE rn = 1
       |  UNION ALL
       |  SELECT o.g, o.dt, o.x, o.rn,
       |    $lNext,
       |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
       |    CAST(o.x AS DOUBLE) - (h.l + h.t)
       |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
       |SELECT g AS event_type, dt, x AS value_micro,
       |  CAST(floor(l) AS BIGINT) AS level_micro,
       |  CAST(floor(t) AS BIGINT) AS trend_micro,
       |  CAST(floor(r) AS BIGINT) AS resid_micro
       |FROM h""".stripMargin
  }

  /** Holt–Winters over the persisted daily-state shape — the
    * holt_from_state read path with the weekly seasonal recurrence: the
    * monitor's cost follows the state table, never the stream, and the
    * seasonal index array is part of the fold, not extra state rows.
    */
  private def holtWintersFromStateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .withColumn("v_micro",
        floor(col("value").cast("double") * 1000000L).cast("long"))
    val state = ops.Incremental.dailyState(
      ev, Seq("event_type"), "ts", "v_micro")
    ops.Stats.holtWintersFromDailyState(state, Seq("event_type"),
      period = 7, 300000L, 100000L, 300000L)
  }
  // identical state-path chain with the seasonal recurrence in the fold
  query("holt_winters_from_state", holtWintersFromStateQ, Shuffles(3)) {
    // state-path Holt–Winters replay: the holt_from_state day-keyed
    // chain with the seasonal columns; phase = epoch-day mod 7
    val a = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val bt = "(CAST(100000 AS DOUBLE) / 1000000.0)"
    val g = "(CAST(300000 AS DOUBLE) / 1000000.0)"
    val sPrev = "(CASE o.dnum % 7 " +
      (0 until 7).map(i => s"WHEN $i THEN h.s$i").mkString(" ") + " END)"
    val lNext =
      s"($a * (CAST(o.x AS DOUBLE) - $sPrev) + (1.0 - $a) * (h.l + h.t))"
    val sNext =
      s"($g * (CAST(o.x AS DOUBLE) - $lNext) + (1.0 - $g) * $sPrev)"
    val sCols = (0 until 7).map(i =>
      s"CASE WHEN o.dnum % 7 = $i THEN $sNext ELSE h.s$i END")
      .mkString(",\n           |    ").stripMargin
    val zeroCols = (0 until 7).map(i => s"CAST(0.0 AS DOUBLE) AS s$i")
      .mkString(", ")
    s"""WITH RECURSIVE b AS (
       |  SELECT CAST(event_type AS VARCHAR) AS g,
       |    CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum,
       |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |st AS (SELECT g, dt, dnum, x, row_number() OVER (
       |    PARTITION BY g ORDER BY dt) AS rn FROM b),
       |h AS (
       |  SELECT g, dt, dnum, x, rn, CAST(x AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t, $zeroCols,
       |    CAST(0.0 AS DOUBLE) AS si, CAST(NULL AS DOUBLE) AS r
       |  FROM st WHERE rn = 1
       |  UNION ALL
       |  SELECT o.g, o.dt, o.dnum, o.x, o.rn,
       |    $lNext,
       |    $bt * ($lNext - h.l) + (1.0 - $bt) * h.t,
       |    $sCols,
       |    $sNext,
       |    CAST(o.x AS DOUBLE) - (h.l + h.t + $sPrev)
       |  FROM h JOIN st o ON o.g = h.g AND o.rn = h.rn + 1)
       |SELECT g AS event_type, dt, x AS value_micro,
       |  CAST(floor(l) AS BIGINT) AS level_micro,
       |  CAST(floor(t) AS BIGINT) AS trend_micro,
       |  CAST(floor(si) AS BIGINT) AS season_micro,
       |  CAST(floor(r) AS BIGINT) AS resid_micro
       |FROM h""".stripMargin
  }

  /** Weekly user-value quintile mobility: do the same users stay in the
    * top spend quintile week over week, or does the head churn?
    */
  private def rankMobilityQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.rankMobility(
      events(dir).load(s)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("value"),
          call_function("div", unix_micros(col("ts")),
            lit(7L * 86400000000L)).as("week")),
      "user_id", "week", "value", k = 5)
  // the k·periods-row total re-agg over the checkpointed transition
  // table (inside its broadcast branch); the (period, key) totals,
  // ntile window, and from→to join sit behind build-time checkpoints
  query("rank_mobility", rankMobilityQ, Shuffles(2))(
    // mobility replay: per-(week, user) micro totals, the identical
    // deterministic ntile under the (value, key-string) total order,
    // lead-paired consecutive weeks, left-joined transitions (NULL
    // bin_to = churned), integral row shares
    """WITH pk AS (
      |  SELECT epoch_us(ts) // 604800000000 AS p,
      |    CAST(user_id AS VARCHAR) AS k,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS s
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |bins AS (SELECT p, k,
      |    CAST(ntile(5) OVER (PARTITION BY p ORDER BY s ASC, k ASC)
      |      AS BIGINT) AS bin
      |  FROM pk),
      |pairs AS (SELECT p, lead(p) OVER (ORDER BY p) AS pn
      |  FROM (SELECT DISTINCT p FROM bins)),
      |tr AS (SELECT f.p AS period_from, pairs.pn AS period_to,
      |    f.bin AS bin_from, t.bin AS bin_to,
      |    CAST(count(*) AS BIGINT) AS n_keys
      |  FROM bins f JOIN pairs ON pairs.p = f.p AND pairs.pn IS NOT NULL
      |  LEFT JOIN bins t ON t.p = pairs.pn AND t.k = f.k
      |  GROUP BY 1, 2, 3, 4)
      |SELECT period_from, period_to, bin_from, bin_to, n_keys,
      |  CAST(n_keys * 1000000 // sum(n_keys) OVER (
      |    PARTITION BY period_from, period_to, bin_from) AS BIGINT)
      |    AS share_ppm
      |FROM tr""".stripMargin)

  /** Ordered 3-event behavior patterns per user with distinct-user
    * support — basket rules' sequential sibling over the event stream.
    */
  private def sequencePatternsQ(s: SparkSession, dir: String): DataFrame =
    ops.Affinity.sequencePatterns(
      events(dir).load(s).select("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", k = 3, minSupport = 2L,
      maxSeqLen = 512)
  // the pattern-key agg over the checkpointed sequence table; the
  // k-gram slice + per-key dedup are in-row, and the N pull runs at
  // build time
  query("sequence_patterns", sequencePatternsQ, Shuffles(1))(
    // sequence-pattern replay: (ts, item)-sorted per-user sequences →
    // in-list contiguous 3-grams → per-user dedup → support/share
    """WITH s AS MATERIALIZED (
      |  SELECT user_id AS u, list_transform(list_sort(
      |      list(struct_pack(t := epoch_us(ts), i := event_type))),
      |    x -> x.i) AS seq
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL
      |  GROUP BY 1),
      |c AS MATERIALIZED (SELECT u, seq FROM s WHERE len(seq) <= 512),
      |n AS (SELECT count(*) AS nk FROM c),
      |g AS (SELECT u, unnest(list_distinct(
      |    CASE WHEN len(seq) >= 3 THEN
      |      list_transform(generate_series(1, len(seq) - 2),
      |        i -> array_to_string(seq[i:i+2], chr(31)))
      |    ELSE [] END)) AS pattern
      |  FROM c)
      |SELECT pattern, count(*) AS support,
      |  count(*) * 1000000 // (SELECT nk FROM n) AS share_ppm
      |FROM g GROUP BY 1 HAVING count(*) >= 2""".stripMargin)

  /** Daily-bucket autocorrelation at lags 1..7 per event type — the
    * periodicity detector that tells seasonal_anomaly its period.
    */
  private def autocorrelationQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.autocorrelation(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L,
      lags = Seq(1, 2, 3, 4, 5, 6, 7))
  // the (group, lag) moment agg; the lag self-join clusters on the
  // checkpointed bucket table (broadcast at gate SF)
  query("autocorrelation", autocorrelationQ, Shuffles(1))(
    // ACF replay: identical micro-unit bucket sums → one lag-exploded
    // self-join → HUGEINT moments → the correctly-rounded IEEE corr step
    """WITH base AS MATERIALIZED (
      |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS b,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |p AS (SELECT a.g, l.lag,
      |    CAST(a.x AS HUGEINT) AS xa, CAST(c.x AS HUGEINT) AS xc
      |  FROM base a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
      |  JOIN base c ON c.g = a.g AND c.b = a.b + l.lag),
      |m AS (SELECT g, lag, count(*) AS n,
      |    sum(xa) AS sa, sum(xa * xa) AS saa,
      |    sum(xc) AS sc, sum(xc * xc) AS scc,
      |    sum(xa * xc) AS sac
      |  FROM p GROUP BY 1, 2),
      |d AS (SELECT g, lag, n,
      |    CAST(n * saa - sa * sa AS DOUBLE) AS sxx,
      |    CAST(n * scc - sc * sc AS DOUBLE) AS syy,
      |    CAST(n * sac - sa * sc AS DOUBLE) AS sxy
      |  FROM m)
      |SELECT g AS event_type, CAST(lag AS BIGINT) AS lag,
      |  n AS n_pairs,
      |  CASE WHEN sxx * syy != 0
      |    THEN round(sxy / sqrt(sxx * syy), 6) END AS acf
      |FROM d""".stripMargin)

  /** Lead/lag cross-correlation between every ordered event-type pair
    * over daily value buckets — does signup volume lead purchase volume?
    */
  private def crossCorrelationQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.crossCorrelation(
      events(dir).load(s).select("event_type", "ts", "value"),
      "event_type", "ts", "value", bucketSeconds = 86400L,
      lags = Seq(0, 1, 2, 3))
  // the pair moment agg; the in-row lag explode rides the checkpointed
  // bucket table and the bucket-keyed join broadcasts at gate SF (at
  // scale it re-keys both sides — the budget leaves that headroom)
  query("cross_correlation", crossCorrelationQ, Shuffles(3))(
    // cross-correlation replay: the autocorrelation chain with the
    // b-side series decoupled from the a-side (bucket-keyed join,
    // ordered pairs a != b, lag 0 included)
    """WITH base AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS s,
      |    epoch_us(ts) // 86400000000 AS b,
      |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |p AS (SELECT a.s AS sa, c.s AS sb, l.lag,
      |    CAST(a.x AS HUGEINT) AS xa, CAST(c.x AS HUGEINT) AS xc
      |  FROM base a
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS lag) l
      |  JOIN base c ON c.b = a.b + l.lag AND c.s <> a.s),
      |m AS (SELECT sa, sb, lag, count(*) AS n,
      |    sum(xa) AS sa2, sum(xa * xa) AS saa,
      |    sum(xc) AS sc, sum(xc * xc) AS scc,
      |    sum(xa * xc) AS sac
      |  FROM p GROUP BY 1, 2, 3),
      |d AS (SELECT sa, sb, lag, n,
      |    CAST(n * saa - sa2 * sa2 AS DOUBLE) AS sxx,
      |    CAST(n * scc - sc * sc AS DOUBLE) AS syy,
      |    CAST(n * sac - sa2 * sc AS DOUBLE) AS sxy
      |  FROM m)
      |SELECT sa AS series_a, sb AS series_b,
      |  CAST(lag AS BIGINT) AS lag, n AS n_pairs,
      |  CASE WHEN sxx * syy != 0
      |    THEN round(sxy / sqrt(sxx * syy), 6) END AS ccf
      |FROM d""".stripMargin)
}
