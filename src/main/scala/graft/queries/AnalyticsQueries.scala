package graft
package queries

import java.sql.Timestamp

import graft.sources.GraftSource

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Analytics headliners: the TPC-H style rollups and top-k, and the
  * skew-aware, planned and Bloom semi joins.
  */
object AnalyticsQueries extends QueryFamily {

  /** Profile-driven skew remediation end-to-end: collapse every third user
    * onto user 0 (a planted power-law head owning ~a third of the fact
    * table — keySkewProfile flags it at ~300000×-mean ppm), then join the
    * fact side to its per-user dimension through
    * [[ops.Skew.profiledSaltedJoin]]: ONLY the hot key is salted (its
    * measured share earns the factor), the cold majority joins plainly.
    * The oracle is the PLAIN join — salting must be invisible in the
    * result, which is the entire correctness contract of the remediation.
    */
  /** Sketch-planned join end-to-end: CMS sketches of both sides' uid keys
    * feed the broadcast/plain/salted decision (the cmsJoinSize planning
    * primitive composed into the remediation); the per-(uid, type) dim
    * fans every event out ~5x, so the inner-product estimate exceeds the
    * 2x salt threshold and the planner takes the profiledSaltedJoin path —
    * whose rows the plain DuckDB join replays identically.
    */
  private def plannedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val raw = events(dir).load(s).select(
      col("event_id"),
      when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")).as("uid"),
      col("event_type"),
      round(col("value") * 10000).cast("long").as("v"))
    val ev = raw.select("event_id", "uid", "v")
    val dim = raw.groupBy("uid", "event_type")
      .agg(count(lit(1)).as("n_ut"), sum("v").as("sum_ut"))
    val skL = ops.Sketch.countMinSketch(ev, "uid", width = 1024, depth = 3)
    val skR = ops.Sketch.countMinSketch(dim, "uid", width = 1024, depth = 3)
    ops.Skew.sketchPlannedJoin(ev, dim, "uid", skL, skR, depth = 3,
      broadcastMaxRows = 100L, saltAboveXPpm = 2000000L)
      .select(col("event_id"), col("uid"), col("v"), col("event_type"),
        col("n_ut"), col("sum_ut"))
  }
  // sketch build + decision run at query-build time (bounded kilobyte
  // pulls); the returned plan is the chosen join — dim agg + salted join
  query("planned_join", plannedJoinQ, Shuffles(3))(
    // the sketch-planned join's rows ARE the plain join's rows — the
    // strategy decision (salted here) only changes the physical plan
    """WITH raw AS (SELECT event_id,
      |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
      |    event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |ev AS (SELECT event_id, uid, v FROM raw),
      |dim AS (SELECT uid, event_type, count(*) AS n_ut,
      |    CAST(sum(v) AS BIGINT) AS sum_ut
      |  FROM raw GROUP BY 1, 2)
      |SELECT e.event_id, e.uid, e.v, d.event_type, d.n_ut, d.sum_ut
      |FROM ev e JOIN dim d USING (uid)""".stripMargin)

  private def skewSaltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s).select(
      col("event_id"),
      when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")).as("uid"),
      round(col("value") * 10000).cast("long").as("v"))
    val dim = ev.groupBy("uid")
      .agg(count(lit(1)).as("n_u"), sum("v").as("sum_u"))
    ops.Skew.profiledSaltedJoin(ev, dim, "uid")
      .select(col("event_id"), col("uid"), col("v"), col("n_u"), col("sum_u"))
  }
  // dim aggregation (1) + the re-key of both sides onto (uid, salt) (2);
  // the profile that sized the salts ran at BUILD time (bounded top-k
  // collect), the tag joins are broadcasts
  query("skew_salted_join", skewSaltedJoinQ, Shuffles(3))(
    // the PLAIN join — the salted plan must be row-identical to it
    """WITH ev AS (SELECT event_id,
      |    CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |dim AS (SELECT uid, count(*) AS n_u, CAST(sum(v) AS BIGINT) AS sum_u
      |  FROM ev GROUP BY 1)
      |SELECT e.event_id, e.uid, e.v, d.n_u, d.sum_u
      |FROM ev e JOIN dim d USING (uid)""".stripMargin)

  // UTC-pinned via tsOf: Timestamp.valueOf parses in the JVM DEFAULT time
  // zone (the harness pins only spark.sql.session.timeZone), so the cutoff
  // instants — and the oracle comparison — would shift with the machine
  private val Q1Cutoff = tsOf(904694400000000L) // 1998-09-02T00:00:00Z
  private val Q3Cutoff = tsOf(896659200000000L) // 1998-06-01T00:00:00Z
  private val Q5Start = tsOf(820454400000000L) // 1996-01-01T00:00:00Z
  private val Q5End = tsOf(852076800000000L) // 1997-01-01T00:00:00Z

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.filter(col("l_shipdate") <= lit(Q1Cutoff))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_e2"),
        sum(round(disc * 100).cast("long")).as("sum_disc_e2"),
        sum(round(disc * (lit(1) + col("l_tax")) * 100).cast("long")).as("sum_charge_e2"),
        count(lit(1)).as("count_order"))
  }
  query("q1_pricing_summary", q1PricingSummary, Shuffles(1))(
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_e2,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_e2,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY 1, 2""".stripMargin)

  private def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = GraftSource.of(table = Some(s"$dir/orders.parquet"),
      timestampField = Some("o_orderdate")).load(s)
      .filter(col("o_orderdate") < lit(Q3Cutoff))
    val li = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
      .filter(col("l_shipdate") > lit(Q3Cutoff))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_e2"))
    // no forced broadcast: the BUILDING segment scales with SF (cost-based
    // planning broadcasts it at bench SF; at 100 TB a shuffle join is right)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_e2")).as("revenue_e2"))
      .orderBy(col("revenue_e2").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"), col("revenue_e2"))
  }
  query("q3_top_orders", q3TopOrders, Shuffles(1))(
    """SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
      |  revenue_e2 FROM (
      |  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
      |    CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment = 'BUILDING'
      |    AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |    AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |  GROUP BY 1, 2, 3
      |  ORDER BY revenue_e2 DESC, o_orderkey LIMIT 10)""".stripMargin)

  /** TPC-H Q5 shape: six-table join — the multi-join planning exercise.
    *
    * Broadcast is FORCED only for the dimensions whose size is bounded by
    * the schema (region = 5 rows, nation = 25 — constant at any SF).
    * Supplier and customer SCALE with the data (10k·SF / 150k·SF rows), so
    * their join strategy is left to cost-based planning: at bench SF the
    * parquet statistics make Catalyst broadcast them anyway (same plan), and
    * at 100 TB they correctly fall back to shuffle joins instead of
    * OOM-ing the driver on a forced hint.
    */
  private def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val region = s.read.parquet(s"$dir/region.parquet")
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    val nation = s.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val asiaNations = nation.join(broadcast(region),
      col("n_regionkey") === col("r_regionkey")).select("n_nationkey", "n_name")
    val supplier = s.read.parquet(s"$dir/supplier.parquet")
      .select("s_suppkey", "s_nationkey")
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val customer = s.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_nationkey")
    val orders = GraftSource.of(table = Some(s"$dir/orders.parquet"),
      timestampField = Some("o_orderdate")).load(s)
      .filter(col("o_orderdate") >= lit(Q5Start) &&
        col("o_orderdate") < lit(Q5End))
      .select("o_orderkey", "o_custkey")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("rev_e2"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(customer,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_e2")).as("revenue_e2"))
  }
  // q5 hints broadcast ONLY for schema-bounded dims (region/nation);
  // supplier/customer scale with SF, so their joins are left to the cost
  // model — the INITIAL plan shows their 2 exchanges + the agg (AQE
  // converts both to broadcasts at runtime at bench SF; at 100 TB the
  // shuffle joins are the correct choice, not a regression)
  query("q5_local_supplier", q5LocalSupplier, Shuffles(3))(
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |    AS BIGINT) AS revenue_e2
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin)

  private def bloomSemiJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val urgent = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    ops.Skew.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
      numBits = 1 << 20, k = 5)
  }
  query("bloom_semi_join", bloomSemiJoinQuery, Shuffles(1))(
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin)

  private def q1Rollup(s: SparkSession, dir: String): DataFrame = {
    val l = GraftSource.of(table = Some(s"$dir/lineitem.parquet"),
      timestampField = Some("l_shipdate")).load(s)
    l.filter(col("l_shipdate") <= lit(Q1Cutoff))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("sum_qty"), col("n_rows"))
  }
  query("q1_rollup", q1Rollup, Shuffles(1))(
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)
}
