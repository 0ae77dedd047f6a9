package graft
package queries

import graft.streaming.EventStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Temporal and event analytics: intervals, as-of and nearest joins, SCD2,
  * sessions, funnels, paths, cohorts, windows and survival.
  */
object EventQueries extends QueryFamily {
  import SketchQueries.{hllChunks, hllLadder, hllRest}

  private[queries] lazy val scd2Ctes =
    """sev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |sdd AS (SELECT user_id, ts_us, max(event_type) AS v
      |  FROM sev GROUP BY user_id, ts_us),
      |slg AS (SELECT user_id, ts_us, v,
      |  lag(v) OVER (PARTITION BY user_id ORDER BY ts_us) AS pv FROM sdd),
      |sch AS (SELECT user_id, ts_us, v FROM slg WHERE pv IS NULL OR v != pv),
      |scd AS (SELECT user_id, v AS event_type, ts_us AS valid_from_us,
      |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS valid_to_us
      |  FROM sch)""".stripMargin

  /** Interval-overlap join end-to-end: each user's SCD2 event-type regimes
    * (open tails closed at the Feb-1 horizon) against 3-day windows opened
    * by that user's purchases — "which regimes were active while the
    * purchase window ran". The oracle is the plain overlap join; the grid
    * cells and the first-cell emit rule must be result-invisible.
    */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val regimes = ops.Temporal.scd2(ev, "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), col("event_type").as("regime"),
        col("valid_from"),
        coalesce(col("valid_to"), timestamp_micros(lit(1706745600000000L)))
          .as("valid_to"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + lit(259200000000L)).as("w_end"))
    ops.Temporal.intervalOverlapJoin(regimes, windows,
        "valid_from", "valid_to", "w_start", "w_end",
        bucketSeconds = 3L * 86400L, keys = Seq("user_id"))
      .select(col("user_id"), col("purchase_id"), col("regime"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        unix_micros(col("w_start")).as("w_start_us"),
        unix_micros(col("w_end")).as("w_end_us"))
  }
  // the scd2 regime build's collapse + window exchanges; the overlap
  // join itself is a broadcast equality join on (cell, user)
  query("interval_overlap_join", intervalOverlapQ, Shuffles(2))(
    // the plain two-sided overlap join over the SAME scd fragment — the
    // grid cells and first-cell emit rule must be result-invisible
    s"""WITH $scd2Ctes,
       |l AS (SELECT user_id, event_type AS regime, valid_from_us,
       |  coalesce(valid_to_us, 1706745600000000) AS valid_to_us FROM scd),
       |r AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS w_start_us,
       |  epoch_us(ts) + 259200000000 AS w_end_us FROM events
       |  WHERE event_type = 'purchase')
       |SELECT l.user_id, r.purchase_id, l.regime, l.valid_from_us,
       |  l.valid_to_us, r.w_start_us, r.w_end_us
       |FROM l JOIN r ON l.user_id = r.user_id
       |  AND l.valid_from_us < r.w_end_us
       |  AND r.w_start_us < l.valid_to_us""".stripMargin)

  /** Interval flatten end-to-end: 36-hour engagement windows opened by each
    * of a user's click/purchase events, collapsed into the user's maximal
    * disjoint engagement intervals ("when was this user engaged AT ALL") —
    * the gaps-and-islands canonicalizer over real overlapping windows.
    * DuckDB replays the identical running-max / island-sum chain.
    */
  private def intervalFlattenQ(s: SparkSession, dir: String): DataFrame = {
    val iv = events(dir).load(s)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts").as("w_start"),
        timestamp_micros(unix_micros(col("ts")) + lit(129600000000L)).as("w_end"))
    ops.Temporal.flattenIntervals(iv, "w_start", "w_end", keys = Seq("user_id"))
      .select(col("user_id"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"), col("n_merged"))
  }
  // the per-key window exchange; the island groupBy reuses the window's
  // hashpartitioning(user_id) (clustering on a superset is satisfied)
  query("interval_flatten", intervalFlattenQ, Shuffles(1))(
    // gaps-and-islands replay: running max of earlier ends (ROWS ... 1
    // PRECEDING), island = running sum of new-island flags, then min/max
    // per (user, island) — deterministic because (s, e) is a total order
    // up to interchangeable duplicates
    s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
       |    epoch_us(ts) + 129600000000 AS e FROM events
       |  WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL),
       |o AS (SELECT user_id, s, e,
       |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
       |isl AS (SELECT user_id, s, e,
       |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM o)
       |SELECT user_id, min(s) AS valid_from_us, max(e) AS valid_to_us,
       |  CAST(count(*) AS BIGINT) AS n_merged
       |FROM isl GROUP BY user_id, island""".stripMargin)

  // the three ANN replays as vals: each is its own oracle entry AND a
  // WITH-in-subquery branch of search_rrf_fusion (one definition, the
  // fused replay cannot drift from the per-ranking ones)
  // shared resample chain (arg-max per 6h bucket, lead gap, capped fill
  // explode) — used by resample_ffill AND the panel-anomaly pipeline so
  // the composed replay cannot drift from the single-stage one
  private[queries] lazy val resampleFfillCtes =
    """ev AS (SELECT user_id, epoch_us(ts) AS us, event_id,
      |    CAST(round(value * 10000) AS BIGINT) AS v_cents, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |obs AS (SELECT user_id, us // 21600000000 AS bucket, v_cents, event_type,
      |    row_number() OVER (PARTITION BY user_id, us // 21600000000
      |      ORDER BY us DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id, us // 21600000000) AS n
      |  FROM ev),
      |w AS (SELECT user_id, bucket, v_cents, event_type, n,
      |    lead(bucket) OVER (PARTITION BY user_id ORDER BY bucket) AS nxt
      |  FROM obs WHERE rn = 1),
      |g AS (SELECT user_id, bucket, v_cents, event_type, n,
      |    unnest(generate_series(0, least(coalesce(nxt - bucket - 1, 0), 8))) AS i
      |  FROM w)""".stripMargin

  /** Resample + forward fill end-to-end: each user's event stream downsampled
    * to 6-hour buckets (last observation per bucket, event_id tie-break),
    * empty buckets forward-filled up to 8 buckets (48 h staleness TTL) —
    * the model-ready panel builder. DuckDB replays the arg-max, the lead
    * gap, and the capped fill explode row-exactly.
    */
  private def resampleFfillQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.resampleForwardFill(
      eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents"),
      tsCol = "ts", valueCols = Seq("v_cents", "event_type"),
      bucketSeconds = 21600L, maxFillBuckets = 8L,
      keys = Seq("user_id"), tieBreak = Some("event_id"))
      .select(col("user_id"), unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("v_cents"), col("event_type"), col("n_obs"), col("is_observed"))
  // the (user, bucket) arg-max aggregation + the per-user lead window;
  // the fill explode is in-row
  query("resample_ffill", resampleFfillQ, Shuffles(2))(
    // resample replay: per-(user, 6h-bucket) arg-max by (ts, event_id) —
    // the max-struct survivor — then the lead gap and the capped fill
    // explode (min(gap-1, 8) extra rows carrying the survivor forward)
    s"""WITH $resampleFfillCtes
       |SELECT user_id, (bucket + i) * 21600000000 AS bucket_start_us, v_cents,
       |  event_type, CAST(CASE WHEN i = 0 THEN n ELSE 0 END AS BIGINT) AS n_obs,
       |  CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_observed
       |FROM g""".stripMargin)

  /** Time-weighted average end-to-end: each user's fixed-point value as a
    * stepwise SCD2 regime (same-instant max collapse, no-op drop), averaged
    * by HOLDING TIME over the Jan-8..Jan-28 window — the step-function mean
    * an event-count AVG gets wrong. DuckDB replays the regime build, the
    * second-truncated overlap clip, and both integral divisions.
    */
  private def timeWeightedAvgQ(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents")
    val regimes = ops.Temporal.scd2(ev, "user_id", "ts", Seq("v_cents"))
    ops.Temporal.timeWeightedAverage(regimes, "user_id", "v_cents",
      "valid_from", "valid_to",
      windowStartUs = 1704672000000000L, windowEndUs = 1706400000000000L)
  }
  // the scd2 regime build's collapse + window exchanges; the TWA
  // aggregation reuses the per-user partitioning
  query("time_weighted_avg", timeWeightedAvgQ, Shuffles(2))(
    // TWA replay: the scd2 regime chain (same-instant max, no-op drop,
    // lead), the window clip truncated to whole seconds, then the two
    // integral divisions — all positive here, so // matches floor
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
       |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
       |c AS (SELECT user_id, us, max(v) AS v FROM ev GROUP BY 1, 2),
       |ch AS (SELECT user_id, us, v,
       |    lag(v) OVER (PARTITION BY user_id ORDER BY us) AS pv FROM c),
       |sur AS (SELECT user_id, us, v FROM ch WHERE pv IS NULL OR v <> pv),
       |iv AS (SELECT user_id, v, us AS f,
       |    lead(us) OVER (PARTITION BY user_id ORDER BY us) AS t FROM sur),
       |o AS (SELECT user_id, v,
       |    CASE WHEN least(coalesce(t, 1706400000000000), 1706400000000000)
       |        > greatest(f, 1704672000000000)
       |      THEN (least(coalesce(t, 1706400000000000), 1706400000000000)
       |        - greatest(f, 1704672000000000)) // 1000000
       |      ELSE 0 END AS d FROM iv)
       |SELECT user_id, CAST(sum(d) AS BIGINT) AS coverage_s,
       |  CAST(sum(v * d) AS BIGINT) AS vt_integral,
       |  CASE WHEN sum(d) > 0
       |    THEN CAST(sum(v * d) // sum(d) AS BIGINT) END AS twa_q
       |FROM o GROUP BY user_id""".stripMargin)

  /** Semi-structured column handling: parse the JSON `props` payload with a
    * declared schema (from_json — codegen'd, no UDF) and aggregate on the
    * extracted field.
    */
  private def eventsJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k").cast("long")).as("sum_k"),
        count(col("k")).as("n_with_k"))
  query("events_json_extract", eventsJsonExtract, Shuffles(1))(
    // n_with_k counts rows whose props ACTUALLY carry k (the Spark side's
    // count(col) semantics), and TRY_CAST keeps a malformed row a NULL
    // instead of an oracle crash — so the twins agree beyond the current
    // every-row-has-k data invariant
    """SELECT event_type,
      |  CAST(sum(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(*) FILTER (WHERE regexp_matches(props, '"k": (\d+)')) AS n_with_k
      |FROM events GROUP BY 1""".stripMargin)

  private def eventsWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(eventsFixedPoint(s, dir), "1 hour")
  query("events_windowed", eventsWindowed, Shuffles(1))(
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin)

  private def eventsTopkWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedTopK(events(dir).load(s), k = 3, "1 hour")
  // per-(window, type) counts (1) + the window-of-window rollup (1);
  // the top-k sort is in-row over the category-bounded array
  query("events_topk_windowed", eventsTopkWindowed, Shuffles(2))(
    // the chained-agg + in-row comparator sort equals a row_number over
    // (n desc, event_type) — deterministic ties, replayed as the window
    """WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
      |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
      |r AS (SELECT window_start_us, event_type, n,
      |  row_number() OVER (PARTITION BY window_start_us
      |    ORDER BY n DESC, event_type) AS rank FROM c)
      |SELECT window_start_us, CAST(rank AS INT) AS rank, event_type, n
      |FROM r WHERE rank <= 3""".stripMargin)

  private def eventsSessions(s: SparkSession, dir: String): DataFrame =
    EventStream.sessionizeBatch(eventsFixedPoint(s, dir), gapMinutes = 30)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))
  query("events_sessions", eventsSessions, Shuffles(1))(
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
      |    THEN 1 ELSE 0 END AS news FROM e),
      |sids AS (SELECT *, sum(news) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
      |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |  count(*) AS n_events, CAST(sum(v) AS BIGINT) AS total_value
      |FROM sids GROUP BY user_id, sid""".stripMargin)

  /** Attribution: for each purchase, clicks by the same user in the
    * preceding hour (half-open window — the purchase itself excluded).
    */
  private def eventAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsFixedPoint(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value"))
    ops.Temporal.precedingJoinAgg(purchases, clicks,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "click_ts",
      lookbackSeconds = 3600L, valueCol = "value", leftIdCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("preceding_count").as("n_clicks_1h"),
        col("preceding_sum").as("click_value_1h"))
  }
  query("event_attribution", eventAttribution, Shuffles(1))(
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(ts) AS ts_us,
      |        CAST(round(value * 10000) AS BIGINT) AS v FROM events
      |      WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts_us,
      |  count(c.ts_us) AS n_clicks_1h,
      |  CAST(coalesce(sum(c.v), 0) AS BIGINT) AS click_value_1h
      |FROM p LEFT JOIN c ON c.user_id = p.user_id
      |  AND c.ts_us >= p.ts_us - 3600000000 AND c.ts_us < p.ts_us
      |GROUP BY 1, 2, 3""".stripMargin)

  /** SCD2 history build over the event log: each user's event_type runs
    * become [valid_from, valid_to) rows (no-op repeats extend the interval).
    */
  private def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.scd2(events(dir).load(s), "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"))
  // the (key, ts) collapse exchange + the per-key window exchange
  query("scd2_intervals", scd2Intervals, Shuffles(2))(
    // SCD2 replay: (key, ts) collapse to max value, drop no-op repeats via
    // lag, valid_to = lead over the SURVIVORS — all deterministic windows
    s"""WITH $scd2Ctes
       |SELECT user_id, event_type, valid_from_us, valid_to_us FROM scd""".stripMargin)

  private def asofJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    ops.Temporal.asofJoin(purchases, clicks,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      direction = "backward", toleranceSeconds = Some(3L * 86400L),
      tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("asof_ts_us"),
        coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"),
        coalesce(round(col("asof_value") * 100).cast("long"), lit(-1L))
          .as("asof_value_cents"))
  }
  query("asof_join", asofJoinQuery, Shuffles(1))(
    // DuckDB's native ASOF JOIN is the oracle; the operator's tolerance is
    // a post-filter there (the nearest match being out of tolerance implies
    // no in-tolerance match exists — the predicate is monotone in ts).
    // Right-side timestamp ties are pre-collapsed to the greatest event_id
    // (identical to the operator's tieBreak), and no-match columns use the
    // same -1 sentinels as the Spark side.
    s"""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
       |  FROM events WHERE event_type = 'purchase'),
       |r AS (SELECT user_id, ts_us, event_id, cents FROM (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY user_id, epoch_us(ts)
       |      ORDER BY event_id DESC) AS rn
       |  FROM events WHERE event_type = 'click') WHERE rn = 1)
       |SELECT l.event_id, l.user_id, l.ts_us,
       |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
       |    THEN r.ts_us END, -1) AS asof_ts_us,
       |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
       |    THEN r.event_id END, -1) AS asof_event_id,
       |  coalesce(CASE WHEN r.ts_us >= l.ts_us - ${3L * 86400000000L}
       |    THEN r.cents END, -1) AS asof_value_cents
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin)

  /** Interval join without an equality key: 40 overlapping 6-hour analysis
    * windows (4-hour stride) against the event stream, aggregated per window.
    * The grid-bucketed join keeps the plan a hash join — a naive range join
    * here is a nested-loop scan of every event against every window.
    */
  private def intervalJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val strideUs = 4L * 3600000000L
    val widthUs = 6L * 3600000000L
    val iv = s.range(40).select(
      col("id").cast("int").as("window_id"),
      timestamp_micros(lit(StartUs) + col("id") * strideUs).as("w_start"),
      timestamp_micros(lit(StartUs) + col("id") * strideUs + widthUs).as("w_end"))
    val ev = eventsFixedPoint(s, dir).select(col("ts"), col("value"))
    ops.Temporal.intervalJoin(ev, iv, "ts", "w_start", "w_end",
      bucketSeconds = 6L * 3600L)
      .groupBy(col("window_id"), col("w_start"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window_id"), unix_micros(col("w_start")).as("w_start_us"),
        col("n_events"), col("sum_value"))
  }
  query("interval_join", intervalJoinQuery, Shuffles(1))(
    s"""WITH iv AS (SELECT CAST(i AS INTEGER) AS window_id,
       |    $StartUs + i * ${4L * 3600000000L} AS ws,
       |    $StartUs + i * ${4L * 3600000000L} + ${6L * 3600000000L} AS we
       |  FROM (SELECT unnest(generate_series(0, 39)) AS i)),
       |ev AS (SELECT epoch_us(ts) AS us,
       |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
       |SELECT window_id, ws AS w_start_us, count(*) AS n_events,
       |  CAST(sum(v) AS BIGINT) AS sum_value
       |FROM iv JOIN ev ON ev.us >= iv.ws AND ev.us < iv.we
       |GROUP BY 1, 2""".stripMargin)

  private def cohortRetentionQuery(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.cohortRetention(events(dir).load(s), "user_id", "ts")
  query("cohort_retention", cohortRetentionQuery, Shuffles(3))(
    """WITH w AS (SELECT user_id, epoch_us(date_trunc('week', ts)) AS act_week_us
      |  FROM events),
      |f AS (SELECT user_id, min(act_week_us) AS cohort_week_us FROM w GROUP BY user_id)
      |SELECT cohort_week_us,
      |  (act_week_us - cohort_week_us) // 604800000000 AS weeks_since,
      |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
      |FROM w JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin)

  /** Weekly-cohort LTV curve over the event stream — what each entry
    * cohort has been worth by week w, per member.
    */
  private def cohortLtvQuery(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.cohortLtv(
      events(dir).load(s).select("user_id", "ts", "value"),
      "user_id", "ts", "value")
  // the cohort-keyed cumulative window over the checkpointed (cohort,
  // age) panel; the first-week window and the distinct-active agg sit
  // behind the checkpoint, sizes attach as a cohort-count broadcast
  query("cohort_ltv", cohortLtvQuery, Shuffles(2))(
    // LTV replay: first-week cohorts, (cohort, age) distinct-active +
    // micro sums, the running cumulative, age-0 sizes, integral
    // per-member division (non-negative value lane)
    """WITH e AS (SELECT user_id,
      |    epoch_us(date_trunc('week', ts)) AS w,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS x
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL),
      |f AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1),
      |a AS (SELECT f.cw, (e.w - f.cw) // 604800000000 AS age,
      |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
      |    CAST(sum(e.x) AS BIGINT) AS value_micro
      |  FROM e JOIN f USING (user_id) GROUP BY 1, 2),
      |c AS (SELECT cw, age, n_active, value_micro,
      |    CAST(sum(value_micro) OVER (PARTITION BY cw ORDER BY age
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_value_micro
      |  FROM a),
      |sz AS (SELECT cw, n_active AS size FROM a WHERE age = 0)
      |SELECT c.cw AS cohort_week_us, c.age AS weeks_since,
      |  c.n_active, sz.size AS cohort_size, c.value_micro,
      |  c.cum_value_micro,
      |  CAST(CAST(c.cum_value_micro AS HUGEINT) // sz.size AS BIGINT)
      |    AS cum_per_user_micro
      |FROM c JOIN sz USING (cw)""".stripMargin)

  /** First-order event transition matrix with ppm row probabilities —
    * [[ops.Temporal.transitionMatrix]] over the (ts, event_id) total order.
    */
  private def eventTransitions(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.transitionMatrix(events(dir).load(s),
      "user_id", "ts", "event_type", "event_id")
  // successor window on the key (1), the (from, to) pair agg (1), and the
  // per-from ppm window over the ≤T² pair table (1)
  query("event_transitions", eventTransitions, Shuffles(3))(
    // successor pairing under the (ts, event_id) total order, then exact
    // pair counts with a fixed-point ppm row probability (integer //)
    """WITH o AS (SELECT user_id, event_type,
      |  lead(event_type) OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS next_type FROM events),
      |p AS (SELECT event_type AS from_type, next_type AS to_type,
      |  CAST(count(*) AS BIGINT) AS n FROM o
      |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
      |    AS p_ppm
      |FROM p""".stripMargin)

  /** Top-20 organic user journeys (first 8 events per user) —
    * [[ops.Temporal.topPaths]].
    */
  private def eventPaths(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.topPaths(events(dir).load(s),
      "user_id", "ts", "event_type", "event_id", maxLen = 8, k = 20)
  // successor-order window on the key (1; the per-key path assembly reuses
  // its partitioning) + the path-count agg (1); the top-k is
  // TakeOrderedAndProject, never a sort exchange
  query("event_paths", eventPaths, Shuffles(2))(
    // per-user first-8 path under the same total order, exact path counts,
    // deterministic top-20 by (n_keys desc, path)
    """WITH o AS (SELECT user_id, event_type,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) AS rn FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM o WHERE rn <= 8 GROUP BY user_id)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_keys FROM p
      |GROUP BY path ORDER BY n_keys DESC, path LIMIT 20""".stripMargin)

  /** Per-user activity crosstab: one wide row per user with a count per
    * event type, as ONE conditional aggregation (`count(when(type = t))`
    * per declared value — the count-FILTER form). Deliberately NOT
    * `.pivot`: the values-less overload runs a collect-distinct job over
    * the corpus first (a full extra scan at 100 TB and a nondeterministic
    * column order), and even the explicit-values overload plans TWO
    * aggregations (`RewritePivot`'s per-(key, value) partial then the
    * pivot re-agg — two exchanges); the conditional form is one scan + one
    * exchange with map-side partials. Type cardinality is a catalog fact
    * the caller owns.
    */
  private def eventsPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(dir).load(s)
      .groupBy(col("user_id"))
      .agg(types.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t"))
        .head, types.tail.map(t =>
        count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
  }
  // one pivot aggregation on the key with map-side partials — explicit
  // pivot values, so NO collect-distinct pre-scan job exists to count
  query("events_pivot", eventsPivot, Shuffles(1))(
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS n_click,
      |  count(*) FILTER (event_type = 'error') AS n_error,
      |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
      |  count(*) FILTER (event_type = 'signup') AS n_signup,
      |  count(*) FILTER (event_type = 'view') AS n_view
      |FROM events GROUP BY user_id""".stripMargin)

  /** Daily × type revenue rollup with grouping ids — the OLAP grouping-sets
    * surface: Spark's `rollup` plans ONE aggregation over an Expand (3
    * grouping levels in a single shuffle), never one scan per level.
    * `gid = grouping(dt)·2 + grouping(event_type)` spelled explicitly so the
    * bit order is engine-portable rather than an engine default.
    */
  private def eventsRollup(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("dt", to_date(col("ts")).cast("string"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
      .rollup(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"),
        (grouping(col("dt")) * 2 + grouping(col("event_type")))
          .cast("long").as("gid"))
  // Expand + ONE aggregation for all three grouping levels
  query("events_rollup", eventsRollup, Shuffles(1))(
    // ROLLUP with the grouping-id bit order spelled explicitly on both
    // sides (GROUPING(dt)*2 + GROUPING(event_type))
    """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
      |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
      |SELECT dt, event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(v) AS BIGINT) AS sum_value,
      |  CAST(GROUPING(dt) * 2 + GROUPING(event_type) AS BIGINT) AS gid
      |FROM e GROUP BY ROLLUP (dt, event_type)""".stripMargin)

  /** CUBE over (dt, event_type) — rollup's four-grouping-set sibling (the
    * extra set: per-type totals across all days), still ONE Expand
    * aggregation in a single shuffle; same explicit gid arithmetic.
    */
  private def eventsCube(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("dt", to_date(col("ts")).cast("string"))
      .withColumn("v", round(col("value") * 10000).cast("long"))
      .cube(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"),
        (grouping(col("dt")) * 2 + grouping(col("event_type")))
          .cast("long").as("gid"))
  // same Expand shape, four grouping sets, still one exchange
  query("events_cube", eventsCube, Shuffles(1))(
    // CUBE adds the per-type-across-days set to rollup's three; same
    // explicit GROUPING bit order
    """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
      |  CAST(round(value * 10000) AS BIGINT) AS v FROM events)
      |SELECT dt, event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(v) AS BIGINT) AS sum_value,
      |  CAST(GROUPING(dt) * 2 + GROUPING(event_type) AS BIGINT) AS gid
      |FROM e GROUP BY CUBE (dt, event_type)""".stripMargin)

  private def topEventsPerUser(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    events(dir).load(s)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("user_id"), col("event_id"), col("rank"))
  }
  query("top_events_per_user", topEventsPerUser, Shuffles(1))(
    """SELECT user_id, event_id, rank FROM (
      |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
      |    ORDER BY value DESC, event_id) AS rank FROM events)
      |WHERE rank <= 3""".stripMargin)

  /** Batch twin of the streaming windowed-HLL sketch (same code path —
    * EventStream transforms run identically on batch inputs).
    */
  private def hllWindowed(s: SparkSession, dir: String): DataFrame =
    EventStream.windowedDistinctSketch(events(dir).load(s), "user_id",
      windowDuration = "1 hour", p = 8)
  query("hll_windowed", hllWindowed, Shuffles(1))(
    s"""WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       |  substr(md5(CAST(user_id AS VARCHAR)), 1, 16) AS hx FROM events),
       |c AS (SELECT window_start_us, $hllChunks FROM h),
       |b AS (SELECT window_start_us, c0 // 256 AS bucket, $hllRest AS rest FROM c),
       |r AS (SELECT window_start_us, bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
       |SELECT window_start_us, bucket, max(rank) AS max_rank
       |FROM r GROUP BY window_start_us, bucket""".stripMargin)

  private def eventFunnel(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.funnel(events(dir).load(s), "user_id", "ts", "event_type",
      steps = Seq("signup", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("step1_ts")).as("step1_us"),
        unix_micros(col("step2_ts")).as("step2_us"),
        unix_micros(col("step3_ts")).as("step3_us"))
  // funnel's per-step stages all key on user_id: the later joins/aggs
  // reuse the first exchange's partitioning — 1 shuffle for 3 stages
  query("event_funnel", eventFunnel, Shuffles(1))(
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS step1_us FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.step1_us, min(epoch_us(e.ts)) AS step2_us
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |    AND e.event_type = 'click' AND epoch_us(e.ts) > s1.step1_us
      |  GROUP BY 1, 2),
      |s3 AS (SELECT s2.user_id, s2.step1_us, s2.step2_us, min(epoch_us(e.ts)) AS step3_us
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > s2.step2_us
      |  GROUP BY 1, 2, 3)
      |SELECT user_id, step1_us, step2_us, step3_us FROM s3""".stripMargin)

  /** The funnel dashboard panel: per-step completer counts + exact
    * lower-median time-to-convert between consecutive steps.
    */
  private def eventFunnelStats(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.funnelStats(events(dir).load(s), "user_id", "ts", "event_type",
      steps = Seq("signup", "click", "purchase"))
  // funnel's per-step key-agg exchange (reused across stages) + the two
  // gap-median rank windows (each a Single exchange over the completer
  // table, never the event stream)
  // the 1-row counts x <=1-row median attaches: the same scalar idiom
  query("event_funnel_stats", eventFunnelStats, ShufflesWithBnlj(3))(
    // the funnel chain (same s1/s2/s3 shape as event_funnel) summarized:
    // count(col) per step + the rank-picked lower-median gaps
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS step1_us FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.step1_us, min(epoch_us(e.ts)) AS step2_us
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |    AND e.event_type = 'click' AND epoch_us(e.ts) > s1.step1_us
      |  GROUP BY 1, 2),
      |s3 AS (SELECT s2.user_id, s2.step1_us, s2.step2_us, min(epoch_us(e.ts)) AS step3_us
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > s2.step2_us
      |  GROUP BY 1, 2, 3),
      |c AS (SELECT CAST(count(step1_us) AS BIGINT) AS n_step1,
      |  CAST(count(step2_us) AS BIGINT) AS n_step2,
      |  CAST(count(step3_us) AS BIGINT) AS n_step3 FROM s3),
      |g12 AS (SELECT step2_us - step1_us AS gap, user_id FROM s3
      |  WHERE step2_us IS NOT NULL),
      |m12 AS (SELECT gap AS median_gap12_us FROM (
      |  SELECT gap, row_number() OVER (ORDER BY gap, user_id) AS rn,
      |    count(*) OVER () AS n FROM g12) WHERE rn = (n - 1) // 2 + 1),
      |g23 AS (SELECT step3_us - step2_us AS gap, user_id FROM s3
      |  WHERE step3_us IS NOT NULL),
      |m23 AS (SELECT gap AS median_gap23_us FROM (
      |  SELECT gap, row_number() OVER (ORDER BY gap, user_id) AS rn,
      |    count(*) OVER () AS n FROM g23) WHERE rn = (n - 1) // 2 + 1)
      |SELECT c.n_step1, c.n_step2, c.n_step3,
      |  m12.median_gap12_us, m23.median_gap23_us
      |FROM c LEFT JOIN m12 ON true LEFT JOIN m23 ON true""".stripMargin)

  private def eventTypePivot(s: SparkSession, dir: String): DataFrame =
    ops.Stats.crosstabCounts(events(dir).load(s), "user_id", "event_type",
      Seq("click", "error", "purchase", "signup", "view"))
  query("event_type_pivot", eventTypePivot, Shuffles(1))(
    """SELECT user_id,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS "error",
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS "view"
      |FROM events GROUP BY user_id""".stripMargin)

  /** asofJoin's third direction: each view event joins the CLOSEST
    * purchase of the same user within 12 hours, either side — |Δt| ties
    * to the earlier purchase, then to the greatest event_id.
    */
  private def nearestJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    ops.Temporal.asofJoin(views, purchases,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "ts",
      leftIdCols = Seq("event_id"), rightValueCols = Seq("event_id", "value"),
      direction = "nearest", toleranceSeconds = Some(12L * 3600L),
      tieBreak = Some("event_id"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        coalesce(unix_micros(col("asof_ts")), lit(-1L)).as("near_ts_us"),
        coalesce(col("asof_event_id"), lit(-1L)).as("near_event_id"),
        coalesce(round(col("asof_value") * 100).cast("long"), lit(-1L))
          .as("near_value_cents"))
  }
  // the asof_join shape exactly: candidate equi-join + one arg-max agg
  query("nearest_join", nearestJoinQ, Shuffles(1))(
    // nearest-join replay: candidates within tolerance either side, then
    // the engine's exact pick order — min |Δt|, earlier right ts, then
    // greatest event_id — as a row_number argmin
    s"""WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
       |  FROM events WHERE event_type = 'view'),
       |r AS (SELECT user_id, epoch_us(ts) AS rts, event_id AS rid,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (SELECT l.event_id, r.rts, r.rid, r.cents,
       |    row_number() OVER (PARTITION BY l.event_id
       |      ORDER BY abs(r.rts - l.ts_us), r.rts, r.rid DESC) AS rn
       |  FROM l JOIN r ON l.user_id = r.user_id
       |    AND abs(r.rts - l.ts_us) <= ${12L * 3600000000L})
       |SELECT l.event_id, l.user_id, l.ts_us,
       |  coalesce(c.rts, -1) AS near_ts_us,
       |  coalesce(c.rid, -1) AS near_event_id,
       |  coalesce(c.cents, -1) AS near_value_cents
       |FROM l LEFT JOIN c ON c.event_id = l.event_id AND c.rn = 1""".stripMargin)

  /** Interval intersection: each user's view-activity coverage (events
    * padded to 30-minute intervals, flattened) AND-ed with the click-
    * activity coverage — when was the user simultaneously inside both
    * kinds of stretch.
    */
  private def intervalIntersectQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    def iv(t: String, sc: String, ec: String) =
      ev.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").as(sc),
          timestamp_micros(unix_micros(col("ts")) + 1800000000L).as(ec))
    ops.Temporal.intersectIntervals(
      iv("view", "a_s", "a_e"), iv("click", "b_s", "b_e"),
      "a_s", "a_e", "b_s", "b_e",
      bucketSeconds = 3600L, keys = Seq("user_id"))
      .withColumn("from_us", unix_micros(col("valid_from")))
      .withColumn("to_us", unix_micros(col("valid_to")))
      .drop("valid_from", "valid_to")
  }
  // one flatten window exchange per side; the grid overlap join clusters
  // on the cell key the explodes already carry at gate SF
  query("interval_intersect", intervalIntersectQ, Shuffles(2)) {
    // interval-intersection replay: gaps-and-islands flatten per side
    // (the flattenIntervals rule verbatim), then a direct overlap join
    // of the two disjoint families clipped to [max(starts), min(ends))
    def flat(tpe: String, n: String) =
      s"""${n}0 AS (SELECT u, t AS s, t + 1800000000 AS e FROM ev
         |  WHERE event_type = '$tpe'),
         |${n}1 AS (SELECT u, s, e,
         |    CASE WHEN max(e) OVER (PARTITION BY u ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |        IS NULL
         |      OR s > max(e) OVER (PARTITION BY u ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      THEN 1 ELSE 0 END AS nw
         |  FROM ${n}0),
         |$n AS (SELECT u, min(s) AS fs, max(e) AS fe FROM (
         |    SELECT u, s, e, sum(nw) OVER (PARTITION BY u ORDER BY s, e
         |      ROWS UNBOUNDED PRECEDING) AS isl FROM ${n}1)
         |  GROUP BY u, isl)""".stripMargin
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id AS u, epoch_us(ts) AS t, event_type FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |${flat("view", "af")},
       |${flat("click", "bf")}
       |SELECT af.u AS user_id,
       |  least(af.fe, bf.fe) - greatest(af.fs, bf.fs) AS duration_us,
       |  greatest(af.fs, bf.fs) AS from_us,
       |  least(af.fe, bf.fe) AS to_us
       |FROM af JOIN bf ON af.u = bf.u
       |WHERE af.fs < bf.fe AND bf.fs < af.fe""".stripMargin
  }

  /** Activity-gap report: per-user silences over two days long in the
    * event stream — the sessionization complement (sessions are presence,
    * gaps are the alarms).
    */
  private def activityGapsQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.activityGaps(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts",
      minGapSeconds = 2L * 86400L)
      .withColumn("gap_start_us", unix_micros(col("gap_start")))
      .withColumn("gap_end_us", unix_micros(col("gap_end")))
      .drop("gap_start", "gap_end")
  // the single per-key window exchange; the lag filter is scan-speed
  query("activity_gaps", activityGapsQ, Shuffles(1))(
    // gap replay: the identical per-key lag; the tie argument makes the
    // emitted (prev, cur) pair set order-independent in both engines
    """WITH base AS (SELECT user_id AS k, epoch_us(ts) AS t FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |g AS (SELECT k, lag(t) OVER (PARTITION BY k ORDER BY t) AS p, t
      |  FROM base)
      |SELECT k AS user_id, t - p AS gap_us,
      |  p AS gap_start_us, t AS gap_end_us
      |FROM g WHERE t - p > 172800000000""".stripMargin)

  /** Per-user inter-arrival burstiness panel over the event stream —
    * clock-like vs Poisson vs bursty in one exact-integer row per user.
    */
  private def interarrivalStatsQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.interarrivalStats(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts")
  // ONE keyed exchange: the lag window and the moment aggregation share
  // the same hash partitioning (the sessionize one-exchange contract)
  query("interarrival_stats", interarrivalStatsQ, Shuffles(1))(
    // burstiness replay: identical per-key lag gaps (the tie argument
    // makes the gap MULTISET order-free), HUGEINT moment sums, the
    // variance/mean^2 identity as one integral division
    """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |g AS (SELECT k, t,
      |    t - lag(t) OVER (PARTITION BY k ORDER BY t) AS gp
      |  FROM e),
      |a AS (SELECT k,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(count(gp) AS BIGINT) AS n_gaps,
      |    CAST(max(t) - min(t) AS BIGINT) AS span_us,
      |    CAST(sum(gp) AS HUGEINT) AS s1,
      |    CAST(sum(CAST(gp AS HUGEINT) * gp) AS HUGEINT) AS s2
      |  FROM g GROUP BY 1)
      |SELECT k AS user_id, n_events, n_gaps, span_us,
      |  CASE WHEN n_gaps = 0 THEN NULL
      |    ELSE CAST(s1 // n_gaps AS BIGINT) END AS mean_gap_us,
      |  CASE WHEN s1 IS NULL OR s1 = 0 THEN NULL
      |    ELSE CAST(((CAST(n_gaps AS HUGEINT) * s2 - s1 * s1) * 1000000)
      |      // (s1 * s1) AS BIGINT) END AS cv2_ppm
      |FROM a""".stripMargin)

  /** U-shaped multi-touch attribution: each purchase's 10^6 ppm of credit
    * split 40/20/40 across the user's view/click/signup touches in the
    * preceding 3 days, summed per channel.
    */
  private def positionAttributionQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(dir).load(s)
    val conv = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    ops.Temporal.positionAttribution(conv, touches, Seq("user_id"),
      convTsCol = "ts", convIdCol = "event_id",
      touchTsCol = "ts", touchIdCol = "event_id", channelCol = "event_type",
      lookbackSeconds = 3L * 86400L)
  }
  // the window-condition join + ONE shared exchange for both
  // per-conversion windows (same partitioning and sort) + the channel
  // rollup
  query("attribution_position", positionAttributionQ, Shuffles(3))(
    // U-shape attribution replay: the identical window join → (ts, id)
    // rank → integral credit ladder (remainder to the first touch) →
    // channel rollup; the channel-NULL row carries the unattributed
    // conversions
    s"""WITH conv AS (SELECT user_id AS u, event_id AS cid,
       |    epoch_us(ts) AS cts FROM events WHERE event_type = 'purchase'),
       |tch AS (SELECT user_id AS u, event_id AS tid, epoch_us(ts) AS tts,
       |    event_type AS ch FROM events WHERE event_type != 'purchase'),
       |j AS (SELECT conv.cid, tch.tid, tch.tts, tch.ch
       |  FROM conv LEFT JOIN tch ON conv.u = tch.u
       |    AND tch.tts < conv.cts
       |    AND tch.tts >= conv.cts - ${3L * 86400000000L}),
       |r AS (SELECT cid, tts, ch,
       |    CASE WHEN tts IS NOT NULL THEN row_number()
       |      OVER (PARTITION BY cid ORDER BY tts, tid) END AS rk,
       |    count(tts) OVER (PARTITION BY cid) AS n
       |  FROM j),
       |c AS (SELECT cid, ch,
       |    CASE WHEN tts IS NULL THEN NULL
       |         WHEN n = 1 THEN 1000000
       |         WHEN n = 2 THEN 500000
       |         WHEN rk = 1 THEN 400000 + (200000 % (n - 2))
       |         WHEN rk = n THEN 400000
       |         ELSE 200000 // (n - 2) END AS credit
       |  FROM r)
       |SELECT ch AS channel, count(credit) AS n_touches,
       |  CAST(count(DISTINCT cid) AS BIGINT) AS n_conversions,
       |  CAST(coalesce(sum(credit), 0) AS BIGINT) AS credit_ppm
       |FROM c GROUP BY 1""".stripMargin)

  /** Kaplan–Meier conversion-survival curves per entry cohort: per user,
    * duration = days from first event to first purchase (censored at the
    * corpus horizon when no purchase); cohort = the user's first event
    * type under the (day, type) total order.
    */
  private def kaplanMeierQ(s: SparkSession, dir: String): DataFrame = {
    val usPerDay = 86400000000L
    val ev = events(dir).load(s)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        call_function("div", unix_micros(col("ts")), lit(usPerDay)).as("day"))
      .localCheckpoint(false) // feeds the horizon pull AND the cohort agg
    // corpus horizon: bounded 1-row build-time pull (activeUsers precedent)
    val mxRow = ev.agg(max(col("day"))).head
    val maxDay = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val subjects = ev.groupBy(col("user_id"))
      .agg(
        min(struct(col("day"), col("event_type"))).as("_first"),
        min(when(col("event_type") === "purchase", col("day"))).as("_pday"))
      .select(
        col("_first.event_type").as("cohort"),
        coalesce(col("_pday"), lit(maxDay))
          .minus(col("_first.day")).as("duration"),
        col("_pday").isNotNull.as("converted"))
    ops.Temporal.kaplanMeier(subjects, "cohort", "duration", "converted")
  }
  // the per-user subject agg (events checkpointed behind it) + the
  // (group, duration) count agg + ONE group-keyed exchange carrying
  // both at-risk windows and the fold collect
  query("kaplan_meier", kaplanMeierQ, Shuffles(3))(
    // KM replay: cohort/duration subjects, (g,t) event/censor counts,
    // the at-risk exclusive prefix, then the survival recurrence as a
    // RECURSIVE CTE — base row = first factor, step = s·next, the
    // IDENTICAL left-fold operand order as the engine's in-row
    // aggregate (1.0·x = x exactly, so the engine's seed adds nothing)
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |mx AS (SELECT max(day) AS maxday FROM ev),
      |fe AS (SELECT user_id, day, event_type, row_number() OVER (
      |    PARTITION BY user_id ORDER BY day, event_type) AS rn FROM ev),
      |subj AS (SELECT c.event_type AS g,
      |    coalesce(p.pday, mx.maxday) - c.day AS t,
      |    p.pday IS NOT NULL AS conv
      |  FROM fe c
      |  LEFT JOIN (SELECT user_id, min(day) AS pday FROM ev
      |    WHERE event_type = 'purchase' GROUP BY 1) p
      |    ON p.user_id = c.user_id
      |  CROSS JOIN mx WHERE c.rn = 1),
      |cnt AS (SELECT g, t,
      |    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM subj GROUP BY 1, 2),
      |ar AS (SELECT g, t, d, c,
      |    CAST(sum(d + c) OVER (PARTITION BY g) -
      |      coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n
      |  FROM cnt),
      |st AS (SELECT g, t, d, c, n, row_number() OVER (
      |    PARTITION BY g ORDER BY t) AS rn FROM ar WHERE d > 0),
      |km AS (
      |  SELECT g, t, d, c, n, rn,
      |    1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS s
      |  FROM st WHERE rn = 1
      |  UNION ALL
      |  SELECT o.g, o.t, o.d, o.c, o.n, o.rn,
      |    km.s * (1.0 - CAST(o.d AS DOUBLE) / CAST(o.n AS DOUBLE))
      |  FROM km JOIN st o ON o.g = km.g AND o.rn = km.rn + 1)
      |SELECT g AS cohort, t, n AS n_risk, d, c,
      |  round(s, 6) AS survival FROM km""".stripMargin)

  /** Gap-based session panel per user over the event stream (30-minute
    * inactivity cut) — the batch counterpart to streaming sessions.
    */
  private def sessionizeQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.sessionize(events(dir).load(s).select("user_id", "ts"),
      "user_id", "ts", gapSeconds = 1800L)
  // ONE key-keyed exchange: both windows AND the (key, session) panel
  // agg ride it (hash partitioning on the key satisfies the grouped
  // clustering)
  query("sessionize", sessionizeQ, Shuffles(1))(
    // sessionization replay: the same lag > gap flag over sorted
    // timestamps, running flag sum as the session id, per-session agg
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |f AS (SELECT user_id, t,
      |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |      > 1800000000 THEN 1 ELSE 0 END AS nw
      |  FROM e),
      |s AS (SELECT user_id, t, 1 + sum(nw) OVER (
      |    PARTITION BY user_id ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f)
      |SELECT user_id, CAST(sid AS BIGINT) AS session_index,
      |  min(t) AS session_start_us, max(t) AS session_end_us,
      |  max(t) - min(t) AS duration_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY 1, 2""".stripMargin)

  /** Exact DAU/WAU/MAU engagement panel over the events stream. */
  private def activeUsersQ(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.activeUsers(
      events(dir).load(s).select("user_id", "ts"), "user_id", "ts")
      .withColumn("day_us", unix_micros(col("day")))
      .drop("day")
  // (cover_day, user) min-offset agg + the per-day panel re-agg; the
  // corpus-sized distinct-(user,day) exchange sits behind the build-time
  // checkpoint, and the 30-way fan-out is an in-row explode, not a join
  query("active_users", activeUsersQ, Shuffles(2))(
    // DAU/WAU/MAU replay: distinct (user, day) pairs fan out to their 30
    // cover days (generate_series is inclusive, matching sequence), min
    // offset per (day, user), then the conditional counts
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |mx AS (SELECT max(d) AS maxd FROM pairs),
      |fil AS (SELECT u, d + gs.j AS cover, min(gs.j) AS off
      |  FROM pairs CROSS JOIN generate_series(0, 29) gs(j) CROSS JOIN mx
      |  WHERE d + gs.j <= mx.maxd
      |  GROUP BY 1, 2)
      |SELECT cover * 86400000000 AS day_us,
      |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
      |  CAST(sum(CASE WHEN off < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
      |  count(*) AS mau,
      |  CAST(sum(CASE WHEN off = 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS stickiness_ppm
      |FROM fil GROUP BY 1""".stripMargin)
}
