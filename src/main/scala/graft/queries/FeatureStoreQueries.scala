package graft
package queries

import java.sql.Timestamp
import java.time.Instant

import graft.ops.{FeatureStoreOps, FeatureView}
import graft.sources.{GraftSource, SourceFormat}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Feature-store core: sources and format round trips, pulls, point-in-time
  * joins, the online store, incremental state, snapshots and feature transforms.
  */
object FeatureStoreQueries extends QueryFamily {

  private def sourceParquet(s: SparkSession, dir: String): DataFrame =
    GraftSource.parquet(s"$dir/customer.parquet").load(s)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  query("source_parquet", sourceParquet, Shuffles(0))(
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer")

  private def sourceCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/nation_csv"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/nation.parquet").load(s), out, SourceFormat.Csv)
    GraftSource.of(table = Some(out), format = SourceFormat.Csv,
      schemaDdl = Some("n_nationkey INT, n_name STRING, n_regionkey INT")).load(s)
  }
  query("source_csv_roundtrip", sourceCsvRoundtrip, Shuffles(0))(
    "SELECT n_nationkey, n_name, n_regionkey FROM nation")

  private def sourceJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/region_json"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/region.parquet").load(s), out, SourceFormat.Json)
    GraftSource.of(table = Some(out), format = SourceFormat.Json,
      schemaDdl = Some("r_regionkey INT, r_name STRING")).load(s)
  }
  query("source_json_roundtrip", sourceJsonRoundtrip, Shuffles(0))(
    "SELECT r_regionkey, r_name FROM region")

  private def sourceQuery(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("graft_orders_v")
    // cents-as-BIGINT keeps the aggregate integer-exact: double->decimal cast
    // rounding differs between engines, integer sums never do.
    GraftSource.of(name = Some("order_totals"), query = Some(
      """SELECT o_custkey, count(*) AS n_orders,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        |FROM graft_orders_v GROUP BY o_custkey""".stripMargin)).load(s)
  }
  query("source_query", sourceQuery, Shuffles(1))(
    // CAST the sum: DuckDB sum(BIGINT) yields HUGEINT, which lands in pandas
    // as float64 and breaks the driver's exact value hash against Spark's
    // int64 (applies to every integer sum() in the oracles).
    """SELECT o_custkey, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY o_custkey""".stripMargin)

  private def sourceFieldMapping(s: SparkSession, dir: String): DataFrame =
    GraftSource.of(
      table = Some(s"$dir/events.parquet"), timestampField = Some("ts"),
      fieldMapping = Map("value" -> "feature_value", "event_type" -> "feature_type"))
      .load(s)
      .select("event_id", "user_id", "feature_value", "feature_type")
  query("source_field_mapping", sourceFieldMapping, Shuffles(0))(
    """SELECT event_id, user_id, value AS feature_value,
      |       event_type AS feature_type FROM events""".stripMargin)

  private def schemaEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one schema load: columnValueTypes is derived from columnNamesAndTypes,
    // so zipping the two would load (and footer-read) the source twice
    events(dir).columnNamesAndTypes(s)
      .map { case (name, raw) => (name, raw, graft.model.ValueType.fromCatalog(raw).name) }
      .toDF("col_name", "data_type", "feast_type")
  }
  query("schema_events", schemaEvents, Shuffles(0))(
    """SELECT * FROM (VALUES
      |  ('event_id', 'bigint', 'INT64'),
      |  ('ts', 'timestamp', 'UNIX_TIMESTAMP'),
      |  ('user_id', 'bigint', 'INT64'),
      |  ('event_type', 'string', 'STRING'),
      |  ('value', 'double', 'DOUBLE'),
      |  ('props', 'string', 'STRING')) AS t(col_name, data_type, feast_type)""".stripMargin)

  private def pullAllEvents(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullAll(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts",
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
  query("pull_all_events", pullAllEvents, Shuffles(0))(
    s"""SELECT user_id, value, event_type, epoch_us(ts) AS ts_us FROM events
       |WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs""".stripMargin)

  private def pullLatestEvents(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullLatest(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts", tieBreak = Some("event_id"),
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
  query("pull_latest_events", pullLatestEvents, Shuffles(1))(
    s"""SELECT user_id, value, event_type, ts_us FROM (
       |  SELECT user_id, value, event_type, epoch_us(ts) AS ts_us,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
       |  FROM events WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs)
       |WHERE rn = 1""".stripMargin)

  private def pullLatestTies(s: SparkSession, dir: String): DataFrame =
    FeatureStoreOps.pullLatestKeepTies(s, events(dir),
      joinKeyColumns = Seq("user_id"),
      featureNameColumns = Seq("value", "event_type"),
      timestampField = "ts",
      startDate = tsOf(StartUs), endDate = tsOf(EndUs))
      .toDF
      .select(col("user_id"), col("value"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
  query("pull_latest_ties", pullLatestTies, Shuffles(1))(
    s"""SELECT user_id, value, event_type, ts_us FROM (
       |  SELECT user_id, value, event_type, epoch_us(ts) AS ts_us,
       |    max(epoch_us(ts)) OVER (PARTITION BY user_id) AS mx
       |  FROM events WHERE epoch_us(ts) BETWEEN $StartUs AND $EndUs)
       |WHERE ts_us = mx""".stripMargin)

  private[queries] lazy val entCte =
    s"""ent AS (SELECT DISTINCT user_id,
       |  $PitBaseUs + (user_id % 20) * $DayUs AS ent_us FROM events)""".stripMargin

  private[queries] lazy val evCte =
    """ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value, event_type
      |FROM events)""".stripMargin

  // PIT pick + decayed recency + SCD2 history fragments, each shared
  // VERBATIM by its standalone oracle (pit_join / decayed_features /
  // scd2_intervals) and by the composed pipeline_feature_serve — one
  // definition so the serving replay cannot drift from the parts
  private[queries] lazy val pitCtes =
    s"""base AS (
       |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id, v.value, v.event_type
       |  FROM ent e JOIN ev v ON v.user_id = e.user_id
       |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
       |best AS (
       |  SELECT user_id, ent_us, value, event_type FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
       |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
       |  WHERE rn = 1),
       |pit AS (
       |  SELECT e.user_id, e.ent_us, b.value AS feat_value,
       |         b.event_type AS feat_event_type
       |  FROM ent e LEFT JOIN best b
       |    ON e.user_id = b.user_id AND e.ent_us = b.ent_us)""".stripMargin

  private def pitJoin(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
  }
  query("pit_join", pitJoin, Shuffles(2))(
    s"""WITH $entCte, $evCte, $pitCtes
       |SELECT user_id, ent_us AS event_timestamp_us,
       |       feat_value, feat_event_type
       |FROM pit""".stripMargin)

  /** Serving-freshness panel for the PIT view — per hourly age bucket, how
    * many entity rows would be served a feature that old (NULL bucket =
    * no servable row inside the 7-day TTL).
    */
  private def pitStalenessQ(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.stalenessAudit(s, entityFrame(s, dir), fv,
      bucketSeconds = 3600L)
  }
  // the distinct-entity exchange + the served-row arg-max + the left
  // join back (the entity side is a lazy checkpoint boundary, so its
  // (keys, ts) partitioning is not visible to the join and one side
  // re-exchanges when the broadcast estimate lapses); panel agg is
  // bucket-table-sized
  query("pit_staleness", pitStalenessQ, Shuffles(3))(
    // staleness replay: the pit base/arg-max chain keeping the SERVED
    // row's ts, then hourly integral age buckets (NULL = no servable
    // row inside the TTL) counted per bucket
    s"""WITH $entCte, $evCte,
       |base AS (
       |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id
       |  FROM ent e JOIN ev v ON v.user_id = e.user_id
       |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
       |sbest AS (
       |  SELECT user_id, ent_us, ts_us FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
       |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
       |  WHERE rn = 1),
       |aged AS (SELECT e.user_id,
       |    (e.ent_us - b.ts_us) // 3600000000 AS age_bucket
       |  FROM ent e LEFT JOIN sbest b
       |    ON e.user_id = b.user_id AND e.ent_us = b.ent_us)
       |SELECT 'events' AS view, age_bucket, CAST(count(*) AS BIGINT) AS n
       |FROM aged GROUP BY 1, 2""".stripMargin)

  private def pitJoinCreated(s: SparkSession, dir: String): DataFrame = {
    events(dir).load(s).createOrReplaceTempView("graft_events_v")
    // Late "correction" rows: same event timestamps, created 1h later, value
    // doubled — created-timestamp dedup must pick these.
    val corrected = GraftSource.of(name = Some("events_corrected"),
      timestampField = Some("ts"), createdTimestampColumn = Some("created_ts"),
      query = Some(
        """SELECT event_id, user_id, ts, value, event_type, ts AS created_ts
          |FROM graft_events_v
          |UNION ALL
          |SELECT event_id, user_id, ts, value * 2 AS value, event_type,
          |       ts + INTERVAL 1 HOUR AS created_ts
          |FROM graft_events_v""".stripMargin))
    val fv = FeatureView("events", corrected,
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
  }
  query("pit_join_created", pitJoinCreated, Shuffles(2))(
    s"""WITH $entCte,
       |ev AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value, event_type,
       |         epoch_us(ts) AS created_us FROM events
       |  UNION ALL
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value * 2 AS value,
       |         event_type, epoch_us(ts) + 3600000000 AS created_us FROM events),
       |base AS (
       |  SELECT e.user_id, e.ent_us, v.ts_us, v.created_us, v.event_id,
       |         v.value, v.event_type
       |  FROM ent e JOIN ev v ON v.user_id = e.user_id
       |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
       |best AS (
       |  SELECT user_id, ent_us, value, event_type FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
       |      ORDER BY ts_us DESC, created_us DESC, event_id DESC) AS rn FROM base)
       |  WHERE rn = 1)
       |SELECT e.user_id, e.ent_us AS event_timestamp_us,
       |       b.value AS feat_value, b.event_type AS feat_event_type
       |FROM ent e LEFT JOIN best b
       |  ON e.user_id = b.user_id AND e.ent_us = b.ent_us""".stripMargin)

  private def pitJoinMulti(s: SparkSession, dir: String): DataFrame = {
    val evFv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    val ordSrc = GraftSource.of(
      table = Some(s"$dir/orders.parquet"), timestampField = Some("o_orderdate"),
      fieldMapping = Map("o_custkey" -> "user_id"))
    val ordFv = FeatureView("orders", ordSrc,
      entityKeys = Seq("user_id"), features = Seq("o_totalprice", "o_orderstatus"),
      ttlSeconds = 0L, tieBreak = Some("o_orderkey"))
    FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(evFv, ordFv),
      fullFeatureNames = true).toDF
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("events__value"), col("events__event_type"),
        col("orders__o_totalprice"), col("orders__o_orderstatus"))
  }
  query("pit_join_multi", pitJoinMulti, Shuffles(4))(
    s"""WITH $entCte, $evCte,
       |base AS (
       |  SELECT e.user_id, e.ent_us, v.ts_us, v.event_id, v.value, v.event_type
       |  FROM ent e JOIN ev v ON v.user_id = e.user_id
       |    AND v.ts_us <= e.ent_us AND v.ts_us >= e.ent_us - ${TtlSeconds}000000),
       |best AS (
       |  SELECT user_id, ent_us, value, event_type FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
       |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM base)
       |  WHERE rn = 1),
       |ord AS (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS ts_us,
       |               o_orderkey, o_totalprice, o_orderstatus FROM orders),
       |obase AS (
       |  SELECT e.user_id, e.ent_us, o.ts_us, o.o_orderkey, o.o_totalprice,
       |         o.o_orderstatus
       |  FROM ent e JOIN ord o ON o.user_id = e.user_id AND o.ts_us <= e.ent_us),
       |obest AS (
       |  SELECT user_id, ent_us, o_totalprice, o_orderstatus FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id, ent_us
       |      ORDER BY ts_us DESC, o_orderkey DESC) AS rn FROM obase)
       |  WHERE rn = 1)
       |SELECT e.user_id, e.ent_us AS event_timestamp_us,
       |       b.value AS events__value, b.event_type AS events__event_type,
       |       o.o_totalprice AS orders__o_totalprice,
       |       o.o_orderstatus AS orders__o_orderstatus
       |FROM ent e
       |LEFT JOIN best b ON e.user_id = b.user_id AND e.ent_us = b.ent_us
       |LEFT JOIN obest o ON e.user_id = o.user_id AND e.ent_us = o.ent_us""".stripMargin)

  /** Online-store materialization end-to-end: the event log ingests as
    * three OUT-OF-ORDER batches (split by event_id residue — each carries
    * an interleaved slice of time), one batch REPLAYS (the at-least-once
    * reality), and the store is rebuilt from scratch each run (a store is
    * state; the query's contract is the full ingest history). The full
    * read-back must equal pullLatest over the entire log — out-of-order
    * convergence and replay idempotence are exactly what the
    * latest-merge's associative/idempotent algebra promises.
    */
  private def onlineStoreLatestQ(s: SparkSession, dir: String): DataFrame = {
    val path = s"$scratchDir/online_store_latest"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val ev = eventsFixedPoint(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("v"), col("event_type"))
    def ingest(k: Int): Unit = ops.LatestStore.upsertBatch(
      ev.filter(col("event_id") % 3 === k), path, "user_id", "ts",
      Seq("v", "event_type"), numBuckets = 8, tieBreak = Some("event_id"))
    Seq(2, 0, 1, 0).foreach(ingest) // out of order, batch 0 replayed
    ops.LatestStore.readLatest(s, path, "user_id", numBuckets = 8)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("v"), col("event_type"))
  }
  // the query function runs the whole ingest (4 upsert write jobs) at
  // build time; the returned plan is the store read-back
  query("online_store_latest", onlineStoreLatestQ, BuiltByJobs)(
    // latest-per-user over the WHOLE log: out-of-order ingest + replay
    // must be invisible — the store read equals this single window pick
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |    CAST(round(value * 10000) AS BIGINT) AS v, event_type FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, ts_us, event_id, v, event_type FROM r WHERE rn = 1""".stripMargin)

  private[queries] lazy val decayedCtes =
    """de AS (SELECT user_id, epoch_us(ts) AS ts_us,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |dk AS (SELECT user_id, v,
      |    CAST((1706659200000000 - ts_us) // 21600000000 AS INT) AS k
      |  FROM de WHERE ts_us <= 1706659200000000),
      |rec AS (SELECT user_id, count(*) AS n_events,
      |  round(CAST(sum(CAST(v AS DECIMAL(38,0)) *
      |      CAST(power(2, 40 - k) AS DECIMAL(38,0))) AS DOUBLE)
      |    / 1099511627776.0, 6) AS decayed_sum
      |  FROM dk WHERE k < 40 GROUP BY user_id)""".stripMargin

  /** Recency-weighted per-user feature: half-life-decayed value sum as of
    * 2024-01-31 with a 6-hour half-life — the 30-day events table spans
    * ~120 half-lives, so the 40-half-life horizon genuinely binds (events
    * older than 10 days drop) while recent events carry decayed weight.
    */
  private def decayedFeatures(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.decayedSum(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      halfLifeSeconds = 21600L,
      asOf = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-31T00:00:00Z")))
  // one scan with the horizon predicate + one keyed hash aggregation
  query("decayed_features", decayedFeatures, Shuffles(1))(
    // step-decay replay in pure integer arithmetic: k half-lives from
    // the integer microsecond delta, weight 2^(40-k) exact in decimal,
    // one decimal->double conversion + one division by the exact
    // constant 2^40 (a pure exponent shift) at the very end
    s"""WITH $decayedCtes
       |SELECT user_id, n_events, decayed_sum FROM rec""".stripMargin)

  /** Per-user trailing-7-day rolling count/sum over events (RANGE frame). */
  private def rollingFeatures(s: SparkSession, dir: String): DataFrame =
    ops.Temporal.rollingAggregate(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      windowSeconds = 7L * 86400L)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("roll_count").as("n_7d"), col("roll_sum").as("value_7d"))
  query("rolling_features", rollingFeatures, Shuffles(1))(
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  count(*) OVER w AS n_7d,
      |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) OVER w AS BIGINT) AS value_7d
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin)

  private def sourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/supplier_orc"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/supplier.parquet").load(s)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      out, SourceFormat.Orc)
    GraftSource.of(table = Some(out), format = SourceFormat.Orc).load(s)
  }
  query("source_orc_roundtrip", sourceOrcRoundtrip, Shuffles(0))(
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")

  // parquet → avro container files (graft.sources.AvroIO — no spark-avro
  // offline, so the Hadoop input/output formats carry it) → GraftSource read
  // back; the oracle reads the original parquet, so the hash match proves the
  // long/string/double lanes survive the row-format roundtrip bit-exactly
  private def sourceAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$scratchDir/customer_avro"
    graft.sources.FormatIO.write(
      GraftSource.parquet(s"$dir/customer.parquet").load(s)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
      out, SourceFormat.Avro)
    GraftSource.of(table = Some(out), format = SourceFormat.Avro).load(s)
  }
  // the returned plan is the AvroIO RDD scan (the write is an eager action
  // before it); zero exchanges by construction
  query("source_avro_roundtrip", sourceAvroRoundtrip, Shuffles(0))(
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer")

  /** Materialized-rollup range query: per-user totals for Jan 8–14 merged
    * from [[ops.Incremental.dailyState]]'s per-(day, user) partials — the
    * raw events are aggregated once into state and the range answer comes
    * from state rows alone.
    */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val state = ops.Incremental.dailyState(
      events(dir).load(s)
        .withColumn("v", round(col("value") * 10000).cast("long")),
      Seq("user_id"), "ts", "v")
    ops.Incremental.mergeState(state, Seq("user_id"), "2024-01-08", "2024-01-14")
  }
  // the per-(day, key) state aggregation (1) + the range merge over
  // state rows (1) — the raw scan happens exactly once
  query("incremental_agg", incrementalAgg, Shuffles(2))(
    // the state chain replayed, not collapsed to a direct aggregation:
    // per-(day, user) partials first, then the range merge over state
    // rows — the oracle pins the two-step semantics
    """WITH e AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, user_id,
      |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |s AS (SELECT dt, user_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(v) AS BIGINT) AS sum_value,
      |  min(v) AS min_value, max(v) AS max_value
      |  FROM e GROUP BY dt, user_id)
      |SELECT user_id, CAST(sum(n) AS BIGINT) AS n,
      |  CAST(sum(sum_value) AS BIGINT) AS sum_value,
      |  min(min_value) AS min_value, max(max_value) AS max_value
      |FROM s WHERE dt >= '2024-01-08' AND dt <= '2024-01-14'
      |GROUP BY user_id""".stripMargin)

  /** Smoothed target-mean encoding of event_type against the fixed-point
    * value — [[ops.Features.targetEncode]] at prior weight 20.
    */
  private def targetEncodeQuery(s: SparkSession, dir: String): DataFrame =
    ops.Features.targetEncode(
      events(dir).load(s)
        .withColumn("v", round(col("value") * 10000).cast("long")),
      "event_type", "v", priorWeight = 20L)
  // the rollup agg feeds both the category rows and the broadcast global
  // row — two plan branches of the same 1-exchange aggregation
  // target_encode's 1-row global-totals broadcast: the scalar-attach idiom
  query("target_encode", targetEncodeQuery, ShufflesWithBnlj(2))(
    // smoothed mean encoding with the global mean's denominator cleared:
    // enc_q = (N·sum_c + m·S)·2^20 // (N·(n_c + m)), all-integer
    // count(target): NULL targets count into neither n nor s (the
    // partially-labeled-data contract; value is never NULL here, so the
    // twin is exercised by the spec's hand case)
    """WITH c AS (SELECT event_type,
      |  CAST(count(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS n,
      |  sum(CAST(round(value * 10000) AS BIGINT)) AS s
      |  FROM events GROUP BY event_type),
      |t AS (SELECT sum(n) AS nt, sum(s) AS st FROM c)
      |SELECT event_type, n,
      |  CAST(((nt * s + 20 * st) * 1048576) // (nt * (n + 20)) AS BIGINT)
      |    AS enc_q
      |FROM c, t""".stripMargin)

  /** Per-type z-score standardization of the fixed-point event value —
    * [[ops.Features.standardize]]'s exact-moment form.
    */
  private def featureStandardize(s: SparkSession, dir: String): DataFrame =
    ops.Features.standardize(
      events(dir).load(s)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")
  // ONE moment aggregation on the group keys; the stats broadcast back
  // into the scan, so the corpus never shuffles for the scaling pass
  query("feature_standardize", featureStandardize, Shuffles(1))(
    // z = (n·x − Σx)/√(n·Σx² − Σx²): exact-integer numerator and
    // radicand, one cast + sqrt + division tail — engine-identical
    """WITH e AS (SELECT event_id, event_type,
      |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |  CAST(sum(v) AS HUGEINT) AS sx,
      |  sum(CAST(v AS HUGEINT) * v) AS sxx FROM e GROUP BY event_type)
      |SELECT event_id, e.event_type, v,
      |  CASE WHEN n * sxx - sx * sx <= 0 THEN NULL
      |       ELSE round(CAST(n * v - sx AS DOUBLE)
      |         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 6) END AS z
      |FROM e JOIN s USING (event_type)""".stripMargin)

  /** Per-type min-max scaling of the fixed-point event value to [0, 2^20]
    * — [[ops.Features.minMaxScale]], the no-float-step scaler.
    */
  private def featureMinMax(s: SparkSession, dir: String): DataFrame =
    ops.Features.minMaxScale(
      events(dir).load(s)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")
  // identical shape: one min/max agg, stats broadcast back
  query("feature_minmax", featureMinMax, Shuffles(1))(
    // (x − min)·2^20 // (max − min): all-integer, no float step anywhere
    """WITH e AS (SELECT event_id, event_type,
      |  CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |s AS (SELECT event_type, min(v) AS mn, max(v) AS mx
      |  FROM e GROUP BY event_type)
      |SELECT event_id, e.event_type, v,
      |  CASE WHEN mx = mn THEN NULL
      |       ELSE CAST((CAST(v AS HUGEINT) - mn) * 1048576
      |         // (CAST(mx AS HUGEINT) - mn) AS BIGINT) END AS scaled_q
      |FROM e JOIN s USING (event_type)""".stripMargin)

  /** Median/IQR robust scaling of document length per language —
    * [[ops.Features.robustScale]], discrete order statistics, one integral
    * division. The oracle replays the rank picks and the toward-zero
    * division explicitly.
    */
  private def featureRobust(s: SparkSession, dir: String): DataFrame =
    ops.Features.robustScale(
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      Seq("lang"), "n_chars")
  // the quartile-rank window exchange; stats agg reuses its partitioning
  // and the stats attach broadcasts
  query("feature_robust", featureRobust, Shuffles(1))(
    // discrete-quartile robust scale: the rank-⌊(n−1)q⌋+1 picks replayed
    // with an explicit row_number, and the integral division spelled
    // toward-zero (DuckDB's // floors; Spark's div truncates)
    """WITH nn AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
      |rk AS (SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n FROM nn),
      |st AS (SELECT lang,
      |    max(CASE WHEN rn = (n - 1) // 2 + 1 THEN n_chars END) AS med,
      |    max(CASE WHEN rn = (n - 1) // 4 + 1 THEN n_chars END) AS q1,
      |    max(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN n_chars END) AS q3
      |  FROM rk GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  CASE WHEN s.q3 = s.q1 THEN NULL
      |       WHEN (d.n_chars - s.med) >= 0
      |         THEN CAST(((d.n_chars - s.med) * 1048576) // (s.q3 - s.q1) AS BIGINT)
      |       ELSE CAST(-(((s.med - d.n_chars) * 1048576) // (s.q3 - s.q1)) AS BIGINT)
      |  END AS robust_q
      |FROM documents d JOIN st s ON d.lang = s.lang""".stripMargin)

  /** Winsorize event values (1e4 fixed point) per event type at the
    * [p5, p95] discrete quantiles — [[ops.Features.winsorize]].
    */
  private def featureWinsorize(s: SparkSession, dir: String): DataFrame =
    ops.Features.winsorize(
      events(dir).load(s).select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v", loPpm = 50000L, hiPpm = 950000L)
  // identical shape: the rank window exchange, bounds broadcast back
  query("feature_winsorize", featureWinsorize, Shuffles(1))(
    // rank-pick winsorization bounds replayed with an explicit
    // row_number; the clip itself is plain least/greatest
    """WITH ev AS (SELECT event_id, event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |rk AS (SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev WHERE v IS NOT NULL),
      |st AS (SELECT event_type,
      |    max(CASE WHEN rn = 50000 * (n - 1) // 1000000 + 1 THEN v END) AS lo,
      |    max(CASE WHEN rn = 950000 * (n - 1) // 1000000 + 1 THEN v END) AS hi
      |  FROM rk GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.v,
      |  CASE WHEN e.v IS NULL THEN NULL
      |       ELSE least(greatest(e.v, s.lo), s.hi) END AS v_w
      |FROM ev e JOIN st s USING (event_type)""".stripMargin)

  /** Per-event-type percent rank of the fixed-point value — the exact ppm
    * ECDF transform ([[ops.Features.percentRank]]).
    */
  private def featurePercentRank(s: SparkSession, dir: String): DataFrame =
    ops.Features.percentRank(
      events(dir).load(s).select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v")),
      Seq("event_type"), "v")
  // the rank window exchange over the narrow projection; the distinct
  // attach table broadcasts back
  query("feature_percent_rank", featurePercentRank, Shuffles(2))(
    // SQL-standard percent_rank in the integral ppm lane: RANK with
    // shared ties, (rank-1)*1e6 div (n-1), single-row groups at 0
    """WITH ev AS (SELECT event_id, event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS v FROM events),
      |rk AS (SELECT event_type, v,
      |    rank() OVER (PARTITION BY event_type ORDER BY v) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev WHERE v IS NOT NULL),
      |pr AS (SELECT DISTINCT event_type, v,
      |    CASE WHEN n = 1 THEN 0
      |         ELSE CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) END AS ppm
      |  FROM rk)
      |SELECT e.event_id, e.event_type, e.v, p.ppm AS v_pr_ppm
      |FROM ev e LEFT JOIN pr p ON p.event_type = e.event_type AND p.v = e.v""".stripMargin)

  /** Hashing-trick encoding of the documents' categorical columns into 64
    * signed buckets, long form — [[ops.Features.featureHash]].
    */
  private def featureHashQuery(s: SparkSession, dir: String): DataFrame =
    ops.Features.featureHash(docs(s, dir), "doc_id", Seq("lang", "source"),
      numBuckets = 64)
      .withColumnRenamed("id", "doc_id")
  // bounded per-row feature explode + the (id, bucket) sum
  query("feature_hash", featureHashQuery, Shuffles(1))(
    // signed hashing trick: bucket from md5 hex 1-6, sign from hex 7
    // parity, within-(id, bucket) collisions SUM
    """WITH f AS (
      |  SELECT doc_id, 'lang=' || lang AS s FROM documents WHERE lang IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, 'source=' || source FROM documents WHERE source IS NOT NULL)
      |SELECT doc_id,
      |  CAST(concat('0x', substr(md5(s), 1, 6)) AS BIGINT) % 64 AS bucket,
      |  CAST(sum(1 - CAST(concat('0x', substr(md5(s), 7, 1)) AS BIGINT) % 2 * 2)
      |    AS BIGINT) AS w
      |FROM f GROUP BY 1, 2""".stripMargin)

  /** Snapshot B = A minus every 17th doc, every 13th doc's text revised,
    * every 23rd doc re-added under a shifted id — deterministic CDC workload.
    */
  private def snapshotDiffQuery(s: SparkSession, dir: String): DataFrame = {
    val a = docs(s, dir).select("doc_id", "text")
    val b = a.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" revised")))
          .otherwise(col("text")))
      .unionByName(a.filter(col("doc_id") % 23 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    ops.Snapshot.diff(a, b, keyCols = Seq("doc_id"), compareCols = Seq("text"))
  }
  query("snapshot_diff", snapshotDiffQuery, Shuffles(2))(
    """WITH b AS (
      |  SELECT doc_id, text || CASE WHEN doc_id % 13 = 0 THEN ' revised' ELSE '' END AS text
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 23 = 0),
      |o AS (SELECT doc_id, md5(coalesce(md5(text), repeat('~', 32))) AS old_fp
      |      FROM documents),
      |n AS (SELECT doc_id, md5(coalesce(md5(text), repeat('~', 32))) AS new_fp FROM b),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp,
      |  CASE WHEN old_fp IS NULL THEN 'added' WHEN new_fp IS NULL THEN 'removed'
      |       WHEN old_fp <> new_fp THEN 'changed' ELSE 'unchanged' END AS status
      |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, status, old_fp, new_fp FROM j
      |WHERE status <> 'unchanged'""".stripMargin)
}
