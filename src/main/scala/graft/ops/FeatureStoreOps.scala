package graft.ops

import java.sql.Timestamp

import graft.api.{GraftRetrievalJob, RetrievalMetadata}
import graft.model.InvalidEntityFrameException
import graft.sources.GraftSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** A feature view: a source plus the entity keys / feature columns / temporal
  * semantics needed by the point-in-time join (the Spark analog of a feast
  * FeatureView as consumed by the reference's PIT template,
  * ref: data_engine_offline_store.py:601-779).
  *
  * @param features   feature column names *after* the source's fieldMapping
  * @param ttlSeconds 0 means unbounded lookback (reference convention,
  *                   store.py:669-674)
  * @param tieBreak   optional unique column used to make "latest row" picks
  *                   deterministic when event (and created) timestamps tie;
  *                   the reference's ROW_NUMBER leaves such ties arbitrary.
  */
final case class FeatureView(
    name: String,
    source: GraftSource,
    entityKeys: Seq[String],
    features: Seq[String],
    ttlSeconds: Long = 0L,
    tieBreak: Option[String] = None) {
  require(source.timestampField.isDefined, s"FeatureView $name needs source.timestampField")
}

/** Sketch evidence for planning the PIT join's per-view physical shape —
  * [[Skew.joinStrategy]] wired into the feature-store read path. At 100 TB
  * the [[Sketch.countMinSketch]]es live as table metadata (depth × width
  * cells, kilobytes); handing them here lets `pointInTime` choose
  * broadcast / plain / salted per view from measured key counts BEFORE any
  * exchange, instead of the static rows × schema-width estimate it falls
  * back to without hints.
  *
  * `entitySketch` is a CMS over the entity frame's join key;
  * `featureSketches` maps view name → a CMS over the same key on that
  * view's source, built with the SAME (width, depth). For multi-key views
  * sketch any one consistent serialization of the key tuple (e.g. a
  * `concat_ws` of the keys) on both sides — [[Skew.joinStrategy]] only
  * compares counts, so any keying used consistently is valid. A view
  * absent from `featureSketches` keeps the default static plan.
  *
  *  - "broadcast": the (distinct-keyed, ≤ entity-sized) entity frame rides
  *    a broadcast into every feature scan task — no shuffle of the
  *    feature side;
  *  - "plain": both sides shuffle on the key once (the CMS inner product
  *    says output is input-shaped, so AQE handles any mild skew);
  *  - "salted": the CMS inner product predicts hot-key fan-out — the
  *    feature side salts deterministically over `saltFactor` and the
  *    per-view entity rows replicate `saltFactor`×, so each hot key's
  *    arg-max work spreads over `saltFactor` tasks. Matched pairs are
  *    IDENTICAL to the plain join (each feature row meets each entity row
  *    exactly once — on its single matching salt replica), and the arg-max
  *    aggregation never sees the salt, so results are byte-identical on
  *    every path; only the exchange shape differs.
  */
final case class PitPlanHints(
    entitySketch: DataFrame,
    featureSketches: Map[String, DataFrame],
    depth: Int,
    broadcastMaxRows: Long = 1000000L,
    saltAboveXPpm: Long = 4000000L,
    saltFactor: Int = 16) {
  require(saltFactor >= 2, "saltFactor must be >= 2 (1 would be the plain join)")
}

/** The three retrieval primitives of the reference offline store, re-expressed
  * as Catalyst plans (ref: data_engine_offline_store.py:351-513, 601-779).
  *
  * Scale posture: range filters are plain predicates below every join so they
  * reach the parquet scan as PushedFilters; "latest row" is a single-shuffle
  * arg-max (`max(struct(...))`, map-side partial agg) instead of the
  * reference's window + two self-joins; the entity frame is broadcast when
  * its size estimate is under `graft.pit.broadcastBytes` (default 100 MB),
  * else the join shuffles both sides by the entity key exactly once.
  */
object FeatureStoreOps {

  /** Byte-based broadcast threshold for the entity side of the PIT join
    * (default 100 MB). The estimate is row count × the schema's default row
    * width — row-count alone would happily broadcast a million wide rows
    * into every executor (and the driver).
    */
  def broadcastByteThreshold(spark: SparkSession): Long =
    spark.conf.getOption("graft.pit.broadcastBytes").map(_.toLong)
      .getOrElse(100L * 1024 * 1024)

  private def estimatedBytes(schema: org.apache.spark.sql.types.StructType, rows: Long): Long =
    rows * math.max(8, schema.fields.map(_.dataType.defaultSize).sum)

  /** Time-range scan: keys + features + ts WHERE ts BETWEEN start AND end
    * (ref: pull_all_from_table_or_query, store.py:479-513; the BETWEEN is
    * inclusive on both ends per the reference's generated SQL).
    */
  def pullAll(
      spark: SparkSession,
      source: GraftSource,
      joinKeyColumns: Seq[String],
      featureNameColumns: Seq[String],
      timestampField: String,
      startDate: Timestamp,
      endDate: Timestamp): GraftRetrievalJob = {
    def eval() =
      source.loadWithTimeRange(spark, Some(startDate), Some(endDate))
        .select((joinKeyColumns ++ featureNameColumns :+ timestampField).map(col): _*)
    new GraftRetrievalJob(() => eval(),
      RetrievalMetadata(featureNameColumns, joinKeyColumns, Some(startDate), Some(endDate)))
  }

  /** Latest row per key within [start, end]
    * (ref: pull_latest_from_table_or_query, store.py:421-476).
    *
    * Single-shuffle arg-max: `max(struct(ts, tieBreak, features...))` with
    * map-side partial aggregation — one exchange on the join keys, versus the
    * reference's max-ts aggregate + join-back (two scans + an extra shuffle).
    * With a unique `tieBreak` the result is deterministic on ts ties; the
    * reference's USING-join keeps all tied rows instead (see
    * [[pullLatestKeepTies]] for that exact shape).
    */
  def pullLatest(
      spark: SparkSession,
      source: GraftSource,
      joinKeyColumns: Seq[String],
      featureNameColumns: Seq[String],
      timestampField: String,
      tieBreak: Option[String],
      startDate: Timestamp,
      endDate: Timestamp): GraftRetrievalJob = {
    def eval() = {
      val payloadCols = (timestampField +: (tieBreak.toSeq ++ featureNameColumns)).distinct
      val in = source.loadWithTimeRange(spark, Some(startDate), Some(endDate))
      val agg = in
        .groupBy(joinKeyColumns.map(col): _*)
        .agg(max(struct(payloadCols.map(col): _*)).as("_latest"))
      val out = joinKeyColumns.map(col) ++
        featureNameColumns.map(f => col(s"_latest.$f").as(f)) :+
        col(s"_latest.$timestampField").as(timestampField)
      agg.select(out: _*)
    }
    new GraftRetrievalJob(() => eval(),
      RetrievalMetadata(featureNameColumns, joinKeyColumns, Some(startDate), Some(endDate)))
  }

  /** Reference-exact latest-per-key: max-ts per key joined back USING
    * (key, ts), keeping *all* rows tied on the max timestamp
    * (ref: store.py:435-465).
    */
  def pullLatestKeepTies(
      spark: SparkSession,
      source: GraftSource,
      joinKeyColumns: Seq[String],
      featureNameColumns: Seq[String],
      timestampField: String,
      startDate: Timestamp,
      endDate: Timestamp): GraftRetrievalJob = {
    def eval() = {
      val in = source.loadWithTimeRange(spark, Some(startDate), Some(endDate))
      val maxTs = in.groupBy(joinKeyColumns.map(col): _*)
        .agg(max(col(timestampField)).as(timestampField))
      in.join(maxTs, joinKeyColumns :+ timestampField)
        .select((joinKeyColumns ++ featureNameColumns :+ timestampField).map(col): _*)
    }
    new GraftRetrievalJob(() => eval(),
      RetrievalMetadata(featureNameColumns, joinKeyColumns, Some(startDate), Some(endDate)))
  }

  /** Infers the entity frame's event-timestamp column: `event_timestamp` if
    * present, else the sole TimestampType column (the analog of
    * offline_utils.infer_event_timestamp_from_entity_df used at store.py:371).
    */
  def inferEntityTimestampColumn(entity: DataFrame): String = {
    // the name match must also be a real timestamp — a string column that
    // happens to be called event_timestamp would otherwise crash the stats
    // collection later (getTimestamp on a String) or compare as strings
    val byName = entity.schema.fields
      .find(f => f.name == "event_timestamp" && f.dataType == TimestampType)
    byName.map(_.name).getOrElse {
      entity.schema.fields.filter(_.dataType == TimestampType) match {
        case Array(one) => one.name
        case _ => throw new InvalidEntityFrameException(
          "Entity frame needs an 'event_timestamp' timestamp column or exactly one timestamp column")
      }
    }
  }

  /** min, max and count of the entity timestamps: the range every feature
    * scan is prefiltered to and the row count the broadcast gate sizes. */
  private def entityStats(tsCol: String): Seq[Column] =
    Seq(min(col(tsCol)).as("mn"), max(col(tsCol)).as("mx"), count(lit(1)).as("n"))

  /** Point-in-time join (`get_historical_features`,
    * ref: store.py:355-418 and the SQL template at store.py:601-779).
    *
    * For each feature view: take the latest feature row whose event timestamp
    * is <= the entity row's timestamp (and within `ttlSeconds` lookback when
    * nonzero), deduplicating by max created-timestamp when the source declares
    * one; LEFT JOIN each view's result back onto the entity frame.
    *
    * Plan shape vs the reference template:
    *  - the global `[min_entity_ts - ttl, max_entity_ts]` prefilter
    *    (template's __subquery CTE) is a scan-level predicate -> PushedFilters;
    *  - __base/__dedup/__latest/__cleaned (a window plus two self-joins) are
    *    collapsed into one `max(struct(event_ts, created_ts, tieBreak,
    *    features...))` aggregation — identical result, one shuffle;
    *  - the entity side is broadcast when its estimated size (rows × schema
    *    default width) is under `graft.pit.broadcastBytes`; with
    *    [[PitPlanHints]] the per-view shape is instead sketch-planned
    *    (broadcast / plain / salted from CMS key-count evidence), results
    *    byte-identical on every path.
    *
    * Building the plan ([[GraftRetrievalJob.toDF]]) runs one Spark job when
    * the entity frame has no shuffle: its checkpoint, which also reads the
    * entity time range and row count; the feature sources read their
    * schemas without a job.
    */
  def pointInTime(
      spark: SparkSession,
      entity: DataFrame,
      views: Seq[FeatureView],
      fullFeatureNames: Boolean = false,
      entityTimestampColumn: Option[String] = None,
      planHints: Option[PitPlanHints] = None): GraftRetrievalJob = {
    val tsCol = entityTimestampColumn.getOrElse(inferEntityTimestampColumn(entity))

    def eval(): DataFrame = {
      // Materialize the entity frame ONCE. It may be derived from a fact
      // table (a query, a join); without this each view's distinct and the
      // final join chain would each recompute its full lineage — V+1 scans
      // of the underlying table. The checkpoint's own job also reads the
      // driver-side min/max/count of the (small) entity frame — the analog
      // of _get_entity_df_event_timestamp_range (store.py:577-598), needed
      // to push a literal range filter into every feature scan.
      val (ent, stats) = Fixpoint.observedCheckpoint(entity, entityStats(tsCol))
      val (minEnt, maxEnt, nEnt) =
        (stats.getTimestamp(0), stats.getTimestamp(1), stats.getLong(2))
      // Broadcast decision per joined frame: both broadcast candidates have
      // at most nEnt rows; width comes from each frame's own schema.
      def fits(df: DataFrame): Boolean =
        estimatedBytes(df.schema, nEnt) <= broadcastByteThreshold(spark)

      views.foldLeft(ent) { (acc, view) =>
        val evtTs = view.source.timestampField.get
        val createdTs = view.source.createdTimestampColumn.filter(_.nonEmpty)
        val ttl = view.ttlSeconds

        // __subquery: global range prefilter below the join (store.py:655-676),
        // applied in raw-column space so it reaches the scan as PushedFilters.
        // An empty entity frame has null min/max — skip the prefilter (the
        // inner join against zero entity rows yields the empty result anyway)
        val lowerTs = if (ttl > 0 && minEnt != null)
          Some(Timestamp.from(minEnt.toInstant.minusSeconds(ttl))) else None
        val featCols = ((view.entityKeys :+ evtTs) ++ createdTs.toSeq ++
          view.tieBreak.toSeq ++ view.features).distinct
        val feat = view.source.loadWithTimeRange(spark, lowerTs, Option(maxEnt))
          .select(featCols.map(col): _*)

        // per-view distinct entity rows (template's __entity_dataframe CTE)
        val entKeysRaw = ent
          .select((view.entityKeys :+ tsCol).map(col): _*).distinct()
        // physical shape: sketch-planned when the caller handed CMS
        // evidence for this view ([[PitPlanHints]]); otherwise the static
        // rows × schema-width broadcast estimate — byte-identical to the
        // pre-hints plan
        val strategy: Option[String] = planHints.flatMap(h =>
          h.featureSketches.get(view.name).map(fs =>
            Skew.joinStrategy(fs, h.entitySketch, h.depth,
              h.broadcastMaxRows, h.saltAboveXPpm)))
        val saltN: Option[Int] =
          strategy.collect { case "salted" => planHints.get.saltFactor }
        val entKeys = strategy match {
          case None => if (fits(entKeysRaw)) broadcast(entKeysRaw) else entKeysRaw
          case Some("broadcast") => broadcast(entKeysRaw)
          case _ => entKeysRaw
        }

        val f = saltN match {
          case Some(n) => feat.withColumn("_pit_salt",
            pmod(xxhash64(featCols.map(col): _*), lit(n.toLong)).cast("int"))
            .alias("f")
          case None => feat.alias("f")
        }
        val e = saltN match {
          case Some(n) => entKeys.withColumn("_pit_salt",
            explode(typedLit((0 until n).toList))).alias("e")
          case None => entKeys.alias("e")
        }
        val keyEq0 = view.entityKeys
          .map(k => f.col(k) === e.col(k)).reduce(_ && _)
        // the deterministic whole-row salt matches exactly one replica, so
        // the salted join's matched pairs are identical to the plain join's
        val keyEq = if (saltN.isDefined)
          keyEq0 && f.col("_pit_salt") === e.col("_pit_salt") else keyEq0
        val temporal = f.col(evtTs) <= e.col(tsCol) &&
          (if (ttl > 0) f.col(evtTs) >= e.col(tsCol) - expr(s"INTERVAL $ttl SECOND")
           else lit(true))

        // __base join + arg-max collapse of __dedup/__latest/__cleaned
        val orderCols = (evtTs +: (createdTs.toSeq ++ view.tieBreak.toSeq)) ++ view.features
        val based = f.join(e, keyEq && temporal, "inner")
          .groupBy((view.entityKeys.map(e.col(_)) :+ e.col(tsCol)): _*)
          .agg(max(struct(orderCols.distinct.map(f.col(_)): _*)).as("_best"))

        val featOut = view.features.map { c =>
          val outName = if (fullFeatureNames) s"${view.name}__$c" else c
          col(s"_best.$c").as(outName)
        }
        val viewResult = based.select(
          (view.entityKeys.map(col) :+ col(tsCol)) ++ featOut: _*)

        // final merge: entity frame LEFT JOIN each view (store.py:760-779);
        // joining on (keys, entity_ts) replaces the template's synthetic
        // entity_row_unique_id string.
        acc.join(
          if (fits(viewResult)) broadcast(viewResult) else viewResult,
          view.entityKeys :+ tsCol, "left")
      }
    }

    val featureNames = views.flatMap(v =>
      v.features.map(f => if (fullFeatureNames) s"${v.name}__$f" else f))
    // eager collision check (the reference rejects these too): duplicate
    // output names — across views without full_feature_names, or a feature
    // shadowing an entity key / the entity ts — would otherwise surface as
    // ambiguous-reference errors mid-join or duplicate result columns
    val reservedOut = views.flatMap(_.entityKeys).distinct :+ tsCol
    val clashes = featureNames.diff(featureNames.distinct).distinct ++
      featureNames.filter(reservedOut.contains)
    require(clashes.isEmpty,
      s"feature name collision(s): ${clashes.mkString(", ")} — rename the " +
        "feature(s) or set fullFeatureNames = true")
    new GraftRetrievalJob(() => eval(),
      RetrievalMetadata(featureNames, views.flatMap(_.entityKeys).distinct),
      fullFeatureNames)
  }

  /** Serving-freshness audit for a feature view — the operating panel next
    * to [[pointInTime]]: for each distinct entity row, how OLD is the
    * feature row the PIT join would serve? The answer every feature-store
    * team monitors (a TTL that mostly serves its own edge means the
    * pipeline upstream is too slow) and the reference cannot express at
    * all. The matched row is picked by exactly the PIT discipline — same
    * temporal predicate (≤ entity ts, TTL lookback), same
    * (event_ts, created_ts, tieBreak) arg-max, same scan-range prefilter —
    * so the audited age is the age of the row [[pointInTime]] actually
    * serves, not an approximation.
    *
    * Output: one row per `(view, age_bucket)` — `age_bucket =
    * (entity_ts − served_ts) div bucketSeconds`, exact integral division
    * of microseconds; `NULL` age_bucket counts the entity rows with NO
    * servable feature inside the TTL (the misses a left PIT join fills
    * with NULLs) — with `n` the distinct-entity-row count. Duplicated
    * entity rows collapse first (PIT serves per distinct (keys, ts)).
    *
    * Shape at 100 TB: the [[pointInTime]] plan for one view minus the
    * feature payload — the scan reads ONLY keys + timestamps (+ tie
    * columns), the arg-max collapses per entity row, and the panel is an
    * at-most-(TTL/bucket + 2)-row aggregation.
    */
  def stalenessAudit(
      spark: SparkSession,
      entity: DataFrame,
      view: FeatureView,
      bucketSeconds: Long = 3600L,
      entityTimestampColumn: Option[String] = None): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val tsCol = entityTimestampColumn.getOrElse(inferEntityTimestampColumn(entity))
    val (ent, stats) = Fixpoint.observedCheckpoint(
      entity.select((view.entityKeys :+ tsCol).map(col): _*).distinct(), entityStats(tsCol))
    val (minEnt, maxEnt, nEnt) =
      (stats.getTimestamp(0), stats.getTimestamp(1), stats.getLong(2))
    val evtTs = view.source.timestampField.get
    val createdTs = view.source.createdTimestampColumn.filter(_.nonEmpty)
    val ttl = view.ttlSeconds
    val lowerTs = if (ttl > 0 && minEnt != null)
      Some(Timestamp.from(minEnt.toInstant.minusSeconds(ttl))) else None
    // keys + timestamps + tie columns ONLY — the payload never scans
    val featCols =
      ((view.entityKeys :+ evtTs) ++ createdTs.toSeq ++ view.tieBreak.toSeq)
        .distinct
    val feat = view.source.loadWithTimeRange(spark, lowerTs, Option(maxEnt))
      .select(featCols.map(col): _*).alias("f")
    def fits(df: DataFrame): Boolean =
      estimatedBytes(df.schema, nEnt) <= broadcastByteThreshold(spark)
    val e = (if (fits(ent)) broadcast(ent) else ent).alias("e")
    val keyEq = view.entityKeys
      .map(k => feat.col(k) === e.col(k)).reduce(_ && _)
    val temporal = feat.col(evtTs) <= e.col(tsCol) &&
      (if (ttl > 0)
        feat.col(evtTs) >= e.col(tsCol) - expr(s"INTERVAL $ttl SECOND")
      else lit(true))
    val orderCols = evtTs +: (createdTs.toSeq ++ view.tieBreak.toSeq)
    val served = feat.join(e, keyEq && temporal, "inner")
      .groupBy((view.entityKeys.map(e.col(_)) :+ e.col(tsCol)): _*)
      .agg(max(struct(orderCols.distinct.map(feat.col(_)): _*)).as("_best"))
      .select(view.entityKeys.map(col) :+ col(tsCol) :+
        col(s"_best.$evtTs").as("_served_ts"): _*)
    ent.join(served, view.entityKeys :+ tsCol, "left")
      .select(lit(view.name).as("view"),
        // exact integral division — the age is non-negative by the join's
        // temporal predicate, so div IS the floor bucket
        expr(s"(unix_micros(`$tsCol`) - unix_micros(_served_ts)) div " +
          s"${bucketSeconds * 1000000L}").as("age_bucket"))
      .groupBy(col("view"), col("age_bucket"))
      .agg(count(lit(1)).as("n"))
  }
}
