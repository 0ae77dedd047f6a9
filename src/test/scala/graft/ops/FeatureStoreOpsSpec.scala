package graft.ops

import java.sql.Timestamp

import graft.SparkTestBase
import graft.model.InvalidEntityFrameException
import graft.sources.GraftSource
import org.apache.spark.sql.DataFrame

/** Semantics of the three retrieval primitives on planted micro-data
  * (ref: tests/test_ibm_data_engine.py:281-418, test_integration.py:177).
  */
class FeatureStoreOpsSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  // feature rows: (key, event_ts, created_ts, row_id, value)
  private lazy val featSrc: GraftSource = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), 10L, 1.0),
      (1L, ts("2024-01-05 00:00:00"), ts("2024-01-05 00:00:00"), 11L, 2.0),
      (1L, ts("2024-01-05 00:00:00"), ts("2024-01-06 00:00:00"), 12L, 3.0), // later created
      (2L, ts("2024-01-03 00:00:00"), ts("2024-01-03 00:00:00"), 20L, 4.0),
      (3L, ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"), 30L, 5.0),
    ).toDF("k", "ets", "cts", "rid", "v").createOrReplaceTempView("feat_v")
    GraftSource.of(table = Some("feat_v"), timestampField = Some("ets"))
  }

  private def entity(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (k, t) => (k, ts(t)) }.toSeq.toDF("k", "event_timestamp")
  }

  test("pullAll: inclusive time range, keys+features+ts (ref store.py:479-513)") {
    val out = FeatureStoreOps.pullAll(spark, featSrc,
      joinKeyColumns = Seq("k"), featureNameColumns = Seq("v"),
      timestampField = "ets",
      startDate = ts("2024-01-01 00:00:00"), endDate = ts("2024-01-05 00:00:00"))
      .toDF.collect()
    assert(out.length == 4) // both boundary rows included, 2024-02-01 excluded
    assert(out.map(_.getAs[Double]("v")).sorted.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("pullLatest: latest row per key, tieBreak deterministic (ref store.py:421-476)") {
    val out = FeatureStoreOps.pullLatest(spark, featSrc,
      joinKeyColumns = Seq("k"), featureNameColumns = Seq("v"),
      timestampField = "ets", tieBreak = Some("rid"),
      startDate = ts("2024-01-01 00:00:00"), endDate = ts("2024-12-31 00:00:00"))
      .toDF.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    // key 1 has two rows tied on max ets=01-05; rid=12 wins
    assert(out == Map(1L -> 3.0, 2L -> 4.0, 3L -> 5.0))
  }

  test("pullLatestKeepTies keeps all rows tied on max ts (ref store.py:435-465)") {
    val out = FeatureStoreOps.pullLatestKeepTies(spark, featSrc,
      joinKeyColumns = Seq("k"), featureNameColumns = Seq("v"),
      timestampField = "ets",
      startDate = ts("2024-01-01 00:00:00"), endDate = ts("2024-12-31 00:00:00"))
      .toDF.collect()
    assert(out.count(_.getAs[Long]("k") == 1L) == 2) // both ets=01-05 rows kept
    assert(out.length == 4)
  }

  test("pointInTime: asof <= entity ts, TTL window, left-join nulls (ref store.py:601-779)") {
    val fv = FeatureView("f", featSrc, entityKeys = Seq("k"), features = Seq("v"),
      ttlSeconds = 3 * 86400L, tieBreak = Some("rid"))
    val ent = entity(
      (1L, "2024-01-04 00:00:00"), // TTL bound inclusive: 01-04 - 3d = 01-01 -> v=1.0
      (1L, "2024-01-06 00:00:00"), // 01-05 rows in window; created dedup -> v=3.0
      (1L, "2024-01-09 00:00:01"), // window (01-06 00:00:01, ...]: all rows expired -> null
      (2L, "2024-01-02 00:00:00"), // 01-03 is in the future -> null
      (9L, "2024-01-10 00:00:00"), // unknown key -> null
    )
    val out = FeatureStoreOps.pointInTime(spark, ent, Seq(fv)).toDF.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Timestamp]("event_timestamp").toString,
        Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue)))
    assert(out.length == 5)
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    assert(m((1L, "2024-01-04 00:00:00.0")).contains(1.0))
    assert(m((1L, "2024-01-06 00:00:00.0")).contains(3.0))
    assert(m((1L, "2024-01-09 00:00:01.0")).isEmpty)
    assert(m((2L, "2024-01-02 00:00:00.0")).isEmpty)
    assert(m((9L, "2024-01-10 00:00:00.0")).isEmpty)
  }

  test("pointInTime: ttl=0 means unbounded lookback (ref store.py:669-674)") {
    val fv = FeatureView("f", featSrc, entityKeys = Seq("k"), features = Seq("v"),
      ttlSeconds = 0L, tieBreak = Some("rid"))
    val out = FeatureStoreOps.pointInTime(spark, entity((1L, "2024-01-04 00:00:00")), Seq(fv))
      .toDF.collect()
    assert(out.head.getAs[Double]("v") == 1.0) // 01-01 row now reachable
  }

  test("pointInTime: created_timestamp dedup picks latest created (ref store.py:703-740)") {
    import spark.implicits._
    // same event ts, created later, different value: created dedup must pick v=9
    Seq(
      (1L, ts("2024-01-05 00:00:00"), ts("2024-01-05 00:00:00"), 1L, 1.0),
      (1L, ts("2024-01-05 00:00:00"), ts("2024-01-07 00:00:00"), 2L, 9.0),
    ).toDF("k", "ets", "cts", "rid", "v").createOrReplaceTempView("feat_created_v")
    val src = GraftSource.of(table = Some("feat_created_v"),
      timestampField = Some("ets"), createdTimestampColumn = Some("cts"))
    val fv = FeatureView("f", src, Seq("k"), Seq("v"), ttlSeconds = 0L, tieBreak = Some("rid"))
    val out = FeatureStoreOps.pointInTime(spark, entity((1L, "2024-01-08 00:00:00")), Seq(fv))
      .toDF.collect()
    assert(out.head.getAs[Double]("v") == 9.0)
  }

  test("pointInTime: multi-view merge with full_feature_names (ref store.py:760-779)") {
    import spark.implicits._
    Seq((1L, ts("2024-01-02 00:00:00"), "a")).toDF("k", "ets", "s")
      .createOrReplaceTempView("feat2_v")
    val src2 = GraftSource.of(table = Some("feat2_v"), timestampField = Some("ets"))
    val fv1 = FeatureView("f1", featSrc, Seq("k"), Seq("v"), tieBreak = Some("rid"))
    val fv2 = FeatureView("f2", src2, Seq("k"), Seq("s"))
    val out = FeatureStoreOps.pointInTime(spark, entity((1L, "2024-01-06 00:00:00")),
      Seq(fv1, fv2), fullFeatureNames = true).toDF
    assert(out.columns.toSet == Set("k", "event_timestamp", "f1__v", "f2__s"))
    val r = out.collect().head
    assert(r.getAs[Double]("f1__v") == 3.0 && r.getAs[String]("f2__s") == "a")
  }

  test("pointInTime: shuffle-join path (broadcast disabled) gives identical results") {
    val fv = FeatureView("f", featSrc, entityKeys = Seq("k"), features = Seq("v"),
      ttlSeconds = 0L, tieBreak = Some("rid"))
    val ent = entity((1L, "2024-01-06 00:00:00"), (2L, "2024-01-04 00:00:00"))
    def run(): Set[(Long, Option[Double])] =
      FeatureStoreOps.pointInTime(spark, ent, Seq(fv)).toDF.collect()
        .map(r => (r.getAs[Long]("k"),
          Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue))).toSet
    val broadcasted = run()
    spark.conf.set("graft.pit.broadcastBytes", "0")
    try {
      val shuffled = run()
      assert(shuffled == broadcasted && shuffled == Set((1L, Some(3.0)), (2L, Some(4.0))))
    } finally spark.conf.unset("graft.pit.broadcastBytes")
  }

  test("pointInTime: duplicated (key, ts) entity rows each get the one as-of answer, on both join paths") {
    import spark.implicits._
    Seq((1L, ts("2024-01-02 00:00:00"), "a"), (1L, ts("2024-01-05 12:00:00"), "b"))
      .toDF("k", "ets", "s").createOrReplaceTempView("feat_dup_v")
    val src2 = GraftSource.of(table = Some("feat_dup_v"), timestampField = Some("ets"))
    val fv1 = FeatureView("f1", featSrc, Seq("k"), Seq("v"), tieBreak = Some("rid"))
    val fv2 = FeatureView("f2", src2, Seq("k"), Seq("s"))
    val ent = entity(
      (1L, "2024-01-06 00:00:00"), (1L, "2024-01-06 00:00:00"), (1L, "2024-01-06 00:00:00"),
      (1L, "2024-01-04 00:00:00"), (1L, "2024-01-04 00:00:00"),
      (2L, "2024-01-04 00:00:00"), (2L, "2024-01-04 00:00:00"),
      (9L, "2024-01-10 00:00:00"), (9L, "2024-01-10 00:00:00"))
    def run(): Seq[(Long, String, Option[Double], Option[String])] =
      FeatureStoreOps.pointInTime(spark, ent, Seq(fv1, fv2)).toDF.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Timestamp]("event_timestamp").toString,
          Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue),
          Option(r.getAs[String]("s")))).toSeq.sortBy(r => (r._1, r._2))
    val want = Seq.fill(2)((1L, "2024-01-04 00:00:00.0", Some(1.0), Some("a"))) ++
      Seq.fill(3)((1L, "2024-01-06 00:00:00.0", Some(3.0), Some("b"))) ++
      Seq.fill(2)((2L, "2024-01-04 00:00:00.0", Some(4.0), None)) ++
      Seq.fill(2)((9L, "2024-01-10 00:00:00.0", None, None))
    assert(run() === want)
    spark.conf.set("graft.pit.broadcastBytes", "0")
    try assert(run() === want)
    finally spark.conf.unset("graft.pit.broadcastBytes")
  }

  test("pointInTime: byte gate blocks broadcast when rows x width exceeds the threshold") {
    import org.apache.spark.sql.functions._
    // 50k rows x (8B key + 12B ts) = ~1 MB estimate. Under the old 1M-ROW gate
    // this frame would always broadcast no matter how wide its rows; under the
    // byte gate a 0.5 MB threshold rejects it and the PIT join must shuffle.
    val wide = spark.range(50000)
      .select((col("id") % 3 + 1).as("k"),
        (lit(ts("2024-01-06 00:00:00")).cast("timestamp")).as("event_timestamp"))
    val fv = FeatureView("f", featSrc, entityKeys = Seq("k"), features = Seq("v"),
      ttlSeconds = 0L, tieBreak = Some("rid"))
    def plan(): String =
      FeatureStoreOps.pointInTime(spark, wide, Seq(fv)).toDF
        .queryExecution.executedPlan.toString
    // the gated join is the final LeftOuter merge of entity x viewResult;
    // Catalyst may still broadcast the tiny FEATURE table inside the view
    // (its own size-based call) — that's not what the gate controls
    def leftOuterBroadcasts(p: String): Boolean =
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftOuter"))
    spark.conf.set("graft.pit.broadcastBytes", (512 * 1024).toString)
    try {
      val p = plan()
      assert(!leftOuterBroadcasts(p), s"byte gate must block the entity broadcast:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected shuffle join:\n$p")
    } finally spark.conf.unset("graft.pit.broadcastBytes")
    // with the default 100 MB threshold the same frame broadcasts
    assert(leftOuterBroadcasts(plan()))
  }

  test("pointInTime: empty entity frame returns empty result with full schema (no NPE)") {
    val fv = FeatureView("f", featSrc, entityKeys = Seq("k"), features = Seq("v"),
      ttlSeconds = 86400L, tieBreak = Some("rid"))
    val out = FeatureStoreOps.pointInTime(spark, entity((1L, "2024-01-06 00:00:00"))
      .limit(0), Seq(fv)).toDF
    assert(out.columns.toSet == Set("k", "event_timestamp", "v"))
    assert(out.count() == 0)
  }

  test("inferEntityTimestampColumn: event_timestamp, sole ts col, or error") {
    import spark.implicits._
    assert(FeatureStoreOps.inferEntityTimestampColumn(
      entity((1L, "2024-01-01 00:00:00"))) == "event_timestamp")
    val sole = Seq((1L, ts("2024-01-01 00:00:00"))).toDF("k", "my_ts")
    assert(FeatureStoreOps.inferEntityTimestampColumn(sole) == "my_ts")
    val none = Seq((1L, 2L)).toDF("a", "b")
    intercept[InvalidEntityFrameException](FeatureStoreOps.inferEntityTimestampColumn(none))
    // a STRING column that happens to be named event_timestamp must lose to
    // the real timestamp column (getTimestamp would crash on strings later)
    val decoy = Seq((1L, "2024-01-01", ts("2024-01-01 00:00:00")))
      .toDF("k", "event_timestamp", "real_ts")
    assert(FeatureStoreOps.inferEntityTimestampColumn(decoy) == "real_ts")
  }

  test("pointInTime: duplicate feature names across views fail fast; flag propagates") {
    import spark.implicits._
    Seq((1L, ts("2024-01-02 00:00:00"), 1.0)).toDF("k", "ets", "v")
      .createOrReplaceTempView("feat_dup_v")
    val src2 = GraftSource.of(table = Some("feat_dup_v"), timestampField = Some("ets"))
    val fv1 = FeatureView("f1", featSrc, Seq("k"), Seq("v"), tieBreak = Some("rid"))
    val fv2 = FeatureView("f2", src2, Seq("k"), Seq("v")) // same feature name
    val ent = entity((1L, "2024-01-06 00:00:00"))
    val e = intercept[IllegalArgumentException] {
      FeatureStoreOps.pointInTime(spark, ent, Seq(fv1, fv2))
    }
    assert(e.getMessage.contains("v") && e.getMessage.contains("fullFeatureNames"))
    // full_feature_names disambiguates — and the job reports the flag
    val job = FeatureStoreOps.pointInTime(spark, ent, Seq(fv1, fv2),
      fullFeatureNames = true)
    assert(job.fullFeatureNames, "flag must propagate to the job surface")
    assert(job.toDF.columns.toSet === Set("k", "event_timestamp", "f1__v", "f2__v"))
  }

  test("pointInTime: composite entity keys join on all keys") {
    import spark.implicits._
    Seq(
      (1L, "us", ts("2024-01-02 00:00:00"), 1.0),
      (1L, "eu", ts("2024-01-03 00:00:00"), 2.0), // same k1, different k2
      (2L, "us", ts("2024-01-02 00:00:00"), 3.0),
    ).toDF("k1", "k2", "ets", "v").createOrReplaceTempView("feat_comp_v")
    val src = GraftSource.of(table = Some("feat_comp_v"), timestampField = Some("ets"))
    val fv = FeatureView("f", src, entityKeys = Seq("k1", "k2"), features = Seq("v"))
    val ent = Seq(
      (1L, "us", ts("2024-01-05 00:00:00")),
      (1L, "eu", ts("2024-01-05 00:00:00")),
      (2L, "eu", ts("2024-01-05 00:00:00")), // no (2, eu) feature -> null
    ).toDF("k1", "k2", "event_timestamp")
    val out = FeatureStoreOps.pointInTime(spark, ent, Seq(fv)).toDF.collect()
      .map(r => ((r.getAs[Long]("k1"), r.getAs[String]("k2")),
        Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue))).toMap
    assert(out == Map(
      (1L, "us") -> Some(1.0), (1L, "eu") -> Some(2.0), (2L, "eu") -> None))
  }

  test("pointInTime planHints: plan flips broadcast/plain/salted on CMS sketch evidence; every strategy's rows byte-identical to the default path") {
    import spark.implicits._
    // feature side: key 1 is hot (6 rows), keys 2..4 one row each
    val featRows =
      (1 to 6).map(i => (1L, ts(f"2024-01-0$i 00:00:00"), i.toDouble)) ++
        Seq((2L, ts("2024-01-02 00:00:00"), 20.0),
          (3L, ts("2024-01-03 00:00:00"), 30.0),
          (4L, ts("2024-01-04 00:00:00"), 40.0))
    val featDf = featRows.toDF("k", "ets", "v")
    featDf.createOrReplaceTempView("feat_hints_v")
    val src = GraftSource.of(table = Some("feat_hints_v"), timestampField = Some("ets"))
    val fv = FeatureView("fh", src, entityKeys = Seq("k"), features = Seq("v"))
    // entity: hot key 1 twice (two as-of times), cold keys once
    val entDf = Seq(
      (1L, ts("2024-01-04 12:00:00")), (1L, ts("2024-01-07 00:00:00")),
      (2L, ts("2024-01-05 00:00:00")), (3L, ts("2024-01-05 00:00:00")),
      (5L, ts("2024-01-05 00:00:00"))).toDF("k", "event_timestamp")
    val (width, depth) = (256, 3)
    val skE = Sketch.countMinSketch(entDf, "k", width, depth).cache()
    val skF = Sketch.countMinSketch(featDf, "k", width, depth).cache()
    def run(hints: Option[PitPlanHints]) = {
      val df = FeatureStoreOps.pointInTime(spark, entDf, Seq(fv),
        planHints = hints).toDF
      // plan BEFORE executing: after collect, AQE's final adaptive plan
      // adds per-stage broadcast wrappers that would skew the exchange
      // counts asserted below
      val plan = df.queryExecution.executedPlan.toString
      (df.collect().map(r => (r.getAs[Long]("k"),
          r.getAs[Timestamp]("event_timestamp").toString,
          Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue))).toSet,
        plan)
    }
    def hints(bcastMax: Long, saltAbove: Long) = Some(PitPlanHints(
      skE, Map("fh" -> skF), depth,
      broadcastMaxRows = bcastMax, saltAboveXPpm = saltAbove, saltFactor = 4))
    // auto-broadcast off: only the EXPLICIT hint may broadcast, so the
    // plan flip below is the strategy's doing, not Catalyst's size guess
    val thrWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (defRows, _) = run(None)
      // expected semantics: key 1 @01-04 12:00 -> v=4 (latest <= asof),
      // key 1 @01-07 -> 6, key 2 -> 20, key 3 -> 30, key 5 -> no match
      assert(defRows === Set(
        (1L, "2024-01-04 12:00:00.0", Some(4.0)),
        (1L, "2024-01-07 00:00:00.0", Some(6.0)),
        (2L, "2024-01-05 00:00:00.0", Some(20.0)),
        (3L, "2024-01-05 00:00:00.0", Some(30.0)),
        (5L, "2024-01-05 00:00:00.0", None)))
      // entity sketch counts 6 keyed rows -> broadcast when the cap allows
      val (bRows, bPlan) = run(hints(bcastMax = 100L, saltAbove = 100000000L))
      // cap 0 forbids broadcast; est(join) = 6*2+1+1 = 14 <= 9 rows x 100x
      val (pRows, pPlan) = run(hints(bcastMax = 0L, saltAbove = 100000000L))
      // est 14 > 9 x 1.0 -> hot-key fan-out predicted -> salted
      val (sRows, sPlan) = run(hints(bcastMax = 0L, saltAbove = 1000000L))
      assert(bRows === defRows && pRows === defRows && sRows === defRows)
      def nBcast(plan: String) = "BroadcastExchange".r.findAllIn(plan).size
      assert(!bPlan.contains("_pit_salt") && !pPlan.contains("_pit_salt"))
      assert(sPlan.contains("_pit_salt"))
      // the broadcast strategy adds exactly the entity-side broadcast the
      // plain strategy lacks (the final merge join is unaffected)
      assert(nBcast(bPlan) === nBcast(pPlan) + 1)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thrWas)
      skE.unpersist(); skF.unpersist()
    }
  }

  test("retrieval job is lazy and carries metadata (ref store.py:313-348)") {
    val job = FeatureStoreOps.pullAll(spark, featSrc, Seq("k"), Seq("v"), "ets",
      ts("2024-01-01 00:00:00"), ts("2024-01-05 00:00:00"))
    assert(job.metadata.features == Seq("v") && job.metadata.keys == Seq("k"))
    assert(job.metadata.minEventTimestamp.contains(ts("2024-01-01 00:00:00")))
  }

  test("stalenessAudit: hand ages; misses bucket NULL; duplicate entity rows collapse; ages match what pointInTime serves") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val fv = FeatureView("f", featSrc, Seq("k"), Seq("v"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("rid"))
    // entities at 2024-01-06 12:00: k=1 served the created-later 01-05 row
    // (age 36h -> bucket 1 at daily), k=2 the 01-03 row (age 3.5d ->
    // bucket 3), k=3's only row is in the FUTURE (miss), k=9 has no rows
    // (miss); k=1 duplicated must count once
    val ent = entity(
      (1L, "2024-01-06 12:00:00"), (1L, "2024-01-06 12:00:00"),
      (2L, "2024-01-06 12:00:00"), (3L, "2024-01-06 12:00:00"),
      (9L, "2024-01-06 12:00:00"))
    val panel = FeatureStoreOps.stalenessAudit(spark, ent, fv,
      bucketSeconds = 86400L).collect()
      .map(r => (if (r.isNullAt(1)) -1L else r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(panel === Map(1L -> 1L, 3L -> 1L, -1L -> 2L))
    assert(panel.values.sum === 4L, "duplicate entity row collapsed")
    // TTL excludes: an entity 8 days after k=2's only row is a miss
    val ttlPanel = FeatureStoreOps.stalenessAudit(spark,
      entity((2L, "2024-01-11 00:00:01")), fv, bucketSeconds = 86400L)
      .collect().map(r =>
        (if (r.isNullAt(1)) -1L else r.getLong(1)) -> r.getLong(2)).toMap
    assert(ttlPanel === Map(-1L -> 1L))
    // parity with the SERVED row: expose the feature ts as a feature and
    // recompute every entity row's bucket from pointInTime's own output
    val fvTs = FeatureView("f", featSrc, Seq("k"), Seq("ets", "v"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("rid"))
    val manyEnt = entity((1 to 12).map(i =>
      (i % 4 + 1L, s"2024-01-0${i % 6 + 1} 0$i:00:00".take(19))): _*)
    val pit = FeatureStoreOps.pointInTime(spark, manyEnt, Seq(fvTs)).toDF
      .select(col("k"),
        ((unix_micros(col("event_timestamp")) - unix_micros(col("ets")))
          .cast("long")).as("_age_us"))
      .collect()
      .map(r => if (r.isNullAt(1)) -1L else r.getLong(1) / 86400000000L)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val audit = FeatureStoreOps.stalenessAudit(spark, manyEnt, fvTs,
      bucketSeconds = 86400L).collect()
      .map(r => (if (r.isNullAt(1)) -1L else r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(audit === pit,
      "the audited age distribution must be the age of what PIT serves")
  }
}
