package graft.ops

import java.sql.Timestamp

import graft.SparkTestBase
import graft.sources.GraftSource

/** Spark jobs per call on the feature-store path, where every call is a
  * few small queries and each job's scheduling latency is most of what a
  * call costs. The pins are the measured counts on a 4-core local session:
  * each names where its jobs go, so a change that adds one (a schema
  * inference, a `distinct` shuffle, a second collapse, a stats pull next to
  * a checkpoint) fails here.
  */
class FeatureStoreJobsSpec extends SparkTestBase {
  import spark.implicits._

  private def t(m: Long) = new Timestamp(1704067200000L + m * 60000L) // from 2024-01-01 UTC
  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  /** 60 events of 20 users a day for four days, as parquet under `dt=`. */
  private lazy val events: String = {
    val root = tmp("graft-fsjobs-events") + "/events"
    for (d <- 0 until 4)
      (0 until 60).map(i => (i % 20L, t(d * 1440L + i), d * 1000L + i, s"k$i", i.toLong))
        .toDF("user_id", "ts", "event_id", "kind", "value")
        .write.parquet(s"$root/dt=2024-01-0${d + 1}")
    root
  }
  private lazy val source = GraftSource.of(table = Some(events), timestampField = Some("ts"),
    datePartitionColumn = Some("dt"))
  private def day(d: Int) = source.load(spark).filter($"dt" === s"2024-01-0${d + 1}").drop("dt")

  private def latestStore(days: Int): String = {
    val path = tmp("graft-fsjobs-latest") + "/store"
    (0 until days).foreach(upsert(path, _))
    path
  }
  private def upsert(path: String, d: Int): Unit = LatestStore.upsertBatch(day(d), path,
    "user_id", "ts", Seq("kind", "value"), numBuckets = 8, tieBreak = Some("event_id"))

  test("LatestStore.upsertBatch into an existing store: 3 jobs") {
    val path = latestStore(1)
    // the bucket set of the raw batch (no shuffle), then the merge's one
    // collapse shuffle: its map stage and the write
    val (_, jobs) = jobsOf(upsert(path, 1))
    assert(jobs === 3)
    val stored = LatestStore.readLatest(spark, path, "user_id", 8).collect()
    assert(stored.length === 20 && stored.forall(_.getAs[Long]("event_id") / 1000 == 1))
  }

  test("LatestStore.readLatest with keys: 3 jobs") {
    val path = latestStore(2)
    // the bucket set of the keys, the broadcast of the keys and the pruned
    // scan + semi join; the store schema is one footer read
    val keys = Seq(3L, 5L, 5L, 99L).toDF("user_id")
    val (rows, jobs) = jobsOf(
      LatestStore.readLatest(spark, path, "user_id", 8, Some(keys)).collect())
    assert(rows.map(_.getAs[Long]("user_id")).sorted.toSeq === Seq(3L, 5L))
    assert(rows.forall(_.getAs[Long]("event_id") / 1000 == 1), "day 1 is the latest")
    assert(jobs === 3)
  }

  test("Temporal.scd2UpsertBatch into an existing store: 4 jobs") {
    val path = tmp("graft-fsjobs-scd2") + "/store"
    def up(d: Int): Unit =
      Temporal.scd2UpsertBatch(day(d), path, "user_id", "ts", Seq("kind"), numBuckets = 8)
    up(0)
    // the bucket set of the raw batch (no shuffle), then the batch's
    // same-instant collapse and the merge's (one map stage each) and the write
    val (_, jobs) = jobsOf(up(1))
    assert(jobs === 4)
    assert(Temporal.readScd2Store(spark, path, "user_id", "ts", Seq("kind"), 8).count() === 120L)
  }

  test("Incremental.mergeRange collects in 2 jobs: the merge shuffle and its result") {
    val path = tmp("graft-fsjobs-state") + "/state"
    (0 until 3).foreach(d => Incremental.stateUpsertBatch(day(d), path, Seq("user_id"), "ts",
      "value", d.toLong))
    val (rows, jobs) = jobsOf(
      Incremental.mergeRange(spark, path, Seq("user_id"), "2024-01-01", "2024-01-02").collect())
    assert(rows.length === 20 && rows.map(_.getAs[Long]("n")).sum === 120L)
    assert(jobs === 2)
  }

  test("pointInTime: building the frame is 1 job, the entity checkpoint with its stats") {
    val view = FeatureView("ev", source, Seq("user_id"), Seq("kind", "value"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("event_id"))
    val entity = Seq((3L, t(1440L + 100)), (4L, t(2 * 1440L)), (77L, t(10)))
      .toDF("user_id", "event_timestamp")
    val job = FeatureStoreOps.pointInTime(spark, entity, Seq(view))
    val (df, jobs) = jobsOf(job.toDF)
    assert(jobs === 1)
    val got = df.collect().map(r => r.getAs[Long]("user_id") -> Option(r.get(r.fieldIndex("value"))))
      .toMap
    assert(got === Map(3L -> Some(43L), 4L -> Some(44L), 77L -> None))
  }

  test("pointInTime: building and collecting the frame is 6 jobs") {
    val view = FeatureView("ev", source, Seq("user_id"), Seq("kind", "value"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("event_id"))
    val entity = Seq((3L, t(1440L + 100)), (3L, t(1440L + 100)), (4L, t(2 * 1440L)), (77L, t(10)))
      .toDF("user_id", "event_timestamp")
    // the entity checkpoint with its stats, then the query's: the map
    // stage of the per-view entity distinct, the broadcast of its rows,
    // the arg-max shuffle's map stage, the broadcast of its result and
    // the result stage
    val (rows, jobs) = jobsOf(FeatureStoreOps.pointInTime(spark, entity, Seq(view)).toDF.collect())
    assert(rows.length === 4)
    assert(jobs === 6)
  }

  test("stalenessAudit: the entity stats ride the checkpoint's own jobs") {
    val view = FeatureView("ev", source, Seq("user_id"), Seq("kind"),
      ttlSeconds = 7L * 86400L, tieBreak = Some("event_id"))
    val entity = Seq((3L, t(1440L + 100)), (3L, t(1440L + 100)), (77L, t(10)))
      .toDF("user_id", "event_timestamp")
    // the entity distinct's map stage and the checkpoint itself
    val (panel, jobs) = jobsOf(FeatureStoreOps.stalenessAudit(spark, entity, view))
    assert(jobs === 2)
    assert(panel.collect().map(r => Option(r.get(1)) -> r.getLong(2)).toMap ===
      Map(Some(0L) -> 1L, None -> 1L))
  }

  test("GraftSource.validate on a parquet path runs no job") {
    val (_, jobs) = jobsOf(source.validate(spark))
    assert(jobs === 0)
  }
}
