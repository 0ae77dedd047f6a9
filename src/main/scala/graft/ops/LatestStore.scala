package graft.ops

import graft.sources.FormatIO
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized latest-values store — the engine's "materialize to the
  * online store" surface (the reference's offline side computes
  * latest-per-key on demand; serving needs it PERSISTED, incrementally
  * maintained, and point-readable): a bucketed parquet store holding, per
  * entity key, the single latest feature row under the
  * `(ts, tieBreak, values…)` struct order — exactly
  * [[FeatureStoreOps.pullLatest]]'s arg-max, so a full read of the store
  * equals a pullLatest over everything ever ingested (the oracle
  * contract).
  *
  * Layout and maintenance follow the SCD2 store's discipline
  * ([[Temporal.scd2UpsertBatch]]): rows partition by
  * `bucket = xxhash64(key) % numBuckets` ([[bucketOf]]). Each batch reads
  * the CURRENT rows of only the buckets its keys hash into and collapses
  * them together with its raw rows in ONE arg-max aggregation (the
  * arg-max is associative, commutative and idempotent, so collapsing the
  * batch on its own first would only add a shuffle). The result commits
  * exactly those buckets through [[StoreSwap]]'s generational tmp/prev
  * swap (untouched buckets adopt by metadata rename — a crash at any
  * point leaves a complete generation on disk, and a reader never sees a
  * half-replaced bucket directory). Replaying a batch therefore rewrites
  * the same rows (exactly-once from at-least-once), out-of-order batches
  * converge to the same store, and a 100 TB backfill day touches only the
  * buckets its keys hash into. NULL keys are dropped at ingest (they can
  * never be probed by an equality key).
  *
  * [[readLatest]] with `keys` prunes to the probed keys' buckets FIRST
  * (PartitionFilters — directories never open) then semi-joins exact
  * keys: serving one entity's features from a petabyte store reads one
  * bucket. Both sides read the store's schema from one parquet footer
  * ([[graft.sources.FormatIO.readParquet]]) and the bucket set in one
  * shuffle-free job ([[bucketSet]]).
  */
object LatestStore {

  /** The store bucket of `key`: the one bucketing rule of the bucketed
    * stores (this one and [[Temporal.scd2UpsertBatch]]'s). */
  private[ops] def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets.toLong)).cast("int")

  /** The sorted buckets the non-NULL `keyCol` values of `rows` hash into,
    * in one job without a shuffle: each task keeps its own set and the
    * Spark driver unions at most numBuckets ids per task. */
  private[ops] def bucketSet(rows: DataFrame, keyCol: String, numBuckets: Int): Seq[Int] =
    rows.filter(col(keyCol).isNotNull).select(bucketOf(col(keyCol), numBuckets))
      .mapPartitions(it => it.map(_.getInt(0)).toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.sorted.toSeq

  def upsertBatch(
      batch: DataFrame,
      path: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      numBuckets: Int,
      tieBreak: Option[String] = None): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(valueCols.nonEmpty, "need at least one value column")
    val spark = batch.sparkSession
    val payload = (tsCol +: (tieBreak.toSeq ++ valueCols)).distinct
    val cols = (keyCol +: payload).map(col)
    def collapse(df: DataFrame): DataFrame =
      df.groupBy(col(keyCol))
        .agg(max(struct(payload.map(col): _*)).as("_latest"))
        .select(col(keyCol) +: payload.map(c => col(s"_latest.$c").as(c)): _*)
        .withColumn("bucket", bucketOf(col(keyCol), numBuckets))
    val rows = batch.filter(col(keyCol).isNotNull).select(cols: _*)
    // generational commit (the quantile store's tmp/prev swap via
    // StoreSwap): the merged buckets land in a committed sibling and
    // untouched buckets are adopted by rename — a crash at any point
    // leaves a complete generation, where dynamic overwrite deleted the
    // touched directories before its own commit
    if (!StoreSwap.recover(spark, path, depth = 1)) {
      collapse(rows).write.partitionBy("bucket").parquet(path)
    } else {
      val affected = bucketSet(rows, keyCol, numBuckets)
      val existing = FormatIO.readParquet(spark, path)
        .filter(col("bucket").isin(affected: _*))
        .select(cols: _*)
      val merged = collapse(existing.unionByName(rows))
      StoreSwap.swapIn(spark, path, depth = 1) { tmp =>
        merged.write.partitionBy("bucket").parquet(tmp)
      }
    }
  }

  /** Read the store back — optionally pruned to `keys` (a frame carrying
    * `keyCol`): bucket partition-prune first, exact left-semi second.
    */
  def readLatest(
      spark: SparkSession,
      path: String,
      keyCol: String,
      numBuckets: Int,
      keys: Option[DataFrame] = None): DataFrame = {
    val store = FormatIO.readParquet(spark, path)
    val pruned = keys match {
      case None => store
      case Some(k) =>
        // a semi join matches each store row once however often its key
        // repeats in `k`, so the keys need no distinct
        store.filter(col("bucket").isin(bucketSet(k, keyCol, numBuckets): _*))
          .join(k.select(col(keyCol)), Seq(keyCol), "left_semi")
    }
    pruned.drop("bucket")
  }
}
