package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * `bucket = xxhash64(key) % numBuckets`; each batch collapses to its own
  * per-key latest, merges with the CURRENT rows of only the buckets it
  * touches (max of two argmaxes = argmax of the union — the merge is
  * associative, commutative, idempotent), and commits exactly those
  * buckets through [[StoreSwap]]'s generational tmp/prev swap (untouched
  * buckets adopt by metadata rename — a crash at any point leaves a
  * complete generation on disk, and a reader never sees a half-replaced
  * bucket directory). Replaying a batch therefore rewrites the same
  * bytes (exactly-once from at-least-once), out-of-order batches converge
  * to the same store, and a 100 TB backfill day touches only the buckets
  * its keys hash into. NULL keys are dropped at ingest (they can never be
  * probed by an equality key).
  *
  * [[readLatest]] with `keys` prunes to the probed keys' buckets FIRST
  * (PartitionFilters — directories never open) then semi-joins exact
  * keys: serving one entity's features from a petabyte store reads one
  * bucket.
  */
object LatestStore {

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
    def collapse(df: DataFrame): DataFrame =
      df.groupBy(col(keyCol))
        .agg(max(struct(payload.map(col): _*)).as("_latest"))
        .select(col(keyCol) +: payload.map(c => col(s"_latest.$c").as(c)): _*)
    val bucket = pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int")
    val flat = collapse(batch.filter(col(keyCol).isNotNull)
      .select((keyCol +: payload).map(col): _*))
      .withColumn("bucket", bucket)
    // generational commit (the quantile store's tmp/prev swap via
    // StoreSwap): the merged buckets land in a committed sibling and
    // untouched buckets are adopted by rename — a crash at any point
    // leaves a complete generation, where dynamic overwrite deleted the
    // touched directories before its own commit
    if (!StoreSwap.recover(spark, path, depth = 1)) {
      flat.write.partitionBy("bucket").parquet(path)
    } else {
      val affected = flat.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val existing = spark.read.parquet(path)
        .filter(col("bucket").isin(affected: _*))
        .select((keyCol +: payload).map(col): _*)
      val merged = collapse(existing.unionByName(flat.drop("bucket")))
        .withColumn("bucket", bucket)
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
    val store = spark.read.parquet(path)
    val pruned = keys match {
      case None => store
      case Some(k) =>
        val buckets = k.filter(col(keyCol).isNotNull)
          .select(pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong))
            .cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        store.filter(col("bucket").isin(buckets: _*))
          .join(k.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
    }
    pruned.drop("bucket")
  }
}
