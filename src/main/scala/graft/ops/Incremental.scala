package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-rollup pattern: a
  * per-(day, key) PARTIAL-aggregate state table stands in for the raw
  * events, and any date-range query re-aggregates state rows instead of
  * rescanning the corpus. At 100 TB this is the difference between a
  * dashboard query touching `days × keys` kilobyte-scale rows and one
  * re-reading a month of raw events.
  *
  * Only ALGEBRAIC aggregates live here (count / sum / min / max — each
  * merges by an aggregate of the partials, exactly). Holistic aggregates
  * (distinct counts, quantiles) do not merge from these partials by
  * construction; their incremental forms are the mergeable sketch
  * artifacts this engine already ships ([[Sketch.hllRegisters]] — register
  * tables merge by max; [[Sketch.countMinSketch]] — cells merge by sum),
  * composable over the same `dt` layout.
  *
  * The persisted form writes the state `partitionBy("dt")` so a range
  * merge's date predicate lands in `PartitionFilters` — out-of-range days
  * are never opened — and a day's re-ingest REPLACES that day's partition
  * (dynamic partition overwrite): re-running yesterday's pipeline is
  * idempotent, where a blind append would silently double-count (the
  * opposite trade from [[Similarity.appendToIvfIndex]], whose postings are
  * append-only because its batches are disjoint by contract; ingest
  * re-runs are not).
  */
object Incremental {

  /** The per-(UTC day, key) partial-aggregate state of `df`:
    * `(dt, keys…, n, sum_value, min_value, max_value)`. `valueCol` must be
    * integer-valued (fixed-point by the caller, the events-cents
    * convention) so sums merge exactly in any engine. One aggregation with
    * map-side partials; days × keys output rows.
    */
  def dailyState(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame =
    df.withColumn("dt", to_date(col(tsCol)).cast("string"))
      .groupBy(col("dt") +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))

  /** Merge state rows over `[fromDt, toDt]` (ISO `yyyy-MM-dd`, inclusive)
    * into per-key totals — exactly the aggregation a direct scan of the raw
    * rows in that range would produce (count sums, sums sum, mins min,
    * maxes max: the algebraic-merge identity, spec-pinned and replayed by
    * the oracle). State-table-sized work: the raw corpus is never touched.
    */
  def mergeState(
      state: DataFrame,
      keys: Seq[String],
      fromDt: String,
      toDt: String): DataFrame =
    mergeAgg(state.filter(col("dt") >= fromDt && col("dt") <= toDt), keys)

  private def mergeAgg(inRange: DataFrame, keys: Seq[String]): DataFrame =
    inRange.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).as("sum_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  /** Persist [[dailyState]] under `path`, one directory per day. */
  def writeDailyState(
      df: DataFrame,
      path: String,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): Unit =
    dailyState(df, keys, tsCol, valueCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("dt").parquet(path)

  /** Fold a new (or re-run) batch into the persisted state: the batch's
    * days are re-aggregated from the batch alone and their partitions
    * REPLACED through [[StoreSwap]]'s generational commit (only the
    * batch's day directories are written; every other day adopts into the
    * new generation by metadata rename, and a crash at any point leaves a
    * complete generation). The caller's contract is day-grained batches
    * (the ingest norm): a batch carrying HALF a day replaces the whole day
    * with half, which is why the grain is the contract, not a hint.
    */
  def upsertDayState(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String): Unit = {
    val days = dailyState(batch, keys, tsCol, valueCol)
    if (!StoreSwap.recover(spark, path, depth = 1)) days.write.partitionBy("dt").parquet(path)
    else StoreSwap.swapIn(spark, path, depth = 1) { tmp =>
      days.write.partitionBy("dt").parquet(tmp)
    }
  }

  /** One micro-batch of STREAMING state maintenance (the
    * [[graft.streaming.EventStream.dailyStateSink]] worker, factored out so
    * the replay contract is spec-testable): the batch's partials write
    * under `partitionBy("dt", "batch_id")` through [[graft.ops.StoreSwap]]'s
    * generational commit. The
    * extra `batch_id` dimension is what makes at-least-once `foreachBatch`
    * replay EXACTLY-ONCE here: a replayed batch rewrites its own
    * `(dt, batch_id)` partitions byte-identically instead of double-merging
    * into the day (a read-merge-write day upsert would count the replay
    * twice — the scd2 sink gets idempotence from its merge algebra; this
    * sink gets it from partition identity). Range reads ([[mergeRange]])
    * re-aggregate over state rows anyway, so the extra dimension only adds
    * rows — many batch partitions per day compact away with
    * [[compactStateDays]], which preserves this two-level layout (a
    * [[writeDailyState]] rebuild into the same path would NOT: its dt-only
    * directories alongside these dt/batch_id ones make the next read fail
    * on conflicting partition depths — rebuild only into a FRESH path with
    * the sink restarted against it).
    */
  def stateUpsertBatch(
      batch: DataFrame,
      path: String,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val partials = dailyState(batch, keys, tsCol, valueCol)
      .withColumn("batch_id", lit(batchId))
    // generational commit (StoreSwap): the batch's (dt, batch_id)
    // partitions commit to a sibling and every other leaf partition
    // adopts by rename — replay still rewrites the identical partitions
    // (the exactly-once-by-partition-identity contract is unchanged),
    // but a crash or a racing reader now always sees a complete
    // generation, which dynamic overwrite's delete-at-commit did not give
    if (!StoreSwap.recover(spark, path, depth = 2))
      partials.write.partitionBy("dt", "batch_id").parquet(path)
    else StoreSwap.swapIn(spark, path, depth = 2) { tmp =>
      partials.write.partitionBy("dt", "batch_id").parquet(tmp)
    }
  }

  /** Compact ONLY the fragmented days of a streaming state store: every
    * `dt=` directory holding more than `maxBatchesPerDay` `batch_id=`
    * partitions has its per-batch partials merged (the same algebraic
    * merge as [[mergeState]], still PARTIALS — sums sum, mins min) into a
    * single reserved `batch_id=-1` partition; the superseded batch
    * directories die with the parked generation. Days under the threshold
    * are not read or rewritten — they ADOPT into the new generation as one
    * metadata rename per day — so at 100 TB the maintenance cost is
    * proportional to the fragmentation, not the store.
    *
    * The layout is the POINT: the compacted partition keeps the
    * `(dt, batch_id)` two-level shape [[stateUpsertBatch]] writes, so
    * reads never see mixed partition depths (a [[writeDailyState]]-style
    * dt-only rebuild into the same path breaks the next
    * `spark.read.parquet` with conflicting directory structures).
    *
    * Contracts: the rewrite commits through [[StoreSwap.swapIn]] at DAY
    * granularity, so readers see either the fully-fragmented or the
    * fully-compacted store (never the merged batch next to the fragments
    * it absorbed) and a crash at any point leaves a complete generation
    * for [[StoreSwap.recover]] — which the next [[stateUpsertBatch]] runs
    * anyway, finishing the day-level adoption via the recorded depth
    * marker even though upserts adopt at batch level. Writers stay
    * single-maintainer (two concurrent swaps race their renames). Compact
    * only days PAST the stream's replay horizon — a replay of batch `b`
    * recreates `(dt, b)` after `b` was folded into `-1`, double-counting
    * the day. `batch_id=-1` is reserved for compaction output
    * (re-compacting a compacted day is a no-op merge with itself, so
    * repeated maintenance is idempotent).
    *
    * Returns the compacted `dt` values.
    */
  def compactStateDays(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      maxBatchesPerDay: Int = 8): Seq[String] = {
    require(maxBatchesPerDay >= 1, "maxBatchesPerDay must be >= 1")
    // same preamble as the upserts: a maintainer starting on a crashed
    // store must see a complete generation before it lists fragmentation
    if (!StoreSwap.recover(spark, path, depth = 2)) return Seq.empty
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
    val fragmented = dayDirs.filter { d =>
      fs.listStatus(d.getPath).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch_id=")) > maxBatchesPerDay
    }
    val dts = fragmented.map(_.getPath.getName.stripPrefix("dt=")).toSeq
    if (dts.nonEmpty) {
      // ONE job for all fragmented days: the dt partition filter prunes the
      // scan to exactly them, the merge is mergeState's algebra with dt
      // kept, and the repartition lands ~one output file per day.
      //
      // Generational commit via StoreSwap at DAY granularity (depth 1, not
      // the store's upsert depth 2): each compacted day REPLACES its whole
      // dt= directory — adoption must bring over untouched DAYS wholesale
      // and must NOT descend into a compacted day (its old batch_id dirs
      // are superseded by the merged batch_id=-1; re-adopting them would
      // double-count). The pre-swap shape (dynamic partition overwrite +
      // manual fragment deletes) left a torn store at every point between
      // the overwrite job commit and the last delete — a concurrent reader
      // could see the merged batch AND the fragments it absorbed.
      val day = spark.read.parquet(path).filter(col("dt").cast("string").isin(dts: _*))
      val merged = mergeAgg(day, "dt" +: keys)
        .withColumn("batch_id", lit(-1L))
        .repartition(dts.size, col("dt"))
      StoreSwap.swapIn(spark, path, 1) { tmp =>
        // reads the still-live store, commits fully into the tmp generation
        merged.write.mode("overwrite").partitionBy("dt", "batch_id").parquet(tmp)
      }
    }
    dts
  }

  /** Range-merge the persisted state: the date predicate compares the `dt`
    * PARTITION column directly (no cast wrapping it), so it prunes at
    * directory level — `PartitionFilters` in the scan, out-of-range days
    * never opened (spec-pinned). Output matches [[mergeState]] over the
    * same rows.
    */
  def mergeRange(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      fromDt: String,
      toDt: String): DataFrame =
    // partition-type inference may surface dt as DATE; the ISO string
    // literals coerce either way (Spark casts the LITERAL, never the
    // column) and the predicate stays prunable
    mergeAgg(spark.read.parquet(path)
      .filter(col("dt") >= fromDt && col("dt") <= toDt), keys)
}
