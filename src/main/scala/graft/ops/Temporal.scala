package graft.ops

import graft.sources.FormatIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal feature computation beyond the reference's three retrieval
  * primitives: rolling time-window aggregates per key (the bread-and-butter
  * "count/sum over the trailing N days" feature family) and preceding-window
  * attribution joins (events joined to the qualifying events that led up to
  * them).
  *
  * Scale posture: both operators shuffle once on the entity keys and never
  * materialize a per-row candidate list — the rolling aggregate is a RANGE
  * window frame (sort within key partition, streaming frame evaluation), and
  * the attribution join's fan-out is bounded by events-per-key-per-window,
  * which is what bounds it on a 1000-executor cluster too.
  */
object Temporal {

  /** Half-life-decayed per-key aggregate — the recency-weighted feature
    * every feature store serves next to the rolling window (row 48):
    * `decayed_sum = Σ value · 2^(−floor(Δt / halfLife))`, a STEP decay with
    * integer exponents, evaluated AS OF a fixed instant. The step form is a
    * deliberate choice over continuous `exp(−λΔt)`: integer exponents make
    * every weight an exact power of two, so the whole aggregation runs in
    * the integer-exact lane (the lmScore/vocabCoverage discipline) —
    * `Σ value · 2^(maxHalfLives − k)` accumulates as DECIMAL(38,0) with no
    * float addition anywhere, and the single IEEE step at the end (decimal
    * → double, then division by the exact constant 2^maxHalfLives — a pure
    * exponent shift, no rounding) is engine- and partitioning-identical.
    * Events older than `maxHalfLives` half-lives (weight < 2^−40 by
    * default) and events after `asOf` contribute nothing — the horizon is
    * the contract, not an approximation. `valueCol` must be integer-valued
    * (fixed-point by the caller, the events-fixture convention).
    *
    * Shape at 100 TB: one scan + one hash aggregation with map-side
    * partials on the keys. The horizon predicate pushes to the scan on a
    * native timestamp column (Catalyst cast-unwrapping); over this
    * project's raw-ns testdata regime the conversion blocks pushdown
    * (verified in the plan), so at scale compose with
    * `GraftSource.loadWithTimeRange(asOf − maxHalfLives·halfLife, asOf)` —
    * the raw-space range filter + dt partition pruning ARE the horizon.
    */
  def decayedSum(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      halfLifeSeconds: Long,
      asOf: java.sql.Timestamp,
      maxHalfLives: Int = 40): DataFrame = {
    require(halfLifeSeconds > 0, "halfLifeSeconds must be positive")
    require(maxHalfLives >= 1 && maxHalfLives <= 50,
      "maxHalfLives must be in [1, 50] (2^50 keeps the per-row weight exact in decimal)")
    val asOfUs = asOf.getTime * 1000L
    val tsUs = unix_micros(col(tsCol))
    val k = floor((lit(asOfUs) - tsUs) / lit(halfLifeSeconds * 1000000L)).cast("int")
    df.filter(tsUs <= asOfUs)
      .withColumn("_k", k)
      .filter(col("_k") < maxHalfLives)
      // 2^(M−k) is exact in double up to 2^52, and the cast to decimal is
      // exact for integers — the weight never passes through a rounding
      .withColumn("_w",
        pow(lit(2.0), lit(maxHalfLives) - col("_k")).cast("decimal(38,0)"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(38,0)") * col("_w")).as("_num"))
      .select(keys.map(col) :+ col("n_events") :+
        round(col("_num").cast("double") / math.pow(2.0, maxHalfLives), 6)
          .as("decayed_sum"): _*)
  }

  /** Per-key rolling aggregates over the trailing `windowSeconds` (inclusive
    * of the current row's instant): appends `roll_count` and `roll_sum` of
    * `valueCol`. The frame is a RANGE (value-based) frame over microseconds,
    * so rows tied on timestamp are peers and see the same frame — standard
    * SQL semantics, reproducible in any engine.
    */
  def rollingAggregate(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      windowSeconds: Long): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSeconds * 1000000L, 0L)
    df.withColumn("roll_count", count(lit(1)).over(w))
      .withColumn("roll_sum", sum(col(valueCol)).over(w))
  }

  /** Generic as-of join (the time-series enrichment primitive, independent of
    * the feature-store wrapper): every `left` row picks the single nearest
    * `right` row per `keys` — at-or-before its timestamp (`direction =
    * "backward"`, the default), at-or-after (`"forward"`), or the closest
    * in EITHER direction (`"nearest"` — pandas merge_asof's third mode,
    * the sensor-fusion pick: a reading joins its closest calibration
    * sample whichever side it fell on; |Δt| ties break to the EARLIER
    * right row, the deterministic convention that a measurement is
    * usually better explained by what preceded it) — optionally
    * within `toleranceSeconds`. Unmatched left rows survive with nulls
    * (LEFT semantics). Timestamp ties on the right break to the greatest
    * `tieBreak` value, so the pick is deterministic in any engine.
    *
    * Matched columns surface as `asof_<rightTsCol>` plus `asof_<c>` for each
    * of `rightValueCols`.
    *
    * Shape (same as the PIT flagship): one equality-key shuffle join with the
    * temporal predicate as join condition, then a single-shuffle arg-max
    * (`max(struct(signed_ts, tie, payload))`) per left id — never a window
    * over the fact table, never a sort. Candidate fan-out is bounded by
    * right-rows-per-key-per-tolerance, which is what bounds it at 100 TB too;
    * pass a tolerance on high-frequency right sides.
    *
    * `leftIdCols` must uniquely identify a left row; remaining left columns
    * ride through `any_value` (exact under that contract).
    */
  /** SCD2 validity intervals from a change log — the dimension-history build
    * every warehouse runs next to CDC ([[Snapshot]]) and the PRODUCER of
    * what [[asofJoin]] consumes: each key's tracked values become
    * `[valid_from, valid_to)` rows, `valid_to` NULL on the open (current)
    * interval. Semantics:
    *
    *  - (key, ts) duplicates collapse FIRST to one deterministic row (max
    *    value struct — two changes in the same instant have no order, so
    *    the rule must be a pure function of the values);
    *  - with `collapseNoChange` (the SCD2 default), a change that writes
    *    the SAME tracked values extends the current interval instead of
    *    opening a new one — no-op churn in the source system never
    *    fragments history;
    *  - `valid_to` = the NEXT surviving change's ts, so intervals tile each
    *    key's timeline exactly (spec-pinned: an as-of probe into the
    *    intervals equals [[asofJoin]] against the raw log).
    *
    * Shape at 100 TB: one keyed map-side-partial aggregation (the (key, ts)
    * collapse) + one window pass per key — two keyed exchanges, no joins,
    * no data-scaled driver state. History length per key is the window's
    * partition size; a key hot enough to matter here is hot enough to have
    * needed the skew tools ([[Skew]]) everywhere else first.
    */
  /** Same-instant collapse shared by [[scd2]] and the incremental
    * [[scd2UpsertBatch]] store: two changes in one instant have no order, so
    * the survivor is the deterministic `max(struct(values))` — a pure
    * function of the values, and ASSOCIATIVE, which is what makes the
    * incremental merge exact: collapsing (old survivors ∪ new batch) equals
    * collapsing the full history. Returns `(key, ts, _v struct)`.
    */
  private[graft] def collapseSameInstant(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String]): DataFrame =
    df.groupBy(col(keyCol), col(tsCol))
      .agg(max(struct(valueCols.map(col): _*)).as("_v"))

  def scd2(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      collapseNoChange: Boolean = true): DataFrame = {
    require(valueCols.nonEmpty, "scd2 needs at least one tracked value column")
    val dedup = collapseSameInstant(df, keyCol, tsCol, valueCols)
    val wAsc = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val changed =
      if (collapseNoChange)
        dedup.withColumn("_pv", lag(col("_v"), 1).over(wAsc))
          .filter(col("_pv").isNull || col("_v") =!= col("_pv"))
          .drop("_pv")
      else dedup
    // lead AFTER the collapse: valid_to is the next SURVIVING change
    changed
      .withColumn("valid_to", lead(col(tsCol), 1).over(wAsc))
      .select(col(keyCol) +: valueCols.map(c => col(s"_v.$c").as(c)) :+
        col(tsCol).as("valid_from") :+ col("valid_to"): _*)
  }

  /** Incremental SCD2 maintenance — merge a change batch into a bucketed
    * on-disk CHANGE LOG, rewriting ONLY the key-hash buckets the batch
    * touches, committed through [[StoreSwap]]'s generational tmp/prev swap
    * (untouched bucket directories adopt into the new generation by
    * metadata rename — never re-read, never rewritten — and a crash at
    * any point leaves a complete generation on disk).
    *
    * What is materialized is deliberately the collapsed LOG, not the
    * intervals. Materializing [[scd2]]'s survivor intervals is LOSSY under
    * out-of-order arrivals: with history `t1=A, t2=A`, the `t2` change is
    * dropped as a no-op — but if `t1.5=B` arrives later, the full history
    * is `A[t1,t1.5) B[t1.5,t2) A[t2,∞)` and the dropped `t2=A` is load-
    * bearing again. The same-instant collapse, by contrast, is ASSOCIATIVE
    * (max-struct), so log merging is exact under ANY arrival order — and
    * IDEMPOTENT, which is what makes a replayed micro-batch (foreachBatch's
    * at-least-once contract) merge to the identical log: exactly-once
    * semantics without a transactional sink. Intervals derive on read
    * ([[readScd2Store]]), where [[scd2]]'s no-op drop sees the complete
    * per-key history and is always right.
    *
    * NULL keys drop (the family policy: a key identifies the row; NULL
    * identifies nothing). Per batch: one shuffle-free pass over the batch
    * for its bucket set ([[LatestStore.bucketSet]]), one scan of the
    * AFFECTED buckets only (partition-pruned by the bucket values, schema
    * from one footer), the batch's collapse and the merge's, one
    * pruned-partition write. Driver state = the affected bucket id set
    * (≤ numBuckets ints).
    */
  def scd2UpsertBatch(
      batch: DataFrame,
      path: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      numBuckets: Int): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(valueCols.nonEmpty, "need at least one tracked value column")
    val spark = batch.sparkSession
    val cols = (keyCol +: tsCol +: valueCols).map(col)
    val flat = collapseSameInstant(
      batch.filter(col(keyCol).isNotNull).select(cols: _*), keyCol, tsCol, valueCols)
      .select(col(keyCol) +: col(tsCol) +: valueCols.map(c => col(s"_v.$c").as(c)): _*)
    val bucket = LatestStore.bucketOf(col(keyCol), numBuckets)
    // generational commit (StoreSwap — the quantile store's tmp/prev
    // swap): merged buckets commit to a sibling, untouched buckets adopt
    // by rename; a crash at any point leaves a complete generation
    if (!StoreSwap.recover(spark, path, depth = 1)) {
      flat.withColumn("bucket", bucket).write.partitionBy("bucket").parquet(path)
    } else {
      // the affected buckets come off the raw batch in one shuffle-free
      // job (the collapse keeps every key, so its bucket set is the same)
      val affected = LatestStore.bucketSet(batch, keyCol, numBuckets)
      val existing = FormatIO.readParquet(spark, path)
        .filter(col("bucket").isin(affected: _*))
        .select((keyCol +: tsCol +: valueCols).map(col): _*)
      val merged = collapseSameInstant(
        existing.unionByName(flat), keyCol, tsCol, valueCols)
        .select(col(keyCol) +: col(tsCol) +:
          valueCols.map(c => col(s"_v.$c").as(c)): _*)
        .withColumn("bucket", bucket)
      StoreSwap.swapIn(spark, path, depth = 1) { tmp =>
        merged.write.partitionBy("bucket").parquet(tmp)
      }
    }
  }

  /** Compact ONLY the fragmented buckets of the SCD2 store: every
    * `bucket=` directory holding more than `maxFilesPerBucket` parquet
    * files (each [[scd2UpsertBatch]] append-merge leaves the bucket's
    * task-count of files; hundreds of batches ⇒ hundreds of small files)
    * is re-read, same-instant-collapsed with the store's own merge algebra
    * ([[collapseSameInstant]] — exactly what the next upsert would apply),
    * and rewritten as ~one file. Buckets under the threshold are not read
    * or rewritten — they ADOPT into the new generation as one metadata
    * rename each — so maintenance cost follows fragmentation, not store
    * size. [[readScd2Store]] output is unchanged by construction: it
    * collapses and interval-izes at read time, and collapse is idempotent.
    *
    * The rewrite commits through [[StoreSwap.swapIn]] (the same
    * bucket-level generational swap [[scd2UpsertBatch]] uses), so a
    * reader sees either the fragmented or the compacted store — never a
    * half-replaced bucket directory — and a crash at any point leaves a
    * complete generation for [[StoreSwap.recover]]. Writers stay
    * single-maintainer (two concurrent swaps race their renames).
    * `numBuckets` must be the store's own bucket count (it recomputes
    * each row's bucket; a different value would MOVE rows between
    * partitions and break [[readScd2Store]]'s bucket pruning).
    *
    * Returns the compacted bucket ids.
    */
  def compactScd2Buckets(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      numBuckets: Int,
      maxFilesPerBucket: Int = 8): Seq[Int] = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    // same preamble as the upserts: a maintainer starting on a crashed
    // store must see a complete generation before it lists fragmentation
    if (!StoreSwap.recover(spark, path, depth = 1)) return Seq.empty
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fragmented = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .filter(b => fs.listStatus(b.getPath)
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket)
      .map(_.getPath.getName.stripPrefix("bucket=").toInt).toSeq
    if (fragmented.nonEmpty) {
      val rows = FormatIO.readParquet(spark, path)
        .filter(col("bucket").isin(fragmented: _*))
        .select((keyCol +: tsCol +: valueCols).map(col): _*)
      val compacted = collapseSameInstant(rows, keyCol, tsCol, valueCols)
        .select(col(keyCol) +: col(tsCol) +: valueCols.map(c => col(s"_v.$c").as(c)): _*)
        .withColumn("bucket", LatestStore.bucketOf(col(keyCol), numBuckets))
        .repartition(fragmented.size, col("bucket"))
      // generational commit: the compacted buckets land in the tmp
      // generation (reading the still-live store), untouched buckets adopt
      // over as metadata renames, and the swap makes it live atomically —
      // the in-place dynamic overwrite this replaces could show a racing
      // reader a half-replaced bucket directory
      StoreSwap.swapIn(spark, path, depth = 1) { tmp =>
        compacted.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      }
    }
    fragmented
  }

  /** Read the bucketed SCD2 store back as validity intervals: [[scd2]] over
    * the stored log — the no-op drop runs HERE, where it sees each key's
    * complete history (see [[scd2UpsertBatch]] for why it must not run at
    * write time). With `keys`, the read prunes to the probed keys' buckets
    * FIRST (the bucket values land as PartitionFilters — whole directories
    * never open) and then semi-joins the exact keys; serving one entity's
    * history from a petabyte store reads one bucket.
    */
  def readScd2Store(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keyCol: String,
      tsCol: String,
      valueCols: Seq[String],
      numBuckets: Int,
      keys: Option[DataFrame] = None): DataFrame = {
    val log = FormatIO.readParquet(spark, path)
    val pruned = keys match {
      case None => log
      case Some(k) =>
        log.filter(col("bucket").isin(LatestStore.bucketSet(k, keyCol, numBuckets): _*))
          .join(k.select(col(keyCol)), Seq(keyCol), "left_semi")
    }
    scd2(pruned.drop("bucket"), keyCol, tsCol, valueCols)
  }

  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      leftIdCols: Seq[String],
      rightValueCols: Seq[String],
      direction: String = "backward",
      toleranceSeconds: Option[Long] = None,
      tieBreak: Option[String] = None): DataFrame = {
    require(direction == "backward" || direction == "forward" ||
      direction == "nearest",
      s"direction must be backward|forward|nearest (got $direction)")
    require(leftIdCols.nonEmpty, "leftIdCols must uniquely identify a left row")
    val backward = direction == "backward"
    val nearest = direction == "nearest"
    val rCols = (keys :+ rightTsCol) ++ rightValueCols ++ tieBreak.toSeq
    val r = right.select(rCols.distinct.map(c => col(c).as(s"_r_$c")): _*)
    val keyEq = keys.map(k => left(k) === r(s"_r_$k")).reduce(_ && _)
    val lUs = unix_micros(left(leftTsCol))
    val rUs = unix_micros(r(s"_r_$rightTsCol"))
    val inWindow =
      if (nearest) toleranceSeconds
        .map(t => abs(rUs - lUs) <= t * 1000000L).getOrElse(lit(true))
      else if (backward) rUs <= lUs && toleranceSeconds.map(t => rUs >= lUs - t * 1000000L)
        .getOrElse(lit(true))
      else rUs >= lUs && toleranceSeconds.map(t => rUs <= lUs + t * 1000000L)
        .getOrElse(lit(true))
    val joined = left.join(r, keyEq && inWindow, "left")
    // arg-max candidate: null when the left row matched nothing, so max()
    // skips it and the group aggregates to null (nulls-preserved LEFT shape)
    // nearest picks the smallest |Δt|, ties to the EARLIER right row (the
    // deterministic convention: a measurement is usually better explained
    // by what preceded it), then to the caller's tieBreak
    val ord = if (nearest) -abs(rUs - lUs)
      else if (backward) rUs else -rUs
    val tsTie = if (nearest) -rUs else lit(0L)
    val tie = struct(tsTie.as("_ts"),
      tieBreak.map(c => r(s"_r_$c")).getOrElse(lit(0)).as("_u"))
    // the ts column always rides as asof_<rightTsCol>; listing it again in
    // rightValueCols would mint a duplicate struct field name and make the
    // _m.v.<field> extraction ambiguous
    val valueOnly = rightValueCols.filterNot(_ == rightTsCol)
    val payload = struct(
      r(s"_r_$rightTsCol").as(s"asof_$rightTsCol") +:
        valueOnly.map(c => r(s"_r_$c").as(s"asof_$c")): _*)
    val candidate = when(rUs.isNotNull, struct(ord.as("o"), tie.as("t"), payload.as("v")))
    val carried = left.columns.filterNot(leftIdCols.contains)
      .map(c => any_value(left(c)).as(c)).toSeq
    val aggs = carried :+ max(candidate).as("_m")
    joined.groupBy(leftIdCols.map(left(_)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(left.columns.toSeq.map(col) ++
        (s"asof_$rightTsCol" +: valueOnly.map(c => s"asof_$c"))
          .map(c => col(s"_m.v.$c").as(c)): _*)
  }

  /** Interval (range-containment) join without an equality key: each `points`
    * row pairs with every `intervals` row whose half-open `[start, end)`
    * window contains its timestamp (plus optional `keys` equality). Intervals
    * with `end <= start` are dropped (empty windows).
    *
    * A naive range join plans as BroadcastNestedLoopJoin / cartesian — O(N·M)
    * comparisons, the classic 100 TB scale-killer. This operator grid-buckets
    * time instead: intervals explode into the `bucketSeconds`-wide cells they
    * overlap, points compute their single cell, and the join is a plain
    * equality hash join on (cell, keys…) with the exact containment predicate
    * as a residual filter. Each (point, interval) pair meets in exactly one
    * cell (the point's), so no dedup pass is needed. Cost scales with
    * points + intervals × cells-per-interval — pick `bucketSeconds` near the
    * typical interval length so that factor stays small.
    */
  def intervalJoin(
      points: DataFrame,
      intervals: DataFrame,
      pointTsCol: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    // fail fast on shared non-key names: the containment filter resolves
    // columns by name after the join, so a collision would either throw
    // AMBIGUOUS_REFERENCE mid-query or silently duplicate output columns
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet) -- keys.toSet
    require(overlap.isEmpty,
      s"points/intervals share non-key columns ${overlap.mkString(", ")} — rename one side")
    require(!points.columns.contains("_cell") && !intervals.columns.contains("_cell"),
      "input columns collide with intervalJoin internal _cell")
    val bUs = bucketSeconds * 1000000L
    val p = points.withColumn("_cell", floor(unix_micros(col(pointTsCol)) / bUs))
    val iv = intervals
      .filter(unix_micros(col(endCol)) > unix_micros(col(startCol)))
      .withColumn("_cell", explode(sequence(
        floor(unix_micros(col(startCol)) / bUs),
        floor((unix_micros(col(endCol)) - 1) / bUs))))
    p.join(iv, Seq("_cell") ++ keys)
      .filter(unix_micros(col(pointTsCol)) >= unix_micros(col(startCol)) &&
        unix_micros(col(pointTsCol)) < unix_micros(col(endCol)))
      .drop("_cell")
  }

  /** Interval OVERLAP join — both sides are interval tables and a pair
    * matches when the half-open windows intersect
    * (`lStart < rEnd && rStart < lEnd`, plus optional `keys` equality):
    * the "which campaigns ran while this regime was active" /
    * "which maintenance windows clipped this session" join, the two-sided
    * sibling of [[intervalJoin]] (whose left side is points).
    *
    * A naive overlap join plans as BroadcastNestedLoopJoin — O(N·M). Same
    * grid trick as [[intervalJoin]], one twist: BOTH sides explode into
    * their `bucketSeconds` cells, so an overlapping pair meets in EVERY
    * shared cell; instead of a dedup pass, the join keeps a pair only in
    * the cell of `max(lStart, rStart)` — the overlap's first instant,
    * which lies in exactly ONE cell — so each pair emits once with no
    * `distinct` over the matched stream (the cost that matters: distinct
    * would re-shuffle every matched pair on the whole row). Cost scales
    * with intervals × cells-per-interval on each side; pick
    * `bucketSeconds` near the typical interval length. Empty intervals
    * (`end <= start`) drop.
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      lStartCol: String,
      lEndCol: String,
      rStartCol: String,
      rEndCol: String,
      bucketSeconds: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val overlap = left.columns.toSet.intersect(right.columns.toSet) -- keys.toSet
    require(overlap.isEmpty,
      s"left/right share non-key columns ${overlap.mkString(", ")} — rename one side")
    require(!left.columns.contains("_cell") && !right.columns.contains("_cell"),
      "input columns collide with intervalOverlapJoin internal _cell")
    val bUs = bucketSeconds * 1000000L
    def cells(df: DataFrame, s: String, e: String): DataFrame = df
      .filter(unix_micros(col(e)) > unix_micros(col(s)))
      .withColumn("_cell", explode(sequence(
        floor(unix_micros(col(s)) / bUs),
        floor((unix_micros(col(e)) - 1) / bUs))))
    val (ls, le) = (unix_micros(col(lStartCol)), unix_micros(col(lEndCol)))
    val (rs, re) = (unix_micros(col(rStartCol)), unix_micros(col(rEndCol)))
    cells(left, lStartCol, lEndCol)
      .join(cells(right, rStartCol, rEndCol), Seq("_cell") ++ keys)
      .filter(ls < re && rs < le &&
        // emit only in the overlap's FIRST cell — each pair exactly once
        col("_cell") === floor(greatest(ls, rs) / bUs))
      .drop("_cell")
  }

  /** Interval FLATTEN (union / gaps-and-islands): collapse a per-key bag of
    * half-open intervals into the maximal DISJOINT coverage intervals —
    * "when was this machine under ANY maintenance window", "total distinct
    * time a user had ANY session open", the normalizer that turns
    * overlapping validity fragments into a clean timeline. The third member
    * of the interval family next to the point-in-interval join
    * ([[intervalJoin]]) and the two-sided overlap join
    * ([[intervalOverlapJoin]]): those ANSWER against interval tables, this
    * CANONICALIZES one.
    *
    * Half-open semantics throughout: `[a,b)` and `[b,c)` touch and merge
    * (their union `[a,c)` is contiguous — no instant in between is
    * uncovered), nested and duplicate intervals fold in, and a new island
    * starts exactly when an interval's start exceeds the running maximum of
    * every earlier end (ordered by `(start, end)` — the classic
    * gaps-and-islands rule, deterministic because rows tied on both bounds
    * are interchangeable). Output: `keys, valid_from, valid_to, n_merged`
    * (source-interval count per island). Empty intervals (`end <= start`),
    * NULL bounds, and NULL keys drop (the family policy).
    *
    * Shape at scale: ONE shuffle — the per-key window exchange. Both window
    * frames are running frames (`rowsBetween(unboundedPreceding, …)`:
    * streaming evaluation, no per-row frame rescan), and the island
    * aggregation that follows groups on `(keys, island)`, which the window's
    * `hashpartitioning(keys)` already clusters — Catalyst plans it
    * exchange-free. Cost is a sort within key partitions; per-key interval
    * counts are the skew axis (a key with millions of fragments sorts on one
    * task — upstream bucketing by coarse time is the standard relief).
    * Ungrouped (`keys = Nil`) flattens ONE global timeline on a single
    * partition — correct, and only for reference-table-sized inputs (the
    * documented trade; a corpus-wide ungrouped flatten should pre-aggregate
    * to coarse buckets first).
    */
  def flattenIntervals(
      df: DataFrame,
      startCol: String,
      endCol: String,
      keys: Seq[String] = Nil): DataFrame = {
    val internal = Seq("_s", "_e", "_new", "_island")
    require(!keys.exists(internal.contains) &&
      internal.forall(c => !df.columns.contains(c) || c == startCol || c == endCol),
      "input columns collide with flattenIntervals internals (_s/_e/_new/_island)")
    val clean = df
      .filter(keys.map(col(_).isNotNull)
        .foldLeft(col(startCol).isNotNull && col(endCol).isNotNull &&
          col(endCol) > col(startCol))(_ && _))
      .select(keys.map(col) :+ col(startCol).as("_s") :+ col(endCol).as("_e"): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_s"), col("_e"))
    val prevMax = max(col("_e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    clean
      .withColumn("_new",
        when(prevMax.isNull || col("_s") > prevMax, 1L).otherwise(0L))
      .withColumn("_island", sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys.map(col) :+ col("_island"): _*)
      .agg(min(col("_s")).as("valid_from"), max(col("_e")).as("valid_to"),
        count(lit(1)).as("n_merged"))
      .select(keys.map(col) :+ col("valid_from") :+ col("valid_to") :+
        col("n_merged"): _*)
  }

  /** Interval INTERSECTION — the fourth member of the interval algebra:
    * [[flattenIntervals]] is the per-set UNION, this is the cross-set AND
    * ("when were BOTH sensors up", "time under maintenance AND on-call",
    * the SLA-overlap question). Each side flattens to its canonical
    * disjoint coverage first, then the pairwise overlaps of two DISJOINT
    * families are themselves disjoint — so the clipped
    * `[max(starts), min(ends))` pieces ARE the canonical intersection
    * with no re-flatten pass. Output: `keys, valid_from, valid_to,
    * duration_us`, half-open semantics throughout (touching intervals
    * intersect empty and are absent). Empty/NULL intervals and NULL keys
    * drop (the family policy).
    *
    * Shape at 100 TB: two [[flattenIntervals]] window passes (one keyed
    * exchange each) + the [[intervalOverlapJoin]] grid join — both
    * flattened sides explode into `bucketSeconds` cells and pairs meet in
    * exactly the overlap's first cell, so the join is a hash join with no
    * dedup pass and never a nested loop; pick `bucketSeconds` near the
    * typical interval length.
    */
  def intersectIntervals(
      left: DataFrame,
      right: DataFrame,
      lStartCol: String,
      lEndCol: String,
      rStartCol: String,
      rEndCol: String,
      bucketSeconds: Long,
      keys: Seq[String] = Nil): DataFrame = {
    val fa = flattenIntervals(left, lStartCol, lEndCol, keys)
      .select(keys.map(col) :+ col("valid_from").as("_a_from") :+
        col("valid_to").as("_a_to"): _*)
    val fb = flattenIntervals(right, rStartCol, rEndCol, keys)
      .select(keys.map(col) :+ col("valid_from").as("_b_from") :+
        col("valid_to").as("_b_to"): _*)
    intervalOverlapJoin(fa, fb, "_a_from", "_a_to", "_b_from", "_b_to",
      bucketSeconds, keys)
      .select(keys.map(col) :+
        greatest(col("_a_from"), col("_b_from")).as("valid_from") :+
        least(col("_a_to"), col("_b_to")).as("valid_to"): _*)
      .withColumn("duration_us",
        unix_micros(col("valid_to")) - unix_micros(col("valid_from")))
  }

  /** Activity-gap report — [[graft.streaming.EventStream.sessionizeBatch]]'s
    * complement: sessions are when a key WAS active, gaps are the silences
    * worth alarming on ("sensor went dark for six hours", "no heartbeat
    * from the executor"). One row per consecutive-event pair of the same
    * key more than `minGapSeconds` apart: `(key, gap_start, gap_end,
    * gap_us)` — gap_start the last event before the silence, gap_end the
    * event that broke it. Leading/trailing silence (before a key's first
    * event / after its last) is unobservable by construction and absent.
    * Deterministic under timestamp ties: among m equal-ts rows exactly one
    * sees the prior distinct timestamp through `lag`, and every emitted
    * (prev, cur) VALUE pair is the same whichever row that is (the
    * sessionizeBatch tie argument). NULL keys/timestamps drop.
    *
    * Shape at 100 TB: one keyed window exchange (per-key sort, streaming
    * lag frame) + a scan-speed filter — per-key event counts are the
    * partition size, the [[rollingAggregate]] contract.
    */
  def activityGaps(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      minGapSeconds: Long): DataFrame = {
    require(minGapSeconds > 0, "minGapSeconds must be positive")
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_k"), unix_micros(col(tsCol)).as("_t"))
      .withColumn("_prev", lag(col("_t"), 1).over(w))
      .filter(col("_t") - col("_prev") > minGapSeconds * 1000000L)
      .select(
        col("_k").as(keyCol),
        timestamp_micros(col("_prev")).as("gap_start"),
        timestamp_micros(col("_t")).as("gap_end"),
        (col("_t") - col("_prev")).as("gap_us"))
  }

  /** Per-key inter-arrival burstiness panel — [[activityGaps]]'s
    * statistical complement: gaps report the individual silences worth
    * alarming on; THIS characterizes each key's whole arrival process in
    * one row ("is this user's traffic clock-like, Poisson-like, or
    * bursty" — the squared coefficient of variation of inter-arrival
    * times is the standard burstiness statistic: exactly periodic → 0,
    * Poisson → ~10⁶, heavy-tailed/bursty → ≫10⁶). Per key:
    * `n_events`, `n_gaps` (= n_events − 1), `span_us`, `mean_gap_us`
    * (integral `S₁ div n`), and
    * `cv2_ppm = ⌊(n·S₂ − S₁²)·10⁶ / S₁²⌋` — the variance/mean² identity
    * collapses to ONE integral division over the exact DECIMAL(38,0)
    * moment sums S₁ = Σg, S₂ = Σg² (gaps in microseconds), so the whole
    * panel is engine-replayable integer arithmetic, no float variance.
    * Deterministic under timestamp ties: consecutive differences of a
    * sorted multiset do not depend on tie order (the [[activityGaps]] /
    * sessionize argument), and S₁/S₂ are order-free sums. Single-event
    * keys read NULL mean/cv2 (no gaps); keys whose events all share one
    * timestamp read mean 0, cv2 NULL (zero mean, CV undefined). NULL
    * keys/timestamps drop.
    *
    * Overflow bound (document, don't discover): n·S₂·10⁶ < 10³⁸ holds
    * while Σg² stays under 10²⁸ — a key with a million gaps averaging
    * three hours is at ~10²⁶; astronomically longer processes overflow
    * the decimal lane to NULL, never to a wrong number.
    *
    * Shape at 100 TB: ONE keyed exchange — the per-key lag window sorts
    * within partitions and the moment aggregation clusters on the same
    * hash partitioning, so Catalyst plans no second exchange (the
    * sessionize one-exchange contract).
    */
  def interarrivalStats(
      df: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val dec = "decimal(38,0)"
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_k"), unix_micros(col(tsCol)).as("_t"))
      .withColumn("_g", col("_t") - lag(col("_t"), 1).over(w))
      .groupBy(col("_k"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("_g")).as("n_gaps"),
        (max(col("_t")) - min(col("_t"))).as("span_us"),
        sum(col("_g").cast(dec)).as("_s1"),
        sum(col("_g").cast(dec) * col("_g").cast(dec)).as("_s2"))
      .select(
        col("_k").as(keyCol),
        col("n_events"), col("n_gaps"), col("span_us"),
        when(col("n_gaps") === 0L, lit(null).cast("long"))
          .otherwise(expr("CAST(_s1 div n_gaps AS BIGINT)")).as("mean_gap_us"),
        when(col("_s1").isNull || col("_s1") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(((CAST(n_gaps AS DECIMAL(38,0)) * _s2 - _s1 * _s1) * 1000000)" +
              " div (_s1 * _s1) AS BIGINT)")).as("cv2_ppm"))
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * marketing-analytics staple completing the attribution family:
    * [[precedingJoinAgg]] counts what led up to a conversion, [[funnel]]
    * orders steps, this SPLITS each conversion's credit across its
    * preceding touches so channels can be compared on one scale. The
    * classic U-shape in the exact integral-ppm lane: a conversion with
    * one touch gives it 10^6; two touches split 500000/500000; three or
    * more give the FIRST touch `firstPpm` (default 400000), the LAST
    * `lastPpm` (default 400000), and the middle touches
    * `⌊rest/(n−2)⌋` each with the division remainder credited to the
    * first touch — so every conversion's credits sum to EXACTLY 10^6 and
    * the whole panel is engine-replayable integer arithmetic. Touches
    * rank by `(ts, touchId)` — the total order that makes first/last
    * deterministic under timestamp ties. Only touches in the half-open
    * `[conv_ts − lookback, conv_ts)` window count; conversions with no
    * touch in window surface as the channel-NULL row (distinct
    * unattributed conversions, zero credit) rather than silently
    * dropping. Touches whose channel is NULL drop before the join —
    * credit cannot attach to an unknown channel, and admitting them
    * would pollute the channel-NULL row with credited touches,
    * breaking its zero-credit contract. Output per channel:
    * `n_touches` (credited touch rows), `n_conversions` (distinct
    * conversions the channel touched), `credit_ppm` (Σ credit — divide by
    * 10^6 for "conversions attributed").
    *
    * Shape at 100 TB: one equality-key join with the time window as join
    * condition (the [[precedingJoinAgg]] shape — fan-out bounded by
    * touches-per-key-per-lookback), two window passes over the matched
    * stream partitioned by CONVERSION (rank + count share one
    * exchange+sort), and one channel-keyed aggregation. Never a window
    * over the raw fact tables.
    */
  def positionAttribution(
      conversions: DataFrame,
      touches: DataFrame,
      keys: Seq[String],
      convTsCol: String,
      convIdCol: String,
      touchTsCol: String,
      touchIdCol: String,
      channelCol: String,
      lookbackSeconds: Long,
      firstPpm: Long = 400000L,
      lastPpm: Long = 400000L): DataFrame = {
    require(lookbackSeconds > 0, "lookbackSeconds must be positive")
    require(firstPpm >= 0 && lastPpm >= 0 && firstPpm + lastPpm <= 1000000L,
      "firstPpm + lastPpm must fit inside 10^6")
    val midPool = 1000000L - firstPpm - lastPpm
    // NULL-channel touches drop up front: credit to an unknown channel is
    // meaningless, and letting them through would fold credited touches
    // into the channel-NULL output row — which is contractually the
    // ZERO-credit unattributed-conversions bucket, nothing else
    val t = touches
      .filter(col(channelCol).isNotNull)
      .select(
        (keys.map(k => col(k).as(s"_t_$k")) :+
          col(touchTsCol).as("_tts") :+ col(touchIdCol).as("_tid") :+
          col(channelCol).as("_ch")): _*)
    val c = conversions.select(keys.map(col) :+ col(convIdCol).as("_cid") :+
      col(convTsCol).as("_cts"): _*)
    val keyEq = keys.map(k => c(k) === t(s"_t_$k")).reduce(_ && _)
    val cUs = unix_micros(c("_cts"))
    val tUs = unix_micros(t("_tts"))
    val joined = c
      .join(t, keyEq && tUs < cUs && tUs >= cUs - lookbackSeconds * 1000000L,
        "left")
    val wOrd = Window.partitionBy(col("_cid"))
      .orderBy(col("_tts"), col("_tid"))
    val wAll = Window.partitionBy(col("_cid"))
    val ranked = joined
      .withColumn("_rk", when(col("_tts").isNotNull,
        row_number().over(wOrd).cast("long")))
      .withColumn("_n", count(col("_tts")).over(wAll))
    val credit = when(col("_n") === 1L, lit(1000000L))
      .when(col("_n") === 2L, lit(500000L))
      .when(col("_rk") === 1L,
        lit(firstPpm) + pmod(lit(midPool), col("_n") - 2L))
      .when(col("_rk") === col("_n"), lit(lastPpm))
      .otherwise(expr(s"CAST($midPool AS DECIMAL(38,0)) div (_n - 2)")
        .cast("long"))
    // untouched conversions surface as the channel-NULL row (their
    // n_conversions = distinct unattributed conversions, credit 0) —
    // reported, never silently dropped
    ranked
      .withColumn("_credit", when(col("_tts").isNotNull, credit))
      .groupBy(col("_ch").as("channel"))
      .agg(
        count(col("_credit")).as("n_touches"),
        count_distinct(col("_cid")).as("n_conversions"),
        coalesce(sum(col("_credit")), lit(0L)).as("credit_ppm"))
  }

  /** Time-weighted average over validity intervals — the feature-store rate
    * primitive for stepwise signals ("average balance held over January",
    * "mean regime value while the account was open"): a plain AVG over
    * observation EVENTS is wrong for a step function because it weights by
    * observation count, not by how long each value HELD. Input is an
    * interval table ([[scd2]] output shape: `key, value, from, to` with
    * NULL `to` = still current); each interval contributes its value
    * weighted by its overlap with the `[windowStartUs, windowEndUs)`
    * observation window.
    *
    * Integer-lane contract: overlaps are truncated to whole SECONDS (the
    * weight resolution — a rate's meaning never lives in sub-second
    * truncation noise, and the truncation is part of the replayable
    * contract), the integral is `Σ value·overlap_s` in int64, and the
    * average is one integral division. Overflow bound: |value| ·
    * window-seconds must fit int64 — at a 10-year window (3·10⁸ s) that
    * allows |value| up to ~3·10¹⁰, documented not discovered. Output:
    * `key, coverage_s (seconds of the window covered by any interval),
    * vt_integral (value·seconds), twa_q (integral div coverage — FLOOR
    * division, toward −∞: on a negative integral this differs from a
    * truncating `div`/`//`, so a replaying engine must use floor too)`,
    * `twa_q` NULL when nothing overlaps. Intervals are assumed DISJOINT per key (the scd2
    * contract); overlapping input double-counts honestly — run
    * [[flattenIntervals]] first if coverage is what you mean. NULL keys
    * drop.
    *
    * Shape at scale: the overlap clip is a scan-speed projection; ONE
    * keyed aggregation shuffle, map-side partials collapsing each key's
    * intervals before the wire.
    */
  def timeWeightedAverage(
      intervals: DataFrame,
      keyCol: String,
      valueCol: String,
      fromCol: String,
      toCol: String,
      windowStartUs: Long,
      windowEndUs: Long): DataFrame = {
    require(windowEndUs > windowStartUs, "window must be non-empty")
    val s = greatest(unix_micros(col(fromCol)), lit(windowStartUs))
    val e = least(coalesce(unix_micros(col(toCol)), lit(windowEndUs)),
      lit(windowEndUs))
    // (e - s) ≤ window-µs < 2^53: the double quotient is exact on whole
    // multiples and its rounding error (~1e-9 of a unit) can never cross
    // the floor boundary (granularity 1/10⁶)
    val durS = when(col(fromCol).isNotNull && e > s,
      floor((e - s) / lit(1000000L))).otherwise(lit(0L)).cast("long")
    intervals
      .filter(col(keyCol).isNotNull)
      .select(col(keyCol), col(valueCol).cast("long").as("_v"), durS.as("_d"))
      .groupBy(col(keyCol))
      .agg(sum(col("_d")).as("coverage_s"),
        sum(col("_v") * col("_d")).as("vt_integral"))
      // exact integer floor division, never through double: vt_integral can
      // legitimately exceed 2^53, where floor over the double quotient can
      // be off by one — subtract the floor-sign pmod (making the numerator
      // an exact multiple) and let integral DIV finish it in the long lane
      // (the ceilT pattern)
      .withColumn("twa_q",
        when(col("coverage_s") > 0,
          call_function("div",
            col("vt_integral") - pmod(col("vt_integral"), col("coverage_s")),
            col("coverage_s")).cast("long")))
  }

  /** Resample to a fixed time grid + TTL'd FORWARD FILL — the gap-filling
    * aligner every feature/training pipeline needs between raw events and
    * model-ready panels: per key, keep the LAST observation in each
    * `bucketSeconds` bucket, then carry it forward across the empty buckets
    * that follow, up to `maxFillBuckets` consecutive fills (the staleness
    * bound — the batch twin of the PIT join's TTL: beyond it the panel has
    * an honest HOLE rather than a stale value; the timeline also ends at
    * each key's last observation — no future is invented).
    *
    * Determinism: the per-bucket survivor is the `max(struct(ts, tieBreak?,
    * values…))` arg-max — a pure function of the rows (pass `tieBreak` when
    * same-instant duplicates are possible, the [[asofJoin]] convention;
    * without it, same-instant winners fall through to value comparison,
    * where cross-engine NULL ordering is unspecified). Output: `keys,
    * bucket_start, values…, n_obs (observations IN that bucket — 0 on
    * filled rows), is_observed (1/0)`. NULL keys/timestamps drop.
    *
    * Shape at scale: NO self-join and NO second fill pass — the survivor
    * row itself explodes across its fill span (`sequence(0, min(gap-1,
    * maxFill))`), so forward fill falls out of the explode by construction
    * (the SCD2-explode trick). Two shuffles total: the `(keys, bucket)`
    * arg-max aggregation (map-side partial combine collapses each bucket
    * before the wire) and the per-key `lead` window; fan-out is bounded by
    * `maxFillBuckets + 1` per survivor, independent of gap length — an
    * uncapped fill would explode a year-long gap into thousands of rows,
    * which is why the cap is required, not optional.
    */
  def resampleForwardFill(
      df: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      bucketSeconds: Long,
      maxFillBuckets: Long,
      keys: Seq[String] = Nil,
      tieBreak: Option[String] = None): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(maxFillBuckets >= 0, "maxFillBuckets must be >= 0")
    require(valueCols.nonEmpty, "resampleForwardFill needs value columns")
    val internal = Seq("_bucket", "_v", "_n", "_nxt", "_i")
    require(internal.forall(c => !df.columns.contains(c)),
      "input columns collide with resampleForwardFill internals")
    val bUs = bucketSeconds * 1000000L
    val clean = df.filter(keys.map(col(_).isNotNull)
      .foldLeft(col(tsCol).isNotNull)(_ && _))
    val survivorStruct = struct(
      (col(tsCol) +: tieBreak.map(col).toSeq) ++ valueCols.map(col): _*)
    val obs = clean
      .withColumn("_bucket", floor(unix_micros(col(tsCol)) / bUs).cast("long"))
      .groupBy(keys.map(col) :+ col("_bucket"): _*)
      .agg(max(survivorStruct).as("_v"), count(lit(1)).as("_n"))
      // flatten the survivor struct HERE: no nested-field extraction may
      // cross the window/explode below (Catalyst's nested-column aliasing
      // mis-prunes the extracted fields under a downstream self-joinish
      // consumer — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, seen live)
      .select(keys.map(col) ++ Seq(col("_bucket"), col("_n")) ++
        valueCols.map(c => col(s"_v.$c").as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_bucket"))
    obs
      .withColumn("_nxt", lead(col("_bucket"), 1).over(w))
      .withColumn("_i", explode(sequence(lit(0L),
        least(coalesce(col("_nxt") - col("_bucket") - 1L, lit(0L)),
          lit(maxFillBuckets)))))
      .select(keys.map(col) ++
        (timestamp_micros((col("_bucket") + col("_i")) * bUs).as("bucket_start") +:
          valueCols.map(col)) ++ Seq(
        when(col("_i") === 0L, col("_n")).otherwise(0L).as("n_obs"),
        when(col("_i") === 0L, 1L).otherwise(0L).as("is_observed")): _*)
  }

  /** Ordered funnel: for each key, the earliest strictly-increasing
    * timestamp chain through `steps` event types — `step1_ts` is the key's
    * first `steps(0)` event, `step2_ts` the first `steps(1)` event AFTER
    * `step1_ts`, and so on ("signed up, then clicked, then purchased — in
    * that order"). The population is step-1 completers; a key that stalls
    * keeps nulls from the stalled step onward (the greedy earliest chain is
    * the standard funnel definition: taking the earliest feasible event at
    * each step never forecloses a later step).
    *
    * Shape: one filtered min-aggregation per step plus a key-equality join
    * with the time predicate as join condition — every stage keys on the
    * SAME column, so after the first exchange the remaining stages reuse the
    * partitioning (no window over the full event stream, no per-key event
    * sorting). Steps are a handful; each stage's state is one row per key.
    */
  def funnel(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val first = df.filter(col(typeCol) === steps.head)
      .groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("step1_ts"))
    steps.tail.zipWithIndex.foldLeft(first) { case (acc, (step, i)) =>
      val prev = s"step${i + 1}_ts"
      val carried = (1 to i + 1).map(j => s"step${j}_ts")
      val ev = df.filter(col(typeCol) === step)
        .select(col(keyCol).as("_k"), col(tsCol).as("_t"))
      acc.join(ev, acc(keyCol) === col("_k") && col("_t") > col(prev), "left")
        .groupBy(col(keyCol) +: carried.map(col): _*)
        .agg(min(col("_t")).as(s"step${i + 2}_ts"))
    }
  }

  /** Funnel summary panel — the numbers a dashboard shows next to
    * [[funnel]]'s per-key rows: per step, how many keys completed it, and
    * between consecutive steps the EXACT lower-median time-to-convert
    * (the value at ascending rank `⌊(n−1)/2⌋+1` among completers' gaps —
    * the discrete-order-statistic lane of `Features.robustScale`, so the
    * medians are integers any engine replays; a float percentile would
    * interpolate). Returns ONE row:
    * `(n_step1…n_stepK, median_gap12_us…median_gap{K-1}{K}_us)`; a step
    * with no completers reports a NULL median.
    *
    * Shape: [[funnel]]'s per-key table (one row per step-1 completer, the
    * parallel unit) → per-gap rank windows over the COMPLETER table (not
    * the event stream) → one global 1-row aggregate. The gap rank uses
    * (gap, key) as its total order so ties split deterministically.
    */
  def funnelStats(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val f = funnel(df, keyCol, tsCol, typeCol, steps).localCheckpoint(false)
    val countAggs = (1 to steps.size).map(i =>
      count(col(s"step${i}_ts")).as(s"n_step$i"))
    val counts = f.agg(countAggs.head, countAggs.tail: _*)
    val medians = (1 until steps.size).map { i =>
      val gap = unix_micros(col(s"step${i + 1}_ts")) - unix_micros(col(s"step${i}_ts"))
      val g = f.filter(col(s"step${i + 1}_ts").isNotNull)
        .select(col(keyCol), gap.as("_fs_gap"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("_fs_gap"), col(keyCol))
      g.select(col("_fs_gap"), row_number().over(w).as("_fs_rn"),
          count(lit(1)).over().as("_fs_n"))
        .filter(col("_fs_rn") === expr("(_fs_n - 1) div 2 + 1"))
        .select(col("_fs_gap").as(s"median_gap${i}${i + 1}_us"))
    }
    // 1-row × ≤1-row attaches on a constant key (broadcast HASH join — a
    // lit(true) condition would plan the banned nested loop); left outer so
    // a gap with no completers keeps its NULL median
    medians.foldLeft(counts.withColumn("_fs_j", lit(1))) { (acc, m) =>
      acc.join(broadcast(m.withColumn("_fs_j", lit(1))), Seq("_fs_j"), "left")
    }.drop("_fs_j")
  }

  /** Cohort retention: users grouped by the week of their FIRST event (the
    * cohort), counted as active in each subsequent week they appear —
    * the `(cohort_week, weeks_since, n_users)` matrix behind every retention
    * curve. Weeks are ISO `date_trunc('week', …)` boundaries (engine-
    * portable); `weeks_since` is an exact integer in ANY session time zone
    * because it divides a CALENDAR day difference (always a multiple of 7
    * between week starts), not an epoch gap a DST hour could skew.
    *
    * Shape: first-event-per-user is a single-shuffle arg-min on the key;
    * the join back is key-equality (reusing the same partitioning), and the
    * final matrix aggregation groups on (cohort, weeks_since) — at most
    * weeks² groups. No windows over the event stream.
    */
  def cohortRetention(
      df: DataFrame,
      keyCol: String,
      tsCol: String): DataFrame = {
    val firstWeek = df.groupBy(col(keyCol))
      .agg(min(date_trunc("week", col(tsCol))).as("_cohort_week"))
    // weeks_since via CALENDAR day difference of the truncated week starts,
    // not epoch-microsecond division: week starts are exactly 7k calendar
    // days apart in ANY session time zone, but a DST transition makes the
    // epoch gap 7d±1h and a truncating microsecond division misassigns that
    // week (datediff/7 is exact everywhere, identical under UTC)
    df.select(col(keyCol), date_trunc("week", col(tsCol)).as("_act_week"))
      .join(firstWeek, Seq(keyCol))
      .groupBy(unix_micros(col("_cohort_week")).as("cohort_week_us"),
        floor(datediff(to_date(col("_act_week")), to_date(col("_cohort_week"))) / 7)
          .cast("long").as("weeks_since"))
      .agg(count_distinct(col(keyCol)).as("n_users"))
  }

  /** Cohort LTV curve — [[cohortRetention]]'s VALUE companion: retention
    * counts who comes back; this accumulates what each weekly entry
    * cohort has been worth by week w — the lifetime-value curve growth
    * analytics reads payback periods off. Per (cohort week, weeks since):
    * `n_active` (distinct keys active that week), `cohort_size` (the
    * age-0 active count — every member's first event lands there by
    * construction), the week's `value_micro` (⌊v·10⁶⌋ exact sums,
    * non-negative contract — the Lorenz/LTV lane), the running
    * `cum_value_micro`, and `cum_per_user_micro = cum div size` (the
    * per-member LTV the payback question needs). Cohort weeks follow
    * [[cohortRetention]]'s calendar discipline: `date_trunc week` +
    * `datediff/7` — exact in any session zone where an epoch division
    * misassigns DST weeks.
    *
    * Shape at 100 TB: one key-keyed exchange for the first-week window,
    * one (cohort, age) aggregation (count_distinct expands once), the
    * cumulative window rides cohort×age cardinality (weeks, not the
    * corpus — checkpointed, since the age-0 sizes read it too), sizes
    * attach as a cohort-count broadcast.
    */
  def cohortLtv(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("_k"),
        date_trunc("week", col(tsCol)).as("_w"),
        floor(col(valueCol).cast("double") * 1000000L).cast("long").as("_x"))
      .withColumn("_cw", min(col("_w")).over(Window.partitionBy(col("_k"))))
      .withColumn("_age",
        floor(datediff(to_date(col("_w")), to_date(col("_cw"))) / 7)
          .cast("long"))
    val agg = base.groupBy(col("_cw"), col("_age"))
      .agg(count_distinct(col("_k")).as("n_active"),
        sum(col("_x")).as("value_micro"))
      .localCheckpoint(false) // feeds the cum window AND the age-0 sizes
    val sizes = agg.filter(col("_age") === 0)
      .select(col("_cw"), col("n_active").as("_size"))
    agg
      .withColumn("cum_value_micro", sum(col("value_micro")).over(
        Window.partitionBy(col("_cw")).orderBy(col("_age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), Seq("_cw"))
      .select(
        unix_micros(col("_cw")).as("cohort_week_us"),
        col("_age").as("weeks_since"),
        col("n_active"),
        col("_size").as("cohort_size"),
        col("value_micro"),
        col("cum_value_micro"),
        expr("CAST(cum_value_micro AS DECIMAL(38,0)) div _size")
          .cast("long").as("cum_per_user_micro"))
  }

  /** Attribution join: for every `left` row, count and sum the `right` rows
    * with the same keys whose timestamp falls in the half-open window
    * `[left_ts - lookbackSeconds, left_ts)` — strictly before the probe row,
    * so an event never attributes to itself. Left rows with no qualifying
    * right rows survive with count 0 / sum 0 (LEFT join).
    *
    * The join is an equality join on `keys` with the temporal predicate as a
    * join condition — one shuffle per side.
    *
    * `leftIdCols` must uniquely identify a left row (an event id). The
    * re-aggregation groups by it alone — a narrow grouping key — and carries
    * the remaining left columns through with `any_value` (exact under the
    * uniqueness contract). When empty, the group-by key is EVERY left column:
    * correct only if left rows are fully distinct (duplicate rows would
    * collapse into one, counting their attribution once), and a wide left
    * schema makes the key expensive — prefer passing ids.
    */
  /** First-order event transition matrix — the Markov-chain view of the
    * event stream ("after a `view`, what comes next and how often"), the
    * aggregate behind every flow/Sankey panel and next-event model baseline.
    * Each event pairs with its key's NEXT event under the total order
    * `(tsCol, idCol)` — the id tiebreak makes simultaneous events pair
    * deterministically, so the matrix is a pure function of the data — and
    * `(from_type, to_type)` pairs aggregate to exact counts plus a
    * fixed-point row probability `p_ppm = n · 10^6 div Σ n over from_type`
    * (integer division — engine-identical, the ppm lane).
    *
    * Shape at 100 TB: ONE shuffle on the key for the successor window (the
    * per-key sort is events-per-key-bounded, the same bound that sizes every
    * per-key operator here), then an aggregation whose result is at most
    * T² rows for T event types — the per-from normalization is a window over
    * that tiny table, never over the event stream.
    */
  def transitionMatrix(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val pairs = df
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull) // a key's last event has no successor
      .groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // DECIMAL(38,0) product (the keySkewProfile discipline): n·10^6 in
    // int64 silently wraps once a (from, to) pair passes ~9.2e12 rows —
    // inside the 100 TB envelope this operator claims
    pairs.withColumn("p_ppm",
      expr("(CAST(n AS DECIMAL(38,0)) * 1000000) div sum(n) OVER (PARTITION BY from_type)")
        .cast("long"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_ppm"))
  }

  /** Top-k user journeys: each key's path is its first `maxLen` event types
    * in `(tsCol, idCol)` order joined with `>`, and the output is the `k`
    * most common paths with exact key counts — the "what do users actually
    * do" panel next to [[funnel]] (which asks about ONE prescribed path;
    * this surfaces the organic ones). Ties rank by path ascending, so the
    * selected set is a pure function of the data.
    *
    * Shape at 100 TB: one shuffle on the key (successor window + per-key
    * path assembly share it — the row_number and the grouped sort-collect
    * key on the same column), one aggregation over path strings of bounded
    * length (`maxLen` types ≤ a few hundred bytes — paths never carry
    * payloads), and the top-k plans as TakeOrderedAndProject: per-partition
    * top-k then a k-row merge, never a global sort.
    */
  def topPaths(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String,
      maxLen: Int = 8,
      k: Int = 20): DataFrame = {
    require(maxLen >= 1, "maxLen must be >= 1")
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxLen)
      .groupBy(col(keyCol))
      // ordered assembly without a second sort: collect (rn, type) structs,
      // array_sort on the leading rn, project the types back out
      .agg(array_sort(collect_list(struct(col("_rn"), col(typeCol).as("_t"))))
        .as("_steps"))
      .select(concat_ws(">", transform(col("_steps"), s => s("_t"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_keys"))
      .orderBy(col("n_keys").desc, col("path"))
      .limit(k)
  }

  def precedingJoinAgg(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      lookbackSeconds: Long,
      valueCol: String,
      leftIdCols: Seq[String] = Nil): DataFrame = {
    // prefix-rename the right side: both sides often derive from the SAME
    // table (self-attribution), where alias-based resolution is ambiguous
    val r = right.select(right.columns.toSeq.map(c => col(c).as(s"_r_$c")): _*)
    val keyEq = keys.map(k => left(k) === r(s"_r_$k")).reduce(_ && _)
    val lUs = unix_micros(left(leftTsCol))
    val rUs = unix_micros(r(s"_r_$rightTsCol"))
    val temporal = rUs >= lUs - lookbackSeconds * 1000000L && rUs < lUs
    val joined = left.join(r, keyEq && temporal, "left")
    val aggs = Seq(
      count(r(s"_r_$rightTsCol")).as("preceding_count"),
      coalesce(sum(r(s"_r_$valueCol")), lit(0L)).as("preceding_sum"))
    if (leftIdCols.nonEmpty) {
      val carried = left.columns.filterNot(leftIdCols.contains)
        .map(c => any_value(left(c)).as(c))
      joined.groupBy(leftIdCols.map(left(_)): _*)
        .agg((carried.toSeq ++ aggs).head, (carried.toSeq ++ aggs).tail: _*)
        .select((left.columns.toSeq.map(col) :+ col("preceding_count") :+
          col("preceding_sum")): _*)
    } else
      joined.groupBy(left.columns.toSeq.map(left(_)): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact DAU/WAU/MAU active-user panel — the engagement rollup every
    * product-analytics engine ships: per calendar day (UTC epoch-day
    * buckets), the count of distinct users active that day (`dau`), in the
    * trailing 7 days (`wau`), and in the trailing 30 days (`mau`), plus
    * `stickiness_ppm = ⌊dau·10^6/mau⌋` (the DAU/MAU engagement ratio).
    * Windows are inclusive-trailing: day d covers activity in
    * [d−6, d] / [d−29, d]. Exact distincts, not sketches — the panel is
    * the one place product analytics expects exact numbers. NULL
    * users/timestamps drop; emitted days run from each corpus's first
    * activity day to its last (leading days a window reaches before the
    * corpus began simply count what exists; days with zero activity in
    * the trailing 30 are absent, not zero rows).
    *
    * Shape at 100 TB: the corpus collapses FIRST to distinct (user, day)
    * pairs — one exact-distinct shuffle, the only corpus-sized exchange.
    * Each pair then fans out IN-ROW to the ≤30 cover days it supports
    * (`sequence` explode — the [[resampleForwardFill]] explode-not-
    * self-join trick: a 30-way row multiply of the PAIR table, never a
    * 30-window scan of the corpus), carrying its offset; one
    * (cover_day, user) agg keeps the minimum offset, and the day panel
    * falls out of a narrow per-day conditional count. Cost is explicit
    * and bounded: 30·|pairs| intermediate rows — linear, no window
    * functions, no self-join, and the pair table is per-user-per-day
    * (bounded by users × days, far below event volume).
    */
  def activeUsers(
      df: DataFrame,
      userCol: String,
      tsCol: String): DataFrame = {
    val usPerDay = 86400000000L
    // distinct (user, epoch-day) pairs; checkpointed — the max-day pull
    // and the cover explode both hang off it
    val pairs = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"),
        call_function("div", unix_micros(col(tsCol)), lit(usPerDay)).as("_d"))
      .distinct()
      .localCheckpoint(false)
    // the corpus's last activity day: a bounded 1-row build-time pull (the
    // rankAuc range-pull precedent) — cover days past it would report
    // partially-observed windows
    val maxRow = pairs.agg(max(col("_d"))).head
    val maxDay = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    pairs
      .select(col("_u"),
        explode(sequence(col("_d"), col("_d") + 29)).as("_cover"),
        col("_d"))
      .filter(col("_cover") <= maxDay)
      .groupBy(col("_cover"), col("_u"))
      .agg(min(col("_cover") - col("_d")).as("_off"))
      .groupBy(col("_cover"))
      .agg(
        sum(when(col("_off") === 0, 1L).otherwise(0L)).as("dau"),
        sum(when(col("_off") < 7, 1L).otherwise(0L)).as("wau"),
        count(lit(1)).as("mau"))
      .select(
        timestamp_micros(col("_cover") * usPerDay).as("day"),
        col("dau"), col("wau"), col("mau"),
        expr("(CAST(dau AS DECIMAL(38,0)) * 1000000) div mau")
          .cast("long").as("stickiness_ppm"))
  }

  /** Batch gap-based sessionization panel. Two siblings exist by design:
    * [[graft.streaming.EventStream.sessionizeBatch]] is the GraftEvent-
    * shaped streaming-parity twin (same gap cut, emits timestamps + an
    * IEEE value sum so its session SET compares against the live path);
    * THIS is the generic-schema panel form — any key/timestamp columns,
    * a 1-based session index, and an all-exact-integer panel with no
    * float column. It is also the CUT [[activityGaps]] stops short of:
    * activity gaps REPORT the silences, this op CUTS on them — a new
    * session starts wherever the key's gap to the previous event exceeds
    * `gapSeconds` — and returns one panel row per session: 1-based
    * `session_index` in time order, `session_start_us` / `session_end_us`
    * (unix micros), `duration_us`, `n_events`. All exact integers.
    *
    * Determinism under timestamp ties: the new-session flag compares
    * consecutive SORTED timestamps, and consecutive differences of a
    * sorted multiset don't depend on how equal values are ordered — so
    * session ids, panels, and indices are stable under any tie order
    * and any partitioning. NULL keys/timestamps drop.
    *
    * Shape at 100 TB: ONE key-keyed exchange carries the lag + running
    * flag-sum windows AND the (key, session) panel agg (hash partitioning
    * on the key satisfies the grouped clustering — no re-exchange); the
    * per-key window is per-key event cardinality, the classic user-
    * activity bound, never the corpus in one task.
    */
  def sessionize(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapSeconds * 1000000L
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("_k"), unix_micros(col(tsCol)).as("_t"))
      .withColumn("_new",
        when(col("_t") - lag(col("_t"), 1).over(w) > gapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("_sid", lit(1L) + sum(col("_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_k"), col("_sid"))
      .agg(min(col("_t")).as("session_start_us"),
        max(col("_t")).as("session_end_us"),
        count(lit(1)).as("n_events"))
      .select(
        col("_k").as(keyCol),
        col("_sid").as("session_index"),
        col("session_start_us"),
        col("session_end_us"),
        (col("session_end_us") - col("session_start_us")).as("duration_us"),
        col("n_events"))
  }

  /** Kaplan–Meier survival curve per group (Kaplan & Meier, JASA 53:282
    * (1958)) — the time-to-event panel retention/churn analysis needs and
    * [[cohortRetention]]'s fixed-period matrix cannot give: subjects enter
    * with a `durationCol` (time to event, in whatever unit the caller
    * buckets to) and an `eventCol` flag (true = the event happened at that
    * duration, false = right-censored: observation ended, event unseen —
    * the case naive "fraction converted by day d" silently miscounts).
    * One output row per (group, duration-with-events): `n_risk` (subjects
    * with duration ≥ t), `d` (events at t), `c` (censored at t), and the
    * product-limit estimate `survival = Π_{t_j ≤ t} (1 − d_j/n_j)`.
    *
    * Exactness: `n_risk`/`d`/`c` are exact longs from one corpus pass +
    * an exclusive-prefix window. The product has no integer form (its
    * exact value is a rational with Π n_j in the denominator), so
    * `survival` is the deterministic LEFT fold `acc·(1 − d/n)` over the
    * group's time-ordered factors — each factor one IEEE divide+subtract,
    * each step one multiply, `1.0·x = x` exactly so the seed adds no
    * error — rounded to 6. The DuckDB twin replays the identical
    * recurrence as a recursive CTE (base row = first factor, step =
    * `s·next`), so the fold is bit-reproducible across engines — the
    * operand-order discipline of [[Stats.correlations]], extended from
    * one closed-form step to an ordered recurrence.
    *
    * State contract: the fold buffers one group's DISTINCT event times
    * (collect + in-row fold) — the grouped-exact-quantiles contract:
    * per-group distinct-duration cardinality is the caller's bucketing
    * choice (days/weeks), not the corpus. NULL groups/durations/flags
    * drop; negative durations are the caller's unit bug and pass through.
    *
    * Shape at 100 TB: one corpus pass to (group, duration) event/censor
    * counts, ONE group-keyed exchange (the at-risk prefix window + the
    * time-list collect ride it), the fold and re-explode are in-row.
    */
  def kaplanMeier(
      df: DataFrame,
      groupCol: String,
      durationCol: String,
      eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("_g"),
        col(durationCol).cast("long").as("_t"))
      .agg(
        sum(when(col(eventCol).cast("boolean"), 1L).otherwise(0L)).as("_d"),
        sum(when(col(eventCol).cast("boolean"), 0L).otherwise(1L)).as("_c"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val atRisk = counts
      .withColumn("_n",
        sum(col("_d") + col("_c")).over(wAll) -
          coalesce(sum(col("_d") + col("_c")).over(w), lit(0L)))
      .filter(col("_d") > 0) // KM steps only where events happen
    atRisk
      .groupBy(col("_g"))
      .agg(array_sort(collect_list(struct(col("_t"), col("_d"), col("_c"),
        col("_n")))).as("_steps"))
      .select(col("_g"), explode(expr(
        // left fold in time order: acc.p carries the running product,
        // acc.out accumulates the emitted rows — deterministic order by
        // construction, replayed step-for-step by the oracle's
        // recursive CTE
        """aggregate(
          |  _steps,
          |  struct(CAST(1.0 AS DOUBLE) AS p,
          |    CAST(array() AS ARRAY<STRUCT<t: BIGINT, d: BIGINT,
          |      c: BIGINT, n: BIGINT, s: DOUBLE>>) AS out),
          |  (acc, x) -> struct(
          |    acc.p * (1.0 - CAST(x._d AS DOUBLE) / CAST(x._n AS DOUBLE)) AS p,
          |    array_append(acc.out, struct(x._t AS t, x._d AS d, x._c AS c,
          |      x._n AS n,
          |      acc.p * (1.0 - CAST(x._d AS DOUBLE) / CAST(x._n AS DOUBLE))
          |        AS s)) AS out),
          |  acc -> acc.out)""".stripMargin)).as("_r"))
      .select(
        col("_g").as(groupCol),
        col("_r.t").as("t"),
        col("_r.n").as("n_risk"),
        col("_r.d").as("d"),
        col("_r.c").as("c"),
        round(col("_r.s"), 6).as("survival"))
  }
}
