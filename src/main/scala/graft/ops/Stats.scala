package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Distribution statistics over grouped data. */
object Stats {

  /** Collision-free quantile column label: `p50`, `p95`, `p99_9` — the naive
    * `math.round(q*100)` maps 0.995 and 0.999 BOTH to `p100` (duplicate,
    * ambiguous columns for the canonical latency-tail request). Shared with
    * [[graft.streaming.EventStream.windowedQuantiles]].
    */
  private[graft] def quantileLabel(q: Double): String = {
    val pct = (BigDecimal(q.toString) * 100).underlying.stripTrailingZeros
    "p" + pct.toPlainString.replace('.', '_')
  }

  /** Exact per-group quantiles (linear interpolation) of `valueCol`, one
    * output column per requested quantile (`p25`, `p50`, ...), plus the group
    * row count.
    *
    * Exact `percentile` (the default, and the oracle contract) buffers each
    * group's values — fine for per-group profiling (groups are bounded:
    * languages, sources, shards). Dyadic quantiles (.25/.5/.75) over integer
    * values interpolate exactly in binary floating point, so exact results
    * are engine-reproducible bit-for-bit. For whole-corpus or huge-group
    * quantiles at 100 TB pass `approx = true`: `approx_percentile`'s
    * mergeable sketch bounds state at `accuracy`-driven size per group
    * regardless of group row count (error ≤ 1/accuracy of rank).
    */
  def groupedQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[Double],
      approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    val q =
      if (approx) approx_percentile(col(valueCol), typedLit(qs), lit(accuracy))
      else percentile(col(valueCol), typedLit(qs))
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), q.as("_q"))
    // cast keeps the schema stable across modes: exact percentile is
    // already double; approx returns the input type (no interpolation)
    val qCols = qs.zipWithIndex.map { case (q, i) =>
      element_at(col("_q"), i + 1).cast("double").as(quantileLabel(q))
    }
    agg.select(groupCols.map(col) ++ (col("n_rows") +: qCols): _*)
  }

  /** Equi-depth (quantile) binning — the decile-feature assignment operator
    * next to [[groupedQuantiles]] (which returns the quantile VALUES; this
    * assigns each ROW its quantile bucket): `bin = ntile(k)` over the total
    * order `(value, id)` within each group. The id tiebreak makes the
    * assignment a pure function of the data — equal values split between
    * adjacent buckets deterministically, across runs, partitionings, and
    * engines (bare `ntile` over a non-unique order is free to tie-break
    * arbitrarily). ntile's SQL-standard fill rule (⌈n/k⌉-sized buckets
    * first, remainder spread from bucket 1) is what DuckDB implements too,
    * so the replay is exact. NULL values are excluded — a null has no rank,
    * and binning it would put a fabricated boundary into every bucket
    * below it.
    *
    * Shape at 100 TB: one window exchange keyed on the group columns — the
    * standard per-group sort. Groups are the parallelism unit; a single
    * giant group serializes its sort, which is the documented reason the
    * histogram/quantile pair exists for the whole-corpus case.
    */
  def equiDepthBins(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol).asc, col(idCol).asc)
    df.filter(col(valueCol).isNotNull)
      .withColumn("bin", ntile(k).over(w))
  }

  /** Fixed-bin histogram of `valueCol` over `[lo, hi)`, per group: bin
    * `i` covers `[lo + i·w, lo + (i+1)·w)` with `w = (hi-lo)/nBins`;
    * out-of-range values clamp into the edge bins (so the histogram always
    * accounts for every row — the profiling contract). Only non-empty bins
    * are emitted.
    *
    * One codegen'd hash aggregation over (groups × nBins) — scan speed at
    * any scale. The bin computation is three exactly-rounded IEEE ops
    * (subtract, divide, floor), so bin assignment — and therefore the exact
    * integer counts — is engine-reproducible.
    */
  def histogram(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")
    val w = (hi - lo) / nBins
    val raw = floor((col(valueCol) - lo) / w)
    val bin = least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble)).cast("long")
    df.groupBy(groupCols.map(col) :+ bin.as("bin"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group z-score outliers: rows whose `|value - μ| > z·σ` within their
    * group, with the z-score attached. The cheap distribution-based anomaly
    * filter (spam spikes, sensor glitches, corrupt values) ahead of any
    * model-based scoring.
    *
    * Exactness contract: `valueCol` must already be an integer fixed-point
    * column (e.g. cents) — the group moments (n, Σv, Σv²) then aggregate as
    * exact integers, immune to shuffle order, and μ/σ/z derive from them via
    * a FIXED sequence of exactly-rounded double ops, so the flag decision
    * and the reported score are engine-identical. (Summing raw doubles would
    * make σ — and borderline flags — run-dependent.) Moments accumulate in
    * decimal(38, 0): v² of an int column would overflow int multiplication
    * at |v| > 46 340 and even long Σv² caps out near 10⁶ rows per group at
    * cent scale — decimal keeps the sums exact to 10³⁸. The derived
    * variance is clamped at 0 before the sqrt: catastrophic cancellation on
    * near-constant large values can land it a few ulps negative, and
    * sqrt(-ε) = NaN would pass BOTH filters under Spark's NaN-sorts-last
    * ordering — flagging the entire group instead of none of it.
    *
    * Shape: one narrow moment aggregation per group (map-side partial), then
    * the tiny stats table broadcast-joins back to the rows — the row side
    * NEVER shuffles; flagging 100 TB is one scan plus a groups-sized
    * broadcast.
    */
  def zScoreOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      z: Double): DataFrame = {
    require(z > 0, "z must be positive")
    // the moments are summed in decimal(38,0): a fractional input would be
    // silently ROUNDED there while z_score divides the raw value by the
    // rounded-moment sigma — fail fast instead of skewing mu/sigma (same
    // eager-contract discipline as packSequencesFFD's integral-id check)
    val vt = df.schema(valueCol).dataType
    val integral = vt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    require(integral, s"zScoreOutliers needs an integral valueCol " +
      s"(byte/short/int/long or decimal scale 0); '$valueCol' is $vt — " +
      "scale fractional values to fixed point first (e.g. round(v * 10000))")
    val v = col(valueCol)
    val vd = v.cast("decimal(38,0)")
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(vd).as("_s"), sum(vd * vd).as("_ss"))
      .withColumn("_mu", col("_s").cast("double") / col("_n"))
      .withColumn("_sigma",
        sqrt(greatest(
          col("_ss").cast("double") / col("_n") - col("_mu") * col("_mu"),
          lit(0.0))))
      .select(groupCols.map(c => col(c).as(s"_g_$c")) :+
        col("_mu") :+ col("_sigma"): _*)
    // null-SAFE group match: a NULL group aggregated its own moments above,
    // so its rows must find them here too (equi-join would drop them)
    val cond = groupCols.map(c => col(c) <=> col(s"_g_$c")).reduce(_ && _)
    df.join(broadcast(stats), cond)
      .withColumn("z_score", (v.cast("double") - col("_mu")) / col("_sigma"))
      .filter(col("_sigma") > 0 && abs(col("z_score")) > z)
      .drop(groupCols.map(c => s"_g_$c") ++ Seq("_mu", "_sigma"): _*)
  }

  /** Median/MAD robust outliers — [[zScoreOutliers]]' robust twin: mean and
    * standard deviation are themselves dragged by the outliers they're
    * meant to find (one 10^9 reading inflates σ until nothing else flags),
    * while the median and the median absolute deviation have a 50%
    * breakdown point. Flags rows where
    * `|v − med| · 10^6 > kPpm · mad` (default kPpm 4450000 ≈ the classic
    * 3σ-equivalent 3·1.4826); returns the flagged rows with `med_fp`,
    * `mad_fp`, and `dev_ppm = ⌊|v − med|·10^6 / mad⌋` appended. Both
    * centers are EXACT LOWER MEDIANS (rank ⌊(n+1)/2⌋ — the funnelStats
    * discipline: an order statistic, not an interpolated midpoint, so the
    * value is one the data actually contains and every engine replays it
    * bit-for-bit). A zero-MAD group (majority of values identical) flags
    * every row off its median with NULL `dev_ppm` — the standard rule:
    * against zero spread, any deviation is infinite. NULL values drop;
    * NULL groups aggregate and match null-safely (the zScoreOutliers
    * contract). `valueCol` must be integral fixed-point (same eager check).
    *
    * Shape at 100 TB: two grouped aggregations (median, then MAD of the
    * residuals) + two null-safe joins back. The medians buffer one group
    * in memory (`collect_list`, the [[groupedQuantiles]] exact-mode
    * contract) — groups are the parallelism unit; the whole-corpus case
    * belongs to the sketch ([[Sketch.quantileSketch]]).
    */
  def madOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      kPpm: Long = 4450000L): DataFrame = {
    require(kPpm > 0, "kPpm must be positive")
    val vt = df.schema(valueCol).dataType
    val integral = vt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    require(integral, s"madOutliers needs an integral valueCol " +
      s"(byte/short/int/long or decimal scale 0); '$valueCol' is $vt — " +
      "scale fractional values to fixed point first (e.g. round(v * 10000))")
    val v = col(valueCol).cast("long")
    def lowerMedian(c: org.apache.spark.sql.Column) =
      element_at(array_sort(collect_list(c)),
        ((count(c) + 1L) / 2L).cast("int"))
    val base = df.filter(col(valueCol).isNotNull).localCheckpoint(false)
    val med = base.groupBy(groupCols.map(col): _*)
      .agg(lowerMedian(v).as("med_fp"))
      .select(groupCols.map(c => col(c).as(s"_g_$c")) :+ col("med_fp"): _*)
    val cond = (s: String) =>
      groupCols.map(c => col(c) <=> col(s"$s$c")).reduce(_ && _)
    val withMed = base.join(med, cond("_g_"))
      .drop(groupCols.map(c => s"_g_$c"): _*)
      .withColumn("_adev", abs(v - col("med_fp")))
      .localCheckpoint(false) // the MAD agg and the flag pass both read it
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg(lowerMedian(col("_adev")).as("mad_fp"))
      .select(groupCols.map(c => col(c).as(s"_h_$c")) :+ col("mad_fp"): _*)
    withMed.join(mad, cond("_h_"))
      .drop(groupCols.map(c => s"_h_$c"): _*)
      .filter(
        (col("mad_fp") === 0L && col("_adev") > 0L) ||
          (col("mad_fp") > 0L &&
            col("_adev").cast("decimal(38,0)") * 1000000L >
              col("mad_fp").cast("decimal(38,0)") * kPpm))
      .withColumn("dev_ppm",
        when(col("mad_fp") > 0L,
          expr("(CAST(_adev AS DECIMAL(38,0)) * 1000000) div mad_fp")
            .cast("long")))
      .drop("_adev")
  }

  /** Crosstab counts: one row per `keyCol`, one column per `pivotValues`
    * entry with the count of matching `pivotCol` rows (0 when absent, never
    * null — downstream arithmetic shouldn't need null guards). Values are
    * passed explicitly: the two-pass `pivot(col)` value discovery is an
    * extra scan, and a data-driven column set is a schema hazard at scale.
    *
    * Deliberately NOT `Dataset.pivot`, which plans a two-phase aggregation
    * ((key, category) partial, then a second pivoting exchange): explicit
    * conditional counts aggregate map-side in ONE hash aggregation, so the
    * single exchange carries one row per key regardless of category count.
    */
  /** Pearson correlation matrix over integer-valued columns (fixed-point by
    * the caller, the family convention) — the feature-profiling pass run
    * before training ("which features are redundant"). All five moment sums
    * (n, Σx, Σx², Σxy per pair) accumulate EXACTLY as DECIMAL(38,0) in ONE
    * corpus pass — no float addition anywhere, so the sums are partitioning-
    * and engine-identical — and each pair's correlation is then a single
    * closed-form IEEE step over exact integers (decimal→double conversions,
    * one multiply, one sqrt, one divide — all correctly-rounded operations
    * on identical inputs, hence engine-identical results; rounded to 6).
    * A zero-variance column yields NULL against every partner, never a
    * NaN. Output: (col_x, col_y, n, corr), one row per unordered pair.
    *
    * Overflow bound (document, don't discover): `n · max|x|² · n` must stay
    * inside 38 digits — e.g. 1e8 rows of 1e9-scale fixed-point values peak
    * at ~1e34. Pre-scale coarser if the corpus exceeds it.
    *
    * Shape at 100 TB: ONE map-side-partial global aggregation (the only
    * exchange is the single-partition gather of per-partition partials);
    * the pair expansion is a single `inline(array(...))` projection over
    * the one aggregate row — C(k,2) struct expressions inside ONE Generate
    * node, never a union of per-pair plan branches (the retired form built
    * C(k,2) union branches: quadratic PLAN depth, and it needed an eager
    * checkpoint just to stop each branch re-running the corpus pass; one
    * consumer needs neither). Plan-size gated at k=30 by a spec.
    */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val dec = "decimal(38,0)"
    def d(c: String): Column = col(c).cast(dec)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val aggs: Seq[Column] =
      (count(lit(1)).as("_n") +:
        cols.flatMap(c => Seq(
          sum(d(c)).as(s"_s_$c"),
          sum(d(c) * d(c)).as(s"_ss_$c")))) ++
        pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"_p_${a}_${b}") }
    // spread the narrow projection first (r19): the k(k+3)/2 decimal(38,0)
    // partial sums are the whole cost of this operator, and a single-row-
    // group input would otherwise run them on one core (no-op on any
    // multi-split scan — see spread's contract)
    val g = Par.spread(df.select(cols.map(col): _*)).agg(aggs.head, aggs.tail: _*)
    val n = col("_n").cast(dec)
    val rows = pairs.map { case (a, b) =>
      val num = (n * col(s"_p_${a}_${b}") - col(s"_s_$a") * col(s"_s_$b")).cast("double")
      val va = (n * col(s"_ss_$a") - col(s"_s_$a") * col(s"_s_$a")).cast("double")
      val vb = (n * col(s"_ss_$b") - col(s"_s_$b") * col(s"_s_$b")).cast("double")
      struct(
        lit(a).as("col_x"), lit(b).as("col_y"), col("_n").as("n"),
        when(va * vb === 0.0, lit(null).cast("double"))
          .otherwise(round(num / sqrt(va * vb), 6)).as("corr"))
    }
    g.select(inline(array(rows: _*)))
  }

  /** The association family's eager input check: rank/moment operators in
    * this file take integral FIXED-POINT columns (DECIMAL(38,0) sums must
    * be exact, and a silent `cast("decimal(38,0)")` of a double would
    * round fractional values to integers — manufacturing and destroying
    * ties, exactly where a user feeding raw continuous values expects
    * ranks to "just work" because ranks are scale-free). Rejecting up
    * front is the [[trendLines]] discipline: any monotone fixed-point
    * scaling (`round(v * 10000)`) leaves Spearman's rho untouched, so the
    * caller loses nothing by scaling explicitly.
    */
  private def requireIntegralCols(
      df: DataFrame, cols: Seq[String], op: String): Unit =
    cols.foreach { c =>
      val vt = df.schema(c).dataType
      val ok = vt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case d: DecimalType => d.scale == 0
        case _ => false
      }
      require(ok, s"$op needs integral columns (byte/short/int/long or " +
        s"decimal scale 0); '$c' is $vt — scale fractional values to " +
        "fixed point first (e.g. round(v * 10000)); ranks are scale-free, " +
        "so a monotone fixed-point scaling leaves rho unchanged")
    }

  /** The value-lane type for the rank/grid machinery: native `long` when
    * every input column is a plain integer type, `decimal(38,0)` only when
    * a wide decimal input forces it. Ordering and equality are identical in
    * either lane (integers are integers), so results cannot change — but
    * the long lane keeps every exchange, sort, window and join key on
    * 8-byte inline values instead of BigDecimal-backed decimal(38,0)
    * (precision > 18 leaves Spark's compact-long decimal representation, so
    * each comparison/hash materializes a java.math.BigDecimal — measured
    * r19: spearman_pairwise 15.3 s → the decimal lane was the dominant
    * cost, with only 35 MB of shuffle). The final MOMENT sums still cast to
    * decimal(38,0) — exactness lives in the aggregation, not the keys.
    */
  private def valueLane(df: DataFrame, cols: Seq[String]): String =
    if (cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      // scale-0 decimals up to precision 18 fit losslessly in long
      // (10^18 − 1 < Long.MaxValue), so the documented fixed-point idiom
      // round(v * 10000) cast to decimal rides the fast lane too (r19
      // advisory); wider decimals keep the exact decimal(38,0) lane
      case d: DecimalType => d.scale == 0 && d.precision <= 18
      case _ => false
    })) "long" else "decimal(38,0)"

  /** Range buckets of the rank windows: at most 256, whose 255 boundaries
    * one sketch of quantile levels i/256 carries for every bucket count
    * dividing 256. 256 already turns a 10¹¹-distinct-value column into
    * ~4·10⁸-value sorts, and the offsets table stays trivially
    * broadcastable (256 rows per group).
    */
  private val rankRangeBuckets = 256

  /** The quantile levels i/256 whose sketch values are a column's 255
    * range-bucket boundaries. */
  private def rankBucketPcts: Column =
    array((1 until rankRangeBuckets).map(i => lit(i.toDouble / rankRangeBuckets)): _*)

  /** Rows per range bucket of the rank windows. */
  private val rankRowsPerBucket = 1L << 14

  /** Range buckets for an observed row count: the smallest power of two
    * leaving at most [[rankRowsPerBucket]] rows a bucket, capped at
    * [[rankRangeBuckets]]. */
  private def rankBuckets(rows: Long): Int =
    Iterator.iterate(1)(_ * 2)
      .find(b => b == rankRangeBuckets || b * rankRowsPerBucket >= rows).get

  /** Range bucket of `v` = #{boundaries strictly below `v`} among the first
    * `n` entries of the sorted array `bounds` — a BINARY-SEARCH when-tree
    * (8 comparisons per row for 255 boundaries, fully codegen'd) instead of
    * the original `aggregate` fold over all 255 elements: higher-order
    * functions run interpreted with per-element lambda binding, and the
    * fold alone measured 3.7 s of the 14 s isolated spearman_pairwise at
    * sf0.1 (255 × 1.1M distinct values). lower_bound over a sorted array
    * counts exactly #{b_i < v}, duplicates included, and the bucket only
    * shapes BALANCE anyway: any order-preserving bucketing (equal values,
    * equal bucket) yields the same ranks.
    */
  private def rangeBucket(v: Column, bounds: Column, n: Int): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo > hi) lit(0)
      else {
        val mid = (lo + hi) >>> 1
        when(v > element_at(bounds, mid), lit(mid - lo + 1) + go(mid + 1, hi))
          .otherwise(go(lo, mid - 1))
      }
    go(1, n)
  }

  /** `base` eagerly checkpointed by one job that also observes its row
    * count, one boundary sketch per `values` column and the `extra`
    * aggregates; the bucket count `buckets` gives for that row count (a
    * divisor of [[rankRangeBuckets]]); each sketch's B − 1 boundaries; and
    * the `extra` values, in order.
    */
  private def sketchedCheckpoint(
      base: DataFrame,
      values: Seq[Column],
      extra: Seq[Column],
      buckets: Long => Int): (DataFrame, Int, Seq[Seq[Double]], Row) = {
    // accuracy 2,560 = each boundary within ~1/10 of a bucket of its target
    // rank, and a sketch of a few tens of KB: every task of the checkpointed
    // plan ships one per value column to the driver
    val (ckpt, seen) = Fixpoint.observedCheckpoint(base, count(lit(1)) +:
      values.map(percentile_approx(_, rankBucketPcts, lit(10 * rankRangeBuckets))) ++:
      extra)
    val nb = buckets(seen.getLong(0))
    require(nb >= 1 && rankRangeBuckets % nb == 0,
      s"bucket count $nb must divide $rankRangeBuckets")
    // every (256/nb)-th sketch value; a column without values has no sketch
    // and no row to bucket, so any sorted stand-in serves
    val bounds = values.indices.map { c =>
      val sketch = Option(seen.getSeq[Double](c + 1))
        .getOrElse(Seq.fill(rankRangeBuckets - 1)(0.0))
      (1 until nb).map(b => sketch(b * (rankRangeBuckets / nb) - 1))
    }
    (ckpt, nb, bounds, Row.fromSeq(seen.toSeq.drop(1 + values.size)))
  }

  /** `t` with `rb`, the range bucket of its column `v` under the sorted
    * boundary array `bounds` of `nb` − 1 entries, in a projection of its
    * own: two 255-node lookup trees in one projection overflow the 64 KB
    * codegen limit. At one bucket `rb` is the constant 0 and no lookup is
    * built.
    */
  private def withRangeBucket(
      t: DataFrame, v: String, bounds: Column, nb: Int, rb: String): DataFrame =
    if (nb == 1) t.withColumn(rb, lit(0))
    else t
      .withColumn("_bnd", bounds)
      .withColumn("_vd", col(v).cast("double"))
      .withColumn(rb, rangeBucket(col("_vd"), col("_bnd"), nb - 1))
      .drop("_bnd", "_vd")

  /** The cumulative below a value, the one derivation under the rank
    * statistics: [[doubledRanks]], [[rankAuc]], [[prCurve]] and
    * [[pooledCumulativeGrid]] (which feeds [[ksTest]], [[emdDrift]] and
    * [[rankSumTest]]). `base` holds one row per distinct (group, `value`);
    * each row gains, per long weight column `w`, `w_below`: the exact Σ w
    * over its group's rows with a strictly smaller `value`. The group is
    * the `key` column, or the whole table without one.
    *
    * `base` is checkpointed eagerly (executor storage then holds one row
    * per distinct (group, value)), and that one job also reads its row
    * count, the `observe` aggregates and `value`'s boundary sketch: one
    * per known `tags` value of the key, or one pooled over all groups (no
    * key, or a data-dependent key over a shared value axis). The row count
    * sets the bucket count B by the `buckets` rule ([[rankBuckets]]: a
    * power of two, one bucket per 2¹⁴ rows, at most 256), and
    * [[rangeBucket]] maps each value to one of B order-preserving ranges at
    * the sketch's boundaries. Equal values share a bucket, so a row's
    * below is its group's weight in lower buckets (an offset, from the ≤ B
    * bucket totals per group) plus the weight below it in its own bucket
    * (a window partitioned by (group, bucket), ordered by the exact
    * value): the same exact sums under any boundaries, so the approximate
    * sketch shapes balance, never results. NaN sorts above every double,
    * as Spark orders it, and lands in the last bucket.
    *
    * Bound: the largest sort is one (group, bucket) window partition, ~1/B
    * of its group's rows but never fewer than one value's rows, which
    * cannot split across buckets; the offsets window sorts at most B rows
    * per group. At B = 1 neither lookup nor offsets is built, and the whole
    * table, so any window partition, holds at most 2¹⁴ rows: at most 2¹⁴
    * rows sort in one task.
    *
    * Returns the result, the `observe` values, and, unless B = 1, the
    * bucketing as a transform adding `_rb` from a `value` column, for a
    * caller banding the same value axis.
    */
  private def cumulativeBelow(
      base: DataFrame,
      key: Option[String],
      tags: Seq[String],
      value: String,
      weights: Seq[String],
      observe: Seq[Column] = Nil,
      buckets: Long => Int = rankBuckets)
      : (DataFrame, Row, Option[DataFrame => DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val vd = col(value).cast("double")
    val sketched = when(!isnan(vd), vd)
    val (ckpt, nb, bounds, observed) = sketchedCheckpoint(base,
      if (tags.isEmpty) Seq(sketched)
      else tags.map(t => when(col(key.get) === t, sketched)),
      observe, buckets)
    def bucketed(t: DataFrame): DataFrame = withRangeBucket(t, value,
      if (tags.isEmpty) typedLit(bounds.head)
      else element_at(typedLit(tags.zip(bounds).toMap), col(key.get)), nb, "_rb")
    val part = (key.toSeq :+ "_rb").map(col)
    val inBucket = Window.partitionBy(part: _*).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = weights.foldLeft(bucketed(ckpt))((t, w) =>
      t.withColumn(s"${w}_below", coalesce(sum(col(w)).over(inBucket), lit(0L))))
    if (nb == 1) (within, observed, None)
    else {
      val lower = Window.partitionBy(key.toSeq.map(col): _*).orderBy(col("_rb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val totals = weights.map(w => sum(col(w)).as(w))
      val offsets = bucketed(ckpt).groupBy(part: _*).agg(totals.head, totals.tail: _*)
        .select(part ++ weights.map(w =>
          coalesce(sum(col(w)).over(lower), lit(0L)).as(s"_off$w")): _*)
      val out = weights.foldLeft(within.join(broadcast(offsets), key.toSeq :+ "_rb"))(
        (t, w) => t.withColumn(s"${w}_below", col(s"${w}_below") + col(s"_off$w"))
          .drop(s"_off$w"))
      (out, observed, Some(bucketed _))
    }
  }

  /** Doubled-average-rank table for a melted `(_c, _v)` stream over the
    * columns `cols`: one row per distinct (column, value) carrying
    * `_dr = 2·(#strictly-below) + #ties + 1` — the average rank doubled so
    * ties stay integral. The count below is [[cumulativeBelow]] over the
    * per-(column, value) counts, each column with its own value sketch
    * (its bound: one range bucket of one column's distinct values per
    * sort); `buckets` is its bucket rule.
    */
  private[ops] def doubledRanks(
      melted: DataFrame,
      cols: Seq[String],
      buckets: Long => Int = rankBuckets): DataFrame = {
    val counts = melted.groupBy(col("_c"), col("_v")).agg(count(lit(1)).as("_cnt"))
    val (ranked, _, _) =
      cumulativeBelow(counts, Some("_c"), cols, "_v", Seq("_cnt"), buckets = buckets)
    ranked.select(col("_c"), col("_v"),
      (lit(2L) * col("_cnt_below") + col("_cnt") + 1L).as("_dr"))
  }

  /** Spearman rank-correlation matrix — [[correlations]]' MONOTONE twin,
    * completing the association family the way Mann–Whitney completes KS:
    * Pearson asks "do the features move together LINEARLY" and one heavy
    * tail drags it; Spearman is Pearson over RANKS, invariant to any
    * monotone rescaling and robust to outliers — the screening question
    * ("is there any monotone relationship at all") a feature-profiling
    * pass wants first. Ranks are AVERAGE ranks DOUBLED so they stay
    * integers under ties (`2·avg = 2·(#strictly-below) + #ties + 1`),
    * derived per column from a value-count table ([[doubledRanks]], whose
    * count below is [[cumulativeBelow]] and bounded by its contract) —
    * the rank of a VALUE, joined back to the rows. The moment pass and the
    * closed-form IEEE step are then EXACTLY [[correlations]] over the doubled ranks (DECIMAL(38,0)
    * sums, one correctly-rounded divide, round 6, zero-variance → NULL).
    *
    * Input columns must be integral fixed-point ([[requireIntegralCols]]
    * — a silent decimal cast of doubles would round values together,
    * manufacturing ties; ranks are scale-free, so `round(v * 10000)`
    * loses nothing).
    *
    * `idCols` is retained for interface stability but no longer
    * load-bearing (r19): ranks attach by k direct per-column value joins,
    * so no re-pivot — and therefore no row key — is needed; rows keep
    * their multiplicity regardless of key uniqueness. NULL
    * values rank nothing: a row with ANY null among `cols` drops first —
    * the listwise form keeps one n for the whole matrix, the
    * [[correlations]] shape; [[spearmanPairwise]] is the per-pair-n
    * sibling for sparse feature tables.
    *
    * Shape at 100 TB: melt in-row → per-(col, value) count agg → the
    * value-rank table (distinct-value-sized) derives its cumulative,
    * materializes once, and attaches back by k SHUFFLE_HASH joins on
    * narrow value keys (build side = the per-column slice of the rank
    * table, dimension-sized at any scale) → the single moment gather.
    */
  def spearmanCorrelations(
      df: DataFrame,
      idCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    require(idCols.nonEmpty, "idCols must name a unique row key")
    requireIntegralCols(df, cols, "spearmanCorrelations")
    val lane = valueLane(df, cols)
    // deliberately NOT spread: measured r19, the round-robin exchange after
    // the (still single-threaded) scan cost more than the parallelism it
    // bought — the melt's partial agg pipelines with the scan, and the
    // downstream chain is dimension-sized
    val complete = df
      .filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .select(cols.map(c => col(c).cast(lane).as(c)): _*)
    val melted = complete.select(
      explode(array(cols.map(c =>
        struct(lit(c).as("c"), col(c).as("v"))): _*))
        .as("_e"))
      .select(col("_e.c").as("_c"), col("_e.v").as("_v"))
    // value → doubled-rank attach: one SHUFFLE_HASH join PER COLUMN on the
    // complete frame, replacing the melt-join-repivot (r19): the retired
    // re-pivot shuffled the k·n melted table twice (rank join + the
    // _rid groupBy with a struct key) where k direct joins shuffle the
    // corpus k times by narrow value keys and need NO row key at all —
    // measured 7.9 s → 5.0 s isolated at sf0.1, and the k·n struct-keyed
    // exchanges disappear from the plan. The rank table is materialized
    // once (it feeds all k joins; exchange reuse across differently-keyed
    // branches never fired in practice) and each join's build side is the
    // dimension-sized per-column slice — SHUFFLE_HASH for the same
    // scale-stability reason spearmanPairwise states.
    val ranks = doubledRanks(melted, cols).localCheckpoint()
    val ranked = cols.foldLeft(complete) { (acc, c) =>
      acc.join(
        ranks.filter(col("_c") === c)
          .select(col("_v").as(c), col("_dr").as(s"_dr_$c"))
          .hint("SHUFFLE_HASH"),
        Seq(c))
    }.select(cols.map(c => col(s"_dr_$c").as(c)): _*)
    correlations(ranked, cols)
      .withColumnRenamed("corr", "rho")
  }

  /** Pairwise-complete Spearman — [[spearmanCorrelations]]' sparse-table
    * sibling: the listwise form drops a row for ONE null among k columns,
    * which on a sparse feature table silently shrinks every pair's n to
    * the fully-observed subset; here each pair (a, b) ranks and counts
    * over exactly the rows where BOTH a and b are non-null, so `n` is
    * per-pair and no observation is wasted. The price is the classic
    * statistics caveat (different pairs see different row subsets — the
    * matrix need not be positive semidefinite) and an O(k²) work blowup:
    * the melt carries C(k,2) entries per row, so prefer the listwise
    * form for wide dense matrices and this one for sparse/narrow ones.
    *
    * Ranks come straight off the CELL table (distinct (pair, x, y) with
    * their row count `_cw`) through windows. In a (pair, x-bucket)
    * partition ordered by x, two RANGE frames give each cell the pair's
    * rows with x' ≤ x (`cum`) and x' = x (`ties`), so its doubled average
    * x-rank is `2·(offset + cum) − ties + 1`, with `offset` the pair's rows
    * in lower x-buckets; the y side is the same over (pair, y-bucket).
    * Buckets are order-preserving value ranges ([[rangeBucket]] over a
    * quantile sketch of the column's cell values), so equal values share
    * a bucket and any boundaries give the same ranks. Offsets never reach
    * a cell: a rank is linear in its offset, so the moments first sum per
    * (pair, x-bucket, y-bucket) grid row, which then adds its offsets'
    * terms exactly (Σ cw·(e + o)² = Σ cw·e² + 2o·Σ cw·e + o²·Σ cw). The
    * per-pair DECIMAL(38,0) sums are therefore the integers
    * [[correlations]] sums over the doubled ranks, and rho is its closed
    * form on them (round 6, zero variance → NULL). Every pair emits a row:
    * a pair with zero complete rows reads n = 0 with a NULL rho, never a
    * vanished row.
    *
    * Shape at 100 TB: ONE corpus pass, the pair expand aggregating into
    * the cell table, whose eager checkpoint is the only build-time
    * barrier. That checkpoint's own job also observes the cell count,
    * which sets the bucket count B (a power of two, one bucket per 2¹⁴
    * cells, at most 256), and each column's boundary sketch. The query
    * then runs three exchanges: cells by (pair, x-bucket) for the x
    * window; by (pair, y-bucket) for the y window, a partitioning that
    * already clusters the grid aggregation; and the ≤ B² grid rows by pair
    * for the offset windows, which feed the per-pair sums in place. The
    * largest sort is one window partition: ~1/B of its pair's cells, but
    * never fewer than the cells of the pair's most frequent value on that
    * side, because one value's cells cannot split across buckets (for a
    * low-cardinality column against a continuous one, the partner's
    * distinct count per value). The offset windows, partitioned by pair
    * alone, sort at most B² = 65,536 grid rows. At B = 1 the bucket key is
    * a constant, so both sides' windows share one exchange by pair and
    * sort at most 2¹⁴ cells each.
    */
  def spearmanPairwise(df: DataFrame, cols: Seq[String]): DataFrame =
    spearmanPairwise(df, cols, rankBuckets)

  /** [[spearmanPairwise]] with the rule mapping the observed cell count to
    * the bucket count (a divisor of [[rankRangeBuckets]]) given. */
  private[ops] def spearmanPairwise(
      df: DataFrame,
      cols: Seq[String],
      buckets: Long => Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    requireIntegralCols(df, cols, "spearmanPairwise")
    val dec = "decimal(38,0)"
    val lane = valueLane(df, cols)
    // pair p ranks column xs(p) against ys(p); cells carry p, not names
    val (xs, ys) =
      (for { i <- cols.indices; j <- (i + 1) until cols.size } yield (i, j)).unzip
    // CELL TABLE (r20, the kendallTau discipline): the corpus is touched
    // ONCE — the pair expand aggregates straight into distinct (pair, vx,
    // vy) cells with their multiplicity — and every downstream step runs
    // at cell size; a fully-tied pair collapses to its grid, and map-side
    // partials absorb the hot cells before the one corpus exchange.
    val cells = df
      .select(explode(array(xs.indices.map(p =>
        struct(lit(p).as("p"), col(cols(xs(p))).cast(lane).as("x"),
          col(cols(ys(p))).cast(lane).as("y"))): _*)).as("_e"))
      .select(col("_e.p").as("_p"), col("_e.x").as("_vx"), col("_e.y").as("_vy"))
      .filter(col("_vx").isNotNull && col("_vy").isNotNull)
      .groupBy(col("_p"), col("_vx"), col("_vy"))
      .agg(count(lit(1)).as("_cw"))
    // column c's cell values, on whichever side of a pair it sits
    def valuesOf(c: Int): Column =
      when(col("_p").isin(xs.indices.filter(xs(_) == c): _*), col("_vx"))
        .when(col("_p").isin(ys.indices.filter(ys(_) == c): _*), col("_vy"))
        .cast("double")
    val (ckpt, nb, bounds, _) =
      sketchedCheckpoint(cells, cols.indices.map(valuesOf), Nil, buckets)
    def withBucket(t: DataFrame, side: Seq[Int], v: String, rb: String): DataFrame =
      withRangeBucket(t, v, element_at(typedLit(side.map(bounds)), col("_p") + 1), nb, rb)
    // doubled rank within the bucket: 2·(rows ≤ v) − (rows = v) + 1
    def withRank(t: DataFrame, v: String, rb: String, r: String): DataFrame = {
      val w = Window.partitionBy(col("_p"), col(rb)).orderBy(col(v))
      t.withColumn(r, lit(2L) *
        sum(col("_cw")).over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow)) -
        sum(col("_cw")).over(w.rangeBetween(Window.currentRow, Window.currentRow)) + 1L)
    }
    val xRanked = withRank(withBucket(ckpt, xs, "_vx", "_rbx"), "_vx", "_rbx", "_ex")
    val ranked = withRank(withBucket(xRanked, ys, "_vy", "_rby"), "_vy", "_rby", "_ey")
    val cw = col("_cw").cast(dec)
    val ex = col("_ex").cast(dec)
    val ey = col("_ey").cast(dec)
    val zero = lit(0).cast(dec)
    val grid = ranked.groupBy(col("_p"), col("_rbx"), col("_rby"))
      .agg(sum(col("_cw")).as("_gn"),
        sum(cw * ex).as("_gx"), sum(cw * ex * ex).as("_gxx"),
        sum(cw * ey).as("_gy"), sum(cw * ey * ey).as("_gyy"),
        sum(cw * ex * ey).as("_gxy"))
      // a zero grid row per pair: a pair with no complete row reads n = 0
      .unionByName(df.sparkSession.range(xs.size).select(
        col("id").cast("int").as("_p"), lit(0).as("_rbx"), lit(0).as("_rby"),
        lit(0L).as("_gn"), zero.as("_gx"), zero.as("_gxx"), zero.as("_gy"),
        zero.as("_gyy"), zero.as("_gxy")))
    // 2 · the pair's rows in lower buckets, over the pair's ≤ B² grid rows
    def offset(rb: String): Column =
      (lit(2L) * coalesce(sum(col("_gn")).over(Window.partitionBy(col("_p"))
        .orderBy(col(rb)).rangeBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .cast(dec)
    val (gn, ox, oy) = (col("_gn").cast(dec), col("_ox"), col("_oy"))
    val (gx, gy) = (col("_gx"), col("_gy"))
    val g = grid.withColumn("_ox", offset("_rbx")).withColumn("_oy", offset("_rby"))
      .groupBy(col("_p"))
      .agg(sum(col("_gn")).as("_n"),
        sum(gx + ox * gn).as("_sx"),
        sum(col("_gxx") + lit(2) * ox * gx + ox * ox * gn).as("_sxx"),
        sum(gy + oy * gn).as("_sy"),
        sum(col("_gyy") + lit(2) * oy * gy + oy * oy * gn).as("_syy"),
        sum(col("_gxy") + ox * gy + oy * gx + ox * oy * gn).as("_sxy"))
    val n = col("_n").cast(dec)
    val num = (n * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val va = (n * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val vb = (n * col("_syy") - col("_sy") * col("_sy")).cast("double")
    g.select(
      element_at(typedLit(xs.map(cols)), col("_p") + 1).as("col_x"),
      element_at(typedLit(ys.map(cols)), col("_p") + 1).as("col_y"),
      col("_n").as("n"),
      when(col("_n") === 0L || va * vb === 0.0, lit(null).cast("double"))
        .otherwise(round(num / sqrt(va * vb), 6)).as("rho"))
  }

  /** Kendall τ-b matrix — the association family's ORDINAL member,
    * completing the triple next to Pearson ([[correlations]], linear),
    * Spearman ([[spearmanCorrelations]], monotone-by-rank) and chi-square
    * ([[chiSquare]], categorical): τ counts PAIRS — of all C(n,2) row
    * pairs, how many order the two columns the same way (concordant)
    * minus how many order them oppositely (discordant), with the τ-b tie
    * correction `(C − D) / √((n₀−n₁)(n₀−n₂))` so heavily-tied
    * ordinal/bucketed columns (star ratings, quality tiers, decile bins —
    * exactly where Spearman's average ranks wash out) still read a
    * calibrated [−1, 1]. The naive computation is the O(n²) pair scan; here
    * every count derives from the CELL table (distinct value-pair counts)
    * via exact 2-D dominance sums, so the corpus is touched ONCE and all
    * pair arithmetic runs at dimension size.
    *
    * The dominance identity, per dense-grid cell (x, y) with count n_xy:
    * with `RC = Σ_{y'≤y} n_x,y'` (cum within the x row), `P = Σ_{x'≤x} RC`
    * (2-D inclusive prefix), `CC = Σ_{x'≤x} n_x',y` and
    * `XT = Σ_{x'≤x} rowtot_x'`, the strictly-below-left count is
    * `P − RC − CC + n_xy` and the below-left-above-right count is
    * `(XT − rowtot) − (P − RC)`; `C = Σ n_xy·belowleft`,
    * `D = Σ n_xy·belowright` count each pair exactly once at its
    * larger-x cell. Every quantity is an exact integer (DECIMAL(38,0)
    * products — counts never meet a float), so C, D, and all three tie
    * totals are partitioning- and engine-identical; τ-b itself is the one
    * closed-form IEEE step (two decimal→double casts, a multiply, a sqrt,
    * a divide, round 6) on identical integers — the [[correlations]]
    * discipline. A constant column (n₀ = n₁) reads NULL, never NaN; pairs
    * with zero complete rows still emit (n = 0, NULL τ). Reported counts
    * are BIGINT — exact through n ≈ 3·10⁹ rows per pair (C ≤ n²/2); the
    * internal decimal lane is exact far beyond, so widen the output type
    * before the count columns matter at larger n.
    *
    * NULL handling is PAIRWISE-complete (each pair (a, b) counts exactly
    * the rows where both are non-null — the cell table is built per pair,
    * so per-pair n is the natural contract here, matching
    * [[spearmanPairwise]]; a listwise caller pre-filters).
    *
    * Input columns must be integral fixed-point ([[requireIntegralCols]]).
    *
    * Shape at 100 TB: ONE corpus pass — the in-row C(k,2) pair-melt
    * expand into a single (pair, x, y) count aggregation (map-side
    * partials) — then everything runs on the cell table: marginals are
    * narrow re-aggregations, the dense R×C grid is the per-pair join of
    * the two marginals (the [[chiSquare]] grid idiom — absent combinations
    * materialize as zero cells because the prefix windows need every grid
    * position), the two cumulative windows partition by (pair, x) /
    * (pair, y) — C- and R-row partitions — and the final per-pair
    * aggregation is one grid-sized pass. The documented scale bound is the
    * grid: R·C cells per pair means categorical/ordinal/bucketed columns
    * (pre-bucket continuous columns through [[equiDepthBins]] — τ over a
    * monotone coarsening is τ of the buckets, the estimator's own
    * granularity trade, same remedy the Spearman scaladoc names).
    */
  def kendallTau(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    requireIntegralCols(df, cols, "kendallTau")
    val dec = "decimal(38,0)"
    val lane = valueLane(df, cols)
    val spark = df.sparkSession
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val pairRows = df
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("cx"), lit(b).as("cy"),
          col(a).cast(lane).as("vx"), col(b).cast(lane).as("vy")) }: _*))
        .as("_p"))
      .select(col("_p.cx").as("_cx"), col("_p.cy").as("_cy"),
        col("_p.vx").as("_vx"), col("_p.vy").as("_vy"))
      .filter(col("_vx").isNotNull && col("_vy").isNotNull)
    // one corpus pass; checkpointed — both marginals and the grid's left
    // join all hang off the cell table
    val cells = pairRows
      .groupBy(col("_cx"), col("_cy"), col("_vx"), col("_vy"))
      .agg(count(lit(1)).as("_o"))
      .localCheckpoint(false)
    val xm = cells.groupBy(col("_cx"), col("_cy"), col("_vx"))
      .agg(sum(col("_o")).as("_rt"))
    val ym = cells.groupBy(col("_cx"), col("_cy"), col("_vy"))
      .agg(sum(col("_o")).as("_ct"))
    // dense grid: per-pair cross of the marginals (zero cells materialize
    // — the prefix windows index every grid position), cell counts back on
    val grid = xm.join(broadcast(ym), Seq("_cx", "_cy"))
      .join(cells, Seq("_cx", "_cy", "_vx", "_vy"), "left")
      .withColumn("_nij", coalesce(col("_o"), lit(0L)))
    val wRC = Window.partitionBy(col("_cx"), col("_cy"), col("_vx"))
      .orderBy(col("_vy"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCol = Window.partitionBy(col("_cx"), col("_cy"), col("_vy"))
      .orderBy(col("_vx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dom = grid
      .withColumn("_rc", sum(col("_nij")).over(wRC))
      .withColumn("_P", sum(col("_rc")).over(wCol))
      .withColumn("_cc", sum(col("_nij")).over(wCol))
      .withColumn("_xt", sum(col("_rt")).over(wCol))
      .withColumn("_bl",
        col("_P") - col("_rc") - col("_cc") + col("_nij"))
      .withColumn("_br",
        (col("_xt") - col("_rt")) - (col("_P") - col("_rc")))
    val g = dom.groupBy(col("_cx"), col("_cy")).agg(
      sum(col("_nij")).as("_n"),
      sum(col("_nij").cast(dec) * col("_bl").cast(dec)).as("_C"),
      sum(col("_nij").cast(dec) * col("_br").cast(dec)).as("_D"),
      sum(expr(
        s"(CAST(_nij AS $dec) * (_nij - 1)) div 2")).as("_tb"))
    val tx = xm.groupBy(col("_cx"), col("_cy"))
      .agg(sum(expr(s"(CAST(_rt AS $dec) * (_rt - 1)) div 2")).as("_t1"))
    val ty = ym.groupBy(col("_cx"), col("_cy"))
      .agg(sum(expr(s"(CAST(_ct AS $dec) * (_ct - 1)) div 2")).as("_t2"))
    // pairs with zero complete rows still emit: left-join the pair list
    val allPairs = spark.range(1).select(
      explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("_cx"), lit(b).as("_cy")) }: _*)).as("_p"))
      .select(col("_p._cx").as("_cx"), col("_p._cy").as("_cy"))
    val n = col("_n").cast(dec)
    val n0 = expr(s"(CAST(_n AS $dec) * (_n - 1)) div 2")
    val d1 = (n0 - col("_t1")).cast("double")
    val d2 = (n0 - col("_t2")).cast("double")
    allPairs
      .join(g.join(tx, Seq("_cx", "_cy")).join(ty, Seq("_cx", "_cy")),
        Seq("_cx", "_cy"), "left")
      .select(
        col("_cx").as("col_x"), col("_cy").as("col_y"),
        coalesce(col("_n"), lit(0L)).cast("long").as("n"),
        coalesce(col("_C"), lit(0L)).cast("long").as("concordant"),
        coalesce(col("_D"), lit(0L)).cast("long").as("discordant"),
        coalesce(col("_t1"), lit(0L)).cast("long").as("tied_x"),
        coalesce(col("_t2"), lit(0L)).cast("long").as("tied_y"),
        coalesce(col("_tb"), lit(0L)).cast("long").as("tied_both"),
        when(coalesce(col("_n"), lit(0L)) < 2 || d1 * d2 === 0.0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("_C") - col("_D")).cast("double") / sqrt(d1 * d2), 6))
          .as("tau_b"))
  }

  /** Gini-impurity feature screen — the "which features split the target
    * best" panel a training pipeline runs BEFORE any model fitting (the
    * split criterion CART trees maximize, here as a feature-ranking
    * screen): for every feature column, the reduction in the target's
    * Gini impurity when the corpus is partitioned by that feature's
    * values. Gini is the association family's PREDICTIVE member next to
    * [[chiSquare]] (which asks "associated at all?" — a significance
    * question; this asks "how much purer do the target classes get" — an
    * effect size in class-probability space), and unlike entropy-based
    * information gain it is PURE RATIONAL ARITHMETIC in the counts — no
    * engine ever computes a log, so the whole panel stays in the exact
    * integer lane ([[benfordAudit]]'s reason for baking its constants).
    *
    * Per feature f: `gain = G(parent) − Σ_v (n_v/n)·G(child_v)` with
    * `G = 1 − Σ_c p_c²`. Quantized: per feature value
    * `a_v = ⌊Σ_c n_{v,c}²·10⁶ / n_v⌋` (the child purity mass, exact),
    * `split_gini_ppm = 10⁶ − ⌊Σ_v a_v / n⌋`,
    * `parent_gini_ppm = 10⁶ − ⌊Σ_c n_c²·10⁶ / n²⌋`, and
    * `gain_ppm = (10⁶ − split_gini_ppm) − (10⁶ − parent_gini_ppm)` —
    * every term a DECIMAL(38,0) integer, each floor < 1 ppm, so the
    * panel is within |values|+1 ppm of the real statistic and
    * bit-identical in any engine (the [[chiSquare]] quantization
    * discipline; exact while n ≤ 10¹⁶ — n²·10⁶ must fit 38 digits).
    * Floors can read an exactly-independent feature's gain as −1 ppm;
    * compare magnitudes, not sign, at the bottom of the ranking.
    *
    * Rows drop per feature where the feature OR the target is NULL (the
    * per-pair-complete contract — each feature screens on its own
    * observed rows, and its parent impurity is computed over the SAME
    * subset, so a sparse feature is not penalized for its missingness;
    * a missingness-as-signal caller fills NULLs with a sentinel value
    * first). Feature and target values compare by STRING identity — a
    * split is a partition, no arithmetic ever touches the values, so
    * any type works; pre-bucket continuous features
    * ([[equiDepthBins]]) exactly as a tree's binning would.
    *
    * Output: one row per (feature, feature value) — `n_v`,
    * `child_gini_ppm` — with the feature-level panel (`n`, `n_values`,
    * `parent_gini_ppm`, `split_gini_ppm`, `gain_ppm`) attached to every
    * row (the [[chiSquare]] cell+table shape).
    *
    * Shape at 100 TB: ONE corpus pass — the in-row k-feature melt into
    * a (feature, value, class) count aggregation (map-side partials) —
    * then everything at dimension size: the (feature, value) and
    * (feature, class) re-aggs, the per-feature scalar terms, and two
    * broadcast attaches. Nothing after the first exchange touches the
    * corpus; the documented scale bound is the cell table
    * (features × values × classes).
    */
  def giniGain(
      df: DataFrame,
      targetCol: String,
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(featureCols.distinct.size == featureCols.size,
      "feature columns must be distinct")
    require(!featureCols.contains(targetCol),
      "targetCol cannot also be a feature")
    val dec = "decimal(38,0)"
    // in-row melt: k (feature, value, class) entries per row; per-feature
    // NULL drop happens after the explode so each feature keeps its own
    // observed subset
    val cells = Par.spread(df
      .filter(col(targetCol).isNotNull)
      .select(col(targetCol).cast("string").as("_t") +:
        featureCols.map(f => col(f).cast("string").as(f)): _*))
      .select(col("_t"),
        explode(array(featureCols.map(f =>
          struct(lit(f).as("f"), col(f).as("v"))): _*))
          .as("_e"))
      .filter(col("_e.v").isNotNull)
      .groupBy(col("_e.f").as("_f"), col("_e.v").as("_v"), col("_t"))
      .agg(count(lit(1)).as("_o"))
      .localCheckpoint(false)
    // per (feature, value): n_v and the child purity mass a_v
    val byValue = cells.groupBy(col("_f"), col("_v"))
      .agg(sum(col("_o")).as("_nv"),
        sum(col("_o").cast(dec) * col("_o").cast(dec)).as("_ssq"))
      .withColumn("_av", expr(s"(_ssq * 1000000) div _nv"))
      .localCheckpoint(false) // the per-feature terms and the output share it
    // per (feature, class): n_c — the parent's class distribution over
    // the SAME per-feature-complete subset
    val byClass = cells.groupBy(col("_f"), col("_t"))
      .agg(sum(col("_o")).as("_nc"))
    val parent = byClass.groupBy(col("_f"))
      .agg(sum(col("_nc")).as("_n"),
        sum(col("_nc").cast(dec) * col("_nc").cast(dec)).as("_csq"))
      .withColumn("parent_gini_ppm",
        (lit(1000000L) - expr(
          s"(_csq * 1000000) div (CAST(_n AS $dec) * _n)")).cast("long"))
    val split = byValue.groupBy(col("_f"))
      .agg(sum(col("_av")).as("_s"), count(lit(1)).as("n_values"))
    val panel = parent.join(split, Seq("_f"))
      .withColumn("split_gini_ppm",
        (lit(1000000L) - expr(s"(_s) div (CAST(_n AS $dec))")).cast("long"))
      .withColumn("gain_ppm",
        col("parent_gini_ppm").cast("long") - col("split_gini_ppm"))
      .select(col("_f"), col("_n").as("n"), col("n_values"),
        col("parent_gini_ppm"), col("split_gini_ppm"), col("gain_ppm"))
    byValue
      .join(broadcast(panel), Seq("_f"))
      .select(
        col("_f").as("feature"), col("_v").as("feature_value"),
        col("_nv").as("n_v"),
        (lit(1000000L) - expr(s"(_ssq * 1000000) div (CAST(_nv AS $dec) * _nv)"))
          .cast("long").as("child_gini_ppm"),
        col("n"), col("n_values"),
        col("parent_gini_ppm"), col("split_gini_ppm"), col("gain_ppm"))
  }

  /** Per-group linear trend — the "which metrics are trending, and how
    * fast" panel next to [[correlations]] (which asks whether two FEATURES
    * move together; this regresses each group's value on TIME): exact OLS
    * over (t seconds, fixed-point value) with all five moment sums
    * (n, Σt, Σt², Σv, Σtv) accumulated as DECIMAL(38,0) in ONE corpus pass
    * — no float addition anywhere, partitioning- and engine-identical —
    * then the slope/intercept/R² fall out as closed-form IEEE steps over
    * exact integers (the [[correlations]] discipline: correctly-rounded
    * ops on identical inputs give engine-identical results; rounded to 6).
    * Output per group: `n`, `slope_per_day` (fixed-point units per DAY —
    * per-second slopes of daily phenomena vanish under round-6),
    * `intercept` (value at epoch-day 0 of the group's own time origin —
    * t is centered per group implicitly via the moment identities, so the
    * reported intercept is at t = 0 epoch, the standard raw-moment form),
    * `r2` (fit quality; NULL when either variance is zero — a flat line
    * through constant data explains nothing, the correlations NULL rule).
    * `valueCol` must be integral fixed-point (the family's eager check).
    *
    * Overflow bound (document, don't discover): n·max(t)² must stay inside
    * 38 digits — epoch SECONDS (~2·10⁹) allow ~10¹⁸ rows per group.
    *
    * Shape at 100 TB: ONE map-side-partial hash aggregation to a
    * group-sized moment table; everything after is a per-row projection.
    */
  def trendLines(
      df: DataFrame,
      groupCols: Seq[String],
      tsCol: String,
      valueCol: String): DataFrame = {
    val vt = df.schema(valueCol).dataType
    val integral = vt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    require(integral, s"trendLines needs an integral valueCol " +
      s"(byte/short/int/long or decimal scale 0); '$valueCol' is $vt — " +
      "scale fractional values to fixed point first (e.g. round(v * 10000))")
    val dec = "decimal(38,0)"
    val t = call_function("div", unix_micros(col(tsCol)), lit(1000000L))
      .cast(dec)
    val v = col(valueCol).cast(dec)
    val g = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("_n"),
        sum(t).as("_st"), sum(t * t).as("_stt"),
        sum(v).as("_sv"), sum(v * v).as("_svv"),
        sum(t * v).as("_stv"))
    val n = col("_n").cast(dec)
    val sxx = (n * col("_stt") - col("_st") * col("_st")).cast("double")
    val syy = (n * col("_svv") - col("_sv") * col("_sv")).cast("double")
    val sxy = (n * col("_stv") - col("_st") * col("_sv")).cast("double")
    val slope = sxy / sxx
    g.select(groupCols.map(col) :+ col("_n").as("n") :+
      when(sxx === 0.0, lit(null).cast("double"))
        .otherwise(round(slope * 86400.0, 6)).as("slope_per_day") :+
      when(sxx === 0.0, lit(null).cast("double"))
        .otherwise(round(
          (col("_sv").cast("double") - slope * col("_st").cast("double")) /
            col("_n").cast("double"), 6)).as("intercept") :+
      when(sxx * syy === 0.0, lit(null).cast("double"))
        .otherwise(round(sxy * sxy / (sxx * syy), 6)).as("r2"): _*)
  }

  /** Theil–Sen robust trend (Theil 1950 / Sen 1968) — [[trendLines]]'
    * 29%-breakdown sibling, completing the robust lane the way
    * [[madOutliers]] twins zScoreOutliers: OLS minimizes squared error,
    * so ONE corrupted bucket drags the fitted slope arbitrarily; the
    * Theil–Sen estimator is the MEDIAN of all pairwise bucket slopes and
    * ignores up to ~29% corrupted points entirely. Values bucket by
    * `bucketSeconds` into exact micro-unit sums (the [[ewmaChart]] lane),
    * then per group every bucket pair (i < j) contributes
    * `slope_ppm = trunc((x_j − x_i) · 10⁶ / (b_j − b_i))` — SIGN-SPLIT
    * truncation toward zero built explicitly from non-negative integral
    * divisions, because Spark's `div` truncates while other engines'
    * `//` floors and the two disagree on negative slopes. The reported
    * slope is the LOWER median of the sorted quantized slopes (even
    * counts take the smaller middle — deterministic, no averaging), and
    * the intercept is the lower median of `x_i − trunc(slope · b_i /10⁶)`
    * over the buckets (the standard Theil–Sen intercept, same sign-split
    * lane). Groups with a single bucket read NULL slope/intercept (no
    * pair to vote). Exact while |Δx|·10⁶ < 10³⁸ — micro sums to 10³¹,
    * far past any real series.
    *
    * Output per group: `n_buckets`, `n_pairs`,
    * `slope_ppm` (micro-units per bucket, ppm-scaled), `intercept_micro`.
    *
    * Shape at 100 TB: one corpus pass to (group, bucket) sums, ONE
    * group-keyed collect; the O(B²) pair vote runs IN-ROW over the
    * bucket array — B is bounded by time range / bucketSeconds (the
    * [[ewmaChart]] state contract), never by event volume.
    */
  def theilSen(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long): DataFrame = {
    val base = bucketSums(df, groupCol, tsCol, valueCol, bucketSeconds)
    // sign-split truncating division: trunc(num·10⁶ / den), den > 0
    def truncDivPpm(num: String, den: String): String =
      s"""CASE WHEN $num >= 0
         |  THEN CAST((CAST($num AS DECIMAL(38,0)) * 1000000) div ($den) AS BIGINT)
         |  ELSE -CAST((CAST(-($num) AS DECIMAL(38,0)) * 1000000) div ($den) AS BIGINT)
         |END""".stripMargin
    val slopesSql =
      s"""array_sort(flatten(transform(_steps, (e1, i) ->
         |  transform(slice(_steps, i + 2, size(_steps)), e2 ->
         |    ${truncDivPpm("e2._x - e1._x", "e2._b - e1._b")}))))""".stripMargin
    // trunc(slope·b / 10⁶) with the same sign split (b ≥ 0 for any
    // post-1970 bucket; pre-epoch buckets would flip den's sign — the
    // micro lattice starts at the epoch by the unix_micros contract)
    val interceptsSql =
      s"""array_sort(transform(_steps, e ->
         |  e._x - (CASE WHEN _slope >= 0
         |    THEN CAST((CAST(_slope AS DECIMAL(38,0)) * e._b) div 1000000 AS BIGINT)
         |    ELSE -CAST((CAST(-_slope AS DECIMAL(38,0)) * e._b) div 1000000 AS BIGINT)
         |  END)))""".stripMargin
    bucketSteps(base, Seq(col("_g")))
      .withColumn("_slopes", expr(slopesSql))
      .withColumn("_slope", expr(
        "CASE WHEN size(_slopes) = 0 THEN CAST(NULL AS BIGINT) ELSE " +
          "element_at(_slopes, CAST((size(_slopes) + 1) div 2 AS INT)) END"))
      .select(
        col("_g").as(groupCol),
        size(col("_steps")).as("n_buckets"),
        size(col("_slopes")).cast("long").as("n_pairs"),
        col("_slope").as("slope_ppm"),
        when(col("_slope").isNull, lit(null).cast("long"))
          .otherwise(expr(
            s"element_at($interceptsSql, CAST((size(_steps) + 1) div 2 AS INT))"))
          .as("intercept_micro"))
  }

  /** Per-group autocorrelation at chosen bucket lags — the periodicity
    * DETECTOR the drift family's periodic member ([[seasonalAnomaly]])
    * assumes an answer to: seasonalAnomaly needs the caller to KNOW the
    * period is 7 days; the ACF panel finds it (a weekly signal reads a
    * spike at lag 7, a trend reads slow decay, noise reads ~0). For each
    * group the value series buckets by `bucketSeconds` into micro-unit
    * sums, and each requested lag correlates the series with itself
    * shifted `lag` buckets — Pearson over the AVAILABLE bucket pairs
    * (missing buckets pair with nothing: the standard sample ACF on
    * irregular data; `n_pairs` rides along so a sparse estimate is
    * visibly sparse). All six moment sums accumulate as DECIMAL(38,0) in
    * one pass over the pair table ([[correlations]]' discipline — no
    * float addition), the correlation is one closed-form correctly-
    * rounded IEEE step (round-6), and zero variance on either side reads
    * NULL.
    *
    * Shape at 100 TB: one corpus pass to the (group, bucket) table
    * (map-side partials; bounded by time-range/bucketSeconds, never
    * volume), ONE self-join for ALL lags (the probe side explodes the
    * lag list in-row — |lags|·buckets rows, a dimension), one moment
    * aggregation per (group, lag).
    */
  def autocorrelation(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    // same duplicate-lag discipline as crossCorrelation: a repeated lag
    // leaves the correlation unchanged but inflates n_pairs for that lag
    val lagSet = lags.distinct
    // one corpus pass; checkpointed — both sides of the lag join read it
    val base = bucketSums(df, groupCol, tsCol, valueCol, bucketSeconds,
      stringKey = false).localCheckpoint(false)
    val dec = "decimal(38,0)"
    val probe = base
      .withColumn("_lag", explode(typedLit(lagSet.map(_.toLong))))
      .select(col("_g"), (col("_b") + col("_lag")).as("_b"),
        col("_lag"), col("_x").as("_xl"))
    val pairs = probe.join(base, Seq("_g", "_b"))
      .select(col("_g"), col("_lag"),
        col("_xl").cast(dec).as("_a"), col("_x").cast(dec).as("_c2"))
    val n = col("_n").cast(dec)
    val sxx = (n * col("_saa") - col("_sa") * col("_sa")).cast("double")
    val syy = (n * col("_scc") - col("_sc") * col("_sc")).cast("double")
    val sxy = (n * col("_sac") - col("_sa") * col("_sc")).cast("double")
    pairs
      .groupBy(col("_g"), col("_lag"))
      .agg(
        count(lit(1)).as("_n"),
        sum(col("_a")).as("_sa"), sum(col("_a") * col("_a")).as("_saa"),
        sum(col("_c2")).as("_sc"), sum(col("_c2") * col("_c2")).as("_scc"),
        sum(col("_a") * col("_c2")).as("_sac"))
      .select(
        col("_g").as(groupCol),
        col("_lag").as("lag"),
        col("_n").as("n_pairs"),
        when(sxx * syy === 0.0, lit(null).cast("double"))
          .otherwise(round(sxy / sqrt(sxx * syy), 6)).as("acf"))
  }

  /** Lagged cross-correlation between every ordered pair of series — the
    * two-series sibling of [[autocorrelation]] (which answers "does this
    * series repeat itself"; this answers the LEAD/LAG question between
    * metrics: does signup volume lead purchase volume by k days?): per
    * (series_a, series_b, lag), Pearson of a's bucket value at t against
    * b's at t+lag over the buckets where BOTH exist (`n_pairs` rides
    * along so sparse estimates are visibly sparse). a≠b ordered pairs —
    * (a,b,k) reads "a leads b by k"; the reverse direction is its own
    * row. Lag 0 is the contemporaneous correlation. The
    * [[correlations]] discipline: the ⌊v·10⁶⌋ micro-unit bucket lane,
    * six DECIMAL(38,0) moment sums, ONE correctly-rounded IEEE step per
    * output row (round 6), NULL on zero variance.
    *
    * Shape at 100 TB: one corpus pass to the (series, bucket) sums
    * (checkpointed — both join sides read it), the in-row lag explode,
    * one bucket-keyed join (series count is a DIMENSION, so per-bucket
    * fan-out is G², never data×data), one moment aggregation over
    * G²·lags keys.
    */
  def crossCorrelation(
      df: DataFrame,
      seriesCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 0), "lags must be >= 0")
    // a repeated lag would double-count every matched bucket pair in that
    // lag's (sa, sb, lag) group — ccf is invariant (all six moment sums
    // scale together) but n_pairs would read 2x the truth, so sparse
    // estimates would look denser than they are
    val lagSet = lags.distinct
    val base = bucketSums(df, seriesCol, tsCol, valueCol, bucketSeconds)
      .localCheckpoint(false)
    val dec = "decimal(38,0)"
    val probe = base
      .withColumn("_lag", explode(typedLit(lagSet.map(_.toLong))))
      .select(col("_g").as("_sa"), (col("_b") + col("_lag")).as("_b"),
        col("_lag"), col("_x").as("_xa"))
    val pairs = probe
      .join(base.select(col("_g").as("_sb"), col("_b"), col("_x")), Seq("_b"))
      .filter(col("_sa") =!= col("_sb"))
      .select(col("_sa"), col("_sb"), col("_lag"),
        col("_xa").cast(dec).as("_a"), col("_x").cast(dec).as("_c2"))
    val n = col("_n").cast(dec)
    val sxx = (n * col("_saa") - col("_sa2") * col("_sa2")).cast("double")
    val syy = (n * col("_scc") - col("_sc") * col("_sc")).cast("double")
    val sxy = (n * col("_sac") - col("_sa2") * col("_sc")).cast("double")
    pairs
      .groupBy(col("_sa"), col("_sb"), col("_lag"))
      .agg(
        count(lit(1)).as("_n"),
        sum(col("_a")).as("_sa2"), sum(col("_a") * col("_a")).as("_saa"),
        sum(col("_c2")).as("_sc"), sum(col("_c2") * col("_c2")).as("_scc"),
        sum(col("_a") * col("_c2")).as("_sac"))
      .select(
        col("_sa").as("series_a"),
        col("_sb").as("series_b"),
        col("_lag").as("lag"),
        col("_n").as("n_pairs"),
        when(sxx * syy === 0.0, lit(null).cast("double"))
          .otherwise(round(sxy / sqrt(sxx * syy), 6)).as("ccf"))
  }

  /** Benford's-law first-digit audit — the fraud/data-quality screen audit
    * tooling ships (naturally-arising multiplicative quantities follow
    * P(d) = log10(1 + 1/d); fabricated or capped numbers don't): per
    * (group, leading digit 1..9) the exact count, `obs_ppm`, and the
    * Benford expectation `exp_ppm` (the nine ⌊log10(1+1/d)·10^6⌋
    * constants — no engine computes a log), with the group-level
    * `benford_tvd_ppm = ⌊½ Σ_d |obs_ppm − exp_ppm|⌋` deviation attached
    * to every row (absent digits contribute their full expectation
    * through the dense digit grid). The first digit extracts in the pure
    * integer lane: for a positive int64 the leading decimal digit IS the
    * first character of its decimal string — no float log, identical in
    * any engine. `valueCol` must be integral fixed-point (the family
    * check); zero and NULL values drop (no leading digit), negatives
    * audit by |v| (Benford is sign-blind).
    *
    * Shape at 100 TB: ONE map-side-partial hash aggregation to the
    * (group, digit) table (≤ 9 rows per group), the dense digit grid is a
    * broadcast cross with a 9-row literal frame, and the TVD attaches by
    * a group-keyed re-agg join — nothing after the first pass touches
    * the corpus.
    */
  def benfordAudit(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val vt = df.schema(valueCol).dataType
    val integral = vt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    require(integral, s"benfordAudit needs an integral valueCol " +
      s"(byte/short/int/long or decimal scale 0); '$valueCol' is $vt — " +
      "scale fractional values to fixed point first (e.g. round(v * 10000))")
    // floor(log10(1 + 1/d) * 1e6), d = 1..9 — sums to 999995 (floor loss)
    val expPpm = Seq(301029L, 176091L, 124938L, 96910L, 79181L,
      66946L, 57991L, 51152L, 45757L)
    val digitExp = expPpm.zipWithIndex.map { case (e, i) =>
      struct(lit(i + 1L).as("digit"), lit(e).as("exp_ppm"))
    }
    // one corpus pass; checkpointed — the grid left-join and the totals
    // re-agg both hang off it
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) =!= 0)
      .groupBy(groupCols.map(col) :+
        substring(abs(col(valueCol)).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"): _*)
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val totals = counts.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("_nt"))
      .localCheckpoint(false) // the grid cross and the TVD attach share it
    // counts attach null-safely (<=>, the family convention — a NULL
    // group is a real group and its digit counts must land on its grid
    // rows, not report a phantom n=0 panel)
    val countsR = counts.select(
      groupCols.map(c => col(c).as(s"_c_$c")) :+
        col("digit").as("_c_digit") :+ col("n"): _*)
    val gridCond = (groupCols.map(c => col(c) <=> col(s"_c_$c")) :+
      (col("digit") === col("_c_digit"))).reduce(_ && _)
    val grid = totals
      .crossJoin(broadcast(
        counts.sparkSession.range(1).select(
          explode(array(digitExp: _*)).as("_e"))
          .select(col("_e.digit").as("digit"), col("_e.exp_ppm"))))
      .join(countsR, gridCond, "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .drop((groupCols.map(c => s"_c_$c") :+ "_c_digit"): _*)
      .withColumn("obs_ppm",
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000) div _nt").cast("long"))
      .localCheckpoint(false) // the TVD re-agg and the output both read it
    val tvd = grid.groupBy(groupCols.map(c => col(c).as(s"_t_$c")): _*)
      .agg((sum(abs(col("obs_ppm") - col("exp_ppm"))) / 2L).cast("long")
        .as("benford_tvd_ppm"))
    val cond = groupCols.map(c => col(c) <=> col(s"_t_$c")).reduce(_ && _)
    grid.join(broadcast(tvd), cond)
      .select(groupCols.map(col) :+ col("digit") :+ col("n") :+
        col("obs_ppm") :+ col("exp_ppm") :+ col("benford_tvd_ppm"): _*)
  }

  /** Categorical drift between two corpus snapshots — the "did the data
    * change under me" check every feature store and training pipeline runs
    * between yesterday's table and today's ([[Snapshot]] tells you WHICH
    * rows changed; this tells you whether the DISTRIBUTION did). Per column:
    * total-variation distance `TVD = ½ Σ_v |p_base(v) − p_cur(v)|`, chosen
    * over PSI/KL deliberately: TVD is a pure RATIONAL of the counts, so it
    * rides the integer-exact lane — per category the numerator
    * `|c_base·n_cur − c_cur·n_base|` accumulates as DECIMAL(38,0) with no
    * float anywhere, and the single IEEE step at the end
    * (`num / (2·n_base·n_cur)`) is engine- and partitioning-identical,
    * where PSI's log is a transcendental no two engines are guaranteed to
    * round alike. TVD ∈ [0, 1]: 0 = identical distributions, 1 = disjoint
    * supports. A category missing from one side counts at 0 (the full-outer
    * join — new and vanished categories are exactly what drift IS); NULL is
    * its own category, never a dropped row; an empty side yields NULL,
    * never a fabricated 0.
    *
    * Output: `(column, n_base, n_current, n_categories, tvd)`.
    *
    * Shape at 100 TB: each side melts to narrow (column, value) rows in-row
    * and aggregates to per-category counts (one keyed map-side-partial
    * exchange per side — category cardinality, not row count, crosses the
    * wire after the partials); the two count tables full-outer join
    * CO-PARTITIONED on (column, value) (no extra exchange), per-column
    * totals ride one window, and the final per-column rollup is
    * already-partitioned. Overflow bound: Σ|c·n| ≤ 2·n_base·n_cur < 10^38
    * for corpora to ~10^18 rows — documented, not discovered.
    */
  def categoricalDrift(
      base: DataFrame,
      current: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val dec = "decimal(38,0)"
    def melt(df: DataFrame): DataFrame = df
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        coalesce(col(c).cast("string"), lit("<null>")).as("value"))): _*)).as("cv"))
      .select(col("cv.column").as("column"), col("cv.value").as("value"))
    val cb = melt(base).groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("c_base"))
    val cc = melt(current).groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("c_cur"))
    val joined = cb.join(cc, Seq("column", "value"), "full_outer")
      .select(col("column"), col("value"),
        coalesce(col("c_base"), lit(0L)).as("c_base"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("column"))
    joined
      .withColumn("n_base", sum(col("c_base")).over(w))
      .withColumn("n_cur", sum(col("c_cur")).over(w))
      .groupBy(col("column"))
      .agg(
        max(col("n_base")).as("n_base"), // constant within the column
        max(col("n_cur")).as("n_current"),
        count(lit(1)).as("n_categories"),
        sum(abs(col("c_base").cast(dec) * col("n_cur").cast(dec) -
          col("c_cur").cast(dec) * col("n_base").cast(dec))).as("_num"))
      .withColumn("tvd",
        when(col("n_base") === 0L || col("n_current") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("_num").cast("double") /
            (lit(2.0) * col("n_base").cast("double") *
              col("n_current").cast("double")), 6)))
      .drop("_num")
  }

  /** Numeric drift between two corpus snapshots — [[categoricalDrift]]'s
    * continuous sibling, completing the drift family for the columns that
    * have no categories: each numeric column is binned with EXACTLY the
    * fixed-bin [[histogram]] arithmetic (`floor((v − lo)/w)` with
    * `w = (hi−lo)/nBins`, out-of-range values clamping into the edge bins so
    * a mass migration past either boundary still registers — three
    * exactly-rounded IEEE ops, engine-reproducible), and the bin label then
    * rides the UNCHANGED categorical TVD chain — one definition of the
    * drift arithmetic, so the two family members cannot diverge, and the
    * whole integer-exact numerator discipline is inherited rather than
    * re-implemented. NULL values stay their own category (a null-rate shift
    * IS drift); the bin spec `(column, lo, hi, nBins)` is an explicit
    * contract like the histogram's, never inferred from the data — inferred
    * bounds would make the binning (and therefore the reported drift) a
    * function of the very snapshots being compared.
    *
    * Output: `(column, n_base, n_current, n_categories, tvd)` with
    * `n_categories` = non-empty bins across both sides (≤ nBins + 1).
    *
    * Shape at 100 TB: the binning is a scan-speed in-row projection fused
    * into the melt; everything after is [[categoricalDrift]]'s plan —
    * per-side map-side-partial count exchanges sized by BIN cardinality,
    * not row count, then the co-partitioned full-outer and one window.
    */
  def numericDrift(
      base: DataFrame,
      current: DataFrame,
      specs: Seq[(String, Double, Double, Int)]): DataFrame = {
    require(specs.nonEmpty, "need at least one column spec")
    require(specs.map(_._1).distinct.size == specs.size, "columns must be distinct")
    specs.foreach { case (c, lo, hi, nBins) =>
      require(nBins > 0 && hi > lo, s"column $c: need nBins > 0 and hi > lo")
    }
    def binned(df: DataFrame): DataFrame =
      df.select(specs.map { case (c, lo, hi, nBins) =>
        val w = (hi - lo) / nBins
        val raw = floor((col(c) - lo) / w)
        // explicit null guard: Spark's greatest/least IGNORE null arguments,
        // so without it a NULL value would silently clamp into bin 0 instead
        // of surfacing as the null category
        when(col(c).isNotNull,
          least(greatest(raw, lit(0.0)), lit((nBins - 1).toDouble))
            .cast("long").cast("string")).as(c)
      }: _*)
    categoricalDrift(binned(base), binned(current), specs.map(_._1))
  }

  /** Collect a snapshot's categorical distribution into the broadcast form
    * the STREAMING drift monitor scores against
    * ([[graft.streaming.EventStream.driftMonitor]]) — the deployable twin of
    * [[categoricalDrift]]'s base side, the way `trainLmTable` deploys
    * `lmScore`'s train side. Driver bound = category cardinality across the
    * monitored columns (monitor categories, never keys).
    */
  def baselineDist(
      df: DataFrame,
      cols: Seq[String]): org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.BaselineDist] = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val melted = df
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        coalesce(col(c).cast("string"), lit("<null>")).as("value"))): _*)).as("cv"))
      .select(col("cv.column").as("column"), col("cv.value").as("value"))
    val counts = melted.groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy(_._1).map { case (c, rows) =>
      (c, rows.map(_._3).sum) }.toArray
    df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.sql.graft.BaselineDist(counts, totals))
  }

  def crosstabCounts(
      df: DataFrame,
      keyCol: String,
      pivotCol: String,
      pivotValues: Seq[String]): DataFrame = {
    require(pivotValues.nonEmpty, "pivotValues must be non-empty")
    val counts = pivotValues.map(vl =>
      count(when(col(pivotCol) === vl, 1)).as(vl))
    df.groupBy(col(keyCol)).agg(counts.head, counts.tail: _*)
  }

  /** Column profile (the `ANALYZE TABLE` analog a data engine owes its
    * users): per column — row count, null count, exact distinct count, and
    * min/max rendered as strings. One row per profiled column.
    *
    * min/max evaluate on the NATIVE type and only the result is cast to
    * string (a string-typed min over numbers would be lexicographic).
    * Callers wanting cross-engine-exact output should profile integer/string
    * columns (cast doubles to fixed-point first) — double→string rendering
    * is the one engine-dependent step.
    *
    * Shape: ONE aggregation pass computes every column's stats as one wide
    * row, then a per-row explode unpivots to (column, stats) rows.
    *
    * `approx = false` (the default, and the cross-engine-exact contract)
    * uses `count_distinct`: Catalyst plans the multi-distinct as an
    * Expand-based aggregation — each input row is replicated once per
    * profiled column, and the aggregation state holds every distinct value
    * of every column. Exact is right at audit scale; at 100 TB a 5-column
    * profile means a 6× row expansion into an aggregation whose hash table
    * is the union of all column domains — pass `approx = true` instead,
    * which swaps in `approx_count_distinct` (HyperLogLog++, `rsd` relative
    * error): no Expand node, constant-size mergeable state per column, and
    * the profile stays one map-side-combined scan whose exchange carries
    * one sketch row regardless of cardinality.
    */
  /** Per-group corpus report card — the dataset "datasheet" a platform
    * renders before training: per `groupCol` value (source, language,
    * shard), `n_docs`, `n_empty_docs` (zero tokens), `n_unique_docs`
    * (distinct normalized-content digests — exact duplicate load),
    * `n_tokens`, `n_distinct_tokens` (group vocabulary), `total_chars`,
    * and `avg_doc_tokens` (ONE IEEE division on two exact integers, the
    * topTermsPerDoc rule — engine-identical). NULL text counts as an empty
    * doc (zero tokens/chars), not a dropped row: a report that silently
    * loses rows understates exactly the corpus problems it exists to show.
    *
    * Shape at 100 TB: a doc-level projection (digest + counts — text never
    * crosses the wire) feeds one narrow group aggregation; the group
    * vocabulary is distinct (group, token) → count per group, two narrow
    * exchanges of the exploded stream — never a count_distinct whose
    * per-group state is the token set. Group cardinality is report-sized
    * (sources/languages/shards) by construction.
    */
  def corpusReport(
      df: DataFrame,
      textCol: String,
      groupCol: String): DataFrame = {
    val toks = graft.functions.tokens(col(textCol))
    val docLevel = df.select(
      col(groupCol),
      sha2(coalesce(lower(trim(col(textCol))), lit("")).cast("binary"), 256).as("_d"),
      coalesce(size(toks), lit(0)).cast("long").as("_nt"),
      coalesce(length(col(textCol)), lit(0)).cast("long").as("_nc"))
    val base = docLevel.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("_nt") === 0, 1L).otherwise(0L)).as("n_empty_docs"),
      count_distinct(col("_d")).as("n_unique_docs"),
      sum(col("_nt")).as("n_tokens"),
      sum(col("_nc")).as("total_chars"))
    // The vocab side re-aggregates under an aliased key and joins back
    // null-SAFELY (<=>): both aggregations produce a row for a NULL group
    // key, and a plain equality join would drop the vocab row on the floor
    // (NULL = NULL is not true) — reporting n_distinct_tokens = 0 for a
    // group whose other counters are non-zero.
    val vocabSize = df
      .select(col(groupCol).as("_g"), explode(toks).as("_tok"))
      .groupBy(col("_g"), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_g")).agg(count(lit(1)).as("n_distinct_tokens"))
    base.join(vocabSize, col(groupCol) <=> col("_g"), "left")
      .select(col(groupCol), col("n_docs"), col("n_empty_docs"),
        col("n_unique_docs"), col("n_tokens"),
        coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
        col("total_chars"),
        (col("n_tokens").cast("double") / col("n_docs")).as("avg_doc_tokens"))
  }

  /** Exact rank AUC (Mann–Whitney U) of an integer score against a boolean
    * label — "does this quality/importance score actually separate the
    * positives?", the evaluation metric for every filter and selection
    * scorer in this engine, computed ENTIRELY in the integer lane:
    * with tied scores taking their average rank, twice a score group's
    * average rank is the integer `2·cum_below + cnt + 1`, so
    *
    *   auc_q = (Σ_pos 2·avgrank − 2·P·(P+1)/2) · 2^20 div (2·P·N)
    *         = (Σ_pos (2·cum_below + cnt + 1) − P·(P+1)) · 2^20 div (2·P·N)
    *
    * — every term an exact int64/decimal, ONE integral division, so the
    * value replays bit-identically in any engine (a float rank-sum would
    * drift in shuffle order). Returns one row
    * `(n_pos, n_neg, auc_q)` with `auc_q` in 2^20 fixed point
    * (524288 = 0.5 = no separation); NULL when either class is empty
    * (AUC of a one-class sample is undefined, not 0.5). NULL scores and
    * NULL labels drop — an unscored row has no rank.
    *
    * Shape at 100 TB: one aggregation on the score (map-side partials) to
    * the distinct-score table, whose count below each score is
    * [[cumulativeBelow]] (no key; its contract bounds every sort), then a
    * 1-row rollup. The cumulative is exact, so auc_q is bit-identical to
    * the single-window formulation. `scoreCol` must be numeric (it is cast
    * to double only to pick a bucket; ranking compares the exact original
    * values; NaN ranks above every double). Overflow: Σ_pos avgrank ≤
    * P·(P+N) — DECIMAL(38,0) keeps it exact past 10^18 rows.
    */
  def rankAuc(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("_s"))
      .agg(count(lit(1)).as("_cnt"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("_pos"))
    val (ranked, _, _) = cumulativeBelow(base, None, Nil, "_s", Seq("_cnt"))
    ranked
      .agg(
        sum(col("_pos")).as("n_pos"),
        sum(col("_cnt") - col("_pos")).as("n_neg"),
        sum(col("_pos").cast("decimal(38,0)") *
          (lit(2) * col("_cnt_below") + col("_cnt") + lit(1))).as("_r2"))
      .select(
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        when(col("n_pos").isNull || col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """((_r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1048576)
              | div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)""".stripMargin)
            .cast("long")).as("auc_q"))
  }

  /** Join-key skew profile — the diagnostic that decides between a plain
    * shuffle join, AQE skew splitting, and [[Skew.saltedJoin]] BEFORE the
    * join runs: the `k` heaviest keys with exact counts, each key's corpus
    * share, and its heaviness relative to the MEAN key,
    *
    *   share_ppm = n_key · 10^6 div N
    *   skew_x_ppm = n_key · n_keys · 10^6 div N   (10^6 = exactly average)
    *
    * — both integral (the ppm lane), so the profile replays engine-exact.
    * A `skew_x_ppm` in the tens of millions on a top key is the "one task
    * gets 10× the mean partition" signature that motivates salting; NULL
    * keys profile like any other key (they hash to one partition too — the
    * classic silent skew).
    *
    * Shape at 100 TB: one exchange for the per-key counts; the top-k is
    * TakeOrderedAndProject over the count table and the (N, n_keys) totals
    * re-aggregate the SAME count table — key-table-sized work after the
    * single corpus pass, with the counts checkpointed so the two consumers
    * don't re-scan the corpus. Ties rank by key string ascending.
    */
  def keySkewProfile(
      df: DataFrame,
      keyCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val counts = df
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = counts.agg(
      coalesce(sum(col("n")), lit(0L)).as("_nr"),
      count(lit(1)).as("_nk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("key"))
    counts
      .orderBy(col("n").desc, col("key")).limit(k)
      .crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w))
      // DECIMAL(38,0) products: n·n_keys·10^6 overflows int64 once the
      // corpus passes ~10^12 rows over ~10^9 keys — exactly the regime the
      // profiler exists for
      .select(col("rank"), col("key"), col("n"),
        expr("(CAST(n AS DECIMAL(38,0)) * 1000000) div _nr")
          .cast("long").as("share_ppm"),
        expr("(CAST(n AS DECIMAL(38,0)) * _nk * 1000000) div _nr")
          .cast("long").as("skew_x_ppm"))
  }

  def profile(
      df: DataFrame,
      cols: Seq[String],
      approx: Boolean = false,
      rsd: Double = 0.02): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = count(lit(1)).as("_n") +: cols.flatMap { c =>
      val dist =
        if (approx) approx_count_distinct(col(c), rsd) else count_distinct(col(c))
      Seq(
        count(when(col(c).isNull, 1)).as(s"_null_$c"),
        dist.as(s"_dist_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c => struct(
      lit(c).as("column"), col("_n").as("n_rows"),
      col(s"_null_$c").as("n_null"), col(s"_dist_$c").as("n_distinct"),
      col(s"_min_$c").as("min_s"), col(s"_max_$c").as("max_s")))
    wide.select(explode(array(entries: _*)).as("_e")).select(col("_e.*"))
  }

  /** Shared by [[ksTest]], [[emdDrift]] and [[rankSumTest]]: the
    * pooled-distinct-value cumulative grid — one corpus pass to (group,
    * value) counts, the dense V×G grid (a group with no mass at a pooled
    * value still carries its last cumulative there), and each group's
    * cumulative over it ([[cumulativeBelow]], keyed by the group over the
    * pooled value axis; its contract bounds every sort). Returns cum
    * `(_g,_v,_c,_f)` (the dense per-value count rides along for callers
    * needing point mass, not just the cumulative: [[rankSumTest]]'s U and
    * tie terms), totals `(_g,_n)`, vals `(_v)` (checkpointed: the callers'
    * gap/grid stages re-read it), and the grid's bucketing of a `_v`
    * column unless it has one bucket.
    */
  private def pooledCumulativeGrid(
      df: DataFrame,
      groupCol: String,
      valueCol: String)
      : (DataFrame, DataFrame, DataFrame, Option[DataFrame => DataFrame]) = {
    // one corpus pass; checkpointed — totals, the value grid, and the
    // count join all hang off it
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint(false)
    val totals = base.groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n")).localCheckpoint(false)
    val vals = base.select(col("_v")).distinct().localCheckpoint(false)
    val grid = vals.crossJoin(broadcast(totals.select(col("_g"))))
    val counts = grid.join(base, Seq("_g", "_v"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val (below, _, buckets) = cumulativeBelow(counts, Some("_g"), Nil, "_v", Seq("_c"))
    // checkpointed: BOTH callers self-join the grid (the a/b pair sides),
    // and without the boundary the cumulative runs once per side
    val cum = below
      .select(col("_g"), col("_v"), col("_c"), (col("_c_below") + col("_c")).as("_f"))
      .localCheckpoint(false)
    (cum, totals, vals, buckets)
  }

  /** The V·G²/2 pair grid of cross-scaled cumulative differences shared by
    * the grid statistics: one row per (value, group pair) with
    * `_d = |F̂_a(v)·n_b − F̂_b(v)·n_a|` exact in DECIMAL(38,0).
    */
  private def pairDiffGrid(cum: DataFrame, totals: DataFrame): DataFrame = {
    val a = cum.select(col("_v"), col("_g").as("group_a"), col("_f").as("_fa"))
    val b = cum.select(col("_v"), col("_g").as("group_b"), col("_f").as("_fb"))
    val ta = totals.select(col("_g").as("group_a"), col("_n").as("n_a"))
    val tb = totals.select(col("_g").as("group_b"), col("_n").as("n_b"))
    a.join(b, Seq("_v")).filter(col("group_a") < col("group_b"))
      .join(broadcast(ta), Seq("group_a"))
      .join(broadcast(tb), Seq("group_b"))
      .withColumn("_d",
        abs(col("_fa").cast("decimal(38,0)") * col("n_b") -
          col("_fb").cast("decimal(38,0)") * col("n_a")))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic for EVERY group pair of
    * one group column — the drift family's exact member: categoricalDrift/
    * numericDrift (rows 142/146) compare binned shapes, while KS is the
    * classic distribution-equality statistic D = sup_v |F_a(v) − F_b(v)|,
    * and the supremum over all reals is attained at pooled sample values,
    * so it is computable EXACTLY with no binning approximation in the
    * integer lane: D's numerator is max over pooled distinct values of
    * |F̂_a(v)·n_b − F̂_b(v)·n_a| (cumulative COUNTS cross-scaled — every
    * quantity a bigint), reported with `ks_ppm = ⌊d_num·10^6/(n_a·n_b)⌋`
    * and `d_at`, the smallest value attaining the max (where the
    * distributions diverge most — the actionable bit of a drift alarm).
    *
    * NULL groups/values drop. `valueCol` must be numeric and NaN-free
    * (NaN has engine-specific sort position: Spark orders it above every
    * double, but cross-engine ORDER BY differs).
    *
    * Scale shape: one corpus pass builds the (group, value) count table
    * (map-side combine); everything after runs on distinct-value
    * cardinality V × group count G. The per-group cumulative is
    * [[pooledCumulativeGrid]]'s ([[cumulativeBelow]] bounds its sorts).
    * The pair stage joins the cumulative grid to itself on
    * the value key (V·G²/2 rows — G is a dimension, never the corpus) and
    * reduces to one row per pair; the G-row group list rides a broadcast
    * nested-loop onto the value grid (the text_langid_model k-row
    * scalar-attach idiom). d_num ≤ n_a·n_b stays exact in DECIMAL(38,0)
    * and fits the emitted long for any two groups under ~3·10^9 rows
    * each.
    */
  def ksTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val (cum, totals, _, _) = pooledCumulativeGrid(df, groupCol, valueCol)
    // pair stage: cross-scaled cumulative difference per pooled value;
    // checkpointed — the max pass and the argmin pass both read it
    val pv = pairDiffGrid(cum, totals).localCheckpoint(false)
    val dmax = pv.groupBy(col("group_a"), col("group_b"))
      .agg(max(col("_d")).as("_dmax"))
    pv.join(broadcast(dmax), Seq("group_a", "group_b"))
      .filter(col("_d") === col("_dmax"))
      .groupBy(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("_dmax"))
      .agg(min(col("_v")).as("d_at"))
      .select(
        col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("_dmax").cast("long").as("d_num"),
        expr("(CAST(_dmax AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b)").cast("long").as("ks_ppm"),
        col("d_at"))
  }

  /** Exact 1-Wasserstein (earth-mover's) distance for EVERY group pair —
    * the drift family's TRANSPORT member next to [[ksTest]]: KS reads the
    * single worst CDF gap (a sup-norm — one sharp localized shift can
    * dominate it while a broad small shift hides), W₁ integrates the gap
    * over the value axis, `W₁ = ∫ |F_a(v) − F_b(v)| dv` — the "how much
    * mass moved how far" number ML monitoring actually wants. Between
    * empirical distributions the integrand is a step function constant
    * between consecutive pooled distinct values, so the integral computes
    * EXACTLY as `Σ_i |F̂_a(v_i)·n_b − F̂_b(v_i)·n_a| · gap_i` with
    * `gap_i = ⌊v_{i+1}·10^6⌋ − ⌊v_i·10^6⌋` (the micro-unit value lattice —
    * values closer than 10⁻⁶ contribute zero width, the documented
    * quantization), every term a DECIMAL(38,0) integer. Reported:
    * `emd_micro = ⌊Σ / (n_a·n_b)⌋` — the distance in micro-units of the
    * value axis. NULL groups/values drop.
    *
    * Shape at 100 TB: the [[pooledCumulativeGrid]] machinery (one corpus
    * pass, the [[cumulativeBelow]] cumulative); the value-gap table takes
    * the SAME range buckets (within-bucket lead windows + each bucket's
    * closing gap from the ≤ B-row per-bucket head table — never one global
    * lead window); the pair stage is one aggregation over the V·G²/2 diff
    * grid. Overflow bound: Σ |ΔF|·gap ≤
    * n_a·n_b·range_micro — at 10⁹ rows/group and a 10⁶-unit range that is
    * 10²⁴, inside 38 digits.
    */
  def emdDrift(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cum, totals, vals, buckets) = pooledCumulativeGrid(df, groupCol, valueCol)
    // value gaps on the micro lattice, in the grid's own range buckets:
    // lead within each bucket, and each bucket's LAST value closes against
    // the next bucket's head from a ≤ B-row broadcast table; one bucket
    // (≤ 2¹⁴ grid rows) is one lead window
    val next = buckets.fold(
      vals.withColumn("_next", lead(col("_v"), 1).over(Window.orderBy(col("_v"))))) { b =>
      val banded = b(vals)
      val heads = banded.groupBy(col("_rb")).agg(min(col("_v")).as("_head"))
        .withColumn("_nexthead",
          lead(col("_head"), 1).over(Window.orderBy(col("_rb"))))
        .select(col("_rb"), col("_nexthead"))
      val wLead = Window.partitionBy(col("_rb")).orderBy(col("_v"))
      banded
        .withColumn("_nv", lead(col("_v"), 1).over(wLead))
        .join(broadcast(heads), Seq("_rb"))
        .withColumn("_next", coalesce(col("_nv"), col("_nexthead")))
    }
    val gaps = next
      .select(col("_v"),
        when(col("_next").isNotNull,
          floor(col("_next") * 1000000L).cast("decimal(38,0)") -
            floor(col("_v") * 1000000L).cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)")).as("_gap"))
    pairDiffGrid(cum, totals)
      .join(gaps, Seq("_v"))
      .groupBy(col("group_a"), col("group_b"), col("n_a"), col("n_b"))
      .agg(sum(col("_d") * col("_gap")).as("_num"))
      .select(
        col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        expr("CAST(_num AS DECIMAL(38,0)) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b)").cast("long").as("emd_micro"))
  }

  /** Exact Mann–Whitney rank-sum test for EVERY group pair — the drift
    * trio's RANK member: KS ([[ksTest]]) reads the worst CDF gap, W₁
    * ([[emdDrift]]) the transported mass, the rank-sum test answers the
    * monitoring question both dodge: does one population run
    * systematically HIGHER, and is the shift significant? The U statistic
    * is pure pair-counting — `U = #{(x∈a, y∈b): x > y} + ½·#ties` — so it
    * computes EXACTLY from the pooled value grid with no ranks
    * materialized per row: `u2 = 2U = Σ_v c_a(v)·(2·F̂_b(v) − c_b(v))`
    * (doubled to keep half-tie credit integral), every term DECIMAL(38,0).
    * Per pair: `n_a`, `n_b`, `u2`, the common-language effect size
    * `u_ppm = ⌊u2·10⁶/(2·n_a·n_b)⌋` (= P(a > b) + ½P(a = b) — the
    * probability a random a-draw exceeds a random b-draw; 500000 means
    * stochastically equal, and it equals [[rankAuc]] when one side is the
    * positive class), and the tie-corrected normal-approximation `z2`
    * (z², one correctly-rounded IEEE closed-form step over the exact
    * integer moments — the [[correlations]] discipline, round-6):
    * `z² = d²·3·N·(N−1) / (n_a·n_b·W)` with `d = u2 − n_a·n_b = 2(U−μ)`,
    * `W = (N+1)·N·(N−1) − Σ_v(t_v³−t_v)` the tie-corrected variance weight
    * over pooled tie groups t_v. W = 0 (every pooled value identical)
    * reads NULL z2 — no variance, no test. NULL groups/values drop.
    *
    * Overflow bound (document, don't discover): W ≤ N³ and the tie sum
    * ≤ N³ ride DECIMAL(38,0) exactly for N ≲ 3·10¹² pooled rows per pair;
    * u2 ≤ 2·n_a·n_b fits the emitted long for any two groups under
    * ~2·10⁹ rows each.
    *
    * Shape at 100 TB: the [[pooledCumulativeGrid]] machinery — one corpus
    * pass to (group, value) counts, the [[cumulativeBelow]] cumulative,
    * then ONE aggregation over the V·G²/2 pair
    * grid to a G²/2-row panel; the totals attach by broadcast.
    */
  def rankSumTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val (cum, totals, _, _) = pooledCumulativeGrid(df, groupCol, valueCol)
    val dec = "decimal(38,0)"
    val a = cum.select(col("_v"), col("_g").as("group_a"),
      col("_c").as("_ca"), col("_f").as("_fa"))
    val b = cum.select(col("_v"), col("_g").as("group_b"),
      col("_c").as("_cb"), col("_f").as("_fb"))
    val t = (col("_ca") + col("_cb")).cast(dec)
    val agg = a.join(b, Seq("_v")).filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(
        sum(col("_ca").cast(dec) *
          (col("_fb").cast(dec) * 2 - col("_cb"))).as("_u2"),
        sum(t * t * t - t).as("_tt"))
    val ta = totals.select(col("_g").as("group_a"), col("_n").as("n_a"))
    val tb = totals.select(col("_g").as("group_b"), col("_n").as("n_b"))
    val na = col("n_a").cast(dec)
    val nb = col("n_b").cast(dec)
    val nn = na + nb
    val w = (nn + lit(1)) * nn * (nn - lit(1)) - col("_tt")
    val d = col("_u2") - na * nb
    // one IEEE closed-form step over exact integers, identical operand
    // order in the DuckDB twin: ((((d·d)·3)·N)·(N−1)) / ((n_a·n_b)·W)
    val z2 = d.cast("double") * d.cast("double") * lit(3.0) *
      nn.cast("double") * (nn - lit(1)).cast("double") /
      (na.cast("double") * nb.cast("double") * w.cast("double"))
    agg
      .join(broadcast(ta), Seq("group_a"))
      .join(broadcast(tb), Seq("group_b"))
      .select(
        col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("_u2").cast("long").as("u2"),
        expr("(CAST(_u2 AS DECIMAL(38,0)) * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b * 2)").cast("long").as("u_ppm"),
        when(w === lit(0).cast(dec), lit(null).cast("double"))
          .otherwise(round(z2, 6)).as("z2"))
  }

  /** Exact precision/recall curve at EVERY distinct score threshold — the
    * ML-evaluation family's second member next to [[rankAuc]]: where AUC
    * compresses ranking quality to one number, the PR curve is the
    * operating-point table a deployment actually thresholds on. The rule
    * is `predict positive ⇔ score ≥ t` with t ranging over the observed
    * distinct scores (between two observed scores every threshold yields
    * the same confusion matrix, so the distinct-score table IS the full
    * curve). Per threshold: `tp`, `fp`, `fn` (exact counts) and
    * `precision_ppm = ⌊tp·10^6/(tp+fp)⌋`, `recall_ppm = ⌊tp·10^6/P⌋`,
    * `f1_ppm = ⌊2·tp·10^6/(predicted+P)⌋` (the 2tp/(2tp+fp+fn) identity)
    * — integral divisions only, NULL when P = 0 (no positives: recall/F1
    * undefined; precision still emitted). NULL scores/labels drop.
    *
    * Shape at 100 TB: identical to [[rankAuc]] — one aggregation to the
    * distinct-score table (map-side partials) and its [[cumulativeBelow]]
    * counts below, whose checkpoint job also reads the totals (N, P) as
    * plan literals. tp/fp fall out as P − pos_below / rows-at-or-above.
    * Output rows = distinct scores — the caller's curve resolution, not a
    * sampled approximation of it.
    */
  def prCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("_s"))
      .agg(count(lit(1)).as("_cnt"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("_pos"))
    val (ranked, totals, _) = cumulativeBelow(base, None, Nil, "_s", Seq("_cnt", "_pos"),
      observe = Seq(coalesce(sum(col("_cnt")), lit(0L)), coalesce(sum(col("_pos")), lit(0L))))
    ranked
      .withColumn("_n", lit(totals.getLong(0)))
      .withColumn("_p", lit(totals.getLong(1)))
      .withColumn("tp", col("_p") - col("_pos_below"))
      .withColumn("_predicted", col("_n") - col("_cnt_below"))
      .select(
        col("_s").as("threshold"),
        col("tp"),
        (col("_predicted") - col("tp")).as("fp"),
        (col("_p") - col("tp")).as("fn"),
        expr("(CAST(tp AS DECIMAL(38,0)) * 1000000) div _predicted")
          .cast("long").as("precision_ppm"),
        when(col("_p") > 0,
          expr("(CAST(tp AS DECIMAL(38,0)) * 1000000) div _p").cast("long"))
          .as("recall_ppm"),
        when(col("_p") > 0,
          expr("(CAST(2 AS DECIMAL(38,0)) * tp * 1000000) div (_predicted + _p)")
            .cast("long")).as("f1_ppm"))
  }

  /** The monitoring family's first pass: per (group, bucket) the exact
    * micro-unit sum `_x = Σ⌊v·10⁶⌋` (a long) of bucket
    * `_b = unix_micros(ts) div (bucketSeconds·10⁶)`, keyed `_g` — the
    * group column cast to string, or as it is when `stringKey` is false.
    * Rows with a NULL group, timestamp or value drop. Buckets are bounded
    * by time range / bucketSeconds, never by event volume, so everything
    * downstream runs on a table of that size.
    */
  private def bucketSums(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      stringKey: Boolean = true): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val usPerBucket = bucketSeconds * 1000000L
    df
      .filter(col(groupCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(
        (if (stringKey) col(groupCol).cast("string") else col(groupCol)).as("_g"),
        call_function("div", unix_micros(col(tsCol)), lit(usPerBucket)).as("_b"))
      .agg(sum(floor(col(valueCol).cast("double") * 1000000L).cast("long"))
        .as("_x"))
  }

  /** The start timestamp of [[bucketSums]]' bucket `b` (the micro lattice
    * starts at the epoch). */
  private def bucketStart(b: Column, bucketSeconds: Long): Column =
    timestamp_micros(b * (bucketSeconds * 1000000L))

  /** Each key's `(_b, _x)` series as one `_steps` array sorted by bucket:
    * the ordered input of the fold charts and [[theilSen]]'s pair vote. */
  private def bucketSteps(series: DataFrame, keys: Seq[Column]): DataFrame =
    series.groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("_b"), col("_x")))).as("_steps"))

  /** Rejects a ppm weight outside [1, 10⁶] (α = 0 never moves, α > 1
    * overshoots); each pair is (parameter name, value). */
  private def requirePpm(params: (String, Long)*): Unit =
    params.foreach { case (n, v) =>
      require(v >= 1 && v <= 1000000L, s"$n must be in [1, 1000000], got $v") }

  /** The fold charts' tail: `fold` (one of the `*FoldSql` left folds)
    * replays each key's sorted steps, its per-step structs explode back to
    * rows, and each row reads `head` (the output keys and the rendered
    * bucket, from `_r.b`), the exact `value_micro`, then every
    * (fold field, output name) of `fields` floored to a long. Floor, not
    * round: the recurrence's doubles are bit-identical across engines, but
    * decimal ROUNDING of a ~10⁹ micro value sits below one ulp and the two
    * engines' round() disagree there — floor of identical doubles never
    * does.
    */
  private def foldChart(
      series: DataFrame,
      keys: Seq[Column],
      head: Seq[Column],
      fold: String,
      fields: Seq[(String, String)]): DataFrame =
    bucketSteps(series, keys)
      .select(keys :+ explode(expr(fold)).as("_r"): _*)
      .select(head ++ (col("_r.x").as("value_micro") +: fields.map { case (f, n) =>
        floor(col(s"_r.$f")).cast("long").as(n) }): _*)

  /** A fold chart over raw events: [[bucketSums]] keyed by the group as a
    * string, then [[foldChart]] with the group and the `bucket` start. */
  private def liveChart(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      fold: String,
      fields: Seq[(String, String)]): DataFrame =
    foldChart(bucketSums(df, groupCol, tsCol, valueCol, bucketSeconds),
      Seq(col("_g")),
      Seq(col("_g").as(groupCol), bucketStart(col("_r.b"), bucketSeconds).as("bucket")),
      fold, fields)

  /** A fold chart over an incremental daily-state store
    * ([[Incremental.dailyState]]): the store's per-batch partials merge to
    * one exact `sum_value` per (keys, dt), the bucket is the epoch day,
    * and each output row carries `dt` back as an ISO date string. */
  private def dailyStateChart(
      state: DataFrame,
      keys: Seq[String],
      fold: String,
      fields: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val kc = keys.map(col)
    val epoch = to_date(lit("1970-01-01"))
    val merged = state
      .groupBy(kc :+ col("dt"): _*)
      .agg(sum(col("sum_value")).as("_x"))
      .withColumn("_b", datediff(col("dt").cast("date"), epoch).cast("long"))
    foldChart(merged, kc,
      kc :+ date_add(epoch, col("_r.b").cast("int")).cast("string").as("dt"),
      fold, fields)
  }

  /** CUSUM changepoint scan — the drift family's TEMPORAL member: where
    * [[ksTest]]/[[categoricalDrift]] compare two populations you already
    * split, CUSUM asks WHERE to split one time series. Per group, bucket
    * the series into `bucketSeconds` buckets (value in the exact
    * micro-unit lane, `⌊v·10^6⌋`), and over the n observed buckets in
    * time order compute the classic cumulative-sum deviation from the
    * uniform line, cross-scaled to stay integral:
    * `D_i = |n·S_i − i·S_n|` (= n·|S_i − (i/n)·S_n| — the distance of the
    * running sum from straight-line accumulation at position i). The
    * report per group: `n_buckets`, `s_total` (micro-units), `d_num =
    * max_i D_i`, `cusum_ppm = ⌊d_num·10^6 / (n·|s_total|)⌋` (the
    * scale-free alarm statistic, NULL when s_total = 0), and `change_at`
    * — the START of the EARLIEST bucket attaining the max, i.e. the most
    * likely last-pre-change point. NULL groups/timestamps/values drop.
    *
    * Shape at 100 TB: one corpus pass to the (group, bucket) sum table
    * (map-side partials); everything after runs on group × bucket-count
    * cardinality — buckets are bounded by TIME RANGE / bucketSeconds, not
    * by the corpus, so the per-group ordered window (row index + running
    * sum) is a bounded-partition window by construction. The max + the
    * earliest-attaining argmin are two narrow aggs on that same table
    * (the [[ksTest]] max/argmin pattern). Overflow: D_i ≤ 2·n·|S|_∞ rides
    * DECIMAL(38,0) exactly; the emitted long is exact while
    * n·|s_total| < 2^63 (~9·10^18 micro-unit-bucket — petabyte-scale
    * headroom on real metrics).
    */
  def cusumChangepoint(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one corpus pass; checkpointed — the totals agg and the window probe
    // both hang off it
    val base = bucketSums(df, groupCol, tsCol, valueCol, bucketSeconds)
      .localCheckpoint(false)
    val totals = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("_x")).as("s_total"))
    val wOrd = Window.partitionBy(col("_g")).orderBy(col("_b"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-(group,bucket) deviation rows; checkpointed — the max pass and
    // the earliest-attaining pass both read it
    val dev = base
      .join(totals, Seq("_g"))
      .withColumn("_i", row_number().over(wOrd).cast("long"))
      .withColumn("_si", sum(col("_x")).over(wCum))
      .withColumn("_d", abs(
        col("n_buckets").cast("decimal(38,0)") * col("_si") -
          col("_i").cast("decimal(38,0)") * col("s_total")))
      .select(col("_g"), col("_b"), col("n_buckets"), col("s_total"),
        col("_d"))
      .localCheckpoint(false)
    val dmax = dev.groupBy(col("_g")).agg(max(col("_d")).as("_dmax"))
    dev.join(broadcast(dmax), Seq("_g"))
      .filter(col("_d") === col("_dmax"))
      .groupBy(col("_g"), col("n_buckets"), col("s_total"), col("_dmax"))
      .agg(min(col("_b")).as("_bAt"))
      .select(
        col("_g").as(groupCol),
        col("n_buckets"),
        col("s_total"),
        col("_dmax").cast("long").as("d_num"),
        when(col("s_total") =!= 0,
          expr("(CAST(_dmax AS DECIMAL(38,0)) * 1000000) div " +
            "(CAST(n_buckets AS DECIMAL(38,0)) * abs(s_total))").cast("long"))
          .as("cusum_ppm"),
        bucketStart(col("_bAt"), bucketSeconds).as("change_at"))
  }

  /** The shared EWMA left fold over a sorted `_steps` array of
    * `(_b, _x)` structs — the first element seeds s = x with a NULL
    * residual; alpha divides from its ppm integer IN-PLAN so the oracle's
    * recursive CTE performs the identical IEEE ops. Consumed by
    * [[ewmaChart]] (live bucketed corpus) and [[ewmaFromDailyState]]
    * (the persisted incremental-state read path).
    */
  private def ewmaFoldSql(alphaPpm: Long): String = {
    requirePpm("alphaPpm" -> alphaPpm)
    s"""aggregate(
       |  _steps,
       |  struct(false AS init, CAST(0.0 AS DOUBLE) AS s,
       |    CAST(array() AS ARRAY<STRUCT<b: BIGINT, x: BIGINT,
       |      s: DOUBLE, r: DOUBLE>>) AS out),
       |  (acc, e) -> struct(
       |    true AS init,
       |    CASE WHEN acc.init THEN acc.s +
       |        (CAST($alphaPpm AS DOUBLE) / 1000000.0D) *
       |        (CAST(e._x AS DOUBLE) - acc.s)
       |      ELSE CAST(e._x AS DOUBLE) END AS s,
       |    array_append(acc.out, struct(e._b AS b, e._x AS x,
       |      CASE WHEN acc.init THEN acc.s +
       |          (CAST($alphaPpm AS DOUBLE) / 1000000.0D) *
       |          (CAST(e._x AS DOUBLE) - acc.s)
       |        ELSE CAST(e._x AS DOUBLE) END AS s,
       |      CASE WHEN acc.init
       |        THEN CAST(e._x AS DOUBLE) - acc.s END AS r)) AS out),
       |  acc -> acc.out)""".stripMargin
  }

  private val ewmaFields = Seq("s" -> "ewma_micro", "r" -> "resid_micro")

  /** EWMA control chart — the monitoring family's RECENCY member next to
    * [[cusumChangepoint]] (CUSUM accumulates evidence of one persistent
    * level shift over the whole window; the exponentially-weighted moving
    * average tracks the CURRENT level with geometric forgetting, the
    * classic Roberts (1959) chart): per group the value series buckets by
    * `bucketSeconds` into the ⌊v·10⁶⌋ micro-unit lane, and over observed
    * buckets in time order the recurrence `s₁ = x₁`,
    * `sₜ = sₜ₋₁ + α·(xₜ − sₜ₋₁)` with `α = alphaPpm/10⁶`. Per bucket:
    * `value_micro` (exact long), `ewma_micro` (the smoothed level) and
    * `resid_micro` (`xₜ − sₜ₋₁`, the one-step prediction error the caller
    * thresholds — NULL on each group's first bucket, no prediction yet),
    * both floored to the micro lattice ([[foldChart]]).
    *
    * Determinism: the recurrence is the [[graft.ops.Temporal.kaplanMeier]]
    * ordered-fold discipline — a LEFT fold over time-sorted buckets, each
    * step one subtract+multiply+add in fixed operand order, α computed as
    * one IEEE division from its ppm integer INSIDE both engines — so the
    * DuckDB twin's recursive CTE replays it bit-for-bit. State contract:
    * the fold buffers one group's observed buckets (bounded by TIME RANGE
    * / bucketSeconds, never the corpus — the cusum contract). Missing
    * buckets are skipped, not zero-filled (compose [[graft.ops.Temporal
    * .resampleForwardFill]] upstream to chart dense time). NULL groups/
    * timestamps/values drop.
    *
    * Shape at 100 TB: one corpus pass to the (group, bucket) sums
    * (map-side partials), ONE group-keyed exchange for the collect, the
    * fold and re-explode in-row.
    */
  def ewmaChart(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      alphaPpm: Long = 300000L): DataFrame =
    liveChart(df, groupCol, tsCol, valueCol, bucketSeconds, ewmaFoldSql(alphaPpm),
      ewmaFields)

  /** The STREAMING EWMA monitor's read side: [[ewmaChart]]'s identical
    * recurrence over a persisted incremental daily-state store
    * ([[Incremental.dailyState]] / the exactly-once
    * [[Incremental.stateUpsertBatch]] streaming sink) instead of the raw
    * corpus — per-batch partials merge to per-(key, day) exact sums
    * (the store's integer-valued contract), then the same ordered fold.
    * THIS is the 100 TB monitoring shape: the stream maintains
    * kilobyte-scale daily partials with generational-commit durability,
    * and the chart recomputes from days × keys state rows — the raw
    * event history is never rescanned, and the monitor's cost follows
    * the state table, not the stream.
    *
    * Determinism: identical to [[ewmaChart]] (same fold, same floors);
    * folding the store equals charting the raw rows day-bucketed —
    * per-day sums are associative exactly because the store's value lane
    * is integral (spec-pinned). Output per (keys, dt): `value_micro`,
    * `ewma_micro`, `resid_micro` (NULL first day per key).
    */
  def ewmaFromDailyState(
      state: DataFrame,
      keys: Seq[String],
      alphaPpm: Long = 300000L): DataFrame =
    dailyStateChart(state, keys, ewmaFoldSql(alphaPpm), ewmaFields)

  /** The Holt left fold over a sorted `_steps` array of `(_b, _x)` structs
    * — the [[ewmaFoldSql]] discipline with a second recurrence: the first
    * element seeds level = x, trend = 0, NULL residual; every later step
    * computes the one-step forecast `f = l + b`, then
    * `l' = α·x + (1−α)·f` and `b' = β·(l'−l) + (1−β)·b` in FIXED operand
    * order with α/β divided from their ppm integers in-plan, so the
    * oracle's recursive CTE replays the identical IEEE ops (`l'` repeats
    * textually inside the trend update — SQL lambdas have no let-binding,
    * and both engines repeating the same expression stay bit-identical).
    */
  private def holtFoldSql(alphaPpm: Long, betaPpm: Long): String = {
    requirePpm("alphaPpm" -> alphaPpm, "betaPpm" -> betaPpm)
    val a = s"(CAST($alphaPpm AS DOUBLE) / 1000000.0D)"
    val bta = s"(CAST($betaPpm AS DOUBLE) / 1000000.0D)"
    val lNext =
      s"($a * CAST(e._x AS DOUBLE) + (1.0D - $a) * (acc.l + acc.t))"
    s"""aggregate(
       |  _steps,
       |  struct(false AS init, CAST(0.0 AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t,
       |    CAST(array() AS ARRAY<STRUCT<b: BIGINT, x: BIGINT,
       |      l: DOUBLE, t: DOUBLE, r: DOUBLE>>) AS out),
       |  (acc, e) -> struct(
       |    true AS init,
       |    CASE WHEN acc.init THEN $lNext
       |      ELSE CAST(e._x AS DOUBLE) END AS l,
       |    CASE WHEN acc.init THEN
       |        $bta * ($lNext - acc.l) + (1.0D - $bta) * acc.t
       |      ELSE CAST(0.0 AS DOUBLE) END AS t,
       |    array_append(acc.out, struct(e._b AS b, e._x AS x,
       |      CASE WHEN acc.init THEN $lNext
       |        ELSE CAST(e._x AS DOUBLE) END AS l,
       |      CASE WHEN acc.init THEN
       |          $bta * ($lNext - acc.l) + (1.0D - $bta) * acc.t
       |        ELSE CAST(0.0 AS DOUBLE) END AS t,
       |      CASE WHEN acc.init
       |        THEN CAST(e._x AS DOUBLE) - (acc.l + acc.t) END AS r)) AS out),
       |  acc -> acc.out)""".stripMargin
  }

  private val holtFields =
    Seq("l" -> "level_micro", "t" -> "trend_micro", "r" -> "resid_micro")

  /** Holt double-exponential (level + trend) chart — [[ewmaChart]]'s
    * trend-aware sibling, the monitoring family's FORECASTING member: the
    * EWMA tracks the current level with geometric forgetting but lags a
    * trending series by `trend/α` forever; Holt's second recurrence
    * estimates the per-bucket trend and folds it into the one-step
    * forecast `f = l + b`, so the residual (`x − f`, the alarm signal)
    * centers on zero for a steadily growing metric instead of flagging
    * the growth itself. Seed: first bucket is the level with zero trend
    * (documented — the trend warms up over the first few buckets rather
    * than trusting one noisy first difference). Per (group, bucket):
    * `value_micro` (exact long), `level_micro`/`trend_micro`/`resid_micro`
    * — floors of bit-identical doubles (the [[foldChart]] lattice
    * argument; residual NULL on each group's first bucket, no forecast
    * yet).
    *
    * Determinism, state, and shape: exactly [[ewmaChart]] — ordered left
    * fold, one corpus pass to (group, bucket) sums, ONE group-keyed
    * exchange for the collect, fold and re-explode in-row; the fold
    * buffers one group's buckets, bounded by time range / bucketSeconds.
    * Missing buckets are skipped, not zero-filled (compose
    * [[graft.ops.Temporal.resampleForwardFill]] upstream for dense time).
    */
  def holtChart(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L): DataFrame =
    liveChart(df, groupCol, tsCol, valueCol, bucketSeconds,
      holtFoldSql(alphaPpm, betaPpm), holtFields)

  /** [[holtChart]]'s persisted-state read side — [[ewmaFromDailyState]]'s
    * trend-aware twin, the same 100 TB monitoring shape: the stream
    * maintains per-(key, day) exact integral partials
    * ([[Incremental.dailyState]] / the exactly-once
    * [[Incremental.stateUpsertBatch]] sink), and the Holt level+trend
    * chart recomputes from days × keys state rows without rescanning
    * event history. The fold is the SAME private [[holtFoldSql]] the live
    * chart consumes (they cannot drift); per-day sums merge associatively
    * exactly because the store's value lane is integral. Output per
    * (keys, dt): `value_micro`, `level_micro`, `trend_micro`,
    * `resid_micro` (NULL first day per key).
    */
  def holtFromDailyState(
      state: DataFrame,
      keys: Seq[String],
      alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L): DataFrame =
    dailyStateChart(state, keys, holtFoldSql(alphaPpm, betaPpm), holtFields)

  /** The Holt–Winters left fold over a sorted `_steps` array of `(_b, _x)`
    * structs — [[holtFoldSql]] with the THIRD recurrence: the accumulator
    * carries the level, the trend, and a `period`-slot additive seasonal
    * index array (seeded all-zero; the first element seeds level = x,
    * trend = 0, indices untouched). Every later step reads its phase's
    * index `s = S[b mod period]`, forecasts `f = l + t + s`, then
    * `l' = α·(x − s) + (1−α)·(l + t)`, `t' = β·(l' − l) + (1−β)·t`,
    * `S'[phase] = γ·(x − l') + (1−γ)·s` in FIXED operand order with
    * α/β/γ divided from their ppm integers in-plan. `l'` repeats
    * textually inside the trend and seasonal updates (SQL lambdas have
    * no let-binding; both engines repeating the same expression stay
    * bit-identical), and the oracle's recursive CTE carries the seasonal
    * state as `period` explicit columns — the identical IEEE op tree,
    * differently laid out.
    */
  private def holtWintersFoldSql(
      alphaPpm: Long, betaPpm: Long, gammaPpm: Long, period: Int): String = {
    requirePpm("alphaPpm" -> alphaPpm, "betaPpm" -> betaPpm, "gammaPpm" -> gammaPpm)
    // a period of 1 is Holt; the index array is fold state
    require(period >= 2 && period <= 1000, s"period must be in [2, 1000], got $period")
    val a = s"(CAST($alphaPpm AS DOUBLE) / 1000000.0D)"
    val bta = s"(CAST($betaPpm AS DOUBLE) / 1000000.0D)"
    val g = s"(CAST($gammaPpm AS DOUBLE) / 1000000.0D)"
    val phase = s"CAST(pmod(e._b, $period) AS INT)"
    val sPrev = s"element_at(acc.s, $phase + 1)"
    val lNext =
      s"($a * (CAST(e._x AS DOUBLE) - $sPrev) + (1.0D - $a) * (acc.l + acc.t))"
    val sNext = s"($g * (CAST(e._x AS DOUBLE) - $lNext) + (1.0D - $g) * $sPrev)"
    val zeros = Seq.fill(period)("CAST(0.0 AS DOUBLE)").mkString(", ")
    s"""aggregate(
       |  _steps,
       |  struct(false AS init, CAST(0.0 AS DOUBLE) AS l,
       |    CAST(0.0 AS DOUBLE) AS t, array($zeros) AS s,
       |    CAST(array() AS ARRAY<STRUCT<b: BIGINT, x: BIGINT,
       |      l: DOUBLE, t: DOUBLE, si: DOUBLE, r: DOUBLE>>) AS out),
       |  (acc, e) -> struct(
       |    true AS init,
       |    CASE WHEN acc.init THEN $lNext
       |      ELSE CAST(e._x AS DOUBLE) END AS l,
       |    CASE WHEN acc.init THEN
       |        $bta * ($lNext - acc.l) + (1.0D - $bta) * acc.t
       |      ELSE CAST(0.0 AS DOUBLE) END AS t,
       |    CASE WHEN acc.init THEN
       |        transform(acc.s, (v, i) ->
       |          CASE WHEN i = $phase THEN $sNext ELSE v END)
       |      ELSE acc.s END AS s,
       |    array_append(acc.out, struct(e._b AS b, e._x AS x,
       |      CASE WHEN acc.init THEN $lNext
       |        ELSE CAST(e._x AS DOUBLE) END AS l,
       |      CASE WHEN acc.init THEN
       |          $bta * ($lNext - acc.l) + (1.0D - $bta) * acc.t
       |        ELSE CAST(0.0 AS DOUBLE) END AS t,
       |      CASE WHEN acc.init THEN $sNext
       |        ELSE CAST(0.0 AS DOUBLE) END AS si,
       |      CASE WHEN acc.init
       |        THEN CAST(e._x AS DOUBLE) - (acc.l + acc.t + $sPrev)
       |        END AS r)) AS out),
       |  acc -> acc.out)""".stripMargin
  }

  private val holtWintersFields = Seq("l" -> "level_micro", "t" -> "trend_micro",
    "si" -> "season_micro", "r" -> "resid_micro")

  /** Holt–Winters additive chart — the forecasting lane's SEASONAL member,
    * completing EWMA (level) → [[holtChart]] (level + trend) → level +
    * trend + seasonality: Holt's one-step forecast lags any metric with a
    * weekly/daily shape by the full seasonal amplitude, flagging every
    * weekend as an anomaly; the third recurrence (Winters 1960) maintains
    * one additive index per phase (`bucket mod period` — 7 daily buckets
    * = day-of-week) and folds it into the forecast `f = l + t + s`, so
    * the residual centers on zero for a trending AND periodic series.
    * Seed: first bucket is the level with zero trend and ALL-ZERO
    * seasonal indices — the indices warm up as phases are revisited (the
    * [[holtChart]] warm-up contract extended; the classic
    * first-full-season initialization trades one period of residuals for
    * faster convergence, a different contract, documented out). Per
    * (group, bucket): `value_micro`, `level_micro`, `trend_micro`,
    * `season_micro` (this bucket's phase index AFTER its update; 0 on
    * the seed), `resid_micro` (NULL on the seed) — floors of
    * bit-identical doubles (the [[foldChart]] lattice argument).
    *
    * Determinism, state, and shape: exactly [[holtChart]] — ordered left
    * fold, one corpus pass to (group, bucket) sums, ONE group-keyed
    * exchange for the collect, fold and re-explode in-row; the fold
    * buffers one group's buckets (bounded by time range / bucketSeconds)
    * plus the `period`-slot index array. Missing buckets are skipped,
    * not zero-filled — a skipped bucket also skips its phase update
    * (compose [[graft.ops.Temporal.resampleForwardFill]] upstream for
    * dense time).
    */
  def holtWintersChart(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long,
      period: Int = 7,
      alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L,
      gammaPpm: Long = 300000L): DataFrame = {
    liveChart(df, groupCol, tsCol, valueCol, bucketSeconds,
      holtWintersFoldSql(alphaPpm, betaPpm, gammaPpm, period), holtWintersFields)
  }

  /** [[holtWintersChart]]'s persisted-state read side —
    * [[holtFromDailyState]]'s seasonal twin, the same 100 TB monitoring
    * shape: per-(key, day) exact integral partials from the incremental
    * store ([[Incremental.dailyState]] / [[Incremental.stateUpsertBatch]]),
    * the SAME private [[holtWintersFoldSql]] (they cannot drift), the
    * day's phase = epoch-day mod `period` (7 = day-of-week). Output per
    * (keys, dt): `value_micro`, `level_micro`, `trend_micro`,
    * `season_micro`, `resid_micro` (NULL first day per key).
    */
  def holtWintersFromDailyState(
      state: DataFrame,
      keys: Seq[String],
      period: Int = 7,
      alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L,
      gammaPpm: Long = 300000L): DataFrame = {
    dailyStateChart(state, keys,
      holtWintersFoldSql(alphaPpm, betaPpm, gammaPpm, period), holtWintersFields)
  }

  /** Seasonality-normalized anomaly panel — the drift family's PERIODIC
    * member next to [[cusumChangepoint]] (which finds one level shift;
    * this separates "it's Sunday" from "something broke"): per group the
    * value series buckets by `bucketSeconds`, each bucket's phase is
    * `bucket mod periodBuckets` (7 daily buckets = day-of-week), and the
    * bucket's mass compares against its OWN phase's mean — the classic
    * seasonal index, so a quiet weekend never false-alarms against a
    * weekday baseline and a weekday outage never hides inside a weekly
    * average. Per bucket: `value_micro` (the ⌊v·10^6⌋ micro-unit sum),
    * `phase_mean_micro = ⌊Σ_phase / n_phase⌋`, `ratio_ppm =
    * ⌊value·10^6/phase_mean⌋` (NULL when the phase mean is ≤ 0 — a ratio
    * against nothing means nothing), and `anomalous` when the ratio sits
    * outside `[10^6 − bandPpm, 10^6 + bandPpm]`. The phase mean includes
    * the bucket itself (the standard seasonal-index estimate; at
    * history lengths worth monitoring the self-term is 1/n of the mean).
    * Values must be non-negative (the micro-unit floor lane). NULL
    * groups/timestamps/values drop.
    *
    * Shape at 100 TB: ONE corpus pass to the (group, bucket) sums
    * (map-side partials); the phase table is a (group, phase)
    * re-aggregation of that bucket table — at most G·period rows — and
    * attaches back by broadcast. No window functions, no sort, no
    * corpus-sized join: buckets are bounded by time-range/bucketSeconds,
    * never by event volume.
    */
  def seasonalAnomaly(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String,
      bucketSeconds: Long = 86400L,
      periodBuckets: Int = 7,
      bandPpm: Long = 500000L): DataFrame = {
    require(periodBuckets >= 2, "periodBuckets must be >= 2 (a period of 1 is just the mean)")
    require(bandPpm > 0, "bandPpm must be positive")
    // one corpus pass; checkpointed — the phase means and the panel both
    // read it
    val base = bucketSums(df, groupCol, tsCol, valueCol, bucketSeconds,
      stringKey = false)
      .withColumn("_ph", pmod(col("_b"), lit(periodBuckets.toLong)))
      .localCheckpoint(false)
    val phase = base.groupBy(col("_g"), col("_ph"))
      .agg(expr("CAST(sum(_x) AS DECIMAL(38,0)) div count(1)").cast("long")
        .as("_pm"))
    base.join(broadcast(phase), Seq("_g", "_ph"))
      .withColumn("ratio_ppm",
        when(col("_pm") > 0,
          expr("(CAST(_x AS DECIMAL(38,0)) * 1000000) div _pm").cast("long")))
      .select(
        col("_g").as(groupCol),
        bucketStart(col("_b"), bucketSeconds).as("bucket"),
        col("_ph").as("phase"),
        col("_x").as("value_micro"),
        col("_pm").as("phase_mean_micro"),
        col("ratio_ppm"),
        (col("ratio_ppm").isNotNull &&
          (col("ratio_ppm") < 1000000L - bandPpm ||
            col("ratio_ppm") > 1000000L + bandPpm)).as("anomalous"))
  }

  /** Model calibration panel with expected calibration error — the
    * ML-evaluation family's third member next to [[rankAuc]] (ranking) and
    * [[prCurve]] (operating points): does a score of 0.8 actually mean
    * 80% positive? Uniform score bins (the textbook ECE formulation —
    * equal-WIDTH over the observed [lo, hi] range, deliberately not
    * equi-depth: [[equiDepthBins]]' per-group ntile is a single-task
    * global sort on an ungrouped corpus, while width binning is pure
    * scan-speed arithmetic), one row per non-empty bin:
    * `n`, `n_pos`, `conf_ppm = ⌊Σ⌊s·10^6⌋ / n⌋` (mean predicted score in
    * the micro-unit lane), `acc_ppm = ⌊n_pos·10^6/n⌋` (observed positive
    * rate), `gap_ppm = |conf − acc|`, and the table-level
    * `ece_ppm = ⌊Σ gap_i·n_i / N⌋` — the standard n-weighted expected
    * calibration error, integral end to end. Bin assignment is the
    * [[histogram]] contract: three exactly-rounded IEEE ops (subtract,
    * divide, floor) then an integer clamp, engine-reproducible; a
    * constant score column collapses to one bin. NULL scores/labels drop.
    * Scores must be non-negative (probabilities/rates — the micro-unit
    * divisions are floor-exact only on the non-negative lane; shift a
    * signed score first, the cusumChangepoint convention).
    *
    * Shape at 100 TB: the score range read by the build-time checkpoint's
    * own job ([[Fixpoint.observedCheckpoint]]), ONE hash aggregation to the nBins-sized panel
    * (map-side partials), and the ECE scalar attaches through a 1-row
    * broadcast — no sort, no window, no join touches the corpus.
    */
  def calibration(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "nBins must be >= 1")
    // checkpointed: the bin agg reads it after its own job reads the range
    val (base, rng) = Fixpoint.observedCheckpoint(df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("_s"),
        col(labelCol).cast("boolean").as("_y")),
      Seq(min(col("_s")), max(col("_s"))))
    val (lo, hi) =
      if (rng.isNullAt(0)) (0.0, 0.0)
      else (rng.getDouble(0), rng.getDouble(1))
    val bin =
      if (lo == hi) lit(0L)
      else least(greatest(
        floor((col("_s") - lit(lo)) / lit((hi - lo) / nBins)), lit(0L)),
        lit(nBins - 1L))
    val panel = base
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(floor(col("_s") * 1000000L).cast("long")).as("_smicro"))
      .withColumn("conf_ppm",
        expr("CAST(_smicro AS DECIMAL(38,0)) div n").cast("long"))
      .withColumn("acc_ppm",
        expr("(CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n").cast("long"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
      .localCheckpoint(false) // the ECE scalar and the output both read it
    val ece = panel.agg(
      expr("CAST(sum(CAST(gap_ppm AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) " +
        "div sum(n)").cast("long").as("ece_ppm"))
    panel
      .crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"),
        col("conf_ppm"), col("acc_ppm"), col("gap_ppm"), col("ece_ppm"))
  }

  /** Exact chi-square contingency panel — the categorical INDEPENDENCE
    * test next to [[ksTest]]'s distribution-equality test: are `rowCol`
    * and `colCol` associated, and WHICH cells carry the association? One
    * row per (row value, col value) cell of the dense contingency table
    * (absent combinations count 0 — they contribute to the statistic):
    * `observed`, `expected_ppm = ⌊R·C·10^6/N⌋` (the independence
    * expectation in ppm-scaled counts), the cell's quantized contribution
    * `cell_chi2_ppm = ⌊(O·N − R·C)²·10^6/(R·C·N)⌋` (the classic
    * (O−E)²/E written over the common denominator so every intermediate
    * is an integer), and the table-level `chi2_ppm = Σ cell_chi2_ppm`,
    * `dof = (|rows|−1)·(|cols|−1)`, `n`. The table statistic sums the
    * per-cell FLOORS — a deterministically quantized χ² (each cell's
    * error < 1 ppm, so the total sits within |cells| ppm of the real
    * statistic), which is what makes it bit-identical in any engine; the
    * integral lane is exact while (O·N − R·C)²·10^6 < 10^38, i.e.
    * |O·N − R·C| < 10^16 — worst case N around ~10^8 (a fully-associated
    * 2×2 table maximizes the residual at ~N²/4). Beyond the bound a
    * DECIMAL(38,0) cell overflows; under non-ANSI mode it would NULL out
    * and silently understate `chi2_ppm`, so the bound is ENFORCED: the
    * build fails fast when N exceeds 10^8 (at that scale a significance
    * test is vacuous anyway — every association is "significant";
    * compare effect sizes like `expected_ppm` vs observed instead).
    * NULL rows/cols drop.
    *
    * Shape at 100 TB: ONE corpus pass to the (row, col) cell counts
    * (map-side partials); everything downstream runs on the dense
    * R×C dimension grid — marginals are narrow re-aggregations of the
    * cell table, the grid is a broadcast cross of the two marginal
    * tables, and the 1-row total + the table statistic attach through
    * broadcast scalar-joins (the text_langid_model scalar-attach idiom).
    */
  def chiSquare(
      df: DataFrame,
      rowCol: String,
      colCol: String): DataFrame = {
    // one corpus pass; checkpointed — both marginals, the total, and the
    // grid's left join all hang off it
    val base = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).as("_r"), col(colCol).as("_c"))
      .agg(count(lit(1)).as("_o"))
      .localCheckpoint(false)
    val rTot = base.groupBy(col("_r")).agg(sum(col("_o")).as("_rr"))
      .localCheckpoint(false)
    val cTot = base.groupBy(col("_c")).agg(sum(col("_o")).as("_cc"))
      .localCheckpoint(false)
    val nTot = base.agg(sum(col("_o")).as("_nn"))
    val dofT = rTot.select(count(lit(1)).as("_nr"))
      .crossJoin(cTot.select(count(lit(1)).as("_nc")))
      .select(((col("_nr") - 1) * (col("_nc") - 1)).as("dof"))
    val dec = "decimal(38,0)"
    val cells = rTot.crossJoin(broadcast(cTot))
      .join(base, Seq("_r", "_c"), "left")
      .crossJoin(broadcast(nTot))
      // enforce the documented exactness bound in-plan (assert_true is
      // NULL on pass, so the coalesce-add keeps it un-prunable and free):
      // past N = 10^8 a worst-case cell residual (O·N−R·C)²·10^6 would
      // overflow DECIMAL(38,0) and silently NULL under non-ANSI mode
      .withColumn("_nn", col("_nn") + coalesce(
        assert_true(col("_nn") <= lit(100000000L),
          lit("chiSquare: N exceeds the 10^8 integer-exact bound — " +
            "cell residuals would overflow DECIMAL(38,0); compare " +
            "effect sizes (expected_ppm vs observed) at this scale"))
          .cast("long"),
        lit(0L)))
      .withColumn("_onn", coalesce(col("_o"), lit(0L)).cast(dec) * col("_nn"))
      .withColumn("_rc", col("_rr").cast(dec) * col("_cc"))
      .withColumn("expected_ppm",
        expr("(CAST(_rr AS DECIMAL(38,0)) * _cc * 1000000) div _nn")
          .cast("long"))
      .withColumn("_num",
        (col("_onn") - col("_rc")) * (col("_onn") - col("_rc")) *
          lit(1000000L).cast(dec))
      .withColumn("_den", col("_rc") * col("_nn"))
      // integral `div` — the one exact floor division on decimals (a
      // decimal divide-then-cast would round half-up, not floor)
      .withColumn("cell_chi2_ppm", expr("_num div _den").cast("long"))
      .localCheckpoint(false)
    val tot = cells.agg(sum(col("cell_chi2_ppm")).as("chi2_ppm"))
    cells
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(dofT))
      .select(
        col("_r").as("row_val"), col("_c").as("col_val"),
        coalesce(col("_o"), lit(0L)).as("observed"),
        col("expected_ppm"), col("cell_chi2_ppm"),
        col("chi2_ppm").cast("long").as("chi2_ppm"),
        col("dof").cast("long").as("dof"),
        col("_nn").as("n"))
  }

  /** Per-group contribution-concentration panel — the "who owns the
    * corpus" question every curation and revenue review asks: per group,
    * aggregate `valueCol` per entity and report how unequally the total
    * is distributed. Entirely in the exact lane: values enter as
    * `⌊v·10⁶⌋` micro-units (the [[seasonalAnomaly]] floor lane), every
    * moment is DECIMAL(38,0), every index one integral `div`:
    *  - `n_entities`, `total_micro`;
    *  - `hhi_ppm = ⌊Σs²·10⁶ / T²⌋` — the Herfindahl–Hirschman
    *    concentration index in ppm (10⁶ = one entity owns everything,
    *    10⁶/n = perfectly even);
    *  - `gini_ppm = ⌊(2·Σr·s − (n+1)·T)·10⁶ / (n·T)⌋` over ascending
    *    ranks r (ties rank by entity id — Σr·s is tie-order invariant
    *    because equal s contribute equally under any permutation);
    *    0 = even, (n−1)/n·10⁶ = one owner;
    *  - `topk_share_ppm = ⌊(Σ top-`topK` s)·10⁶ / T⌋` — the head share.
    * Values must be non-negative (the Lorenz/Gini contract; the micro
    * floor lane). Negative inputs are NOT rejected and pass through
    * UNDEFINED — the indices can leave [0, 10⁶] (a negative T can even
    * flip signs) exactly as a negative duration passes through
    * [[kaplanMeier]]; callers with signed data (refunds, reversals)
    * must clamp or filter first. A full corpus-pass pre-validation
    * would double the scan cost of every well-formed caller to guard a
    * contract violation, so the contract is documented, not enforced.
    * A group with T = 0 reads NULL indices — no mass, no
    * concentration. NULL groups/entities/values drop.
    *
    * Overflow bound (document, don't discover): Σs² ≤ T² needs T < 10¹⁹
    * micro-units inside DECIMAL(38,0) — ~10¹³ in value units, petabyte
    * scale; Σr·s ≤ n·T another factor 10⁹ of headroom beyond any real
    * entity count.
    *
    * Shape at 100 TB: one corpus pass to the (group, entity) totals,
    * ONE group-keyed exchange shared by both rank windows (same
    * partitioning, two sorts — entity cardinality per group, never the
    * corpus), and the final group agg clusters on that partitioning —
    * no further exchange, no global sort.
    */
  def concentrationPanel(
      df: DataFrame,
      groupCol: String,
      entityCol: String,
      valueCol: String,
      topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(groupCol).isNotNull && col(entityCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("_g"),
        col(entityCol).cast("string").as("_e"))
      .agg(sum(floor(col(valueCol).cast("double") * 1000000L).cast("long"))
        .as("_s"))
    val wAsc = Window.partitionBy(col("_g"))
      .orderBy(col("_s").asc, col("_e").asc)
    val wDesc = Window.partitionBy(col("_g"))
      .orderBy(col("_s").desc, col("_e").asc)
    base
      .withColumn("_r", row_number().over(wAsc))
      .withColumn("_rd", row_number().over(wDesc))
      .groupBy(col("_g"))
      .agg(
        count(lit(1)).as("n_entities"),
        sum(col("_s").cast(dec)).as("_t"),
        sum(col("_s").cast(dec) * col("_s")).as("_sq"),
        sum(col("_r").cast(dec) * col("_s")).as("_rs"),
        sum(when(col("_rd") <= topK, col("_s").cast(dec))
          .otherwise(lit(0).cast(dec))).as("_top"))
      .select(
        col("_g").as(groupCol),
        col("n_entities"),
        col("_t").cast("long").as("total_micro"),
        when(col("_t") > 0,
          expr("(_sq * 1000000) div (_t * _t)").cast("long")).as("hhi_ppm"),
        when(col("_t") > 0,
          expr("((_rs * 2 - (CAST(n_entities AS DECIMAL(38,0)) + 1) * _t)" +
            " * 1000000) div (CAST(n_entities AS DECIMAL(38,0)) * _t)")
            .cast("long")).as("gini_ppm"),
        when(col("_t") > 0,
          expr("(_top * 1000000) div _t").cast("long")).as("topk_share_ppm"))
  }

  /** Rank-mobility transition matrix — the cohort question the static
    * concentration panel ([[concentrationPanel]]) can't answer: do the
    * same entities stay on top period over period, or does the head
    * churn? Per period, each key's ⌊v·10⁶⌋ micro total ranks into k
    * equi-depth bins ([[equiDepthBins]]' ntile discipline — deterministic
    * under the (value, key) total order), and for every CONSECUTIVE
    * period pair the matrix counts keys moving bin i → bin j, plus the
    * row share `share_ppm = ⌊n·10⁶ / Σ_row n⌋`. A key absent from the
    * next period reads `bin_to` NULL — the churned row, counted in its
    * from-bin's denominator (disappearing IS a transition). Keys new in
    * the later period have no from-bin and don't appear (they enter the
    * NEXT pair's from side). All counts exact longs; NULL keys/periods/
    * values drop.
    *
    * Shape at 100 TB: one corpus pass to (period, key) totals, ONE
    * period-keyed exchange for the ntile windows (per-period entity
    * cardinality — the [[concentrationPanel]] contract), the from→to
    * self-join of the checkpointed bin table on (next-period, key), and
    * two bounded-table attaches: the consecutive-period pairing is a
    * lead window over the DISTINCT period table (period cardinality —
    * [[emdDrift]]'s bucket-head precedent) and the row totals are a
    * k·periods-row broadcast.
    */
  def rankMobility(
      df: DataFrame,
      keyCol: String,
      periodCol: String,
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val perKey = df
      .filter(col(keyCol).isNotNull && col(periodCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(periodCol).as("_p"), col(keyCol).cast("string").as("_k"))
      .agg(sum(floor(col(valueCol).cast("double") * 1000000L).cast("long"))
        .as("_s"))
    val wBin = Window.partitionBy(col("_p"))
      .orderBy(col("_s").asc, col("_k").asc)
    val bins = perKey.withColumn("_bin", ntile(k).over(wBin).cast("long"))
      .localCheckpoint(false) // feeds BOTH sides of the from→to join
    val pairs = bins.select(col("_p")).distinct()
      .withColumn("_pn", lead(col("_p"), 1).over(Window.orderBy(col("_p"))))
      .filter(col("_pn").isNotNull)
    val to = bins.select(col("_p").as("_pn"), col("_k"),
      col("_bin").as("_bin_to"))
    val tr = bins.join(broadcast(pairs), Seq("_p"))
      .join(to, Seq("_pn", "_k"), "left")
      .groupBy(col("_p").as("period_from"), col("_pn").as("period_to"),
        col("_bin").as("bin_from"), col("_bin_to").as("bin_to"))
      .agg(count(lit(1)).as("n_keys"))
      .localCheckpoint(false) // feeds the row totals AND the share attach
    val rowTot = tr.groupBy(col("period_from"), col("period_to"),
      col("bin_from")).agg(sum(col("n_keys")).as("_rt"))
    tr.join(broadcast(rowTot), Seq("period_from", "period_to", "bin_from"))
      .select(col("period_from"), col("period_to"), col("bin_from"),
        col("bin_to"), col("n_keys"),
        expr("(CAST(n_keys AS DECIMAL(38,0)) * 1000000) div _rt")
          .cast("long").as("share_ppm"))
  }

  /** Exact per-group Pareto frontier (skyline) under maximize-both
    * dominance on two metrics — the classic Börzsönyi et al. (ICDE'01)
    * SKYLINE operator: a row survives iff NO other row in its group has
    * `x' ≥ x ∧ y' ≥ y` with at least one strict. Duplicated optima
    * (equal (x, y)) all survive — neither dominates the other.
    *
    * Exactness: dominance is pure comparison, no arithmetic — works on
    * any orderable numeric columns as-is. The two-pass shape makes the
    * O(n²) definition linear: within an x-level only `y = max(y)` rows
    * can survive (dominated at equal x otherwise), and across levels a
    * row survives iff its y STRICTLY exceeds the running max of y over
    * all strictly-greater x (`y = prevMax` means some higher-x row
    * matches y — dominated). First level (max x) has no prevMax.
    *
    * Shape at 100 TB: one exchange to the (group, x) level maxima, the
    * running-max window rides the same group partitioning (level
    * cardinality, not corpus), and the level verdicts join back to the
    * corpus by (group, x) hash — no self-join, no global sort, output
    * is the frontier only.
    */
  def paretoFront(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("_g"), col(idCol).as("_id"),
        col(xCol).as("_x"), col(yCol).as("_y"))
      .localCheckpoint(false) // feeds the level maxima AND the verdict join
    val lvl = base.groupBy(col("_g"), col("_x"))
      .agg(max(col("_y")).as("_ymax"))
      .withColumn("_pm", max(col("_ymax")).over(
        Window.partitionBy(col("_g")).orderBy(col("_x").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
    base.join(lvl, Seq("_g", "_x"))
      .filter(col("_y") === col("_ymax") &&
        (col("_pm").isNull || col("_y") > col("_pm")))
      .select(col("_g").as(groupCol), col("_id").as(idCol),
        col("_x").as(xCol), col("_y").as(yCol))
  }
}
