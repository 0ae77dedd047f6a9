package graft.ops

import graft.sources.FormatIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checking — the Deequ-style
  * release gate a training-data pipeline runs before a corpus snapshot
  * ships (the reference's source-validation step,
  * data_engine_offline_store.py:211-238, checks only that columns exist
  * and types map; this is the value-level generalization).
  *
  * One call = one panel: every constraint becomes one output row
  * `(check, col_name, n_rows, n_violations, passed)`, so the gate is a
  * single `passed = false` filter over the panel and the evidence (the
  * violation counts) rides along for the incident report.
  *
  * 100 TB plan shape: all ROW-LOCAL constraints (null, range, regex) fold
  * into ONE shared aggregate pass over the fact table — adding a tenth
  * range check adds a conditional counter to the same pass, not a scan.
  * Each uniqueness constraint is one hash aggregation on its column
  * (unavoidable: uniqueness is a distribution property), and each
  * referential constraint is one anti-join against the dimension's
  * distinct keys (broadcast when small — the planner's choice, not a
  * forced hint). The panel itself is a union of one-row frames with the
  * table count attached by a single 1-row broadcast cross join (the
  * scalar-attach idiom): bytes, not data movement.
  *
  * NULL semantics (documented contract): NULL never violates a range,
  * regex, uniqueness, or referential constraint — missingness is
  * [[NotNullCheck]]'s business alone, so one absent value trips exactly
  * one constraint, not four.
  */
object Quality {

  sealed trait QualityCheck { def column: String }
  /** violation = the value is NULL. */
  final case class NotNullCheck(column: String) extends QualityCheck
  /** violation = every row whose (non-null) value occurs more than once —
    * counts all members of a duplicated value-group, so the count answers
    * "how many rows would a dedup touch", not "how many extra values".
    */
  final case class UniqueCheck(column: String) extends QualityCheck
  /** violation = non-null value outside `[lo, hi]` (inclusive). */
  final case class RangeCheck(column: String, lo: Double, hi: Double) extends QualityCheck
  /** violation = non-null value NOT matched by `pattern` (find-anywhere
    * semantics, identical in Spark `regexp_like` and DuckDB
    * `regexp_matches` — anchor with `^...$` for full-string conformance).
    */
  final case class RegexCheck(column: String, pattern: String) extends QualityCheck
  /** violation = non-null value absent from `dim`'s `dimKey` column. */
  final case class RefCheck(column: String, dim: DataFrame, dimKey: String) extends QualityCheck

  private def checkName(c: QualityCheck): String = c match {
    case _: NotNullCheck => "not_null"
    case _: UniqueCheck  => "unique"
    case _: RangeCheck   => "in_range"
    case _: RegexCheck   => "regex"
    case _: RefCheck     => "ref_integrity"
  }

  /** Run `checks` against `df`; one output row per check:
    * `(check, col_name, n_rows, n_violations, passed)`.
    */
  def checkConstraints(df: DataFrame, checks: Seq[QualityCheck]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")

    // row-local constraints: one conditional counter each, ONE shared pass
    val rowLocal: Seq[(QualityCheck, Column)] = checks.collect {
      case c @ NotNullCheck(n) =>
        (c: QualityCheck) -> sum(when(col(n).isNull, 1L).otherwise(0L))
      case c @ RangeCheck(n, lo, hi) =>
        (c: QualityCheck) -> sum(
          when(col(n).isNotNull && (col(n) < lit(lo) || col(n) > lit(hi)), 1L).otherwise(0L))
      case c @ RegexCheck(n, p) =>
        (c: QualityCheck) -> sum(
          when(col(n).isNotNull && !regexp_like(col(n), lit(p)), 1L).otherwise(0L))
    }

    // the corpus row count rides the SAME agg definition as the row-local
    // counters so the panel has one source of aggregate truth. Catalyst
    // prunes each reference of `one` down to what it consumes: the unpivot
    // keeps only the counters, and the n_rows reference prunes to a
    // zero-column scan (ReadSchema struct<> — parquet answers it from
    // footer row counts), so the physical plan is exactly a counters pass
    // plus a metadata-only count, never a duplicated counters pass.
    val aggCols = rowLocal.zipWithIndex.map { case ((_, c), i) => c.as(s"_v$i") } :+
      count(lit(1)).as("_n_rows")
    val one = df.agg(aggCols.head, aggCols.tail: _*)
    val local: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else {
        // unpivot the single row into one panel row per constraint
        val entries = rowLocal.zipWithIndex.map { case ((chk, _), i) =>
          struct(lit(checkName(chk)).as("check"), lit(chk.column).as("col_name"),
            coalesce(col(s"_v$i"), lit(0L)).as("n_violations"))
        }
        Some(one.select(explode(array(entries: _*)).as("e"))
          .select(col("e.check"), col("e.col_name"), col("e.n_violations")))
      }

    val distributional: Seq[DataFrame] = checks.collect {
      case c @ UniqueCheck(n) =>
        df.filter(col(n).isNotNull)
          .groupBy(col(n)).agg(count(lit(1)).as("_c"))
          .filter(col("_c") > 1)
          .agg(coalesce(sum(col("_c")), lit(0L)).as("n_violations"))
          .select(lit(checkName(c)).as("check"), lit(n).as("col_name"), col("n_violations"))
      case c @ RefCheck(n, dim, k) =>
        df.filter(col(n).isNotNull)
          .join(dim.select(col(k).as(n)).distinct(), Seq(n), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(checkName(c)).as("check"), lit(n).as("col_name"), col("n_violations"))
    }

    val nRows = one.select(col("_n_rows").as("n_rows"))
    (local.toSeq ++ distributional)
      .reduce(_ unionByName _)
      .join(broadcast(nRows))
      .withColumn("passed", col("n_violations") === 0L)
      .select(col("check"), col("col_name"), col("n_rows"), col("n_violations"), col("passed"))
  }

  /** [[checkConstraints]] grouped by a snapshot column — the metric-HISTORY
    * form (Deequ's metrics repository): one row per
    * `(snapshot, check, col_name)` with that snapshot's exact
    * `(n_rows, n_violations, passed)`, the input [[anomalyFlags]] bands
    * over. The snapshot column is typically a date/batch label; NULL
    * snapshot ids group together like any key.
    *
    * 100 TB plan shape: the [[checkConstraints]] discipline per stage —
    * ONE grouped pass computes every row-local counter AND each snapshot's
    * row count (lazy-checkpointed: the unpivot and each distributional
    * left-join reuse it without re-scanning the corpus); each uniqueness
    * check pays its own `(snapshot, value)` aggregation, each referential
    * check one anti-join — all keyed by snapshot, so partials combine
    * map-side and the output is `|checks| × |snapshots|` rows: kilobytes
    * per petabyte.
    */
  def constraintMetricsByGroup(
      df: DataFrame,
      snapshotCol: String,
      checks: Seq[QualityCheck]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    val rowLocal: Seq[(QualityCheck, Column)] = checks.collect {
      case c @ NotNullCheck(n) =>
        (c: QualityCheck) -> sum(when(col(n).isNull, 1L).otherwise(0L))
      case c @ RangeCheck(n, lo, hi) =>
        (c: QualityCheck) -> sum(
          when(col(n).isNotNull && (col(n) < lit(lo) || col(n) > lit(hi)), 1L)
            .otherwise(0L))
      case c @ RegexCheck(n, p) =>
        (c: QualityCheck) -> sum(
          when(col(n).isNotNull && !regexp_like(col(n), lit(p)), 1L)
            .otherwise(0L))
    }
    val aggCols = count(lit(1)).as("n_rows") +:
      rowLocal.zipWithIndex.map { case ((_, c), i) => c.as(s"_v$i") }
    val aggd = df.groupBy(col(snapshotCol))
      .agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(false)
    val totals = aggd.select(col(snapshotCol), col("n_rows"))
    val localRows: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else {
        val entries = rowLocal.zipWithIndex.map { case ((chk, _), i) =>
          struct(lit(checkName(chk)).as("check"), lit(chk.column).as("col_name"),
            coalesce(col(s"_v$i"), lit(0L)).as("n_violations"))
        }
        Some(aggd
          .select(col(snapshotCol), col("n_rows"),
            explode(array(entries: _*)).as("e"))
          .select(col(snapshotCol), col("e.check"), col("e.col_name"),
            col("n_rows"), col("e.n_violations")))
      }
    val distributional: Seq[DataFrame] = checks.collect {
      case c @ UniqueCheck(n) =>
        val viol = df.filter(col(n).isNotNull)
          .groupBy(col(snapshotCol), col(n)).agg(count(lit(1)).as("_c"))
          .filter(col("_c") > 1)
          .groupBy(col(snapshotCol)).agg(sum(col("_c")).as("_nv"))
        totals.join(viol, Seq(snapshotCol), "left")
          .select(col(snapshotCol), lit(checkName(c)).as("check"),
            lit(n).as("col_name"), col("n_rows"),
            coalesce(col("_nv"), lit(0L)).as("n_violations"))
      case c @ RefCheck(n, dim, k) =>
        val viol = df.filter(col(n).isNotNull)
          .join(dim.select(col(k).as(n)).distinct(), Seq(n), "left_anti")
          .groupBy(col(snapshotCol)).agg(count(lit(1)).as("_nv"))
        totals.join(viol, Seq(snapshotCol), "left")
          .select(col(snapshotCol), lit(checkName(c)).as("check"),
            lit(n).as("col_name"), col("n_rows"),
            coalesce(col("_nv"), lit(0L)).as("n_violations"))
    }
    (localRows.toSeq ++ distributional)
      .reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0L)
      .select(col(snapshotCol), col("check"), col("col_name"),
        col("n_rows"), col("n_violations"), col("passed"))
  }

  /** Deequ's second half — metric ANOMALY DETECTION over a constraint
    * history: each `(check, col_name)` series' violation RATE
    * (`n_violations·10⁶ div n_rows`, DECIMAL-exact ppm — rates, not raw
    * counts, so a snapshot 3× the size doesn't false-flag) is compared
    * against the band spanned by its previous `window` snapshots
    * (trailing min − margin … max + margin, the floor clamped at 0).
    * A snapshot outside the band is `flagged` — the not-null rate that was
    * ~0 ppm for a month and jumps to 4% ships the incident, while the
    * constraint itself may still "pass" (anomaly ≠ violation: a SHIFT is
    * the signal). Snapshots with fewer than `minPrior` predecessors carry
    * NULL bands and never flag (no evidence, no alarm — including the
    * first snapshot ever); after a level shift the shifted value enters
    * the trailing band, so a persistent new normal flags once, not
    * forever. Appends `violation_ppm, n_prior, band_lo_ppm, band_hi_ppm,
    * flagged`.
    *
    * Shape at scale: the metrics table is `|checks| × |snapshots|` rows —
    * the window partitions by constraint and sorts each series by
    * snapshot label (ISO dates sort correctly as strings), so no node
    * ever touches more than one series; the corpus itself was already
    * reduced by [[constraintMetricsByGroup]].
    */
  def anomalyFlags(
      metrics: DataFrame,
      snapshotCol: String,
      window: Int,
      marginPpm: Long,
      minPrior: Int = 3): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(marginPpm >= 0, "marginPpm must be non-negative")
    require(minPrior >= 1 && minPrior <= window,
      "minPrior must be in [1, window]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("check"), col("col_name"))
      .orderBy(col(snapshotCol))
      .rowsBetween(-window, -1)
    metrics
      // n_violations ≤ n_rows can pass 2^43 at petabyte scale: the ×10⁶
      // product rides DECIMAL(38,0) into the integral division
      .withColumn("violation_ppm",
        when(col("n_rows") > 0,
          expr("(CAST(n_violations AS DECIMAL(38,0)) * 1000000) div n_rows")
            .cast("long"))
          .otherwise(lit(0L)))
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("band_lo_ppm",
        when(col("n_prior") >= minPrior,
          greatest(min(col("violation_ppm")).over(w) - marginPpm, lit(0L))))
      .withColumn("band_hi_ppm",
        when(col("n_prior") >= minPrior,
          max(col("violation_ppm")).over(w) + marginPpm))
      .withColumn("flagged",
        col("n_prior") >= minPrior &&
          (col("violation_ppm") < col("band_lo_ppm") ||
            col("violation_ppm") > col("band_hi_ppm")))
  }

  /** Persist one snapshot's [[checkConstraints]] panel into a dt-partitioned
    * metric history (the [[graft.ops.Incremental.writeDailyState]]
    * discipline): the snapshot's partition is REPLACED on re-run (dynamic
    * overwrite — re-shipping yesterday's gate is idempotent, an append
    * would double its rows), every other snapshot's files ride through
    * untouched, and a range read's `dt` predicate lands in
    * `PartitionFilters`. The panel is `|checks|` rows — the write is
    * kilobytes regardless of corpus size.
    */
  def writeMetricsSnapshot(
      df: DataFrame,
      checks: Seq[QualityCheck],
      path: String,
      snapshot: String): Unit =
    checkConstraints(df, checks)
      .withColumn("dt", lit(snapshot))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(path)

  /** Read a [[writeMetricsSnapshot]] history back; feed to [[anomalyFlags]]
    * with `snapshotCol = "dt"`.
    */
  def readMetricsHistory(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    FormatIO.readParquet(spark, path)
      .select(col("dt").cast("string").as("dt"), col("check"),
        col("col_name"), col("n_rows"), col("n_violations"), col("passed"))

  /** k-anonymity / l-diversity audit — the re-identification gate a
    * governed dataset passes before release (what ARX/Amnesia run): every
    * EQUIVALENCE CLASS of the quasi-identifier columns (the attacker's
    * join key: zip + birth-year + segment) with its row count, the number
    * of distinct non-null `sensitiveCol` values inside it (`l_distinct` —
    * a class can be k-anonymous yet leak everything if all k rows share
    * one diagnosis), and `k_anonymous = n_rows >= k`. The failing classes
    * ARE the suppression/generalization work-list. Rows with a NULL in
    * any quasi column form their own NULL-keyed classes (null-safe
    * grouping — an attacker can join on absence too). Sensitive NULLs
    * don't count toward diversity.
    *
    * Shape at 100 TB: ONE hash aggregation on the quasi-identifier key
    * (count + distinct-sensitive as a two-level agg on (quasi, sensitive)
    * then a re-agg — both map-side partial); output is
    * equivalence-class-sized, which for a sane quasi set is a dimension.
    */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, "k must be >= 2 (k=1 is vacuous)")
    df.groupBy(quasiCols.map(col) :+ col(sensitiveCol).as("_sv"): _*)
      .agg(count(lit(1)).as("_c"))
      .groupBy(quasiCols.map(col): _*)
      .agg(
        sum(col("_c")).as("n_rows"),
        sum(when(col("_sv").isNotNull, 1L).otherwise(0L)).as("l_distinct"))
      .withColumn("k_anonymous", col("n_rows") >= k)
  }

  /** Functional-dependency audit — the profiling question "does A
    * determine B" ("one status per order?", "one currency per country?"),
    * the schema-inference half Deequ ships as hasUniqueness on pairs:
    * one row per LHS value violating `lhs → rhs` (more than one distinct
    * non-null rhs), with `n_rows` and `n_distinct_rhs`. An EMPTY result
    * IS the dependency holding; the violating classes are the repair
    * work-list. NULL rhs values don't break a dependency (missingness is
    * the not-null check's business — the [[checkConstraints]] policy);
    * NULL LHS values form their own class (null-safe grouping).
    *
    * Shape: the [[kAnonymity]] two-level aggregation exactly — (lhs, rhs)
    * counts then the lhs re-agg, both map-side partial; output bounded by
    * violating-class count.
    */
  def functionalDependency(
      df: DataFrame,
      lhsCols: Seq[String],
      rhsCol: String): DataFrame = {
    require(lhsCols.nonEmpty, "lhsCols must be non-empty")
    df.groupBy(lhsCols.map(col) :+ col(rhsCol).as("_rv"): _*)
      .agg(count(lit(1)).as("_c"))
      .groupBy(lhsCols.map(col): _*)
      .agg(
        sum(col("_c")).as("n_rows"),
        sum(when(col("_rv").isNotNull, 1L).otherwise(0L)).as("n_distinct_rhs"))
      .filter(col("n_distinct_rhs") > 1L)
  }
}
