package graft.ops

import graft.functions.md5Prefix64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic summary sketches — the sublinear-state primitives a corpus
  * pipeline needs when exact per-key state no longer fits anywhere: count-min
  * (frequency estimation / heavy hitters) and HyperLogLog (distinct counts).
  *
  * Both sketches are DETERMINISTIC replicas of the textbook algorithms keyed
  * on the 64-bit md5 prefix ([[graft.functions.md5Prefix64]]): no RNG, no
  * engine-private hash, so the exact same registers/cells come out of any
  * engine — a DuckDB oracle recomputes them bit-for-bit, and two clusters
  * (or two runs years apart) can MERGE their sketches safely, which is the
  * property that makes a sketch useful as a stored artifact at 100 TB.
  *
  * Scale shape: a sketch is a bounded table (depth × width cells, 2^p
  * registers) produced by one codegen'd hash aggregation over a narrow
  * exploded stream — map-side partial aggregation does the heavy lifting, the
  * exchange carries at most the sketch's own (tiny, fixed) cardinality per
  * partition, and nothing ever collects to the driver.
  */
object Sketch {

  /** 16-bit chunk `j` (0..3, MSB-first) of the 64-bit md5 prefix of `s` —
    * hex chars [1+4j, 4+4j] of `md5(s)`, the cross-engine-reproducible hash
    * family used by all sketches here.
    */
  private def md5Chunk16(h: Column, j: Int): Column = {
    require(j >= 0 && j < 4, "md5Chunk16 index out of range")
    shiftrightunsigned(h, 48 - 16 * j).bitwiseAND(lit(0xFFFFL))
  }

  /** Count-min sketch of key frequencies: a `depth` × `width` grid of
    * counters; row `j` buckets each key by the `j`-th 16-bit md5 chunk
    * mod `width`. Point estimates ([[cmsEstimate]]) take the min over rows —
    * always an overestimate, within `2e/width · N` of truth with probability
    * `1 - e^-depth` (Cormode & Muthukrishnan 2005).
    *
    * Output: `(sketch_row, cell, cell_count)` — only occupied cells, absent
    * cells are zero. `width` must divide 2^16 so `chunk mod width` stays
    * uniform; `depth` ≤ 4 (four independent 16-bit chunks per md5 prefix).
    *
    * Shape: keys pre-aggregate to `(key, count)` first (vocab-sized), so the
    * `depth`-way fan-out explodes the DICTIONARY, not the corpus stream; the
    * sketch itself is one more hash aggregation of at most depth × width
    * groups. Two exchanges total, both of bounded width.
    */
  def countMinSketch(
      df: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 4, "depth must be in [1, 4]")
    require(width > 0 && 65536 % width == 0,
      "width must divide 2^16 (keeps chunk mod width uniform)")
    // NULL keys are not counted (count_distinct semantics): they'd hash to
    // NULL cells — junk sketch rows a NULL probe could never find anyway
    val keyCounts = df
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_c"))
    val h = md5Prefix64(col("_k"))
    val cells = array((0 until depth).map(j => md5Chunk16(h, j) % width): _*)
    keyCounts
      .select(col("_c"), posexplode(cells).as(Seq("sketch_row", "cell")))
      .groupBy(col("sketch_row"), col("cell"))
      .agg(sum(col("_c")).as("cell_count"))
  }

  /** Point-estimate lookup against a [[countMinSketch]]: for each probe key,
    * `min` over the sketch rows of its cell's counter (0 when the cell is
    * empty). `width`/`depth` must match the sketch's build parameters.
    * The sketch is broadcast — it is depth × width rows by construction, so
    * probing any number of keys never shuffles.
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 4, "depth must be in [1, 4]")
    val h = md5Prefix64(col(keyCol).cast("string"))
    val cells = array((0 until depth).map(j => md5Chunk16(h, j) % width): _*)
    probes
      .select(col(keyCol).as("probe_key"), posexplode(cells).as(Seq("sketch_row", "cell")))
      .join(broadcast(sketch), Seq("sketch_row", "cell"), "left")
      .groupBy(col("probe_key"))
      .agg(min(coalesce(col("cell_count"), lit(0L))).as("est_count"))
  }

  /** Join-cardinality estimate from two [[countMinSketch]]es built with the
    * SAME `(width, depth)`: the true inner-join size on the sketched key is
    * `Σ_k f_A(k)·f_B(k)`, and `min_j Σ_cell A[j][cell]·B[j][cell]` — the
    * CMS inner product (Cormode & Muthukrishnan 2005 §4.2) — estimates it
    * from the sketches alone. Always an OVERestimate (colliding keys only
    * ADD cross terms), within `e/width · N_A·N_B` of truth with probability
    * `1 − e^−depth`; exact whenever no two distinct keys share a cell in
    * some row.
    *
    * This is the 100 TB PLANNING primitive: broadcast-vs-shuffle and
    * skew-handling decisions need the join's output size BEFORE running it,
    * and two kilobyte-scale sketches answer without re-scanning either
    * table — sketches are mergeable across partitions/days, so a nightly
    * pipeline keeps them as table metadata next to the data. Products and
    * dot sums accumulate as DECIMAL(38,0) — `N_A·N_B` cross terms overflow
    * int64 at petabyte row counts; exact decimal keeps the estimate (and
    * the row-min decision) engine-identical.
    *
    * A sketch row with NO overlapping occupied cells dots to 0 — that row
    * PROVES the key sets are disjoint, so the estimate must be 0, which is
    * why the per-row dots left-join a generated full row set rather than
    * trusting the join to surface every row. Output: one row,
    * `est_join_size DECIMAL(38,0)`.
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 4, "depth must be in [1, 4]")
    val dec = "decimal(38,0)"
    // both sketches are ≤ depth × width rows by construction — broadcast
    // keeps the dot join (and the row-set attach) exchange-free
    val dots = a.select(col("sketch_row"), col("cell"), col("cell_count").as("_ca"))
      .join(broadcast(
        b.select(col("sketch_row"), col("cell"), col("cell_count").as("_cb"))),
        Seq("sketch_row", "cell"))
      .groupBy(col("sketch_row"))
      .agg(sum(col("_ca").cast(dec) * col("_cb").cast(dec)).as("_dot"))
    a.sparkSession.range(depth)
      .select(col("id").cast("int").as("sketch_row"))
      .join(broadcast(dots), Seq("sketch_row"), "left")
      .agg(min(coalesce(col("_dot"), lit(0L).cast(dec))).as("est_join_size"))
  }

  /** HyperLogLog registers over `valueCol`, optionally per `groupCols` group:
    * bucket = top `p` bits of the 64-bit md5 prefix, register = max over
    * values of (leading zeros of the remaining `64-p` bits + 1). Only
    * non-empty buckets appear (absent buckets are rank 0). Registers are
    * integer-exact and mergeable by `max` — union of corpora = elementwise
    * max of their register tables.
    *
    * One codegen'd hash aggregation (group keys × at most 2^p buckets); the
    * rank ladder is a when-chain, fully codegen'd. Flajolet et al. 2007.
    */
  def hllRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      p: Int): DataFrame = {
    val (bucket, rank) = hllBucketAndRank(col(valueCol), p)
    // NULLs are not values (count_distinct semantics): an unfiltered NULL
    // would hash to a NULL bucket whose rank falls through the when-chain
    // to width+1 — a phantom register that corrupts every estimate
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ bucket.as("bucket") :+ rank.as("_rank"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("_rank")).as("max_rank"))
  }

  /** The (bucket, rank) column pair underlying [[hllRegisters]] — exposed so
    * other grouping shapes (e.g. streaming event-time windows,
    * [[graft.streaming.EventStream]]) can aggregate the same registers:
    * any `groupBy(..., bucket).agg(max(rank))` is a valid HLL register table.
    */
  private[graft] def hllBucketAndRank(value: Column, p: Int): (Column, Column) = {
    require(p >= 4 && p <= 14, "p must be in [4, 14]")
    val width = 64 - p
    val h = md5Prefix64(value.cast("string"))
    val bucket = shiftrightunsigned(h, width)
    val rest = h.bitwiseAND(lit((1L << width) - 1))
    // rank r <=> exactly r-1 leading zeros in the width-bit field:
    // first match wins in the when-chain, rest == 0 => width + 1
    val rank = (2 to width)
      .foldLeft(when(rest >= (1L << (width - 1)), 1)) { (c, r) =>
        c.when(rest >= (1L << (width - r)), r)
      }
      .otherwise(width + 1)
    (bucket, rank)
  }

  /** Merge HLL register tables by collapsing grouping dimensions: the
    * registers of a UNION of sets are the bucket-wise max of the parts'
    * registers — the algebra that makes HLL the distributed-systems
    * distinct-counter (per-partition sketches merge without the raw
    * values; a day's registers roll up to a month's by max). `groupCols`
    * are the dimensions KEPT; everything else (e.g. the per-source column
    * the registers were built under) collapses into the merge. The output
    * is itself a valid [[hllRegisters]] table: merge-then-estimate equals
    * build-over-the-union by construction (max is associative/commutative/
    * idempotent — the [[graft.ops.LatestStore]] argument, spec- and
    * oracle-pinned).
    */
  def hllMergeRegisters(registers: DataFrame, groupCols: Seq[String]): DataFrame =
    registers
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("max_rank")).as("max_rank"))

  /** Intersection-cardinality estimate for two register tables over the
    * same value domain: inclusion–exclusion on the HLL estimates —
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)` with the union estimated from
    * the MERGED registers — clamped at 0 (the subtraction of three noisy
    * estimates can go slightly negative on small overlaps; HLL has no
    * native intersection, this is the standard derived form and its error
    * compounds accordingly — monitoring math, like [[hllEstimate]]
    * itself). Returns one row: `(n_a, n_b, n_union, n_intersect)`.
    *
    * Both inputs must have been built with THIS `p`: registers of
    * different precisions occupy different bucket domains and their
    * bucket-wise max is meaningless, so each side's buckets are range-
    * checked against `2^p` INLINE (a `raise_error` guard inside the same
    * scan — no extra validation job) and an out-of-domain bucket fails the
    * query loudly instead of silently producing a bogus estimate.
    */
  def hllIntersectEstimate(a: DataFrame, b: DataFrame, p: Int): DataFrame = {
    def checked(df: DataFrame, side: String): DataFrame =
      df.withColumn("bucket",
        when(col("bucket") >= 0 && col("bucket") < (1 << p), col("bucket"))
          .otherwise(raise_error(concat(
            lit(s"hllIntersectEstimate: $side bucket outside [0, 2^$p) — " +
              s"registers built with a different precision than p=$p: "),
            col("bucket").cast("string")))))
    def est(df: DataFrame, name: String): DataFrame =
      hllEstimate(df, Nil, p).select(col("estimate").as(name))
    val (ca, cb) = (checked(a, "left input"), checked(b, "right input"))
    val merged = hllMergeRegisters(ca.unionByName(cb), Nil)
    est(ca, "n_a").crossJoin(est(cb, "n_b")).crossJoin(est(merged, "n_union"))
      .withColumn("n_intersect",
        greatest(col("n_a") + col("n_b") - col("n_union"), lit(0.0)))
  }

  /** Mergeable QUANTILE sketch — the family's third member (CMS answers
    * "how often", HLL "how many distinct", this answers "how is it
    * distributed"): a per-group DETERMINISTIC bottom-k register table under
    * the [[graft.ops.Sampling.prioritySample]] md5-priority rule —
    * `priority = md5(seed:id)`, keep each group's k smallest (priority,
    * value) rows. A bottom-k priority pick IS a uniform k-row sample of
    * the group, so rank statistics over the registers estimate the
    * group's quantiles with the standard `O(√(q(1−q)/k))` rank error —
    * and unlike a t-digest the pick is a pure function of (seed, ids):
    * engine-replayable bit-for-bit (the DuckDB oracle re-derives every
    * register row), stable under retries, and MERGEABLE — the bottom-k of
    * a union is the bottom-k of the parts' bottom-k's
    * ([[quantileMergeRegisters]]), the [[hllMergeRegisters]] algebra with
    * min-k in place of bucket-max. Rows with NULL id, NULL value, or
    * (grouped) all-NULL groups contribute nothing; NULL group keys form
    * their own group (groupBy semantics, both engines).
    *
    * Output: `groupCols…, priority (md5 hex), v` — at most k rows per
    * group. Shape at 100 TB: one window exchange over the NARROW
    * (groups, priority, value) projection, rank-filtered to k — state is
    * k·groups rows forever after, and daily register tables roll up to
    * months without touching raw data (the HLL posture). Ungrouped builds
    * plan as TakeOrdered (per-partition heads + driver merge of k-row
    * lists), never a global sort.
    */
  def quantileRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int,
      seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    val pr = md5(concat(lit(seed), lit(":"), col(idCol).cast("string")).cast("binary"))
    val narrow = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(pr.as("priority"), col(valueCol).as("v")): _*)
    bottomK(narrow, groupCols, k)
  }

  /** Per-group bottom-k of a register-shaped frame by (priority, v). */
  private def bottomK(reg: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    if (groupCols.isEmpty) reg.orderBy(col("priority"), col("v")).limit(k)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("priority"), col("v"))
      reg.withColumn("_qr_rn", row_number().over(w))
        .filter(col("_qr_rn") <= k).drop("_qr_rn")
    }

  /** Merge [[quantileRegisters]] tables: dedup identical register rows
    * (the same id sampled by two overlapping parts carries the same
    * priority — merging a day twice is a no-op, the idempotence that makes
    * the artifact safe to re-ingest), then re-take each group's bottom-k.
    * Merge-then-estimate ≡ build-over-the-union by construction (min-k is
    * associative/commutative/idempotent on deduped rows — spec-pinned,
    * the [[hllMergeRegisters]] argument). `groupCols` are the dimensions
    * KEPT; anything else must already be absent from the register schema.
    */
  def quantileMergeRegisters(
      registers: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    bottomK(registers.distinct(), groupCols, k)

  /** One micro-batch of streaming quantile-sketch maintenance: build the
    * batch's registers, merge them into the persisted store, write back.
    * EXACTLY-ONCE STATE FROM AT-LEAST-ONCE DELIVERY BY ALGEBRA, not by
    * bookkeeping: a replayed batch contributes the identical (priority,
    * value) rows, [[quantileMergeRegisters]]' dedup makes re-merging them
    * a no-op — the same argument as the HLL registers' bucket-max and
    * [[LatestStore]]'s arg-max, this time via min-k idempotence. The store
    * stays at most k·groups rows forever (bounded state regardless of
    * stream history), so the full-store rewrite per batch is kilobytes.
    *
    * CRASH SAFETY: the store IS the state (a stream cannot rebuild it), so
    * the swap is generational, never an in-place overwrite — a
    * `mode("overwrite")` of the path being read deletes the target before
    * the write job commits, and a mid-write failure would destroy the only
    * copy. Instead the merged registers commit fully to a `.__tmp` sibling,
    * the live generation is parked at `.__prev`, and two renames make the
    * new generation live; at every crash point at least one COMPLETE
    * generation exists on disk, and the next call's recovery preamble
    * promotes it (tmp-with-_SUCCESS first — it is the newer committed
    * generation — else prev). A batch whose tmp never committed is simply
    * re-merged on redelivery; min-k idempotence makes the replay a no-op.
    */
  def quantileUpsertBatch(
      batch: DataFrame,
      path: String,
      groupCols: Seq[String],
      valueCol: String,
      idCol: String,
      k: Int,
      seed: String): Unit = {
    val spark = batch.sparkSession
    val incoming = quantileRegisters(batch, groupCols, valueCol, idCol, k, seed)
    // generational commit via the shared StoreSwap protocol (this store
    // is where the pattern started); depth 0 — the store is flat, every
    // generation is complete, adoption is vacuous
    if (!StoreSwap.recover(spark, path, depth = 0)) incoming.write.parquet(path)
    else {
      val merged = quantileMergeRegisters(
        spark.read.parquet(path).unionByName(incoming), groupCols, k)
      StoreSwap.swapIn(spark, path, depth = 0)(merged.write.parquet(_))
    }
  }

  /** Grouped quantile estimates from a [[quantileRegisters]] table: for
    * each requested ppm fraction, the register value at ascending-value
    * rank `⌊q·(n−1)⌋ + 1` of the group's n registers — the
    * [[graft.ops.Stats.groupedQuantiles]] discrete rank rule applied to
    * the sample, all integer (ppm in, rank arithmetic in BIGINT, the
    * group's own value type out; priority breaks value ties
    * deterministically). Output: `groupCols…, q_ppm, n_sample, estimate`
    * — long form, one row per (group, q). Register tables are ≤ k rows
    * per group, so this is window + filter over a bounded table: answers
    * come from STATE, the raw corpus is never touched.
    */
  def quantileEstimate(
      registers: DataFrame,
      groupCols: Seq[String],
      qPpms: Seq[Long]): DataFrame = {
    require(qPpms.nonEmpty && qPpms.forall(q => q >= 0 && q <= 1000000L),
      "quantile fractions are ppm in [0, 1000000]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("v"), col("priority"))
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    registers
      .withColumn("_qe_rn", row_number().over(w))
      .withColumn("_qe_n", count(lit(1)).over(part))
      .withColumn("q_ppm", explode(array(qPpms.map(q => lit(q)): _*)))
      .filter(col("_qe_rn") ===
        expr("q_ppm * (_qe_n - 1) div 1000000 + 1"))
      .select(groupCols.map(col) ++ Seq(col("q_ppm"),
        col("_qe_n").as("n_sample"), col("v").as("estimate")): _*)
  }

  /** Cardinality estimate from a [[hllRegisters]] table (per group when
    * `groupCols` is non-empty): the standard HLL estimator with the
    * small-range (linear counting) correction. Double-valued — intended for
    * monitoring/specs; the registers themselves are the exact, mergeable,
    * oracle-checkable artifact.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = (1 << p).toDouble
    val alpha =
      if (p == 4) 0.673 else if (p == 5) 0.697 else if (p == 6) 0.709
      else 0.7213 / (1 + 1.079 / m)
    val agg = registers
      .groupBy(groupCols.map(col): _*)
      .agg(sum(pow(lit(0.5), col("max_rank"))).as("_sum"),
        count(lit(1)).as("_nonEmpty"))
      .withColumn("_zeros", lit(m) - col("_nonEmpty"))
      // absent buckets contribute 2^-0 = 1 each
      .withColumn("_raw", lit(alpha * m * m) / (col("_sum") + col("_zeros")))
    agg.select(groupCols.map(col) :+
      // empty register table (global groupBy of zero rows): _sum is NULL and
      // _raw would propagate it — the cardinality of no data is 0
      when(col("_nonEmpty") === 0, lit(0.0))
        .when(col("_raw") <= 2.5 * m && col("_zeros") > 0,
          lit(m) * log(lit(m) / col("_zeros")))
        .otherwise(col("_raw")).as("estimate"): _*)
  }

  // ---------------------------------------------------------------- KMV ---

  /** 2^60 — the size of the KMV hash space: 15 hex chars of md5, always
    * positive in an int64, replayable in any engine as
    * `CAST('0x' || substr(md5(seed || ':' || v), 1, 15) AS BIGINT)`.
    */
  private val KmvSpace = 1152921504606846976L

  private def kmvHash(v: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), lit(":"), v.cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long")

  /** K-Minimum-Values (bottom-k) distinct sketch — the sketch family's
    * fourth member, and the one that closes the gap HLL leaves open: HLL
    * registers (rows 75/186) union perfectly but CANNOT intersect (the
    * inclusion–exclusion estimate there degrades with set count), while a
    * KMV sketch supports union AND intersection/Jaccard natively, because
    * the k smallest hashes of A ∪ B are a uniform coordinated sample of
    * the union on which membership in A and B is directly observable
    * (Beyer et al., "On synopses for distinct-value estimation under
    * multiset operations", SIGMOD'07 — the same bottom-k coordinated-
    * sample law [[graft.ops.Sampling.prioritySample]] uses for rows).
    *
    * The registers are the artifact: the k smallest DISTINCT 60-bit md5
    * hashes per group — k rows/group, persistable, mergeable ([[
    * kmvMergeRegisters]]), deterministic in any engine (pure md5 lane, no
    * floats). Estimates derive from registers alone: with n < k registers
    * the sketch IS the value set (exact count); otherwise the k-th
    * smallest hash U_(k) estimates density as (k−1)·2^60 / U_(k).
    *
    * Scale shape: the register build is one groupBy over (group, hash)
    * with map-side combine — the same shuffle class as any exact
    * distinct — then a group-partitioned bottom-k window over the
    * DISTINCT-hash table. The sketch's 100 TB value is what comes after:
    * nightly unions, cross-corpus overlap matrices, and contamination
    * screens all run on k-row register slices without re-scanning text.
    */
  /** Sub-bucket count for the bottom-k prefilter: the final per-group
    * window sees at most this many × k rows, and each prefilter sort task
    * handles ~distinct/(groups·256) hashes.
    */
  private val KmvPreBuckets = 256

  /** Exact bottom-k per group with a PARALLEL prefilter (r20): a
    * `row_number` window partitioned by the group columns alone runs each
    * group's ENTIRE distinct-hash table through one task's sort — for the
    * ungrouped (or few-group) sketch that is a single-task sort of every
    * distinct value in the corpus at 100 TB. Ranking first within
    * `(group, kmv_h mod 256)` keeps a provable superset — if h is among a
    * group's k smallest overall, fewer than k hashes of that group are
    * smaller, so certainly fewer than k within h's own sub-bucket — and
    * bounds the final window's input at 256·k rows per group. The
    * sub-bucket key is a pure function of the hash (deterministic under
    * retries, unlike spark_partition_id), and hashes are distinct within a
    * group, so both row_numbers are total orders and the surviving set is
    * exactly the per-group bottom-k either way.
    */
  private def bottomKByHash(distinctHashes: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = groupCols.map(col)
    val wPre = Window
      .partitionBy(keys :+ pmod(col("kmv_h"), lit(KmvPreBuckets.toLong)): _*)
      .orderBy(col("kmv_h"))
    val w =
      if (groupCols.isEmpty) Window.orderBy(col("kmv_h"))
      else Window.partitionBy(keys: _*).orderBy(col("kmv_h"))
    distinctHashes
      .withColumn("_pr", row_number().over(wPre))
      .filter(col("_pr") <= k)
      .drop("_pr")
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  def kmvRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int,
      seed: String): DataFrame = {
    require(k >= 2, "k must be >= 2 (the estimator divides by k-1)")
    val keys = groupCols.map(col)
    val distinctHashes = df
      .filter(col(valueCol).isNotNull)
      .select(keys :+ kmvHash(col(valueCol), seed).as("kmv_h"): _*)
      .distinct()
    bottomKByHash(distinctHashes, groupCols, k)
  }

  /** Merge KMV register tables by collapsing grouping dimensions (or
    * unioning snapshots stacked with `unionByName` first): dedup hashes
    * per surviving group, keep the k smallest. Exact-mergeable: because
    * each input sketch holds ITS k smallest, every hash in the merged
    * bottom-k is present in at least one input — bottom-k(bottom-k(A) ∪
    * bottom-k(B)) = bottom-k(A ∪ B), so a re-sketch of the union lands on
    * identical registers (double-ingest idempotent, like the quantile
    * sketch's dedup-by-row discipline).
    */
  def kmvMergeRegisters(
      registers: DataFrame,
      groupCols: Seq[String],
      k: Int): DataFrame = {
    val keys = groupCols.map(col)
    bottomKByHash(
      registers.select(keys :+ col("kmv_h"): _*).distinct(), groupCols, k)
  }

  /** Distinct-cardinality estimate per group from a [[kmvRegisters]]
    * table, in the exact integer lane: n < k registers means the sketch
    * saw every distinct value (estimate = n, exact); at capacity the
    * estimate is ⌊(k−1)·2^60 / U_(k)⌋ with U_(k) = max register = the
    * k-th smallest hash. DECIMAL(38,0) holds the (k−1)·2^60 product
    * exactly (it overflows int64 from k=9), and integral `div` makes the
    * replay bit-identical in any engine.
    */
  def kmvEstimate(
      registers: DataFrame,
      groupCols: Seq[String],
      k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val keys = groupCols.map(col)
    registers
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_registers"), max(col("kmv_h")).as("_hmax"))
      .select(keys ++ Seq(
        col("n_registers"),
        when(col("n_registers") < k || col("_hmax") <= 0, col("n_registers"))
          .otherwise(expr(
            s"(CAST(${k - 1} AS DECIMAL(38,0)) * $KmvSpace) div _hmax")
            .cast("long")).as("est_distinct")): _*)
  }

  /** Pairwise overlap estimates between every two groups of ONE register
    * table — the operation HLL cannot do: for each group pair (a, b) with
    * a < b in the group column's own ordering, the k smallest hashes of
    * the UNION of the two sketches form a coordinated uniform sample of
    * A ∪ B; the fraction of that sample present in BOTH sketches is the
    * Jaccard estimate, and Jaccard × union-estimate is the intersection
    * estimate — all in the integral-ppm lane.
    *
    * Output per pair: `n_common` (shared registers in the union sample),
    * `n_union_sketch` (sample size, min(k, |regs_a ∪ regs_b|)),
    * `union_est`, `jaccard_ppm`, `intersect_est`.
    *
    * Scale shape: pairs come from a self-join of the group table (G²/2
    * rows — G is a dimension like source or language, not the corpus) and
    * ride a broadcast onto the k-row register slices; per-pair work is at
    * most 2k rows through one window. The corpus was only ever touched by
    * the register build.
    */
  def kmvPairwise(
      registers: DataFrame,
      groupCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    import org.apache.spark.sql.expressions.Window
    // THREE consumers read the register slice (the pair builder and both
    // membership sides) — checkpoint it so the register build's lineage
    // (corpus distinct + bottom-k window) runs once, not three times
    val regs = registers.select(col(groupCol).as("_rg"), col("kmv_h"))
      .localCheckpoint(false)
    // G² pair table from a non-equi self-cross of the G-row group list —
    // a broadcast nested-loop over two dimension-sized frames by design
    // (G is a source/language dimension, never the corpus); checkpointed
    // because both membership sides broadcast it
    val groups = regs.select(col("_rg").as("_g")).distinct()
    val pairs = groups.select(col("_g").as("group_a"))
      .join(groups.select(col("_g").as("group_b")),
        col("group_a") < col("group_b"))
      .localCheckpoint(false)
    val sideA = regs.join(broadcast(pairs), col("_rg") === col("group_a"))
      .select(col("group_a"), col("group_b"), col("kmv_h"),
        lit(1).as("_ina"), lit(0).as("_inb"))
    val sideB = regs.join(broadcast(pairs), col("_rg") === col("group_b"))
      .select(col("group_a"), col("group_b"), col("kmv_h"),
        lit(0).as("_ina"), lit(1).as("_inb"))
    val w = Window.partitionBy(col("group_a"), col("group_b"))
      .orderBy(col("kmv_h"))
    sideA.unionByName(sideB)
      .groupBy(col("group_a"), col("group_b"), col("kmv_h"))
      .agg(max(col("_ina")).as("_a"), max(col("_inb")).as("_b"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .groupBy(col("group_a"), col("group_b"))
      .agg(
        sum(col("_a") * col("_b")).cast("long").as("n_common"),
        count(lit(1)).as("n_union_sketch"),
        max(col("kmv_h")).as("_hmax"))
      .select(
        col("group_a"), col("group_b"), col("n_common"), col("n_union_sketch"),
        when(col("n_union_sketch") < k || col("_hmax") <= 0,
          col("n_union_sketch"))
          .otherwise(expr(
            s"(CAST(${k - 1} AS DECIMAL(38,0)) * $KmvSpace) div _hmax")
            .cast("long")).as("union_est"))
      .withColumn("jaccard_ppm",
        expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000) div n_union_sketch")
          .cast("long"))
      .withColumn("intersect_est",
        expr("(CAST(n_common AS DECIMAL(38,0)) * union_est) div n_union_sketch")
          .cast("long"))
  }
}
