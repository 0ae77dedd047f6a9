package graft.ops

import graft.sources.FormatIO
import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Data-layout management for the 100 TB posture: how a table is WRITTEN
  * decides whether later reads shuffle.
  *
  *  - Bucketed layout: equi-joins and aggregations on the bucket keys read
  *    co-located data — no exchange at query time (verified by spec: a
  *    self-join of a bucketed table plans zero shuffles).
  *  - Time-partitioned layout: `dt=YYYY-MM-DD` directories make every
  *    time-ranged operator (pullAll/pullLatest/PIT prefilter) prune whole
  *    partitions before reading a byte.
  */
object Layout {

  /** Write `df` as a bucketed (and optionally sorted) catalog table. Joins
    * and groupBys on `keys` against this table skip their exchange; two
    * tables bucketed the same way join with no shuffle on either side.
    * `numBuckets` should be sized so one bucket fits an executor's memory at
    * the target scale (e.g. 100 TB / 2048 buckets ~ 50 GB per bucket chain).
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      keys: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil,
      overwrite: Boolean = true): Unit = {
    val w = df.write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .bucketBy(numBuckets, keys.head, keys.drop(1): _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.drop(1): _*) else w)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Write `df` partitioned by the UTC date of `tsCol` (`dt=YYYY-MM-DD`
    * dirs). Readers that filter on `dt` (or whose time range implies it)
    * scan only the matching partitions — `PartitionFilters` in the plan,
    * zero I/O for the rest.
    *
    * `dt` is derived from the UTC day number of the instant (integer epoch
    * arithmetic), NOT `date_format` — which renders in the session time
    * zone, while `GraftSource.loadWithTimeRange` prunes this column with
    * UTC-derived bounds: a non-UTC writer session would place rows in
    * directories the UTC reader then wrongly skips. The day number is an
    * EXACT integer floor-division (subtract the floor-mod, then divide the
    * exact multiple): the earlier double `floor(us / 86400e6)` rounds up to
    * the next integer for instants within ~1µs below midnight once
    * |epoch days| ≳ 2^17, filing those rows under the next day's directory.
    */
  def writeTimePartitioned(
      df: DataFrame,
      path: String,
      tsCol: String,
      overwrite: Boolean = true): Unit = {
    // pmod is a floor-mod, so (us - pmod) is an exact multiple of the day
    // length and the truncating `div` IS the floor quotient
    val day = expr(
      s"cast((unix_micros(`$tsCol`) - pmod(unix_micros(`$tsCol`), 86400000000L))" +
        " div 86400000000L as int)")
    df.withColumn("dt", date_from_unix_date(day).cast("string"))
      .write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .partitionBy("dt")
      .parquet(path)
  }

  /** Materialize [[Sampling.shuffleShards]]' deterministic layout as the
    * thing a training loader actually consumes: `shard=N/` directories of
    * position-SORTED parquet files. Rows stay on their (shard, bucket)
    * partitions from the position assignment — no extra shuffle — and each
    * task writes its buckets into the shard directories it holds, sorted by
    * position. A shard therefore arrives as MULTIPLE files (one per
    * task × shard pair), each internally position-ordered, with every
    * position appearing in exactly one file: a loader recovers global shard
    * order with a streaming k-way merge over the shard's files (k = files
    * per shard, bounded by the writer's partition count) — never a global
    * sort. One file per shard would mean one writer task per shard — the
    * exact single-task bottleneck the two-phase positions removed.
    */
  def writeTrainingShards(
      df: DataFrame,
      keyCol: String,
      numShards: Int,
      path: String,
      overwrite: Boolean = true): Unit =
    Sampling.shuffleShards(df, keyCol, numShards)
      .sortWithinPartitions(col("shard"), col("position"))
      .write
      .mode(if (overwrite) "overwrite" else "errorifexists")
      .partitionBy("shard")
      .parquet(path)

  /** Read a [[writeTrainingShards]] layout back in GLOBAL per-shard position
    * order — the loader contract the writer's scaladoc promises, implemented
    * as the promised streaming k-way merge and nothing more: each shard's
    * files are already internally position-sorted and pairwise disjoint in
    * position, so one task per shard merges its file iterators with a heap.
    * ZERO shuffles and ZERO sorts anywhere in the lineage (spec-gated): the
    * read costs exactly one pass over the bytes, where re-establishing order
    * with `repartition(shard) + sortWithinPartitions` would pay a full
    * exchange plus an O(n/shards · log) sort per task.
    *
    * Output: the written columns (originals + `position`) plus `shard`, with
    * exactly one output partition per shard dir, rows position-ascending
    * within it — what a training loop consumes shard-by-shard, expressed as
    * a DataFrame so in-engine consumers (a packing or tokenization stage
    * that needs shard order) compose without a sort.
    *
    * Mechanics: a per-read session clone pins `files.openCostInBytes` high
    * so the scan never PACKS two files into one partition (packing would
    * concatenate two sorted runs into an unsorted iterator); files larger
    * than `maxPartitionBytes` still SPLIT, which is safe — consecutive
    * row-group ranges of a position-sorted file are themselves sorted,
    * disjoint runs. The merge is a [[NarrowDependency]] RDD (one output
    * partition consuming all scan partitions of its shard), so the no-
    * shuffle claim is structural, not an optimizer accident.
    *
    * Shape at 100 TB: read parallelism = numShards (the loader's own unit —
    * shards are the atoms of data-parallel training, and numShards is sized
    * to the fleet by construction); per-task open-file bound = files per
    * shard = the writer's partition count, the same bound the writer
    * documents — [[compact]] within shard dirs is the remedy if a long
    * streaming-ingest history ever makes k large. Heap cost is O(log k) per
    * row over k buffered column readers.
    */
  def readTrainingShards(spark: SparkSession, path: String): DataFrame = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs.listStatus(hadoopPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .map(s => (s.getPath.getName.stripPrefix("shard=").toInt, s.getPath.toString))
      .sortBy(_._1)
    require(shardDirs.nonEmpty, s"no shard=N directories under $path")
    // session clone: one-file-chunk-per-partition is a read-path requirement
    // of THIS operator, not a global setting to race other queries for.
    // 2^40 ≫ maxPartitionBytes forces a partition break after every file
    // while staying far from the planner's Σ(len + openCost) overflow.
    val reader = spark.newSession()
    reader.conf.set("spark.sql.files.openCostInBytes", (1L << 40).toString)
    val schema = reader.read.parquet(shardDirs.head._2).schema
    val posIdx = schema.fieldIndex("position")
    val ord = Ordering.by[Row, Long](_.getLong(posIdx))
    val merged: Seq[RDD[Row]] = shardDirs.toSeq.map { case (sid, dir) =>
      new KWayMergeRDD(reader.read.parquet(dir).rdd, ord)
        .map(r => Row.fromSeq(r.toSeq :+ sid))
    }
    spark.createDataFrame(
      spark.sparkContext.union(merged),
      StructType(schema.fields :+ StructField("shard", IntegerType, nullable = false)))
  }

  /** Result of a [[compact]] rewrite. */
  final case class CompactStats(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Compact a parquet directory into ~`targetFileMB`-sized files — the
    * small-files remedy: a table written by many tasks (or many streaming
    * micro-batches) accumulates files whose per-file open/footer cost and
    * listing metadata dominate the scan at scale. The target file count is
    * computed from the ON-DISK byte size (not row count), so the result is
    * right regardless of schema width.
    *
    * `sortCols` additionally range-partitions and sorts within each output
    * file, so parquet row-group min/max statistics become selective on those
    * columns — post-compaction, a filter on a sort column prunes row groups
    * the same way a partition column prunes directories.
    *
    * Writes to `outPath` (never in place: an in-place overwrite would delete
    * the files that the rewriting scan is still reading).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      outPath: String,
      targetFileMB: Int = 512,
      sortCols: Seq[String] = Nil): CompactStats = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(hadoopPath, true)
    var bytes = 0L
    var nFiles = 0
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; nFiles += 1 }
    }
    val target = math.max(1, math.ceil(bytes.toDouble / (targetFileMB.toLong << 20)).toInt)
    val df = spark.read.parquet(path)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(target, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(target)
    shaped.write.mode("errorifexists").parquet(outPath)
    val outFiles = fs.listFiles(new org.apache.hadoop.fs.Path(outPath), true)
    var nOut = 0
    while (outFiles.hasNext) {
      if (outFiles.next().getPath.getName.endsWith(".parquet")) nOut += 1
    }
    CompactStats(nFiles, nOut, bytes)
  }

  /** Parquet write with per-column BLOOM FILTERS — the point-lookup lever
    * the zone map cannot provide: min/max boxes prune RANGES, but a
    * high-cardinality id scattered uniformly (the usual case for join/
    * lookup keys after hashing) intersects every box, while a bloom filter
    * answers "this row group cannot contain key X" directly. Parquet
    * readers (Spark's vectorized reader included, `parquet.filter.bloom.
    * enabled`, default on) consult the filter for `=` / `IN` predicates and
    * skip whole row groups — at 100 TB a point lookup on a bloom-indexed
    * key touches the footer + filter bytes of most files and the data pages
    * of almost none.
    *
    * `ndvPerCol` sizes each filter (bits ≈ ndv × ~10 for the default FPP);
    * an honest NDV estimate per ROW GROUP is what matters — oversizing
    * wastes footer bytes, undersizing inflates false positives, and
    * [[graft.ops.Sketch.hllEstimate]] is the sanctioned way to measure it.
    * This is a WRITE-side contract: files remain plain parquet, readable by
    * anything; readers without bloom support just ignore the extra bytes.
    */
  def writeWithBloomFilters(
      df: DataFrame,
      path: String,
      ndvPerCol: Map[String, Long],
      rowGroupMB: Int = 128): Unit = {
    require(ndvPerCol.nonEmpty, "name at least one bloom-filter column")
    ndvPerCol.foreach { case (c, ndv) =>
      require(ndv > 0, s"column $c: ndv must be positive")
      require(df.columns.contains(c), s"column $c not in the frame")
    }
    val w = df.write.option("parquet.block.size", (rowGroupMB.toLong << 20).toString)
    ndvPerCol.foldLeft(w) { case (acc, (c, ndv)) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.mode("errorifexists").parquet(path)
  }

  /** Per-column rank bits for a k-column Morton key: 16 bits (65 536 bins)
    * up to three columns (62/4 = 15, so four columns get 15 bits), then
    * 62/k so `k * bits <= 62` stays inside a positive long. Resolution only
    * bounds how finely file boxes can cut value space — never correctness
    * (the manifest records true min/max).
    */
  private def mortonBits(k: Int): Int = math.min(16, 62 / k)

  /** `bits`-bit rank of a numeric column over explicit `[lo, hi)` bounds —
    * the histogram bin arithmetic at `2^bits` bins, clamped into the edge
    * ranks. Explicit bounds keep the rank (and so the whole layout) a pure
    * function of the values, never of the dataset being written.
    */
  private def rankBits(
      c: org.apache.spark.sql.Column, lo: Double, hi: Double, bits: Int) = {
    val bins = 1L << bits
    val w = (hi - lo) / bins.toDouble
    least(greatest(floor((c - lo) / w), lit(0.0)), lit((bins - 1).toDouble))
      .cast("long")
  }

  /** Interleave k rank columns (each `bits` wide, `k * bits <= 62`) into one
    * Morton (Z-order) key: bit j of column i lands at position `j*k + i`.
    * The generic construction is `k * bits` codegen'd shift/and/or triples —
    * integer-only, no UDF, evaluated once per row on the write path where
    * shuffle + IO dominate anyway.
    */
  private def mortonK(ranks: Seq[org.apache.spark.sql.Column], bits: Int) = {
    val k = ranks.size
    val terms = for {
      (r, i) <- ranks.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftrightunsigned(r, j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** The Morton key for a set of `(column, lo, hi)` index specs — shared by
    * the write and append paths so both produce the identical layout. */
  private def mortonKey(indexes: Seq[(String, Double, Double)]) = {
    require(indexes.nonEmpty, "name at least one index column")
    require(indexes.size <= 8, "more than 8 Z-order columns stops skipping " +
      "anything (each gets <8 rank bits); split the layout instead")
    indexes.foreach { case (c, lo, hi) =>
      require(hi > lo, s"column $c: need hi > lo") }
    val bits = mortonBits(indexes.size)
    mortonK(indexes.map { case (c, lo, hi) => rankBits(col(c), lo, hi, bits) },
      bits)
  }

  /** Per-file min/max aggregation over the index columns for `files` (or the
    * whole table when `files` is empty) — the manifest rows. Columns are
    * positional (`min_0/max_0, ...`) in the write-call's index order, which
    * is the layout's documented contract exactly like the bounds. */
  private def manifestRows(
      spark: SparkSession, path: String, files: Seq[String],
      indexCols: Seq[String]): DataFrame = {
    val data = if (files.isEmpty) spark.read.parquet(path)
      else spark.read.parquet(files: _*)
    data.select(input_file_name().as("file") +: indexCols.map(col): _*)
      .groupBy(col("file"))
      .agg(
        min(col(indexCols.head)).as("min_0"),
        max(col(indexCols.head)).as("max_0") +:
          indexCols.zipWithIndex.tail.flatMap { case (c, i) =>
            Seq(min(col(c)).as(s"min_$i"), max(col(c)).as(s"max_$i"))
          }: _*)
  }

  /** Manifest reader shared by every zone-map consumer. Layouts written
    * before the k-column generalization named the two manifest box columns
    * `min_a/max_a/min_b/max_b`; the positional schema is `min_0/max_0/
    * min_1/max_1`. An on-disk layout is a durable artifact — renaming the
    * legacy columns on READ (a ↦ 0, b ↦ 1) keeps those tables pruning
    * without a rewrite, and new writes only ever produce the positional
    * names. */
  private def readManifest(spark: SparkSession, path: String): DataFrame = {
    val m = FormatIO.readParquet(spark, s"$path/_zonemap")
    if (m.columns.contains("min_a"))
      m.withColumnsRenamed(Map(
        "min_a" -> "min_0", "max_a" -> "max_0",
        "min_b" -> "min_1", "max_b" -> "max_1"))
    else m
  }

  /** Manifest-filter for a query box: a file survives iff its box intersects
    * the query box on EVERY index dimension. */
  private def boxIntersects(box: Seq[(Double, Double)]): org.apache.spark.sql.Column =
    box.zipWithIndex.map { case ((lo, hi), i) =>
      col(s"min_$i") <= hi && col(s"max_$i") >= lo
    }.reduce(_ && _)

  /** Z-ordered write + zone-map manifest — the data-skipping layout every
    * lakehouse table format (Delta OPTIMIZE ZORDER, Iceberg sort orders,
    * Hudi clustering) builds for multi-column selective scans, here
    * first-class: rows sort by the Morton interleave of the index columns'
    * ranks, so file boundaries become axis-aligned boxes in index space and
    * a selective range on ANY indexed column touches only the files whose
    * box intersects it — where a linear sort on `a` leaves a `b`-range
    * scattered across every file. After the write, one columnar
    * scan of ONLY the index columns builds the per-file min/max manifest
    * (`_zonemap/`, underscore-prefixed so normal parquet reads ignore it).
    *
    * At 100 TB the manifest is the entire point: [[readZonePruned]] lists
    * candidate files from the kilobyte-scale manifest BEFORE the scan, so a
    * selective query over a petabyte table opens only the files that can
    * contain matches — the same I/O shape as partition pruning, but on
    * value ranges of any k numeric columns, orthogonal to the partition
    * scheme. Null index values clamp nowhere: their rows sort to one end
    * (null ranks NULL → morton NULL → range-partitioner null group) and
    * their files carry null-aware min/max, which the pruner treats as
    * non-matching — correct, because a range predicate never selects nulls.
    *
    * Bounds are an explicit contract (the [[graft.ops.Stats.histogram]]
    * discipline): values outside clamp into edge ranks, so the layout
    * degrades gracefully rather than failing, and the SAME bounds document
    * the layout for every future writer of the table.
    */
  def writeZoneMapped(
      df: DataFrame,
      path: String,
      indexA: (String, Double, Double),
      indexB: (String, Double, Double),
      numFiles: Int): Unit =
    writeZoneMapped(df, path, Seq(indexA, indexB), numFiles)

  /** k-column form — `OPTIMIZE ZORDER BY (a, b, c, ...)`: rows sort by the
    * Morton interleave of ALL the index columns' ranks (each column gets
    * `min(16, 62/k)` rank bits), so file boundaries become axis-aligned
    * k-boxes and a selective range on ANY indexed column prunes. More
    * columns = coarser cuts per column (the standard lakehouse guidance:
    * Z-order a handful of filter dimensions, not every column), enforced at
    * 8 columns where per-column resolution stops paying.
    */
  def writeZoneMapped(
      df: DataFrame,
      path: String,
      indexes: Seq[(String, Double, Double)],
      numFiles: Int): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val z = mortonKey(indexes)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("errorifexists").parquet(path)
    manifestRows(df.sparkSession, path, Seq.empty, indexes.map(_._1))
      .coalesce(1).write.mode("errorifexists").parquet(s"$path/_zonemap")
  }

  /** Incremental zone-mapped ingest — the nightly-append sibling of
    * [[writeZoneMapped]] (the ANN family has `appendToIvfIndex`; this is the
    * layout family's): the NEW batch Z-sorts into its own `numFiles` files
    * and appends, and the manifest updates by scanning ONLY the appended
    * files (the before/after listing diff names them) — at 100 TB the
    * existing corpus is never re-read, which is the entire point of an
    * append path. Existing manifest rows ride through UNTOUCHED (the spec
    * pins them byte-identical), so the manifest stays the exact union of
    * every file's true min/max. Each batch's files cover only that batch's
    * value boxes; interleaving batches degrades PRUNING (boxes from
    * different batches may overlap — drift accumulates in box overlap, not
    * correctness), and a periodic [[writeZoneMapped]] rewrite is the honest
    * re-cluster, exactly as the IVF scaladoc prescribes rebuilds.
    */
  def appendZoneMapped(
      df: DataFrame,
      path: String,
      indexA: (String, Double, Double),
      indexB: (String, Double, Double),
      numFiles: Int): Unit =
    appendZoneMapped(df, path, Seq(indexA, indexB), numFiles)

  /** k-column form of the incremental append — the index specs MUST match
    * the ones the layout was written with (the same bounds-are-a-contract
    * discipline; the manifest's positional columns pin the arity). */
  def appendZoneMapped(
      df: DataFrame,
      path: String,
      indexes: Seq[(String, Double, Double)],
      numFiles: Int): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), false)
      val out = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          out += f.toString
      }
      out.toSet
    }
    val before = dataFiles()
    val z = mortonKey(indexes)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("append").parquet(path)
    val added = (dataFiles() -- before).toSeq.sorted
    if (added.nonEmpty) {
      val newRows = manifestRows(spark, path, added, indexes.map(_._1))
      val manifestPath = s"$path/_zonemap"
      val merged = readManifest(spark, path).unionByName(newRows)
      // the manifest is kilobytes — materialize before overwriting its input
      val rows = merged.collect().toIndexedSeq
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), merged.schema)
      out.write.mode("overwrite").parquet(manifestPath)
    }
  }

  /** Zone-pruned read: intersect the query box `[aLo, aHi] × [bLo, bHi]`
    * with the manifest's per-file boxes, read ONLY the surviving files, and
    * re-apply the precise predicate (the manifest proves absence, never
    * presence). Driver state = the manifest (one row per file — kilobytes
    * per petabyte at sane file sizes). A file whose min/max are NULL (all
    * index values null) prunes away — correct: a range predicate never
    * selects null. Result ≡ full scan + filter, spec-gated; the scan's
    * file list is the pruned set, which is the entire I/O win.
    */
  def readZonePruned(
      spark: SparkSession,
      path: String,
      colA: String, aLo: Double, aHi: Double,
      colB: String, bLo: Double, bHi: Double): DataFrame =
    readZonePruned(spark, path, Seq((colA, aLo, aHi), (colB, bLo, bHi)))

  /** k-column form: the query box names every index column in the layout's
    * write order (positional manifest columns), with its `[lo, hi]` range —
    * pass the full domain for a dimension the query doesn't constrain. */
  def readZonePruned(
      spark: SparkSession,
      path: String,
      box: Seq[(String, Double, Double)]): DataFrame = {
    require(box.nonEmpty, "name every index column of the layout")
    val files = readManifest(spark, path)
      .filter(boxIntersects(box.map { case (_, lo, hi) => (lo, hi) }))
      .select("file").collect().map(_.getString(0))
    val pred = box.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    if (files.isEmpty) {
      // preserve the schema without reading data files
      spark.read.parquet(path).filter(lit(false))
    } else {
      spark.read.parquet(files.toIndexedSeq: _*).filter(pred)
    }
  }

  /** The pruner's candidate-file count for a query box — the observable the
    * spec (and an operator at scale) uses to SEE the skipping: files the
    * scan would open under the manifest vs the total. */
  def zonePruneStats(
      spark: SparkSession,
      path: String,
      colA: String, aLo: Double, aHi: Double,
      colB: String, bLo: Double, bHi: Double): (Long, Long) =
    zonePruneStats(spark, path, Seq((colA, aLo, aHi), (colB, bLo, bHi)))

  /** k-column form of the candidate-file count. */
  def zonePruneStats(
      spark: SparkSession,
      path: String,
      box: Seq[(String, Double, Double)]): (Long, Long) = {
    val m = readManifest(spark, path)
    val kept =
      m.filter(boxIntersects(box.map { case (_, lo, hi) => (lo, hi) })).count()
    (kept, m.count())
  }
}

/** One-output-partition RDD that k-way-merges ALL parent partitions, each of
  * which MUST be a sorted run under `ord` (the [[Layout.readTrainingShards]]
  * read path guarantees it: one file chunk per partition, files written
  * position-sorted). The dependency is narrow — every parent partition feeds
  * the single output — so no shuffle exists to reorder, spill, or re-hash
  * anything; the merge streams with a k-ary heap.
  */
private[ops] final class KWayMergeRDD(parent: RDD[Row], ord: Ordering[Row])
  extends RDD[Row](parent.sparkContext, Seq(new NarrowDependency[Row](parent) {
    override def getParents(partitionId: Int): Seq[Int] = parent.partitions.indices
  })) {

  // parent partition handles are captured DRIVER-side: a scan RDD's
  // partition list is @transient and unavailable inside an executor task
  private final class MergeAllPartition(val parents: Array[Partition])
    extends Partition { override val index: Int = 0 }

  override protected def getPartitions: Array[Partition] =
    Array(new MergeAllPartition(parent.partitions))

  override def compute(split: Partition, context: TaskContext): Iterator[Row] = {
    // heap of buffered parent iterators keyed by their current head; dequeue,
    // emit, re-enqueue while non-empty — the textbook streaming k-way merge
    val byHead = Ordering.by[BufferedIterator[Row], Row](_.head)(ord).reverse
    val heap = new scala.collection.mutable.PriorityQueue[BufferedIterator[Row]]()(byHead)
    split.asInstanceOf[MergeAllPartition].parents.foreach { p =>
      val it = parent.iterator(p, context).buffered
      if (it.hasNext) heap.enqueue(it)
    }
    new Iterator[Row] {
      override def hasNext: Boolean = heap.nonEmpty
      override def next(): Row = {
        val it = heap.dequeue()
        val row = it.next()
        if (it.hasNext) heap.enqueue(it)
        row
      }
    }
  }
}
