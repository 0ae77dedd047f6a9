package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Reader-atomic generational commit for on-disk state stores — the
  * [[Sketch.quantileUpsertBatch]] tmp/prev swap generalized to PARTITIONED
  * stores, so [[LatestStore.upsertBatch]], [[Temporal.scd2UpsertBatch]] and
  * [[Incremental.stateUpsertBatch]] get the same crash contract the
  * quantile store has (they previously relied on dynamic partition
  * overwrite, which deletes the matching partition directories at job
  * commit — a concurrent reader racing a bucket rewrite could list a
  * half-replaced directory, and a mid-commit crash left the store with
  * buckets from two generations and no complete one).
  *
  * The protocol (all renames, no data copies):
  *   1. the batch's REPLACED partitions commit fully (job commit +
  *      `_SUCCESS`) to a `path.__tmp` sibling;
  *   2. the live generation parks at `path.__prev`;
  *   3. every leaf partition directory of the parked generation that the
  *      new one does not replace is ADOPTED into it — a metadata `rename`
  *      per untouched partition (O(partitions) namenode ops, zero bytes
  *      moved), so per-batch cost still follows the touched buckets, not
  *      the store;
  *   4. one `rename` makes the new generation live; the parked one (now
  *      holding only superseded partitions) is deleted.
  *
  * At every crash point at least one COMPLETE generation exists on disk,
  * and [[recover]] (the preamble every upsert runs first) promotes it:
  * a committed tmp is the newer generation (parking only ever happens
  * after tmp's job commit) and wins, finishing any interrupted adoption
  * from prev; otherwise prev restores verbatim. A tmp found while the
  * live path exists is a stale never-parked generation and is discarded —
  * the at-least-once stream redelivers its batch, and every store on this
  * protocol has an idempotent merge (arg-max / same-instant collapse /
  * partition identity / min-k), so the replay converges.
  *
  * Readers see either a complete old generation or a complete new one;
  * the only non-atomic window is the two renames in step 4 — a reader
  * opening the path exactly then fails fast on a missing directory (and
  * simply retries) rather than silently reading a TORN store, which is
  * the contract dynamic overwrite could not give. Writers stay
  * single-maintainer (two concurrent swaps race their renames).
  *
  * `depth` is the store's partition-directory depth: 1 for
  * `bucket=N` stores, 2 for `dt=D/batch_id=B`, 0 for flat (unpartitioned)
  * stores, where the new generation is always complete and adoption is
  * vacuous.
  */
object StoreSwap {

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def tmpOf(path: String) = new Path(path + ".__tmp")
  private def prevOf(path: String) = new Path(path + ".__prev")

  /** The adoption depth of an in-flight swap, recorded INSIDE the tmp
    * generation (a `_`-prefixed sibling of `_SUCCESS`, invisible to
    * readers). Needed because one store can be swapped at different
    * granularities: `Incremental.stateUpsertBatch` adopts the
    * `dt=/batch_id=` store at depth 2 (new batches slot into existing
    * days) while [[Incremental.compactStateDays]] swaps the SAME store at
    * depth 1 (a compacted day REPLACES the whole day — adopting its old
    * batch dirs back in would double-count them). `recover` must finish
    * an interrupted adoption at the depth the interrupted swap was using,
    * not the depth its own caller happens to use, so the swap writes its
    * depth down and recovery reads it back. The marker is deleted only
    * after the parked generation is gone — until then it is the only
    * record of which granularity the half-finished adoption was at.
    */
  private val DepthMarker = "_GRAFT_ADOPT_DEPTH"

  private def writeDepthMarker(fs: FileSystem, gen: Path, depth: Int): Unit = {
    val out = fs.create(new Path(gen, DepthMarker), true)
    out.write(depth.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def readDepthMarker(fs: FileSystem, gen: Path): Option[Int] = {
    val mp = new Path(gen, DepthMarker)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val text =
        try {
          // read to EOF, not a single read(): InputStream may return fewer
          // bytes than available, and a short read of a multi-digit depth
          // ("10" read as "1") would resume an interrupted adoption at the
          // wrong granularity. The file is at most a few bytes.
          val buf = new java.io.ByteArrayOutputStream(16)
          val b = new Array[Byte](16)
          var n = in.read(b)
          while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
          new String(buf.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8).trim
        } finally in.close()
      // a marker that EXISTS but does not parse is a corrupt record of an
      // in-flight adoption — resuming at the caller's depth could adopt at
      // the wrong granularity and double-count partitions. Fail loudly;
      // the operator inspects the store rather than recovery guessing.
      try Some(text.toInt)
      catch { case _: NumberFormatException =>
        throw new IllegalStateException(
          s"corrupt $DepthMarker in $gen: '$text' is not an adoption depth")
      }
    }
  }

  /** Leaf partition directories exactly `depth` `k=v` levels below
    * `root`; depth 0 means the store is flat and has no adoptable leaves.
    */
  private def leaves(fs: FileSystem, root: Path, depth: Int): Seq[Path] =
    if (depth <= 0) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap(s =>
        if (depth == 1) Seq(s.getPath) else leaves(fs, s.getPath, depth - 1))

  /** Move every leaf partition of `source` that `target` lacks into
    * `target` (metadata renames); idempotent — a re-run after a crash
    * resumes where it stopped. `source` is left in place for the caller
    * to delete once the swap completes.
    */
  private def adoptLeaves(
      fs: FileSystem, source: Path, target: Path, depth: Int): Unit =
    leaves(fs, source, depth).foreach { leaf =>
      // rebuild the leaf's k=v ancestry relative to source under target
      val relParts = Iterator.iterate(leaf)(_.getParent)
        .take(depth).toSeq.reverseIterator.map(_.getName).toSeq
      val dst = relParts.foldLeft(target)(new Path(_, _))
      if (!fs.exists(dst)) {
        if (depth > 1) fs.mkdirs(dst.getParent)
        fs.rename(leaf, dst)
      }
    }

  /** Crash-recovery preamble: promote the newest complete generation if
    * the live path is missing, finish any interrupted adoption, and clear
    * stale tmp generations. Safe (and cheap — three existence probes) to
    * run unconditionally before every upsert. Returns whether a live
    * generation exists afterwards (false: the store was never written).
    */
  def recover(spark: SparkSession, path: String, depth: Int): Boolean = {
    val (fs, p) = fsOf(spark, path)
    val (tmp, prev) = (tmpOf(path), prevOf(path))
    if (!fs.exists(p)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) fs.rename(tmp, p)
      else if (fs.exists(prev)) fs.rename(prev, p)
    }
    val live = fs.exists(p)
    if (live) {
      if (fs.exists(prev)) {
        // finish the interrupted adoption at the depth the interrupted
        // swap recorded (a compaction swap on an upsert-depth store, or
        // vice versa), not the caller's depth
        adoptLeaves(fs, prev, p, readDepthMarker(fs, p).getOrElse(depth))
        fs.delete(prev, true)
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
      fs.delete(new Path(p, DepthMarker), false) // stale marker, if any
    }
    live
  }

  /** Commit a new generation: `write` must fully commit the REPLACED
    * partitions (a plain `df.write...parquet(tmpPath)` — job commit writes
    * `_SUCCESS`) to the tmp path it is given; untouched live partitions
    * are adopted, then the generation goes live. The caller is expected to
    * have run [[recover]] first and to handle the store-does-not-exist
    * initial write itself (a direct write — there is nothing to swap).
    */
  def swapIn(spark: SparkSession, path: String, depth: Int)(
      write: String => Unit): Unit = {
    val (fs, p) = fsOf(spark, path)
    val (tmp, prev) = (tmpOf(path), prevOf(path))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString) // commits fully before the live path is touched
    writeDepthMarker(fs, tmp, depth)
    if (fs.exists(prev)) fs.delete(prev, true)
    fs.rename(p, prev)
    adoptLeaves(fs, prev, tmp, depth)
    fs.rename(tmp, p)
    fs.delete(prev, true)
    // only now — while prev existed, the marker was the record of which
    // granularity a crash-interrupted adoption would need to resume at
    fs.delete(new Path(p, DepthMarker), false)
  }
}
