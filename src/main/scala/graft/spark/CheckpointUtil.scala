package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Storage release for `localCheckpoint()`'d Datasets.
  *
  * `Dataset.localCheckpoint()` persists the computed rows as RDD blocks in
  * executor storage, and `Dataset.unpersist()` does NOT release them (it
  * talks to the cache manager, which never heard of the checkpoint) — the
  * blocks live until the driver GCs the unreferenced Dataset and the
  * ContextCleaner notices. An iterative operator that checkpoints every
  * round (BPE training: one per merge rank; connected components: one per
  * label iteration) therefore accumulates every superseded round's blocks
  * for the lifetime of the job unless it releases them explicitly — at a
  * production 32k-merge BPE run that is 32k retained copies of the
  * vocabulary table.
  *
  * `unpersist` here frees exactly the checkpointed RDD(s) a Dataset's plan
  * holds. Call it ONLY on a handle whose plan is the checkpoint itself (the
  * Dataset `localCheckpoint()` returned, or a pure projection of it), and
  * only once nothing will read it again: a locally-checkpointed RDD cannot
  * be recomputed, so any later action over it would fail.
  *
  * Iterative operators leave their generations to
  * [[graft.ops.Fixpoint.iterate]], which owns releasing every generation,
  * including a checkpointed init the loop owns (and reads [[materialized]]
  * to time it). They call this only for the loop-invariant tables their
  * rounds read (PageRank's edge and node tables, label propagation's edge
  * list), once the loop has returned its materialized last generation.
  */
object CheckpointUtil {
  def unpersist(ds: Dataset[_], blocking: Boolean = false): Unit =
    checkpointRdd(ds).unpersist(blocking)

  /** Whether the handle's checkpoint has been computed: true right after an
    * eager `localCheckpoint()`, and after the first action over a lazy one. */
  def materialized(ds: Dataset[_]): Boolean = checkpointRdd(ds).isCheckpointed

  private def checkpointRdd(ds: Dataset[_]) = {
    val rdds = ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    // Exactly one checkpoint per handle, enforced: a plan joining TWO
    // checkpointed frames would otherwise silently release both, leaving the
    // other frame unrecomputable (localCheckpoint blocks can't be rebuilt).
    // Misuse must fail fast, not corrupt an unrelated persisted frame.
    require(rdds.size == 1,
      s"CheckpointUtil.unpersist expects a plan holding exactly one " +
        s"checkpointed RDD (a localCheckpoint handle or a pure projection " +
        s"of one); found ${rdds.size} LogicalRDDs")
    rdds.head
  }
}
