package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graft.CheckpointUtil

/** The checkpointed fixpoint loop every iterative operator runs on
  * (PageRank, label propagation, k-core, both connected-components forms,
  * BPE and WordPiece training). Each round's `localCheckpoint` truncates
  * the growing lineage; `iterate` owns releasing the superseded rounds'
  * blocks, so executor storage holds two generations (three for one step
  * of a lazy loop), not one per round, and [[observedCheckpoint]] owns
  * reading a round's convergence value.
  *
  * The release rule: a generation `step` returned is released as soon as
  * a newer generation's checkpoint has materialized. Eager checkpoints
  * materialize inside `step`; a lazy one (`localCheckpoint(false)`)
  * materializes with the first action over it, normally the next step's.
  * `init` follows the same rule only when the caller passes `ownsInit`:
  * otherwise it may be a projection of a frame the caller keeps reading
  * (PageRank's initial rank reads the node table), and stays untouched.
  */
object Fixpoint {

  /** The last generation, the number of rounds run, and a handle releasing
    * every generation `iterate` still holds. Call `release()` once, only
    * after nothing will read `last` again: checkpoint blocks cannot be
    * recomputed. */
  final case class Result(last: DataFrame, rounds: Int, release: () => Unit)

  /** Runs `step(current, round)` from `init` (round 0 first) until it
    * reports convergence or `maxIter` rounds have run. `step` returns the
    * next generation — a `localCheckpoint` handle, or `current` itself when
    * there is nothing left to do — and whether the loop has converged.
    * `ownsInit` says `init` is the caller's own checkpoint, released like
    * any other generation (by `release()` if the loop never supersedes it).
    */
  def iterate(init: DataFrame, maxIter: Int, ownsInit: Boolean = false)(
      step: (DataFrame, Int) => (DataFrame, Boolean)): Result = {
    var cur = init
    var held = if (ownsInit) Vector(init) else Vector.empty[DataFrame] // oldest first
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val (next, done) = step(cur, rounds)
      if (next ne cur) held :+= next
      val newest = held.lastIndexWhere(CheckpointUtil.materialized)
      if (newest > 0) {
        held.take(newest).foreach(CheckpointUtil.unpersist(_))
        held = held.drop(newest)
      }
      cur = next
      converged = done
      rounds += 1
    }
    val live = held
    Result(cur, rounds, () => live.foreach(CheckpointUtil.unpersist(_)))
  }

  /** Eagerly checkpoints `df` and returns the checkpoint with the value of
    * `metric` (an aggregate over `df`'s rows, e.g. a row count) read from
    * that checkpoint's own job through `Dataset.observe`, so a round's
    * convergence test costs no extra job. Should the observation not
    * arrive, `metric` is re-aggregated over the checkpoint instead. A NULL
    * aggregate (a sum over no rows) reads as 0.
    */
  def observedCheckpoint(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val (ckpt, row) = observedCheckpoint(df, Seq(metric))
    (ckpt, if (row.isNullAt(0)) 0L else row.getAs[Number](0).longValue)
  }

  /** [[observedCheckpoint]] for several aggregates at once, read as one row
    * in `metrics` order (NULLs left as they are). */
  def observedCheckpoint(df: DataFrame, metrics: Seq[Column]): (DataFrame, Row) = {
    val name = s"graft_observed_${java.util.UUID.randomUUID}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val ckpt = observed.localCheckpoint()
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      ckpt.agg(metrics.head, metrics.tail: _*).head())
    (ckpt, row)
  }
}
