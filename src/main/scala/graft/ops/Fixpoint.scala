package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CheckpointUtil

/** The checkpointed fixpoint loop every iterative operator runs on
  * (PageRank, label propagation, k-core, both connected-components forms,
  * BPE and WordPiece training). Each round's `localCheckpoint` truncates
  * the growing lineage; `iterate` owns releasing the superseded rounds'
  * blocks, so executor storage holds two generations (three for one step
  * of a lazy loop), not one per round.
  *
  * The release rule: a generation `step` returned is released as soon as
  * a newer generation's checkpoint has materialized. Eager checkpoints
  * materialize inside `step`; a lazy one (`localCheckpoint(false)`)
  * materializes with the first action over it, normally the next step's.
  * `init` is never released — it may be a projection of a frame the
  * caller keeps reading (PageRank's initial rank reads the node table);
  * a caller whose `init` is its own checkpoint releases it inside `step`.
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
    */
  def iterate(init: DataFrame, maxIter: Int)(
      step: (DataFrame, Int) => (DataFrame, Boolean)): Result = {
    var cur = init
    var held = Vector.empty[DataFrame] // step's generations, oldest first
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
}
