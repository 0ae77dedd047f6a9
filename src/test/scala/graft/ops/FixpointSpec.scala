package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointUtil

class FixpointSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("iterate: a superseded generation goes once a newer one has materialized") {
    // init is either a projection iterate must leave alone, or (ownsInit)
    // the caller's own checkpoint, released like every other generation;
    // stopAt 0 converges in round 0, maxIter 0 runs no round at all
    for (eager <- Seq(true, false); owned <- Seq(false, true);
         (maxIter, stopAt) <- Seq((6, 6), (6, 0), (0, 0))) {
      val before = persisted
      val base = spark.range(50).toDF("v")
      val init = if (owned) base.localCheckpoint() else base
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      val res = Fixpoint.iterate(init, maxIter, ownsInit = owned) { (cur, round) =>
        cur.agg(sum("v")).collect() // the round's first action
        seen += (persisted -- before).size
        if (round == stopAt) (cur, true)
        else (cur.select((col("v") + 1).as("v")).localCheckpoint(eager), false)
      }
      val rounds = math.min(maxIter, stopAt + 1)
      val shift = math.min(maxIter, stopAt).toLong
      val tag = s"eager=$eager owned=$owned maxIter=$maxIter stopAt=$stopAt"
      assert(res.rounds === rounds, tag)
      assert(res.last.agg(sum("v")).head().getLong(0) === (shift until 50L + shift).sum, tag)
      // an eager round's input is the only generation left; a lazy round
      // still holds the one it just materialized from
      if (stopAt > 0) assert(seen.max === (if (eager) 1 else 2), s"$tag: $seen")
      res.release()
      assert((persisted -- before).isEmpty, tag)
    }
  }

  test("observedCheckpoint: one job, a materialized checkpoint and agg(metric) over it") {
    val metrics = Seq(count(lit(1)), sum(col("v")), sum(when(col("v") % 3 === 0, 1L)))
    for (n <- Seq(20L, 0L); metric <- metrics) {
      val df = spark.range(20).filter(col("id") < n).select((col("id") * 2).as("v"))
      val ((ckpt, value), jobs) = jobsOf(Fixpoint.observedCheckpoint(df, metric))
      val tag = s"n=$n metric=$metric"
      assert(jobs === 1, tag)
      assert(CheckpointUtil.materialized(ckpt), tag)
      val agg = ckpt.agg(metric).head()
      assert(value === (if (agg.isNullAt(0)) 0L else agg.getLong(0)), tag)
      assert(ckpt.count() === n, tag)
      CheckpointUtil.unpersist(ckpt)
    }
  }

  test("loop operators leave only their documented checkpoints") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low lower newest newest widest"),
      (2L, "newest lowest low widest widest")).toDF("doc_id", "text")
    val ids = (1L to 9L).toDF("id")
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // a path hanging off a triangle: the 2-core peels it one node a round
    val graph = (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++
      (3L until 8L).map(i => (i, i + 1))).toDF("src", "dst")
    // (operator, result and its release hook, checkpoints left persisted,
    // jobs the call submits where pinned). The pins are measured: each
    // round's convergence value rides its checkpoint's job, so neither
    // kCore (6 rounds) nor LS (4 rounds, plus its exact `except` test) runs
    // a count pass, which costs 2 jobs over a checkpoint
    val rows: Seq[(String, () => (DataFrame, Option[() => Unit]), Int, Option[Int])] = Seq(
      ("trainBpeMerges",
        () => (TextAnalysis.trainBpeMerges(docs, "text", numMerges = 8), None), 0, None),
      ("trainWordPieceMerges",
        () => (TextAnalysis.trainWordPieceMerges(docs, "text", numMerges = 4), None), 0, None),
      // the edge list and the final labels
      ("connectedComponents", () => {
        val (out, release) = Dedup.connectedComponentsReleasable(ids, chain)
        (out, Some(release))
      }, 2, None),
      // the final edges
      ("connectedComponentsLS", () => {
        val (out, _, release) = Dedup.connectedComponentsLSRounds(ids, chain)
        (out, Some(release))
      }, 1, Some(45)),
      // the final rank (the edge and node tables go once the loop returns)
      ("pageRank", () => (Graph.pageRank(graph, "src", "dst"), None), 1, None),
      // the final labels (the edge list goes once the loop returns)
      ("labelPropagation", () => (Graph.labelPropagation(graph, "src", "dst"), None), 1, None),
      // the final surviving edges
      ("kCore", () => (Graph.kCore(graph, "src", "dst", k = 2), None), 1, Some(20)))
    for ((name, run, retained, pinnedJobs) <- rows) {
      val before = persisted
      // the persisted RDDs themselves, held from the moment the call
      // returns, so a driver GC cannot free a checkpoint before it is counted
      val ((out, release, left), jobs) = jobsOf {
        val (out, release) = run()
        (out, release, spark.sparkContext.getPersistentRDDs -- before)
      }
      pinnedJobs.foreach(j => assert(jobs === j, s"$name submitted $jobs jobs"))
      assert(out.collect().nonEmpty, name)
      assert(left.size === retained, s"$name left ${left.keySet} persisted")
      release.foreach { r =>
        r()
        assert((persisted -- before).isEmpty, s"$name after release()")
      }
    }
  }
}
