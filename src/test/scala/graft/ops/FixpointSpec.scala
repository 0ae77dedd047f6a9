package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkTestBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("iterate: a superseded generation goes once a newer one has materialized") {
    for (eager <- Seq(true, false)) {
      val before = persisted
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      val res = Fixpoint.iterate(spark.range(50).toDF("v"), 6) { (cur, _) =>
        cur.agg(sum("v")).collect() // the round's first action
        seen += (persisted -- before).size
        (cur.select((col("v") + 1).as("v")).localCheckpoint(eager), false)
      }
      assert(res.rounds === 6)
      assert(res.last.agg(sum("v")).head().getLong(0) === (6L until 56L).sum)
      // an eager round's input is the only generation left; a lazy round
      // still holds the one it just materialized from
      assert(seen.max === (if (eager) 1 else 2), s"eager=$eager: $seen")
      res.release()
      assert((persisted -- before).isEmpty, s"eager=$eager")
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
    // (operator, result and its release hook, checkpoints the result reads)
    val rows: Seq[(String, () => (DataFrame, Option[() => Unit]), Int)] = Seq(
      ("trainBpeMerges",
        () => (TextAnalysis.trainBpeMerges(docs, "text", numMerges = 8), None), 0),
      ("trainWordPieceMerges",
        () => (TextAnalysis.trainWordPieceMerges(docs, "text", numMerges = 4), None), 0),
      // the edge list and the final labels
      ("connectedComponents", () => {
        val (out, release) = Dedup.connectedComponentsReleasable(ids, chain)
        (out, Some(release))
      }, 2),
      // the final edges
      ("connectedComponentsLS", () => {
        val (out, _, release) = Dedup.connectedComponentsLSRounds(ids, chain)
        (out, Some(release))
      }, 1),
      // the edge list with out-degrees, the node table and the final rank
      ("pageRank", () => (Graph.pageRank(graph, "src", "dst"), None), 3),
      // the undirected edge list and the final labels
      ("labelPropagation", () => (Graph.labelPropagation(graph, "src", "dst"), None), 2),
      // the final surviving edges
      ("kCore", () => (Graph.kCore(graph, "src", "dst", k = 2), None), 1))
    for ((name, run, retained) <- rows) {
      val before = persisted
      val (out, release) = run()
      assert(out.collect().nonEmpty, name)
      val left = persisted -- before
      assert(left.size === retained, s"$name left $left persisted")
      release.foreach { r =>
        r()
        assert((persisted -- before).isEmpty, s"$name after release()")
      }
    }
  }
}
