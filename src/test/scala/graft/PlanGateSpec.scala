package graft

import graft.queries.QuerySpec
import graft.queries.PlanBudget._

/** Plan-regression gate: every `SparkEntry.specs` entry with a shuffle
  * budget is planned at sf0.001 and checked against its `PlanBudget` —
  *
  *  - NO `CartesianProduct`, ever;
  *  - NO `BroadcastNestedLoopJoin` unless the budget is `ShufflesWithBnlj`;
  *  - shuffle-`Exchange` count at most the committed budget.
  *
  * Budgets are the measured counts of the current plans (AQE initial plan);
  * each sits, with its rationale, beside its query in the family file under
  * `graft.queries`.
  */
class PlanGateSpec extends SparkTestBase {

  private def violations(spec: QuerySpec, budget: Int, bnljOk: Boolean): Seq[String] = {
    val name = spec.name
    val shape = PlanAudit.shape(
      spec.build(spark, sf()).queryExecution.executedPlan.toString)
    Seq(
      if (shape.cartesians > 0) Some(s"$name: CartesianProduct in plan") else None,
      if (shape.bnljs > 0 && !bnljOk)
        Some(s"$name: unexpected BroadcastNestedLoopJoin") else None,
      if (shape.shuffles > budget)
        Some(s"$name: ${shape.shuffles} shuffle exchanges > budget $budget") else None
    ).flatten
  }

  test("no CartesianProduct; BNLJ only in knn_brute; shuffles within budget") {
    val failures = SparkEntry.specs.values.toSeq.sortBy(_.name).flatMap { spec =>
      spec.plan match {
        case Shuffles(max) => violations(spec, max, bnljOk = false)
        case ShufflesWithBnlj(max) => violations(spec, max, bnljOk = true)
        case BuiltByJobs => Nil
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the registry rejects a repeated query name, listing it") {
    def spec(name: String) =
      new QuerySpec(name, (s, _) => s.emptyDataFrame, Shuffles(0), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      QuerySpec.byName(Seq(spec("a"), spec("b"), spec("a"))))
    assert(e.getMessage.contains("duplicate query names: a"))
  }
}
