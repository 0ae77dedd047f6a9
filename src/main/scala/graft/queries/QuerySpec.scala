package graft.queries

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The physical-plan contract `PlanGateSpec` checks for one query at
  * sf0.001 (AQE initial plan; broadcast exchanges are not counted, since
  * broadcasting a small side is the cheap choice, not a regression). No
  * plan may hold a `CartesianProduct`.
  */
sealed trait PlanBudget

object PlanBudget {

  /** At most `max` shuffle exchanges (the measured count of the current
    * plan: an extra exchange at 100 TB is an extra full shuffle of the
    * data) and no `BroadcastNestedLoopJoin`.
    */
  final case class Shuffles(max: Int) extends PlanBudget

  /** [[Shuffles]], but a `BroadcastNestedLoopJoin` is the documented
    * contract, not a regression: knn_brute's exact-baseline scan (cost
    * O(Q·N) by design), and the 1-ROW broadcast cross joins of the
    * scalar-subquery idiom (e.g. vocab_coverage's corpus-total denominator,
    * lm_score's train-vocabulary-size smoothing denominator); the nested
    * loop runs exactly once per partition.
    */
  final case class ShufflesWithBnlj(max: Int) extends PlanBudget

  /** Iterative/checkpointed constructions: building the DataFrame runs jobs
    * and the returned plan hangs off materialized checkpoint RDDs, so a
    * static exchange count would see only the final segment. Covered by the
    * oracle gate + BASELINE.md instead.
    */
  case object BuiltByJobs extends PlanBudget
}

/** One query of the driver contract: its name, the function building its
  * DataFrame over an sf directory, its plan contract and its DuckDB oracle.
  * The oracle is by-name and built on first use: several generate
  * hyperplanes and megabytes of CTE text, which building or planning the
  * query never needs.
  */
final class QuerySpec(
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    val plan: PlanBudget,
    oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object QuerySpec {

  /** The registry: specs by name. A repeated name fails here, listing the
    * repeats, instead of one spec silently replacing another.
    */
  def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val repeats = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeats.isEmpty, s"duplicate query names: ${repeats.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }
}

/** One family file of queries: each `query` call registers a spec, in
  * source order, right beside the DataFrame function it names.
  */
abstract class QueryFamily {
  private val registered = ListBuffer.empty[QuerySpec]

  def specs: Seq[QuerySpec] = registered.toList

  protected def query(name: String, build: (SparkSession, String) => DataFrame,
      plan: PlanBudget)(oracleSql: => String): Unit =
    registered += new QuerySpec(name, build, plan, oracleSql)
}
