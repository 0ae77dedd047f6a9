package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The registry of every query: one `QuerySpec` per query (DataFrame function,
  * DuckDB oracle and plan budget side by side) in its family file under
  * `graft.queries`; `queries` and `oracleSql` are views of it. Timestamps
  * cross the Spark/DuckDB boundary as `unix_micros` BIGINTs (Spark truncates
  * parquet ns->µs on read; DuckDB keeps ns — µs-space comparison removes the
  * dialect drift), and oracle-checked aggregates are decimal-exact so shuffle
  * order can't perturb hashes.
  */
object SparkEntry {

  lazy val specs: Map[String, QuerySpec] = QuerySpec.byName(Seq(
    FeatureStoreQueries, DedupQueries, EntityResolutionQueries, SimilarityQueries,
    TextQueries, MediaQueries, SamplingQueries, EventQueries, StatsQueries,
    SketchQueries, AnalyticsQueries, GraphQueries, PipelineQueries).flatMap(_.specs))

  /** Flagship: point-in-time join on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pit_join")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (name, spec) => name -> spec.build }

  /** DuckDB twin per key (driver compares on sf0.01). */
  lazy val oracleSql: Map[String, String] =
    specs.map { case (name, spec) => name -> spec.oracle }
}
