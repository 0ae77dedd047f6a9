package graft.api

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}

/** Metadata about a retrieval (ref: RetrievalMetadata usage at
  * data_engine_offline_store.py:416-417, 468-475, 505-512).
  */
final case class RetrievalMetadata(
    features: Seq[String],
    keys: Seq[String],
    minEventTimestamp: Option[Timestamp] = None,
    maxEventTimestamp: Option[Timestamp] = None)

/** Lazy retrieval handle — the analog of `DataEngineRetrievalJob`
  * (ref: data_engine_offline_store.py:313-348). The evaluation function is a
  * thunk producing a DataFrame (itself lazy), so nothing executes before
  * [[toDF]] is first read; `persist` is the saved-dataset path the
  * reference leaves NotImplemented.
  */
final class GraftRetrievalJob(
    evaluation: () => DataFrame,
    val metadata: RetrievalMetadata,
    val fullFeatureNames: Boolean = false) {

  /** The plan for this retrieval, built on first access. Building it may
    * run Spark jobs: [[graft.ops.FeatureStoreOps.pointInTime]] checkpoints
    * the entity frame and reads its time range in that one job. */
  lazy val toDF: DataFrame = evaluation()

  /** Driver-side materialization (analog of to_df for a local user). */
  def toLocal(): Array[Row] = toDF.collect()

  /** Arrow IPC record batches (analog of to_arrow,
    * ref: data_engine_offline_store.py:338-344).
    */
  def toArrowBatches(): Array[Array[Byte]] =
    org.apache.spark.sql.graft.GraftArrow.toArrowBatches(toDF)

  /** Saved-dataset persistence (analog of RetrievalJob.persist). */
  def persist(path: String, allowOverwrite: Boolean = false): Unit =
    toDF.write.mode(if (allowOverwrite) "overwrite" else "errorifexists").parquet(path)

  def onDemandFeatureViews: Option[Nothing] = None
}
