package graft

import java.sql.Timestamp
import java.time.Instant

import graft.sources.GraftSource

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures and oracle fragments shared by several query families. */
package object queries {
  // ---- shared constants (µs since epoch, UTC) ----
  private[queries] val StartUs = 1704412800000000L // 2024-01-05T00:00:00Z
  private[queries] val EndUs = 1705708800000000L // 2024-01-20T00:00:00Z
  private[queries] val PitBaseUs = 1704672000000000L // 2024-01-08T00:00:00Z
  private[queries] val TtlSeconds = 604800L // 7 days
  private[queries] val DayUs = 86400000000L

  private[queries] def tsOf(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))

  private[queries] def events(dir: String): GraftSource =
    GraftSource.of(table = Some(s"$dir/events.parquet"), timestampField = Some("ts"))

  // under the working directory: the project root under sbt
  private[queries] val scratchDir = "target/graft-scratch"

  /** Derived entity frame for the PIT queries: every user with a
    * deterministic per-user entity timestamp spread over Jan 8-27.
    */
  private[queries] def entityFrame(spark: SparkSession, dir: String): DataFrame =
    events(dir).load(spark)
      .select(col("user_id")).distinct()
      .withColumn("event_timestamp",
        timestamp_micros(lit(PitBaseUs) + (col("user_id") % 20) * lit(DayUs)))

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private[queries] def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** events with value scaled to an exact integer (1e4 fixed-point) so sums
    * are shuffle-order- and engine-independent.
    */
  private[queries] def eventsFixedPoint(s: SparkSession, dir: String): DataFrame =
    events(dir).load(s)
      .withColumn("value", round(col("value") * 10000).cast("long"))

  // tokenization CTE over ANY (doc_id, text) source — the capstone reuses
  // it over its stage outputs, documents-based oracles over the table
  private[queries] def toksCteFrom(src: String): String =
    s"""t AS (SELECT doc_id, text,
       |list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
       |FROM $src)""".stripMargin

  private[queries] lazy val toksCte = toksCteFrom("documents")
}
