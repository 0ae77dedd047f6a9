package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Storage format of a path-backed source; the analog of the reference's
  * `cos_type` (ref: data_engine_offline_store.py:115,133-134,147).
  */
sealed abstract class SourceFormat(val name: String)
object SourceFormat {
  case object Parquet extends SourceFormat("parquet")
  case object Csv extends SourceFormat("csv")
  case object Json extends SourceFormat("json")

  /** Beyond the reference's cos_type set: ORC is the other columnar format a
    * Spark shop actually has on disk, and Spark ships the reader natively.
    */
  case object Orc extends SourceFormat("orc")

  /** Avro — the streaming-interchange format every Kafka archive lands in.
    * The offline environment has no spark-avro module, so reads/writes go
    * through [[AvroIO]] (the Hadoop input/output formats on the avro jars
    * Spark ships); splittable, full read parallelism, row-format posture
    * documented there.
    */
  case object Avro extends SourceFormat("avro")
  val all: Seq[SourceFormat] = Seq(Parquet, Csv, Json, Orc, Avro)
  def fromName(n: String): SourceFormat =
    all.find(_.name == n.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"format must be one of: json, csv, parquet, orc, avro (got $n)"))
}

/** A declarative data source: a named catalog table, a file path
  * (parquet/csv/json), or a SQL query — the Spark-native re-expression of the
  * reference's `DataEngineDataSource` (ref: data_engine_offline_store.py:103-310).
  *
  * Loading produces a plain DataFrame so every downstream operator stays a
  * Catalyst logical plan (pushdown/pruning free); `fieldMapping` renames are
  * applied on load so feature names are uniform from there on. (Superset of
  * the reference: it applies field_mapping only to feature columns, never
  * entities or timestamps, ref store.py:129-131 — ours renames any column.)
  *
  * @param table path (contains `/` or a `scheme://`) or catalog/temp-view name
  * @param query SQL text used as a subquery source when `table` is absent
  * @param schemaDdl optional explicit schema (DDL string) for csv/json reads,
  *                  so round-trips don't depend on inference
  * @param datePartitionColumn name of a `yyyy-MM-dd` string partition column
  *                  (e.g. the `dt` written by `Layout.writeTimePartitioned`);
  *                  time-ranged loads derive bounds on it so the scan prunes
  *                  whole partition directories (ref: store.py:665-673 — the
  *                  `__subquery` CTE adds `date_partition_column >=/<=
  *                  timestamp[:10]` alongside the timestamp bounds)
  */
final case class GraftSource(
    name: String,
    table: Option[String] = None,
    query: Option[String] = None,
    format: SourceFormat = SourceFormat.Parquet,
    timestampField: Option[String] = None,
    createdTimestampColumn: Option[String] = None,
    fieldMapping: Map[String, String] = Map.empty,
    schemaDdl: Option[String] = None,
    description: String = "",
    tags: Map[String, String] = Map.empty,
    owner: String = "",
    datePartitionColumn: Option[String] = None,
    readOptions: Map[String, String] = Map.empty) {

  require(table.isDefined || query.isDefined, "No \"table\" or \"query\" argument provided.")

  def isPath: Boolean = table.exists(t => t.contains("/") || t.contains("://"))

  /** `table` -> `` `table` ``; query -> `(query)` (ref: store.py:222-226). */
  def tableQueryString: String =
    table.map(t => s"`$t`").getOrElse(s"(${query.get})")

  /** Materializes the source as a DataFrame with fieldMapping applied. */
  def load(spark: SparkSession): DataFrame = loadWithTimeRange(spark, None, None)

  /** [[load]] plus an inclusive time-range filter on `timestampField`,
    * applied in the RAW column's space so it reaches the parquet scan as
    * PushedFilters (min/max row-group pruning — the difference between a
    * time-slice read and a full-table scan at 100 TB):
    *
    *  - ns-long raw columns (parquet TIMESTAMP(NANOS) under nanosAsLong)
    *    compare as long nanoseconds — an equivalent bound to the µs-truncated
    *    semantic filter (`ns div 1000 <= u  <=>  ns <= u*1000+999`);
    *  - timestamp / timestamp_ntz columns are filtered post-normalization:
    *    Catalyst's cast-unwrapping pushes those natively.
    */
  def loadWithTimeRange(
      spark: SparkSession,
      lower: Option[Timestamp],
      upper: Option[Timestamp]): DataFrame = {
    // Defensive: parquet TIMESTAMP(NANOS) is unreadable without this runtime
    // conf, and the caller may hand us a session it built without it. Our
    // normalization assumes the nanosAsLong representation, so pin it.
    if (format == SourceFormat.Parquet)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = table match {
      case Some(t) if isPath && format == SourceFormat.Avro =>
        // no spark-avro DataSource offline: AvroIO reads the container files
        // through the Hadoop input format (splittable; schema self-described,
        // so schemaDdl/readOptions — parquet/csv/json levers — don't apply)
        AvroIO.read(spark, t)
      // readOptions pass through to the DataFrameReader — the schema-drift
      // lever at scale is `mergeSchema=true` (a long-lived table gains
      // columns; without it parquet answers with ONE footer's schema and
      // silently hides the new columns on mixed directories). Path sources
      // only: catalog tables and queries read through the session, which
      // takes no reader options.
      case Some(t) if isPath && format == SourceFormat.Parquet && schemaDdl.isEmpty =>
        // that one footer read on the Spark driver, not in an inference job
        // (mergeSchema goes back to Spark's multi-footer inference)
        FormatIO.readParquet(spark, t, readOptions)
      case Some(t) if isPath =>
        // user options applied LAST so they override the built-in defaults
        // (inferSchema/header)
        val reader = spark.read.format(format.name)
        val withSchema = schemaDdl match {
          case Some(ddl) => reader.schema(StructType.fromDDL(ddl))
          case None => reader.option("inferSchema", "true")
        }
        (if (format == SourceFormat.Csv) withSchema.option("header", "true") else withSchema)
          .options(readOptions)
          .load(t)
      case Some(t) => spark.table(t)
      case None => spark.sql(query.get)
    }
    val mapped = fieldMapping.foldLeft(base) { case (df, (from, to)) =>
      if (df.columns.contains(from)) df.withColumnRenamed(from, to) else df
    }
    // floorDiv: plain / truncates toward zero, so a pre-1970 timestamp with
    // fractional seconds would round a full second the wrong way
    def epochUs(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    // Partition-directory pruning: a time range implies bounds on the declared
    // date partition column (UTC date of the bound, compared as ISO strings —
    // order-correct and exactly the reference's `[:10]` truncation). These
    // land in the plan as PartitionFilters: whole directories are skipped
    // before a single row-group is opened — at 100 TB the difference between
    // reading a day and reading the table.
    def utcDate(t: Timestamp): String =
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val partPruned = datePartitionColumn
      .filter(_ => lower.isDefined || upper.isDefined)
      .filter(c => mapped.columns.contains(c))
      .map { c =>
        val conds = lower.map(t => col(c) >= lit(utcDate(t))).toSeq ++
          upper.map(t => col(c) <= lit(utcDate(t)))
        mapped.filter(conds.reduce(_ && _))
      }
      .getOrElse(mapped)
    // raw-space range filter on a ns-long timestamp column (scan-pushable)
    val rangeFiltered = timestampField.filter(_ => lower.isDefined || upper.isDefined)
      .flatMap(c => partPruned.schema.fields.find(_.name == c))
      .filter(_.dataType == LongType)
      .map { f =>
        // SAFE prefilter: widened by 999 ns on BOTH sides so it can never
        // exclude a row the exact semantic filter (applied below, after
        // normalization) would keep — `div 1000` truncates toward zero, so
        // the tight bound is direction-dependent for pre-1970 negatives;
        // admitting <1 µs of slack costs nothing and stays scan-pushable
        val conds =
          lower.map(t => col(f.name) >= lit(epochUs(t) * 1000L - 999L)).toSeq ++
            upper.map(t => col(f.name) <= lit(epochUs(t) * 1000L + 999L))
        partPruned.filter(conds.reduce(_ && _))
      }
      .getOrElse(partPruned)
    // Parquet TIMESTAMP(NANOS) columns surface as LongType nanoseconds under
    // spark.sql.legacy.parquet.nanosAsLong; normalize the declared temporal
    // columns to TimestampType (µs). Integer `div` — a double division would
    // lose precision above 2^53 ns (~1970+104 days).
    val normalized =
      (timestampField.toSeq ++ createdTimestampColumn.toSeq).distinct.foldLeft(rangeFiltered) {
        (df, c) =>
          df.schema.fields.find(_.name == c) match {
            case Some(f) if f.dataType == LongType =>
              df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
            case Some(f) if f.dataType == TimestampNTZType =>
              // parquet µs NTZ -> session-TZ timestamp (session is UTC, so the
              // instant is unchanged and matches DuckDB's epoch_us reading)
              df.withColumn(c, col(c).cast(TimestampType))
            case _ => df
          }
      }
    // exact semantic filter on the normalized column (for timestamp/ntz raw
    // columns this is the one that pushes, via Catalyst cast-unwrapping)
    timestampField.filter(_ => lower.isDefined || upper.isDefined)
      .filter(c => normalized.columns.contains(c))
      .map { c =>
        val conds = lower.map(t => col(c) >= lit(t)).toSeq ++
          upper.map(t => col(c) <= lit(t))
        normalized.filter(conds.reduce(_ && _))
      }
      .getOrElse(normalized)
  }

  /** Analysis-time existence check; throws [[GraftSourceNotFoundException]]
    * (ref: store.py:202-220 — cos summary / schema lookup / LIMIT 1 probe).
    * No Spark job when the source declares `schemaDdl` or is parquet, whose
    * schema comes from one footer read on the Spark driver
    * ([[FormatIO.readParquet]]). Spark's file listing still runs as a job
    * under a directory with more sub-directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32). A
    * schema-LESS csv/json path has to sample the files to infer — declare
    * the schema to keep validation free.
    */
  def validate(spark: SparkSession): Unit = {
    def probe(what: String)(body: => Unit): Unit =
      Try(body) match {
        case Success(_) => ()
        case Failure(_) => throw new GraftSourceNotFoundException(what)
      }
    table match {
      case Some(t) if isPath && format == SourceFormat.Avro =>
        probe(t)(AvroIO.readSchema(spark, t)) // one file header, no data read
      case Some(t) if isPath && format == SourceFormat.Parquet && schemaDdl.isEmpty =>
        probe(t)(FormatIO.readParquet(spark, t).schema)
      case Some(t) if isPath => probe(t) {
        val r = spark.read.format(format.name)
        (schemaDdl match {
          case Some(ddl) => r.schema(StructType.fromDDL(ddl))
          case None => r
        }).load(t).schema
      }
      case Some(t) =>
        if (!spark.catalog.tableExists(t)) throw new GraftSourceNotFoundException(t)
      case None =>
        probe(query.get)(spark.sql(s"SELECT * FROM (${query.get}) LIMIT 1").queryExecution.analyzed)
    }
  }

  /** (columnName, catalogTypeString) pairs (ref: store.py:228-251). Queries are
    * resolvable here (unlike the reference, Spark analysis is free), but a
    * broken source raises [[GraftSchemaError]] with the same surface.
    */
  def columnNamesAndTypes(spark: SparkSession): Seq[(String, String)] =
    Try(load(spark).schema) match {
      case Success(s) => s.fields.toSeq.map(f => (f.name, f.dataType.catalogString))
      case Failure(_) => throw new GraftSchemaError(table.orElse(query).getOrElse(name))
    }

  /** Engine-neutral types for each column (ref: store.py:253-286). */
  def columnValueTypes(spark: SparkSession): Seq[(String, ValueType)] =
    columnNamesAndTypes(spark).map { case (n, t) => (n, ValueType.fromCatalog(t)) }

  /** Config serialization round-trip — the analog of to_proto/from_proto
    * (ref: store.py:165-200, tests/test_ibm_data_engine.py:101-104).
    */
  def toJson: String = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.put("name", name)
    table.foreach(o.put("table", _))
    query.foreach(o.put("query", _))
    o.put("format", format.name)
    timestampField.foreach(o.put("timestamp_field", _))
    createdTimestampColumn.foreach(o.put("created_timestamp_column", _))
    schemaDdl.foreach(o.put("schema_ddl", _))
    datePartitionColumn.foreach(o.put("date_partition_column", _))
    o.put("description", description)
    o.put("owner", owner)
    val fm = o.putObject("field_mapping")
    fieldMapping.foreach { case (k, v) => fm.put(k, v) }
    val tg = o.putObject("tags")
    tags.foreach { case (k, v) => tg.put(k, v) }
    val ro = o.putObject("read_options")
    readOptions.foreach { case (k, v) => ro.put(k, v) }
    m.writeValueAsString(o)
  }
}

object GraftSource {
  /** Mirrors the reference constructor's name/table/query rules
    * (ref: store.py:140-153): require table or query; name defaults to table.
    */
  def of(
      name: Option[String] = None,
      table: Option[String] = None,
      query: Option[String] = None,
      format: SourceFormat = SourceFormat.Parquet,
      timestampField: Option[String] = None,
      createdTimestampColumn: Option[String] = None,
      fieldMapping: Map[String, String] = Map.empty,
      schemaDdl: Option[String] = None,
      datePartitionColumn: Option[String] = None,
      readOptions: Map[String, String] = Map.empty): GraftSource = {
    if (table.isEmpty && query.isEmpty)
      throw new IllegalArgumentException("No \"table\" or \"query\" argument provided.")
    val resolved = name.orElse(table).getOrElse(throw new GraftNoNameException)
    GraftSource(resolved, table, query, format, timestampField, createdTimestampColumn,
      fieldMapping, schemaDdl, datePartitionColumn = datePartitionColumn,
      readOptions = readOptions)
  }

  def parquet(path: String, fieldMapping: Map[String, String] = Map.empty): GraftSource =
    of(table = Some(path), fieldMapping = fieldMapping)

  def fromJson(json: String): GraftSource = {
    val n = new ObjectMapper().readTree(json)
    def opt(f: String): Option[String] = Option(n.get(f)).map(_.asText)
    def strMap(f: String): Map[String, String] = Option(n.get(f)) match {
      case Some(o: ObjectNode) =>
        o.fieldNames.asScala.map(k => k -> o.get(k).asText).toMap
      case _ => Map.empty
    }
    GraftSource(
      name = n.get("name").asText,
      table = opt("table"),
      query = opt("query"),
      format = SourceFormat.fromName(opt("format").getOrElse("parquet")),
      timestampField = opt("timestamp_field"),
      createdTimestampColumn = opt("created_timestamp_column"),
      fieldMapping = strMap("field_mapping"),
      schemaDdl = opt("schema_ddl"),
      description = opt("description").getOrElse(""),
      tags = strMap("tags"),
      owner = opt("owner").getOrElse(""),
      datePartitionColumn = opt("date_partition_column"),
      readOptions = strMap("read_options"))
  }
}
