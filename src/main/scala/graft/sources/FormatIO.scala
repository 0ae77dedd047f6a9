package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.Try

/** Unified WRITE side of the format family — the mirror of
  * [[GraftSource]]'s read dispatch (ref: data_engine_offline_store.py
  * 103-310 reads `format` the same way), so "format family" is a closed
  * write+read matrix: anything written here reads back through
  * `GraftSource.of(table, format)` and the FormatMatrixSpec pins the type
  * surface each format round-trips.
  *
  *  - parquet / orc / json: Spark's native writers (columnar codecs +
  *    whole-stage write path);
  *  - csv: native writer with `header=true` baked in — a headerless CSV
  *    directory is unreadable without a side-channel schema, and the read
  *    side's `schemaDdl` names columns by header;
  *  - avro: [[AvroIO.write]] (container files via the Hadoop output
  *    format — no spark-avro module offline).
  *
  * Writer parallelism = the frame's partitioning: one file per task, every
  * format splittable (or many-filed) on read — layout tuning (bucketing,
  * time partitions, shards) stays [[graft.ops.Layout]]'s job; this is the
  * FORMAT boundary only.
  *
  * The one read here is [[readParquet]], the schema-from-one-footer read
  * of the parquet graft itself writes (stores, state, sources).
  */
object FormatIO {

  /** Does `dt` contain a struct or map anywhere (incl. inside arrays)? */
  private def hasNested(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: StructType | _: MapType => true
      case ArrayType(e, _) => hasNested(e)
      case _ => false
    }
  }

  def write(
      df: DataFrame,
      path: String,
      format: SourceFormat,
      options: Map[String, String] = Map.empty): Unit = format match {
    case SourceFormat.Avro =>
      require(options.isEmpty, "AvroIO carries no writer options")
      AvroIO.write(df, path)
    case SourceFormat.Csv =>
      // the one flat-only format in the matrix: CSV has no nested syntax,
      // and Spark's writer would throw a generic AnalysisException deep in
      // the write — reject up front with the matrix's own typed error
      val nested = df.schema.fields.filter(f => hasNested(f.dataType))
      require(nested.isEmpty,
        s"CSV cannot represent nested types; nested columns: " +
          s"${nested.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}. " +
          "Use parquet/orc/json/avro (the nested-capable formats) or flatten first")
      df.write.mode("overwrite")
        .options(Map("header" -> "true") ++ options).csv(path)
    case SourceFormat.Json =>
      df.write.mode("overwrite").options(options).json(path)
    case SourceFormat.Orc =>
      df.write.mode("overwrite").options(options).orc(path)
    case SourceFormat.Parquet =>
      df.write.mode("overwrite").options(options).parquet(path)
  }

  /** `spark.read.parquet(path)` with the schema of ONE data file's footer,
    * read on the Spark driver. Without `mergeSchema`, Spark's inference also
    * takes one footer (the first data file in path order, which this
    * picks too), but it reads it in a Spark job; on the feature-store path,
    * where every read is a few small jobs, that job costs as much as the
    * read itself. The footer's Spark row metadata gives the schema as
    * written; a file without it (written by another engine) converts
    * through the session's parquet conf, so `nanosAsLong` applies as it
    * does to inference. Partition columns stay with Spark's directory
    * discovery, which types them as before.
    *
    * Spark infers instead (same schema, same errors) when `mergeSchema`
    * is on (option or session conf), when an option selects files, for a
    * glob path or a directory with summary files, when a partition column
    * is also a data column, and when no data file's footer reads: an empty
    * or missing directory raises Spark's own error.
    */
  def readParquet(
      spark: SparkSession,
      path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, path, options).fold(reader)(reader.schema).parquet(path)
  }

  private val fileSelecting =
    Seq("pathGlobFilter", "recursiveFileLookup", "modifiedBefore", "modifiedAfter")

  private def footerSchema(
      spark: SparkSession,
      path: String,
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val inferred = new ParquetOptions(options, conf).mergeSchema ||
      fileSelecting.exists(CaseInsensitiveMap(options).contains) ||
      path.exists("{}[]*?".contains(_))
    if (inferred) None
    else Try {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val top = fs.getFileStatus(root)
      val summary = top.isDirectory && Seq("_metadata", "_common_metadata")
        .exists(n => fs.exists(new Path(root, n)))
      (if (top.isFile) Some((top, Nil)) else if (summary) None else firstDataFile(fs, root))
        .flatMap { case (file, partCols) =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          val schema = ParquetFileFormat.readSchemaFromFooter(
            new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(conf))
          Some(schema).filterNot(_.fieldNames.exists(f => partCols.exists(_.equalsIgnoreCase(f))))
        }
    }.toOption.flatten
  }

  /** The data file with the smallest path under `dir`, as Spark's file
    * index sees it (hidden `_`/`.` names skipped, `k=v` directories kept),
    * with the partition column names of the directories above it. Sorting
    * a directory's names with `/` appended to sub-directories walks the
    * files in full path order, so the walk stops at the first data file
    * and lists only the directories on the way to it. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[(FileStatus, List[String])] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
      .iterator.map { s =>
        val name = s.getPath.getName
        if (s.isFile) Some((s, Nil))
        else firstDataFile(fs, s.getPath).map { case (f, parts) =>
          (f, if (name.contains("=")) name.takeWhile(_ != '=') :: parts else parts)
        }
      }.collectFirst { case Some(hit) => hit }
  }
}
