package graft.sources

import java.sql.Timestamp

import graft.SparkTestBase
import graft.ops.{Incremental, LatestStore}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructType}

import scala.jdk.CollectionConverters._

/** [[FormatIO.readParquet]] must give exactly the schema (and rows) of
  * `spark.read.parquet` on every layout graft reads, without the inference
  * job, and must leave to Spark the cases a single footer cannot answer.
  */
class ParquetFooterSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val RowMetadata = "org.apache.spark.sql.parquet.row.metadata"
  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
  private def t(m: Long) = new Timestamp(1704067200000L + m * 60000L)
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Same schema and rows as Spark's inference, and no Spark job for it. */
  private def assertParity(path: String): StructType = {
    val (schema, jobs) = jobsOf(FormatIO.readParquet(spark, path).schema)
    assert(jobs === 0, s"$path: the footer read runs no job")
    val viaSpark = spark.read.parquet(path)
    assert(schema === viaSpark.schema, path)
    assert(FormatIO.readParquet(spark, path).collect().map(_.toString).sorted ===
      viaSpark.collect().map(_.toString).sorted, path)
    schema
  }

  /** The key-value metadata of `path`'s footer (or of the first parquet
    * file in `path`, a directory). */
  private def keyValueMetadata(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    val file = if (f.isFile) f else f.listFiles().find(_.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file.toString), hconf))
    try reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally reader.close()
  }

  test("bucket= latest store: Spark row metadata, partition column inferred as before") {
    val path = tmp("graft-fs-latest") + "/store"
    def up(rows: Seq[(Long, Timestamp, Long, String)]): Unit =
      LatestStore.upsertBatch(rows.toDF("user_id", "ts", "eid", "plan"), path, "user_id", "ts",
        Seq("plan"), numBuckets = 4, tieBreak = Some("eid"))
    up((0 until 30).map(i => (i.toLong, t(i), i.toLong, s"p$i")))
    up(Seq((3L, t(99), 99L, "new")))
    val bucketDir = new java.io.File(path).listFiles().find(_.getName.startsWith("bucket=")).get
    assert(keyValueMetadata(bucketDir.toString).contains(RowMetadata))
    val schema = assertParity(path)
    assert(schema.fieldNames.toSeq === Seq("user_id", "ts", "eid", "plan", "bucket"))
  }

  test("dt=/batch_id= state store: both partition columns typed as Spark infers them") {
    val path = tmp("graft-fs-state") + "/state"
    (0 until 3).foreach { d =>
      val batch = (0 until 10).map(i => (i % 4L, t(d * 1440L + i), i.toLong)).toDF("k", "ts", "v")
      Incremental.stateUpsertBatch(batch, path, Seq("k"), "ts", "v", batchId = d.toLong)
    }
    val schema = assertParity(path)
    assert(schema("dt").dataType === DateType && schema("batch_id").dataType === IntegerType)
  }

  test("nanosecond timestamps of a foreign-written source read as longs under nanosAsLong") {
    val path = s"${sf()}/events.parquet"
    assert(!keyValueMetadata(path).contains(RowMetadata), "test data is not Spark-written")
    val schema = assertParity(path)
    assert(schema.exists(_.dataType == LongType))
  }

  test("a file without Spark row metadata converts through the session's parquet conf") {
    val root = tmp("graft-fs-foreign") + "/src"
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional binary name (STRING);
        |  optional int32 day (DATE);
        |  optional int64 ts_us (TIMESTAMP(MICROS,true));
        |  optional int64 ts_ns (TIMESTAMP(NANOS,true));
        |  optional int64 local_us (TIMESTAMP(MICROS,false));
        |  optional double v;
        |  optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
        |}""".stripMargin)
    val dir = s"$root/dt=2024-01-02"
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/part-00000.parquet"), hconf)
    val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(hconf).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong).append("name", s"n$i")
        .append("day", 19724 + i).append("ts_us", 1704067200000000L + i)
        .append("ts_ns", 1704067200000000000L + i).append("local_us", 1704067200000000L - i)
        .append("v", i * 0.5)
      g.addGroup("tags").addGroup("list").append("element", s"t$i")
      writer.write(g)
    } finally writer.close()
    assert(!keyValueMetadata(dir).contains(RowMetadata))
    val read = assertParity(root)
    assert(read("ts_ns").dataType === LongType && read("dt").dataType === DateType)
  }

  test("an empty or missing directory raises Spark's own error") {
    val empty = tmp("graft-fs-empty")
    for (path <- Seq(empty, s"$empty/missing")) {
      val ours = intercept[AnalysisException](FormatIO.readParquet(spark, path))
      val spark0 = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition === spark0.getCondition, path)
      assert(ours.getMessage === spark0.getMessage, path)
    }
  }

  test("mergeSchema, as a read option or as a session conf, falls back to multi-footer inference") {
    val root = tmp("graft-fs-merge") + "/evolving"
    Seq((1L, "a")).toDF("id", "old").write.parquet(s"$root/part=1")
    Seq((2L, 7.5)).toDF("id", "added").write.parquet(s"$root/part=2")
    // one footer, exactly as Spark picks it: the first data file in path order
    assert(assertParity(root).fieldNames.toSeq === Seq("id", "old", "part"))
    val merged = spark.read.option("mergeSchema", "true").parquet(root).schema
    assert(merged.fieldNames.toSet === Set("id", "old", "added", "part"))
    assert(FormatIO.readParquet(spark, root, Map("mergeSchema" -> "true")).schema === merged)
    assert(FormatIO.readParquet(spark, root, Map("MERGESCHEMA" -> "true")).schema === merged)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(FormatIO.readParquet(spark, root).schema === merged)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // an explicit option still overrides the session conf, as in Spark
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(FormatIO.readParquet(spark, root, Map("mergeSchema" -> "false")).schema ===
      spark.read.option("mergeSchema", "false").parquet(root).schema)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
