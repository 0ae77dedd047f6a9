package graft.sources

import graft.SparkTestBase
import graft.model._

/** Mirrors the reference's data-source tests
  * (ref: tests/test_ibm_data_engine.py:90-241).
  */
class GraftSourceSpec extends SparkTestBase {

  test("requires table or query (ref tests.py:90)") {
    val e = intercept[IllegalArgumentException](GraftSource.of())
    assert(e.getMessage.contains("table") && e.getMessage.contains("query"))
  }

  test("name defaults to table; query-only source needs a name (ref tests.py:96-100)") {
    assert(GraftSource.of(table = Some("t1")).name == "t1")
    intercept[GraftNoNameException](GraftSource.of(query = Some("SELECT 1")))
    assert(GraftSource.of(name = Some("q"), query = Some("SELECT 1")).name == "q")
  }

  test("value equality and hash over all config fields (ref tests.py:77-89)") {
    def mk() = GraftSource.of(table = Some("t"), timestampField = Some("ts"),
      fieldMapping = Map("a" -> "b"))
    assert(mk() == mk() && mk().hashCode == mk().hashCode)
    assert(mk() != mk().copy(fieldMapping = Map("a" -> "c")))
    assert(mk() != mk().copy(timestampField = Some("other")))
  }

  test("tableQueryString: backticked table vs parenthesized query (ref store.py:222-226)") {
    assert(GraftSource.of(table = Some("tbl")).tableQueryString == "`tbl`")
    assert(GraftSource.of(name = Some("n"), query = Some("SELECT 1")).tableQueryString
      == "(SELECT 1)")
  }

  test("json round-trip preserves every field (ref tests.py:101-104)") {
    val src = GraftSource.of(
      name = Some("evsrc"), table = Some("/tmp/x.parquet"),
      format = SourceFormat.Csv, timestampField = Some("ts"),
      createdTimestampColumn = Some("created"),
      fieldMapping = Map("a" -> "b", "c" -> "d"),
      schemaDdl = Some("a INT, c STRING"),
      readOptions = Map("mergeSchema" -> "true"))
    assert(GraftSource.fromJson(src.toJson) == src)
  }

  test("readOptions: mergeSchema surfaces columns added by schema evolution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/t"
    // v1 files lack the column a later writer added
    Seq((1L, "x")).toDF("id", "a").write.parquet(dir)
    Seq((2L, "y", 7.5)).toDF("id", "a", "score").write.mode("append").parquet(dir)
    val merged = GraftSource.of(table = Some(dir),
      readOptions = Map("mergeSchema" -> "true")).load(spark)
    assert(merged.columns.toSet === Set("id", "a", "score"),
      "union schema across file generations")
    val rows = merged.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(rows(1L).isEmpty, "pre-evolution rows read the new column as null")
    assert(rows(2L).contains(7.5))
  }

  test("format parsing rejects unknown (ref store.py:133-134)") {
    assert(SourceFormat.fromName("CSV") == SourceFormat.Csv)
    assert(SourceFormat.fromName("ORC") == SourceFormat.Orc)
    assert(SourceFormat.fromName("AVRO") == SourceFormat.Avro)
    val e = intercept[IllegalArgumentException](SourceFormat.fromName("xml"))
    assert(e.getMessage.contains("json, csv, parquet, orc, avro"))
  }

  test("orc source: write-read round-trip preserves rows and schema; json config round-trips") {
    val out = "target/graft-scratch/spec_orc"
    val orig = spark.read.parquet(s"${sf()}/nation.parquet")
    orig.write.mode("overwrite").orc(out)
    val src = GraftSource.of(table = Some(out), format = SourceFormat.Orc)
    assert(GraftSource.fromJson(src.toJson) == src)
    val back = src.load(spark)
    assert(back.schema == orig.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      orig.orderBy("n_nationkey").collect().toSeq)
  }

  test("validate: missing path and missing table raise source-not-found (ref store.py:202-220)") {
    intercept[GraftSourceNotFoundException](
      GraftSource.of(table = Some("/root/nonexistent/nope.parquet")).validate(spark))
    intercept[GraftSourceNotFoundException](
      GraftSource.of(table = Some("no_such_table")).validate(spark))
    // existing path validates fine
    GraftSource.parquet(s"${sf()}/events.parquet").validate(spark)
  }

  test("field_mapping renames on load (ref store.py:129-131)") {
    val df = GraftSource.of(
      table = Some(s"${sf()}/events.parquet"),
      fieldMapping = Map("value" -> "feature_value")).load(spark)
    assert(df.columns.contains("feature_value") && !df.columns.contains("value"))
  }

  test("schema retrieval returns (name, catalogType) pairs (ref store.py:228-251)") {
    val cols = GraftSource.parquet(s"${sf()}/customer.parquet").columnNamesAndTypes(spark)
    assert(cols.map(_._1) ==
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    assert(cols.toMap.apply("c_acctbal") == "double")
  }

  test("load works on a session built WITHOUT nanosAsLong (defensive conf)") {
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val df = GraftSource.of(
      table = Some(s"${sf()}/events.parquet"), timestampField = Some("ts")).load(fresh)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(df.limit(5).count() == 5)
  }

  test("timestampField normalizes parquet ns-long to TimestampType") {
    val df = GraftSource.of(
      table = Some(s"${sf()}/events.parquet"), timestampField = Some("ts")).load(spark)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("loadWithTimeRange: inclusive bounds, identical to post-load filtering") {
    import java.sql.Timestamp
    val src = GraftSource.of(
      table = Some(s"${sf()}/events.parquet"), timestampField = Some("ts"))
    val lo = Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = Timestamp.valueOf("2024-01-15 00:00:00")
    val viaRange = src.loadWithTimeRange(spark, Some(lo), Some(hi))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val viaFilter = src.load(spark)
      .filter(org.apache.spark.sql.functions.col("ts").between(lo, hi))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(viaRange == viaFilter && viaRange.nonEmpty)
    // half-open variants: only one bound set
    val lowerOnly = src.loadWithTimeRange(spark, Some(lo), None).count()
    val upperOnly = src.loadWithTimeRange(spark, None, Some(hi)).count()
    val all = src.load(spark).count()
    assert(lowerOnly < all && upperOnly < all)
    assert(lowerOnly + upperOnly >= all) // ranges overlap on [lo, hi]
  }

  test("ValueType mapping incl. arrays and unknowns (ref store.py:253-286, tests.py:162-191)") {
    import ValueType._
    assert(fromCatalog("bigint") == Int64)
    assert(fromCatalog("int") == Int32)
    assert(fromCatalog("smallint") == Int32)
    assert(fromCatalog("double") == Double)
    assert(fromCatalog("decimal(18,2)") == Double)
    assert(fromCatalog("string") == String)
    assert(fromCatalog("binary") == Bytes)
    assert(fromCatalog("boolean") == Bool)
    assert(fromCatalog("timestamp") == UnixTimestamp)
    assert(fromCatalog("array<float>") == FloatList)
    assert(fromCatalog("array<bigint>") == Int64List)
    assert(fromCatalog("array<string>") == StringList)
    assert(fromCatalog("array<timestamp>") == UnixTimestampList)
    assert(fromCatalog("map<string,int>") == Unknown)
    assert(fromCatalog("struct<a:int>") == Unknown)
  }
}
