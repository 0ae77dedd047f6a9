package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a pure function of
  * (seed, table salt, row id) through `xxhash64`, so the same seed gives
  * the same rows at any partitioning; only the link graph's edge count
  * depends on the seed. Shapes follow the `events` and `documents` tables
  * that graft's tests use; all timestamps fall in the 30 days from
  * 2024-01-01 UTC.
  */
object Data {
  val T0Us: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  val DayUs: Long = 86400L * 1000000L
  val Days = 30
  private val Unit53 = (1L << 53).toDouble

  /** Uniform double in [0, 1) keyed by (seed, salt, id). */
  def u(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 53)).cast("double") / lit(Unit53)

  /** Integer in [0, n) with a Zipf-like head: `floor(n · u^exp)`; exp > 1
    * concentrates mass on small keys (exp = 2 puts ~1/√n of rows on key 0). */
  def skewed(seed: Long, salt: Int, id: Column, n: Long, exp: Double): Column =
    floor(pow(u(seed, salt, id), lit(exp)) * lit(n)).cast("long")

  def uniform(seed: Long, salt: Int, id: Column, n: Long): Column =
    floor(u(seed, salt, id) * lit(n)).cast("long")

  private def tsUs(us: Column): Column = timestamp_micros(us)

  /** events(event_id, ts, user_id, event_type, value, value_cents, dt), with
    * `dt` the UTC day as `yyyy-MM-dd` (the layout graft's date-partitioned
    * sources prune on). */
  def events(spark: SparkSession, seed: Long, rows: Long, users: Long): DataFrame = {
    val id = col("id")
    val cents = uniform(seed, 14, id, 20000L)
    spark.range(0, rows, 1, 4).select(
      id.as("event_id"),
      tsUs(lit(T0Us) + uniform(seed, 11, id, Days * DayUs)).as("ts"),
      skewed(seed, 12, id, users, 2.0).as("user_id"),
      element_at(array(Seq("view", "click", "cart", "buy", "error").map(lit): _*),
        (uniform(seed, 13, id, 5L) + 1).cast("int")).as("event_type"),
      (cents / 100.0).as("value"),
      cents.as("value_cents"))
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
  }

  /** Crawl link graph `(src, dst)` over the pages of `pages(doc_id)`: each
    * page links to 1..8 targets among the `targets` page ids 0 until
    * `targets`, drawn with a Zipf-like head (a few hub pages collect most
    * links); self-links are dropped, repeated links kept. */
  def links(pages: DataFrame, seed: Long, targets: Long): DataFrame = {
    val src = col("doc_id")
    pages.select(src.as("src"),
      explode(sequence(lit(1), (uniform(seed, 61, src, 8L) + 1).cast("int"))).as("j"))
      .select(col("src"), skewed(seed, 62, col("src") * 16 + col("j"), targets, 2.0).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  private val Vocab = Seq(
    "the", "of", "and", "to", "in", "is", "that", "with", "for", "a",
    "spark", "batch", "stream", "table", "column", "row", "key", "value",
    "join", "merge", "filter", "group", "window", "query", "scan", "sort",
    "hash", "vector", "feature", "store", "entity", "event", "order",
    "customer", "supplier", "part", "line", "data", "model", "training",
    "serving", "latency", "shuffle", "stage", "task", "driver", "plan",
    "cache", "index", "shard", "corpus", "document", "token", "sample")

  /** Raw crawled pages `(doc_id, html)`: `base` seeded documents of 40..100
    * vocabulary words, amplified `copies` times in the style of
    * `graft.Amplify` (each copy gets a prefix token and every fifth word
    * suffixed, so copies are not near-duplicates of each other), plus
    * planted duplicates per copy: every 10th document gets an exact twin
    * and every 7th a near-duplicate twin that differs in its last word.
    * The text sits in an HTML page with script/style/comment blocks and
    * entities that extraction must remove. */
  def documents(spark: SparkSession, seed: Long, base: Long, copies: Int): DataFrame = {
    val id = col("id")
    val len = (uniform(seed, 51, id, 61L) + 40).cast("int")
    val words = transform(sequence(lit(0), len - 1), i =>
      element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(52), id, i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val baseDocs = spark.range(0, base, 1, 4).select(id.as("base_id"), words.as("w"))
    val copied = baseDocs
      .withColumn("c", explode(sequence(lit(0), lit(copies - 1))))
      .select(
        (col("c") * base + col("base_id")).as("doc_id"),
        array_join(concat(array(concat(lit("c"), col("c").cast("string"))),
          transform(col("w"), (w, i) =>
            when(col("c") > 0 && pmod(i, lit(5)) === pmod(col("c"), lit(5)),
              concat(w, lit("x"), col("c").cast("string"))).otherwise(w))), " ").as("text"))
    val n = base * copies
    val exactTwins = copied.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + n).as("doc_id"), col("text"))
    val nearTwins = copied.filter(col("doc_id") % 7 === 5)
      .select((col("doc_id") + 2 * n).as("doc_id"),
        concat(regexp_replace(col("text"), "\\s+\\S+$", ""), lit(" variant")).as("text"))
    copied.unionByName(exactTwins).unionByName(nearTwins)
      .select(col("doc_id"), concat(
        lit("<html><head><title>t</title><style>p { margin: 0 }</style>" +
          "<script>var n = 1 && 2;</script><!-- nav --></head><body><p>"),
        col("text"),
        lit("</p><div>Tom &amp; Jerry &lt;3</div></body></html>")).as("html"))
  }
}
