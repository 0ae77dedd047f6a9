package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Sketches: count-min, HyperLogLog, KMV and quantile sketches.
  */
object SketchQueries extends QueryFamily {
  import TextQueries.sqlList

  /** Mergeable quantile sketch: per-lang bottom-64 md5-priority registers
    * over n_chars, estimates at p25/p50/p75 from the registers, plus a
    * fingerprint over every register priority — so the oracle pins the
    * whole digest pick bit-for-bit, not just the few rank rows. */
  private def quantileSketchQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("lang").isNotNull)
    val reg = ops.Sketch.quantileRegisters(d, Seq("lang"), "n_chars", "doc_id",
      k = 64, seed = "qsk14")
    val est = ops.Sketch.quantileEstimate(reg, Seq("lang"),
      Seq(250000L, 500000L, 750000L))
    val fp = reg.groupBy(col("lang")).agg(
      md5(array_join(sort_array(collect_list(col("priority"))), ",")
        .cast("binary")).as("registers_fp"))
    est.join(fp, Seq("lang"))
  }
  // the register window exchange on lang (shared by the estimate and
  // fingerprint branches) + the branch join re-exchange; both operands
  // are register-table-sized (k·groups rows), never the corpus
  query("quantile_sketch", quantileSketchQ, Shuffles(2))(
    // the whole digest pick replayed: bottom-64 md5 priorities per lang,
    // rank-picked estimates, and a fingerprint over every register row
    """WITH r AS (SELECT lang,
      |    md5('qsk14:' || CAST(doc_id AS VARCHAR)) AS priority,
      |    n_chars AS v,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('qsk14:' || CAST(doc_id AS VARCHAR)), n_chars) AS rn
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL),
      |reg AS (SELECT lang, priority, v FROM r WHERE rn <= 64),
      |rk AS (SELECT lang, priority, v,
      |    row_number() OVER (PARTITION BY lang ORDER BY v, priority) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n FROM reg),
      |fp AS (SELECT lang, md5(string_agg(priority, ',' ORDER BY priority))
      |    AS registers_fp FROM reg GROUP BY lang),
      |q(q_ppm) AS (VALUES (250000), (500000), (750000))
      |SELECT rk.lang, q.q_ppm, rk.n AS n_sample, rk.v AS estimate,
      |  fp.registers_fp
      |FROM rk JOIN q ON rk.rn = q.q_ppm * (rk.n - 1) // 1000000 + 1
      |JOIN fp ON rk.lang = fp.lang""".stripMargin)

  private val CmsWidth = 512
  private val CmsDepth = 4

  /** Probe mix: frequent corpus tokens, mid-frequency tokens, and two absent
    * ones (exact 0 — the estimate shows pure collision noise).
    */
  private val CmsProbes =
    Seq("table", "spark", "window", "hash", "scan", "the", "zebra", "qq")

  /** CMS inner-product join-size estimate next to the exact answer: the
    * broadcast-vs-shuffle planning primitive, estimate always ≥ truth.
    */
  private def cmsJoinSizeQuery(s: SparkSession, dir: String): DataFrame = {
    val evs = events(dir).load(s).select(col("user_id"))
    val ords = s.read.parquet(s"$dir/orders.parquet").select(col("o_custkey"))
    val skA = ops.Sketch.countMinSketch(evs, "user_id", CmsWidth, CmsDepth)
    val skB = ops.Sketch.countMinSketch(ords, "o_custkey", CmsWidth, CmsDepth)
    val est = ops.Sketch.cmsJoinSize(skA, skB, CmsDepth)
      .select(col("est_join_size").cast("long").as("est_join_size"))
    val truth = evs.join(ords, col("user_id") === col("o_custkey"))
      .agg(count(lit(1)).as("true_join_size"))
    est.crossJoin(truth)
  }
  // 2 per sketch build (key-count agg + cell agg), the b-side sketch is
  // broadcast into the dot join, per-row dot re-agg + Single for the min,
  // and the exact-truth branch's join + 1-row agg
  query("cms_join_size", cmsJoinSizeQuery, ShufflesWithBnlj(9))(
    // CMS inner-product join-size replay: per-side key counts → the
    // identical md5-chunk cells → per-row DECIMAL dot products, min over
    // a generated FULL row set (a zero-overlap row proves disjointness
    // and must drive the min to 0), next to the exact join count
    s"""WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |kb AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS c
       |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
       |sa AS (SELECT j,
       |    CAST(concat('0x', substr(md5(k), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
       |    CAST(sum(c) AS BIGINT) AS ca
       |  FROM (SELECT k, c, unnest([0, 1, 2, 3]) AS j FROM ka)
       |  GROUP BY 1, 2),
       |sb AS (SELECT j,
       |    CAST(concat('0x', substr(md5(k), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
       |    CAST(sum(c) AS BIGINT) AS cb
       |  FROM (SELECT k, c, unnest([0, 1, 2, 3]) AS j FROM kb)
       |  GROUP BY 1, 2),
       |dots AS (SELECT sa.j,
       |    sum(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS dot
       |  FROM sa JOIN sb ON sa.j = sb.j AND sa.cell = sb.cell GROUP BY sa.j),
       |rws AS (SELECT unnest([0, 1, 2, 3]) AS j),
       |est AS (SELECT CAST(min(coalesce(dot, 0)) AS BIGINT) AS est_join_size
       |  FROM rws LEFT JOIN dots USING (j)),
       |tr AS (SELECT count(*) AS true_join_size
       |  FROM events e JOIN orders o ON e.user_id = o.o_custkey)
       |SELECT est_join_size, true_join_size FROM est, tr""".stripMargin)

  private def cmsCounts(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(graft.functions.tokens(col("text"))).as("tok"))
    val sketch = ops.Sketch.countMinSketch(toks, "tok", CmsWidth, CmsDepth)
    val probes = s.createDataset(CmsProbes)(org.apache.spark.sql.Encoders.STRING)
      .toDF("tok")
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("_c"))
    val est = ops.Sketch.cmsEstimate(sketch, probes, "tok", CmsWidth, CmsDepth)
    est.join(exact, est("probe_key") === exact("tok"), "left")
      .select(est("probe_key").as("token"), col("est_count"),
        coalesce(col("_c"), lit(0L)).as("exact_count"))
  }
  query("cms_counts", cmsCounts, Shuffles(4))(
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(toks) AS tok FROM t),
       |kc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
       |kj AS (SELECT tok, c, unnest([0, 1, 2, 3]) AS j FROM kc),
       |cells AS (SELECT j,
       |  CAST(concat('0x', substr(md5(tok), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell,
       |  c FROM kj),
       |sk AS (SELECT j, cell, CAST(sum(c) AS BIGINT) AS cell_count
       |  FROM cells GROUP BY j, cell),
       |pr AS (SELECT unnest(${sqlList(CmsProbes)}) AS tok),
       |pj AS (SELECT tok, unnest([0, 1, 2, 3]) AS j FROM pr),
       |pc AS (SELECT tok, j,
       |  CAST(concat('0x', substr(md5(tok), 1 + 4 * j, 4)) AS BIGINT) % $CmsWidth AS cell
       |  FROM pj),
       |est AS (SELECT pc.tok, CAST(min(coalesce(sk.cell_count, 0)) AS BIGINT) AS est_count
       |  FROM pc LEFT JOIN sk ON sk.j = pc.j AND sk.cell = pc.cell GROUP BY pc.tok)
       |SELECT est.tok AS token, est.est_count,
       |  CAST(coalesce(kc.c, 0) AS BIGINT) AS exact_count
       |FROM est LEFT JOIN kc ON kc.tok = est.tok""".stripMargin)

  // shared HLL decode (p=8): 16-bit md5 chunks, 56-bit rest, rank ladder
  private[queries] lazy val hllChunks = (0 until 4).map(c =>
    s"CAST(concat('0x', substr(hx, ${1 + 4 * c}, 4)) AS BIGINT) AS c$c").mkString(", ")

  private[queries] lazy val hllRest = "((c0 % 256) << 48) | (c1 << 32) | (c2 << 16) | c3"

  private[queries] lazy val hllLadder = (1 to 56).map(r =>
    s"WHEN rest >= ${1L << (56 - r)} THEN $r").mkString(" ")

  private def hllRegistersQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.hllRegisters(events(dir).load(s),
      groupCols = Seq("event_type"), valueCol = "event_id", p = 8)
  query("hll_registers", hllRegistersQuery, Shuffles(1))(
    s"""WITH h AS (SELECT event_type,
       |  substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS hx FROM events),
       |c AS (SELECT event_type, $hllChunks FROM h),
       |b AS (SELECT event_type, c0 // 256 AS bucket, $hllRest AS rest FROM c),
       |r AS (SELECT event_type, bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
       |SELECT event_type, bucket, max(rank) AS max_rank
       |FROM r GROUP BY event_type, bucket""".stripMargin)

  /** The mergeability contract pinned THE HARD WAY: registers built
    * per-event-type and then MERGED (bucket-wise max, collapsing the type
    * dimension) must equal the oracle's registers built directly over the
    * union of rows — merge commutes with build, the property that lets
    * per-partition/per-day sketches roll up without raw values.
    */
  private def hllMergeQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.hllMergeRegisters(
      ops.Sketch.hllRegisters(
        events(dir).load(s)
          .filter(col("event_type").isin("click", "purchase")),
        groupCols = Seq("event_type"), valueCol = "event_id", p = 8),
      groupCols = Nil)
  // the per-type register aggregation (1) + the collapsing merge (1)
  query("hll_merge", hllMergeQuery, Shuffles(2))(
    // registers built DIRECTLY over the union of rows — the Spark side
    // built per-type and merged, so matching pins merge == rebuild
    s"""WITH h AS (SELECT substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS hx
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |c AS (SELECT $hllChunks FROM h),
       |b AS (SELECT c0 // 256 AS bucket, $hllRest AS rest FROM c),
       |r AS (SELECT bucket, CASE $hllLadder ELSE 57 END AS rank FROM b)
       |SELECT bucket, max(rank) AS max_rank FROM r GROUP BY bucket""".stripMargin)

  /** Shared KMV register build for the two kmv_* queries: per-source
    * bottom-256 sketches over the distinct-token universe (in-row
    * array_distinct BEFORE the explode keeps the exploded volume at
    * per-doc-vocabulary size, not token count).
    */
  private def kmvSourceRegisters(s: SparkSession, dir: String): DataFrame = {
    val toks = s.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(array_distinct(graft.functions.tokens(col("text")))).as("tok"))
    ops.Sketch.kmvRegisters(toks, Seq("source"), "tok", k = 256, seed = "kmv")
  }

  // per-source KMV bottom-256 registers over the distinct-token universe;
  // shared by kmv_distinct and kmv_jaccard (one definition, no drift)
  private lazy val KmvRegCtes =
    """tk AS MATERIALIZED (SELECT source,
      |  unnest(list_distinct(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0))) AS tok
      |  FROM documents),
      |hv AS MATERIALIZED (SELECT DISTINCT source,
      |  CAST(concat('0x', substr(md5(concat('kmv:', tok)), 1, 15)) AS BIGINT)
      |    AS kmv_h FROM tk),
      |rk AS MATERIALIZED (SELECT source, kmv_h, row_number() OVER (
      |  PARTITION BY source ORDER BY kmv_h) AS r FROM hv),
      |reg AS MATERIALIZED (SELECT source, kmv_h FROM rk WHERE r <= 256)""".stripMargin

  /** Per-source vocabulary-cardinality estimates from the KMV sketch —
    * below capacity the sketch is exact; at capacity the (k−1)·2^60/U_(k)
    * integral estimate engages (it does at every SF: 25 docs/source
    * already carry >256 distinct tokens).
    */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.kmvEstimate(kmvSourceRegisters(s, dir), Seq("source"), k = 256)
  // corpus (group, hash) distinct + the (group, hash mod 256) PREFILTER
  // window (r20: the parallel bottom-k superset that keeps the final
  // per-group window's input at ≤ 256·k rows instead of a single-task
  // sort of every distinct hash) + the group-partitioned bottom-k
  // window; the estimate agg clusters on the final window's partitioning
  query("kmv_distinct", kmvDistinctQ, Shuffles(3))(
    // KMV replay: one shared register CTE chain (distinct tokens →
    // 60-bit md5 hash → per-source bottom-256) serves both kmv oracles
    // so the replays cannot drift; 255·2^60 rides HUGEINT, `//` is the
    // integral division matching the engine's DECIMAL(38,0) div
    s"""WITH $KmvRegCtes
       |SELECT source, count(*) AS n_registers,
       |  CASE WHEN count(*) < 256 OR max(kmv_h) <= 0 THEN count(*)
       |    ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
       |      // max(kmv_h) AS BIGINT) END AS est_distinct
       |FROM reg GROUP BY source""".stripMargin)

  /** All 190 source-pair vocabulary overlaps from the same registers —
    * the intersect/Jaccard estimates HLL structurally cannot produce.
    */
  private def kmvJaccardQ(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.kmvPairwise(kmvSourceRegisters(s, dir), "source", k = 256)
  // membership-union groupBy on (a, b, h) + the per-pair bottom-k window
  // re-key to (a, b); register build + G² pair cross (a dimension-sized
  // BNLJ by design) sit behind build-time checkpoints
  query("kmv_jaccard", kmvJaccardQ, Shuffles(2))(
    s"""WITH $KmvRegCtes,
       |gs AS (SELECT DISTINCT source AS g FROM reg),
       |pr AS (SELECT a.g AS group_a, b.g AS group_b
       |  FROM gs a JOIN gs b ON a.g < b.g),
       |u AS (SELECT p.group_a, p.group_b, r.kmv_h,
       |    max(CASE WHEN r.source = p.group_a THEN 1 ELSE 0 END) AS ina,
       |    max(CASE WHEN r.source = p.group_b THEN 1 ELSE 0 END) AS inb
       |  FROM pr p JOIN reg r
       |    ON r.source = p.group_a OR r.source = p.group_b
       |  GROUP BY 1, 2, 3),
       |rk2 AS (SELECT *, row_number() OVER (
       |    PARTITION BY group_a, group_b ORDER BY kmv_h) AS r FROM u),
       |s AS (SELECT group_a, group_b,
       |    CAST(sum(ina * inb) AS BIGINT) AS n_common,
       |    count(*) AS n_union_sketch, max(kmv_h) AS hmax
       |  FROM rk2 WHERE r <= 256 GROUP BY 1, 2),
       |e AS (SELECT group_a, group_b, n_common, n_union_sketch,
       |    CASE WHEN n_union_sketch < 256 OR hmax <= 0 THEN n_union_sketch
       |      ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
       |        // hmax AS BIGINT) END AS union_est
       |  FROM s)
       |SELECT group_a, group_b, n_common, n_union_sketch, union_est,
       |  n_common * 1000000 // n_union_sketch AS jaccard_ppm,
       |  n_common * union_est // n_union_sketch AS intersect_est
       |FROM e""".stripMargin)
}
