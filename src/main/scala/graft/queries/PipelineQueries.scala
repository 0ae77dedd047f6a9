package graft
package queries

import java.sql.Timestamp
import java.time.Instant

import graft.ops.{Dedup, FeatureStoreOps, FeatureView, Multimodal, Similarity, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Capstone pipelines: multi-stage chains composed from the other families'
  * operators, each replayed end to end by one oracle.
  */
object PipelineQueries extends QueryFamily {
  import DedupQueries.{docsWithExactDups, docsWithPlantedRuns, windowDedupCtes}
  import EventQueries.{resampleFfillCtes, scd2Ctes}
  import FeatureStoreQueries.{decayedCtes, entCte, evCte, pitCtes}
  import MediaQueries.{imageHashCtes, imageNearDupMedia}
  import SimilarityQueries.{ivfTrainCtes, knnCorpus}
  import TextQueries.{allStops, docsWithLines, gKeepCond, gopherChain, htmlExtractCtes,
    lineFilterChain, lineFilterCtes, lmCtes, packSequences, withSyntheticHtml, withSyntheticLines}

  // MinHash-canonicalize replay over ANY (doc_id, text) CTE: all-pairs
  // shingle-Jaccard ground truth → transitive closure → (quality desc, id)
  // argmax. Requires WITH RECURSIVE. Ends in CTEs `ccl` (id, cluster) and
  // `cjq` (id, quality_score). Shared by pipeline_canonicalize (planted
  // corpus) and the crawl-full capstone (cleaned corpus).
  private def canonicalizeCtes(docSrc: String): String =
    s"""ct AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM $docSrc),
       |csh AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
       |    WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1),
       |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    ELSE [array_to_string(toks, ' ')] END) AS sh
       |  FROM ct),
       |ce AS (SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM csh a JOIN csh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        len(list_distinct(a.sh || b.sh)) >= 0.8),
       |cedges AS (SELECT a, b FROM ce UNION ALL SELECT b, a FROM ce),
       |creach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM ct
       |  UNION
       |  SELECT r.src, ed.b FROM creach r JOIN cedges ed ON r.dst = ed.a),
       |ccl AS (SELECT src AS id, min(dst) AS cluster FROM creach GROUP BY src),
       |ccnt AS (SELECT doc_id, text, len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars FROM ct),
       |cjq AS (SELECT doc_id AS id, round(
       |    least(n_tokens / 20.0, 1.0) * 0.25 +
       |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
       |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
       |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
       |    6) AS quality_score FROM ccnt)""".stripMargin

  /** The dedup END-GAME a platform actually ships: near-dup pairs (LSH) →
    * connected components → keep the BEST-QUALITY doc per cluster (max
    * quality_score, ties to min doc_id — not blindly min-id, which on a
    * crawl keeps whichever copy was crawled first, boilerplate and all).
    * The canonical pick runs as one `min(struct(-quality, id))` aggregate —
    * negation is IEEE-exact, so the (quality desc, id asc) argmax is
    * engine-identical and never a nondeterministic max_by.
    */
  private def pipelineCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    val clusters = Dedup.connectedComponents(u.select(col("doc_id").as("id")), pairs)
    val quality = TextAnalysis.qualityScore(u, "doc_id", "text")
      .select(col("doc_id").as("id"), col("quality_score"))
    clusters.join(quality, "id")
      .groupBy(col("cluster"))
      .agg(
        min(struct((-col("quality_score")).as("nq"), col("id").as("cid"))).as("_w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col("_w.cid").as("canonical_id"),
        (-col("_w.nq")).as("quality_score"), col("n_members"))
  }
  query("pipeline_canonicalize", pipelineCanonicalize, BuiltByJobs)(
    // same ground-truth clusters, then the canonical pick: max quality,
    // ties to min doc_id — the (quality desc, id) argmax both engines
    // compute on the identical round(.,6) score
    s"""WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
       |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
       |${canonicalizeCtes("u")},
       |j AS (SELECT ccl.cluster, ccl.id, cjq.quality_score,
       |  row_number() OVER (PARTITION BY ccl.cluster
       |    ORDER BY cjq.quality_score DESC, ccl.id) AS rn
       |  FROM ccl JOIN cjq USING (id))
       |SELECT cluster, max(CASE WHEN rn = 1 THEN id END) AS canonical_id,
       |  max(CASE WHEN rn = 1 THEN quality_score END) AS quality_score,
       |  count(*) AS n_members
       |FROM j GROUP BY cluster""".stripMargin)

  /** CCNet-deployment-shaped quality-stratified mixing: the corpus is
    * bucketed head/middle/tail on the bigram-LM score and re-weighted per
    * bucket (head 2.5 epochs, middle 1, tail 20%) through
    * [[ops.Sampling.mixCorpora]]. The cutoffs are CONSTANTS in the LM's
    * integer fixed-point lane (`score_sum >= T · n_bigrams` — no float
    * compare anywhere), which is how CCNet actually deploys: thresholds
    * learned once offline, applied as literals at scan speed — never a
    * global percentile pass over the full corpus. Docs with no bigram
    * evidence (lm_q null) fall to tail, not to a fabricated score.
    */
  private def pipelineQualityMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bucketed = TextAnalysis.lmScore(d, d, "doc_id", "text", minCount = 2)
      .select(col("id").as("doc_id"),
        when(col("n_bigrams") > 0 &&
            col("score_sum") >= lit(36600L) * col("n_bigrams"), "head")
          .when(col("n_bigrams") > 0 &&
            col("score_sum") >= lit(35700L) * col("n_bigrams"), "middle")
          .otherwise("tail").as("bucket"))
      // the three mixCorpora branches below each filter this table — the
      // lazy checkpoint materializes the scored corpus once, not thrice
      .localCheckpoint(false)
    def part(b: String) = bucketed.filter(col("bucket") === b).select("doc_id")
    ops.Sampling.mixCorpora(Seq(
        ("head", part("head"), 250),
        ("middle", part("middle"), 100),
        ("tail", part("tail"), 20)), "doc_id")
      .select(col("doc_id"), col("mix_source"), col("copy_id"))
  }
  // lmScore checkpoints its train tables eagerly while the DataFrame is
  // being BUILT (same machinery as lm_score, which carries a budget only
  // because its scored side stays un-checkpointed; here the bucketed
  // corpus is also checkpointed for the three mix branches)
  query("pipeline_quality_mix", pipelineQualityMix, BuiltByJobs)(
    // LM-score bucketing in the pure-integer lane (score_sum >= T *
    // n_bigrams) + the mixCorpora md5-bucket epoch rule, replayed
    // end-to-end: which copies exist is a pure function of the key
    s"""WITH $toksCte,
       |$lmCtes,
       |b AS (SELECT doc_id,
       |  CASE WHEN n_bigrams > 0 AND score_sum >= 36600 * n_bigrams THEN 'head'
       |       WHEN n_bigrams > 0 AND score_sum >= 35700 * n_bigrams THEN 'middle'
       |       ELSE 'tail' END AS bucket FROM lmagg),
       |mb AS (SELECT doc_id, bucket,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
       |    AS hb FROM b),
       |u AS (
       |  SELECT doc_id, bucket, 2 + CASE WHEN hb < 50 THEN 1 ELSE 0 END AS n
       |    FROM mb WHERE bucket = 'head'
       |  UNION ALL SELECT doc_id, bucket, 1 AS n FROM mb WHERE bucket = 'middle'
       |  UNION ALL SELECT doc_id, bucket, CASE WHEN hb < 20 THEN 1 ELSE 0 END AS n
       |    FROM mb WHERE bucket = 'tail')
       |SELECT doc_id, bucket AS mix_source, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id
       |FROM u""".stripMargin)

  /** The image-dedup chain END-TO-END (what a multimodal curation run
    * actually executes, the media twin of `pipeline_canonicalize`): decode
    * + hash ONCE (checkpointed — pairs and the id universe share the scan),
    * hamming near-dup pairs, connected components to transitive clusters,
    * min-id canonical labels with cluster sizes. Corrupt payloads fell out
    * at decode, so they appear in no cluster at all.
    */
  private def pipelineImageDedupQ(s: SparkSession, dir: String): DataFrame = {
    val hashes = Multimodal.dHash(s, imageNearDupMedia(s, dir))
      .select(col("item_id").as("id"), col("dhash").as("sig"))
      .localCheckpoint(false)
    val pairs = ops.Dedup.hammingNearDupPairs(hashes, maxHamming = 3, maxBucket = 1000000)
    val cc = ops.Dedup.connectedComponents(hashes.select(col("id")), pairs)
    val sz = cc.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    cc.join(sz, "cluster")
      .select(col("id"), col("cluster"), col("n_members"),
        (col("id") === col("cluster")).as("is_canonical"))
  }
  // near-dup pairs + per-iteration CC checkpoints (the dedup_clusters shape)
  query("pipeline_image_dedup", pipelineImageDedupQ, BuiltByJobs)(
    // the full image-dedup chain over the SAME hash fragment: near-dup
    // pairs → undirected transitive closure (recursive CTE — the
    // dedup_clusters pattern) → min-id canonical labels + cluster sizes
    s"""WITH RECURSIVE $imageHashCtes,
       |e AS (SELECT a.id AS a, b.id AS b FROM sig a JOIN sig b
       |  ON a.id < b.id WHERE bit_count(xor(a.sig, b.sig)) <= 3),
       |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |reach(src, dst) AS (
       |  SELECT id, id FROM sig
       |  UNION
       |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a),
       |lab AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
       |  FROM lab GROUP BY cluster)
       |SELECT l.id, l.cluster, s.n_members,
       |  l.id = l.cluster AS is_canonical
       |FROM lab l JOIN sz s USING (cluster)""".stripMargin)

  /** The composed feature-SERVING chain — what a training-set build or an
    * online-store backfill actually runs, pinned end-to-end the way the
    * LLM-side pipelines (rows 104/108/112/127) pin theirs: entity frame →
    * point-in-time feature pick over the events view (TTL + tie-break) →
    * batch recency feature (fixed-cutoff half-life-decayed sum, attached
    * per user) → SCD2 dimension regime attached AS-OF each entity row's
    * own timestamp (backward as-of pick ≡ interval containment, since
    * scd2's intervals tile each user's timeline). Every stage is the
    * already-oracled operator, so this query's contract is purely the
    * COMPOSITION: join keys, null propagation for users with no eligible
    * feature row, and the as-of boundary at interval edges.
    */
  private def pipelineFeatureServe(s: SparkSession, dir: String): DataFrame = {
    val fv = FeatureView("events", events(dir),
      entityKeys = Seq("user_id"), features = Seq("value", "event_type"),
      ttlSeconds = TtlSeconds, tieBreak = Some("event_id"))
    val pit = FeatureStoreOps.pointInTime(s, entityFrame(s, dir), Seq(fv)).toDF
      .select(col("user_id"), col("event_timestamp"),
        col("value").as("feat_value"), col("event_type").as("feat_event_type"))
    val recency = ops.Temporal.decayedSum(eventsFixedPoint(s, dir),
      keys = Seq("user_id"), tsCol = "ts", valueCol = "value",
      halfLifeSeconds = 21600L,
      asOf = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-31T00:00:00Z")))
    val dim = ops.Temporal.scd2(events(dir).load(s), "user_id", "ts", Seq("event_type"))
    ops.Temporal.asofJoin(pit.join(recency, Seq("user_id"), "left"), dim,
        keys = Seq("user_id"), leftTsCol = "event_timestamp",
        rightTsCol = "valid_from",
        leftIdCols = Seq("user_id", "event_timestamp"),
        rightValueCols = Seq("event_type"))
      .select(col("user_id"),
        unix_micros(col("event_timestamp")).as("event_timestamp_us"),
        col("feat_value"), col("feat_event_type"),
        col("n_events"), col("decayed_sum"),
        col("asof_event_type").as("regime_event_type"),
        unix_micros(col("asof_valid_from")).as("regime_since_us"))
  }
  // exactly the SUM of its stages' budgets — entity distinct + pit pick
  // (2), decayed agg (1), scd2 collapse + window (2), as-of arg-max (1);
  // every attach join broadcasts, so composition adds ZERO exchanges
  query("pipeline_feature_serve", pipelineFeatureServe, Shuffles(6))(
    // the full serving chain replayed from the SAME fragments as its
    // parts: PIT pick (pitCtes) + fixed-cutoff decayed recency
    // (decayedCtes) + SCD2 regime containment-attach (scd2Ctes)
    s"""WITH $entCte, $evCte, $pitCtes, $decayedCtes, $scd2Ctes,
       |att AS (
       |  SELECT p.user_id, p.ent_us, s.event_type AS regime_event_type,
       |         s.valid_from_us AS regime_since_us
       |  FROM pit p LEFT JOIN scd s ON s.user_id = p.user_id
       |    AND s.valid_from_us <= p.ent_us
       |    AND (s.valid_to_us IS NULL OR p.ent_us < s.valid_to_us))
       |SELECT p.user_id, p.ent_us AS event_timestamp_us,
       |       p.feat_value, p.feat_event_type,
       |       r.n_events, r.decayed_sum,
       |       a.regime_event_type, a.regime_since_us
       |FROM pit p
       |LEFT JOIN rec r ON r.user_id = p.user_id
       |LEFT JOIN att a ON a.user_id = p.user_id AND a.ent_us = p.ent_us""".stripMargin)

  /** Composed panel anomaly: the resampled + forward-filled panel (the
    * resample_ffill stage verbatim) fed to the z-score outlier rule grouped
    * by the carried regime label — HOLDING-STATE statistics instead of
    * event-arrival statistics (an irregular sampler's stats overweight
    * active periods; the filled panel weights every user-bucket equally).
    * The contract here is the COMPOSITION: the panel's column shapes feed
    * zScoreOutliers' integral-value gate unchanged.
    */
  private def pipelinePanelAnomalyQ(s: SparkSession, dir: String): DataFrame = {
    // stage boundary: zScoreOutliers consumes its input TWICE (the moment
    // branch and the attach side) — without the lazy checkpoint the whole
    // resample chain runs twice (the capstone multi-consumer lesson)
    val panel = ops.Temporal.resampleForwardFill(
      eventsFixedPoint(s, dir).withColumnRenamed("value", "v_cents"),
      tsCol = "ts", valueCols = Seq("v_cents", "event_type"),
      bucketSeconds = 21600L, maxFillBuckets = 8L,
      keys = Seq("user_id"), tieBreak = Some("event_id"))
      .localCheckpoint(false)
    ops.Stats.zScoreOutliers(panel, Seq("event_type"), "v_cents", z = 2.5)
      .select(col("user_id"),
        unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("event_type"), col("v_cents"),
        round(col("z_score"), 6).as("z_score"))
  }
  // the per-regime moment aggregation; the panel stage is a lazy
  // checkpoint boundary (zScoreOutliers consumes it twice — moment branch
  // + attach side), its own two exchanges are the resample_ffill budget;
  // the stats attach is a broadcast
  query("pipeline_panel_anomaly", pipelinePanelAnomalyQ, Shuffles(1))(
    // composed panel anomaly: the SAME resample chain, then the
    // value_outliers moment chain over the FILLED panel — holding-state
    // statistics, not event-arrival statistics
    s"""WITH $resampleFfillCtes,
       |panel AS (SELECT user_id, (bucket + i) * 21600000000 AS bucket_start_us,
       |    v_cents, event_type FROM g),
       |st AS (SELECT event_type, count(*) AS n,
       |    CAST(sum(v_cents) AS BIGINT) AS s,
       |    CAST(sum(v_cents * v_cents) AS BIGINT) AS ss
       |  FROM panel GROUP BY event_type),
       |m AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mu,
       |    sqrt(CAST(ss AS DOUBLE) / n
       |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sigma
       |  FROM st)
       |SELECT p.user_id, p.bucket_start_us, p.event_type, p.v_cents,
       |  round((CAST(v_cents AS DOUBLE) - mu) / sigma, 6) AS z_score
       |FROM panel p JOIN m USING (event_type)
       |WHERE sigma > 0
       |  AND abs((CAST(v_cents AS DOUBLE) - mu) / sigma) > 2.5""".stripMargin)

  /** Substring-clean THEN collapse — the composed cleaner a platform runs
    * when window dedup can empty docs entirely: [[Dedup.dedupWindows]] over
    * the planted corpus, then [[Dedup.exact]] on the CLEANED text, so every
    * fully-deduplicated doc (text_dedup = "") collapses into ONE canonical
    * empty doc and partially-cleaned docs that became identical collapse
    * too. Pins the composition: dedup_windows' output columns feed exact's
    * content key unchanged, and the canonical row's n_kept rides through
    * exact's arg-min struct.
    */
  private def pipelineSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Dedup.dedupWindows(docsWithPlantedRuns(s, dir), "doc_id", "text",
      windowTokens = 12, stride = 6)
    Dedup.exact(cleaned, Seq("text_dedup"), "id")
      .select(col("id").as("doc_id"), col("n_dups"), col("n_kept"))
  }
  // dedup_windows' two aggregation shuffles + the exact-collapse groupBy
  // on the cleaned text's digest
  query("pipeline_substring_dedup", pipelineSubstringDedup, Shuffles(3))(
    // the composed cleaner: window-dedup THEN exact-collapse of the
    // CLEANED text — the smallest doc_id per distinct cleaned text wins,
    // n_dups counts the collapse (all fully-deduplicated docs share '')
    s"""WITH $windowDedupCtes,
       |ex AS (SELECT doc_id, n_kept,
       |  row_number() OVER (PARTITION BY lower(trim(text_dedup))
       |    ORDER BY doc_id) AS rn,
       |  count(*) OVER (PARTITION BY lower(trim(text_dedup))) AS n_dups
       |  FROM fin)
       |SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups, n_kept
       |FROM ex WHERE rn = 1""".stripMargin)

  /** The crawl-ingest composition a platform runs page by page: C4 line
    * filter → quality score over the KEPT text → >= 0.5 cut → exact dedup
    * of the cleaned content. Pins the chain's column contracts: the line
    * filter's `text_kept` feeds the scorer's text column AND rides through
    * `keep` into exact's content key; the canonical row's score survives
    * the arg-min struct. Fully-line-filtered docs score 0.25 and drop at
    * the quality cut — an empty page is not trainable content.
    */
  /** The FULL crawl-curation capstone — the whole platform chained once:
    * HTML extract → synthetic-line split + C4 line filter → Gopher gate →
    * exact dedup → MinHash canonicalize → quality-stratified mix →
    * shuffle shards. Every stage is the standard operator at the standard
    * oracle parameters (the single-stage rows 123/125/147/17/112/110/56);
    * this function only pins the COLUMN CONTRACTS between them. Takes the
    * raw (doc_id, text) frame so the hand-survival spec can feed
    * controlled documents through all seven stages.
    */
  private[graft] def crawlFullPipeline(raw: DataFrame): DataFrame = {
    // 1 — HTML extraction over the standard synthetic wrapper
    val extracted = TextAnalysis
      .extractHtmlText(withSyntheticHtml(raw), "doc_id", "text")
      .select(col("doc_id"), col("text_extracted").as("text"))
    // 2 — line synthesis (the docsWithLines planting) + C4 line filter.
    // Lazy checkpoint: the Gopher stage's interpreted HOF lambdas reference
    // the text several times per row — on top of the unmaterialized
    // extract+line expression tree that re-evaluation costs ~12 s at sf0.1;
    // materialized strings bring the stage back to its standalone cost
    val filtered = TextAnalysis
      .filterLines(withSyntheticLines(extracted), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"))
      .localCheckpoint(false)
    // 3 — Gopher gate at the filter_gopher oracle thresholds
    val gophered = TextAnalysis.gopherFilter(filtered, "doc_id", "text_kept",
        minWords = 30, maxWords = 500, maxSymbolWordPct = 2,
        maxBulletLinePct = 15, maxEllipsisLinePct = 20, maxDupLinePct = 10,
        keep = Seq("text_kept"))
      .filter(col("keep"))
      .select(col("doc_id"), col("text_kept"))
    // 4 — exact dedup of the cleaned text (min doc_id canonical, n_dups).
    // Lazy checkpoint: the canonicalize stage reads this frame from FOUR
    // consumers (minhash explode, CC ids, quality, the argmax join-back) —
    // without it each one re-runs the whole stage-1..4 cleaning chain
    // (measured 41.8 s vs ~12 s at sf0.1)
    val exactDeduped = Dedup.exact(gophered, Seq("text_kept"), "doc_id")
      .localCheckpoint(false)
    // 5 — MinHash canonicalize (the pipeline_canonicalize chain)
    val pairs = Dedup.minHashLsh(exactDeduped, "doc_id", "text_kept",
      threshold = 0.8).select("a_id", "b_id")
    val clusters = Dedup.connectedComponents(
      exactDeduped.select(col("doc_id").as("id")), pairs)
    val quality = TextAnalysis
      .qualityScore(exactDeduped, "doc_id", "text_kept", keep = Seq("n_dups"))
      .select(col("doc_id").as("id"), col("n_dups"), col("quality_score"))
    val canon = clusters.join(quality, "id")
      .groupBy(col("cluster"))
      .agg(min(struct((-col("quality_score")).as("nq"), col("id").as("cid"),
          col("n_dups").as("nd"))).as("_w"),
        count(lit(1)).as("n_members"))
      .select(col("_w.cid").as("doc_id"), (-col("_w.nq")).as("quality_score"),
        col("_w.nd").as("n_dups"), col("n_members"))
      // the three mix branches below each filter this frame — materialize
      // the whole seven-stage chain once, not thrice (lazy: the mix's own
      // first job pays for it)
      .withColumn("bucket",
        when(col("quality_score") >= 0.75, "head")
          .when(col("quality_score") >= 0.65, "middle").otherwise("tail"))
      .localCheckpoint(false)
    // 6 — quality-stratified mixing (head 2 epochs, middle 1, tail 30%)
    def part(b: String) = canon.filter(col("bucket") === b)
      .select("doc_id", "quality_score", "n_dups", "n_members")
    val mixed = ops.Sampling.mixCorpora(Seq(
      ("head", part("head"), 200),
      ("middle", part("middle"), 100),
      ("tail", part("tail"), 30)), "doc_id")
    // 7 — shuffle-sharding on the (doc, copy) identity
    val keyed = mixed.withColumn("shard_key",
      concat(col("doc_id").cast("string"), lit("_"), col("copy_id").cast("string")))
    ops.Sampling.shuffleShards(keyed, "shard_key", numShards = 8)
      .select(col("doc_id"), col("mix_source"), col("copy_id"),
        col("quality_score"), col("n_dups"), col("n_members"),
        col("shard"), col("position"))
  }

  /** sf-corpus capstone run: documents plus exact twins (same text,
    * doc_id+100002 — offset ≡ 0 mod 3 keeps the line-punct planting
    * identical, so the twin's cleaned text is byte-identical and stage 4
    * provably collapses it; near-dup merging is pinned by the hand spec,
    * where token streams are controlled). */
  private def pipelineCrawlFull(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    crawlFullPipeline(d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 100002L)))
  }
  // seven-stage capstone: the canonicalize stage runs minhash + CC
  // checkpoints at build time (the pipeline_canonicalize signature)
  query("pipeline_crawl_full", pipelineCrawlFull, BuiltByJobs)(
    // the CAPSTONE: all seven stages chained from the SAME shared
    // fragments the single-stage oracles use (htmlExtractCtes,
    // toksCteFrom+lineFilterChain, gopherChain+gKeepCond,
    // canonicalizeCtes) — composition cannot drift from the stages
    s"""WITH RECURSIVE
       |u0 AS (SELECT doc_id, text FROM documents
       |       UNION ALL SELECT doc_id + 100002, text FROM documents),
       |${htmlExtractCtes("u0")},
       |x AS (SELECT doc_id, text_extracted AS text FROM f),
       |${toksCteFrom("x")},
       |$lineFilterChain,
       |g0 AS (SELECT doc_id, text_kept AS text FROM lf),
       |${gopherChain("g0")},
       |gk AS (SELECT g0.doc_id, g0.text FROM g0 JOIN gc USING (doc_id)
       |       WHERE $gKeepCond),
       |edd AS (SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
       |        count(*) AS n_dups
       |        FROM gk GROUP BY lower(trim(text))),
       |${canonicalizeCtes("edd")},
       |j2 AS (SELECT ccl.cluster, ccl.id, cjq.quality_score, nd.n_dups,
       |  row_number() OVER (PARTITION BY ccl.cluster
       |    ORDER BY cjq.quality_score DESC, ccl.id) AS rn,
       |  count(*) OVER (PARTITION BY ccl.cluster) AS n_members
       |  FROM ccl JOIN cjq USING (id)
       |  JOIN (SELECT doc_id AS id, n_dups FROM edd) nd USING (id)),
       |canon AS (SELECT id AS doc_id, quality_score, n_dups, n_members
       |  FROM j2 WHERE rn = 1),
       |bk AS (SELECT *,
       |  CASE WHEN quality_score >= 0.75 THEN 'head'
       |       WHEN quality_score >= 0.65 THEN 'middle' ELSE 'tail' END AS bucket,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
       |    AS hb FROM canon),
       |mu AS (
       |  SELECT doc_id, quality_score, n_dups, n_members, bucket, 2 AS n
       |    FROM bk WHERE bucket = 'head'
       |  UNION ALL SELECT doc_id, quality_score, n_dups, n_members, bucket, 1 AS n
       |    FROM bk WHERE bucket = 'middle'
       |  UNION ALL SELECT doc_id, quality_score, n_dups, n_members, bucket,
       |    CASE WHEN hb < 30 THEN 1 ELSE 0 END AS n
       |    FROM bk WHERE bucket = 'tail'),
       |mixed AS (SELECT doc_id, bucket AS mix_source,
       |  CAST(unnest(range(1, n + 1)) AS INT) AS copy_id,
       |  quality_score, n_dups, n_members FROM mu),
       |sd AS (SELECT *,
       |  CAST(doc_id AS VARCHAR) || '_' || CAST(copy_id AS VARCHAR) AS shard_key,
       |  md5(CAST(doc_id AS VARCHAR) || '_' || CAST(copy_id AS VARCHAR)) AS dg
       |  FROM mixed),
       |ss AS (SELECT *,
       |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 8 AS INT) AS shard
       |  FROM sd)
       |SELECT doc_id, mix_source, copy_id, quality_score,
       |  CAST(n_dups AS BIGINT) AS n_dups,
       |  CAST(n_members AS BIGINT) AS n_members, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, shard_key) - 1
       |    AS BIGINT) AS position
       |FROM ss""".stripMargin)

  private def pipelineCrawlClean(s: SparkSession, dir: String): DataFrame = {
    val filtered = TextAnalysis.filterLines(docsWithLines(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"))
    val scored = TextAnalysis
      .qualityScore(filtered, "doc_id", "text_kept", keep = Seq("text_kept"))
      .filter(col("quality_score") >= 0.5)
    Dedup.exact(scored, Seq("text_kept"), "doc_id")
      .select("doc_id", "n_dups", "quality_score")
  }
  // line filter + quality score are scan-speed projections; the one
  // exchange is exact dedup's content-digest groupBy
  query("pipeline_crawl_clean", pipelineCrawlClean, Shuffles(1))(
    // the crawl-ingest composition: line filter → quality score over the
    // KEPT text → >= 0.5 cut → exact dedup of the cleaned text (smallest
    // doc_id per distinct cleaned content wins; its score rides through)
    (s"""WITH $lineFilterCtes,
       |t2 AS (SELECT doc_id, text_kept AS text,
       |""".stripMargin +
      s"""  list_filter(string_split_regex(lower(trim(text_kept)), '\\s+'),
       |    x -> len(x) > 0) AS toks FROM lf),
       |c2 AS (SELECT doc_id, text, len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars FROM t2),
       |q2 AS (SELECT doc_id, text,
       |  round(
       |    least(n_tokens / 20.0, 1.0) * 0.25 +
       |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
       |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
       |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
       |    6) AS quality_score
       |  FROM c2),
       |f2 AS (SELECT * FROM q2 WHERE quality_score >= 0.5)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_dups,
       |       arg_min(quality_score, doc_id) AS quality_score
       |FROM f2 GROUP BY lower(trim(text))""".stripMargin))

  /** End-to-end corpus cleaning: quality-filter then exact-dedup, the
    * composition a training-data pipeline actually runs. Output = surviving
    * canonical docs with their quality score. `qualityScore` carries the text
    * through (`keep`), so the whole pipeline is ONE text pass and ONE shuffle
    * (the dedup groupBy) — no joins, no checkpoint; the canonical row's score
    * rides inside the dedup arg-min struct.
    */
  private def pipelineCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis
      .qualityScore(docsWithExactDups(s, dir), "doc_id", "text", keep = Seq("text"))
      .filter(col("quality_score") >= 0.5)
    Dedup.exact(scored, Seq("text"), "doc_id")
      .select("doc_id", "n_dups", "quality_score")
  }
  query("pipeline_clean_corpus", pipelineCleanCorpus, Shuffles(1))(
    s"""WITH u AS (SELECT * FROM documents UNION ALL
       |  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents),
       |t AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM u),
       |c AS (SELECT doc_id, text, len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars FROM t),
       |q AS (SELECT doc_id, text,
       |  round(
       |    least(n_tokens / 20.0, 1.0) * 0.25 +
       |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
       |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
       |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
       |    6) AS quality_score
       |  FROM c),
       |f AS (SELECT * FROM q WHERE quality_score >= 0.5)
       |SELECT min(doc_id) AS doc_id, count(*) AS n_dups,
       |       arg_min(quality_score, doc_id) AS quality_score
       |FROM f GROUP BY lower(trim(text))""".stripMargin)

  /** The end-to-end semantic-rebalance story a training-data platform runs
    * as one job: k-means cluster the embedding corpus (deterministic Lloyd,
    * broadcast-matrix kernel) → cap every cluster at 25 vectors (exact
    * digest-order cap — domain balancing) → deterministic shuffle-shards for
    * the training loader. Every stage is the already-oracle-checked operator;
    * this entry pins their COMPOSITION (column contracts, null-safety,
    * determinism through all three shuffles) end-to-end in DuckDB.
    */
  private def pipelineClusterShard(s: SparkSession, dir: String): DataFrame = {
    val clusters = Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 16)
    val capped = ops.Sampling.capPerGroup(clusters, "cluster", "id", maxPerGroup = 25)
      .select("id", "cluster")
    ops.Sampling.shuffleShards(capped, "id", numShards = 4)
      .select(col("id").as("vec_id"), col("cluster"), col("shard"), col("position"))
  }
  query("pipeline_cluster_shard", pipelineClusterShard, BuiltByJobs)(
    // composed pipeline: cluster (full Lloyd replay) → exact per-cluster
    // cap (37-rule of cap_per_group at 25) → shard+position (shard_layout
    // rule at 4) — one end-to-end determinism check across all stages
    s"""WITH ${ivfTrainCtes(16, 2)},
       |capped AS (SELECT id, cluster, md5(CAST(id AS VARCHAR)) AS dg FROM (
       |  SELECT id, cell AS cluster, row_number() OVER (PARTITION BY cell
       |    ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM afinal)
       |  WHERE rn <= 25),
       |sh AS (SELECT id, cluster, dg,
       |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 4 AS INT) AS shard
       |  FROM capped)
       |SELECT id AS vec_id, cluster, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, id) - 1 AS BIGINT)
       |    AS position
       |FROM sh""".stripMargin)

  /** The end-to-end TEXT loader-prep story, the text twin of
    * [[pipelineClusterShard]]: Gopher-rule quality filter (keep
    * quality_score >= 0.5) → greedy sequence packing of the survivors into
    * 512-token bins per source → deterministic shuffle-shards for the
    * training loader. Every stage is an already-oracle-checked operator;
    * this entry pins their COMPOSITION — that packing sees exactly the
    * filtered doc set (offsets/bins shift with every dropped doc) and the
    * shard positions stay deterministic over the packed rows.
    */
  private def pipelineTextPack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = d.join(
      TextAnalysis.qualityScore(d, "doc_id", "text")
        .filter(col("quality_score") >= 0.5).select("doc_id"),
      Seq("doc_id"))
    val packed = TextAnalysis.packSequences(kept, "doc_id", "text",
      tokenBudget = 512, partitionKey = "source")
    ops.Sampling.shuffleShards(
      packed.select("doc_id", "source", "n_tokens", "start_offset", "bin"),
      "doc_id", numShards = 4)
      .select("doc_id", "source", "n_tokens", "start_offset", "bin",
        "shard", "position")
  }
  // quality filter joins broadcast; the 4 = the per-source packing window
  // exchange + the shard-machinery trio shard_layout documents (corpus
  // (shard,bucket) exchange + tiny counts partial→final + cumulative join)
  query("pipeline_text_pack", pipelineTextPack, Shuffles(4))(
    // quality-filter → pack → shard replayed end-to-end: the offsets/bins
    // must reflect exactly the filtered doc set, and the shard positions
    // the packed rows — the composition, not each stage in isolation
    s"""WITH $toksCte,
       |c AS (SELECT doc_id, len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars FROM t),
       |q AS (SELECT doc_id FROM c WHERE round(
       |    least(n_tokens / 20.0, 1.0) * 0.25 +
       |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
       |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
       |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
       |    6) >= 0.5),
       |f AS (SELECT t.doc_id, t.toks, d.source FROM t
       |  JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
       |p AS (SELECT source, doc_id, len(toks) AS n_tokens,
       |  CAST(coalesce(sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) - len(toks), 0) AS BIGINT) AS start_offset,
       |  CAST(floor((coalesce(sum(len(toks)) OVER (PARTITION BY source
       |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len(toks), 0)) / 512)
       |    AS BIGINT) AS bin
       |  FROM f),
       |s AS (SELECT doc_id, source, n_tokens, start_offset, bin,
       |  md5(CAST(doc_id AS VARCHAR)) AS dg FROM p),
       |s2 AS (SELECT *, CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 4 AS INT)
       |  AS shard FROM s)
       |SELECT doc_id, source, n_tokens, start_offset, bin, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, doc_id) - 1 AS BIGINT)
       |    AS position
       |FROM s2""".stripMargin)
}
