package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Selection, sampling and layout: budgets, DSIR, splits, weighted and
  * stratified samples, corpus mixing, sharding, per-group and per-domain caps
  * and blocklist filters.
  */
object SamplingQueries extends QueryFamily {

  /** Deterministic synthetic URL per doc — documents carry no url column, so
    * derive one: the host cycles `doc_id % 7` over a fixed table spanning a
    * two-label public suffix (example.co.uk behind two subdomains), an
    * unknown TLD earmarked for the blocklist (spam.test, two subdomains),
    * a shared .org registrable domain, and a plain .net host; the DuckDB
    * twin replays the same list-index pick.
    */
  private val UrlHosts: Seq[String] = Seq(
    "news.example.co.uk", "blog.example.co.uk", "www.spam.test",
    "cdn.spam.test", "a.example.org", "b.example.org", "docs.sample.net")

  private def docsWithUrls(s: SparkSession, dir: String): DataFrame = {
    val host = element_at(array(UrlHosts.map(lit): _*),
      (col("doc_id") % 7).cast("int") + 1)
    docs(s, dir).select(col("doc_id"), col("source"),
      concat(lit("https://"), host, lit("/"), col("source"), lit("/"),
        col("doc_id")).as("url"))
  }

  /** Per-domain curation: registrable-domain extraction → blocklist
    * (spam.test) → deterministic 40-per-domain cap.
    */
  private def domainCapsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blocked = Seq("spam.test").toDF("value")
    ops.Url.domainCaps(docsWithUrls(s, dir), "url", "doc_id",
        maxPerDomain = 40, blockedDomains = blocked)
      .select("doc_id", "domain", "source")
  }
  // domain extraction is scan-speed and the blocklist anti join
  // broadcasts; the 4 are capPerGroup's documented two-phase machinery
  query("domain_caps", domainCapsQuery, Shuffles(4))(
    // domain curation: same synthetic host pick, registrable-domain rule
    // replayed over labels (last-2, or last-3 behind a two-label public
    // suffix), blocklist drop, then the 40-smallest-md5-digest cap per
    // domain (the cap_per_group replay, keyed on domain)
    """WITH u AS (SELECT doc_id, source,
      |  ['news.example.co.uk','blog.example.co.uk','www.spam.test',
      |   'cdn.spam.test','a.example.org','b.example.org',
      |   'docs.sample.net'][CAST(doc_id % 7 AS INT) + 1] AS host
      |  FROM documents),
      |d AS (SELECT doc_id, source,
      |  CASE WHEN len(string_split(host, '.')) <= 2 THEN host
      |       WHEN array_to_string(string_split(host, '.')[-2:], '.')
      |         IN ('co.uk','org.uk','gov.uk','ac.uk','com.au','co.jp')
      |         THEN array_to_string(string_split(host, '.')[-3:], '.')
      |       ELSE array_to_string(string_split(host, '.')[-2:], '.')
      |  END AS domain FROM u),
      |a AS (SELECT * FROM d WHERE domain <> 'spam.test')
      |SELECT doc_id, domain, source FROM (
      |  SELECT doc_id, domain, source,
      |    row_number() OVER (PARTITION BY domain
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM a)
      |WHERE rn <= 40""".stripMargin)

  /** DSIR-style importance resample: the 100 most English-like documents
    * (target = the `lang='en'` slice, raw = the whole corpus) by hashed
    * word-bigram probability ratio in the 2^20 fixed-point lane —
    * [[ops.Selection.importanceResample]]'s deterministic top-k.
    */
    /** Token-budget selection: deterministic integer quality (doc_id*7 % 101)
    * with real ties, n_chars as the token proxy, a 1M-token budget. */
  private def selectBudgetQ(s: SparkSession, dir: String): DataFrame =
    ops.Selection.selectToBudget(
      docs(s, dir).select(col("doc_id"),
        (col("doc_id") * 7 % 101).as("q"), col("n_chars")),
      "doc_id", "q", "n_chars", budget = 1000000L)
      .select("doc_id", "q", "n_chars", "cum_tokens")
  // per-(q, sub) sums (1) + the bounded offsets window's Single exchange
  // (1) + the per-group running-sum window re-key (1); offsets broadcast
  query("select_budget", selectBudgetQ, Shuffles(3))(
    // the two-phase cumulative sum replayed as one ordered window: same
    // (q desc, md5-sub, id) total order, same inclusive prefix rule
    """WITH d AS (SELECT doc_id, (doc_id * 7) % 101 AS q, n_chars,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) AS sub
      |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
      |c AS (SELECT doc_id, q, n_chars,
      |    CAST(sum(n_chars) OVER (ORDER BY q DESC, sub, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, q, n_chars, cum_tokens FROM c
      |WHERE cum_tokens <= 1000000""".stripMargin)

  private def dsirSelect(s: SparkSession, dir: String): DataFrame =
    ops.Selection.importanceResample(
      docs(s, dir).filter(col("lang") === "en"),
      docs(s, dir), "doc_id", "text", numBuckets = 1024, k = 100)
      .withColumnRenamed("id", "doc_id")
  // bucket-count tables are checkpointed (each corpus scanned once); the
  // static remainder is the two 1-row totals (2: partial→Single each) and
  // the per-doc score sum (1) — raw text never shuffles, only (id, bucket)
  // dsir_select's 1-row smoothing-totals broadcast: the scalar-attach idiom
  query("dsir_select", dsirSelect, ShufflesWithBnlj(3))(
    // DSIR replay end-to-end: bigram features → md5 buckets → target/raw
    // bucket counts → add-1 fixed-point probability ratio (HUGEINT
    // products, one integral division) → per-doc mean → deterministic
    // top-100 by (imp_q DESC, md5(doc_id), doc_id)
    s"""WITH $toksCte,
       |tp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t),
       |fb AS (SELECT doc_id,
       |  CAST(concat('0x', substr(md5(pair), 1, 6)) AS BIGINT) % 1024 AS b FROM tp),
       |tgt AS (SELECT fb.b FROM fb JOIN documents d USING (doc_id)
       |  WHERE d.lang = 'en'),
       |tc AS (SELECT b, count(*) AS c_t FROM tgt GROUP BY b),
       |rc AS (SELECT b, count(*) AS c_r FROM fb GROUP BY b),
       |tot AS (SELECT (SELECT count(*) FROM tgt) AS t_total,
       |  (SELECT count(*) FROM fb) AS r_total),
       |q AS (SELECT fb.doc_id,
       |  CAST((CAST(coalesce(tc.c_t, 0) + 1 AS HUGEINT)
       |      * (tot.r_total + 1024) * 1048576)
       |    // (CAST(coalesce(rc.c_r, 0) + 1 AS HUGEINT)
       |      * (tot.t_total + 1024)) AS BIGINT) AS q
       |  FROM fb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b), tot),
       |agg AS (SELECT d.doc_id, CAST(count(q.q) AS BIGINT) AS n_feats,
       |  CAST(coalesce(sum(q.q), 0) AS BIGINT) AS imp_sum
       |  FROM documents d LEFT JOIN q USING (doc_id) GROUP BY d.doc_id)
       |SELECT doc_id, n_feats, imp_sum,
       |  CAST(CASE WHEN n_feats = 0 THEN NULL
       |       ELSE imp_sum // n_feats END AS BIGINT) AS imp_q
       |FROM agg
       |ORDER BY imp_q DESC NULLS LAST, md5(CAST(doc_id AS VARCHAR)), doc_id
       |LIMIT 100""".stripMargin)

  /** Deterministic 80/10/10 corpus split keyed on doc_id. */
  /** Exact stratified split: per-lang EXACT 80/10/10 counts under the
    * deterministic (md5(doc_id), doc_id) shuffle. */
  private def splitExactQ(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.exactStratifiedSplit(
      docs(s, dir).select(col("doc_id"), col("lang")),
      Seq("lang"), "doc_id", Seq(("train", 80), ("val", 10), ("test", 10)))
      .select("doc_id", "lang", "split")
  // one window exchange on the strata keys (rank + count share it)
  query("split_exact", splitExactQ, Shuffles(1))(
    // exact per-stratum counts: same deterministic shuffle, same
    // cumulative-floor boundaries
    """WITH r AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents WHERE doc_id IS NOT NULL)
      |SELECT doc_id, lang,
      |  CASE WHEN rn <= (n * 80) // 100 THEN 'train'
      |       WHEN rn <= (n * 90) // 100 THEN 'val' ELSE 'test' END AS split
      |FROM r""".stripMargin)

  private def splitBucketsQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.splitBuckets(docs(s, dir).select("doc_id", "source"), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
  query("split_buckets", splitBucketsQuery, Shuffles(0))(
    // same md5 bucket rule as sample_hash, cut into consecutive ranges
    """WITH b AS (SELECT doc_id, source,
      |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      |    % 100 AS bk
      |  FROM documents WHERE doc_id IS NOT NULL)
      |SELECT doc_id, source,
      |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b""".stripMargin)

  private def sampleHash(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.hashSample(docs(s, dir), "doc_id", percent = 10)
      .select("doc_id", "lang", "source")
  query("sample_hash", sampleHash, Shuffles(0))(
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
      |      % 100 < 10""".stripMargin)

  private def filterBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blocked = Seq("src3", "src7", "src11").toDF("value")
    ops.Sampling.filterBlocklist(docs(s, dir), "source", blocked)
      .select("doc_id", "source")
  }
  query("filter_blocklist", filterBlocklist, Shuffles(0))(
    "SELECT doc_id, source FROM documents WHERE source NOT IN ('src3', 'src7', 'src11')")

  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
      Map("en" -> 5, "de" -> 40), defaultPercent = 80)
      .select("doc_id", "lang", "source")
  query("sample_stratified", sampleStratified, Shuffles(0))(
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
      |  < CASE WHEN lang = 'en' THEN 5 WHEN lang = 'de' THEN 40 ELSE 80 END""".stripMargin)

  private def shardLayout(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.shuffleShards(docs(s, dir).select("doc_id", "lang"), "doc_id",
      numShards = 8)
  // two-phase position assignment: the corpus shuffles once on
  // (shard, bucket); the other 3 exchanges belong to the tiny per-bucket
  // counts subtree (groupBy partial→final, the per-shard cumulative
  // window, and its join re-partition) and carry kilobytes at any SF
  query("shard_layout", shardLayout, Shuffles(4))(
    """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS dg FROM documents),
      |s AS (SELECT doc_id, lang, dg,
      |  CAST(CAST(concat('0x', substr(dg, 1, 6)) AS BIGINT) % 8 AS INT) AS shard
      |  FROM d)
      |SELECT doc_id, lang, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY dg, doc_id) - 1 AS BIGINT)
      |    AS position
      |FROM s""".stripMargin)

  /** Domain balancing: at most 37 docs per language, smallest-digest-first
    * (exact deterministic cap, not a rate sample).
    */
  private def capPerGroupQuery(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.capPerGroup(docs(s, dir).select("doc_id", "lang", "source"),
      "lang", "doc_id", maxPerGroup = 37)
  // same two-phase machinery as shard_layout: corpus join exchange +
  // counts partial→final + per-group cumulative window re-partition
  query("cap_per_group", capPerGroupQuery, Shuffles(4))(
    // exact deterministic cap: the kept set is the 37 smallest md5
    // digests per language — row_number over the same (digest, key) order
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 37""".stripMargin)

  /** Pretraining mixture: 2.5 epochs of src0, 1 epoch of src1, a 30% sample
    * of src2 — deterministic per doc_id.
    */
  private def mixCorporaQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "source")
    ops.Sampling.mixCorpora(Seq(
      ("web", d.filter(col("source") === "src0"), 250),
      ("books", d.filter(col("source") === "src1"), 100),
      ("code", d.filter(col("source") === "src2"), 30)), "doc_id")
  }
  query("mix_corpora", mixCorporaQuery, Shuffles(0))(
    """WITH b AS (SELECT doc_id, source,
      |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
      |    AS bucket FROM documents),
      |u AS (
      |  SELECT doc_id, source, 2 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END AS n,
      |    'web' AS mix_source FROM b WHERE source = 'src0'
      |  UNION ALL
      |  SELECT doc_id, source, 1 AS n, 'books' AS mix_source FROM b WHERE source = 'src1'
      |  UNION ALL
      |  SELECT doc_id, source, CASE WHEN bucket < 30 THEN 1 ELSE 0 END AS n,
      |    'code' AS mix_source FROM b WHERE source = 'src2')
      |SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id, mix_source
      |FROM u""".stripMargin)

  /** Temperature mixing over the three largest language corpora (en 218 /
    * zh 75 / es 73 at sf0.01): √-scaling downweights en to ~0.77 epochs and
    * upweights zh/es to ~1.3 — real discrimination, replayed exactly.
    */
  private def mixTemperatureQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "lang")
    ops.Sampling.temperatureMix(Seq(
      ("en", d.filter(col("lang") === "en")),
      ("zh", d.filter(col("lang") === "zh")),
      ("es", d.filter(col("lang") === "es"))), "doc_id")
  }
  // sizes are driver-side count jobs at build time; the mix itself is
  // mixCorpora's zero-shuffle projection
  query("mix_temperature", mixTemperatureQuery, Shuffles(0)) {
    // temperature-mix replay: per-corpus counts pivot into ONE row so the
    // √-sum is an explicit left-associated expression (the documented op
    // order; a SQL aggregate's float summation order is unspecified), the
    // pct derivation is the identical IEEE chain (sqrt is correctly
    // rounded — the α=½ contract), and the realized mixture replays the
    // mixCorpora whole-epoch + md5-bucket rule with the DERIVED pcts
    def pctSql(n: String) =
      s"CAST(floor(100.0 * sqrt(CAST($n AS DOUBLE)) * total / s / $n) AS INT)"
    s"""WITH n AS (SELECT
       |  count(*) FILTER (WHERE lang = 'en') AS n0,
       |  count(*) FILTER (WHERE lang = 'zh') AS n1,
       |  count(*) FILTER (WHERE lang = 'es') AS n2
       |  FROM documents WHERE doc_id IS NOT NULL),
       |p AS (SELECT n0, n1, n2, n0 + n1 + n2 AS total,
       |  sqrt(CAST(n0 AS DOUBLE)) + sqrt(CAST(n1 AS DOUBLE))
       |    + sqrt(CAST(n2 AS DOUBLE)) AS s FROM n),
       |w AS (SELECT ${pctSql("n0")} AS p0, ${pctSql("n1")} AS p1,
       |  ${pctSql("n2")} AS p2 FROM p),
       |b AS (SELECT doc_id, lang,
       |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
       |    AS bucket FROM documents),
       |u AS (
       |  SELECT doc_id, lang, p0 // 100 +
       |    CASE WHEN bucket < p0 % 100 THEN 1 ELSE 0 END AS n, 'en' AS mix_source
       |  FROM b, w WHERE lang = 'en'
       |  UNION ALL
       |  SELECT doc_id, lang, p1 // 100 +
       |    CASE WHEN bucket < p1 % 100 THEN 1 ELSE 0 END AS n, 'zh' AS mix_source
       |  FROM b, w WHERE lang = 'zh'
       |  UNION ALL
       |  SELECT doc_id, lang, p2 // 100 +
       |    CASE WHEN bucket < p2 % 100 THEN 1 ELSE 0 END AS n, 'es' AS mix_source
       |  FROM b, w WHERE lang = 'es')
       |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS INT) AS copy_id, mix_source
       |FROM u""".stripMargin
  }

  private def samplePriority(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.prioritySample(docs(s, dir).select("doc_id", "lang", "source"),
      "doc_id", k = 60, seed = "r5")
  query("sample_priority", samplePriority, Shuffles(0))(
    """SELECT doc_id, lang, source,
      |  md5('r5:' || CAST(doc_id AS VARCHAR)) AS priority
      |FROM documents ORDER BY priority, doc_id LIMIT 60""".stripMargin)

  /** Weighted exact-k: documents sampled proportional to token count (the
    * token-budget-proportional selection a pretraining mixer wants) — the
    * A-ES race with hash-only comparisons, every min-of-w draw and the
    * bottom-k cut replayed exactly in DuckDB.
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.weightedPrioritySample(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        least(size(graft.functions.tokens(col("text"))), lit(256))
          .cast("long").as("weight")),
      "doc_id", "weight", k = 50, seed = "w15")
  // the same TakeOrderedAndProject cut; the w md5 draws are in-row
  query("sample_weighted", sampleWeighted, Shuffles(0))(
    // A-ES weighted bottom-k: min of w seeded md5 draws per row (the
    // exponential race, no logarithm), bottom-k by (priority, key)
    """WITH t AS (SELECT doc_id, lang, source,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM documents),
      |w AS (SELECT doc_id, lang, source,
      |  CAST(least(len(toks), 256) AS BIGINT) AS weight FROM t),
      |p AS (SELECT doc_id, lang, source, weight,
      |  list_min(list_transform(range(1, CAST(weight AS INT) + 1),
      |    j -> md5('w15:' || CAST(doc_id AS VARCHAR) || ':' ||
      |              CAST(j AS VARCHAR)))) AS priority
      |  FROM w WHERE weight >= 1)
      |SELECT doc_id, lang, source, weight, priority
      |FROM p ORDER BY priority, doc_id LIMIT 50""".stripMargin)

  /** Per-language weighted exact-k: the language-balanced selection a
    * multilingual mixer wants — 12 docs per language, within-language
    * inclusion proportional to token count, one window exchange keyed on
    * lang.
    */
  private def sampleWeightedPerGroup(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.weightedSamplePerGroup(
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
        least(size(graft.functions.tokens(col("text"))), lit(256))
          .cast("long").as("weight")),
      Seq("lang"), "doc_id", "weight", k = 12, seed = "w15g")
  // the one per-group window exchange; no global sort anywhere
  query("sample_weighted_grouped", sampleWeightedPerGroup, Shuffles(1))(
    // the per-group A-ES cut: same min-of-w priority, row_number <= k
    // inside each language
    """WITH t AS (SELECT doc_id, lang, source,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM documents),
      |w AS (SELECT doc_id, lang, source,
      |  CAST(least(len(toks), 256) AS BIGINT) AS weight FROM t),
      |p AS (SELECT doc_id, lang, source, weight,
      |  list_min(list_transform(range(1, CAST(weight AS INT) + 1),
      |    j -> md5('w15g:' || CAST(doc_id AS VARCHAR) || ':' ||
      |              CAST(j AS VARCHAR)))) AS priority
      |  FROM w WHERE weight >= 1)
      |SELECT doc_id, lang, source, weight, priority FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY priority, doc_id) AS rn FROM p)
      |WHERE rn <= 12""".stripMargin)
}
