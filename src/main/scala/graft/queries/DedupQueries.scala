package graft
package queries

import graft.ops.Dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Deduplication: exact, MinHash, SimHash, semantic, segment/window, CDC and
  * set-similarity joins, with their cluster and against-reference variants.
  */
object DedupQueries extends QueryFamily {
  import SimilarityQueries.{ivfDist2, ivfTrainCtes}

  /** documents ∪ exact copies at doc_id+100000 — planted exact duplicates. */
  private[queries] def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000L))
  }

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithExactDups(s, dir), Seq("text"), "doc_id")
      .select("doc_id", "n_dups")
  query("dedup_exact", dedupExact, Shuffles(1))(
    """WITH u AS (SELECT * FROM documents UNION ALL
      |  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents)
      |SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      |FROM u GROUP BY lower(trim(text))""".stripMargin)

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    // plant NEAR-duplicates: one token appended => word-3-gram Jaccard ~0.9
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8).select("a_id", "b_id")
  }
  query("dedup_minhash", dedupMinhash, BuiltByJobs)(
    // Ground truth is the full all-pairs Jaccard (feasible in DuckDB at the
    // oracle SF) — so this checks both LSH recall (banded candidates find
    // every true pair, planted AND organic) and verify precision.
    """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
      |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      len(list_distinct(a.sh || b.sh)) >= 0.8""".stripMargin)

  /** Incremental near-dup: the batch is every doc re-planted one token
    * longer (J ≈ 0.9 vs its original), the reference the originals — each
    * batch doc must pair with its reference twin, plus any organic
    * cross-corpus near-dups the all-pairs oracle finds.
    */
  private def dedupMinhashAgainst(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    Dedup.minHashLshAgainst(batch, d, "doc_id", "text", threshold = 0.8)
      .select("batch_id", "ref_id")
  }
  query("dedup_minhash_against", dedupMinhashAgainst, BuiltByJobs)(
    // cross-corpus ground truth: ALL (batch, ref) pairs by exact string-
    // shingle Jaccard — the LSH result must equal it pair-for-pair.
    // Recall assumption (documented at Dedup.minHashLshAgainst): exact
    // ground truth vs probabilistic LSH matches pair-for-pair only
    // because every true pair at this SF sits far above the band
    // S-curve's 50% point and no bucket nears maxBucket — a data/seed
    // change can break the gate without a code bug; check those two
    // assumptions first.
    """WITH b AS (SELECT doc_id + 100000 AS doc_id, text || ' graftdup' AS text
      |  FROM documents),
      |tb AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM b),
      |tr AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |shb AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM tb),
      |shr AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM tr)
      |SELECT a.doc_id AS batch_id, r.doc_id AS ref_id
      |FROM shb a JOIN shr r
      |  ON len(a.sh) > 0 AND len(r.sh) > 0
      | AND CAST(len(list_intersect(a.sh, r.sh)) AS DOUBLE) /
      |     len(list_distinct(a.sh || r.sh)) >= 0.8""".stripMargin)

  /** The same incremental question through the PERSISTED signature store:
    * build the store from the reference corpus, probe the batch against it
    * — must equal minHashLshAgainst on the same planting (shared oracle
    * ground truth). */
  private def dedupMinhashStoreQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup")))
    val store = s"$scratchDir/minhash_store"
    Dedup.buildSignatureStore(d, "doc_id", "text", store)
    Dedup.minHashLshAgainstStore(batch, "doc_id", "text", store, threshold = 0.8)
      .select("batch_id", "ref_id")
  }
  // store build writes three parquet slices at query-build time; the
  // returned plan reads the checkpointed batch side + the store
  query("dedup_minhash_store", dedupMinhashStoreQ, BuiltByJobs)(
    // the store-probed form is graded against the IDENTICAL ground truth
    """WITH b AS (SELECT doc_id + 100000 AS doc_id, text || ' graftdup' AS text
      |  FROM documents),
      |tb AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM b),
      |tr AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |shb AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM tb),
      |shr AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM tr)
      |SELECT a.doc_id AS batch_id, r.doc_id AS ref_id
      |FROM shb a JOIN shr r
      |  ON len(a.sh) > 0 AND len(r.sh) > 0
      | AND CAST(len(list_intersect(a.sh, r.sh)) AS DOUBLE) /
      |     len(list_distinct(a.sh || r.sh)) >= 0.8""".stripMargin)

  /** Exact set-similarity self-join over a graded corpus: appended-token
    * copies (J ~0.9, above the 0.8 cut) AND half-truncated copies (J ~0.45,
    * below it — the negative evidence that the threshold actually cuts);
    * oracle is the full all-pairs Jaccard, so prefix-filter completeness is
    * checked against ground truth, not another approximation.
    */
  private def setSimJoin(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(" graftdup"))))
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", firstHalf))
    Dedup.setSimilarityJoin(u, "doc_id", "text", threshold = 0.8)
  }
  // the plan hangs off the two lazily-checkpointed tables (narrow (id,h)
  // stream, ordered per-doc sets), and at gate SF the candidate and
  // verify joins broadcast — the one counted exchange is the candidate
  // distinct; the upstream df/re-agg exchanges live behind the
  // checkpoints (oracle + BASELINE cover them, the lm_score convention)
  query("set_similarity_join", setSimJoin, Shuffles(1))(
    // Full all-pairs ground truth again — the exact join must equal it
    // pair-for-pair AND value-for-value (inter/union/jaccard), which pins
    // prefix-filter completeness and the hash-set == string-set size claim.
    """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
      |  SELECT doc_id + 100000, text || ' graftdup' FROM documents UNION ALL
      |  SELECT doc_id + 200000, array_to_string(
      |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
      |  FROM (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
      |    FROM documents)),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        len(list_intersect(a.sh, b.sh)) AS inter_size,
      |        len(a.sh) AS asz, len(b.sh) AS bsz
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
      |       CAST(asz + bsz - inter_size AS BIGINT) AS union_size,
      |       CAST(inter_size AS DOUBLE) / (asz + bsz - inter_size) AS jaccard
      |FROM p
      |WHERE CAST(inter_size AS DOUBLE) / (asz + bsz - inter_size) >= 0.8""".stripMargin)

  /** Cosine set-similarity join over the SAME planted universe as
    * set_similarity_join, at 0.7 — where the two measures genuinely
    * diverge: a half-document vs its full original sits at Jaccard ≈ 0.5
    * (invisible to the 0.8 Jaccard join) but cosine ≈ √(|half|/|full|) ≈
    * 0.71, so the truncation pairs appear HERE and only here. The oracle is
    * the all-pairs cosine — prefix-filter recall measured, not assumed.
    */
  private def cosineSetJoinQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(" graftdup"))))
      .unionByName(d
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", firstHalf))
    Dedup.cosineSetJoin(u, "doc_id", "text", threshold = 0.7)
  }
  // the identical checkpointed-prefix engine with the t-squared bounds
  query("cosine_set_join", cosineSetJoinQ, Shuffles(1))(
    // cosine sibling: the identical all-pairs universe, Ochiai over the
    // distinct shingle sets, the same IEEE multiply/sqrt/divide chain
    """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
      |  SELECT doc_id + 100000, text || ' graftdup' FROM documents UNION ALL
      |  SELECT doc_id + 200000, array_to_string(
      |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
      |  FROM (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
      |    FROM documents)),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        len(list_intersect(a.sh, b.sh)) AS inter_size,
      |        len(a.sh) AS asz, len(b.sh) AS bsz
      |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
      |       CAST(inter_size AS DOUBLE) / sqrt(CAST(asz * bsz AS DOUBLE)) AS cosine
      |FROM p
      |WHERE CAST(inter_size AS DOUBLE) / sqrt(CAST(asz * bsz AS DOUBLE)) >= 0.7""".stripMargin)

  /** Containment join over documents plus planted first-half excerpts —
    * the asymmetric measure: excerpt→original containment is exactly 1.0
    * (every shingle of the half is a shingle of the full) while Jaccard and
    * cosine both shrink with the host's length. Directed all-pairs ground
    * truth in the oracle: prefix-filter + full-posting-probe recall is
    * measured, not assumed.
    */
  private def containmentJoinQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val t = graft.functions.tokens(col("text"))
    val firstHalf =
      array_join(slice(t, lit(1), floor((size(t) + lit(1)) / lit(2)).cast("int")), " ")
    val u = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", firstHalf))
    Dedup.containmentJoin(u, "doc_id", "text", threshold = 0.9)
  }
  // query-prefix × full-postings probe over the same checkpointed engine;
  // the one counted exchange is the candidate distinct
  query("containment_join", containmentJoinQ, Shuffles(1))(
    // asymmetric sibling: DIRECTED all-pairs containment — the planted
    // first-half excerpts sit at containment 1.0 into their originals
    """WITH u AS (SELECT doc_id, text FROM documents UNION ALL
      |  SELECT doc_id + 100000, array_to_string(
      |    list_slice(tk, 1, (len(tk) + 1) // 2), ' ')
      |  FROM (SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
      |    FROM documents)),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |        len(list_intersect(a.sh, b.sh)) AS inter_size,
      |        len(a.sh) AS asz
      |      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      |      WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |SELECT a_id, b_id, CAST(inter_size AS BIGINT) AS inter_size,
      |       CAST(asz AS BIGINT) AS a_sz,
      |       CAST(inter_size AS DOUBLE) / asz AS containment
      |FROM p
      |WHERE CAST(inter_size AS DOUBLE) / asz >= 0.9""".stripMargin)

  /** Canonical duplicate-cluster assignment: LSH pairs -> connected
    * components -> every doc labeled with its cluster's min doc_id.
    */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    Dedup.connectedComponents(u.select(col("doc_id").as("id")), pairs)
  }
  query("dedup_clusters", dedupClusters, BuiltByJobs)(
    // connected components as a recursive CTE over the same ground-truth
    // edge set (transitive closure is tiny: near-dup clusters are shallow)
    """WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
      |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |e AS (SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(a.sh || b.sh)) >= 0.8),
      |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM u
      |  UNION
      |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a)
      |SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src""".stripMargin)

  /** Same ground-truth corpus and oracle as dedup_clusters, labels computed
    * by the large-star/small-star contraction instead of min-label. */
  private def dedupClustersLs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(d
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graftdup"))))
    val pairs = Dedup.minHashLsh(u, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id")
    Dedup.connectedComponentsLS(u.select(col("doc_id").as("id")), pairs)
  }
  query("dedup_clusters_ls", dedupClustersLs, BuiltByJobs)(
    // the LS/SS variant is graded against the IDENTICAL ground truth
    """WITH RECURSIVE u AS (SELECT doc_id, text FROM documents UNION ALL
      |           SELECT doc_id + 100000, text || ' graftdup' FROM documents),
      |t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM u),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |e AS (SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(a.sh || b.sh)) >= 0.8),
      |edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM u
      |  UNION
      |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a)
      |SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src""".stripMargin)

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(docsWithExactDups(s, dir), "doc_id", "text", maxHamming = 3)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
  query("dedup_simhash", dedupSimhash, BuiltByJobs) {
    // SimHash ground truth: DuckDB recomputes the exact md5-chunk signature
    // per doc and does the (feasible at oracle SF) all-pairs hamming — so
    // this checks banded-candidate recall (pigeonhole: hamming<=3 over 4
    // chunks) AND signature correctness bit-for-bit.
    val chunks = (0 until 4).map(c =>
      s"CAST(concat('0x', substr(hx, ${1 + 4 * c}, 4)) AS BIGINT) AS c$c").mkString(", ")
    val bits = (0 until 64).map(b =>
      s"sum(CASE WHEN ((c${3 - b / 16} >> ${b % 16}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val sig = (0 until 63).map(j =>
      s"CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END").mkString(" + ") +
      " + CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0::BIGINT END"
    s"""WITH u AS (SELECT doc_id, text FROM documents UNION ALL
       |  SELECT doc_id + 100000, text FROM documents),
       |t AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS toks
       |  FROM u),
       |tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |cc AS (SELECT doc_id, $chunks FROM (SELECT doc_id, md5(tok) AS hx FROM tk)),
       |bits AS (SELECT doc_id, $bits FROM cc GROUP BY doc_id),
       |sig0 AS (SELECT doc_id, $sig AS sim FROM bits),
       |sig AS (SELECT u.doc_id, coalesce(s.sim, 0::BIGINT) AS sim
       |        FROM u LEFT JOIN sig0 s USING (doc_id))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin
  }

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // positive scaling keeps both the cosine (=1) and every hyperplane sign
    val e = embs(s, dir)
    val u = e.unionByName(e
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f))))
    Dedup.embeddingNearDup(u, "vec_id", "embedding", dim = 64).select("a_id", "b_id")
  }
  query("dedup_embedding", dedupEmbedding, Shuffles(2))(
    "SELECT vec_id AS a_id, vec_id + 100000 AS b_id FROM embeddings")

  /** SemDeDup over the embedding corpus with planted scaled twins (float
    * multiply, bit-identical in DuckDB — cosine ≈ 1 vs a measured organic
    * maximum of 0.51 at the gate SF, so the 0.98 cut is margin-safe) and a
    * deterministic integer quality `vec_id*7 % 101`: twin and original get
    * DIFFERENT qualities, so the survivor is the best-quality group member —
    * often the planted twin, never blindly the min id.
    */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val u = e.unionByName(e
      .withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f))))
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") * 7 % 101).as("quality"))
    Dedup.semanticDedup(u, "vec_id", "embedding", "quality",
      numClusters = 16, threshold = 0.98)
  }
  query("dedup_semantic", dedupSemantic, BuiltByJobs) {
    // SemDeDup replay: full deterministic-Lloyd train+assign over the
    // twin-planted corpus (float-exact: FLOAT*FLOAT is IEEE single in
    // both engines, and a float product of 24-bit mantissas is exact in
    // the double it rounds from), within-cluster pairs at cosine >= 0.98
    // (organic max measured 0.51 — margin-safe), recursive-CTE closure,
    // then the (quality desc, id) argmax pick per semantic group
    val corpus =
      """SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT))
        |  FROM embeddings)""".stripMargin
    s"""WITH RECURSIVE ${ivfTrainCtes(16, 2, corpusSql = corpus)},
       |p AS (SELECT a.id AS a, b.id AS b FROM afinal a JOIN afinal b
       |  ON a.cell = b.cell AND a.id < b.id
       |  WHERE list_cosine_similarity(a.v, b.v) >= 0.98),
       |edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
       |reach(src, dst) AS (
       |  SELECT id, id FROM c
       |  UNION
       |  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a),
       |grp AS (SELECT src AS id, min(dst) AS group_id FROM reach GROUP BY src),
       |m AS (SELECT g.id, g.group_id, (g.id * 7) % 101 AS quality,
       |  count(*) OVER (PARTITION BY g.group_id) AS n_members,
       |  row_number() OVER (PARTITION BY g.group_id
       |    ORDER BY (g.id * 7) % 101 DESC, g.id) AS rn
       |  FROM grp g)
       |SELECT id AS vec_id, group_id,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  CAST(quality AS BIGINT) AS quality
       |FROM m WHERE rn = 1""".stripMargin
  }

  /** Incremental SemDeDup: reference = the whole embeddings corpus; batch =
    * scaled twins of every 3rd vector (semantic dups — must pair with their
    * originals) + reversed embeddings of every (3k+1)th (novel — must pair
    * with nothing). Cosine stays out of the projection (float-op-order
    * across engines — the dedup_embedding discipline); the pair SET is the
    * checked artifact. */
  private def dedupSemanticAgainstQ(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val batch = e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"))
      .unionByName(e.filter(col("vec_id") % 3 === 1)
        .select((col("vec_id") + 200000L).as("vec_id"),
          reverse(col("embedding")).as("embedding")))
    Dedup.semanticDedupAgainst(batch, e.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", numClusters = 16)
      .select("batch_id", "ref_id")
  }
  // frozen-centroid train collects the centroid matrix at build time
  // (the kmeans_clusters signature)
  query("dedup_semantic_against", dedupSemanticAgainstQ, BuiltByJobs) {
    // frozen-centroid incremental SemDeDup: train on the reference only
    // (the ivfTrainCtes chain), assign the batch against the FINAL
    // centroid table, cross-side pairs within a cell at cosine >= 0.98
    s"""WITH ${ivfTrainCtes(16, 2)},
       |bat AS (SELECT id, CAST(v AS DOUBLE[]) AS v FROM (
       |  SELECT vec_id + 200000 AS id,
       |    list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT)) AS v
       |  FROM embeddings WHERE vec_id % 3 = 0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_reverse(embedding)
       |  FROM embeddings WHERE vec_id % 3 = 1)),
       |ba AS (SELECT id, v, cell FROM (
       |  SELECT c.id, c.v, t.cell, row_number() OVER (PARTITION BY c.id
       |    ORDER BY ${ivfDist2("c.v", "t.cv")}, t.cell) AS rn
       |  FROM bat c CROSS JOIN cent_2 t) WHERE rn = 1)
       |SELECT ba.id AS batch_id, a.id AS ref_id
       |FROM ba JOIN afinal a ON ba.cell = a.cell
       |WHERE list_cosine_similarity(ba.v, a.v) >= 0.98""".stripMargin
  }

  /** Shared by the two segment cleaners: the test corpus has no natural
    * line breaks, so derive deterministic ones — every 12 tokens → one
    * "\n"-joined segment (the DuckDB twins build the identical segments from
    * token positions; ONE definition here so the two operators' prepared
    * inputs cannot drift).
    */
  private def twelveTokenSegments(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segText = when(size(toks) > 0,
      array_join(transform(sequence(lit(0), nSeg - 1),
        i => array_join(slice(toks, i * 12 + 1, lit(12)), " ")), "\n")).otherwise(lit(""))
    docs(s, dir).select(col("doc_id"), segText.as("seg_text"))
  }

  /** C4-style segment dedup over the synthesized 12-token segments. */
  private def dedupSegmentsQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(twelveTokenSegments(s, dir), "doc_id", "seg_text")
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_segments"), col("n_kept"))
  // segment dedup: the two aggregation shuffles (first-occurrence arg-min
  // on the digest, per-doc reassembly); the winners join broadcasts at
  // bench SF and becomes a co-partitioned shuffle join at scale
  query("dedup_segments", dedupSegmentsQuery, Shuffles(2))(
    // segment dedup: identical 12-token segments built from token
    // positions; first occurrence = row_number() over (doc_id, pos)
    s"""WITH $toksCte,
       |ex AS (SELECT doc_id, unnest(toks) AS tok,
       |  generate_subscripts(toks, 1) AS p FROM t),
       |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
       |  string_agg(tok, ' ' ORDER BY p) AS seg
       |  FROM ex GROUP BY doc_id, (p - 1) // 12),
       |rn AS (SELECT doc_id, pos, seg,
       |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM segs),
       |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_dedup,
       |  count(*) AS n_kept FROM rn WHERE rn = 1 GROUP BY doc_id),
       |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
       |  FROM segs GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
       |  coalesce(nseg.n_segments, 0) AS n_segments,
       |  coalesce(agg.n_kept, 0) AS n_kept
       |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin)

  /** Intra-doc repetition removal over the same synthesized 12-token
    * segments: repeats WITHIN a doc collapse to the first occurrence,
    * cross-doc repeats untouched (the zero-shuffle member of the family).
    */
  private def dedupWithinDocQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupWithinDoc(twelveTokenSegments(s, dir), "doc_id", "seg_text")
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_segments"), col("n_kept"))
  query("dedup_within_doc", dedupWithinDocQuery, Shuffles(0))(
    // same segment synthesis, but keep-first runs PER DOC (partition by
    // doc_id, seg) — cross-doc repeats must survive
    s"""WITH $toksCte,
       |ex AS (SELECT doc_id, unnest(toks) AS tok,
       |  generate_subscripts(toks, 1) AS p FROM t),
       |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
       |  string_agg(tok, ' ' ORDER BY p) AS seg
       |  FROM ex GROUP BY doc_id, (p - 1) // 12),
       |rn AS (SELECT doc_id, pos, seg,
       |  row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn FROM segs),
       |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_dedup,
       |  count(*) AS n_kept FROM rn WHERE rn = 1 GROUP BY doc_id),
       |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
       |  FROM segs GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
       |  coalesce(nseg.n_segments, 0) AS n_segments,
       |  coalesce(agg.n_kept, 0) AS n_kept
       |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin)

  /** DF-based boilerplate strip over the same synthesized 12-token
    * segments: segments in more than one document vanish from every doc.
    */
  private def stripBoilerplateQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplate(twelveTokenSegments(s, dir), "doc_id", "seg_text",
        maxDocFreq = 1)
      .select(col("id").as("doc_id"), col("text_kept"),
        col("n_segments"), col("n_kept"))
  // boilerplate strip: distinct (digest, doc) + per-digest count + per-doc
  // reassembly; the boilerplate anti join broadcasts at this SF/threshold
  // but is broadcast-OR-shuffle by the set's actual size (maxDocFreq = 1
  // on a real crawl makes it corpus-scaled → shuffle anti on the 32-byte
  // digest, i.e. +2 exchanges beyond this budget, keys-only, acceptable)
  query("strip_boilerplate", stripBoilerplateQuery, Shuffles(3))(
    // boilerplate strip: segments whose distinct-doc frequency exceeds 1
    // are removed from every carrier; rarer segments survive everywhere
    s"""WITH $toksCte,
       |ex AS (SELECT doc_id, unnest(toks) AS tok,
       |  generate_subscripts(toks, 1) AS p FROM t),
       |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
       |  string_agg(tok, ' ' ORDER BY p) AS seg
       |  FROM ex GROUP BY doc_id, (p - 1) // 12),
       |boiler AS (SELECT seg FROM (
       |  SELECT seg, count(DISTINCT doc_id) AS dfreq FROM segs GROUP BY seg)
       |  WHERE dfreq > 1),
       |keep AS (SELECT s.doc_id, s.pos, s.seg FROM segs s
       |  WHERE s.seg NOT IN (SELECT seg FROM boiler)),
       |agg AS (SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text_kept,
       |  count(*) AS n_kept FROM keep GROUP BY doc_id),
       |nseg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
       |  FROM segs GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.text_kept, '') AS text_kept,
       |  coalesce(nseg.n_segments, 0) AS n_segments,
       |  coalesce(agg.n_kept, 0) AS n_kept
       |FROM t LEFT JOIN nseg USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin)

  private lazy val plantedToksCtes =
    (s"""d AS (SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 0 THEN text || ' ' ||
       |    repeat('pad ', CAST(doc_id % 5 AS INT)) || ' $PlantedRun'
       |  ELSE text END AS text FROM documents),
       |wt AS (SELECT doc_id,
       |""".stripMargin +
      """  list_filter(string_split_regex(lower(trim(text)), '\s+'),
       |    x -> len(x) > 0) AS toks FROM d),
       |sz AS (SELECT doc_id, toks, coalesce(len(toks), 0) AS n FROM wt)""".stripMargin)

  /** Incremental crawl ingest over the planted corpus: the accepted
    * reference snapshot is every 3rd doc, the batch is the rest — the
    * planted run rides BOTH sides (doc_id % 4 crosses doc_id % 3), so
    * batch windows die against reference substrings at misaligned offsets
    * AND against earlier batch occurrences.
    */
  private def dedupWindowsAgainstQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docsWithPlantedRuns(s, dir)
    Dedup.dedupWindowsAgainst(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", windowTokens = 12, stride = 6)
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_tokens"), col("n_kept"))
  }
  // the two aggregation shuffles (batch-first arg-min, per-doc interval
  // collect); the reference gram-digest distinct + anti join live BEHIND
  // the post-anti checkpoint (corpus-scaled at 100 TB -> shuffle anti on
  // 32-byte digests, the stripBoilerplate posture)
  query("dedup_windows_against", dedupWindowsAgainstQuery, Shuffles(2))(
    // incremental window dedup: reference (doc_id % 3 = 0) enumerates
    // k-grams at STRIDE 1 — containment at any offset — batch windows
    // die via NOT IN against that gram set, then batch-first arg-min
    // and the same interval reassembly, output batch docs only
    (s"""WITH $plantedToksCtes,
       |""".stripMargin +
      """rst AS (SELECT doc_id, n, unnest(
       |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
       |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
       |       ELSE range(0, n - 11) END) AS p
       |  FROM sz WHERE doc_id % 3 = 0),
       |refg AS (SELECT DISTINCT
       |  array_to_string(sz.toks[rst.p + 1 : rst.p + least(12, rst.n)], ' ') AS g
       |  FROM rst JOIN sz USING (doc_id)),
       |bst AS (SELECT doc_id, n, unnest(
       |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
       |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
       |       ELSE list_distinct(list_append(range(0, n - 11, 6),
       |         CAST(n - 12 AS BIGINT))) END) AS p
       |  FROM sz WHERE doc_id % 3 <> 0),
       |w AS (SELECT bst.doc_id, bst.p, least(12, bst.n) AS wlen,
       |  array_to_string(sz.toks[bst.p + 1 : bst.p + least(12, bst.n)], ' ') AS wtext
       |  FROM bst JOIN sz USING (doc_id)),
       |fr AS (SELECT * FROM w WHERE wtext NOT IN (SELECT g FROM refg)),
       |rn AS (SELECT doc_id, p, wlen,
       |  row_number() OVER (PARTITION BY wtext ORDER BY doc_id, p) AS rn FROM fr),
       |alive AS (SELECT doc_id, p, wlen FROM rn WHERE rn = 1),
       |iv AS (SELECT doc_id, unnest(range(p, p + wlen)) AS i FROM alive),
       |ki AS (SELECT DISTINCT doc_id, i FROM iv),
       |kept AS (SELECT ki.doc_id, ki.i, sz.toks[CAST(ki.i AS INT) + 1] AS tok
       |  FROM ki JOIN sz USING (doc_id)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
       |  count(*) AS n_kept FROM kept GROUP BY doc_id)
       |SELECT sz.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
       |  CAST(sz.n AS BIGINT) AS n_tokens,
       |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
       |FROM sz LEFT JOIN agg USING (doc_id)
       |WHERE sz.doc_id % 3 <> 0""".stripMargin))

  /** 30-token run planted by [[docsWithPlantedRuns]] — fixed content, no
    * punctuation, already lowercase so the planted text IS its token stream.
    */
  private val PlantedRun: String =
    "the quick brown fox jumps over the lazy dog while ninety nine red " +
      "balloons drift across the harbor and the band plays on through the " +
      "long hot summer night again"

  /** documents with the fixed [[PlantedRun]] appended to every 4th doc
    * behind a VARYING pad-token prefix (doc_id % 5 pads) — cross-doc
    * duplicate substrings at arbitrary token offsets, deliberately
    * straddling any 12-token segment alignment: the case the segment
    * family (rows 96/100/111) cannot catch and sliding-window dedup
    * exists for. NULL text stays NULL (concat propagates), matching the
    * DuckDB `||` twin.
    */
  private[queries] def docsWithPlantedRuns(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" "),
          array_join(array_repeat(lit("pad"), (col("doc_id") % 5).cast("int")), " "),
          lit(" "), lit(PlantedRun)))
        .otherwise(col("text")).as("text"))

  /** Content-defined chunking dedup over a prefix-insertion plant: every
    * copy gains ONE leading token ('zzz'), the edit that de-aligns every
    * fixed-offset window — rolling-hash boundaries re-synchronize after
    * the first gramSize windows, so the copy shares essentially all its
    * chunks with its original and the duplicate-chunk report lights up.
    * All boundary hashes, chunk texts, and counts replay exactly.
    */
  private def cdcDupChunksQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val u = d.unionByName(
      d.withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("text", concat(lit("zzz "), col("text"))))
    Dedup.cdcDuplicateChunks(u, "doc_id", "text", gramSize = 8, modulus = 16)
  }
  // boundary detection + chunk assembly + hashing are one in-row
  // projection; the report's COUNT DISTINCT doc pays the two-phase
  // distinct-aggregate pair of exchanges ((hash, id) then hash)
  query("cdc_dup_chunks", cdcDupChunksQ, Shuffles(2))(
    // CDC replay: rolling-hash boundaries (md5-prefix integer % 16 over
    // each 8-token window), chunk assembly between consecutive ends,
    // duplicate-content report — the prefix-insertion plant resyncs
    """WITH u AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 200000, 'zzz ' || text FROM documents),
      |tk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM u),
      |ch AS (SELECT doc_id, toks, len(toks) AS n,
      |  list_filter(range(8, len(toks) + 1), i ->
      |    (CAST(concat('0x', substr(md5(array_to_string(
      |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
      |    AS bpos
      |  FROM tk WHERE len(toks) >= 1),
      |ce AS (SELECT doc_id, toks,
      |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
      |       ELSE list_append(bpos, n) END AS ends FROM ch),
      |cx AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(ends) + 1), k ->
      |      struct_pack(
      |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
      |                               ELSE ends[k - 1] + 1 END) + 1,
      |        txt := array_to_string(list_slice(toks,
      |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
      |          ends[k]), ' ')))) AS c
      |  FROM ce),
      |r AS (SELECT doc_id, md5(c.txt) AS chunk_hash,
      |    CAST(c.ntk AS INT) AS ntk FROM cx)
      |SELECT chunk_hash, min(ntk) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  min(doc_id) AS first_id
      |FROM r GROUP BY chunk_hash HAVING count(*) > 1""".stripMargin)

  /** Cross-snapshot CDC dedup: the accepted reference is every third doc,
    * the nightly batch is the rest PLUS zzz-prefixed copies of reference
    * docs — copies of ACCEPTED content that a fixed grid would miss after
    * the leading insertion. Plants separate cleanly (median ~676k
    * dup_token_ppm vs 0 organic at sf0.01): everything after the first
    * boundary matches; the head chunk honestly absorbs the edit, and a
    * short doc whose ONLY chunk is the whole text cannot resync at all —
    * the documented CDC granularity floor.
    */
  private def cdcDedupAgainstQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ref = d.filter(col("doc_id") % 3 === 0)
    val batch = d.filter(col("doc_id") % 3 =!= 0)
      .unionByName(ref.withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", concat(lit("zzz "), col("text"))))
    Dedup.cdcDedupAgainst(batch, ref, "doc_id", "text",
      gramSize = 8, modulus = 16)
  }
  // the reference digest distinct (1) + the per-doc report agg (1); the
  // probe join rides a broadcast at gate SF, text never shuffles
  query("cdc_dedup_against", cdcDedupAgainstQ, Shuffles(2))(
    // incremental CDC: reference chunk digests vs the batch's chunks,
    // token-weighted dup ppm per batch doc; the zzz plant must resync
    """WITH refd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
      |  UNION ALL SELECT doc_id + 300000, 'zzz ' || text
      |  FROM documents WHERE doc_id % 3 = 0),
      |rtk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM refd),
      |rch AS (SELECT doc_id, toks, len(toks) AS n,
      |  list_filter(range(8, len(toks) + 1), i ->
      |    (CAST(concat('0x', substr(md5(array_to_string(
      |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
      |    AS bpos
      |  FROM rtk WHERE len(toks) >= 1),
      |rce AS (SELECT doc_id, toks,
      |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
      |       ELSE list_append(bpos, n) END AS ends FROM rch),
      |rcx AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(ends) + 1), k ->
      |      struct_pack(
      |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
      |                               ELSE ends[k - 1] + 1 END) + 1,
      |        txt := array_to_string(list_slice(toks,
      |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
      |          ends[k]), ' ')))) AS c
      |  FROM rce),
      |rh AS (SELECT DISTINCT md5(c.txt) AS h FROM rcx),
      |btk AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM bat),
      |bch AS (SELECT doc_id, toks, len(toks) AS n,
      |  list_filter(range(8, len(toks) + 1), i ->
      |    (CAST(concat('0x', substr(md5(array_to_string(
      |       list_slice(toks, i - 7, i), ' ')), 1, 8)) AS BIGINT) % 16) = 0)
      |    AS bpos
      |  FROM btk WHERE len(toks) >= 1),
      |bce AS (SELECT doc_id, toks,
      |  CASE WHEN len(bpos) > 0 AND bpos[-1] = n THEN bpos
      |       ELSE list_append(bpos, n) END AS ends FROM bch),
      |bcx AS (SELECT doc_id,
      |    unnest(list_transform(range(1, len(ends) + 1), k ->
      |      struct_pack(
      |        ntk := ends[k] - (CASE WHEN k = 1 THEN 1
      |                               ELSE ends[k - 1] + 1 END) + 1,
      |        txt := array_to_string(list_slice(toks,
      |          CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
      |          ends[k]), ' ')))) AS c
      |  FROM bce),
      |br AS (SELECT doc_id, md5(c.txt) AS h,
      |    CAST(c.ntk AS BIGINT) AS ntk FROM bcx)
      |SELECT br.doc_id AS id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(ntk) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_chunks,
      |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN ntk ELSE 0 END) AS BIGINT)
      |    AS n_dup_tokens,
      |  CAST(sum(CASE WHEN rh.h IS NOT NULL THEN ntk ELSE 0 END)
      |    * 1000000 // sum(ntk) AS BIGINT) AS dup_token_ppm
      |FROM br LEFT JOIN rh ON rh.h = br.h
      |GROUP BY br.doc_id""".stripMargin)

  // substring-window dedup replay, shared by dedup_windows and
  // pipeline_substring_dedup: slide → first-occurrence arg-min →
  // interval reassembly, ending in CTE `fin`
  private[queries] lazy val windowDedupCtes = plantedToksCtes + "," +
    ("""
       |st AS (SELECT doc_id, n, unnest(
       |  CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
       |       WHEN n <= 12 THEN [CAST(0 AS BIGINT)]
       |       ELSE list_distinct(list_append(range(0, n - 11, 6),
       |         CAST(n - 12 AS BIGINT))) END) AS p FROM sz),
       |w AS (SELECT st.doc_id, st.p, least(12, st.n) AS wlen,
       |  array_to_string(sz.toks[st.p + 1 : st.p + least(12, st.n)], ' ') AS wtext
       |  FROM st JOIN sz USING (doc_id)),
       |rn AS (SELECT doc_id, p, wlen,
       |  row_number() OVER (PARTITION BY wtext ORDER BY doc_id, p) AS rn FROM w),
       |alive AS (SELECT doc_id, p, wlen FROM rn WHERE rn = 1),
       |iv AS (SELECT doc_id, unnest(range(p, p + wlen)) AS i FROM alive),
       |ki AS (SELECT DISTINCT doc_id, i FROM iv),
       |kept AS (SELECT ki.doc_id, ki.i, sz.toks[CAST(ki.i AS INT) + 1] AS tok
       |  FROM ki JOIN sz USING (doc_id)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
       |  count(*) AS n_kept FROM kept GROUP BY doc_id),
       |fin AS (SELECT sz.doc_id, coalesce(agg.text_dedup, '') AS text_dedup,
       |  CAST(sz.n AS BIGINT) AS n_tokens,
       |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
       |FROM sz LEFT JOIN agg USING (doc_id))""".stripMargin)

  /** Lee-et-al exact substring-window dedup over the planted corpus:
    * 12-token windows at stride 6 slide over the raw token stream, corpus-
    * wide first occurrence of each distinct window survives, docs reassemble
    * from covered tokens. Catches both the planted runs AND the corpus's
    * organic near-dup token runs, at any offset.
    */
  private def dedupWindowsQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupWindows(docsWithPlantedRuns(s, dir), "doc_id", "text",
        windowTokens = 12, stride = 6)
      .select(col("id").as("doc_id"), col("text_dedup"),
        col("n_tokens"), col("n_kept"))
  // substring-window dedup: same two aggregation shuffles as the segment
  // family (first-occurrence arg-min on the window digest, per-doc
  // survivor-interval collect); the survivor join broadcasts at gate SF
  // and becomes a co-partitioned digest join at scale; the narrow window
  // table is checkpointed (the dedup_segments convention)
  query("dedup_windows", dedupWindowsQuery, Shuffles(2))(
    // substring-window dedup: plant the fixed run behind varying pad
    // offsets, slide 12-token windows at stride 6 (+ tail window), keep
    // the corpus-wide first occurrence of each distinct window content
    // (row_number over (doc_id, p)), expand surviving (start, len)
    // intervals to covered token indices, reassemble
    s"""WITH $windowDedupCtes
       |SELECT doc_id, text_dedup, n_tokens, n_kept FROM fin""".stripMargin)

  /** Eval-set leakage check: benchmark = every 97th doc, corpus = everything;
    * the benchmark docs must flag themselves (every gram hits) and near-dups
    * flag partially.
    */
  private def decontaminateCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 97 === 0)
    Dedup.decontaminate(d, bench, "doc_id", "text")
  }
  query("decontaminate", decontaminateCorpus, Shuffles(2))(
    // Exact replica of Dedup.decontaminate: distinct word-3-grams per doc,
    // benchmark gram set = docs with doc_id % 97 = 0, hit counting via the
    // same left join + filter.
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END) AS sh
      |  FROM t),
      |cg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0)
      |SELECT c.doc_id AS id,
      |  CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit_grams,
      |  count(*) AS n_grams
      |FROM cg c LEFT JOIN bg b ON c.g = b.g
      |GROUP BY c.doc_id
      |HAVING n_hit_grams >= 1""".stripMargin)

  /** Incremental dedup: docs with doc_id % 3 == 0 play the prior snapshot. */
  private def dedupAgainstSnapshot(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dedupAgainst(d, d.filter(col("doc_id") % 3 === 0), Seq("text"))
      .select("doc_id", "lang", "source")
  }
  query("dedup_against", dedupAgainstSnapshot, Shuffles(1))(
    """SELECT doc_id, lang, source FROM documents
      |WHERE lower(trim(text)) NOT IN
      |  (SELECT lower(trim(text)) FROM documents WHERE doc_id % 3 = 0)""".stripMargin)

  /** Exact edit-distance self-join over customer names at distance 1 —
    * the organic serial-number structure (names differing in exactly one
    * digit) yields hundreds of true pairs at every SF with no fixture,
    * graded against all-pairs levenshtein ground truth.
    */
  private def editDistanceJoinQ(s: SparkSession, dir: String): DataFrame =
    ops.Dedup.editDistanceJoin(
      s.read.parquet(s"$dir/customer.parquet").select("c_custkey", "c_name"),
      "c_custkey", "c_name", maxDistance = 1, q = 3)
  // the final distinct over VERIFIED pairs only; the value build, gram
  // stream, frequency attach, and prefix re-agg all sit behind
  // checkpoints, the candidate self-join clusters on the checkpointed
  // prefix table, and the verify is an in-join kernel filter — the
  // candidate stream is never exchanged
  query("edit_distance_join", editDistanceJoinQ, Shuffles(1))(
    // edit-distance join ground truth: ALL-PAIRS levenshtein over the
    // distinct-value table (the oracle is stronger than a replay — the
    // engine's prefix filter must lose zero recall against it)
    """WITH v AS MATERIALIZED (
      |  SELECT c_name AS s, min(c_custkey) AS id FROM customer
      |  WHERE c_name IS NOT NULL GROUP BY 1)
      |SELECT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id,
      |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
      |FROM v a JOIN v b
      |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
      |WHERE levenshtein(a.s, b.s) = 1""".stripMargin)
}
