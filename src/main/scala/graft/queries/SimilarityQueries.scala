package graft
package queries

import graft.ops.{Dedup, Similarity, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Vector and lexical search: exact, LSH, IVF and PQ k-NN, k-means, BM25,
  * rank fusion and the embedding transforms.
  */
object SimilarityQueries extends QueryFamily {

  /** One fixture query list for `search_bm25` — the Spark entry and the
    * DuckDB oracle VALUES clause are generated from this single definition.
    * Mixed coverage on the documents vocabulary: multi-term, repeated-term,
    * and one term (`graftplan`) absent from the corpus (df = 0 — must
    * contribute nothing, not divide by zero).
    */
  private[graft] val bm25Queries = Seq(
    ("q1", "spark query join graftplan"),
    ("q2", "window agg batch window"),
    ("q3", "hash table scan fast slow"))

  private def searchBm25Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.searchBm25(docs(s, dir), "doc_id", "text",
      bm25Queries.toDF("qid", "qtext"), k = 10)
  }
  // the query-side aggs (qterms, its distinct term set), the one
  // corpus-sized matching-(doc,term) agg, the per-(qid,doc) score agg and
  // the per-qid top-k window; the df/idf/scalars attach as broadcasts
  // search_bm25's N/L corpus scalars: the same 1-row broadcast cross join
  query("search_bm25", searchBm25Q, ShufflesWithBnlj(5))(
    // fixed-point BM25 replay: every per-term quantity is integer
    // arithmetic (2^20 fixed point, k1 = 6/5, b = 3/4 as exact rationals,
    // ratio idf), so scores and therefore ranks are engine-identical;
    // the VALUES clause is generated from the same bm25Queries fixture
    // the Spark entry uses
    s"""WITH $toksCte,
       |s AS (SELECT count(*) AS n_docs, coalesce(sum(len(toks)), 0) AS l_total FROM t),
       |q AS (SELECT * FROM (VALUES ${bm25Queries.map { case (q, tx) => s"('$q', '$tx')" }.mkString(", ")}) AS v(qid, qtext)),
       |qt AS (SELECT qid, term, count(*) AS qtf FROM (SELECT qid,
       |    unnest(list_filter(string_split_regex(lower(trim(qtext)), '\\s+'), x -> len(x) > 0)) AS term
       |  FROM q) GROUP BY 1, 2),
       |tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
       |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT qid, doc_id, sum(qtf * ((idf_fp * tfc_fp) // 1048576)) AS score_fp
       |  FROM (SELECT qt.qid, tf.doc_id, qt.qtf,
       |      ((2 * (s.n_docs - dft.df) + 1) * 1048576) // (2 * dft.df + 1) AS idf_fp,
       |      (22 * s.l_total * tf.tf * 1048576) //
       |        (10 * s.l_total * tf.tf + 3 * s.l_total + 9 * tf.dl * s.n_docs) AS tfc_fp
       |    FROM tf JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN s)
       |  GROUP BY 1, 2)
       |SELECT qid, doc_id, CAST(rank AS INT) AS rank, CAST(score_fp AS BIGINT) AS score_fp
       |FROM (SELECT qid, doc_id, score_fp,
       |        row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rank
       |      FROM sc)
       |WHERE rank <= 10""".stripMargin)

  private def knnQueries(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private[queries] def knnCorpus(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val knnBruteSql =
    """SELECT qid, neighbor_id, rank FROM (
      |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                      CAST(c.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings q CROSS JOIN embeddings c
      |  WHERE q.vec_id < 5)
      |WHERE rank <= 10""".stripMargin

  private def knnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10)
      .select("qid", "neighbor_id", "rank")
  query("knn_brute", knnBrute, ShufflesWithBnlj(1))(knnBruteSql)

  private lazy val knnLshSql = {
    val planes = graft.ops.Dedup.hyperplanes(8, 64, 42L)
    def arr(p: Seq[Double]): String =
      p.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]")
    val dots = planes.zipWithIndex.map { case (p, i) =>
      s"list_dot_product(v, ${arr(p)}) AS dot_$i"
    }.mkString(",\n  ")
    val bucket = (0 until 8)
      .map(i => s"(CASE WHEN dot_$i >= 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
    val masks = (0 until 256).filter(m => Integer.bitCount(m) <= 1)
      .mkString("[", ", ", "]")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |d AS (SELECT vec_id, v,
       |  $dots
       |FROM c),
       |b AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bucket FROM d),
       |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 5),
       |p AS (SELECT qid, qv, xor(qbucket, m.m) AS bucket
       |      FROM q, (SELECT CAST(unnest($masks) AS BIGINT) AS m) m),
       |s AS (SELECT p.qid, cb.vec_id AS id,
       |  row_number() OVER (PARTITION BY p.qid
       |    ORDER BY list_cosine_similarity(p.qv, cb.v) DESC, cb.vec_id) AS rank
       |  FROM p JOIN b cb USING (bucket))
       |SELECT qid, id AS neighbor_id, rank FROM s WHERE rank <= 10""".stripMargin
  }

  private def knnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10, dim = 64)
      .select("qid", "neighbor_id", "rank")
  query("knn_lsh", knnLsh, Shuffles(1))(
    // The LSH oracle replicates the ALGORITHM in DuckDB: the seeded
    // hyperplanes are embedded as literals (Double.toString round-trips
    // exactly), buckets/probes/rank recompute independently. Sign parity is
    // safe: measured cross-engine dot drift ~9e-16 vs min |dot| ~8e-5 on
    // this data (both engines accumulate left-to-right in double).
    knnLshSql)

  // shared deterministic-Lloyd training CTEs (knn_ivf + kmeans_clusters +
  // kmeans_sample_train): c = corpus, ct = train set (md5-bucket sample of
  // c when trainPercent < 100 — the Sampling.hashSample rule), cent_0 =
  // lowest-id seeds from ct, a_i/cent_i = assign/refine rounds over ct,
  // afinal = final assignment of EVERY vector
  private[queries] def ivfDist2(v: String, cv: String) =
    s"list_dot_product($v, $v) - 2 * list_dot_product($v, $cv) + list_dot_product($cv, $cv)"

  // `prefix` namespaces every CTE (c/ct/cent_i/a_i/afinal → ${p}c/...), so
  // the chain can be instantiated once PER PQ SUBSPACE in one WITH clause
  private[queries] def ivfTrainCtes(numCells: Int, lloydIters: Int, trainPercent: Int = 100,
      corpusSql: String =
        "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      prefix: String = ""): String = {
    val p = prefix
    def assign(i: Int, src: String) =
      s"""${p}a_$i AS (SELECT id, v, cell FROM (
         |  SELECT c.id, c.v, t.cell, row_number() OVER (PARTITION BY c.id
         |    ORDER BY ${ivfDist2("c.v", "t.cv")}, t.cell) AS rn
         |  FROM $src c CROSS JOIN ${p}cent_${i - 1} t) WHERE rn = 1)""".stripMargin
    def refine(i: Int) =
      s"""${p}cent_$i AS (SELECT cell, list(m ORDER BY pos) AS cv FROM (
         |  SELECT cell, pos,
         |    CAST(sum(CAST(round(x * 1048576) AS BIGINT)) AS DOUBLE) / count(*) / 1048576.0 AS m
         |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM ${p}a_$i)
         |  GROUP BY cell, pos) GROUP BY cell)""".stripMargin
    val trainFilter =
      if (trainPercent >= 100) ""
      else
        s""" WHERE CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 6)) AS BIGINT)
           |   % 100 < $trainPercent""".stripMargin
    val iters = (1 to lloydIters).map(i => s"${assign(i, s"${p}ct")},\n${refine(i)}").mkString(",\n")
    s"""${p}c AS ($corpusSql),
       |${p}ct AS (SELECT id, v FROM ${p}c$trainFilter),
       |${p}cent_0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv
       |           FROM (SELECT id, v FROM ${p}ct ORDER BY id LIMIT $numCells)),
       |$iters,
       |${assign(lloydIters + 1, s"${p}c").replace(s"${p}a_${lloydIters + 1}", s"${p}afinal")}""".stripMargin
  }

  private lazy val knnIvfSql = {
    val (numCells, numProbes, k, lloydIters) = (16, 4, 10, 2)
    s"""WITH ${ivfTrainCtes(numCells, lloydIters)},
       |q AS (SELECT id AS qid, v AS qv FROM c WHERE id < 5),
       |probes AS (SELECT qid, qv, cell FROM (
       |  SELECT q.qid, q.qv, t.cell, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY ${ivfDist2("q.qv", "t.cv")}, t.cell) AS rn
       |  FROM q CROSS JOIN cent_$lloydIters t) WHERE rn <= $numProbes),
       |cand AS (SELECT p.qid, p.qv, a.id, a.v FROM probes p JOIN afinal a USING (cell))
       |SELECT qid, id AS neighbor_id, rank FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid
       |    ORDER BY list_cosine_similarity(qv, v) DESC, id) AS rank
       |  FROM cand) WHERE rank <= $k""".stripMargin
  }

  private def knnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(knnQueries(s, dir), knnCorpus(s, dir), k = 10)
      .select("qid", "neighbor_id", "rank")
  query("knn_ivf", knnIvf, BuiltByJobs)(
    // The IVF oracle recomputes the ENTIRE index in DuckDB — deterministic
    // seed cells (lowest ids), `lloydIters` Lloyd rounds with exact
    // fixed-point centroid means (bit-identical cross-engine), then
    // probe + scan. CTE chain generated per iteration.
    knnIvfSql)

  /** RRF ensemble of the three ANN rankings (brute exact + LSH + IVF) —
    * hybrid-search fusion with fixed-point reciprocal scores.
    */
  private def searchRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val q = knnQueries(s, dir)
    val c = knnCorpus(s, dir)
    Similarity.rrfFuse(Seq(
      Similarity.bruteForceTopK(q, c, 10),
      Similarity.lshTopK(q, c, 10, dim = 64),
      Similarity.ivfTopK(q, c, 10)))
  }
  // fusion over three top-k-sized rankings: brute (1: its window) + lsh
  // (1: its window) + the keyed RRF sum (1) + the fused window (1); the
  // IVF branch's exchanges hang off its eager training like knn_ivf
  // contains knn_brute's sanctioned exact-baseline BNLJ as one branch
  query("search_rrf_fusion", searchRrfFusion, ShufflesWithBnlj(6))(
    // RRF fusion replay: the three ANN oracle chains verbatim as
    // WITH-in-subquery branches (one definition each — the fused replay
    // cannot drift from the per-ranking replays), fixed-point reciprocal
    // sum, (score desc, id) window
    s"""WITH u AS (
       |  SELECT * FROM ($knnBruteSql)
       |  UNION ALL SELECT * FROM ($knnLshSql)
       |  UNION ALL SELECT * FROM ($knnIvfSql)),
       |sc AS (SELECT qid, neighbor_id,
       |  CAST(sum(1048576 // (60 + rank)) AS BIGINT) AS rrf_score
       |  FROM u GROUP BY 1, 2)
       |SELECT qid, neighbor_id, rank, rrf_score FROM (
       |  SELECT qid, neighbor_id, rrf_score, row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf_score DESC, neighbor_id) AS rank
       |  FROM sc) WHERE rank <= 10""".stripMargin)

  /** The LSH ranking judged against the brute-force ground truth — the
    * recall-vs-speed evidence for the ANN family, per query.
    */
  private def searchEval(s: SparkSession, dir: String): DataFrame = {
    val q = knnQueries(s, dir)
    val c = knnCorpus(s, dir)
    Similarity.rankingMetrics(
      Similarity.lshTopK(q, c, 10, dim = 64),
      Similarity.bruteForceTopK(q, c, 10), k = 10)
  }
  // brute window (1) + lsh window (1) + the (qid, neighbor_id) eval join
  // (2) + the per-query agg (1)
  // contains knn_brute's sanctioned exact-baseline BNLJ as one branch
  query("search_eval", searchEval, ShufflesWithBnlj(5))(
    // retrieval eval replay: the SAME brute/LSH chains as their own oracle
    // entries (one definition each — the eval cannot drift from the
    // rankings it grades), left-joined on (qid, neighbor_id), exact hit
    // counts, one IEEE division each for recall@k and reciprocal rank
    s"""WITH tr AS ($knnBruteSql),
       |ca AS ($knnLshSql),
       |j AS (SELECT tr.qid, tr.rank AS trank, ca.rank AS crank
       |  FROM tr LEFT JOIN ca
       |    ON tr.qid = ca.qid AND tr.neighbor_id = ca.neighbor_id)
       |SELECT qid,
       |  count(*) AS n_truth,
       |  count(crank) AS n_hits,
       |  round(CAST(count(crank) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall_at_k,
       |  coalesce(round(CAST(1.0 AS DOUBLE) /
       |    min(CASE WHEN trank = 1 THEN crank END), 6), 0.0)
       |    AS reciprocal_rank
       |FROM j GROUP BY qid""".stripMargin)

  // PQ search: 64-dim vectors → 4 subspaces × 8 cells, deterministic per-
  // subspace Lloyd; the oracle replays train+encode+ADC rank-for-rank
  private def knnPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = knnCorpus(s, dir)
    val books = Similarity.pqTrainCodebooks(corpus, dim = 64, m = 4, cellsPerSub = 8)
    Similarity.pqTopK(knnQueries(s, dir), Similarity.pqEncode(corpus, books), books, k = 10)
      .select("qid", "neighbor_id", "rank")
  }
  // training/encode broadcasts are built eagerly driver-side; the returned
  // plan is one codes scan + ADC kernel + posexplode + the top-k window
  // exchange on _qi
  query("knn_pq", knnPq, Shuffles(1)) {
    // PQ replay: per subspace, the SAME Lloyd chain over the vector SLICE
    // (prefixed CTEs so four chains share one WITH clause); encode = each
    // subspace's afinal cell, ADC = per-(query, cell) dist tables joined
    // through the codes and summed in ascending subspace order (explicit
    // parens pin the left-to-right IEEE association the kernel uses)
    val (m, cellsPerSub, k, lloydIters, subDim) = (4, 8, 10, 2, 16)
    val chains = (0 until m).map { s =>
      ivfTrainCtes(cellsPerSub, lloydIters,
        corpusSql = "SELECT vec_id AS id, (CAST(embedding AS DOUBLE[]))" +
          s"[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM embeddings",
        prefix = s"s${s}_")
    }.mkString(",\n")
    val dtables = (0 until m).map { s =>
      s"""t$s AS (SELECT q.id AS qid, t.cell, ${ivfDist2("q.v", "t.cv")} AS d
         |  FROM (SELECT id, v FROM s${s}_c WHERE id < 5) q
         |  CROSS JOIN s${s}_cent_$lloydIters t)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until m)
      .map(s => s"JOIN s${s}_afinal a$s ON a$s.id = a0.id").mkString("\n  ")
    val distJoins = (0 until m).map { s =>
      val qlink = if (s == 0) "" else s" AND t$s.qid = t0.qid"
      s"JOIN t$s ON t$s.cell = a$s.cell$qlink"
    }.mkString("\n  ")
    val distSum = (1 until m).foldLeft("t0.d")((acc, s) => s"($acc + t$s.d)")
    s"""WITH $chains,
       |$dtables,
       |scored AS (SELECT t0.qid, a0.id, $distSum AS dist
       |  FROM s0_afinal a0
       |  $codeJoins
       |  $distJoins)
       |SELECT qid, id AS neighbor_id, rank FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid
       |    ORDER BY dist, id) AS rank FROM scored) WHERE rank <= $k""".stripMargin
  }

  private def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 16)
      .select(col("id").as("vec_id"), col("cluster"))
  query("kmeans_clusters", kmeansClusters, BuiltByJobs)(
    s"""WITH ${ivfTrainCtes(16, 2)}
       |SELECT id AS vec_id, cell AS cluster FROM afinal""".stripMargin)

  /** The 100 TB k-means mode: centroids fit on a deterministic 40% md5
    * sample, assignment still covers every vector (oracle replicates the
    * sampled training bit-for-bit).
    */
  private def kmeansSampleTrain(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(knnCorpus(s, dir), numClusters = 8, trainPercent = 40)
      .select(col("id").as("vec_id"), col("cluster"))
  query("kmeans_sample_train", kmeansSampleTrain, BuiltByJobs)(
    s"""WITH ${ivfTrainCtes(8, 2, trainPercent = 40)}
       |SELECT id AS vec_id, cell AS cluster FROM afinal""".stripMargin)

  /** Per-label embedding centroids via quantized mean pooling, emitted in
    * long form (one row per (label, dimension)) so the oracle compares
    * scalars, never array renderings.
    */
  private def embeddingMeanPool(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.meanPool(embs(s, dir), "label", "embedding")
      .select(col("label"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("dim", "mean_component")))
  // (group, dim) aggregation + per-group centroid re-collect
  query("embedding_mean_pool", embeddingMeanPool, Shuffles(2))(
    // mean-pool replay: identical floor-quantization, integer per-dim
    // sums, one division per dimension
    """WITH e AS (SELECT label, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) AS dim1 FROM embeddings),
      |q AS (SELECT label, dim1 - 1 AS dim,
      |    CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS qq FROM e),
      |g AS (SELECT label, dim, sum(qq) AS s, count(qq) AS n
      |  FROM q GROUP BY 1, 2),
      |nv AS (SELECT label, max(n) AS n_vecs FROM g GROUP BY label)
      |SELECT g.label, CAST(nv.n_vecs AS BIGINT) AS n_vecs, g.dim,
      |  round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1024.0), 6)
      |    AS mean_component
      |FROM g JOIN nv USING (label)""".stripMargin)

  private def embeddingQuantize(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.quantizeInt8(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .select("vec_id", "scale", "q_str")
  query("embedding_quantize", embeddingQuantize, Shuffles(0))(
    // Exactly-rounded IEEE ops (+ * / floor max) in the pinned order make
    // the quantized bytes engine-identical; the scale itself is a float
    // max, exact in double.
    """WITH s AS (SELECT vec_id, embedding,
      |  greatest(abs(CAST(list_max(embedding) AS DOUBLE)),
      |           abs(CAST(list_min(embedding) AS DOUBLE))) AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  CASE WHEN scale = 0
      |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
      |    ELSE array_to_string(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS BIGINT)), ',')
      |  END AS q_str
      |FROM s""".stripMargin)

  /** JL sign projection 64 → 16 dims, integer-exact (see
    * [[ops.Embeddings.randomProject]]); the oracle regenerates the md5-parity
    * sign matrix entirely in SQL — no literals cross engines.
    */
  private def embeddingProject(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.randomProject(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      dim = 64, outDim = 16)
      .select("vec_id", "proj_str")
  query("embedding_project", embeddingProject, Shuffles(0))(
    // the sign matrix regenerates IN SQL from md5 nibble parity (no
    // cross-engine literals); quantization is floor(x * 2^10) — exact —
    // and the projection is pure integer sums, so values hash-match
    """WITH q AS (SELECT vec_id, d.range AS d,
      |  CAST(floor(CAST(embedding[CAST(d.range AS INT) + 1] AS DOUBLE) * 1024) AS BIGINT) AS qv
      |  FROM embeddings, range(0, 64) d),
      |sgn AS (SELECT j.range AS j, d.range AS d,
      |  CASE WHEN CAST(concat('0x', substr(md5('graftproj:' || j.range || ':' || d.range), 1, 1)) AS INT) % 2 = 0
      |       THEN 1 ELSE -1 END AS s
      |  FROM range(0, 16) j, range(0, 64) d),
      |p AS (SELECT vec_id, j, sum(s * qv) AS pv FROM q JOIN sgn USING (d) GROUP BY 1, 2)
      |SELECT vec_id, string_agg(CAST(pv AS VARCHAR), ',' ORDER BY j) AS proj_str
      |FROM p GROUP BY vec_id""".stripMargin)

  private def embeddingNormalize(s: SparkSession, dir: String): DataFrame =
    ops.Embeddings.l2NormalizeFixed(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .select("vec_id", "norm", "u_str")
  query("embedding_normalize", embeddingNormalize, Shuffles(0))(
    // list_reduce folds left-to-right like the native dot-product loop
    // (0.0 + x0^2 is exactly x0^2, so the missing explicit zero seed
    // cannot diverge); sqrt and the per-element ops are exactly rounded.
    """WITH s AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
      |       (a, b) -> a + b)) AS norm
      |  FROM embeddings)
      |SELECT vec_id, norm,
      |  CASE WHEN norm = 0
      |    THEN array_to_string(list_transform(embedding, x -> 0), ',')
      |    ELSE array_to_string(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) / norm * 1000000.0 + 0.5) AS BIGINT)), ',')
      |  END AS u_str
      |FROM s""".stripMargin)
}
