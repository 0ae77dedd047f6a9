package graft.ops

import graft.functions._
import graft.sources.FormatIO
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CentroidMatrix, NearestCell, NearestCells}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query set
  * against the corpus — one corpus scan, no corpus shuffle, top-k per query
  * via a window over the (queries x corpus) score rows partitioned by query.
  *
  * `lshTopK` is the scale path: hyperplane sign buckets with multi-probe
  * restrict scoring to candidates that share (or nearly share) a bucket with
  * the query, so corpus-side work per query drops from O(N) to O(bucket).
  */
object Similarity {

  /** Exact cosine top-k: every query row scored against every corpus row.
    * The query side is broadcast (queries are few; the corpus is the 100 TB
    * side) — the corpus never shuffles, and the only exchange is the final
    * top-k partition by query id.
    */
  def bruteForceTopK(
      queries: DataFrame, // columns: qid, qvec
      corpus: DataFrame, // columns: id, vec
      k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** LSH-bucketed cosine top-k. Corpus rows land in their sign bucket; query
    * rows probe every bucket within `probeBits` bit-flips of their own, so a
    * query near a hyperplane still sees its true neighbors. Recall/cost trade
    * via `numPlanes` (bucket count) and `probeBits` (probe fan-out); uniform
    * random corpora are the worst case for any LSH — real embedding spaces
    * cluster, which is what the sign buckets exploit.
    */
  def lshTopK(
      queries: DataFrame, // columns: qid, qvec
      corpus: DataFrame, // columns: id, vec
      k: Int,
      dim: Int,
      numPlanes: Int = 8,
      probeBits: Int = 1,
      seed: Long = 42L): DataFrame = {
    // bucket ids carry one bit per plane in a signed Int
    require(numPlanes >= 1 && numPlanes <= 31, "numPlanes must be in [1, 31]")
    val planes = Dedup.hyperplanes(numPlanes, dim, seed)
    // enumerate C(numPlanes, <= probeBits) flip masks directly — filtering
    // the full 2^numPlanes domain was a silent multi-second driver stall
    // (and an allocation blow-up) once numPlanes grew past ~24; the mask SET
    // is identical, and downstream results don't depend on mask order (each
    // (query, bucket) probe pair is distinct regardless)
    val masks: Seq[Int] = (0 to math.min(probeBits, numPlanes)).flatMap(b =>
      (0 until numPlanes).combinations(b).map(_.foldLeft(0)((m, i) => m | (1 << i))))
    val corpusB = corpus.withColumn("bucket", Dedup.hyperplaneBucket(col("vec"), planes))
    val queryProbes = queries
      .withColumn("qbucket", Dedup.hyperplaneBucket(col("qvec"), planes))
      .select(col("qid"), col("qvec"),
        explode(transform(typedLit(masks), m => col("qbucket").bitwiseXOR(m)))
          .as("bucket"))
    val scored = corpusB.join(broadcast(queryProbes), "bucket")
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Pack the driver-held centroid table into a [[CentroidMatrix]] and ship
    * it ONCE via broadcast. `cc` uses the same left-to-right sum of squares
    * the retired literal tree precomputed per cell, so assignment arithmetic
    * is unchanged bit-for-bit.
    */
  private[graft] def broadcastCentroids(
      spark: SparkSession, cents: Seq[(Int, Seq[Double])]): Broadcast[CentroidMatrix] = {
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim), "centroid dims must agree")
    val flat = new Array[Double](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, c), j) =>
      var i = 0
      c.foreach { x => flat(j * dim + i) = x; i += 1 }
    }
    spark.sparkContext.broadcast(new CentroidMatrix(
      cents.map(_._1).toArray, flat, dim,
      cents.map { case (_, c) => c.map(x => x * x).sum }.toArray))
  }

  /** Squared-L2 cell assignment: ONE native expression holding the centroid
    * matrix behind a broadcast (see [[CentroidMatrix]]) — no shuffle, O(1)
    * plan size in numCells, single codegen'd loop per row; ties break to the
    * lower cell id. The retired form planned `least` over numCells
    * per-centroid literal structs, which capped numCells at a few hundred
    * before blowing the 64 KB codegen method limit.
    */
  private[graft] def assignCells(corpus: DataFrame, bc: Broadcast[CentroidMatrix]): DataFrame =
    corpus.withColumn("cell", NearestCell(col("vec"), bc))

  /** Element-wise centroid means in 2^20 fixed point: per-dimension sums are
    * exact integers, so the result is INDEPENDENT of shuffle/partition order
    * (a plain double mean is not — fp addition doesn't commute) and
    * bit-reproducible by any other engine. Only populated cells survive.
    *
    * Driver state: the collected table is numCells x dim doubles — 10^5
    * cells of a 1024-dim index is ~800 MB, the practical ceiling for this
    * collect-and-broadcast trainer; typical 100 TB IVF configs (10^5 x 128 ~
    * 100 MB, or 10^4 cells) are comfortable. Past that, keep the refined
    * table distributed and join assignments instead of broadcasting.
    */
  private def refineCentroids(assigned: DataFrame): Seq[(Int, Seq[Double])] = {
    assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(round(col("x") * lit(1048576.0)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n") / lit(1048576.0)).as("m")))).as("pm"))
      .collect()
      .map(r => (r.getInt(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toSeq))
      .toSeq.sortBy(_._1)
  }

  /** Deterministic Lloyd training shared by [[ivfTopK]] and
    * [[kmeansAssign]]: seed with the `numCells` lowest-id vectors, then
    * `lloydIters` rounds of exact-fixed-point mean refinement. Per
    * iteration: one narrow posexplode shuffle + a numCells x dim driver
    * collect, and ONE broadcast of the current centroid matrix (destroyed
    * after the round's collect — the plan itself stays O(1) in numCells).
    *
    * `trainPercent < 100` trains on a deterministic md5-bucket sample of the
    * corpus (the [[Sampling.hashSample]] rule on `id`, so the train set — and
    * therefore the centroids and every downstream assignment — is a pure
    * function of the key set, reproducible in any engine). This is the
    * 100 TB operating mode: each Lloyd iteration scans only the sample,
    * while the one-scan shuffle-free assignment pass still covers the full
    * corpus. Centroid quality needs distributional coverage, not every row —
    * a 1% sample of 10^11 vectors is 10^9 training points.
    */
  private[graft] def trainCentroids(
      corpus: DataFrame,
      numCells: Int,
      lloydIters: Int,
      trainPercent: Int): Seq[(Int, Seq[Double])] = {
    require(trainPercent > 0 && trainPercent <= 100,
      "trainPercent must be in (0, 100]")
    def seeds(from: DataFrame): Seq[(Int, Seq[Double])] = from
      .orderBy(col("id")).limit(numCells).select(col("vec")).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toSeq).zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    val sampled =
      if (trainPercent >= 100) corpus
      else Sampling.hashSample(corpus, "id", trainPercent)
    // a small corpus can hash-sample to ZERO rows; silently training nothing
    // would assign every vector to a never-trained cell, so fall back to the
    // full corpus (still deterministic — the fallback is itself a pure
    // function of the key set)
    val sampleSeeds = seeds(sampled)
    val (trainSet, initial) =
      if (sampleSeeds.isEmpty && (trainPercent < 100)) (corpus, seeds(corpus))
      else (sampled, sampleSeeds)
    var cents: Seq[(Int, Seq[Double])] = initial
    if (cents.nonEmpty) {
      for (_ <- 1 to lloydIters) {
        val bc = broadcastCentroids(corpus.sparkSession, cents)
        cents = refineCentroids(assignCells(trainSet, bc))
        bc.destroy() // refineCentroids collected — this round's matrix is dead
      }
    }
    cents
  }

  /** Corpus clustering: every vector's k-means cluster id (the
    * domain-balancing / semantic-bucketing primitive — "cap any one cluster
    * at N documents", "sample evenly across content clusters"). Same
    * deterministic trainer as [[ivfTopK]] (lowest-id seeds, exact
    * fixed-point means), so assignments are engine-reproducible and the
    * oracle recomputes them exactly.
    *
    * The assignment pass is one scan with a single broadcast-matrix native
    * kernel (see [[CentroidMatrix]]) — no shuffle, plan size independent of
    * numClusters; training costs `lloydIters` narrow posexplode shuffles + a
    * numClusters × dim driver collect. At 100 TB: train on a sample
    * (`trainPercent` — deterministic md5-bucket rule), assign everything
    * (assignment is unchanged).
    */
  def kmeansAssign(
      corpus: DataFrame, // columns: id, vec (+ any `keep` columns)
      numClusters: Int,
      lloydIters: Int = 2,
      trainPercent: Int = 100,
      keep: Seq[String] = Nil): DataFrame = {
    // `keep` columns ride through the assignment scan (the qualityScore
    // `keep` convention) — consumers like semanticDedup need (vec, quality)
    // NEXT TO the cluster id without a corpus-wide join-back on id
    val cents = trainCentroids(corpus.select(col("id"), col("vec")),
      numClusters, lloydIters, trainPercent)
    val keepCols = keep.map(col)
    // no centroids ⇔ the corpus was empty; keep the schema without a kernel
    if (cents.isEmpty)
      return corpus.select(col("id") +: lit(0).as("cluster") +: keepCols: _*)
    val bc = broadcastCentroids(corpus.sparkSession, cents)
    assignCells(corpus, bc)
      .select(col("id") +: col("cell").as("cluster") +: keepCols: _*)
  }

  /** IVF-flat ANN: Lloyd k-means partitions the corpus into Voronoi cells;
    * each query probes its `numProbes` nearest cells and scores only those
    * cells' vectors. The data-driven cells adapt to the corpus distribution,
    * which sign-LSH cannot — the standard IVF trade (train cost + centroid
    * table vs better cell occupancy).
    *
    * The trainer is deliberately from-scratch and DETERMINISTIC: seeding is
    * the `numCells` lowest-id corpus vectors and centroid means use exact
    * fixed-point sums (see refineCentroids), so the whole index — and
    * therefore the query result — is reproducible bit-for-bit in any engine
    * (the driver's DuckDB oracle recomputes the full train+probe+scan).
    * Assignment and probing share one broadcast of the centroid matrix; both
    * are single native-kernel projections, so realistic cell counts
    * (10^4–10^5) cost the same PLAN as the default 16 — the scan loop is
    * O(numCells x dim) per row, which is the IVF contract.
    */
  def ivfTopK(
      queries: DataFrame, // columns: qid, qvec
      corpus: DataFrame, // columns: id, vec
      k: Int,
      numCells: Int = 16,
      numProbes: Int = 4,
      lloydIters: Int = 2,
      trainPercent: Int = 100): DataFrame = {
    val cents = trainCentroids(corpus, numCells, lloydIters, trainPercent)
    if (cents.isEmpty)
      // empty corpus: no cells to probe — empty result, standard schema
      return corpus.crossJoin(queries)
        .select(col("qid"), col("id").as("neighbor_id"),
          lit(0).as("rank"), lit(0.0).as("cosine"))
        .filter(lit(false))
    val bc = broadcastCentroids(corpus.sparkSession, cents)
    val corpusCells = assignCells(corpus, bc)
    val probes = queries.select(col("qid"), col("qvec"),
      explode(NearestCells(col("qvec"), bc, numProbes)).as("cell"))
    val scored = corpusCells.join(broadcast(probes), "cell")
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
    * combine heterogeneous retrieval rankings (BM25 + ANN is the canonical
    * hybrid-search pairing; any rankings sharing (qid, id) fuse): per
    * (query, candidate), `score = Σ_sources ⌊2^20 / (rrfK + rank)⌋`, a
    * candidate missing from a source contributing 0. The classic formula is
    * `Σ 1/(k + rank)`; the 2^20 fixed-point floor keeps the sum an exact
    * integer — RRF only consumes the ORDERING of scores, floors preserve it
    * within a source (ranks are small ints), and integer sums make the
    * fused ranking partitioning- and engine-identical where a float Σ of
    * reciprocals is neither. Ties break to the lower id.
    *
    * Shape: union of the (already tiny, top-k-sized) rankings → one keyed
    * sum → one per-query window. The expensive part of hybrid search is the
    * input rankings; fusion is rank-table-sized by construction.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], // each: (qid, neighbor_id, rank)
      rrfK: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(rrfK >= 0, "rrfK must be non-negative")
    val u = rankings
      .map(_.select(col("qid"), col("neighbor_id"), col("rank")))
      .reduce(_ unionAll _)
    val scored = u
      .withColumn("_s", expr(s"1048576L div (${rrfK}L + rank)"))
      .groupBy(col("qid"), col("neighbor_id"))
      .agg(sum(col("_s")).as("rrf_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("neighbor_id"), col("rank"), col("rrf_score"))
  }

  /** Retrieval evaluation — recall@k and per-query reciprocal rank of a
    * candidate ranking against a ground-truth ranking (both in the family's
    * `(qid, neighbor_id, rank)` shape, e.g. [[lshTopK]] judged against
    * [[bruteForceTopK]]): the eval harness every approximate-retrieval
    * deployment runs before trading recall for speed, and the measured form
    * of each ANN operator's recall knob. Per query:
    *
    *  - `n_truth` / `n_hits`: EXACT integers — truth items within rank ≤ k
    *    and how many the candidate list (also ≤ k) recovered;
    *  - `recall_at_k` = one IEEE division of those exact integers, round 6;
    *  - `reciprocal_rank`: `1/rank_cand(truth top-1)`, 0.0 when the true
    *    best item is absent — one exact-integer division, so the MRR a
    *    caller derives by averaging is built from engine-identical terms.
    *
    * A truth query absent from the candidates scores (0 hits, rr 0.0) —
    * absence IS the finding; it never drops. Plan: both sides filter to
    * rank ≤ k (rank-table-sized by construction), ONE join keyed
    * `(qid, neighbor_id)`, one per-query aggregation.
    */
  def rankingMetrics(
      candidates: DataFrame,
      truth: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val t = truth.filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank").as("_trank"))
    val c = candidates.filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank").as("_crank"))
    t.join(c, Seq("qid", "neighbor_id"), "left")
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_truth"),
        count(col("_crank")).as("n_hits"),
        min(when(col("_trank") === 1, col("_crank"))).as("_top1"))
      .select(col("qid"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall_at_k"),
        coalesce(round(lit(1.0) / col("_top1"), 6), lit(0.0))
          .as("reciprocal_rank"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the vector splits
    * into `m` contiguous subspaces and each subspace trains its OWN
    * deterministic-Lloyd codebook ([[trainCentroids]] — lowest-id seeds,
    * exact fixed-point means), so the whole model is a pure function of the
    * key set and any engine replays it bit-for-bit. Driver state =
    * m × cellsPerSub × (dim/m) doubles = cellsPerSub × dim — one centroid
    * table's worth regardless of m.
    *
    * Why PQ next to IVF/LSH: the code is `m` small ints per vector (a
    * 64-dim float vector compresses 64×4 bytes → m bytes at 256 cells), so
    * a 100 TB embedding corpus's SEARCHABLE form fits in a fraction of the
    * space and ADC scoring ([[pqTopK]]) reads only codes, never raw
    * vectors. Train cost: m × lloydIters narrow posexplode shuffles over
    * the (sampled) corpus — `trainPercent` is the 100 TB knob exactly as in
    * [[kmeansAssign]].
    */
  def pqTrainCodebooks(
      corpus: DataFrame, // columns: id, vec
      dim: Int,
      m: Int,
      cellsPerSub: Int,
      lloydIters: Int = 2,
      trainPercent: Int = 100): Seq[(Int, Seq[(Int, Seq[Double])])] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val subDim = dim / m
    (0 until m).map { s =>
      val sub = corpus.select(col("id"),
        slice(col("vec"), s * subDim + 1, subDim).as("vec"))
      (s, trainCentroids(sub, cellsPerSub, lloydIters, trainPercent))
    }
  }

  /** Encode every vector as its `m` per-subspace nearest-centroid ids —
    * `(id, code: array<int>)`. One scan, ZERO shuffles: the m codebooks ride
    * m broadcast-matrix kernels inside a single projection (plan size O(m),
    * independent of cellsPerSub). The code column is the persistable,
    * joinable compressed form of the corpus.
    */
  def pqEncode(
      corpus: DataFrame, // columns: id, vec
      codebooks: Seq[(Int, Seq[(Int, Seq[Double])])]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_._2.nonEmpty),
      "pqEncode needs non-empty codebooks (train on a non-empty corpus)")
    val subDim = codebooks.head._2.head._2.length
    val bcs = codebooks.map { case (s, cents) =>
      (s, broadcastCentroids(corpus.sparkSession, cents))
    }
    corpus.select(col("id"),
      array(bcs.map { case (s, bc) =>
        NearestCell(slice(col("vec"), s * subDim + 1, subDim), bc)
      }: _*).as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query precomputes
    * its m × cellsPerSub squared-L2 distance table on the DRIVER (queries
    * are few — the [[bruteForceTopK]] contract; the table is m·k doubles per
    * query), the tables ship in ONE broadcast, and scoring the corpus is a
    * single in-row kernel over the CODE column — `m` table lookups per
    * (query, vector), never a raw-vector read, never a corpus shuffle; the
    * only exchange is the final per-query top-k window. Distances use the
    * [[org.apache.spark.sql.graft.CentroidMatrix]] form
    * (`qq − 2·dot + cc`, left-to-right) summed in ascending subspace order,
    * so the DuckDB oracle replays the ranking exactly.
    *
    * Output: `(qid, neighbor_id, rank, adc_dist)` — ranks by (dist asc,
    * id asc). ADC distance is an approximation of the true L2 (quantization
    * error bounded by cell radii); recall/compression trade via m and
    * cellsPerSub, the PQ contract.
    */
  def pqTopK(
      queries: DataFrame, // columns: qid, qvec
      codes: DataFrame, // columns: id, code (from pqEncode)
      codebooks: Seq[(Int, Seq[(Int, Seq[Double])])],
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.{PqAdcScores, PqAdcTables}
    val subDim = codebooks.head._2.head._2.length
    val m = codebooks.length
    val qrows = queries.orderBy(col("qid")).collect()
    if (qrows.isEmpty)
      return codes.select(col("id").as("neighbor_id"), lit(0L).as("qid"),
        lit(0).as("rank"), lit(0.0).as("adc_dist"))
        .select("qid", "neighbor_id", "rank", "adc_dist").filter(lit(false))
    val qids = qrows.map(_.getLong(0))
    val qvecs = qrows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    // per (query, subspace): dist table indexed by CELL ID (ids may be
    // non-contiguous after refinement — unpopulated slots stay NaN and no
    // code ever references them)
    val tables: Array[Array[Array[Double]]] = qvecs.map { qv =>
      codebooks.map { case (s, cents) =>
        val t = Array.fill(cents.map(_._1).max + 1)(Double.NaN)
        cents.foreach { case (cellId, c) =>
          var qq = 0.0
          var dot = 0.0
          var cc = 0.0
          var i = 0
          while (i < subDim) {
            val q = qv(s * subDim + i)
            qq += q * q
            dot += q * c(i)
            cc += c(i) * c(i)
            i += 1
          }
          t(cellId) = qq - 2.0 * dot + cc
        }
        t
      }.toArray
    }
    val bc = codes.sparkSession.sparkContext.broadcast(new PqAdcTables(qids, tables, m))
    val w = Window.partitionBy(col("_qi")).orderBy(col("adc_dist").asc, col("id"))
    codes
      .withColumn("_d", PqAdcScores(col("code"), bc))
      .select(col("id"), posexplode(col("_d")).as(Seq("_qi", "adc_dist")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(element_at(typedLit(qids.toSeq), col("_qi") + 1).as("qid"),
        col("id").as("neighbor_id"), col("rank"), col("adc_dist"))
  }

  /** Persist a trained IVF index: `path/centroids` (the numCells × dim
    * table) and `path/postings` — the cell-assigned corpus written
    * `partitionBy("cell")`, one directory per Voronoi cell. This is what
    * makes IVF an INDEX rather than a per-query job: train+assign runs once
    * at build time, and every later query batch reads only its probed
    * cells' directories (see [[queryIvfIndex]]). Same deterministic trainer
    * as [[ivfTopK]] — identical params yield an identical on-disk index,
    * byte-reproducible across builds.
    */
  def writeIvfIndex(
      corpus: DataFrame, // columns: id, vec
      path: String,
      numCells: Int,
      lloydIters: Int = 2,
      trainPercent: Int = 100): Unit = {
    val cents = trainCentroids(corpus, numCells, lloydIters, trainPercent)
    require(cents.nonEmpty, "cannot index an empty corpus")
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.toDF("cell", "centroid")
      .repartition(1) // numCells × dim rows: one small file, read whole
      .write.mode("overwrite").parquet(s"$path/centroids")
    val bc = broadcastCentroids(spark, cents)
    assignCells(corpus, bc)
      .write.mode("overwrite")
      // force STATIC overwrite regardless of the session/cluster default: a
      // dynamic-mode rebuild would keep any cell directory the new
      // assignment leaves empty, and a later probe of that cell would score
      // the OLD build's vectors — breaking the reproducible-index contract
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").parquet(s"$path/postings")
    bc.destroy() // the write above is eager; this round's matrix is dead
  }

  /** Append a new vector batch to an EXISTING persisted IVF index — the ANN
    * sibling of the nightly-ingest dedup forms ([[graft.ops.Dedup.dedupAgainst]]
    * / `dedupWindowsAgainst` / `minHashLshAgainst`): assign the batch to the
    * index's FROZEN centroids (loaded from `path/centroids`, shipped once by
    * broadcast through the same native kernel as the build) and append the
    * assigned rows to the cell directories. The centroids deliberately never
    * move: re-training on arrival would silently invalidate every existing
    * posting's cell assignment — the reproducible-index contract — so drift
    * accumulates in cell OCCUPANCY instead, and a periodic full
    * [[writeIvfIndex]] rebuild is the honest re-balance (same cadence
    * question as compaction, [[graft.ops.Layout.compact]]).
    *
    * Shape at 100 TB: one scan of the batch through the broadcast-matrix
    * kernel (no shuffle — the partitioned write splits by the `cell` column
    * in-task), centroid driver state bounded exactly as [[queryIvfIndex]]
    * documents. A batch landing in a previously-empty cell creates that
    * cell's directory; [[queryIvfIndex]]'s probed-cell `isin` filter picks
    * it up like any other (PartitionFilters prune by VALUE, not by the
    * build's directory list).
    */
  def appendToIvfIndex(
      spark: SparkSession,
      path: String,
      batch: DataFrame): Unit = { // columns: id, vec
    val cents = FormatIO.readParquet(spark, s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty, s"no centroids at $path/centroids")
    val bc = broadcastCentroids(spark, cents)
    assignCells(batch.select(col("id"), col("vec")), bc)
      .write.mode("append").partitionBy("cell").parquet(s"$path/postings")
    bc.destroy() // the append is eager; this matrix is dead
  }

  /** Persist an IVF-PQ index — the production ANN shape that composes the
    * two approximations this file already ships: coarse IVF centroids
    * partition the corpus into probeable cells ([[writeIvfIndex]]'s layout,
    * PartitionFilters and all), and PQ codebooks trained on the RESIDUALS
    * (`vec − coarse_centroid`, the classic IVF-ADC refinement — residuals
    * concentrate around 0, so the same cellsPerSub quantizes them far
    * better than raw vectors) encode each posting as `m` ints. The postings
    * store (id, code) ONLY — no raw vectors anywhere in the index: at
    * 100 TB the index is smaller than the corpus by the PQ compression
    * factor, which is the reason IVF-PQ exists.
    *
    * Layout: `path/centroids` (coarse), `path/codebooks`
    * ((subspace, cell, centroid) rows), `path/postings/cell=N/` of
    * (id, code). Everything deterministic (both trainers are the exact
    * fixed-point Lloyd), so identical params ⇒ identical on-disk index.
    */
  def writeIvfPqIndex(
      corpus: DataFrame, // columns: id, vec
      path: String,
      numCells: Int,
      m: Int,
      cellsPerSub: Int,
      lloydIters: Int = 2,
      trainPercent: Int = 100): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, numCells, lloydIters, trainPercent)
    require(cents.nonEmpty, "cannot index an empty corpus")
    cents.toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val bc = broadcastCentroids(spark, cents)
    val centDf = cents.toDF("cell", "_cent")
    // residuals materialize ONCE: the PQ trainer re-scans its input
    // m × (lloydIters + 1) times, and each scan would otherwise re-run the
    // coarse assign + join
    val resid = assignCells(corpus, bc)
      .join(broadcast(centDf), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("vec").cast("array<double>"), col("_cent"),
          (a, b) => a - b).as("vec"))
      .localCheckpoint()
    val dim = cents.head._2.length
    val books = pqTrainCodebooks(resid.select(col("id"), col("vec")),
      dim, m, cellsPerSub, lloydIters, trainPercent)
    books.flatMap { case (s, cs) => cs.map { case (cell, c) => (s, cell, c) } }
      .toDF("subspace", "cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    pqEncode(resid.select(col("id"), col("vec")), books)
      .join(resid.select(col("id"), col("cell")), "id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("cell").parquet(s"$path/postings")
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(resid)
    bc.destroy()
  }

  /** Query a persisted IVF-PQ index: probe each query's `numProbes` nearest
    * coarse cells (the [[queryIvfIndex]] `isin` PartitionFilter — unprobed
    * cell directories are never opened), then score ONLY codes: residuals
    * differ per coarse cell, so each (query, probed cell) pair gets its own
    * m × cellsPerSub ADC table, built driver-side (queries × numProbes
    * tables — query-batch-sized) and shipped in one broadcast; each posting
    * row costs `m` lookups. Raw vectors are never read — the index IS the
    * data at query time. Output: `(qid, neighbor_id, rank, adc_dist)`,
    * ranks by (dist asc, id asc), deterministic.
    */
  def queryIvfPqIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame, // columns: qid, qvec
      k: Int,
      numProbes: Int = 4): DataFrame = {
    import org.apache.spark.sql.graft.{PqAdcScoreOne, PqAdcTableSet}
    val cents = FormatIO.readParquet(spark, s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty, s"no centroids at $path/centroids")
    val coarse = cents.toMap
    val books = FormatIO.readParquet(spark, s"$path/codebooks")
      .orderBy(col("subspace"), col("cell")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, rows) => (s, rows.map(r => (r._2, r._3))) }
    require(books.nonEmpty, s"no codebooks at $path/codebooks")
    val mSub = books.length
    val subDim = books.head._2.head._2.length
    val bcCoarse = broadcastCentroids(spark, cents)
    // the probe set is query-batch-sized by the bruteForceTopK contract, so
    // collecting it to build per-(query, cell) tables is the documented trade
    val probeRows = queries
      .select(col("qid"), col("qvec"),
        explode(NearestCells(col("qvec"), bcCoarse, numProbes)).as("cell"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray, r.getInt(2)))
    bcCoarse.destroy()
    if (probeRows.isEmpty)
      return spark.range(0)
        .select(col("id").as("qid"), col("id").as("neighbor_id"),
          lit(0).as("rank"), lit(0.0).as("adc_dist"))
    // per (query, probed cell): the RESIDUAL q − c_cell feeds the table,
    // same CentroidMatrix arithmetic as pqTopK
    val tables: Array[Array[Array[Double]]] = probeRows.map { case (_, qv, cell) =>
      val cc = coarse(cell)
      books.map { case (s, cs) =>
        val t = Array.fill(cs.map(_._1).max + 1)(Double.NaN)
        cs.foreach { case (pqCell, c) =>
          var qq = 0.0
          var dot = 0.0
          var ccc = 0.0
          var i = 0
          while (i < subDim) {
            val q = qv(s * subDim + i) - cc(s * subDim + i)
            qq += q * q
            dot += q * c(i)
            ccc += c(i) * c(i)
            i += 1
          }
          t(pqCell) = qq - 2.0 * dot + ccc
        }
        t
      }.toArray
    }.toArray
    val bcTables = spark.sparkContext.broadcast(new PqAdcTableSet(tables, mSub))
    import spark.implicits._
    val probesDf = probeRows.zipWithIndex
      .map { case ((qid, _, cell), i) => (qid, cell, i) }.toSeq
      .toDF("qid", "cell", "_tid")
    val probedCells = probeRows.map(_._3).distinct.sorted
    val postings = FormatIO.readParquet(spark, s"$path/postings")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_dist").asc, col("id"))
    postings.join(broadcast(probesDf), "cell")
      .withColumn("adc_dist", PqAdcScoreOne(col("code"), col("_tid"), bcTables))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"), col("adc_dist"))
  }

  /** Probe a persisted IVF index: load the (small) centroid table, find each
    * query's `numProbes` nearest cells, and scan ONLY those cells' postings
    * directories — the probed-cell set is collected (query-batch-sized
    * driver state, the documented trade) into a literal `isin` filter so the
    * cell predicate lands in the scan's `PartitionFilters` and unprobed
    * directories are never opened. At 100 TB this is the difference between
    * reading ~numProbes/numCells of the index and reading all of it.
    * Result contract matches [[ivfTopK]] run with the same build params —
    * spec-pinned equality.
    */
  def queryIvfIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame, // columns: qid, qvec
      k: Int,
      numProbes: Int = 4): DataFrame = {
    val cents = FormatIO.readParquet(spark, s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty, s"no centroids at $path/centroids")
    val bc = broadcastCentroids(spark, cents)
    // checkpointed: the probe set is read TWICE (the probed-cell collect
    // below and the postings join) — as a plain plan a non-replay-stable
    // queries source could probe a cell the isin list never saw, silently
    // pruning away true neighbors (the re-scanned-branch discipline)
    val probes = queries.select(col("qid"), col("qvec"),
      explode(NearestCells(col("qvec"), bc, numProbes)).as("cell"))
      .localCheckpoint()
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = FormatIO.readParquet(spark, s"$path/postings")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val scored = postings.join(broadcast(probes), "cell")
      .withColumn("cosine", cosineSimilarity(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }
}
