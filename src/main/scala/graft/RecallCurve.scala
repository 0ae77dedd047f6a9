package graft

import org.apache.spark.sql.functions._

/** ANN recall-vs-probes evidence harness (tooling, not part of the driver
  * contract): measures recall@k against exact brute-force ground truth for
  * the persisted IVF and IVF-PQ indexes over an embeddings table — the
  * number an ANN user asks first, produced by dogfooding the library's own
  * operators end-to-end: [[graft.ops.Similarity.bruteForceTopK]] is the
  * truth, [[graft.ops.Similarity.writeIvfIndex]]/[[graft.ops.Similarity.writeIvfPqIndex]]
  * build the indexes once, `queryIvf(Pq)Index` runs the probe ladder, and
  * [[graft.ops.Similarity.rankingMetrics]] grades each rung.
  *
  * Usage: `runMain graft.RecallCurve <sfDir> <numCells> <nQueries> [k]`
  * — prints one markdown table row per (index, numProbes) with mean
  * recall@k, mean reciprocal rank, and wall seconds for the query step.
  * Queries are a deterministic id-sample of the corpus itself (every
  * engine run grades the same queries; self-match at rank 1 is identical
  * for truth and candidates so it cancels in recall).
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numCells = args(1).toInt
    val nQueries = args(2).toInt
    val k = if (args.length > 3) args(3).toInt else 10
    val spark = LocalSession(LocalSession.cpus, LocalSession.cpus)
    import graft.ops.Similarity

    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = corpus.count()
    // deterministic query sample: every ~(n/nQueries)-th id that exists
    val stride = math.max(1L, n / nQueries)
    val queries = corpus
      .filter(pmod(col("id"), lit(stride)) === 0L)
      .limit(nQueries)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .cache()
    val nq = queries.count()
    println(s"corpus=$n vectors, queries=$nq, k=$k, numCells=$numCells")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // exact ground truth
    val (truth, tBrute) = timed {
      val t = Similarity.bruteForceTopK(queries, corpus, k).cache()
      t.count(); t
    }
    println(f"brute-force truth: $tBrute%.1f s")

    val base = java.nio.file.Files.createTempDirectory("graft-recall").toString
    val (ivfPath, pqPath) = (s"$base/ivf", s"$base/ivfpq")
    val (_, tIvfBuild) = timed {
      Similarity.writeIvfIndex(corpus, ivfPath, numCells) }
    val (_, tPqBuild) = timed {
      Similarity.writeIvfPqIndex(corpus, pqPath, numCells, m = 8,
        cellsPerSub = 256) }
    println(f"index build: ivf $tIvfBuild%.1f s, ivfpq $tPqBuild%.1f s")

    println(s"| index | numCells | numProbes | recall@$k | MRR | query s |")
    println("|---|---|---|---|---|---|")
    for (probes <- Seq(1, 2, 4, 8, 16)) {
      for ((name, run) <- Seq(
        "ivf" -> (() =>
          Similarity.queryIvfIndex(spark, ivfPath, queries, k, probes)),
        "ivfpq" -> (() =>
          Similarity.queryIvfPqIndex(spark, pqPath, queries, k, probes)))) {
        val (cand, tQ) = timed {
          val c = run().cache(); c.count(); c }
        val m = Similarity.rankingMetrics(cand, truth, k)
          .agg(avg(col("recall_at_k")).as("r"),
            avg(col("reciprocal_rank")).as("mrr"))
          .collect().head
        println(f"| $name | $numCells | $probes | ${m.getDouble(0)}%.4f " +
          f"| ${m.getDouble(1)}%.4f | $tQ%.1f |")
        cand.unpersist()
      }
    }
    spark.stop()
  }
}
