package graft.ops

import graft.SparkTestBase
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The rank statistics that rest on one cumulative below a value —
  * [[Stats.rankAuc]], [[Stats.prCurve]], [[Stats.ksTest]],
  * [[Stats.emdDrift]] and [[Stats.rankSumTest]]: their window partitions
  * stay bounded under an extreme outlier, their edge inputs keep their
  * pinned outputs, and each call submits a pinned number of jobs; the
  * listwise Spearman ranks ([[Stats.doubledRanks]]) are exact under any
  * bucket count.
  */
class RankKernelSpec extends SparkTestBase {
  import spark.implicits._

  /** `body`'s result and, for every window operator of every query it ran
    * (checkpoints included), the rows of its largest window partition. A
    * window's input arrives sorted by its partition keys, so a partition
    * is a run of equal keys within one task.
    */
  private def windowPeaks[T](body: => T): (T, Seq[Long]) = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      (p match { case w: WindowExec => Seq(w); case _ => Nil }) ++ kids.flatMap(windows)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      GraftListenerBus.waitUntilEmpty(spark.sparkContext, 30000)
      val peaks = qes.toArray(Array.empty[QueryExecution]).toSeq
        .flatMap(qe => windows(qe.executedPlan)).map { w =>
          val (keys, input) = (w.partitionSpec, w.child.output)
          w.child.execute().mapPartitions { rows =>
            val key = UnsafeProjection.create(keys, input)
            var (prev, run, peak) = (Option.empty[Row], 0L, 0L)
            rows.foreach { r =>
              val k = Some(Row.fromSeq(key(r).toSeq(keys.map(_.dataType))))
              run = if (k == prev) run + 1 else 1L
              prev = k
              peak = math.max(peak, run)
            }
            Iterator(peak)
          }.collect().foldLeft(0L)(math.max)
        }
      (out, peaks)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The documented bucket rule: the smallest power of two leaving at most
    * 2¹⁴ rows a bucket, at most 256. */
  private def buckets(rows: Long): Int =
    Iterator.iterate(1)(_ * 2).find(b => b == 256 || b * (1L << 14) >= rows).get

  // 2¹⁵ distinct values and one extreme outlier: equal-width bands over
  // [min, max] would put every value but the outlier in one band
  private val n = 1 << 15
  private val outlier = 1e12
  private val scored: Seq[(Double, Boolean)] =
    (1 to n).map(i => (i.toDouble, i % 3 == 0)) :+ ((outlier, true))
  // two groups over one pooled axis: odd values in a, even values and the
  // outlier in b
  private val grouped: Seq[(String, Double)] =
    (1 to n).map(i => (if (i % 2 == 1) "a" else "b", i.toDouble)) :+ (("b", outlier))

  /** Groups a and b by brute force over the pooled sorted values: (n_a,
    * n_b, KS d_num, KS d_at, W₁ emd_micro, Mann–Whitney u2). */
  private def bruteDrift(rows: Seq[(String, Double)]): (Long, Long, Long, Double, Long, Long) = {
    val vs = rows.map(_._2).distinct.sorted
    val at = rows.groupBy(identity).map { case (k, ks) => k -> ks.size.toLong }
    val ca = vs.map(v => at.getOrElse(("a", v), 0L))
    val cb = vs.map(v => at.getOrElse(("b", v), 0L))
    val (fa, fb) = (ca.scanLeft(0L)(_ + _).tail, cb.scanLeft(0L)(_ + _).tail)
    val (na, nb) = (fa.last, fb.last)
    val d = fa.zip(fb).map { case (a, b) => math.abs(a * nb - b * na) }
    val micro = vs.map(v => BigInt(math.floor(v * 1e6).toLong))
    val w1 = d.indices.init.map(i => BigInt(d(i)) * (micro(i + 1) - micro(i))).sum
    val u2 = ca.indices.map(i => BigInt(ca(i)) * (2 * fb(i) - cb(i))).sum
    (na, nb, d.max, vs(d.indexOf(d.max)), (w1 / (BigInt(na) * nb)).toLong, u2.toLong)
  }

  /** [[bruteDrift]]'s figures from the one-row ksTest, emdDrift and
    * rankSumTest results. */
  private def drift(ks: Row, emd: Row, rs: Row): (Long, Long, Long, Double, Long, Long) =
    (ks.getLong(2), ks.getLong(3), ks.getLong(4), ks.getDouble(6), emd.getLong(4), rs.getLong(4))

  /** Exact rank AUC by brute force over sorted scores (average ranks). */
  private def bruteAuc(rows: Seq[(Double, Boolean)]): Long = {
    val byScore = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var below = 0L
    var r2 = BigInt(0)
    byScore.foreach { case (_, rs) =>
      r2 += BigInt(rs.count(_._2)) * (2 * below + rs.size + 1)
      below += rs.size
    }
    val p = BigInt(rows.count(_._2))
    val q = BigInt(rows.size) - p
    ((r2 - p * (p + 1)) * (1L << 20) / (2 * p * q)).toLong
  }

  /** Exact PR-curve rows (threshold -> tp, fp, fn) by brute force. */
  private def brutePr(rows: Seq[(Double, Boolean)]): Map[Double, (Long, Long, Long)] = {
    val p = rows.count(_._2).toLong
    val byScore = rows.groupBy(_._1).toSeq.sortBy(_._1)(Ordering.Double.TotalOrdering).reverse
    var (tp, pred) = (0L, 0L)
    byScore.map { case (t, rs) =>
      tp += rs.count(_._2); pred += rs.size
      t -> ((tp, pred - tp, p - tp))
    }.toMap
  }

  private def prMap(df: DataFrame): Map[Double, (Long, Long, Long)] =
    df.collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("rank statistics: one extreme outlier leaves every window partition near rows/B; results match brute force") {
    val scoreDf = scored.toDF("score", "label")
    val groupDf = grouped.toDF("g", "v")
    // the windowed tables: the distinct-score table, and the dense
    // (group, value) grid of the pooled axis
    val (bs, bg) = (buckets(n + 1L), buckets(2L * (n + 1)))
    val (auc, aucPeaks) = windowPeaks(Stats.rankAuc(scoreDf, "score", "label").collect().head)
    val (pr, prPeaks) = windowPeaks(prMap(Stats.prCurve(scoreDf, "score", "label")))
    val (ks, ksPeaks) = windowPeaks(Stats.ksTest(groupDf, "g", "v").collect().head)
    val (emd, emdPeaks) = windowPeaks(Stats.emdDrift(groupDf, "g", "v").collect().head)
    val (rs, rsPeaks) = windowPeaks(Stats.rankSumTest(groupDf, "g", "v").collect().head)
    // every value is distinct in its group, so the hottest value holds one row
    val overBound = Seq(("rankAuc", aucPeaks, bs), ("prCurve", prPeaks, bs),
        ("ksTest", ksPeaks, bg), ("emdDrift", emdPeaks, bg), ("rankSumTest", rsPeaks, bg))
      .filter { case (_, peaks, b) => peaks.isEmpty || peaks.max > 2L * (n + 1) / b + 1 }
    assert(overBound.isEmpty, overBound.map { case (name, peaks, b) =>
      s"$name: window partition peaks $peaks, B = $b" }.mkString("; "))
    assert(auc.getLong(2) === bruteAuc(scored))
    assert(pr === brutePr(scored))
    assert(drift(ks, emd, rs) === bruteDrift(grouped))
  }

  test("rank statistics: edge inputs — empty, all-NULL, NaN scores above every double, one hot value") {
    val emptyScored = Seq.empty[(Option[Double], Option[Boolean])].toDF("score", "label")
    val nullScored = Seq((Option.empty[Double], Option(true)), (None, Some(false)))
      .toDF("score", "label")
    for (df <- Seq(emptyScored, nullScored)) {
      assert(Stats.rankAuc(df, "score", "label").collect().toSeq === Seq(Row(0L, 0L, null)))
      assert(Stats.prCurve(df, "score", "label").collect().isEmpty)
    }
    val emptyGrouped = Seq.empty[(Option[String], Option[Double])].toDF("g", "v")
    val nullGrouped = Seq((Option("a"), Option.empty[Double]), (Some("b"), None))
      .toDF("g", "v")
    for (df <- Seq(emptyGrouped, nullGrouped)) {
      assert(Stats.ksTest(df, "g", "v").collect().isEmpty)
      assert(Stats.emdDrift(df, "g", "v").collect().isEmpty)
      assert(Stats.rankSumTest(df, "g", "v").collect().isEmpty)
    }
    // NaN ranks above every double, as Spark orders it: both positives
    // outrank both negatives
    val nan = Seq((1.0, false), (Double.NaN, true), (2.0, false), (3.0, true))
    assert(Stats.rankAuc(nan.toDF("score", "label"), "score", "label")
      .collect().head === Row(2L, 2L, 1048576L))
    val (nanPr, numPr) = prMap(Stats.prCurve(nan.toDF("score", "label"), "score", "label"))
      .partition(_._1.isNaN)
    assert(nanPr.values.toSeq === Seq((1L, 0L, 1L)))
    assert(numPr === brutePr(nan).filterNot(_._1.isNaN))
    // one hot value holding most rows
    val hot = (1 to 400).map(i => (if (i % 10 == 0) i.toDouble else 5.0, i % 3 == 0))
    assert(Stats.rankAuc(hot.toDF("score", "label"), "score", "label")
      .collect().head.getLong(2) === bruteAuc(hot))
    assert(prMap(Stats.prCurve(hot.toDF("score", "label"), "score", "label")) === brutePr(hot))
    val hotGrouped = (1 to 400).map(i =>
      (if (i % 2 == 0) "a" else "b", if (i % 10 < 8) 5.0 else i.toDouble))
    val hotDf = hotGrouped.toDF("g", "v")
    assert(drift(Stats.ksTest(hotDf, "g", "v").collect().head,
      Stats.emdDrift(hotDf, "g", "v").collect().head,
      Stats.rankSumTest(hotDf, "g", "v").collect().head) === bruteDrift(hotGrouped))
  }

  test("doubledRanks: any bucket count gives the hand-computed doubled average ranks (ties, a hot value)") {
    val rnd = new scala.util.Random(20261020L)
    // a: 60 values, one of them on ~40% of the rows; b: near-continuous
    val melted = (1 to 3000).flatMap { _ =>
      Seq(("a", if (rnd.nextDouble() < 0.4) 7L else rnd.nextInt(60).toLong),
        ("b", rnd.nextLong() % 100000L))
    }
    val hand = melted.groupBy(_._1).toSeq.flatMap { case (c, vs) =>
      var below = 0L
      vs.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, ts) =>
        val rank = (c, v, 2 * below + ts.size + 1)
        below += ts.size
        rank
      }
    }.toSet
    for (b <- Seq(1, 2, 8, 256))
      assert(Stats.doubledRanks(melted.toDF("_c", "_v"), Seq("a", "b"), _ => b).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === hand, s"$b buckets")
  }

  test("rank statistics: jobs per call in one bucket and in several") {
    val small = scored.take(500).toDF("score", "label")
    val smallGrouped = grouped.take(500).toDF("g", "v")
    val (big, bigGrouped) = (scored.toDF("score", "label"), grouped.toDF("g", "v"))
    // (jobs building the DataFrame, jobs building and collecting it)
    def jobs(run: DataFrame => DataFrame, df: DataFrame): (Int, Int) = {
      val (q, build) = jobsOf(run(df))
      (build, build + jobsOf(q.collect())._2)
    }
    // building runs the corpus aggregation and the one checkpoint job that
    // reads the row count and the value sketch (the pooled grid adds its
    // totals, value and dense-grid stages, and its callers' lazy
    // checkpoints plan their stages at build); several buckets add the
    // bucket totals, the offsets window and their broadcast. Equal-width
    // banding read (3, 9), (3, 10), (14, 18), (13, 23) and (11, 17) at
    // either size: its build-time min/max pulls were extra jobs
    val want = Seq[(String, DataFrame => DataFrame, Boolean, (Int, Int), (Int, Int))](
      ("rankAuc", Stats.rankAuc(_, "score", "label"), false, (2, 4), (2, 8)),
      ("prCurve", Stats.prCurve(_, "score", "label"), false, (2, 4), (2, 7)),
      ("ksTest", Stats.ksTest(_, "g", "v"), true, (10, 14), (13, 17)),
      ("emdDrift", Stats.emdDrift(_, "g", "v"), true, (7, 14), (10, 20)),
      ("rankSumTest", Stats.rankSumTest(_, "g", "v"), true, (7, 13), (10, 16)))
    for ((name, run, byGroup, one, several) <- want) {
      assert(jobs(run, if (byGroup) smallGrouped else small) === one, s"$name, one bucket")
      assert(jobs(run, if (byGroup) bigGrouped else big) === several, s"$name, several")
    }
  }
}
