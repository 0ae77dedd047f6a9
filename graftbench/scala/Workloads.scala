package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.ops._
import graft.sources.{FormatIO, GraftSource, SourceFormat}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Workloads {
  def byName(n: String): Workload = n match {
    case "feature_refresh" => new FeatureRefresh
    case "corpus_curation" => new CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Ttl7d: Long = 7L * 86400L

  /** Write a frame as parquet through graft's format layer. */
  def persist(ctx: Ctx, df: DataFrame, path: String): Unit =
    ctx.span("sources.write")(FormatIO.write(df, path, SourceFormat.Parquet))

  /** Fold the write commands captured since `mark` into the store counters
    * (traced only). */
  def countWrites(ctx: Ctx, mark: Int): Unit = if (ctx.tracer.enabled) {
    val files = ctx.tracer.plansSince(mark).flatMap(PlanCapture.nodes).collect {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    ctx.counters("store.files_written") += files
  }

  /** Fold the PIT range joins of the plans captured since `mark` into the fs
    * counters (traced only). */
  def countPitJoins(ctx: Ctx, mark: Int, outRows: Long): Unit = if (ctx.tracer.enabled) {
    val (joinRows, broadcastViews) = PlanCapture.innerJoins(ctx.tracer.plansSince(mark))
    ctx.counters("fs.pit_join_rows") += joinRows
    ctx.counters("fs.pit_out_rows") += outRows
    ctx.counters("fs.pit_broadcast_views") += broadcastViews
  }
}

import Workloads._

/** `feature_refresh`: day-grained event batches upserted into the latest
  * store and the incremental state store, interleaved with small serving
  * reads. Set-up loads the initial days except a few held back, and keeps
  * a snapshot of both stores; every iteration starts from that snapshot
  * (restored untimed) and runs one write — the next batch of a seeded
  * arrival cycle of new days, late (held-back) days and replays — followed
  * by three reads. Each iteration's work therefore depends only on its
  * index, never on how many iterations ran before it. */
final class FeatureRefresh extends Workload {
  val Users = 2000L
  val Events = 60000L
  val Buckets = 8
  val InitialDays = 10
  val LateDays = 2
  val LookupKeys = 50
  val MergeDays = 7
  val PitRows = 500
  /** Columns of the merged daily state whose rank correlations are read. */
  val SpearmanCols = Seq("n", "sum_value", "max_value")
  val rowsUnit = "event rows ingested (one day-grained batch, ~2000 rows, per iteration)"
  def describe: Map[String, Any] = Map(
    "users" -> Users, "events" -> Events, "days" -> Data.Days, "initial_days" -> InitialDays,
    "late_days" -> LateDays, "buckets" -> Buckets, "lookup_keys" -> LookupKeys,
    "merge_days" -> MergeDays, "pit_entity_rows" -> PitRows,
    "ops_per_iteration" -> ("1 write (latest + state upsert), 4 reads (readLatest, " +
      "mergeRange, spearmanPairwise over the merged range, pointInTime)"),
    "store_at_iteration_start" -> s"snapshot of ${InitialDays - LateDays} days",
    "arrival_cycle" -> arrivals.map(d => dt(d)),
    "pit_path" -> "broadcast (<= 1k entity rows)")

  private val Start = new Timestamp(Data.T0Us / 1000)
  private val End = new Timestamp((Data.T0Us + (Data.Days + 1) * Data.DayUs) / 1000)

  // in-JVM model of the inputs: an independent computation of every read
  private final case class Ev(id: Long, tsUs: Long, user: Long, kind: String, value: Double,
      cents: Long, day: Int)
  private var events: Array[Ev] = Array.empty
  private var byUser: Map[Long, Array[Ev]] = Map.empty
  private var dayBytes: Map[Int, Long] = Map.empty
  private var base: Set[Int] = Set.empty
  private var arrivals: IndexedSeq[Int] = IndexedSeq.empty
  private var lastDay = -1
  private var source: GraftSource = _
  private var evView: FeatureView = _
  private var bytesPerRow = Double.NaN

  private def latestPath(ctx: Ctx) = ctx.path("latest_store")
  private def statePath(ctx: Ctx) = ctx.path("state_store")
  private def snapshotOf(p: String) = p + ".snapshot"

  /** Events of the given days through graft's sources layer: the time range
    * prunes the `dt` partition directories. */
  private def batch(ctx: Ctx, days: Seq[Int]): DataFrame = ctx.span("sources.load")(
    source.loadWithTimeRange(ctx.spark, Some(tsOf(Data.T0Us + days.min * Data.DayUs)),
      Some(tsOf(Data.T0Us + (days.max + 1) * Data.DayUs - 1)))
      .filter(col("dt").isin(days.map(dt): _*)).drop("dt"))

  private def upsert(ctx: Ctx, b: DataFrame, batchId: Long): Unit = {
    LatestStore.upsertBatch(b, latestPath(ctx), "user_id", "ts", Seq("event_type", "value"),
      Buckets, tieBreak = Some("event_id"))
    Incremental.stateUpsertBatch(b, statePath(ctx), Seq("user_id"), "ts", "value_cents", batchId)
  }

  /** State-store batch id of a day's delivery: the initial load is one
    * batch, so a replay of one of its days must carry the same id to replace
    * rather than add to it. */
  private def batchId(day: Int): Long = if (base(day)) 0L else 1000L + day

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    Data.events(s, ctx.seed, Events, Users).write.partitionBy("dt").parquet(ctx.path("events"))
    source = GraftSource.of(table = Some(ctx.path("events")), timestampField = Some("ts"),
      datePartitionColumn = Some("dt"))
    events = s.read.parquet(ctx.path("events")).collect().map { r =>
      val us = micros(r.getAs[Timestamp]("ts"))
      Ev(r.getAs[Long]("event_id"), us, r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"), r.getAs[Long]("value_cents"),
        ((us - Data.T0Us) / Data.DayUs).toInt)
    }
    byUser = events.groupBy(_.user).map { case (u, es) => u -> es.sortBy(e => (e.tsUs, e.id)) }
    dayBytes = (0 until Data.Days).map(d => d -> ctx.bytesUnder(ctx.path(s"events/dt=${dt(d)}")))
      .toMap
    // arrival cycle: the new days with adjacent swaps, the held-back days
    // arriving late, and replays of days already in the snapshot
    val rng = new scala.util.Random(ctx.seed)
    val late = rng.shuffle((0 until InitialDays).toList).take(LateDays)
    base = (0 until InitialDays).toSet -- late
    val order = mutable.ArrayBuffer.from(InitialDays until Data.Days)
    for (j <- 0 until order.size - 1 if rng.nextDouble() < 0.25) {
      val t = order(j); order(j) = order(j + 1); order(j + 1) = t
    }
    late.foreach(d => order.insert(rng.nextInt(order.size + 1), d))
    val seq = mutable.ArrayBuffer.empty[Int]
    order.foreach { d =>
      seq += d
      if (rng.nextDouble() < 0.2) seq += base.toSeq.sorted.apply(rng.nextInt(base.size))
    }
    arrivals = seq.toIndexedSeq
    upsert(ctx, batch(ctx, base.toSeq.sorted), batchId(base.min))
    Seq(latestPath(ctx), statePath(ctx)).foreach(p => Main.copyLocal(p, snapshotOf(p)))
    evView = FeatureView("ev", source, Seq("user_id"), Seq("event_type", "value"), Ttl7d,
      tieBreak = Some("event_id"))
  }

  /** Untimed: restore both stores (and no StoreSwap sibling) to the snapshot. */
  override def beforeIteration(ctx: Ctx, i: Int): Unit =
    Seq(latestPath(ctx), statePath(ctx)).foreach { p =>
      Seq(p, p + ".__tmp", p + ".__prev").foreach(x => Main.deleteLocal(new java.io.File(x)))
      Main.copyLocal(snapshotOf(p), p)
    }

  def iteration(ctx: Ctx, i: Int): Unit = {
    val s = ctx.spark
    import s.implicits._
    val day = arrivals(Math.floorMod(i, arrivals.size))
    val rng = new scala.util.Random(ctx.seed * 1000003L + i)
    lastDay = day
    val seen = base + day

    // write: one day-grained batch into both stores
    val mark = ctx.tracer.planMark
    ctx.op("write") {
      ctx.span("store.upsert")(upsert(ctx, batch(ctx, Seq(day)), batchId(day)))
    }.foreach(_ => ctx.iterRows += events.count(_.day == day))
    if (ctx.tracer.enabled) {
      countWrites(ctx, mark)
      ctx.counters("store.batch_input_bytes") += dayBytes(day)
    }
    if (i == 0) ctx.checkLater("feature_refresh.store_bytes_per_row_measured") {
      bytesPerRow = storeBytes(ctx)
      bytesPerRow > 0
    }

    // read 1: latest features of a few keys (some never seen)
    val keys = Iterator.continually((math.pow(rng.nextDouble(), 2) * Users * 1.1).toLong)
      .distinct.take(LookupKeys).toSeq
    ctx.op("read") {
      ctx.span("store.read")(LatestStore.readLatest(s, latestPath(ctx), "user_id", Buckets,
        Some(keys.toDF("user_id"))).select("user_id", "ts", "event_id", "event_type", "value")
        .collect())
    }.foreach { rows =>
      if (ctx.tracer.enabled) ctx.counters("store.lookup_keys") += keys.size
      val want = keys.flatMap(k => latestOf(k, seen)).map(e =>
        (e.user, e.tsUs, e.id, e.kind, e.value)).sorted
      ctx.checkLater("feature_refresh.read_latest_matches_model")(
        rows.map(r => (r.getLong(0), micros(r.getTimestamp(1)), r.getLong(2), r.getString(3),
          r.getDouble(4))).toSeq.sorted == want)
    }

    // read 2: range merge of the daily state, over the week up to the
    // delivered day or up to the snapshot's last day
    val to = if (rng.nextBoolean()) day else InitialDays - 1
    val from = math.max(0, to - MergeDays + 1)
    ctx.op("read") {
      ctx.span("state.merge")(Incremental.mergeRange(s, statePath(ctx), Seq("user_id"),
        dt(from), dt(to)).collect())
    }.foreach { rows =>
      ctx.checkLater("feature_refresh.merge_range_matches_aggregation") {
        val want = mergedModel(from, to, seen)
        rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Long]("sum_value"),
          r.getAs[Long]("min_value"), r.getAs[Long]("max_value"))).toSeq.sorted == want
      }
    }

    // analysis: rank correlation of the merged per-user aggregates
    ctx.op("read") {
      ctx.span("stats.spearman")(Stats.spearmanPairwise(Incremental.mergeRange(s, statePath(ctx),
        Seq("user_id"), dt(from), dt(to)), SpearmanCols).collect().map(r =>
        (r.getAs[String]("col_x"), r.getAs[String]("col_y")) ->
          ((r.getAs[Long]("n"), Option(r.getAs[Any]("rho")).map(_.asInstanceOf[Double])))).toMap)
    }.foreach { rho =>
      ctx.checkLater("feature_refresh.spearman_equals_pearson_of_ranks")(
        spearmanHolds(SpearmanCols,
          mergedModel(from, to, seen).map(m => IndexedSeq(m._2, m._3, m._5)), rho))
    }

    // read 3: a small point-in-time request against the events view
    val ent = Seq.fill(PitRows)(((math.pow(rng.nextDouble(), 2) * Users * 1.1).toLong,
      Data.T0Us + Data.DayUs + (rng.nextDouble() * (Data.Days - 1) * Data.DayUs).toLong))
    ctx.op("read") {
      ctx.span("fs.pit") {
        val entity = ent.map { case (u, t) => (u, tsOf(t)) }.toDF("user_id", "event_timestamp")
        val job = FeatureStoreOps.pointInTime(s, entity, Seq(evView))
        ctx.span("api.to_df")(job.toDF)
        val pm = ctx.tracer.planMark
        val rows = ctx.span("api.materialize")(job.toLocal())
        countPitJoins(ctx, pm, PitRows)
        rows
      }
    }.foreach { rows =>
      ctx.checkLater("feature_refresh.pit_matches_model") {
        val want = ent.map { case (u, t) =>
          val hit = pitOf(u, t)
          (u, t, hit.map(_.kind), hit.map(_.value))
        }.sorted
        rows.map(r => (r.getAs[Long]("user_id"), micros(r.getAs[Timestamp]("event_timestamp")),
          Option(r.getAs[String]("event_type")),
          Option(r.getAs[Any]("value")).map(_.asInstanceOf[Double]))).toSeq.sorted == want
      }
    }
  }

  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }
  private def dt(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString
  private implicit val dblOrd: Ordering[Double] = Ordering.Double.TotalOrdering

  /** Per user (user, n, sum, min, max) of the value cents of the ingested
    * events on days [from, to]. */
  private def mergedModel(from: Int, to: Int, seen: Set[Int]): Seq[(Long, Long, Long, Long, Long)] =
    events.iterator.filter(e => e.day >= from && e.day <= to && seen(e.day))
      .toSeq.groupBy(_.user).map { case (u, es) =>
        (u, es.size.toLong, es.map(_.cents).sum, es.map(_.cents).min, es.map(_.cents).max)
      }.toSeq.sorted

  /** Every reported rho equals the Pearson correlation of the columns'
    * exact average ranks over `rows` (graft rounds rho to 6 decimals). */
  private def spearmanHolds(cols: Seq[String], rows: Seq[IndexedSeq[Long]],
      rho: Map[(String, String), (Long, Option[Double])]): Boolean = {
    def avgRanks(xs: IndexedSeq[Long]): IndexedSeq[Double] = {
      val byValue = xs.zipWithIndex.groupBy(_._1).toSeq.sortBy(_._1)
      val out = new Array[Double](xs.size)
      var below = 0
      byValue.foreach { case (_, idx) =>
        idx.foreach { case (_, i) => out(i) = below + (idx.size + 1) / 2.0 }
        below += idx.size
      }
      out.toIndexedSeq
    }
    def pearson(x: IndexedSeq[Double], y: IndexedSeq[Double]): Option[Double] = {
      val (mx, my) = (x.sum / x.size, y.sum / y.size)
      val sxy = x.indices.map(i => (x(i) - mx) * (y(i) - my)).sum
      val sxx = x.map(v => (v - mx) * (v - mx)).sum
      val syy = y.map(v => (v - my) * (v - my)).sum
      if (sxx == 0 || syy == 0) None else Some(sxy / math.sqrt(sxx * syy))
    }
    val ranks = cols.indices.map(c => avgRanks(rows.map(_(c)).toIndexedSeq))
    val want = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j)) -> pearson(ranks(i), ranks(j))
    rho.size == want.size && want.forall { case (k, w) =>
      rho.get(k).exists { case (n, got) =>
        n == rows.length && got.size == w.size &&
          got.zip(w).forall { case (a, b) => math.abs(a - b) <= 1e-6 }
      }
    }
  }

  private def latestOf(user: Long, seen: Set[Int]): Option[Ev] =
    byUser.getOrElse(user, Array.empty[Ev]).filter(e => seen(e.day)).lastOption

  private def pitOf(user: Long, tUs: Long): Option[Ev] =
    byUser.getOrElse(user, Array.empty[Ev])
      .filter(e => e.tsUs <= tUs && e.tsUs >= tUs - Ttl7d * 1000000L).lastOption

  /** Run on the stores as the last measured iteration left them: the
    * snapshot days plus that iteration's batch. */
  override def finalChecks(ctx: Ctx): Unit = {
    val s = ctx.spark
    s.read.parquet(ctx.path("events")).filter(col("dt").isin((base + lastDay).toSeq.map(dt): _*))
      .drop("dt").createOrReplaceTempView("gb_ingested")
    // LatestStore's contract: a full read equals pullLatest over every ingested row
    ctx.check("feature_refresh.full_read_equals_pull_latest") {
      val src = GraftSource.of(table = Some("gb_ingested"), timestampField = Some("ts"))
      val pulled = FeatureStoreOps.pullLatest(s, src, Seq("user_id"), Seq("event_type", "value"),
        "ts", Some("event_id"), Start, End).toDF
      val stored = LatestStore.readLatest(s, latestPath(ctx), "user_id", Buckets)
        .select("user_id", "event_type", "value", "ts")
      ctx.digest(pulled.select("user_id", "event_type", "value", "ts")) == ctx.digest(stored)
    }
    ctx.check("feature_refresh.full_merge_equals_direct_aggregation") {
      val merged = Incremental.mergeRange(s, statePath(ctx), Seq("user_id"), dt(0), dt(Data.Days))
      val direct = s.table("gb_ingested").groupBy("user_id").agg(count(lit(1)).as("n"),
        sum("value_cents").as("sum_value"), min("value_cents").as("min_value"),
        max("value_cents").as("max_value"))
      ctx.digest(merged) == ctx.digest(direct.select(merged.columns.map(col).toIndexedSeq: _*))
    }
  }

  private def storeBytes(ctx: Ctx): Double = {
    val s = ctx.spark
    val rows = s.read.parquet(latestPath(ctx)).count() + s.read.parquet(statePath(ctx)).count()
    (ctx.bytesUnder(latestPath(ctx)) + ctx.bytesUnder(statePath(ctx))).toDouble / rows
  }

  /** Bytes per live row of both stores after the first measured iteration
    * (snapshot plus the first batch of the arrival cycle, the same state on
    * every run of a seed). */
  def storeBytesPerRow(ctx: Ctx): Double = bytesPerRow

  override def extraMetrics(ctx: Ctx): Map[String, (Double, String)] = {
    val w = ctx.opSeconds.getOrElse("write", mutable.ArrayBuffer.empty[Double]).toSeq
    val r = ctx.opSeconds.getOrElse("read", mutable.ArrayBuffer.empty[Double]).toSeq
    Map("write_s.p50" -> ((Main.median(w), "s")), "write_samples" -> ((w.size.toDouble, "count")),
      "read_s.p50" -> ((Main.median(r), "s")), "read_samples" -> ((r.size.toDouble, "count")))
  }
}

/** `corpus_curation`: the crawl-curation chain over an amplified corpus —
  * clean (HTML extract, line filter, Gopher gate), dedup (exact, MinHash
  * LSH, connected components), quality score and mix, BPE train/encode and
  * sequence packing, outputs written through `FormatIO` — then link
  * analysis of the crawl's link graph: PageRank, k-core and harmonic
  * centrality. */
final class CorpusCuration extends Workload {
  val BaseDocs = 200L
  val Copies = 4
  val BpeMerges = 4
  val Threshold = 0.8
  val CoreK = 2
  val PageRankIters = 2
  val Radius = 2
  val rawDocs: Long = {
    val n = BaseDocs * Copies
    n + (0L until n).count(_ % 10 == 3) + (0L until n).count(_ % 7 == 5)
  }
  val rowsUnit = s"raw documents in ($rawDocs per iteration)"
  def describe: Map[String, Any] = Map(
    "base_docs" -> BaseDocs, "copies" -> Copies, "raw_docs" -> rawDocs,
    "planted" -> "exact twin of every 10th doc, near-duplicate twin of every 7th",
    "minhash_threshold" -> Threshold, "bpe_merges" -> BpeMerges,
    "link_graph" -> (s"$links edges: 1-8 out-links per raw page, Zipf-headed targets " +
      s"among the ${BaseDocs * Copies} copies"),
    "pagerank_iterations" -> PageRankIters, "kcore_k" -> CoreK, "harmonic_radius" -> Radius)

  private var rawPath = ""
  private var linksPath = ""
  private var links = 0L
  private var firstDigest: Option[((Long, String), (Long, String))] = None
  private var firstRanks: Option[Ranks] = None
  private var bytesPerRow = Double.NaN

  def setup(ctx: Ctx): Unit = {
    rawPath = ctx.path("raw_docs")
    linksPath = ctx.path("links")
    Data.documents(ctx.spark, ctx.seed, BaseDocs, Copies).write.parquet(rawPath)
    Data.links(ctx.spark.read.parquet(rawPath), ctx.seed, BaseDocs * Copies)
      .write.parquet(linksPath)
    links = ctx.spark.read.parquet(linksPath).count()
    firstDigest = None
    firstRanks = None
  }

  /** 12-token lines; every third line lacks terminal punctuation and every
    * fourth document opens with a boilerplate line, so the line filter has
    * work to do. Keyed on the first line's content, not the id, so planted
    * twins get the same lines. */
  private def withLines(df: DataFrame): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val h = pmod(xxhash64(slice(toks, 1, 12)), lit(12L))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      concat(array_join(slice(toks, i * 12 + 1, lit(12)), " "),
        when((h + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
    val lines = when(h % 4 === 0,
      concat(array(lit("please enable javascript to view this page.")), segs)).otherwise(segs)
    df.select(col("doc_id"), when(size(toks) > 0, array_join(lines, "\n")).otherwise(lit(""))
      .as("text"))
  }

  def iteration(ctx: Ctx, i: Int): Unit = {
    val s = ctx.spark
    val out = ctx.path(s"out/corpus-$i")
    val curated = ctx.op("curate") {
      val raw = ctx.span("sources.load")(GraftSource.parquet(rawPath).load(s))
      val cleaned = ctx.lazyOp("text.clean") {
        val extracted = TextAnalysis.extractHtmlText(raw, "doc_id", "html")
          .select(col("doc_id"), col("text_extracted").as("text"))
        val filtered = TextAnalysis.filterLines(withLines(extracted), "doc_id", "text")
          .select(col("id").as("doc_id"), col("text_kept"))
          .localCheckpoint(false)
        TextAnalysis.gopherFilter(filtered, "doc_id", "text_kept", minWords = 30, maxWords = 500,
          maxSymbolWordPct = 2, maxBulletLinePct = 15, maxEllipsisLinePct = 20,
          maxDupLinePct = 10, keep = Seq("text_kept"))
          .filter(col("keep")).select("doc_id", "text_kept")
      }
      val kept = ctx.lazyOp("dedup.exact")(
        Dedup.exact(cleaned, Seq("text_kept"), "doc_id").localCheckpoint(false))
      val pairs = ctx.lazyOp("dedup.minhash")(
        Dedup.minHashLsh(kept, "doc_id", "text_kept", threshold = Threshold))
      val clusters = ctx.span("dedup.cc") {
        val (c, _) = Dedup.connectedComponentsReleasable(
          kept.select(col("doc_id").as("id")), pairs.select("a_id", "b_id"))
        if (ctx.tracer.enabled) c.localCheckpoint(eager = true) else c
      }
      val quality = ctx.lazyOp("text.quality")(
        TextAnalysis.qualityScore(kept, "doc_id", "text_kept", keep = Seq("n_dups"))
          .select(col("doc_id").as("id"), col("n_dups"), col("quality_score")))
      // one canonical document per near-duplicate cluster: highest quality
      val canon = clusters.join(quality, "id").groupBy(col("cluster"))
        .agg(min(struct((-col("quality_score")).as("nq"), col("id").as("cid"))).as("_w"))
        .select(col("_w.cid").as("doc_id"), (-col("_w.nq")).as("quality_score"))
        .withColumn("bucket", when(col("quality_score") >= 0.75, "head")
          .when(col("quality_score") >= 0.65, "middle").otherwise("tail"))
        .localCheckpoint(false)
      def part(b: String) = canon.filter(col("bucket") === b).select("doc_id", "quality_score")
      val mixed = ctx.lazyOp("sampling.mix")(Sampling.mixCorpora(Seq(
        ("head", part("head"), 200), ("middle", part("middle"), 100), ("tail", part("tail"), 30)),
        "doc_id"))
      val merges = ctx.span("text.bpe_train")(
        TextAnalysis.trainBpeMerges(kept, "text_kept", numMerges = BpeMerges))
      val encoded = ctx.lazyOp("text.bpe_encode")(
        TextAnalysis.bpeEncode(kept, "doc_id", "text_kept", merges))
      val packed = ctx.lazyOp("text.pack")(TextAnalysis.packSequences(
        mixed.join(kept.select("doc_id", "text_kept"), "doc_id")
          .withColumn("seq_id", col("doc_id") * 10 + col("copy_id")),
        "seq_id", "text_kept", tokenBudget = 2048, partitionKey = "mix_source"))
      persist(ctx, packed, s"$out/packed")
      persist(ctx, encoded.select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords")), s"$out/encoded")
      ctx.iterRows += rawDocs
      (kept, pairs)
    }
    curated.foreach { case (kept, pairs) =>
      ctx.checkLater("corpus_curation.outputs_stable") {
        val d = (ctx.digest(s.read.parquet(s"$out/packed")),
          ctx.digest(s.read.parquet(s"$out/encoded")))
        bytesPerRow = ctx.bytesUnder(out).toDouble / (d._1._1 + d._2._1)
        if (firstDigest.isEmpty) {
          ctx.check("corpus_curation.kept_texts_unique")(keptUnique(kept))
          ctx.check("corpus_curation.minhash_pairs_exact_jaccard")(pairsHold(kept, pairs))
          firstDigest = Some(d)
        }
        ctx.deleteTree(out)
        firstDigest.contains(d)
      }
    }

    // link analysis: authority ranks of the crawl graph and its densely
    // linked core
    if (curated.nonEmpty) ctx.op("rank") {
      val g = ctx.span("sources.load")(GraftSource.parquet(linksPath).load(s))
      def pairsOf(df: DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val pr = ctx.span("graph.pagerank")(pairsOf(Graph.pageRank(g, "src", "dst", PageRankIters)))
      val core = ctx.span("graph.kcore")(pairsOf(Graph.kCore(g, "src", "dst", CoreK)))
      val harm = ctx.span("graph.harmonic")(pairsOf(
        Graph.harmonicCentrality(g, "src", "dst", Radius).select("node", "harmonic_micro")))
      Ranks(pr, core, harm)
    }.foreach { ranks =>
      ctx.checkLater("corpus_curation.link_ranks_stable") {
        if (firstRanks.isEmpty) {
          val edges = s.read.parquet(linksPath).collect().map(r => (r.getLong(0), r.getLong(1)))
          ctx.check("corpus_curation.pagerank_matches_replay")(ranks.pagerank == pageRankOf(edges))
          ctx.check("corpus_curation.kcore_degrees_at_least_k")(ranks.core.nonEmpty &&
            ranks.core.values.forall(_ >= CoreK) && ranks.core == kCoreOf(edges))
          ctx.check("corpus_curation.harmonic_covers_graph")(
            ranks.harmonic.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet &&
              ranks.harmonic.values.forall(_ >= 0))
          firstRanks = Some(ranks)
        }
        firstRanks.contains(ranks)
      }
    }
  }

  private final case class Ranks(pagerank: Map[Long, Long], core: Map[Long, Long],
      harmonic: Map[Long, Long])

  /** Fixed-point PageRank (damping 85 %, scale 10^6, dangling mass
    * dropped) replayed on the Spark driver. */
  private def pageRankOf(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to PageRankIters) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => rank(x._1) / outdeg(x._1)).sum }
      rank = nodes.map(n => n -> (1000000L / 100 * 15 + in.getOrElse(n, 0L) * 85 / 100)).toMap
    }
    rank
  }

  /** The k-core of the undirected simple graph by peeling, on the Spark
    * driver: node → degree inside the core, every degree >= k. */
  private def kCoreOf(edges: Array[(Long, Long)]): Map[Long, Long] = {
    var live = edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    var done = false
    while (!done) {
      val deg = live.flatMap(x => Seq(x._1, x._2)).groupBy(identity)
        .map { case (k, v) => k -> v.length }
      val next = live.filter(x => deg(x._1) >= CoreK && deg(x._2) >= CoreK)
      done = next.length == live.length
      live = next
    }
    live.flatMap(x => Seq(x._1, x._2)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
  }

  /** No two kept documents share their (normalized) text. */
  private def keptUnique(kept: DataFrame): Boolean =
    kept.groupBy(lower(trim(col("text_kept")))).count().filter(col("count") > 1).isEmpty

  /** Every emitted pair, recomputed on the Spark driver from the two texts as an
    * exact word-3-shingle Jaccard, reaches the threshold. */
  private def pairsHold(kept: DataFrame, pairs: DataFrame): Boolean = {
    val ps = pairs.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = ps.flatMap(p => Seq(p._1, p._2)).distinct
    val text = kept.filter(col("doc_id").isin(ids.toIndexedSeq: _*))
      .select("doc_id", "text_kept").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.size < 3) Set(toks.mkString(" ")) else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    ps.nonEmpty && ps.forall { case (a, b) =>
      val (x, y) = (shingles(text(a)), shingles(text(b)))
      (x intersect y).size.toDouble / (x union y).size >= Threshold
    }
  }

  /** Parquet bytes per row of the last checked packed + encoded outputs. */
  def storeBytesPerRow(ctx: Ctx): Double = bytesPerRow
}
