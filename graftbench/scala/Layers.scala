package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the recorded spans, the stages
  * the listener attributed to them, and the workload's own counters. All
  * counts and times are per traced iteration (summed, then divided by the
  * number of traced iterations); peaks are maxima over them. */
object Layers {

  /** Span name → layer (the repo module the call goes into). */
  def layerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "state" => "store"
    case "sampling" => "text"
    case "iteration" => "bench"
    case l => l
  }

  val LayerNames = Seq("sources", "api", "fs", "store", "dedup", "text", "graph", "stats",
    "checkpoint", "bench")

  /** Also reported with `_shuffle_bytes` (shuffle bytes written by their stages). */
  private val GraphStatsSpans = Seq("graph.pagerank", "graph.kcore", "graph.harmonic",
    "stats.spearman")
  /** (metric, span) pairs timed as the span's inclusive wall time. */
  private val TimedSpans = Seq(
    "sources.load", "sources.write", "api.to_df", "api.materialize", "fs.pit", "store.upsert", "store.read",
    "state.merge", "dedup.exact", "dedup.minhash", "dedup.cc", "text.clean",
    "text.bpe_train", "text.bpe_encode") ++ GraphStatsSpans
  private val JobSpans = Seq("api.to_df", "fs.pit", "store.upsert", "store.read", "dedup.cc",
    "text.bpe_train") ++ GraphStatsSpans

  def metrics(
      ctx: Ctx,
      wl: Workload,
      tracedIters: Seq[(Int, Long, Long)],
      tracedS: Seq[Double],
      untracedS: Seq[Double],
      rddsLeft: Seq[Int],
      cores: Int): Map[String, (Double, String)] = {
    val tr = ctx.tracer
    val l = tr.listener
    val n = math.max(1, tracedIters.size).toDouble
    val spans = tr.spans.toIndexedSeq
    val children = spans.groupBy(_.parent)
    // the set of span ids under (and including) each span
    def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(s => subtree(s.id))
    val subtreesByName: Map[String, Set[Int]] =
      spans.groupBy(_.name).map { case (nm, ss) => nm -> ss.flatMap(s => subtree(s.id)).toSet }
    val (stages, jobs) = l.synchronized((l.stages.toIndexedSeq, l.jobs.toIndexedSeq))
    val inSpan = stages.filter(_.span >= 0)
    def stagesOf(name: String) = {
      val ids = subtreesByName.getOrElse(name, Set.empty)
      inSpan.filter(s => ids.contains(s.span))
    }
    def jobsOf(name: String): Int = {
      val ids = subtreesByName.getOrElse(name, Set.empty)
      jobs.count(j => ids.contains(j._2))
    }
    def durOf(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    TimedSpans.foreach(s => m(s + "_s") = (durOf(s) / n, "s"))
    JobSpans.foreach(s => m(s + "_jobs") = (jobsOf(s) / n, "count"))
    GraphStatsSpans.foreach(s =>
      m(s + "_shuffle_bytes") = (stagesOf(s).map(_.shuffleWriteBytes).sum / n, "B"))

    val c = ctx.counters
    val (scanRows, scanBytes) = PlanCapture.fileScans(tr.plansSince(0))
    m("sources.scan_bytes") = (scanBytes / n, "B")
    m("sources.scan_rows") = (scanRows / n, "count")
    m("fs.pit_join_rows_per_out_row") =
      (if (c("fs.pit_out_rows") > 0) c("fs.pit_join_rows") / c("fs.pit_out_rows") else 0.0, "ratio")
    m("fs.pit_broadcast_views") = (c("fs.pit_broadcast_views") / n, "count")
    m("fs.pit_shuffle_write_bytes") = (stagesOf("fs.pit").map(_.shuffleWriteBytes).sum / n, "B")
    m("store.write_amp") = (if (c("store.batch_input_bytes") > 0)
      stagesOf("store.upsert").map(_.outputBytes).sum / c("store.batch_input_bytes") else 0.0,
      "ratio")
    m("store.files_written") = (c("store.files_written") / n, "count")
    m("store.read_bytes_per_lookup") = (if (c("store.lookup_keys") > 0)
      stagesOf("store.read").map(_.inputBytes).sum / c("store.lookup_keys") else 0.0, "B")
    m("checkpoint.blocks_peak") = (l.runBlocksPeak.toDouble, "count")
    m("checkpoint.bytes_peak") = (l.runBytesPeak.toDouble, "B")
    m("checkpoint.rdds_left") = (if (rddsLeft.isEmpty) 0.0 else rddsLeft.max.toDouble, "count")

    // Spark runtime, over every stage a traced iteration's spans submitted
    val wallS = tracedS.sum
    val runS = inSpan.map(_.runMs).sum / 1000.0
    m("spark.jobs") = (jobs.count(_._2 >= 0) / n, "count")
    m("spark.stages") = (inSpan.size / n, "count")
    m("spark.tasks") = (inSpan.map(_.tasks.toLong).sum / n, "count")
    m("spark.executor_run_s") = (runS / n, "s")
    m("spark.executor_cpu_s") = (inSpan.map(_.cpuNs).sum / 1e9 / n, "s")
    m("spark.gc_s") = (inSpan.map(_.gcMs).sum / 1000.0 / n, "s")
    m("spark.shuffle_read_bytes") = (inSpan.map(_.shuffleReadBytes).sum / n, "B")
    m("spark.shuffle_write_bytes") = (inSpan.map(_.shuffleWriteBytes).sum / n, "B")
    m("spark.spill_bytes") = (inSpan.map(_.spillBytes).sum / n, "B")
    val skews = inSpan.filter(s => s.tasks >= 2 && s.runMs >= 100 && s.taskMedianMs > 0)
      .map(s => s.taskMaxMs.toDouble / s.taskMedianMs)
    m("spark.stage_skew_max") = (if (skews.isEmpty) 1.0 else skews.max, "ratio")
    m("spark.slot_util") = (if (wallS > 0) runS / (wallS * cores) else 0.0, "ratio")
    val gaps = tracedIters.map { case (_, s, e) =>
      val ivs = inSpan.map(st => (math.max(st.submitMs, s), math.min(st.endMs, e)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      math.max(0L, (e - s) - covered) / 1000.0
    }
    m("spark.driver_gap_s") = (if (gaps.isEmpty) 0.0 else gaps.sum / n, "s")

    // self time per layer: span duration minus the time its children cover
    val selfByLayer = mutable.LinkedHashMap(LayerNames.map(_ -> 0.0): _*)
    spans.foreach { s =>
      val self = s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
      val layer = layerOf(s.name)
      selfByLayer(layer) = selfByLayer.getOrElse(layer, 0.0) + self / 1e9
    }
    LayerNames.foreach(ly => m(s"$ly.self_s") = (selfByLayer(ly) / n, "s"))

    m("trace.overhead_s") = (Main.median(tracedS) - Main.median(untracedS), "s")
    m("trace.spans") = (spans.size / n, "count")
    m.toMap
  }

  /** Every recorded span with its self time and job count, for the artifact. */
  def spanRecords(ctx: Ctx): Seq[collection.Map[String, Any]] = {
    val spans = ctx.tracer.spans.toIndexedSeq
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val children = spans.groupBy(_.parent)
    val jobsBySpan = ctx.tracer.listener.synchronized(ctx.tracer.listener.jobs.toIndexedSeq)
      .groupBy(_._2).map { case (k, v) => k -> v.size }
    spans.map { s =>
      val self = s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
      mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> s.durNs / 1e9, "self_s" -> self / 1e9,
        "jobs" -> jobsBySpan.getOrElse(s.id, 0))
    }
  }
}
