package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `graftbench/run.py`).
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --results DIR [--commit C --source-sha256 H]
  *
  * Set-up is JVM start (launch to `main`), Spark session start plus seeded
  * input generation, and one untimed warm-up iteration. The middle part
  * runs [[SetupReps]] times, each in a fresh session, and `setup_s` adds
  * the median of those to the other two. Then iterations run back to back
  * on one Spark driver thread until `--seconds` of iteration time has been
  * measured. With `--trace 1` iterations alternate untraced and traced, so
  * the run reports per-layer metrics from the traced ones and the tracing
  * overhead as the difference of the two medians.
  */
object Main {
  val SetupReps = 3
  val MinIterations = 3
  /** A run whose CPU steal exceeds this is flagged in its artifact. */
  val StealLimitS = 1.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val resultsDir = new File(opts("results")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val load1Before = load1()
    val stealBefore = stealSeconds()
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val wl: Workload = Workloads.byName(workloadName)

    // --- set-up: session + inputs, repeated; then one warm-up iteration -----
    val prepS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    val dir = s"$work/inputs"
    for (rep <- 0 until SetupReps) {
      if (spark != null) { spark.stop(); deleteLocal(new File(dir)) }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val tSession = System.nanoTime()
      ctx = new Ctx(spark, seed, dir, new Tracer(spark))
      wl.setup(ctx)
      val tEnd = System.nanoTime()
      prepS += (tEnd - t0) / 1e9
      System.err.println(f"graftbench: set-up $rep: session ${(tSession - t0) / 1e9}%.2f s, " +
        f"inputs ${(tEnd - tSession) / 1e9}%.2f s")
    }
    val tWarm = System.nanoTime()
    wl.beforeIteration(ctx, -1)
    runIteration(ctx, wl, -1)
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    finishIteration(ctx, traced = false)

    // --- measured loop -------------------------------------------------------
    val untracedS = mutable.ArrayBuffer.empty[Double]
    var untracedRows = 0L
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val tracedIters = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (iter, startMs, endMs)
    val rddsLeft = mutable.ArrayBuffer.empty[Int]
    val iterSteal = mutable.ArrayBuffer.empty[Double]
    ctx.measuring = true
    val wallStart = System.nanoTime()
    var i = 0
    def measured = untracedS.sum + tracedS.sum
    while ((measured < seconds || i < MinIterations) &&
        (System.nanoTime() - wallStart) / 1e9 < 4 * seconds + 30) {
      val traced = trace && i % 2 == 1
      wl.beforeIteration(ctx, i)
      ctx.tracer.iter = i
      ctx.tracer.drain()
      System.gc()
      ctx.tracer.listener.resetBlocks()
      if (traced) ctx.tracer.enable()
      val startMs = System.currentTimeMillis()
      ctx.iterRows = 0L
      val steal0 = stealSeconds()
      val (secs, left) = runIteration(ctx, wl, i)
      iterSteal += stealSeconds() - steal0
      finishIteration(ctx, traced)
      if (traced) {
        tracedS += secs
        tracedIters += ((i, startMs, startMs + math.round(secs * 1000)))
        rddsLeft += left
      } else {
        untracedS += secs
        untracedRows += ctx.iterRows
      }
      i += 1
    }
    ctx.measuring = false
    ctx.tracer.disable()
    wl.finalChecks(ctx)
    val storeBpr = wl.storeBytesPerRow(ctx)
    val attempted = ctx.attempted
    val failed = ctx.failed
    val failures = ctx.failures

    // --- metrics -------------------------------------------------------------
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((jvmStartS + median(prepS.toSeq) + warmupS, "s")),
      "iter_s.p50" -> ((median(untracedS.toSeq), "s")),
      "rows_per_s" -> ((untracedRows / untracedS.sum, "1/s")),
      "rss_peak_mb" -> ((vmHwmMb(), "MB")),
      "store_bytes_per_row" -> ((storeBpr, "B")))
    val extra = wl.extraMetrics(ctx) ++ Map(
      "ops_failed_ratio" -> ((failed.toDouble / math.max(1L, attempted), "ratio")))
    val layer: Map[String, (Double, String)] =
      if (trace) Layers.metrics(ctx, wl, tracedIters.toSeq, tracedS.toSeq, untracedS.toSeq,
        rddsLeft.toSeq, cores)
      else Map.empty
    val load1After = load1()
    val steal = if (stealBefore < 0) -1.0 else stealSeconds() - stealBefore

    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "master" -> s"local[$cores]", "shuffle_partitions" -> cores,
      "jvm_memory_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xm")).toSeq,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "commit" -> opts.getOrElse("commit", "unknown"),
      "source_sha256" -> opts.getOrElse("source-sha256", "unknown"),
      "load1_before" -> load1Before, "load1_after" -> load1After,
      "cpu_steal_s" -> steal,
      "cpu_steal_limit_s" -> StealLimitS,
      "cpu_steal_ok" -> (steal >= 0 && steal <= StealLimitS),
      "closed_loop_clients" -> 1)
    val report = mutable.LinkedHashMap[String, Any](
      "env" -> env,
      "inputs" -> wl.describe,
      "rows_per_s_counts" -> wl.rowsUnit,
      "jvm_start_s" -> jvmStartS,
      "setup_reps_s" -> prepS.toSeq,
      "warmup_s" -> warmupS,
      "iterations" -> untracedS.size,
      "iteration_s" -> untracedS.toSeq,
      "iteration_steal_s" -> iterSteal.toSeq,
      "traced_iteration_s" -> tracedS.toSeq,
      "op_s" -> ctx.opSeconds.map { case (k, v) => k -> v.toSeq },
      "metrics" -> (e2e ++ extra ++ layer).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "checks" -> ctx.checksRun,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq)
    val artifact = writeArtifact(resultsDir, workloadName, seed, trace, Json.render(
      if (trace) report + ("spans" -> Layers.spanRecords(ctx)) else report))
    spark.stop()
    deleteLocal(new File(work))

    println(Json.render(mutable.LinkedHashMap("report" -> (report - "iteration_s" - "op_s" -
      "iteration_steal_s" - "traced_iteration_s" - "failures" +
      ("artifact" -> artifact)))))
    val outMetrics = (if (trace) layer else e2e.toMap).map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(outMetrics.toSeq.sortBy(_._1): _*))))
    System.exit(0)
  }

  /** Run one timed iteration. Returns its seconds and the number of
    * persisted RDDs it left behind. */
  def runIteration(ctx: Ctx, wl: Workload, i: Int): (Double, Int) = {
    val t0 = System.nanoTime()
    ctx.tracer.span("iteration")(wl.iteration(ctx, i))
    ((System.nanoTime() - t0) / 1e9, ctx.spark.sparkContext.getPersistentRDDs.size)
  }

  /** Untimed: the iteration's output checks (never traced), then release
    * of every persisted RDD (traced as `checkpoint.release` when the
    * iteration was) so the next iteration starts from empty storage. */
  def finishIteration(ctx: Ctx, traced: Boolean): Unit = {
    ctx.tracer.disable()
    ctx.runChecks()
    if (traced) ctx.tracer.enable()
    ctx.tracer.span("checkpoint.release") {
      ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    ctx.tracer.disable()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** CPU time the hypervisor gave other guests (the `steal` column of
    * /proc/stat, summed over CPUs), in seconds; -1 where unavailable. */
  def stealSeconds(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      .split("\\n")(0).trim.split("\\s+")(8).toDouble / 100.0
    catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
        StandardCharsets.UTF_8).split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Copy a local directory tree. */
  def copyLocal(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString)))
    finally walk.close()
  }

  def deleteLocal(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteLocal)
    f.delete()
  }

  def writeArtifact(dir: String, wl: String, seed: Long, trace: Boolean, json: String): String = {
    new File(dir).mkdirs()
    val f = new File(dir, s"$wl-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}.json")
    Files.write(f.toPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
    f.getPath
  }
}

/** Minimal JSON rendering for the report and result lines. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case other => render(other.toString)
  }
}
