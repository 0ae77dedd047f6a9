package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: seeded inputs, one closed-loop iteration, and the
  * checks that verify what the iterations produced. */
trait Workload {
  /** What `rows_per_s` counts, for the report. */
  def rowsUnit: String

  /** Input sizes and Spark path, for the artifact. */
  def describe: Map[String, Any]

  /** Generate the seeded inputs under `ctx.dir`. */
  def setup(ctx: Ctx): Unit

  /** Untimed preparation of iteration `i` (e.g. restoring a store). */
  def beforeIteration(ctx: Ctx, i: Int): Unit = ()

  /** One iteration: graft calls wrapped in spans, operations counted with
    * [[Ctx.op]]; output checks go to [[Ctx.checkLater]], which runs them
    * after the timed window. */
  def iteration(ctx: Ctx, i: Int): Unit

  /** Checks that need the whole run (final store state), untimed. */
  def finalChecks(ctx: Ctx): Unit = ()

  /** On-disk bytes per live row of what the workload persists. */
  def storeBytesPerRow(ctx: Ctx): Double

  /** Workload-specific end-to-end figures for the report line. */
  def extraMetrics(ctx: Ctx): Map[String, (Double, String)] = Map.empty
}

/** Per-run state handed to a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checksRun = mutable.LinkedHashMap.empty[String, Int]
  private val pending = mutable.ArrayBuffer.empty[(String, () => Boolean)]
  /** Latencies of measured operations by kind (e.g. "write", "read"). */
  val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var measuring = false
  /** Input rows the current iteration processed (`rows_per_s`). */
  var iterRows = 0L
  /** Free-form per-layer counters a workload accumulates while tracing. */
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def path(rel: String): String = new File(dir, rel).getAbsolutePath

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A graft call returning a lazy frame: traced, the frame is materialized
    * (eager local checkpoint) inside the span, so the layer's execution is
    * charged to it rather than to whichever later call runs the action. */
  def lazyOp(name: String)(df: => DataFrame): DataFrame =
    tracer.span(name) {
      val d = df
      if (tracer.enabled) {
        val c = d.localCheckpoint(eager = true)
        tracer.plans.add(d.queryExecution.executedPlan)
        c
      } else d
    }

  /** One operation: counted as attempted, timed, and counted as failed if it
    * throws. Returns None on failure. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      if (measuring)
        opSeconds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"graftbench: FAILED $msg")
  }

  /** Queue an output check to run after the timed window. */
  def checkLater(name: String)(ok: => Boolean): Unit = pending += ((name, () => ok))

  def runChecks(): Unit = {
    val todo = pending.toList
    pending.clear()
    todo.foreach { case (name, ok) => check(name)(ok()) }
  }

  /** Run a check now; a false result or an exception counts as a failure. */
  def check(name: String)(ok: => Boolean): Unit = {
    checksRun(name) = checksRun.getOrElse(name, 0) + 1
    val passed = try ok catch {
      case NonFatal(e) =>
        System.err.println(s"graftbench: check $name threw $e")
        false
    }
    if (!passed) fail(s"check $name")
  }

  def deleteTree(p: String): Unit = {
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  /** Bytes of the data files under a directory tree. */
  def bytesUnder(p: String): Long = {
    val hp = new Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) 0L
    else {
      val it = fs.listFiles(hp, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val nm = f.getPath.getName
        if (!nm.startsWith(".") && !nm.startsWith("_")) n += f.getLen
      }
      n
    }
  }

  /** Row- and column-order-independent digest of a frame:
    * (row count, sum of row hashes over the columns sorted by name). */
  def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.toIndexedSeq.map(col)
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0))).head()
    (r.getLong(0), r.get(1).toString)
  }

}
