package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer. `parent` is -1 for an iteration root. */
final class Span(val id: Int, val name: String, val parent: Int, val iter: Int, val startNs: Long) {
  var endNs: Long = -1L
  def durNs: Long = endNs - startNs
}

/** Spark work of one completed stage, attributed to the span whose thread
  * submitted its job (the `graftbench.span` local property). */
final case class StageRec(
    span: Int,
    submitMs: Long,
    endMs: Long,
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    outputBytes: Long,
    taskMaxMs: Long,
    taskMedianMs: Long)

/** Collects job/stage/task counters and RDD storage blocks from the listener
  * bus. Read only after [[Tracer.drain]]. */
final class BenchListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[(Int, Int)] // (jobId, span)
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  /** Peaks over every traced iteration of this run. */
  var runBlocksPeak = 0
  var runBytesPeak = 0L

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val span = Option(js.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs += ((js.jobId, span))
    js.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (te.taskInfo != null)
      taskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += te.taskInfo.duration
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val i = sc.stageInfo
    val m = i.taskMetrics
    val durs = taskMs.remove(i.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    def t(f: org.apache.spark.executor.TaskMetrics => Long): Long = if (m == null) 0L else f(m)
    stages += StageRec(
      span = stageSpan.getOrElse(i.stageId, -1),
      submitMs = i.submissionTime.getOrElse(0L),
      endMs = i.completionTime.getOrElse(0L),
      tasks = i.numTasks,
      runMs = t(_.executorRunTime),
      cpuNs = t(_.executorCpuTime),
      gcMs = t(_.jvmGCTime),
      shuffleReadBytes = t(_.shuffleReadMetrics.totalBytesRead),
      shuffleWriteBytes = t(_.shuffleWriteMetrics.bytesWritten),
      spillBytes = t(x => x.memoryBytesSpilled + x.diskBytesSpilled),
      inputBytes = t(_.inputMetrics.bytesRead),
      outputBytes = t(_.outputMetrics.bytesWritten),
      taskMaxMs = if (durs.isEmpty) 0L else durs.last,
      taskMedianMs = if (durs.isEmpty) 0L else durs(durs.size / 2))
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = synchronized {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      blockBytes -= blocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(key) = size
        blockBytes += size
      }
      runBlocksPeak = math.max(runBlocksPeak, blocks.size)
      runBytesPeak = math.max(runBytesPeak, blockBytes)
    }
  }

  /** Forget tracked blocks: called before each traced iteration, when the
    * previous iteration's blocks have all been released (possibly while
    * this listener was detached and missed the removals). */
  def resetBlocks(): Unit = synchronized {
    blocks.clear()
    blockBytes = 0L
  }
}

/** Executed physical plans of the SQL actions run while tracing, for the
  * SQL metrics (join output rows) a span reads after its action. */
final class PlanCapture extends QueryExecutionListener {
  val plans = mutable.ArrayBuffer.empty[SparkPlan]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe.executedPlan)
  /** Record a plan executed outside the SQL execution path (an eager
    * checkpoint runs its plan as an RDD action, which no listener sees). */
  def add(p: SparkPlan): Unit = synchronized { plans += p }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanCapture {
  /** Every executed node of a plan, looking through AQE wrappers, query
    * stages and write commands; a reused exchange is counted where it ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => w +: nodes(w.child)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** (rows, bytes) read by the file scans of the plans. */
  def fileScans(plans: Seq[SparkPlan]): (Long, Long) = {
    val scans = plans.flatMap(nodes).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        (rows(f), Seq("filesSize", "staticFilesSize").flatMap(f.metrics.get).headOption
          .map(_.value).getOrElse(0L))
    }
    (scans.map(_._1).sum, scans.map(_._2).sum)
  }

  /** (rows out of the inner range joins, number of them that broadcast). */
  def innerJoins(plans: Seq[SparkPlan]): (Long, Int) = {
    val joins = plans.flatMap(nodes).collect {
      case j: BroadcastHashJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        (rows(j), 1)
      case j: SortMergeJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        (rows(j), 0)
      case j: ShuffledHashJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.Inner =>
        (rows(j), 0)
    }
    (joins.map(_._1).sum, joins.map(_._2).sum)
  }
}

/** Span recorder. Disabled, [[span]] is a plain call; enabled, it records the
  * span in memory and sets the job local property that attributes Spark
  * work to it. Lazy results are materialized at the span boundary by
  * [[Ctx.lazyOp]], only while enabled. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new BenchListener
  val plans = new PlanCapture
  private var stack: List[Span] = Nil
  private var attached = false
  var iter: Int = -1

  def enabled: Boolean = attached

  /** Attach the listeners and record spans until [[disable]]. */
  def enable(): Unit = if (!attached) {
    drain()
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
    attached = true
  }

  def disable(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(plans)
    attached = false
  }

  def drain(): Unit = Tracer.drain(sc)

  /** Position in the captured plans, for [[plansSince]]. */
  def planMark: Int = plans.synchronized(plans.plans.size)

  /** Plans executed since `mark` (after draining the bus that delivers them). */
  def plansSince(mark: Int): List[SparkPlan] = {
    drain()
    plans.synchronized(plans.plans.drop(mark).toList)
  }

  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), iter,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Drain the listener bus so every posted event has been delivered —
    * before any counter snapshot and before any `System.gc()`, which
    * would otherwise collect accumulators that queued events still name. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.GraftListenerBus.waitUntilEmpty(sc, 60000)
}
