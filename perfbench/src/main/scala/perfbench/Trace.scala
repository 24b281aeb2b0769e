package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into an engine layer. `op` groups the spans of one
  * benchmark operation; `parent` is the enclosing span (0 = none). */
final case class Span(id: Long, op: Long, name: String, parent: Long,
    startNs: Long, endNs: Long, failed: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans are kept until the
  * run ends and written out once, so recording costs one allocation per
  * call. A disabled tracer only runs the body. All engine calls the
  * benchmark makes come from the driver thread. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var curOp = 0L
  private var stack: List[Long] = Nil

  /** A root span that opens a new operation id. */
  def op[T](name: String)(body: => T): T = {
    if (enabled) { curOp = nextId; nextId += 1 }
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      var failed = true
      try { val r = body; failed = false; r }
      finally {
        stack = stack.tail
        spans += Span(id, curOp, name, parent, t0, System.nanoTime(), failed)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList
  def opSpans(opId: Long): Seq[Span] = spans.filter(_.op == opId).toList

  def toJson: Seq[Map[String, Any]] = spans.toList.map(s => Map(
    "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "failed" -> s.failed))
}

/** Task and job totals, overall and per job group. */
final class SparkAcc {
  var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, inputBytes, outputBytes = 0L

  def copy(): SparkAcc = minus(new SparkAcc)
  def minus(o: SparkAcc): SparkAcc = {
    val r = new SparkAcc
    r.jobs = jobs - o.jobs; r.stages = stages - o.stages
    r.tasks = tasks - o.tasks; r.cpuNs = cpuNs - o.cpuNs
    r.runMs = runMs - o.runMs; r.gcMs = gcMs - o.gcMs
    r.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    r.spillBytes = spillBytes - o.spillBytes
    r.inputBytes = inputBytes - o.inputBytes
    r.outputBytes = outputBytes - o.outputBytes
    r
  }
}

/** SparkListener that sums task metrics, overall and per job group
  * (`SparkContext.setJobGroup`), so one traced call can be split into
  * construction, planning and execution jobs. Read only after
  * [[org.apache.spark.perfbench.ListenerBusDrain]]. */
final class SparkCounters extends SparkListener {
  private val total = new SparkAcc
  private val groups = mutable.Map.empty[String, SparkAcc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(g: String): SparkAcc = groups.getOrElseUpdate(g, new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    total.jobs += 1
    group(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    group(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val accs = Seq(total, group(stageGroup.getOrElse(e.stageId, "")))
    val m = e.taskMetrics
    accs.foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot(): SparkAcc = synchronized(total.copy())
  def groupSnapshot(g: String): SparkAcc = synchronized(group(g).copy())
}

/** QueryExecutionListener keeping the last finished action's
  * QueryExecution, whose executed plan carries the scan's SQL metrics. */
final class PlanListener extends QueryExecutionListener {
  @volatile var last: Option[QueryExecution] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** (decodedRows, blockPrunedRows) summed over the keyed-table scans of
    * an executed plan, including AQE query stages and subqueries. */
  def keyedScanRows(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case b: BatchScanExec => b }
    def sum(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    (sum("decodedRows"), sum("blockPrunedRows"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The p95 when at least 10 samples lie beyond it, else the highest
    * percentile that has 10 beyond it; with fewer than 11 samples no
    * percentile has that support and the maximum is reported. Returns
    * (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      val n = s.size
      if (n < 11) (s.last, 100.0)
      else {
        val i = math.min(math.ceil(0.95 * n).toInt - 1, n - 11)
        (s(i), 100.0 * (i + 1) / n)
      }
    }
}
