package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the id of the span
  * that was open when this one started (-1 for a root span). */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced passes pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        open.pop()
      }
    }

  /** Self time per span name: each span's duration minus the time its
    * direct children cover (children never overlap: one driver thread). */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.groupBy(_.name).view
      .mapValues(_.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }
}

/** Counters from Spark's listener bus for one measured interval. */
final class ExecCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Driver idle = wall time with no job running, summed over the interval. */
  var jobBusyNs = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def stageSkewMax: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** SparkListener that fills the current [[ExecCounters]]. */
final class ExecListener extends SparkListener {
  @volatile var current: ExecCounters = new ExecCounters
  private var running = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (running == 0) busySince = System.nanoTime()
    running += 1
    current.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val now = System.nanoTime()
    running -= 1
    if (running == 0) current.jobBusyNs += now - busySince
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { current.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskBusyMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }
}

/** Driver planning phases of every successful query execution. */
final class PlanListener extends QueryExecutionListener {
  @volatile var executions = 0
  @volatile var analysisMs = 0L
  @volatile var optimizationMs = 0L
  @volatile var planningMs = 0L
  /** (action name, wall ms) of each execution, in completion order. */
  val actions = mutable.ArrayBuffer.empty[(String, Double)]

  def reset(): Unit = synchronized {
    executions = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
    actions.clear()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    executions += 1
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    actions += (funcName -> durationNs / 1e6)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Persisted-RDD footprint, sampled from the public SparkContext API. */
object Pins {
  def rdds(sc: SparkContext): Int = sc.getPersistentRDDs.size
  def mb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Pass isolation from outside the program: drop every cached plan and
    * persisted RDD, blocking, so the next pass starts clean. */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
