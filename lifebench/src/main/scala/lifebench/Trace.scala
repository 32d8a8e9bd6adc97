package lifebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans recorded by the benchmark around its calls into the engine's
  * layers. One client thread opens and closes them, so they nest as a
  * stack. Times are epoch milliseconds with sub-millisecond precision,
  * the clock Spark's listener events use.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    iter: Int, start: Double, var end: Double = Double.NaN)

object Trace {
  /** Local property naming the innermost open span. Jobs and stages
    * carry it in their properties, and threads the engine starts inside
    * a span inherit it.
    */
  val SpanKey = "lifebench.span"

  private val clockOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + clockOffsetMs

  private var sc: SparkContext = _
  private var nextId = 1L
  private val open = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  var iter = 0

  def start(context: SparkContext, iteration: Int): Unit = {
    sc = context
    iter = iteration
  }

  def stop(): Unit = {
    if (sc != null) sc.setLocalProperty(SpanKey, null)
    sc = null
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (sc == null) body
    else {
      val s = Span(nextId, name, layer, open.headOption.map(_.id).getOrElse(0L),
        iter, nowMs)
      nextId += 1
      spans += s
      open.push(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        open.pop()
        sc.setLocalProperty(SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }
}

/** Per-stage task aggregate. */
final class StageAgg {
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsOut = 0L
  var maxRunMs = 0L
}

final case class JobRec(id: Int, span: Long, exec: Long, start: Double,
    var end: Double = Double.NaN)

final case class ExecRec(id: Long, start: Double, var end: Double,
    path: String, var exchanges: Int)

/** Records Spark jobs, stage task metrics and SQL executions, each tagged
  * with the span that was innermost when it was submitted. Runs on the
  * listener bus; read it only after the bus has drained.
  */
class Probe extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stageSpan = mutable.HashMap[Int, (Long, Long)]()
  val stageJob = mutable.HashMap[Int, Int]()
  val stages = mutable.HashMap[Int, StageAgg]()
  val execs = mutable.HashMap[Long, ExecRec]()

  private def tags(p: java.util.Properties): (Long, Long) =
    if (p == null) (0L, -1L)
    else (Option(p.getProperty(Trace.SpanKey)).map(_.toLong).getOrElse(0L),
      Option(p.getProperty("spark.sql.execution.id")).map(_.toLong)
        .getOrElse(-1L))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (span, exec) = tags(e.properties)
    jobs += JobRec(e.jobId, span, exec, e.time.toDouble)
    e.stageInfos.foreach { si =>
      stageSpan.getOrElseUpdate(si.stageId, (span, exec))
      stageJob.getOrElseUpdate(si.stageId, e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (e.properties != null)
        stageSpan(e.stageInfo.stageId) = tags(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (read == 0) a.emptyTasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.maxRunMs = math.max(a.maxRunMs, m.executorRunTime)
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.recordsOut += m.outputMetrics.recordsWritten
    }
  }

  /** The output path in a write's formatted plan: the first argument of
    * its InsertIntoHadoopFsRelationCommand node.
    */
  private val WritePath =
    """(?s)Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+),""".r

  private def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1
     else 0) + p.children.map(exchanges).sum

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val path = WritePath.findFirstMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).getOrElse("")
        execs(s.executionId) = ExecRec(s.executionId, s.time.toDouble,
          Double.NaN, path, exchanges(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.exchanges = exchanges(u.sparkPlanInfo))
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.end = x.time.toDouble)
      case _ =>
    }
  }
}

/** Always-on byte counter for the end-to-end write amplification: the
  * shuffle bytes tasks put on local disk.
  */
class ShuffleTally extends SparkListener {
  @volatile var shuffleWriteBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
}
