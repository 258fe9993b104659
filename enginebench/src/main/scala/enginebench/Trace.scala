package enginebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: times are epoch seconds (ms resolution from Spark events,
  * ns resolution from the client thread). `op` is the root span id. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double)

/** What Spark reported for one completed stage. */
final case class StageStat(stageId: Int, span: Int, tasks: Int, runS: Double, cpuS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputB: Long, outputB: Long,
    outputRows: Long, taskTimes: Seq[Double])

/** In-memory spans plus the Spark listeners of the traced run. With
  * `enabled = false` it records only root spans and registers nothing, so
  * the untraced run pays for nothing but two clock reads per op.
  *
  * Jobs are parented through a local property that the client thread sets
  * on entering a span: Spark copies local properties into every job it
  * submits (and into threads started from the span, such as a streaming
  * query's), so a job's parent is the span that was active when it was
  * submitted, whatever the listener-bus delay. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val SpanProp = "enginebench.span"
  private def nowS: Double = Tracer.nowS

  private var nextId = 0
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()

  // Listener-side state (bus thread), read after the bus is drained.
  private val jobs = mutable.ArrayBuffer[Span]()
  private val jobStart = mutable.Map[Int, (Double, Int)]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  val stages: mutable.ArrayBuffer[StageStat] = mutable.ArrayBuffer()
  /** (start, end) epoch seconds of every analysis/optimisation/planning phase. */
  val planPhases: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer()

  private object Tap extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time / 1000.0, span)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      // `op` is resolved from the parent span once all spans are closed.
      jobStart.remove(e.jobId).foreach { case (s, span) =>
        jobs += Span(-1 - e.jobId, span, -1, "spark.job", s, e.time / 1000.0)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration / 1000.0
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages += StageStat(i.stageId, stageSpan.getOrElse(i.stageId, -1), i.numTasks,
          m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
    }
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p => planPhases += ((p.startTimeMs / 1000.0, p.endTimeMs / 1000.0)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Tap)
    spark.listenerManager.register(Plans)
  }

  /** Time `body` as a span under the current one (a root span when none is
    * open). Untraced, only root spans are kept. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled && stack.nonEmpty) return body
    val parent = stack.headOption
    val id = synchronized { nextId += 1; nextId }
    val open = Span(id, parent.map(_.id).getOrElse(-1), parent.map(_.op).getOrElse(id), name, nowS, 0.0)
    stack.push(open)
    if (enabled) spark.sparkContext.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      stack.pop()
      val closed = open.copy(end = nowS)
      synchronized { spans += closed }
      if (enabled) spark.sparkContext.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) graft.streaming.LifecycleGate.flushListenerBus(spark)

  def jobSpans: Seq[Span] = synchronized(jobs.toSeq)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(Tap)
    spark.listenerManager.unregister(Plans)
  }
}

object Tracer {
  /** Epoch seconds at ns resolution, anchored once to the wall clock so
    * client-side spans and Spark's ms event times share one axis. */
  private val anchorNs = System.nanoTime()
  private val anchorS = System.currentTimeMillis() / 1000.0
  def nowS: Double = anchorS + (System.nanoTime() - anchorNs) / 1e9

  /** Collector time and count summed over every garbage collector. */
  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** Old-generation occupancy in MiB (call right after a full GC for the live set). */
  def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Whole-stage and expression codegen compile time so far, seconds. */
  def codegenS(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9
}
