package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `op` is shared by every span
  * of one op (-1 for set-up); `parent` is the id of the enclosing span
  * (0 for a root).
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** The layer a span belongs to: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Disabled, it still runs and times the body
  * but keeps nothing, so the untraced run pays two clock reads per span.
  */
final class Spans(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 0
  // anchors for converting Spark's epoch-millisecond phase stamps
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Time spent recording spans (after each span's end stamp). */
  var overheadNs = 0L

  def all: Seq[Span] = buf.toSeq

  /** Runs `body` inside a span; `body` gets the span's id for children. */
  def span[A](name: String, op: Int, parent: Int)(body: Int => A): A = {
    val id = if (enabled) { next += 1; next } else 0
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) {
      val t1 = System.nanoTime()
      buf += Span(id, name, op, parent, t0, t1)
      overheadNs += System.nanoTime() - t1
    }
  }

  /** Records an interval measured elsewhere in epoch milliseconds; its
    * parent is the innermost span of `op` named in `parents` that contains
    * its start.
    */
  def addEpochMs(name: String, op: Int, parents: Set[String], startMs: Long, endMs: Long): Unit =
    if (enabled) {
      def ns(ms: Long) = nano0 + (ms - epochMs0) * 1000000L
      val start = ns(startMs)
      val parent = buf.filter(s => s.op == op && parents(s.name) && s.startNs <= start && start <= s.endNs)
        .sortBy(_.durNs).headOption.map(_.id).getOrElse(0)
      next += 1
      buf += Span(next, name, op, parent, start, ns(endMs))
    }
}

object Spans {
  /** Self time per span: its duration minus the part of its interval
    * covered by its children (overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + (b - math.max(a, end)), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per layer, in nanoseconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Per-op counters filled by [[LayerListener]]. */
final class OpCounters {
  var jobs, constructJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs, taskWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var triggers, dataTriggers, inputRows = 0L
  val triggerMs = ArrayBuffer.empty[Long]
  var planningMs, addBatchMs, walCommitMs, commitOffsetsMs, stateCommitMs = 0L
  var stateRows, stateMem = 0L
}

/** Stage, task and stream-progress counters, attributed to the op that
  * caused them. The harness tags every job through the local properties
  * [[LayerListener.OpKey]] and [[LayerListener.PhaseKey]] (inherited by
  * stream-execution threads); stream progress events carry no properties
  * and go to the op that is current while they are delivered, which is
  * exact because the harness drains the bus after every op.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  @volatile var currentOp: Int = -1
  private val owner = new ConcurrentHashMap[Int, Int]() // stage -> op
  private val submitted = new ConcurrentHashMap[Int, Long]() // stage -> ms
  private val byOp = new ConcurrentHashMap[Int, OpCounters]()

  def counters(op: Int): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(currentOp)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    val c = counters(op)
    c.synchronized {
      c.jobs += 1
      if (Option(e.properties).exists(p => p.getProperty(PhaseKey) == "construct")) c.constructJobs += 1
    }
    e.stageIds.foreach(s => owner.put(s, op))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    submitted.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    val c = counters(owner.getOrDefault(id, currentOp))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(owner.getOrDefault(e.stageId, currentOp))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val sub = submitted.get(e.stageId)
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val c = counters(currentOp)
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.synchronized {
        c.triggers += 1
        if (pr.numInputRows > 0) c.dataTriggers += 1
        c.inputRows += pr.numInputRows
        c.triggerMs += d("triggerExecution")
        c.planningMs += d("queryPlanning")
        c.addBatchMs += d("addBatch")
        c.walCommitMs += d("walCommit")
        c.commitOffsetsMs += d("commitOffsets")
        c.stateCommitMs += pr.stateOperators.map(_.commitTimeMs).sum
        c.stateRows = math.max(c.stateRows, pr.stateOperators.map(_.numRowsTotal).sum)
        c.stateMem = math.max(c.stateMem, pr.stateOperators.map(_.memoryUsedBytes).sum)
      }
    case _ => ()
  }

  def ops: Map[Int, OpCounters] = byOp.asScala.toMap
}

object LayerListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
