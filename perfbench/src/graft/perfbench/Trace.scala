package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one op, filled from the listener bus. Every method is
  * synchronized: task, plan and streaming events arrive on different bus
  * threads.
  */
final class OpStats {
  var jobs, stages, tasks = 0L
  var planningMs = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var runMs, cpuNs, gcMs, shWriteB, shWriteNs, shReadB, fetchWaitMs = 0L
  var inB, inRows, outB, spillB = 0L
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageWall = mutable.Map.empty[Int, Long]
  // streaming progress
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var addBatchMs, latestOffsetMs, queryPlanningMs, walCommitMs, commitOffsetsMs = 0L
  var stateCommitMs, droppedLate = 0L
  private val lastState = mutable.Map.empty[java.util.UUID, (Long, Long)]
  // root SQL executions (actions), epoch ms
  private val sqlStart = mutable.Map.empty[Long, Long]
  val sqlSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobStarted(id: Int, t: Long): Unit = synchronized { jobs += 1; jobStart(id) = t }
  def jobEnded(id: Int, t: Long): Unit = synchronized {
    jobStart.remove(id).foreach(s => jobSpans += ((s, t)))
  }
  def sqlStarted(id: Long, root: Long, t: Long): Unit = synchronized { if (root == id) sqlStart(id) = t }
  def sqlEnded(id: Long, t: Long): Unit = synchronized { sqlStart.remove(id).foreach(s => sqlSpans += ((s, t))) }
  def stageDone(info: StageInfo): Unit = synchronized {
    stages += 1
    for (s <- info.submissionTime; e <- info.completionTime) stageWall(info.stageId) = e - s
  }
  def taskDone(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shWriteB += m.shuffleWriteMetrics.bytesWritten
      shWriteNs += m.shuffleWriteMetrics.writeTime
      shReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      inB += m.inputMetrics.bytesRead; inRows += m.inputMetrics.recordsRead
      outB += m.outputMetrics.bytesWritten
      spillB += m.diskBytesSpilled
    }
  }
  def planned(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    synchronized { planningMs += ms }
  }
  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    batches += 1
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batchMs += d("triggerExecution")
    addBatchMs += d("addBatch"); latestOffsetMs += d("latestOffset")
    queryPlanningMs += d("queryPlanning"); walCommitMs += d("walCommit")
    commitOffsetsMs += d("commitOffsets")
    p.stateOperators.foreach { s =>
      stateCommitMs += s.commitTimeMs; droppedLate += s.numRowsDroppedByWatermark
    }
    lastState(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  /** Union length of this op's job spans, in ms. */
  def jobUnionMs: Long = synchronized(Spans.union(jobSpans.toSeq))
  /** max/median task time in the op's longest stage (1 when it has no tasks). */
  def taskSkew: Double = synchronized {
    if (stageWall.isEmpty) 1.0
    else {
      val ts = stageTasks.getOrElse(stageWall.maxBy(_._2)._1, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.isEmpty) 1.0 else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
  }
  def stateRows: Long = synchronized(lastState.values.map(_._1).sum)
  def stateMemB: Long = synchronized(lastState.values.map(_._2).sum)
}

/** The op whose events the listeners are collecting; `null` outside ops.
  * Switched only after the bus is drained.
  */
object Tap {
  @volatile var cur: OpStats = null
  /** Streaming ops are failed when they report no batch, so batch counting
    * is always on; every other listener only records while this is set.
    */
  @volatile var tracing = false
  private def on: Option[OpStats] = if (tracing) Option(cur) else None

  final class Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on.foreach(_.jobStarted(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = on.foreach(_.jobEnded(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on.foreach(_.stageDone(e.stageInfo))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on.foreach(_.taskDone(e))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        on.foreach(_.sqlStarted(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time))
      case s: SparkListenerSQLExecutionEnd => on.foreach(_.sqlEnded(s.executionId, s.time))
      case _ =>
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every session,
  * the cloned ones included, gets an instance.
  */
final class PlanTap extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Tap.tracing) Option(Tap.cur).foreach(_.planned(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Tap.tracing) Option(Tap.cur).foreach(_.planned(qe))
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`: the
  * registry streams run in sessions cloned by `newSession()`, whose query
  * managers never see a listener added to the outer `spark.streams`.
  */
final class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Tap.cur).foreach(_.progress(e.progress))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** In-memory spans: name, start, end, parent and op id. Spans of the
  * harness thread nest through a stack; spans opened on executor threads
  * (the classifier decorator) take the innermost open harness span as
  * parent.
  */
object Spans {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)
  @volatile var enabled = false
  @volatile var op = -1
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var stack: List[Int] = Nil
  private val harness = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** A span on the harness thread. */
  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      harness.add(id)
      val outer = stack
      stack = id :: outer
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), outer.headOption.getOrElse(-1), op))
        stack = outer
      }
    }

  /** A span on a thread Spark started for the harness's current action. */
  def remote[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      try body
      finally done.add(Span(id, name, t0, System.nanoTime(), parent, op))
    }

  /** A span known only after the fact (from listener events), parented by
    * the innermost harness span of op `op` that holds its midpoint.
    */
  def addEnclosed(name: String, startNs: Long, endNs: Long, op: Int): Unit = if (enabled) {
    val mid = startNs / 2 + endNs / 2
    val parent = all.filter(s => harness.contains(s.id) && s.op == op && s.startNs <= mid && mid <= s.endNs)
      .sortBy(_.startNs).lastOption.map(_.id).getOrElse(-1)
    done.add(Span(ids.incrementAndGet(), name, startNs, endNs, parent, op))
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; done.asScala.toSeq.sortBy(_.startNs) }

  /** Self time per span name, in seconds: a span's duration minus the part
    * of it its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var s0 = Long.MinValue; var e0 = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > e0) { if (e0 > s0) total += e0 - s0; s0 = s; e0 = e } else e0 = math.max(e0, e)
    }
    if (e0 > s0) total += e0 - s0
    total
  }
}
