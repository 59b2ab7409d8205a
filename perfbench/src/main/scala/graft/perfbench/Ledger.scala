package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Scheduler, task, shuffle, spill and scan counters of one job group. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var spillMemBytes = 0L
  var spillDiskBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds covered by the union of this group's job intervals. */
  def busyMs: Long = Counters.unionMs(jobIntervals.toSeq)
}

object Counters {
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) {
        total += e - math.max(s, end)
        end = e
      }
    }
    total
  }
}

/** Attributes every job, stage and task to the job group (`spark.jobGroup.id`)
  * that was set when its job started. Jobs started without a group book to
  * the empty group. Spark delivers listener events asynchronously, so a
  * reader calls [[drain]] before reading the counters.
  */
final class TaskLedger extends SparkListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, (String, Long)]
  private var drainEnds = 0L
  private var running = 0
  private var maxRunning = 0

  private def counters(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    openJobs(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
    running += 1
    maxRunning = math.max(maxRunning, running)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (g, t0) =>
      counters(g).jobIntervals += ((t0, e.time))
      if (g == TaskLedger.DrainGroup) drainEnds += 1
      running -= 1
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    val info = e.taskInfo
    c.tasks += 1
    if (!info.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillMemBytes += m.memoryBytesSpilled
      c.spillDiskBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Block until every event posted before this call has been delivered: run
    * one marker job and wait for its end event, which the bus delivers after
    * all earlier events.
    */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(drainEnds)
    sc.setJobGroup(TaskLedger.DrainGroup, TaskLedger.DrainGroup)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (drainEnds == before && System.currentTimeMillis() < deadline) wait(100)
      require(drainEnds > before, "listener bus did not drain within 60 s")
    }
  }

  /** Take and reset the per-group counters (the marker group excluded) and
    * the concurrent-jobs high-water mark since the last call.
    */
  def snapshot(): (Map[String, Counters], Int) = synchronized {
    val out = groups.toMap - TaskLedger.DrainGroup
    val peak = maxRunning
    groups.clear()
    maxRunning = running
    (out, peak)
  }
}

object TaskLedger {
  val DrainGroup = "perfbench-drain"
}

/** One SQL execution as a [[PlanLog]] saw it. `ops` is the physical operator
  * list below the write node, filled for writes only.
  */
final case class Execution(write: Boolean, phasesMs: Map[String, Long], ops: Seq[String])

/** Records every SQL execution of the session in completion order: Catalyst
  * phase times from its `QueryPlanningTracker` and, for writes, the executed
  * physical operator list.
  */
final class PlanLog extends QueryExecutionListener {
  private val log = mutable.ArrayBuffer.empty[Execution]

  private def record(qe: QueryExecution): Unit = {
    // a failed execution may have no executed plan; it is logged as a non-write
    val ops = scala.util.Try(PlanLog.writeChild(qe.executedPlan).map(PlanLog.ops)).toOption.flatten
      .getOrElse(Nil)
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    synchronized {
      log += Execution(ops.nonEmpty, phases, ops)
      notifyAll()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def size: Int = synchronized(log.size)

  /** The writes among the executions numbered `from` until the log holds
    * `writes` writes from there on; fails after 60 s.
    */
  def awaitWrites(from: Int, writes: Int): Seq[Execution] = synchronized {
    val deadline = System.currentTimeMillis() + 60000
    def got = log.drop(from).filter(_.write)
    while (got.size < writes && System.currentTimeMillis() < deadline) wait(100)
    require(got.size >= writes, s"saw ${got.size} of $writes writes within 60 s")
    got.toSeq
  }

  def since(from: Int): Seq[Execution] = synchronized(log.drop(from).toSeq)
}

object PlanLog {
  /** The plan a write node writes, or None when `p` is not a write. */
  def writeChild(p: SparkPlan): Option[SparkPlan] = p match {
    case c: CommandResultExec      => writeChild(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec  => writeChild(a.executedPlan)
    case s: QueryStageExec         => writeChild(s.plan)
    case w: V2TableWriteExec       => Some(w.query)
    case d: DataWritingCommandExec => Some(d.child)
    case _                         => None
  }

  /** Operator names, pre-order, looking through adaptive wrappers and query
    * stages to the final executed plan.
    */
  def ops(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
    case s: QueryStageExec        => ops(s.plan)
    case w: WriteFilesExec        => ops(w.child)
    case r: ReusedExchangeExec    => Seq(r.nodeName)
    case other                    => other.nodeName +: other.children.flatMap(ops)
  }
}
