package layerbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Node counts and SQL metrics read from one executed physical plan. */
final case class PlanStats(
    exchanges: Long = 0, reused: Long = 0, broadcast: Long = 0,
    customNodes: Long = 0,
    scanRows: Long = 0, scanBytes: Long = 0, scanMs: Long = 0,
    sinkRows: Long = 0, sinkBytes: Long = 0, sinkFiles: Long = 0,
    sinkMs: Long = 0) {
  def +(o: PlanStats): PlanStats = PlanStats(
    exchanges + o.exchanges, reused + o.reused, broadcast + o.broadcast,
    customNodes + o.customNodes, scanRows + o.scanRows,
    scanBytes + o.scanBytes, scanMs + o.scanMs, sinkRows + o.sinkRows,
    sinkBytes + o.sinkBytes, sinkFiles + o.sinkFiles, sinkMs + o.sinkMs)
}

object PlanStats {
  /** The repo's own physical operators (graft.plans). */
  val customOperators: Set[String] = Set("AsOfJoinExec", "TopKPerGroupExec")

  /** Visit every node of the plan that ran. Descends into the final
    * adaptive plan, query stages, command plans and subqueries. A
    * ReusedExchangeExec is a leaf, so the exchange it reuses is visited
    * once, where it ran — unlike counting "Exchange" substrings in the plan
    * text, where a reused exchange's line repeats its source's text. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  def of(plan: SparkPlan): PlanStats = {
    var s = PlanStats()
    walk(plan) { n =>
      def m(k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
      n match {
        case _: ReusedExchangeExec => s = s.copy(reused = s.reused + 1)
        case _: ShuffleExchangeLike => s = s.copy(exchanges = s.exchanges + 1)
        case _: BroadcastExchangeLike => s = s.copy(broadcast = s.broadcast + 1)
        case _: DataSourceScanExec | _: BatchScanExec =>
          s = s.copy(scanRows = s.scanRows + m("numOutputRows"),
            scanBytes = s.scanBytes + m("filesSize"),
            scanMs = s.scanMs + m("scanTime"))
        case _ =>
      }
      if (customOperators(n.getClass.getSimpleName))
        s = s.copy(customNodes = s.customNodes + 1)
      // file-writing commands carry the write-job stats tracker's metrics
      if (n.metrics.contains("numOutputBytes") && n.metrics.contains("numFiles"))
        s = s.copy(sinkRows = s.sinkRows + m("numOutputRows"),
          sinkBytes = s.sinkBytes + m("numOutputBytes"),
          sinkFiles = s.sinkFiles + m("numFiles"),
          sinkMs = s.sinkMs + m("taskCommitTime") + m("jobCommitTime"))
    }
    s
  }
}

/** One query execution reported by the QueryExecutionListener: its plan
  * stats and its planning-tracker phases (name, start ms, end ms). */
final case class QeRec(stats: PlanStats, phases: Seq[(String, Long, Long)])

final case class JobRec(id: Int, startMs: Long, var endMs: Long = -1L)
final case class StageRec(id: Int, attempt: Int, jobId: Int, submitMs: Long,
                          endMs: Long, tasks: Int)

/** Everything the listeners saw for one key span. */
final class Acc {
  var events = 0L
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  var tasks, retried = 0L
  var taskWaitMs, taskCpuNs, taskRunMs, gcMs = 0L
  var shufWBytes, shufWNs, shufRBytes, fetchWaitMs = 0L
  var spillBytes, peakExecMem = 0L
}

/** Spark's public listeners, registered from the benchmark: a
  * SparkListener attributes jobs, stages and tasks to the key span whose
  * job group launched them, and a QueryExecutionListener records each
  * executed plan. Both are inert unless a traced key is open. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val accs = mutable.HashMap.empty[Long, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  @volatile private var current = 0L
  var drainTimeouts = 0

  def begin(span: Long): Unit = synchronized {
    accs(span) = new Acc
    current = span
  }

  def end(): Unit = { current = 0L }

  def take(span: Long): Acc = synchronized {
    accs.remove(span).getOrElse(new Acc)
  }

  private def acc(span: Long): Option[Acc] =
    if (span == 0L) None else accs.get(span)

  /** Jobs whose group is not one of ours (streaming micro-batches set
    * their own) fall back to the open key span. */
  private def spanOf(props: java.util.Properties): Long = {
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    if (g != null && g.startsWith("lb:")) g.substring(3).toLongOption.getOrElse(current)
    else current
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(j.properties)
    acc(span).foreach { a =>
      a.events += 1
      a.jobs += JobRec(j.jobId, j.time)
      jobSpan(j.jobId) = span
      j.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, j.jobId))
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(j.jobId).flatMap(acc).foreach { a =>
      a.events += 1
      a.jobs.find(_.id == j.jobId).foreach(_.endMs = j.time)
    }
  }

  private def stageAcc(stageId: Int): Option[Acc] =
    stageJob.get(stageId).flatMap(jobSpan.get).flatMap(acc)

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val i = s.stageInfo
    stageAcc(i.stageId).foreach { a =>
      a.events += 1
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    stageAcc(i.stageId).foreach { a =>
      a.events += 1
      val sub = stageSubmit.getOrElse((i.stageId, i.attemptNumber()),
        i.submissionTime.getOrElse(0L))
      a.stages += StageRec(i.stageId, i.attemptNumber(), stageJob(i.stageId),
        sub, i.completionTime.getOrElse(System.currentTimeMillis()), i.numTasks)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageAcc(t.stageId).foreach { a =>
      a.events += 1
      a.tasks += 1
      val info = t.taskInfo
      if (info.attemptNumber > 0 || info.speculative) a.retried += 1
      stageSubmit.get((t.stageId, t.stageAttemptId)).foreach { sub =>
        a.taskWaitMs += math.max(0L, info.launchTime - sub)
      }
      val m = t.taskMetrics
      if (m != null) {
        a.taskCpuNs += m.executorCpuTime
        a.taskRunMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shufWBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufWNs += m.shuffleWriteMetrics.writeTime
        a.shufRBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val span = current
    if (span == 0L) return
    val rec = QeRec(PlanStats.of(qe.executedPlan),
      qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) })
    synchronized {
      acc(span).foreach { a => a.events += 1; a.qes += rec }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** Wait, at most `timeoutMs`, until the span's events have landed: every
    * job seen has ended, at least one executed plan arrived when one is
    * expected, and no new event came in over three polls. The listener bus
    * is asynchronous and its drain call is not public, so this is a bounded
    * poll; a timeout is counted, never waited out. */
  def drain(span: Long, expectQe: Boolean, timeoutMs: Long = 3000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last = -1L
    var quiet = 0
    while (System.nanoTime() < deadline) {
      val (ev, settled) = synchronized {
        accs.get(span) match {
          case Some(a) => (a.events,
            a.jobs.forall(_.endMs >= 0) && (!expectQe || a.qes.nonEmpty))
          case None => (0L, true)
        }
      }
      if (settled && ev == last) quiet += 1 else { quiet = 0; last = ev }
      if (quiet >= 3) return true
      Thread.sleep(10)
    }
    synchronized { drainTimeouts += 1 }
    false
  }
}
