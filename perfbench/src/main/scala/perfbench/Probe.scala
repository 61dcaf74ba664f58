package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted by the scheduler listener for one operation or one stretch. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** One Spark job, parented to the operation whose thread submitted it. */
final case class JobSpan(jobId: Int, op: String, startMs: Long, endMs: Long)

/** Scheduler listener of one pass.
  *
  * Jobs are attributed to an operation through the `perfbench.op` local
  * property, which Spark copies into the job's properties at submission on
  * the submitting thread (and into streaming engine threads), so the label
  * is exact even though events are delivered asynchronously. Untraced, only
  * executor CPU is summed, which the end-to-end `exec_cpu_s` needs.
  *
  * [[take]] is called after the listener bus has drained, so each call
  * returns exactly the events of the stretch since the previous call. */
final class Probe(traced: Boolean) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageOp = mutable.Map.empty[Int, String]
  private var jobs = mutable.ArrayBuffer.empty[JobSpan]
  private var byOp = mutable.Map.empty[String, Counters]
  private var total = new Counters
  private var blocks = 0L
  private var blockBytes = 0L

  private def of(op: String): Counters = byOp.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.OpKey)))
      .getOrElse("")
    e.stageIds.foreach(stageOp.put(_, op))
    if (traced) {
      jobStart.put(e.jobId, (e.time, op))
      total.jobs += 1
      of(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, op) =>
      jobs += JobSpan(e.jobId, op, start, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (traced) {
      total.stages += 1
      of(stageOp.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val targets =
        if (traced) Seq(total, of(stageOp.getOrElse(e.stageId, ""))) else Seq(total)
      targets.foreach { c =>
        c.cpuNs += m.executorCpuTime
        if (traced) {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillDiskBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (traced && b.blockId.isRDD && b.storageLevel.isValid) {
      blocks += 1
      blockBytes += b.memSize + b.diskSize
    }
  }

  /** The stretch since the previous call: totals, per-operation counters,
    * finished jobs and RDD block writes (count, bytes). */
  def take(): (Counters, Map[String, Counters], Seq[JobSpan], (Long, Long)) = synchronized {
    val out = (total, byOp.toMap, jobs.toSeq, (blocks, blockBytes))
    total = new Counters
    byOp = mutable.Map.empty
    jobs = mutable.ArrayBuffer.empty
    blocks = 0L
    blockBytes = 0L
    out
  }
}

object Probe {
  val OpKey = "perfbench.op"
}

/** Counts actions the engine runs through the Dataset API and the Catalyst
  * phase time (analysis, optimization, planning) each one's tracker holds. */
final class PlanProbe extends QueryExecutionListener {
  private var actions = 0L
  private var planningMs = 0L

  def record(qe: QueryExecution): Unit = synchronized {
    actions += 1
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** (actions, planning ms) since the previous call. */
  def take(): (Long, Long) = synchronized {
    val out = (actions, planningMs)
    actions = 0L
    planningMs = 0L
    out
  }
}
