package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Keeps Spark's public listener events in memory: finished jobs with
  * their stages, per-stage shuffle bytes and CPU time with every task's
  * run time, and finished SQL executions with their call
  * site, the layer their plan writes or reads, the number of scans of
  * the input, and the rule kernels missing from the plan.
  * Nothing is written until the benchmark ends.
  */
final class Recorder(inputRoots: Seq[String]) extends SparkListener {

  private val openJobs = TrieMap.empty[Int, Map[String, Any]]
  private val openExecs = TrieMap.empty[Long, Map[String, Any]]
  private val stageAcc = TrieMap.empty[(Int, Int), StageAcc]

  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()

  final class StageAcc {
    var shuffleRead, shuffleWrite, cpuNs = 0L
    val taskMs = new ConcurrentLinkedQueue[Long]()
  }

  /** True once every started job and SQL execution has been seen to end. */
  def quiet: Boolean = openJobs.isEmpty && openExecs.isEmpty

  override def onJobStart(e: SparkListenerJobStart): Unit =
    openJobs(e.jobId) = Map("id" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    openJobs.remove(e.jobId).foreach(j => jobs.add(j ++ Map("end_ms" -> e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    acc.taskMs.add(e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      acc.synchronized {
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.cpuNs += m.executorCpuTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val acc = stageAcc.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAcc)
    stages.add(Map(
      "id" -> si.stageId,
      "shuffle_read_bytes" -> acc.shuffleRead,
      "shuffle_write_bytes" -> acc.shuffleWrite,
      "cpu_ns" -> acc.cpuNs,
      "task_ms" -> acc.taskMs.asScala.toSeq))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      openExecs(s.executionId) = Map(
        "id" -> s.executionId,
        "start_ms" -> s.time,
        "call_site" -> s.description,
        "layer" -> Recorder.layerOf(plan),
        "input_scans" -> Recorder.scansOf(plan, inputRoots),
        "missing_kernels" -> PlanGuard.missing(plan))
    case s: SparkListenerSQLExecutionEnd =>
      openExecs.remove(s.executionId).foreach { x =>
        execs.add(x ++ Map("end_ms" -> s.time))
      }
    case _ =>
  }
}

object Recorder {

  /** Layer of a SQL execution, from the output directories its plan
    * names (the layout documented in `graft.resume.Checkpoint`): the
    * manifest is the resume layer's commit point, `verdicts` the verdict
    * layer's output and `violations` the validate layer's. Plans that
    * name none of them get "".
    */
  def layerOf(plan: String): String =
    if (plan.contains("/manifest")) "resume"
    else if (plan.contains("/verdicts")) "verdict"
    else if (plan.contains("/violations")) "validate"
    else ""

  /** Scan nodes of the plan whose file location lies under an input root. */
  def scansOf(plan: String, roots: Seq[String]): Int =
    plan.linesIterator.count { l =>
      l.trim.startsWith("Location:") && roots.exists(r => l.contains(r))
    }
}
