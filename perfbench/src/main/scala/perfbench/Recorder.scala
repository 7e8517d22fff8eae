package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Work the Spark runtime did for one operation. */
final class Work {
  var jobs = 0L
  var buildJobs = 0L
  var stages = 0L
  var tasks = 0L
  var singleTaskStages = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var pinnedBlocks = 0L
  var pinnedBytes = 0L

  /** The counts a work-count diff compares exactly. */
  def counts: Map[String, Long] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
    "tasks" -> tasks, "single_task_stages" -> singleTaskStages,
    "failed_tasks" -> failedTasks, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "pinned_blocks" -> pinnedBlocks,
    "pinned_bytes" -> pinnedBytes)

  def add(o: Work): Unit = {
    jobs += o.jobs; buildJobs += o.buildJobs; stages += o.stages
    tasks += o.tasks; singleTaskStages += o.singleTaskStages
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; pinnedBlocks += o.pinnedBlocks
    pinnedBytes += o.pinnedBytes
  }
}

/** The traced run's SparkListener. It attributes each job to the
  * operation named by the job group the harness sets around the call.
  * Jobs whose thread does not carry that group (a stream execution
  * sets its own) and block updates, which carry no job, go to the
  * operation the harness marked current. Each finished job becomes a
  * span under the phase span that was running when it started.
  */
final class Recorder(tracer: Tracer) extends SparkListener {
  @volatile var currentOp: Int = -1
  @volatile var currentSpan: Int = -1
  @volatile var inBuild: Boolean = false

  private val work = mutable.Map.empty[Int, Work]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, (Int, Int, Long, String)]
  private val sites = mutable.Map.empty[String, Array[Long]]

  private def of(op: Int): Work = work.getOrElseUpdate(op, new Work)

  def workOf(op: Int): Work = synchronized(work.getOrElse(op, new Work))

  /** Jobs and summed job milliseconds per short call site. */
  def callSites: Map[String, (Long, Long)] =
    synchronized(sites.map { case (k, v) => k -> (v(0), v(1)) }.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(Recorder.opOfGroup).getOrElse(currentOp)
    val w = of(op)
    w.jobs += 1
    if (inBuild) w.buildJobs += 1
    e.stageInfos.foreach(si => stageOp(si.stageId) = op)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("?")
    openJobs(e.jobId) = (op, currentSpan, e.time * 1000, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (op, parent, startUs, site) =>
      val endUs = e.time * 1000
      tracer.add(Span(tracer.newId(), parent, op, s"job $site", startUs, endUs))
      val acc = sites.getOrElseUpdate(site, Array(0L, 0L))
      acc(0) += 1
      acc(1) += (endUs - startUs) / 1000
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val w = of(stageOp.getOrElse(si.stageId, currentOp))
      w.stages += 1
      w.tasks += si.numTasks
      if (si.numTasks == 1) w.singleTaskStages += 1
      Option(si.taskMetrics).foreach { m =>
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) synchronized {
      of(stageOp.getOrElse(e.stageId, currentOp)).failedTasks += 1
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
      val w = of(currentOp)
      w.pinnedBlocks += 1
      w.pinnedBytes += info.memSize + info.diskSize
    }
  }
}

object Recorder {
  private val prefix = "perfbench-op-"

  def groupOf(op: Int): String = s"$prefix$op"

  def opOfGroup(group: String): Option[Int] =
    if (group.startsWith(prefix)) group.drop(prefix.length).toIntOption
    else None
}
