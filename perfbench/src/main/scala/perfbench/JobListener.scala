package perfbench

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Work Spark did for one operation. */
final class OpWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var taskWaitMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Charges Spark jobs, stages and tasks to the operation that started them.
  *
  * A task names only its stage, and jobs overlap (a broadcast job runs
  * beside the job that waits on it; AQE submits each query stage as a job
  * of its own), so "the most recent job" is the wrong owner. The owner is
  * resolved exactly instead: stage → job from the job's own stage list at
  * job start, job → operation from the `perfbench.op` local property the
  * client set on the thread that submitted it (Spark carries local
  * properties to the threads that launch broadcast and subquery jobs). */
final class JobListener(trace: Trace) extends SparkListener {
  val work = TrieMap.empty[Long, OpWork]
  private val jobOp = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobSpan = TrieMap.empty[Int, (Long, Long)]   // id, start
  private val stageSpan = TrieMap.empty[Int, Long]
  private val stageSubmit = TrieMap.empty[Int, Long]
  @volatile private var open = 0
  @volatile var lastEventMs = System.currentTimeMillis()

  def opOfStage(stageId: Int): Option[Long] =
    stageJob.get(stageId).flatMap(jobOp.get)

  private def of(op: Long): OpWork = work.getOrElseUpdate(op, new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    open += 1
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobListener.OpProperty))).map(_.toLong).getOrElse(0L)
    jobOp(e.jobId) = op
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
    of(op).synchronized(of(op).jobs += 1)
    jobSpan(e.jobId) = (trace.reserve(), e.time * 1000L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    open -= 1
    val op = jobOp.getOrElse(e.jobId, 0L)
    jobSpan.remove(e.jobId).foreach { case (id, start) =>
      trace.put(id, -1L, op, "spark.job", start, e.time * 1000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val s = e.stageInfo
    stageSubmit(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
    stageSpan(s.stageId) = trace.reserve()
    opOfStage(s.stageId).foreach(op => of(op).synchronized(of(op).stages += 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val s = e.stageInfo
    val op = opOfStage(s.stageId).getOrElse(0L)
    val parent = stageJob.get(s.stageId).flatMap(jobSpan.get).map(_._1)
      .getOrElse(-1L)
    stageSpan.get(s.stageId).foreach { id =>
      trace.put(id, parent, op, "spark.stage",
        stageSubmit.getOrElse(s.stageId, 0L) * 1000L,
        s.completionTime.getOrElse(System.currentTimeMillis()) * 1000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    val op = opOfStage(e.stageId).getOrElse(0L)
    val w = of(op)
    val info = e.taskInfo
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (info != null) {
        if (info.finishTime > 0) w.taskBusyMs += info.finishTime - info.launchTime
        stageSubmit.get(e.stageId).foreach(t =>
          w.taskWaitMs += math.max(0L, info.launchTime - t))
      }
      if (m != null) {
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }
    if (info != null && info.finishTime > 0) trace.put(trace.reserve(),
      stageSpan.getOrElse(e.stageId, -1L), op, "spark.task",
      info.launchTime * 1000L, info.finishTime * 1000L)
  }

  /** Block until the listener bus has delivered every event of the jobs
    * started so far (all jobs ended and no event for a short while). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        (open > 0 || System.currentTimeMillis() - lastEventMs < 300L))
      Thread.sleep(20L)
  }
}

object JobListener {
  val OpProperty = "perfbench.op"
}
