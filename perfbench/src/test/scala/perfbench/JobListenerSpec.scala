package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JobListenerSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int): StageInfo =
    new StageInfo(id, 0, s"stage$id", tasks, Seq.empty, Seq.empty, "", null,
      Seq.empty, None, 0, false, 0)

  private def props(op: Long): java.util.Properties = {
    val p = new java.util.Properties
    p.setProperty(JobListener.OpProperty, op.toString)
    p
  }

  private def taskEnd(stageId: Int, taskId: Long): SparkListenerTaskEnd =
    SparkListenerTaskEnd(stageId, 0, "ResultTask", org.apache.spark.Success,
      new TaskInfo(taskId, 0, 0, 0, 1000L, "executor0", "localhost",
        TaskLocality.PROCESS_LOCAL, false), null, null)

  test("overlapping jobs: each task goes to the operation that started its job") {
    // op 1 waits on a broadcast job (10); while it runs, op 2's AQE stage
    // job (11) starts, so job 11 is the most recently started job when the
    // broadcast job's tasks end
    val l = new JobListener(new Trace(on = false))
    l.onJobStart(SparkListenerJobStart(10, 1000L, Seq(stage(20, 3)), props(1)))
    l.onJobStart(SparkListenerJobStart(11, 1001L,
      Seq(stage(21, 2), stage(22, 1)), props(2)))
    Seq(20, 21).foreach(s => l.onStageSubmitted(SparkListenerStageSubmitted(stage(s, 1))))
    (1 to 3).foreach(t => l.onTaskEnd(taskEnd(20, t)))
    (4 to 5).foreach(t => l.onTaskEnd(taskEnd(21, t)))
    l.onJobEnd(SparkListenerJobEnd(10, 1005L, JobSucceeded))
    l.onStageSubmitted(SparkListenerStageSubmitted(stage(22, 1)))
    l.onTaskEnd(taskEnd(22, 6))
    l.onJobEnd(SparkListenerJobEnd(11, 1006L, JobSucceeded))

    assert(l.work(1L).jobs == 1 && l.work(1L).stages == 1 && l.work(1L).tasks == 3)
    assert(l.work(2L).jobs == 1 && l.work(2L).stages == 2 && l.work(2L).tasks == 3)
    assert(!l.work.contains(0L))
  }

  test("a broadcast join under AQE: every job and task of the query is charged to it") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val l = new JobListener(new Trace(on = false))
      // reference count of tasks per job, straight from the events
      val tasksOfJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
      val jobOfStage = scala.collection.concurrent.TrieMap.empty[Int, Int]
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      sc.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          e.stageInfos.foreach(s => jobOfStage.putIfAbsent(s.stageId, e.jobId))
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOfStage.get(e.stageId)
          .foreach(j => tasksOfJob.synchronized(tasksOfJob(j) = tasksOfJob.getOrElse(j, 0) + 1))
      })
      val big = spark.range(0, 200000, 1, 4).select((col("id") % 1000).as("k"), col("id"))
      val small = spark.range(0, 1000, 1, 2).select(col("id").as("k"), (col("id") * 2).as("v"))
      sc.setLocalProperty(JobListener.OpProperty, "7")
      val rows = big.join(broadcast(small), "k").groupBy("v").count().collect()
      sc.setLocalProperty(JobListener.OpProperty, null)
      sc.setLocalProperty(JobListener.OpProperty, "8")
      spark.range(0, 1000, 1, 3).groupBy((col("id") % 7).as("m")).count().collect()
      sc.setLocalProperty(JobListener.OpProperty, null)
      l.drain()
      assert(rows.length == 1000)
      val w7 = l.work(7L)
      assert(w7.jobs >= 2, "broadcast and stage jobs both belong to the query")
      assert(w7.tasks + l.work(8L).tasks == tasksOfJob.values.sum)
      assert(!l.work.contains(0L), "no job ran without an operation")
    } finally spark.stop()
  }
}
