package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import java.nio.file.{Files, Paths}

/** Per-query measurement harness (optimization rounds, guide §1): isolates
  * one or more SparkEntry queries with the SAME session configuration and
  * noop-sink methodology as [[Bench]], prints per-run seconds plus a
  * per-job breakdown (job time, task count, task-time sum) of the final
  * timed run, the classes each run compiled (`CodegenMetrics`; a warm
  * run that compiles points at a thrashing codegen cache or a constant
  * inlined into generated code), and writes `.explain("formatted")` to
  * plans/<tag>/<q>.txt.
  *
  * Usage: runMain graft.Probe <explainDirTag> <query> [query ...]
  * (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench; runs = 3.)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r21")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: Probe <tag> <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Graft.session("graft-probe", s"local[$cpus]", cpus.toInt,
      Map("spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
            sys.env.getOrElse("GRAFT_PROBE_PF", "true"),
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
            sys.env.getOrElse("GRAFT_PROBE_ADVISORY", "67108864")))

    // job-level breakdown listener
    case class J(desc: String, start: Long, var end: Long = 0L,
                 var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, J]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) jobs(e.jobId) = J(
          Option(e.properties.getProperty("spark.job.description")).getOrElse(""),
          e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        jobs.values.toSeq.sortBy(-_.start).headOption.foreach { j =>
          if (record && e.taskInfo != null) {
            j.tasks += 1; j.taskMs += e.taskInfo.duration
          }
        }
      }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      def run(): Double = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        s
      }
      // explain dump
      val dir = Paths.get(s"plans/$tag")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"$name.txt"),
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) + "\n")
      val warm = run()
      val r1 = run(); val r2 = run()
      jobs.clear(); record = true
      val r3 = run()
      record = false
      println(f"QUERY $name%-28s warm=$warm%6.3f runs=[$r1%6.3f $r2%6.3f $r3%6.3f]" +
        s" compiles=${compiles.mkString("[", " ", "]")}")
      jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        val dur = (j.end - j.start) / 1000.0
        println(f"  job $id%4d ${dur}%7.3fs tasks=${j.tasks}%4d taskSum=${j.taskMs / 1000.0}%8.3fs  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
