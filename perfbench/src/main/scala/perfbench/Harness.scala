package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Scan-level work of one executed plan, read from its SQLMetrics. */
final case class ScanWork(rowsRead: Long, filesRead: Long, planText: String)

object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  def work(df: DataFrame): ScanWork = {
    val plan = df.queryExecution.executedPlan
    val ss = scans(plan)
    def m(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    ScanWork(ss.map(m(_, "numOutputRows")).sum, ss.map(m(_, "numFiles")).sum,
      ss.map(_.relation.location.rootPaths.mkString(",")).mkString(";"))
  }
}

/** The closed-loop client: one thread issues an operation, waits for its
  * result, checks it, then issues the next. Latency is the client-visible
  * time of the calls under test; checks run outside it. */
final class Harness(val spark: SparkSession, val seed: Long,
                    val seconds: Int, val trace: Trace, val dir: String) {
  val listener: Option[JobListener] =
    if (trace.on) {
      val l = new JobListener(trace)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  private var opSeq = 0L
  private var timing = false
  val latMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Client-side samples per metric name (medians are reported). */
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Operation ids of the timed phase. */
  val timedOps = ArrayBuffer.empty[Long]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** Record a sample only for timed operations (warm-up is discarded). */
  def timedSample(name: String, v: Double): Unit = if (timing) sample(name, v)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** One operation under test. `body` runs the calls under test and
    * returns a check to run afterwards, untimed; the check answers whether
    * the result was right. A thrown exception counts as a failure. */
  def op(kind: String)(body: => (() => Boolean)): Unit = {
    opSeq += 1
    val id = opSeq
    val sc = spark.sparkContext
    sc.setLocalProperty(JobListener.OpProperty, id.toString)
    val t0 = System.nanoTime()
    val check = try trace.op(id, s"op.$kind")(body) catch {
      case e: Exception =>
        val t = e.toString
        () => { System.err.println(s"op $kind failed: $t"); false }
    } finally sc.setLocalProperty(JobListener.OpProperty, null)
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = try check() catch {
      case e: Exception => System.err.println(s"check $kind: $e"); false
    }
    if (timing) {
      attempted += 1
      latMs += ms
      sample(s"latency.$kind", ms)
      timedOps += id
      if (!ok) fail(s"$kind#$id")
    } else if (!ok) {
      // a wrong answer in warm-up is still a wrong answer
      attempted += 1
      fail(s"$kind#$id(warm-up)")
    }
  }

  /** Construct a DataFrame through the layer under test, then collect it;
    * phase times and scan metrics of that execution are recorded. */
  def collect(construct: => DataFrame): (DataFrame, Array[Row]) = {
    val df = call("queries.construct")(construct)
    val rows = call("exec.execute")(df.collect())
    if (trace.on) recordPlan(df)
    (df, rows)
  }

  def recordPlan(df: DataFrame): Unit = {
    val qe = df.queryExecution
    qe.tracker.phases.foreach { case (phase, s) =>
      trace.put(trace.reserve(), -1L, trace.currentOp, s"plans.$phase",
        s.startTimeMs * 1000L, s.endTimeMs * 1000L)
      timedSample(s"plans.${phase}_ms", s.durationMs.toDouble)
    }
  }

  /** Run the workload's set-up once; its artifacts live under `dir/data`.
    * One set-up per run: its first Spark jobs pay the JVM's cold start,
    * which is what a user of a fresh process pays. */
  def setup[T](once: String => T): T = {
    val r = trace.span("setup")(once(s"$dir/data"))
    setupEndMs = System.currentTimeMillis()
    r
  }

  /** When the set-up finished (epoch ms); input generation done before it
    * counts as set-up too. */
  var setupEndMs = 0L

  /** Warm up each operation type once, untimed, then run whole rounds of
    * the mix (one operation of each type, in a fixed order): at least
    * `minRounds`, and more while `seconds` of wall time have not passed
    * (`seconds = 0` stops after the warm-up).
    * Whole rounds keep the mix the same from run to run; the floor keeps
    * the round count the same too, since later rounds run warmer and a
    * run that stopped one round short would read slower. Operation `i`
    * draws its parameters from `rnd(i)`, so a seed fixes the stream. */
  def loop(ops: IndexedSeq[Int => Unit], minRounds: Int): Unit = {
    ops.indices.foreach(i => ops(i)(-1 - i))
    timing = true
    val t0 = System.nanoTime()
    var i = 0
    while (seconds > 0 &&
        (i < minRounds * ops.size || (System.nanoTime() - t0) / 1e9 < seconds))
      ops.foreach { op => op(i); i += 1 }
    timing = false
    listener.foreach(_.drain())
  }

  /** Time one call into a layer: a span named `name` plus a millisecond
    * sample under the same name (set-up calls are always sampled, calls
    * inside operations only in the timed phase). */
  def call[T](name: String, setup: Boolean = false)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span(name)(body)
    if (setup || timing) sample(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def isTimed: Boolean = timing

  def rnd(i: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + i)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
