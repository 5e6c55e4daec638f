package perfbench

import scala.collection.mutable.LinkedHashMap

/** Runs one workload in this JVM and prints one `PERFBENCH_RESULT {json}`
  * line; `perfbench/run.py` launches it, adds provenance and prints the
  * benchmark's result line.
  *
  * Arguments: --workload NAME --seed N --seconds N --trace 0|1 --dir DIR
  * --spawn-ms EPOCH_MS --cores N [--trace-out FILE]. `--workload prime`
  * only sets up and warms up every workload, printing nothing. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val trace = new Trace(a("trace") == "1")
    val spark = trace.span("engine.session") {
      graft.engine.Graft.session("perfbench", s"local[$cores]", cores)
    }
    // JVM launch plus session start, measured from the launcher's spawn
    val spawnMs = a("spawn-ms").toLong
    val sessionS = (System.currentTimeMillis() - spawnMs) / 1e3
    def run(w: String, h: Harness): Unit = w match {
      case "lookup" => new Lookup(h).run()
      case "ann" => new Ann(h).run()
      case "curate" => new Curate(h).run()
      case _ => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (workload == "prime") {
      // set-up and warm-up of every workload, to load every class the runs
      // load; the launcher archives them (class data sharing)
      Seq("lookup", "ann", "curate").foreach(w =>
        run(w, new Harness(spark, seed, 0, trace, s"${a("dir")}/$w")))
      spark.stop()
      return
    }
    val h = new Harness(spark, seed, a("seconds").toInt, trace, a("dir"))
    run(workload, h)
    val setupS = (h.setupEndMs - spawnMs) / 1e3
    val metrics =
      if (trace.on) Report.perLayer(h, sessionS)
      else Report.endToEnd(h, setupS)
    a.get("trace-out").filter(_ => trace.on)
      .foreach(f => trace.writeJson(java.nio.file.Paths.get(f)))
    val json = Report.json(metrics, h, sessionS, setupS, Map(
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.vm.version")))
    spark.stop()
    println("PERFBENCH_RESULT " + json)
  }
}

object Report {
  type Metrics = LinkedHashMap[String, (Double, String)]

  private def med(h: Harness, k: String): Double =
    h.samples.get(k).map(s => Stats.median(s.toSeq)).getOrElse(0.0)

  /** Geometric mean over operation kinds of each kind's `q` quantile of
    * latency. A workload mixes kinds whose latencies differ several-fold,
    * and a quantile of such a mix sits wherever the gap between two kinds
    * falls, so it jumps between runs; the per-kind quantiles do not. */
  def kindGeomean(h: Harness, q: Double): Double = {
    val qs = h.samples.collect { case (k, v) if k.startsWith("latency.") =>
      Stats.quantile(v.toSeq, q) }
    if (qs.isEmpty) 0.0 else math.exp(qs.map(math.log).sum / qs.size)
  }

  def endToEnd(h: Harness, setupS: Double): Metrics = {
    val m = new Metrics
    m("setup_s") = (setupS, "s")
    m("p50_geomean_ms") = (kindGeomean(h, 0.5), "ms")
    m("p90_geomean_ms") = (kindGeomean(h, 0.9), "ms")
    m("items_per_s") = (med(h, "items_per_s"), "1/s")
    m
  }

  /** Per-layer metric names, in the order BENCHMARK.json lists them. Every
    * workload prints all of them; a layer a workload does not touch reads
    * 0 there. */
  val perLayerNames: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s",
    "tables.write_s" -> "s",
    "filters.rows_read_per_row_out" -> "ratio",
    "filters.bytes_read_per_op" -> "bytes",
    "stats.files_pruned_ratio" -> "ratio",
    "index.build_s" -> "s",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "plans.register_ms" -> "ms",
    "plans.index_routed_ratio" -> "ratio",
    "plans.ann_routed_ratio" -> "ratio",
    "queries.construct_ms" -> "ms",
    "exec.execute_ms" -> "ms",
    "exec.action_self_ms" -> "ms",
    "exec.jobs_per_op" -> "count",
    "exec.stages_per_op" -> "count",
    "exec.tasks_per_op" -> "count",
    "exec.task_ms_per_op" -> "ms",
    "exec.task_wait_ms_per_op" -> "ms",
    "exec.shuffle_read_bytes_per_op" -> "bytes",
    "exec.shuffle_write_bytes_per_op" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.gc_ms" -> "ms",
    "vector.ivf_build_s" -> "s",
    "vector.graph_build_s" -> "s",
    "vector.quant_build_s" -> "s",
    "vector.search_ms.ivf" -> "ms",
    "vector.search_ms.graph" -> "ms",
    "vector.search_ms.quant" -> "ms",
    "vector.fullscan_ms" -> "ms",
    "vector.subgraphs_probed_ratio" -> "ratio",
    "vector.batch_join_ms" -> "ms",
    "vector.recall_at_10" -> "ratio",
    "pipeline.text_ms" -> "ms",
    "pipeline.exact_dedup_ms" -> "ms",
    "pipeline.minhash_ms" -> "ms",
    "pipeline.simhash_ms" -> "ms",
    "pipeline.clusters_ms" -> "ms",
    "pipeline.lm_ms" -> "ms",
    "pipeline.pack_ms" -> "ms",
    "pipeline.candidates_per_verified_pair" -> "ratio",
    "pipeline.dup_recall" -> "ratio",
    "embed.vectors_per_s" -> "1/s",
    "storage.cached_mb" -> "MB",
    "trace.p50_geomean_ms" -> "ms")

  def perLayer(h: Harness, sessionS: Double): Metrics = {
    val vals = LinkedHashMap.empty[String, Double]
    def ratio(num: String, den: String): Double = {
      val d = h.samples.get(den).map(_.sum).getOrElse(0.0)
      if (d == 0) 0.0 else h.samples.get(num).map(_.sum).getOrElse(0.0) / d
    }
    def mean(k: String): Double = h.samples.get(k)
      .filter(_.nonEmpty).map(s => s.sum / s.size).getOrElse(0.0)
    vals("engine.session_s") = sessionS
    vals("tables.write_s") = med(h, "tables.write") / 1e3
    vals("filters.rows_read_per_row_out") =
      ratio("filters.rows_read", "filters.rows_out")
    vals("stats.files_pruned_ratio") = mean("stats.files_pruned")
    vals("index.build_s") = med(h, "index.build") / 1e3
    Seq("analysis", "optimization", "planning").foreach(p =>
      vals(s"plans.${p}_ms") = med(h, s"plans.${p}_ms"))
    vals("plans.register_ms") = med(h, "plans.register")
    vals("plans.index_routed_ratio") = mean("plans.index_routed")
    vals("plans.ann_routed_ratio") = mean("plans.ann_routed")
    vals("queries.construct_ms") = med(h, "queries.construct")
    vals("exec.execute_ms") = med(h, "exec.execute")
    vals("vector.ivf_build_s") = med(h, "vector.ivf_build") / 1e3
    vals("vector.graph_build_s") = med(h, "vector.graph_build") / 1e3
    vals("vector.quant_build_s") = med(h, "vector.quant_build") / 1e3
    Seq("ivf", "graph", "quant").foreach(f =>
      vals(s"vector.search_ms.$f") = med(h, s"vector.search.$f"))
    vals("vector.fullscan_ms") = med(h, "vector.fullscan")
    vals("vector.subgraphs_probed_ratio") = mean("vector.subgraphs_probed")
    vals("vector.batch_join_ms") = med(h, "vector.batch_join")
    vals("vector.recall_at_10") = mean("recall_at_10")
    Seq("text", "exact_dedup", "minhash", "simhash", "clusters", "lm", "pack")
      .foreach(s => vals(s"pipeline.${s}_ms") = med(h, s"pipeline.$s"))
    vals("pipeline.candidates_per_verified_pair") =
      ratio("pipeline.candidates", "pipeline.verified")
    vals("pipeline.dup_recall") = mean("dup_recall")
    vals("embed.vectors_per_s") = med(h, "embed.vectors_per_s")
    vals("storage.cached_mb") = h.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    vals("trace.p50_geomean_ms") = kindGeomean(h, 0.5)

    // Spark-side work of the timed operations, from the listener
    val ops = h.timedOps.toSeq
    val n = math.max(1, ops.size).toDouble
    val work = h.listener.map(_.work).getOrElse(Map.empty[Long, OpWork])
    def perOp(f: OpWork => Double): Double =
      ops.flatMap(work.get).map(f).sum / n
    vals("exec.jobs_per_op") = perOp(_.jobs)
    vals("exec.stages_per_op") = perOp(_.stages)
    vals("exec.tasks_per_op") = perOp(_.tasks)
    vals("exec.task_ms_per_op") = perOp(_.taskBusyMs.toDouble)
    vals("exec.task_wait_ms_per_op") = perOp(_.taskWaitMs.toDouble)
    vals("exec.shuffle_read_bytes_per_op") = perOp(_.shuffleReadBytes.toDouble)
    vals("exec.shuffle_write_bytes_per_op") = perOp(_.shuffleWriteBytes.toDouble)
    vals("exec.spill_bytes") = ops.flatMap(work.get).map(_.spillBytes).sum.toDouble
    vals("exec.gc_ms") = ops.flatMap(work.get).map(_.gcMs).sum.toDouble
    vals("filters.bytes_read_per_op") = perOp(_.inputBytes.toDouble)

    // time of an action outside its jobs and planning
    val spans = h.trace.spans
    val timed = ops.toSet
    val self = h.trace.selfTimes(spans)
    val exec = spans.filter(s => s.name == "exec.execute" && timed(s.op))
    vals("exec.action_self_ms") = Stats.median(exec.map(s => self(s.id) / 1e3))

    val m = new Metrics
    perLayerNames.foreach { case (k, unit) => m(k) = (vals.getOrElse(k, 0.0), unit) }
    m
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def json(m: Metrics, h: Harness, sessionS: Double, setupS: Double,
           info: Map[String, String]): String = {
    val ms = m.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString(", ")
    val inf = info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")
    s"""{"correct": ${h.failed == 0}, "attempted": ${math.max(1L, h.attempted)}, """ +
      s""""failed": ${h.failed}, "metrics": {$ms}, "timed_ops": ${h.latMs.size}, """ +
      s""""failures": [${h.failures.map(str).mkString(", ")}], """ +
      s""""kind_p50_ms": {${h.samples.collect { case (k, v) if k.startsWith("latency.") =>
        s"${str(k.stripPrefix("latency."))}: ${num(Stats.median(v.toSeq))}" }.mkString(", ")}}, """ +
      s""""session_s": ${num(sessionS)}, "setup_s": ${num(setupS)}, """ +
      s""""info": {$inf}}"""
  }
}
