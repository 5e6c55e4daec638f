package perfbench

import graft.engine.Graft
import graft.plans.AnnRouting
import graft.tables.Writer
import graft.vector.{Hnsw, Ivf, Knn, Quantize}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `ann`: top-10 vector search over a seeded clustered corpus. The IVF,
  * clustered-graph and int8-quantized families are each registered on
  * their own copy of the table, and one unregistered copy is the exact
  * fullscan. Every answer is checked against brute force computed here. */
final class Ann(h: Harness) {
  import h.spark
  import spark.implicits._
  val n = 4000
  val dim = 32
  val clusters = 16
  val labels = 10
  val nlist = 32
  val nprobe = 8
  val subgraphs = 8
  val batchRows = 64

  // the corpus, kept here for brute force
  private val rng = new scala.util.Random(h.seed)
  private val centers = Array.fill(clusters, dim)(rng.nextFloat() * 2 - 1)
  val vecs: Array[Array[Float]] = Array.tabulate(n) { i =>
    val c = centers(rng.nextInt(clusters))
    Array.tabulate(dim)(d => c(d) + (rng.nextGaussian() * 0.15).toFloat)
  }
  val label: Array[Int] = Array.fill(n)(rng.nextInt(labels))

  final case class Setup(ivfBase: String, ivfIdx: String, ivf: Ivf.Model,
                         graphBase: String, graphIdx: String,
                         quant: String, qm: Quantize.QModel, full: String)

  private def corpus: DataFrame =
    vecs.indices.map(i => (i.toLong, label(i), vecs(i).toSeq)).toDF("id", "label", "vec")

  def setup(): Setup = h.setup { d =>
    val df = corpus
    val bases = Seq("ivf_base", "graph_base", "full").map(b => s"$d/$b")
    h.call("tables.write", setup = true) {
      Writer.write(df, bases.head, sortBy = Seq("id"), files = 4)
    }
    // the other copies are byte copies of the written table
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(d).getFileSystem(hc)
    bases.tail.foreach(b => org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(bases.head), fs,
      new org.apache.hadoop.fs.Path(b), false, hc))
    val base = Graft.cachedRead(spark, bases.head)
    val ivf = h.call("vector.ivf_build", setup = true) {
      val m = Ivf.train(base, "vec", nlist)
      Ivf.buildIndex(base, "vec", m, s"$d/ivf_idx", files = 4)
      m
    }
    h.call("vector.graph_build", setup = true) {
      Hnsw.buildIndexClustered(base, "vec", "id", s"$d/graph_idx",
        Hnsw.Params(partitions = subgraphs))
    }
    val qm = h.call("vector.quant_build", setup = true) {
      val m = Quantize.train(base, "vec")
      Writer.write(Quantize.quantizeTable(base, "vec", "qvec", m), s"$d/quant",
        sortBy = Seq("id"), files = 4)
      m
    }
    h.call("plans.register", setup = true) {
      AnnRouting.register(spark, bases(0), s"$d/ivf_idx", ivf, "vec", nprobe)
      AnnRouting.registerGraph(spark, bases(1), s"$d/graph_idx", "vec", "id")
      AnnRouting.registerQuant(spark, s"$d/quant", s"$d/quant", qm, "vec", "id")
    }
    Setup(bases(0), s"$d/ivf_idx", ivf, bases(1), s"$d/graph_idx",
      s"$d/quant", qm, bases(2))
  }

  private def dist(m: Knn.Metric, a: Array[Float], q: Array[Float]): Double =
    m match {
      case Knn.Cosine =>
        var dot = 0.0; var na = 0.0; var nq = 0.0
        var i = 0
        while (i < dim) {
          dot += a(i) * q(i); na += a(i) * a(i); nq += q(i) * q(i); i += 1
        }
        1.0 - dot / math.sqrt(na * nq)
      case _ =>
        var s = 0.0
        var i = 0
        while (i < dim) { val t = a(i) - q(i); s += t * t; i += 1 }
        s
    }

  /** Recall@10 of `got` ids against brute force; a returned id whose exact
    * distance ties the 10th best counts as a hit. */
  def recall(got: Seq[Long], q: Array[Float], m: Knn.Metric,
             lbl: Option[Int]): Double = {
    val ds = vecs.indices.filter(i => lbl.forall(_ == label(i)))
      .map(i => dist(m, vecs(i), q)).sorted
    val k = math.min(10, ds.size)
    if (k == 0) return if (got.isEmpty) 1.0 else 0.0
    val cut = ds(k - 1) * (1 + 1e-5) + 1e-9
    val hits = got.distinct.count(id =>
      lbl.forall(_ == label(id.toInt)) && dist(m, vecs(id.toInt), q) <= cut)
    math.min(hits, k).toDouble / k
  }

  private def query(i: Int): Array[Float] = {
    val r = h.rnd(i)
    val v = vecs(r.nextInt(n))
    v.map(x => x + (r.nextGaussian() * 0.05).toFloat)
  }

  /** Search ops must reach this recall; a lower one is a wrong answer. */
  val recallFloor = 0.8

  private def checked(got: Seq[Long], q: Array[Float], m: Knn.Metric,
                      lbl: Option[Int]): () => Boolean = () => {
    val r = recall(got, q, m, lbl)
    h.timedSample("recall_at_10", r)
    r >= recallFloor && got.size == math.min(10,
      lbl.fold(n)(l => label.count(_ == l)))
  }

  /** A plain top-10 over `base`, routed by whatever is registered for it.
    * `marker` names what the routed plan shows; `None` marks a query no
    * registration may serve (a metric no index was built for). */
  private def routedSearch(kind: String, base: String, marker: Option[String],
                           m: Knn.Metric = Knn.L2, filtered: Boolean = false)
                          (i: Int): Unit = {
    val lbl = if (filtered) Some(h.rnd(i + 500000).nextInt(labels)) else None
    val q = query(i)
    h.op(kind) {
      val (df, rows) = h.collect {
        val t = Graft.cachedRead(spark, base)
        Knn.knn(lbl.fold(t)(l => t.filter(col("label") === l)), "vec", "id", q, 10, m)
      }
      h.timedSample("items", 1)
      val check = checked(rows.map(_.getLong(0)).toSeq, q, m, lbl)
      () => {
        if (h.trace.on && h.isTimed) marker.foreach(mk => h.sample("plans.ann_routed",
          if (df.queryExecution.executedPlan.toString.contains(mk)) 1.0 else 0.0))
        check()
      }
    }
  }

  private def direct(kind: String, layer: String)(i: Int)
                    (search: Array[Float] => DataFrame): Unit = {
    val q = query(i)
    h.op(kind) {
      val rows = h.call(layer)(h.collect(search(q))._2)
      h.timedSample("items", 1)
      checked(rows.map(_.getLong(0)).toSeq, q, Knn.L2, None)
    }
  }

  private def batchJoin(s: Setup)(i: Int): Unit = {
    val qs = (0 until batchRows).map(j => query(i * batchRows + j + 7919))
    val qdf = qs.zipWithIndex.map { case (v, j) => (j.toLong, v.toSeq) }
      .toDF("qid", "qvec")
    h.op("batch_join") {
      val rows = h.call("vector.batch_join")(h.collect(
        AnnRouting.knnJoin(spark, s.graphBase, "vec", "id", qdf, "qid", "qvec",
          "cid", 10))._2)
      h.timedSample("items", batchRows)
      () => {
        val byQ = rows.groupBy(_.getAs[Long]("qid"))
        byQ.size == batchRows && qs.indices.forall { j =>
          val got = byQ.getOrElse(j.toLong, Array.empty[Row]).map(_.getAs[Long]("cid")).toSeq
          recall(got, qs(j), Knn.L2, None) >= recallFloor
        }
      }
    }
  }

  def run(): Unit = {
    val s = setup()
    val ops = IndexedSeq[Int => Unit](
      routedSearch("auto_ivf", s.ivfBase, Some("ivf_idx")),
      routedSearch("auto_graph", s.graphBase, Some("GraphCandidates")),
      routedSearch("auto_quant", s.quant, Some("adist")),
      routedSearch("auto_graph_filtered", s.graphBase, Some("GraphCandidates"),
        filtered = true),
      routedSearch("auto_cosine", s.graphBase, None, Knn.Cosine),
      i => direct("direct_ivf", "vector.search.ivf")(i)(q =>
        Ivf.search(spark, s.ivfIdx, s.ivf, "id", "vec", q, 10, nprobe)),
      i => {
        val q = query(i)
        h.op("direct_graph") {
          val (rows, probed) = h.call("vector.search.graph") {
            val (df, p) = Hnsw.searchRouted(spark, s.graphIdx, "id", q, 10, 1 << 20)
            (df.collect(), p)
          }
          h.timedSample("vector.subgraphs_probed", probed.toDouble / subgraphs)
          h.timedSample("items", 1)
          checked(rows.map(_.getLong(0)).toSeq, q, Knn.L2, None)
        }
      },
      i => direct("direct_quant", "vector.search.quant")(i)(q =>
        Quantize.searchRescore(Graft.cachedRead(spark, s.quant), "vec", "qvec",
          "id", s.qm, q, 10)),
      i => direct("fullscan", "vector.fullscan")(i)(q =>
        Knn.knn(Graft.cachedRead(spark, s.full), "vec", "id", q, 10)),
      routedSearch("auto_quant_filtered", s.quant, Some("adist"), filtered = true),
      batchJoin(s))
    h.loop(ops, minRounds = 3)
    h.sample("items_per_s",
      h.samples.get("items").map(_.sum).getOrElse(0.0) / (h.latMs.sum / 1e3))
  }
}
