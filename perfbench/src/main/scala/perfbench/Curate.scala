package perfbench

import graft.embed.Embeddings
import graft.engine.Graft
import graft.pipeline.{Dedup, NgramLM, Pack, TextFunctions}
import graft.tables.Writer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded synthetic documents: Zipf-distributed words from three
  * vocabularies ("languages", each led by a few real function words so
  * language id has markers to find), with planted near-duplicates (a copy
  * with ~5% of its tokens replaced) and exact duplicates. */
final class DocGen(seed: Long, n: Int) {
  private val rng = new scala.util.Random(seed)
  private val markers = Seq(Seq("the", "of", "and", "to", "in"),
    Seq("der", "die", "und", "das", "ist"), Seq("le", "la", "et", "les", "des"))
  private val syll = Seq(Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo"),
    Seq("sch", "ber", "ung", "ei", "ach", "ter", "gen"),
    Seq("eau", "oi", "que", "ment", "ion", "pre", "lu"))
  val vocab: Seq[IndexedSeq[String]] = (0 until 3).map { l =>
    markers(l).toIndexedSeq ++ (0 until 3000).map { _ =>
      (1 to 2 + rng.nextInt(3)).map(_ => syll(l)(rng.nextInt(syll(l).size))).mkString
    }
  }
  // Zipf(1.0) rank sampler over the vocabulary
  private val cdf = {
    val w = (1 to vocab.head.size).map(r => 1.0 / r)
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail.toArray
  }
  private def word(l: Int): String = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(l)(math.min(vocab(l).size - 1, if (i >= 0) i else -i - 1))
  }

  val docs = new Array[String](n)
  /** (original, near-duplicate) id pairs planted. */
  val nearPairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  (0 until n).foreach { i =>
    val u = rng.nextDouble()
    if (i > 10 && u < 0.15) {
      val src = rng.nextInt(i)
      val toks = docs(src).split(' ')
      val l = rng.nextInt(3)
      docs(i) = toks.map(t => if (rng.nextDouble() < 0.05) word(l) else t).mkString(" ")
      if (docs(i) != docs(src)) nearPairs += ((src.toLong, i.toLong))
    } else if (i > 10 && u < 0.20) docs(i) = docs(rng.nextInt(i))
    else {
      val l = rng.nextInt(3)
      docs(i) = Seq.fill(40 + rng.nextInt(120))(word(l)).mkString(" ")
    }
  }
}

/** `curate`: the LLM-data curation chain over one seeded corpus, as a batch
  * repeated for samples (at least two timed batches of the same size). One
  * batch is one operation; each public call of the chain is a span of its
  * layer.
  * Checks: exact-dedup survivors match the distinct-text count computed
  * here, the MinHash arm finds the planted near-duplicate pairs, and every
  * step's output row count is identical across batches of the same size. */
final class Curate(h: Harness) {
  import h.spark
  import spark.implicits._
  val n = 1200
  val gen = new DocGen(h.seed, n)
  /** The warm-up batch runs the same chain over the first `warmDocs`. */
  val warmDocs = 250
  private def distinctTexts(docs: Int) = gen.docs.take(docs).distinct.length.toLong
  private def planted(docs: Int) = gen.nearPairs.collect {
    case (a, b) if a < docs && b < docs => (math.min(a, b), math.max(a, b)) }.toSet
  private val rowCounts = scala.collection.mutable.HashMap.empty[(Int, String), Long]

  def setup(): String = h.setup { d =>
    val path = s"$d/docs"
    h.call("tables.write", setup = true) {
      Writer.write(gen.docs.indices.map(i => (i.toLong, gen.docs(i))).toDF("id", "text"),
        path, sortBy = Seq("id"), files = 4)
    }
    path
  }

  private var size = n
  private val checks = scala.collection.mutable.ArrayBuffer.empty[() => Boolean]

  /** One chain step, timed as a span of its layer. Its output row count
    * must repeat in every batch; `extra` checks the rows further. */
  private def step(kind: String, layer: String)(body: => DataFrame)
                  (extra: Array[org.apache.spark.sql.Row] => Boolean = _ => true): Unit = {
    val rows = h.call(layer)(h.collect(body)._2)
    checks += (() => rowCounts.getOrElseUpdate((size, kind),
      rows.length.toLong) == rows.length && extra(rows))
  }

  /** One pass of the chain over the first `docsN` documents: one
    * operation, since a caller of the chain waits for the whole batch. */
  private def batch(path: String, docsN: Int): Unit = h.op("batch") {
    size = docsN
    checks.clear()
    val t0 = System.nanoTime()
    val all = Graft.cachedRead(spark, path)
    val docs = if (size == n) all else all.filter(col("id") < size)
    val (distinct, pairs) = (distinctTexts(size), planted(size))
    step("text", "pipeline.text")(docs.select(col("id"),
      TextFunctions.qualityMicros(col("text")).as("q"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.repetitionMicros(col("text"), 3).as("rep"))
      .filter(col("q") > 0))()
    step("exact_dedup", "pipeline.exact_dedup")(
      Dedup.exactKeepers(docs, "text", "id"))(_.length == distinct)
    val withSh = docs.withColumn("sh", TextFunctions.shingles(col("text"), 3))
    var verified: DataFrame = null
    step("minhash", "pipeline.minhash") {
      val cands = Dedup.minhashCandidates(withSh, "id", "sh")
      if (h.isTimed && h.trace.on) h.sample("pipeline.candidates", cands.count().toDouble)
      verified = Dedup.jaccardVerify(cands, withSh, "id", "sh", 0.5)
      verified
    } { rows =>
      val found = rows.map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
      val rec = if (pairs.isEmpty) 1.0 else pairs.count(found).toDouble / pairs.size
      h.timedSample("pipeline.verified", rows.length.toDouble)
      h.timedSample("dup_recall", rec)
      rec >= 0.9
    }
    step("clusters", "pipeline.clusters")(Dedup.clusters(verified))()
    step("simhash", "pipeline.simhash")(Dedup.simhashPairs(docs, "id", "text"))()
    var emb: DataFrame = null
    step("embed_pairs", "embed.embed_pairs") {
      val t = System.nanoTime()
      emb = Embeddings.embedStage(docs, "text", "emb",
        () => Embeddings.HashingProvider(64)).persist()
      val rows = emb.count()
      h.timedSample("embed.vectors_per_s", rows / ((System.nanoTime() - t) / 1e9))
      Dedup.cosinePairs(emb, "id", "emb", 64, 0.95)
    }()
    step("lm", "pipeline.lm") {
      val model = NgramLM.train(docs, "text")
      NgramLM.pplBuckets(NgramLM.scoreDocs(docs, "id", "text", model), "id")
    }()
    step("pack", "pipeline.pack")(Pack.sequenceOffsets(
      docs.select(col("id"), pmod(col("id"), lit(8L)).as("shard"),
        TextFunctions.tokenCount(col("text")).as("n_tokens")),
      "n_tokens", "shard", "id", budget = 2048))()
    // only the benchmark's own persist is freed; what the engine keeps
    // shows in storage.cached_mb
    emb.unpersist(blocking = true)
    h.timedSample("items_per_s", size / ((System.nanoTime() - t0) / 1e9))
    val stepChecks = checks.toList
    () => stepChecks.forall(_())
  }

  def run(): Unit = {
    val path = setup()
    // warm-up is one batch over the first `warmDocs` documents; two timed
    // batches at least, so the row-count check has a batch to compare with
    h.loop(IndexedSeq(i => batch(path, if (i < 0) warmDocs else n)), minRounds = 2)
  }
}
