package graft.vector

import graft.SparkT
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** int8 quantization: bounded reconstruction error, exact-match rescoring
  * on the real fixture, degenerate-dimension safety. */
class QuantizeSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Graft.table(SparkT.spark, sfDir, "embeddings")

  test("reconstruction error is bounded by half a quantization step per dim") {
    val m = Quantize.train(emb, "embedding")
    val v = emb.select("embedding").as[Seq[Float]].head().toArray
    val codes = m.quantize(v)
    v.indices.foreach { i =>
      val err = math.abs(m.dequantize(codes(i), i) - v(i))
      assert(err <= m.scale(i) * 0.5 + 1e-6, s"dim $i err $err")
    }
  }

  test("coarse+rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.train(emb, "embedding")
    val qdf = Quantize.quantizeTable(emb, "embedding", "qvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val quant = Quantize.searchRescore(qdf, "embedding", "qvec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(quant === exact)
  }

  test("binarize packs the sign bits exactly; hamming matches brute force") {
    val m = Quantize.BModel(Array.fill(70)(0.0f)) // dim > 64 → 2 words
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = Array.fill(70)((rnd.nextFloat() - 0.5f) * 4)
      val b = Array.fill(70)((rnd.nextFloat() - 0.5f) * 4)
      val ca = m.binarize(a)
      val cb = m.binarize(b)
      assert(ca.length === 2)
      a.indices.foreach { i =>
        val bit = (ca(i >> 6) >>> (i & 63)) & 1L
        assert(bit === (if (a(i) > 0.0f) 1L else 0L), s"dim $i")
      }
      val want = a.indices.count(i => (a(i) > 0.0f) != (b(i) > 0.0f))
      assert(m.hamming(ca, cb) === want)
    }
  }

  test("hamming screen + rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.trainBinary(emb, "embedding")
    val bdf = Quantize.quantizeTable(emb, "embedding", "bvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val bin = Quantize.searchRescore(bdf, "embedding", "bvec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(bin === exact)
  }

  test("residual-corrected screen is exact with fewer rescored candidates than raw Hamming") {
    val m = Quantize.trainBinary(emb, "embedding")
    val bdf = Quantize.quantizeTable(emb, "embedding", "bvec",
      Quantize.BResidual(m))
      .cache()
    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val refines = Seq(1, 2, 4, 8, 16, 32, 64)
    var hammingTotal = 0
    var residualTotal = 0
    queries.foreach { case (_, qv) =>
      val q = qv.toArray
      val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSeq
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSeq
      def minOk(run: Int => Seq[Long]) =
        refines.find(r => run(r) == exact).getOrElse(2 * refines.last)
      hammingTotal += minOk(r => ids(Quantize.searchRescore(
        bdf, "embedding", "bvec", "vec_id", m, q, 10, refine = r)))
      residualTotal += minOk(r => ids(Quantize.searchRescore(
        bdf, "embedding", "bvec", "vec_id", Quantize.BResidual(m), q, 10,
        refine = r)))
    }
    // equal exactness, strictly smaller total candidate multiple
    assert(residualTotal < hammingTotal,
      s"residual needed $residualTotal vs hamming $hammingTotal")
    bdf.unpersist()
    // the stored factors are exactly ‖r‖ and the least-squares scale Σ|rᵢ|/d
    val v = emb.select("embedding").as[Seq[Float]].head().toArray
    val rs = v.indices.map(i => v(i).toDouble - m.thresholds(i))
    val (gotNorm, gotScale) = m.residualFactors(v)
    assert(math.abs(gotNorm - math.sqrt(rs.map(c => c * c).sum)) < 1e-4)
    assert(math.abs(gotScale - rs.map(math.abs).sum / v.length) < 1e-6)
  }

  test("4-bit packing roundtrips within half a step per dim (odd dim too)") {
    val rnd = new scala.util.Random(11)
    // odd dimension exercises the dangling low nibble of the last byte
    val dim = 33
    val vecs = Seq.fill(40)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 8))
    val mins = Array.tabulate(dim)(i => vecs.map(_(i)).min)
    val maxs = Array.tabulate(dim)(i => vecs.map(_(i)).max)
    val m = Quantize.Q4Model(mins, maxs)
    assert(m.bytes === 17)
    vecs.foreach { v =>
      val codes = m.quantize(v)
      assert(codes.length === 17)
      v.indices.foreach { i =>
        val err = math.abs(m.dequantize(codes, i) - v(i))
        assert(err <= m.scale(i) * 0.5 + 1e-5, s"dim $i err $err")
      }
    }
  }

  test("4-bit coarse+rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.train4(emb, "embedding")
    val qdf = Quantize.quantizeTable(emb, "embedding", "q4vec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val q4 = Quantize.searchRescore(qdf, "embedding", "q4vec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(q4 === exact)
  }

  test("appendSegment encodes with the existing model; compact retrains to the full corpus (I9 r11)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-quantseg")
    val path = tmp.resolve("qt").toString
    val build = emb.filter($"vec_id" % 10 =!= 7)
    val later = emb.filter($"vec_id" % 10 === 7)
    val m = Quantize.train(build, "embedding")
    graft.tables.Writer.write(
      Quantize.quantizeTable(build, "embedding", "qvec", m), path,
      sortBy = Seq("vec_id"))
    Quantize.appendSegment(later, "embedding", "qvec", path, m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]]
      .head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    // mid-segment: the coarse screen reads every file; refine=16 absorbs
    // the clamp error of appended vectors outside the trained min/max
    val mid = Quantize.searchRescore(SparkT.spark.read.parquet(path),
        "embedding", "qvec", "vec_id", m, q, 10, refine = 16)
      .select("vec_id").as[Long].collect().toSeq
    assert(mid === exact)
    // the appended files hold exactly the fresh-encode codes (same model)
    val freshCodes = Quantize.quantizeTable(later, "embedding", "qvec", m)
      .select("vec_id", "qvec").as[(Long, Array[Byte])].collect().toMap
    val storedCodes = SparkT.spark.read.parquet(path)
      .filter($"vec_id" % 10 === 7)
      .select("vec_id", "qvec").as[(Long, Array[Byte])].collect().toMap
    assert(storedCodes.keySet === freshCodes.keySet)
    assert(storedCodes.forall { case (k, v) =>
      java.util.Arrays.equals(v, freshCodes(k)) })
    // OPTIMIZE with retrain: the model refits the FULL corpus (min/max now
    // cover the appended rows — the per-dim error bound is restored)
    val m2 = Quantize.compact(SparkT.spark, path, "embedding", "qvec",
      "vec_id", m, retrain = true)
    val full = Quantize.train(emb, "embedding")
    assert(m2.mins.toSeq === full.mins.toSeq)
    assert(m2.maxs.toSeq === full.maxs.toSeq)
    val post = Quantize.searchRescore(SparkT.spark.read.parquet(path),
        "embedding", "qvec", "vec_id", m2, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(post === exact)
  }

  test("every codec: append with the frozen codec stays exact; compact(retrain) re-fits and checks clean (I9)") {
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]]
      .head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val build = emb.filter($"vec_id" % 10 =!= 7)
    val later = emb.filter($"vec_id" % 10 === 7)
    // a codec's trained parameters: a re-fit must equal a fresh train on
    // the full corpus
    def params(c: Quantize.Codec): Seq[Float] = c match {
      case m: Quantize.QModel => m.mins.toSeq ++ m.maxs
      case m: Quantize.Q4Model => m.mins.toSeq ++ m.maxs
      case m: Quantize.PqModel => m.codebooks.flatten.flatten.toSeq
      case m: Quantize.BModel => m.thresholds.toSeq
      case r: Quantize.BResidual => params(r.model)
    }
    // (label, code column, trainer, refine while appended codes may clamp,
    // refine after the retraining compact; 0 = the codec's default)
    val codecs: Seq[(String, String, DataFrame => Quantize.Codec, Int, Int)] =
      Seq(
        ("int8", "qvec", Quantize.train(_, "embedding"), 16, 0),
        ("4-bit", "q4vec", Quantize.train4(_, "embedding"), 24, 0),
        ("pq", "pqvec", Quantize.trainPq(_, "embedding", "vec_id"), 32, 0),
        ("binary", "bvec", Quantize.trainBinary(_, "embedding"), 32, 32),
        ("binary residual", "bvec",
          df => Quantize.BResidual(Quantize.trainBinary(df, "embedding")),
          32, 32))
    codecs.foreach { case (label, codeCol, train, midRefine, postRefine) =>
      val path = java.nio.file.Files.createTempDirectory("graft-codecseg")
        .resolve("t").toString
      val c = train(build)
      graft.tables.Writer.write(
        Quantize.quantizeTable(build, "embedding", codeCol, c), path,
        sortBy = Seq("vec_id"))
      Quantize.appendSegment(later, "embedding", codeCol, path, c)
      def search(c: Quantize.Codec, refine: Int): Seq[Long] =
        Quantize.searchRescore(SparkT.spark.read.parquet(path), "embedding",
            codeCol, "vec_id", c, q, 10, refine = refine)
          .select("vec_id").as[Long].collect().toSeq
      assert(search(c, midRefine) === exact, s"$label appended")
      val c2 = Quantize.compact(SparkT.spark, path, "embedding", codeCol,
        "vec_id", c, retrain = true)
      assert(params(c2) === params(train(emb)), s"$label re-fit")
      assert(search(c2, postRefine) === exact, s"$label compacted")
      val report = VectorIndexCheck.checkQuant(SparkT.spark, path,
        "embedding", codeCol, "vec_id", c2, fact = Some((emb, "vec_id")))
      assert(report.ok, s"$label: ${report.issues.mkString("; ")}")
    }
  }

  test("zero-range dimensions quantize without dividing by zero") {
    val df = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(1.0f, 7.0f))).toDF("id", "v")
    val m = Quantize.train(df, "v")
    assert(m.scale(0) === 1.0f) // degenerate dim pinned
    val codes = m.quantize(Array(1.0f, 6.0f))
    assert(m.dequantize(codes(0), 0) === 1.0f)
  }

  test("PQ: adc equals the reconstruction distance; codes are m bytes") {
    val m = Quantize.trainPq(emb, "embedding", "vec_id", m = 8, k = 16)
    assert(m.dim === 64 && m.subDim === 8)
    val rows = emb.orderBy($"vec_id").limit(5)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    val q = rows(0)
    val table = m.adcTable(q)
    rows.foreach { v =>
      val codes = m.encode(v)
      assert(codes.length === 8)
      // reconstruction: concatenate the assigned centroids
      val rec = Array.tabulate(m.dim)(i =>
        m.codebooks(i / m.subDim)(codes(i / m.subDim) & 0xff)(i % m.subDim))
      val want = math.sqrt(q.indices.map(i =>
        (q(i) - rec(i)).toDouble * (q(i) - rec(i))).sum)
      assert(math.abs(m.adc(codes, table) - want) < 1e-6)
    }
  }

  test("PQ: training is invariant to input partitioning") {
    val a = Quantize.trainPq(emb, "embedding", "vec_id")
    val b = Quantize.trainPq(emb.repartition(7), "embedding", "vec_id")
    assert(a.codebooks.flatten.flatten.toSeq === b.codebooks.flatten.flatten.toSeq)
  }

  test("PQ: ADC screen + rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.trainPq(emb, "embedding", "vec_id")
    val qdf = Quantize.quantizeTable(emb, "embedding", "pqvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val pq = Quantize.searchRescore(qdf, "embedding", "pqvec", "vec_id",
        m, q, 10, refine = 32)
      .select("vec_id").as[Long].collect().toSeq
    assert(pq === exact)
  }

  test("PQ: appended segment encodes with the frozen codebooks and is searchable") {
    val dir = java.nio.file.Files.createTempDirectory("pqseg").toString + "/t"
    val build = emb.where($"vec_id" % 10 =!= 9L)
    val append = emb.where($"vec_id" % 10 === 9L)
    val m = Quantize.trainPq(build, "embedding", "vec_id")
    Quantize.quantizeTable(build, "embedding", "pqvec", m)
      .write.parquet(dir)
    Quantize.appendSegment(append, "embedding", "pqvec", dir, m)
    val q = emb.where($"vec_id" === 9L).select("embedding").as[Seq[Float]]
      .head().toArray
    val got = Quantize.searchRescore(SparkT.spark.read.parquet(dir),
        "embedding", "pqvec", "vec_id", m, q, 10, refine = 32)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
    assert(got.head === 9L) // the appended vector itself is the 0-distance hit
  }

  test("screened batch joins: all four flat families equal the exact knn join at generous refine (r15)") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    def run(got: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val s = got.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(s === exact, label)
    }
    val m8 = Quantize.train(corpus, "embedding")
    val q8 = Quantize.quantizeTable(corpus, "embedding", "qvec", m8)
    run(Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 32),
      "int8")
    // partition invariance of the kernel: heaps cut per partition, the
    // global cut and id tiebreaks make the result layout-independent
    run(Quantize.knnJoin(q8.repartition(7), "embedding", "qvec",
      "vec_id", m8, queriesDf, "query_id", "embedding", "corpus_id", 5,
      refine = 32), "int8 repartitioned")
    val m4 = Quantize.train4(corpus, "embedding")
    val q4 = Quantize.quantizeTable(corpus, "embedding", "q4vec", m4)
    run(Quantize.knnJoin(q4, "embedding", "q4vec", "vec_id", m4,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 48),
      "4-bit")
    val mb = Quantize.trainBinary(corpus, "embedding")
    val bdf = Quantize.quantizeTable(corpus, "embedding", "bvec", mb)
    run(Quantize.knnJoin(bdf, "embedding", "bvec", "vec_id", mb,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 96),
      "binary hamming")
    val rdf = Quantize.quantizeTable(corpus, "embedding", "bvec",
      Quantize.BResidual(mb, "rfac"))
    run(Quantize.knnJoin(rdf, "embedding", "bvec", "vec_id",
      Quantize.BResidual(mb, "rfac"), queriesDf, "query_id", "embedding",
      "corpus_id", 5, refine = 32), "binary residual")
    val mpq = Quantize.trainPq(corpus, "embedding", "vec_id")
    val qpq = Quantize.quantizeTable(corpus, "embedding", "pqvec", mpq)
    // PQ's ADC ranking is the coarsest of the four — at refine=32 a few
    // true top-5 members fall outside the 160-candidate coarse set on
    // this fixture, so its exactness threshold sits higher
    run(Quantize.knnJoin(qpq, "embedding", "pqvec", "vec_id", mpq,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 64),
      "pq")
  }

  // ─────── cosine serving for the flat families (r18, VERDICT r17 #2) ───────

  test("cosine: every flat family's screen+rescore equals the exact cosine top-k") {
    val q = emb.where($"vec_id" === 3).select("embedding")
      .as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10, Knn.Cosine)
      .select("vec_id").as[Long].collect().toSeq
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // int8: normalized-companion codes, exact cosine rescore on raw floats
    val m8 = Quantize.train(emb, "embedding", Knn.Cosine)
    val q8 = Quantize.quantizeTable(emb, "embedding", "qvec", m8)
    assert(ids(Quantize.searchRescore(q8, "embedding", "qvec", "vec_id",
      m8, q, 10)) === exact, "int8")
    // 4-bit
    val m4 = Quantize.train4(emb, "embedding", Knn.Cosine)
    val q4 = Quantize.quantizeTable(emb, "embedding", "q4vec", m4)
    assert(ids(Quantize.searchRescore(q4, "embedding", "q4vec", "vec_id",
      m4, q, 10, refine = 24)) === exact, "4-bit")
    // binary (plain Hamming screen over normalized-space sign bits)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.Cosine)
    val bdf = Quantize.quantizeTable(emb, "embedding", "bvec", mb)
    assert(ids(Quantize.searchRescore(bdf, "embedding", "bvec",
      "vec_id", mb, q, 10, refine = 24)) === exact, "binary")
    // binary residual-corrected: the L2² estimator lives in the
    // normalized space, where its order IS the cosine order
    val rdf = Quantize.quantizeTable(emb, "embedding", "bvec",
      Quantize.BResidual(mb, "rfac"))
    assert(ids(Quantize.searchRescore(rdf, "embedding", "bvec", "vec_id",
      Quantize.BResidual(mb, "rfac"), q, 10, refine = 16)) === exact,
      "binary residual")
    // flat PQ
    val mpq = Quantize.trainPq(emb, "embedding", "vec_id",
      metric = Knn.Cosine)
    val qpq = Quantize.quantizeTable(emb, "embedding", "pqvec", mpq)
    assert(ids(Quantize.searchRescore(qpq, "embedding", "pqvec",
      "vec_id", mpq, q, 10, refine = 24)) === exact, "pq")
  }

  test("cosine: screened batch joins equal the exact cosine knn join") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5,
        Knn.Cosine)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    def run(got: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val s = got.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(s === exact, label)
    }
    val m8 = Quantize.train(corpus, "embedding", Knn.Cosine)
    val q8 = Quantize.quantizeTable(corpus, "embedding", "qvec", m8)
    run(Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 48),
      "int8 cosine")
    val mb = Quantize.trainBinary(corpus, "embedding", Knn.Cosine)
    val rdf = Quantize.quantizeTable(corpus, "embedding", "bvec",
      Quantize.BResidual(mb, "rfac"))
    run(Quantize.knnJoin(rdf, "embedding", "bvec", "vec_id",
      Quantize.BResidual(mb, "rfac"), queriesDf, "query_id", "embedding",
      "corpus_id", 5, refine = 48), "binary residual cosine")
  }

  // ───── inner-product serving via the MIPS→L2 augmentation (r18) ─────

  test("inner-product: every flat family screens through the augmented space and matches the exact IP top-k") {
    val q = emb.where($"vec_id" === 5).select("embedding")
      .as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10, Knn.IP)
      .select("vec_id").as[Long].collect().toSeq
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // int8: stats/codes live in the (dim+1)-wide augmented space
    val m8 = Quantize.train(emb, "embedding", Knn.IP)
    assert(m8.dim === 65 && m8.ipMaxNorm > 0.0f)
    val q8 = Quantize.quantizeTable(emb, "embedding", "qvec", m8)
    assert(ids(Quantize.searchRescore(q8, "embedding", "qvec", "vec_id",
      m8, q, 10, refine = 16)) === exact, "int8")
    // 4-bit
    val m4 = Quantize.train4(emb, "embedding", Knn.IP)
    val q4 = Quantize.quantizeTable(emb, "embedding", "q4vec", m4)
    assert(ids(Quantize.searchRescore(q4, "embedding", "q4vec", "vec_id",
      m4, q, 10, refine = 24)) === exact, "4-bit")
    // binary plain + residual-corrected (the L2² estimate in the
    // augmented space is monotone in the inner product per query)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.IP)
    val bdf = Quantize.quantizeTable(emb, "embedding", "bvec", mb)
    assert(ids(Quantize.searchRescore(bdf, "embedding", "bvec",
      "vec_id", mb, q, 10, refine = 32)) === exact, "binary")
    val rdf = Quantize.quantizeTable(emb, "embedding", "bvec",
      Quantize.BResidual(mb, "rfac"))
    assert(ids(Quantize.searchRescore(rdf, "embedding", "bvec", "vec_id",
      Quantize.BResidual(mb, "rfac"), q, 10, refine = 16)) === exact,
      "binary residual")
    // flat PQ: the augmented dim (65) picks a compatible subspace count
    val mpq = Quantize.trainPq(emb, "embedding", "vec_id", m = 5,
      metric = Knn.IP)
    val qpq = Quantize.quantizeTable(emb, "embedding", "pqvec", mpq)
    assert(ids(Quantize.searchRescore(qpq, "embedding", "pqvec",
      "vec_id", mpq, q, 10, refine = 24)) === exact, "pq")
  }

  test("inner-product: augmentation geometry — max-norm row binds to zero, order is exactly monotone") {
    val m8 = Quantize.train(emb, "embedding", Knn.IP)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, v) => (id, v.toArray) }
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val maxRow = rows.maxBy(r => norm(r._2))._2
    assert(math.abs(norm(maxRow) - m8.ipMaxNorm) < 1e-4)
    // the max-norm row's augmented coordinate is (near) zero; every
    // bound row has norm (near) M — the isometry onto the sphere
    rows.take(50).foreach { case (_, v) =>
      val b = m8.bindCorpus(v)
      assert(b.length === v.length + 1)
      assert(math.abs(norm(b) - m8.ipMaxNorm) <= 1e-3 * m8.ipMaxNorm)
    }
    // exact order equivalence: augmented-L2 rank == IP rank for a query
    val q = rows.find(_._1 == 9L).get._2
    val bq = m8.bindQuery(q)
    def l2(a: Array[Float], b: Array[Float]) =
      math.sqrt(a.indices.map(i => (a(i).toDouble - b(i)) *
        (a(i).toDouble - b(i))).sum)
    def ip(a: Array[Float], b: Array[Float]) =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    val byL2 = rows.map { case (id, v) => (l2(m8.bindCorpus(v), bq), id) }
      .sortBy(t => (t._1, t._2)).map(_._2).take(20)
    val byIp = rows.map { case (id, v) => (1.0 - ip(v, q), id) }
      .sortBy(t => (t._1, t._2)).map(_._2).take(20)
    assert(byL2 === byIp)
  }

  test("inner-product: screened batch join equals the exact IP knn join") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5, Knn.IP)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val m8 = Quantize.train(corpus, "embedding", Knn.IP)
    val q8 = Quantize.quantizeTable(corpus, "embedding", "qvec", m8)
    val got = Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
        queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 48)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
  }

  test("a batch join requesting another metric than the codec's takes the exact fallback") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    def rows(d: DataFrame): Set[(Long, Long, Int)] =
      d.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
    def exact(metric: Knn.Metric) = rows(Knn.knnJoin(queriesDf,
      corpus.select($"vec_id".as("corpus_id"), $"embedding"),
      "query_id", "embedding", "corpus_id", "embedding", k = 5, metric))
    // the screened leg reads the code column; the exact fallback never does
    def readsCodes(d: DataFrame): Boolean =
      d.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains("ReadSchema") && l.contains("qvec"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-codecmetric")
    // (trained metric, requested metrics the registration must not serve)
    Seq(Knn.L2 -> Seq(Knn.Cosine, Knn.IP), Knn.Cosine -> Seq(Knn.L2))
      .foreach { case (trained, requested) =>
        val path = tmp.resolve(trained.toString).toString
        val c = Quantize.train(corpus, "embedding", trained)
        Quantize.quantizeTable(corpus, "embedding", "qvec", c)
          .write.parquet(path)
        graft.plans.AnnRouting.registerQuant(SparkT.spark, path, path, c,
          vecCol = "embedding", idCol = "vec_id", refine = 64)
        def join(metric: Knn.Metric) = graft.plans.AnnRouting.knnJoin(
          SparkT.spark, path, "embedding", "vec_id", queriesDf, "query_id",
          "embedding", "corpus_id", 5, metric)
        assert(readsCodes(join(trained)), s"$trained join did not route")
        requested.foreach { metric =>
          val got = join(metric)
          assert(!readsCodes(got), s"$trained codec served a $metric join")
          assert(rows(got) === exact(metric), s"$trained codec, $metric join")
        }
        graft.plans.AnnRouting.unregister(SparkT.spark, path)
      }
  }

  test("searchRescore clamps an over-range k·refine instead of wrapping the screen LIMIT") {
    val m = Quantize.train(emb, "embedding")
    val qdf = Quantize.quantizeTable(emb, "embedding", "qvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]]
      .head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    // 10 · 2^28 wraps negative in Int; the clamped screen keeps every row
    val got = Quantize.searchRescore(qdf, "embedding", "qvec", "vec_id", m,
        q, 10, refine = 1 << 28)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("BoundedTopK keeps the cap smallest (dist, id) pairs, growing only to the rows offered") {
    val rnd = new scala.util.Random(5)
    val pairs = Seq.fill(300)((rnd.nextInt(50).toDouble, rnd.nextLong()))
    // 1 << 30 would be a 16 GB heap if allocated up front
    Seq(1, 7, 64, 65, 200, 300, 1 << 30).foreach { cap =>
      val h = new Quantize.BoundedTopK(cap)
      pairs.foreach { case (d, id) => h.offer(d, id) }
      assert(h.drain().toSeq === pairs.sorted.take(cap), s"cap $cap")
    }
  }

  test("knnJoin rejects an over-range k·refine naming k and refine") {
    val m = Quantize.train(emb, "embedding")
    val qdf = Quantize.quantizeTable(emb, "embedding", "qvec", m)
    val e = intercept[IllegalArgumentException] {
      Quantize.knnJoin(qdf, "embedding", "qvec", "vec_id", m,
        emb.select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", "cid", 10, refine = 1 << 28)
    }
    assert(e.getMessage.contains("k = 10") &&
      e.getMessage.contains(s"refine = ${1 << 28}"), e.getMessage)
  }

  test("cosine: append with the frozen cosine model encodes in the normalized space (I9)") {
    // the appended batch rides the SAME quantize() the build used — the
    // internal normalization means drifted RAW magnitudes cannot move a
    // cosine code (scale invariance carries into the codes)
    val m8 = Quantize.train(emb, "embedding", Knn.Cosine)
    val v = emb.where($"vec_id" === 7).select("embedding")
      .as[Seq[Float]].head().toArray
    val scaled = v.map(_ * 37.5f)
    assert(m8.quantize(v).toSeq === m8.quantize(scaled).toSeq)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.Cosine)
    assert(mb.binarize(v).toSeq === mb.binarize(scaled).toSeq)
  }

  test("screened join at low refine: coarse economy keeps high recall (r15)") {
    // The accuracy/cost knob: a tight refine screens far fewer candidates
    // into the rescore; on the fixture the int8 coarse ranking is close
    // enough to true that recall stays >= 0.9.
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    val m8 = Quantize.train(corpus, "embedding")
    val q8 = Quantize.quantizeTable(corpus, "embedding", "qvec", m8)
    val got = Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
        queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 2)
      .select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"refine=2 recall $recall")
  }
}
