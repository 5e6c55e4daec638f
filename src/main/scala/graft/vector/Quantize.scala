package graft.vector

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Flat vector quantization with exact rescoring (K6 — ref
  * knn/quantizer.cpp:45-700, QuantizationSettings_t quantizer.h:28-60).
  *
  * Shape: train a [[Codec]] → codes stored beside the float column → coarse
  * top-(k·refine) on the code distance → EXACT rescore of the survivors on
  * the float column. The reference rescans original vectors for rescoring
  * the same way. Five codecs share that one lifecycle: int8 ([[QModel]]),
  * 4-bit ([[Q4Model]]), product quantization ([[PqModel]]), 1-bit
  * ([[BModel]]) and residual-corrected 1-bit ([[BResidual]]); every
  * lifecycle step below is one function over [[Codec]].
  *
  * 100 TB story: the coarse pass scans only (id, codes) — a fraction of
  * the vector bytes; the rescore touches k·refine rows. Training is one
  * pass with per-partition array accumulators (numPartitions rows to the
  * driver, no shuffle).
  */
object Quantize {

  /** Corpus-side screen-space binding — ONE definition shared by the flat
    * codecs AND the IVF-ADC family (the exactness of the MIPS→L2 trick
    * depends on every corpus side using the exact same construction):
    * identity for L2, unit-normalize for cosine, [v, √(M²−‖v‖²)] for IP
    * with `ipMaxNorm` = the trained bound M. */
  private[vector] def bindCorpusSide(metric: Knn.Metric, ipMaxNorm: Float,
                                     v: Array[Float]): Array[Float] =
    metric match {
      case Knn.Cosine => Ivf.normalizeQuery(v)
      case Knn.IP =>
        val out = new Array[Float](v.length + 1)
        System.arraycopy(v, 0, out, 0, v.length)
        var n2 = 0.0
        var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val m2 = ipMaxNorm.toDouble * ipMaxNorm
        out(v.length) = math.sqrt(math.max(0.0, m2 - n2)).toFloat
        out
      case _ => v
    }

  /** Query-side screen-space binding, paired with [[bindCorpusSide]]:
    * identity for L2, unit-normalize for cosine, [q, 0] for IP (M never
    * enters the query side — ‖q'−v'‖² = ‖q‖² + M² − 2⟨q,v⟩ already). */
  private[vector] def bindQuerySide(metric: Knn.Metric,
                                    q: Array[Float]): Array[Float] =
    metric match {
      case Knn.Cosine => Ivf.normalizeQuery(q)
      case Knn.IP => q :+ 0.0f
      case _ => q
    }

  /** COLUMN form of [[bindCorpusSide]] (one codegen expression, no stored
    * column) — the training/encode-side binding for whole tables; `ipM2`
    * = M² from the caller's max-agg or stored marker. */
  private[vector] def boundSpaceCol(metric: Knn.Metric,
                                    vec: org.apache.spark.sql.Column,
                                    ipM2: Double): org.apache.spark.sql.Column =
    metric match {
      case Knn.Cosine => Ivf.normalized(vec)
      case Knn.IP =>
        val sumsq = aggregate(vec, lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))
        concat(vec, array(sqrt(greatest(lit(0.0), lit(ipM2) - sumsq))
          .cast("float")))
      case _ => vec
    }

  /** One flat quantized codec: what a family stores per vector and how
    * its coarse screen scores a stored code against a query.
    *
    * SERVING-metric contract (r18 — the reference serves L2/IP/cosine on
    * every quantized index, knn/knn.h:32-37; the quantizer applies to all
    * spaces, knn/quantizer.cpp:45-700): a codec carries the metric it was
    * TRAINED for, which is the metric it serves, and its codes live in
    * that metric's SCREEN SPACE — an L2 construction where coarse-L2 order
    * tracks the metric's order:
    *
    *  - L2: the raw vectors;
    *  - COSINE: the unit-normalized companion (cosine distance of a unit
    *    pair is half its squared L2 — the r15 quantized-graph / r17
    *    IVF-ADC construction);
    *  - IP: the published MIPS→L2 augmentation (Bachrach et al. 2014,
    *    "Speeding Up the Xbox Recommender System Using a Euclidean
    *    Transformation for Inner-Product Spaces"): corpus rows bind to
    *    x' = [x, √(M² − ‖x‖²)] with M = max corpus norm (a train-time
    *    stat the codec carries), queries to q' = [q, 0] — then
    *    ‖q'−x'‖² = ‖q‖² + M² − 2⟨q,x⟩, EXACTLY monotone in the inner
    *    product, so the L2 screens serve MIPS with no new kernel.
    *
    * [[encode]] binds each CORPUS input internally (appends through the
    * append/streaming paths encode correctly with zero caller changes);
    * [[prepare]] binds the QUERY side. The exact rescore always runs the
    * metric kernel on the RAW float column. IP drift caveat (same contract
    * as the min/max clamp): an appended row with ‖v‖ > the trained M
    * clamps its augmented coordinate to 0 — screen-only misranking risk
    * for that row until a retraining compact refreshes M. */
  sealed trait Codec extends Serializable {
    /** One row's stored code, as the screen reads it. */
    type Code
    /** One query's screen-side state: the bound query, the ADC table,
      * the sign bits or the residual terms. */
    type Prepared <: AnyRef
    /** The concrete codec type [[retrain]] returns. */
    type Self >: this.type <: Codec

    def metric: Knn.Metric
    /** Max corpus L2 norm at training (IP codecs only — the augmentation
      * bound M; 0 otherwise). */
    def ipMaxNorm: Float
    /** Code-space dimension (the IP augmentation adds one). */
    def dim: Int
    /** Default candidate multiple: the true top-k must sit in the top
      * k·refine coarse set. Coarser codes default higher. */
    def refine: Int
    /** Type of the code column. */
    def codeType: DataType
    /** The stored columns for code column `codeCol`, code column first. */
    def columns(codeCol: String): Seq[StructField] =
      Seq(StructField(codeCol, codeType))
    /** Corpus-side encode (binds into the screen space internally). */
    def encode(v: Array[Float]): Code
    /** `c` as row values in [[columns]] order. */
    def stored(c: Code): Seq[Any] = Seq(c)
    /** The code stored in `r`'s [[columns]], the first at index `at`. */
    def code(r: Row, at: Int): Code
    /** Query-side state, built once per query per partition. */
    def prepare(q: Array[Float]): Prepared
    /** Coarse screen distance of a stored code to a prepared query. */
    def score(c: Code, p: Prepared): Double
    /** The same codec shape and metric re-fit to `df`; `idCol` orders
      * PQ's deterministic training sample. */
    def retrain(df: DataFrame, vecCol: String, idCol: String): Self

    /** `refine` if positive, else this codec's default. */
    final def refineOr(refine: Int): Int =
      if (refine > 0) refine else this.refine
    private[vector] final def bindCorpus(v: Array[Float]): Array[Float] =
      bindCorpusSide(metric, ipMaxNorm, v)
    private[vector] final def bindQuery(q: Array[Float]): Array[Float] =
      bindQuerySide(metric, q)
    /** Expected RAW stored-vector length: the IP augmentation adds one
      * code dimension that never exists in the stored float column. */
    private[vector] final def rawDim: Int =
      if (metric == Knn.IP) dim - 1 else dim
  }

  /** int8 scalar codec: per-dimension min/max, 256 levels. Our coarse
    * error bound (≤ range/255 per dim) makes `refine` a small constant. */
  final case class QModel(mins: Array[Float], maxs: Array[Float],
                          metric: Knn.Metric = Knn.L2,
                          ipMaxNorm: Float = 0.0f) extends Codec {
    type Code = Array[Byte]
    type Prepared = Array[Float]
    type Self = QModel
    def dim: Int = mins.length
    def refine: Int = 8
    def codeType: DataType = BinaryType
    def scale(i: Int): Float = {
      val r = maxs(i) - mins(i)
      if (r == 0.0f) 1.0f else r / 255.0f
    }
    def quantize(v0: Array[Float]): Array[Byte] = {
      val v = bindCorpus(v0) // codes live in the metric's screen space
      val out = new Array[Byte](dim)
      var i = 0
      while (i < dim) {
        val q = math.round((v(i) - mins(i)) / scale(i)).toInt
        out(i) = (math.max(0, math.min(255, q)) - 128).toByte
        i += 1
      }
      out
    }
    def dequantize(code: Byte, i: Int): Float =
      (((code & 0xFF) + 128) & 0xFF) * scale(i) + mins(i) // undo the -128 shift
    /** Worst-case L2 distance between a corpus vector and its dequantized
      * code: each in-range dimension rounds to the nearest of 256 levels
      * (ideal error ≤ scale/2), so ‖v − deq(quant(v))‖ ≤ √Σ(scaleᵢ/2)².
      * [[quantize]] and [[dequantize]] additionally round in float32
      * ((v−min)/scale, code·scale+min — each step contributes ≤ ulp/2
      * relative on magnitudes up to 255·scaleᵢ, so the true per-dimension
      * error can exceed scaleᵢ/2 by ≈ 3·255·2⁻²⁴·scaleᵢ ≈ 4.6e-5·scaleᵢ);
      * the per-dimension half-step is inflated by 1e-3 — 10× that worst
      * case, still a 0.1% slack — so callers using the bound as a STRICT
      * prune threshold ([[Hnsw.searchQuantized]]'s sub-graph schedule)
      * never lose a tie-tight top-k member to float rounding (ADVICE r14).
      * Valid for vectors INSIDE the trained [min,max] box — i.e. the
      * corpus the model was trained on (clamped out-of-range vectors have
      * unbounded error; appended data should retrain or re-verify). */
    def l2ErrorBound: Double = {
      var acc = 0.0
      var i = 0
      while (i < dim) { val h = scale(i) * (0.5 * 1.001); acc += h * h; i += 1 }
      math.sqrt(acc)
    }
    /** L2 between a quantized vector and a float query (dequantize inline). */
    def l2(codes: Array[Byte], q: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < codes.length) {
        val d = dequantize(codes(i), i).toDouble - q(i).toDouble
        acc += d * d
        i += 1
      }
      math.sqrt(acc)
    }
    def encode(v: Array[Float]): Array[Byte] = quantize(v)
    def code(r: Row, at: Int): Array[Byte] = r.getAs[Array[Byte]](at)
    def prepare(q: Array[Float]): Array[Float] = bindQuery(q)
    def score(c: Array[Byte], p: Array[Float]): Double = l2(c, p)
    def retrain(df: DataFrame, vecCol: String, idCol: String): QModel =
      train(df, vecCol, metric)
  }

  /** The training-side column in the model's screen space (one codegen
    * expression, no stored column) plus the IP augmentation bound M (max
    * corpus norm — ONE distributed max-agg for IP, 0 otherwise): raw for
    * L2, the unit-normalized companion for cosine, [v, √(M²−‖v‖²)] for
    * IP. */
  private def boundTrain(df: DataFrame, vecCol: String,
                         metric: Knn.Metric)
      : (org.apache.spark.sql.Column, Float) = {
    val m2 = if (metric == Knn.IP) Ivf.maxSumsq(df, vecCol) else 0.0
    (boundSpaceCol(metric, col(vecCol), m2), math.sqrt(m2).toFloat)
  }

  /** Train per-dimension min/max: ONE pass with per-partition array
    * accumulators — the shuffle-free shape (a posexplode would multiply the
    * row count by `dim` — a 64-1024× shuffle blowup at 100 TB — to compute
    * the same 2×dim floats). Each partition emits one (mins, maxs) pair;
    * the driver folds numPartitions pairs. min/max are order-independent,
    * so the model is bit-reproducible across partitionings.
    * `metric = Cosine` trains over the unit-normalized companion — the
    * space the model's codes then live in ([[Codec]]). */
  def train(df: DataFrame, vecCol: String,
            metric: Knn.Metric = Knn.L2): QModel = {
    import df.sparkSession.implicits._
    val (bcol, mNorm) = boundTrain(df, vecCol, metric)
    val partials = df.select(bcol).as[Seq[Float]]
      .mapPartitions { it =>
        var mn: Array[Float] = null
        var mx: Array[Float] = null
        it.foreach { v =>
          if (mn == null) { mn = v.toArray; mx = v.toArray }
          else {
            var i = 0
            while (i < mn.length) {
              val x = v(i)
              if (x < mn(i)) mn(i) = x
              if (x > mx(i)) mx(i) = x
              i += 1
            }
          }
        }
        if (mn == null) Iterator.empty else Iterator.single((mn, mx))
      }.collect()
    require(partials.nonEmpty, "cannot train on an empty table")
    val mins = partials.map(_._1).reduce { (a, b) =>
      Array.tabulate(a.length)(i => math.min(a(i), b(i))) }
    val maxs = partials.map(_._2).reduce { (a, b) =>
      Array.tabulate(a.length)(i => math.max(a(i), b(i))) }
    QModel(mins, maxs, metric, mNorm)
  }

  /** 4-bit scalar codec (the reference's third variant — the 4-bit
    * query-side representation of knn/quantizer.cpp:45-700, quantizer.h:
    * 28-60): per-dimension min/max, 16 levels, TWO dims packed per byte
    * (even dim = low nibble, odd dim = high nibble). 8x smaller than
    * float32 — between int8 (4x) and 1-bit (64x) on the scan-bytes /
    * coarse-precision tradeoff, so `refine` defaults between the int8 and
    * binary settings. */
  final case class Q4Model(mins: Array[Float], maxs: Array[Float],
                           metric: Knn.Metric = Knn.L2,
                           ipMaxNorm: Float = 0.0f) extends Codec {
    type Code = Array[Byte]
    type Prepared = Array[Float]
    type Self = Q4Model
    def dim: Int = mins.length
    def refine: Int = 12
    def codeType: DataType = BinaryType
    def bytes: Int = (dim + 1) >> 1
    def scale(i: Int): Float = {
      val r = maxs(i) - mins(i)
      if (r == 0.0f) 1.0f else r / 15.0f
    }
    def quantize(v0: Array[Float]): Array[Byte] = {
      val v = bindCorpus(v0)
      val out = new Array[Byte](bytes)
      var i = 0
      while (i < dim) {
        val q = math.round((v(i) - mins(i)) / scale(i)).toInt
        val c = math.max(0, math.min(15, q))
        if ((i & 1) == 0) out(i >> 1) = c.toByte
        else out(i >> 1) = (out(i >> 1) | (c << 4)).toByte
        i += 1
      }
      out
    }
    def dequantize(codes: Array[Byte], i: Int): Float = {
      val b = codes(i >> 1) & 0xFF
      val c = if ((i & 1) == 0) b & 0x0F else b >>> 4
      c * scale(i) + mins(i)
    }
    /** L2 between a packed 4-bit vector and a float query. */
    def l2(codes: Array[Byte], q: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val d = dequantize(codes, i).toDouble - q(i).toDouble
        acc += d * d
        i += 1
      }
      math.sqrt(acc)
    }
    def encode(v: Array[Float]): Array[Byte] = quantize(v)
    def code(r: Row, at: Int): Array[Byte] = r.getAs[Array[Byte]](at)
    def prepare(q: Array[Float]): Array[Float] = bindQuery(q)
    def score(c: Array[Byte], p: Array[Float]): Double = l2(c, p)
    def retrain(df: DataFrame, vecCol: String, idCol: String): Q4Model =
      train4(df, vecCol, metric)
  }

  /** Train per-dimension min/max (one distributed pass — shared stats shape
    * with the int8 trainer; cosine trains over the normalized companion). */
  def train4(df: DataFrame, vecCol: String,
             metric: Knn.Metric = Knn.L2): Q4Model = {
    val m = train(df, vecCol, metric)
    Q4Model(m.mins, m.maxs, metric, m.ipMaxNorm)
  }

  /** 1-bit binary codec (the reference's binary path with centroid
    * residual thresholds — knn/quantizer.cpp:45-700, `BQ` in
    * quantizer.h:28-60): bit i = (v(i) > threshold(i)) with per-dimension
    * mean thresholds, packed 64 bits/word, screened by XOR+popcount
    * Hamming distance. 64x smaller than float32: at 100 TB of vectors the
    * Hamming screen scans ~1.6 TB of codes, and XOR+popcount is the
    * cheapest distance kernel there is. The coarsest proxy of the scalar
    * codecs, so `refine` defaults higher.
    */
  final case class BModel(thresholds: Array[Float],
                          metric: Knn.Metric = Knn.L2,
                          ipMaxNorm: Float = 0.0f) extends Codec {
    type Code = Array[Long]
    type Prepared = Array[Long]
    type Self = BModel
    def dim: Int = thresholds.length
    def refine: Int = 16
    def codeType: DataType = ArrayType(LongType)
    def words: Int = (dim + 63) >> 6
    /** Sign bits of a CORPUS row (bound into the screen space). */
    def binarize(v0: Array[Float]): Array[Long] =
      binarizeBound(bindCorpus(v0))
    /** Sign bits of a QUERY (query-side binding — for IP the augmented
      * coordinate is 0, not the corpus residual). */
    def binarizeQuery(q: Array[Float]): Array[Long] =
      binarizeBound(bindQuery(q))
    private[vector] def binarizeBound(v: Array[Float]): Array[Long] = {
      val out = new Array[Long](words)
      var i = 0
      while (i < dim) {
        if (v(i) > thresholds(i)) out(i >> 6) |= 1L << (i & 63)
        i += 1
      }
      out
    }
    def hamming(a: Array[Long], b: Array[Long]): Int = {
      var acc = 0
      var i = 0
      while (i < a.length) {
        acc += java.lang.Long.bitCount(a(i) ^ b(i))
        i += 1
      }
      acc
    }

    /** The two per-vector residual factors the sign bits discard (the
      * reference's binary factor block, knn/quantizer.h:48-61: centroid
      * distance + magnitude stored beside the 1-bit codes):
      * `norm = ‖r‖` and `scale = Σ|rᵢ|/d` — the LEAST-SQUARES coefficient
      * of the rank-1 model `r ≈ scale·sign(r)` (argmin_c ‖r − c·sgn‖ =
      * ⟨r,sgn⟩/d = mean |rᵢ|), where r = v − thresholds. */
    def residualFactors(v0: Array[Float]): (Float, Float) =
      residualFactorsBound(bindCorpus(v0)) // the residual lives where the bits do
    private[vector] def residualFactorsBound(v: Array[Float]): (Float, Float) = {
      var s2 = 0.0
      var s1 = 0.0
      var i = 0
      while (i < dim) {
        val c = v(i).toDouble - thresholds(i)
        s2 += c * c
        s1 += math.abs(c)
        i += 1
      }
      (math.sqrt(s2).toFloat, (s1 / dim).toFloat)
    }

    /** Residual-corrected L2 ESTIMATE from the compact columns only (bits
      * + the two stored factors): reconstruct the candidate's residual as
      * its least-squares rank-1 model `r ≈ scale·sign` (r_∥ = scale·sign
      * EXACTLY, scale being ⟨r,sign⟩/d), giving
      * `est² = ‖q−t‖² + ‖r‖² − 2·scale·dot` with `dot = (q−t)·sign`
      * resolved from the popcount identity
      * `2·Σ_{bit set}(q−t)ᵢ − Σ(q−t)ᵢ`. The energy term uses the TRUE
      * residual norm, the cross term the exact parallel component; only
      * ⟨qr_⊥, r_⊥⟩ is dropped. Magnitude-aware where raw Hamming is not:
      * on the gate fixture the worst true-top-10 rank under this score is
      * ~2–4× smaller per query than under Hamming (QuantizeSpec measures
      * the aggregate), which is exactly the candidate-multiple saving.
      * (A Cauchy–Schwarz lower-bound variant was probed and was NOT
      * consistently tighter — the pessimism floods the top-n with
      * high-orthogonal-energy candidates.) qr/sumQr are precomputed
      * query-side. */
    def estimateL2(code: Array[Long], rnorm: Float, rscale: Float,
                   qr: Array[Double], qnorm2: Double, sumQr: Double): Double = {
      var s1 = 0.0
      var w = 0
      while (w < code.length) {
        var bits = code(w)
        while (bits != 0) {
          val i = (w << 6) + java.lang.Long.numberOfTrailingZeros(bits)
          if (i < dim) s1 += qr(i)
          bits &= bits - 1
        }
        w += 1
      }
      val dot = 2.0 * s1 - sumQr
      qnorm2 + rnorm.toDouble * rnorm - 2.0 * rscale * dot
    }
    def encode(v: Array[Float]): Array[Long] = binarize(v)
    override def stored(c: Array[Long]): Seq[Any] = Seq(c.toSeq)
    def code(r: Row, at: Int): Array[Long] = r.getSeq[Long](at).toArray
    def prepare(q: Array[Float]): Array[Long] = binarizeQuery(q)
    def score(c: Array[Long], p: Array[Long]): Double = hamming(c, p).toDouble
    def retrain(df: DataFrame, vecCol: String, idCol: String): BModel =
      trainBinary(df, vecCol, metric)
  }

  /** Residual-corrected binary codec: a [[BModel]]'s sign bits plus the
    * per-vector residual factors in `factorCol` (struct<norm, scale> —
    * the reference's binary-quantization factor block, knn/quantizer.h:
    * 48-61, knn/quantizer.cpp residual encode). Costs 8 bytes/vector and
    * buys the magnitude-aware [[BModel.estimateL2]] screen — reading
    * ~(8·d/64 + 8) bytes per vector against the float column's 4·d —
    * which reaches equal exactness at a several-fold smaller refine than
    * raw Hamming (QuantizeSpec). The estimator lives in the trained
    * space: normalized for cosine (where normalized-L2² order == cosine
    * order), augmented for IP, raw for L2. */
  final case class BResidual(model: BModel, factorCol: String = "bres")
      extends Codec {
    type Code = (Array[Long], Float, Float)
    type Prepared = (Array[Double], Double, Double)
    type Self = BResidual
    def metric: Knn.Metric = model.metric
    def ipMaxNorm: Float = model.ipMaxNorm
    def dim: Int = model.dim
    def refine: Int = 16
    def codeType: DataType = model.codeType
    override def columns(codeCol: String): Seq[StructField] =
      model.columns(codeCol) :+ StructField(factorCol, StructType(Seq(
        StructField("norm", FloatType), StructField("scale", FloatType))))
    def encode(v0: Array[Float]): (Array[Long], Float, Float) = {
      // bind ONCE into the screen space — factors and bits share it
      // (the r15-2 encode-once contract)
      val v = bindCorpus(v0)
      val (rn, rs) = model.residualFactorsBound(v)
      (model.binarizeBound(v), rn, rs)
    }
    override def stored(c: (Array[Long], Float, Float)): Seq[Any] =
      Seq(c._1.toSeq, Row(c._2, c._3))
    def code(r: Row, at: Int): (Array[Long], Float, Float) = {
      val f = r.getStruct(at + 1)
      (model.code(r, at), f.getFloat(0), f.getFloat(1))
    }
    def prepare(q0: Array[Float]): (Array[Double], Double, Double) = {
      val q = bindQuery(q0)
      val qr = new Array[Double](dim)
      var qn2 = 0.0
      var sq = 0.0
      var i = 0
      while (i < dim) {
        qr(i) = q(i).toDouble - model.thresholds(i)
        qn2 += qr(i) * qr(i)
        sq += qr(i)
        i += 1
      }
      (qr, qn2, sq)
    }
    def score(c: (Array[Long], Float, Float),
              p: (Array[Double], Double, Double)): Double =
      model.estimateL2(c._1, c._2, c._3, p._1, p._2, p._3)
    def retrain(df: DataFrame, vecCol: String, idCol: String): BResidual =
      copy(model = model.retrain(df, vecCol, idCol))
  }

  /** Train per-dimension mean thresholds: per-partition (sum, count) array
    * accumulators, folded on the driver in partition order (deterministic
    * for a fixed partitioning; same shuffle-free rationale as [[train]]). */
  def trainBinary(df: DataFrame, vecCol: String,
                  metric: Knn.Metric = Knn.L2): BModel = {
    import df.sparkSession.implicits._
    val (bcol, mNorm) = boundTrain(df, vecCol, metric)
    val partials = df.select(bcol).as[Seq[Float]]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var sums: Array[Double] = null
        var n = 0L
        it.foreach { v =>
          if (sums == null) sums = new Array[Double](v.length)
          var i = 0
          while (i < sums.length) { sums(i) += v(i); i += 1 }
          n += 1
        }
        if (sums == null) Iterator.empty else Iterator.single((pid, sums, n))
      }.collect().sortBy(_._1)
    require(partials.nonEmpty, "cannot train on an empty table")
    val dim = partials.head._2.length
    val total = new Array[Double](dim)
    partials.foreach { case (_, s, _) =>
      var i = 0
      while (i < dim) { total(i) += s(i); i += 1 }
    }
    val n = partials.map(_._3).sum
    BModel(total.map(s => (s / n).toFloat), metric, mNorm)
  }

  // ------------------------------------------------------------------
  // PRODUCT QUANTIZATION (published: Jégou, Douze & Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011 — the
  // billion-scale compression family; the reference's quantizer.cpp
  // covers the scalar 8/4/1-bit forms, PQ extends the same
  // coarse-screen-then-rescore contract to codebook compression).
  // Split dim into M subspaces, k-means codebook per subspace, encode
  // each vector as M bytes. Query-time ADC (asymmetric distance): ONE
  // M×K table of exact query-subvector→centroid squared distances per
  // query, then each stored code scans as M table lookups — no float
  // vector is touched until the exact rescore. Memory per vector:
  // M bytes (dim 64, M 8 → 32× smaller than float32).
  //
  // Training runs driver-side Lloyd on a DETERMINISTIC bounded sample
  // (the lowest `sample` ids — the published practice trains codebooks
  // on samples; the bounded collect is the same economics as the
  // histogram caps). Deterministic everywhere: id-ordered sample,
  // evenly-spaced init, lowest-index tie-breaks, single-threaded double
  // math — the model is bit-reproducible across partitionings.
  // ------------------------------------------------------------------

  /** codebooks(s)(c) = centroid c of subspace s (length dim/M each).
    * `metric` is the flat-codec serving metric ([[Codec]]); the IVF-ADC
    * family trains its codebooks on residuals and keeps the default L2
    * here — its serving metric rides the index's marker
    * ([[graft.vector.Ivf]]), not this field. ADC is the coarsest flat
    * screen, so `refine` defaults to 32, the multiple every PQ gate
    * passes. */
  final case class PqModel(codebooks: Array[Array[Array[Float]]],
                           metric: Knn.Metric = Knn.L2,
                           ipMaxNorm: Float = 0.0f) extends Codec {
    type Code = Array[Byte]
    type Prepared = Array[Double]
    type Self = PqModel
    def m: Int = codebooks.length
    def k: Int = codebooks(0).length
    def subDim: Int = codebooks(0)(0).length
    def dim: Int = m * subDim
    def refine: Int = 32
    def codeType: DataType = BinaryType

    /** Nearest codebook entry per subspace (ties → lowest index). */
    def encode(v0: Array[Float]): Array[Byte] = {
      val v = bindCorpus(v0)
      val out = new Array[Byte](m)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val cent = cb(c)
          var d = 0.0; var i = 0
          while (i < subDim) {
            val t = v(s * subDim + i) - cent(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(s) = best.toByte
        s += 1
      }
      out
    }

    /** The ADC lookup table for one query: flat m×k of exact squared
      * distances from the query's subvector s to centroid c at
      * index s*k + c. */
    def adcTable(q: Array[Float]): Array[Double] = {
      val t = new Array[Double](m * k)
      var s = 0
      while (s < m) {
        val cb = codebooks(s)
        var c = 0
        while (c < cb.length) {
          val cent = cb(c)
          var d = 0.0; var i = 0
          while (i < subDim) {
            val x = q(s * subDim + i) - cent(i); d += x * x; i += 1
          }
          t(s * k + c) = d
          c += 1
        }
        s += 1
      }
      t
    }

    /** Approximate L2 of a stored code against a prepared table: M adds. */
    def adc(codes: Array[Byte], table: Array[Double]): Double = {
      var acc = 0.0; var s = 0
      while (s < m) {
        acc += table(s * k + (codes(s) & 0xff)); s += 1
      }
      math.sqrt(acc)
    }
    def code(r: Row, at: Int): Array[Byte] = r.getAs[Array[Byte]](at)
    def prepare(q: Array[Float]): Array[Double] = adcTable(bindQuery(q))
    def score(c: Array[Byte], p: Array[Double]): Double = adc(c, p)
    /** Re-fit with the same subspace count, codebook size and metric (the
      * default sample and iteration count). */
    def retrain(df: DataFrame, vecCol: String, idCol: String): PqModel =
      trainPq(df, vecCol, idCol, m = m, k = k, metric = metric)
  }

  /** Train per-subspace codebooks: deterministic sample (lowest `sample`
    * ids), evenly-spaced init over the id-ordered sample, `iters` Lloyd
    * rounds with lowest-index ties and empty clusters keeping their old
    * centroid. Requires dim % m == 0 and at least one training row. */
  def trainPq(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
              k: Int = 16, sample: Int = 2048, iters: Int = 10,
              metric: Knn.Metric = Knn.L2): PqModel = {
    import df.sparkSession.implicits._
    // the IP augmentation bound comes from the FULL corpus (one max-agg),
    // never the sample — a sample under-estimate would clamp the largest-
    // norm rows, exactly the rows MIPS ranks highest
    val (bcol, mNorm) = boundTrain(df, vecCol, metric)
    val rows = df.select(col(idCol).cast("long"), bcol.as("__bv"))
      .as[(Long, Seq[Float])]
      .orderBy(col(idCol)).limit(sample)
      .collect().map(_._2.toArray)
    require(rows.nonEmpty, "cannot train PQ on an empty table")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val kk = math.min(k, rows.length)
    val books = Array.tabulate(m) { s =>
      val sub = rows.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // evenly-spaced deterministic init over the id-ordered sample
      var cents = Array.tabulate(kk)(c =>
        sub((c.toLong * sub.length / kk).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kk)(new Array[Double](subDim))
        val counts = new Array[Int](kk)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kk) {
            var d = 0.0; var i = 0
            while (i < subDim) {
              val t = v(i) - cents(c)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(kk)(c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(subDim)(i => (sums(c)(i) / counts(c)).toFloat))
        it += 1
      }
      cents
    }
    PqModel(books, metric, mNorm)
  }

  // ───── the lifecycle, one function per step over any Codec ─────

  /** Append the codec's stored columns (`codeCol` first) to `df`. */
  def quantizeTable(df: DataFrame, vecCol: String, codeCol: String,
                    codec: Codec): DataFrame = {
    val schema = codec.columns(codeCol).foldLeft(df.schema)(_ add _)
    val vecIdx = df.schema.fieldIndex(vecCol)
    df.mapPartitions { it =>
      it.map { r =>
        val v = r.getSeq[Float](vecIdx).toArray
        Row.fromSeq(r.toSeq ++ codec.stored(codec.encode(v)))
      }
    }(Encoders.row(schema))
  }

  /** The coarse-screen candidate ids: top-`n` by code distance — a
    * declarative sub-plan (typed map + TakeOrdered), shared by
    * [[searchRescore]] and [[graft.plans.AnnRoutingRule]]'s automatic
    * quantized route (which splices it under the original Sort/Limit).
    * `query` is RAW and travels in a broadcast, never in generated code;
    * each partition prepares it once (the codec binds it into its screen
    * space) and scores every row with one code read and one
    * [[Codec.score]]. */
  def coarseIds(qdf: DataFrame, codeCol: String, idCol: String, codec: Codec,
                query: Array[Float], n: Int): DataFrame = {
    val qB = qdf.sparkSession.sparkContext.broadcast((codec, query))
    qdf.select(col(idCol).cast("long") +:
        codec.columns(codeCol).map(f => col(f.name)): _*)
      .mapPartitions { it =>
        val (c, q) = qB.value
        val p = c.prepare(q)
        it.map(r => (r.getLong(0), c.score(c.code(r, 1), p)))
      }(Encoders.product[(Long, Double)])
      .toDF("cid", "adist")
      .orderBy(col("adist").asc, col("cid").asc)
      .limit(n)
      .select(col("cid").as(idCol))
  }

  /** Top-k search: coarse pass on the codes (k·refine survivors), exact
    * rescore on the float vectors with the codec's metric. Returns
    * (idCol, dist) best-first, ties by id — same contract as [[Knn.knn]].
    * `refine` ≤ 0 takes the codec's default. k·refine is formed in Long
    * and clamped to Int.MaxValue: such a LIMIT plans as a full sort,
    * never as a wrapped negative LIMIT. */
  def searchRescore(qdf: DataFrame, vecCol: String, codeCol: String,
                    idCol: String, codec: Codec, query: Array[Float], k: Int,
                    refine: Int = 0): DataFrame = {
    val keep = math.min(k.toLong * codec.refineOr(refine), Int.MaxValue)
    val survivors = qdf.join(
      coarseIds(qdf, codeCol, idCol, codec, query, keep.toInt), Seq(idCol))
    Knn.knn(survivors, vecCol, idCol, query, k, codec.metric)
  }

  // ───── I9 for the quantized families: segment maintenance ─────
  //
  // The reference's RT flow trains a quantizer once and then encodes every
  // incoming segment with it (builder train/add/save lifecycle,
  // knn/knn.cpp:638-786; knn/knn.h:135-144) — OPTIMIZE may retrain. The
  // Spark analog: a quantized table is an ordinary Parquet dir, so append =
  // encode ONLY the new batch with the existing codec and add its files
  // (the existing table is never touched — the 100 TB append cost is
  // O(batch)); compact = re-sort to the canonical clustering and optionally
  // re-fit the codec to the full corpus. Every coarse screen reads all
  // files, so search is correct IMMEDIATELY after an append; the routed
  // plan's cached relation is invalidated via the AnnRouting epoch.

  /** Append `newRows` (base columns WITHOUT the code columns, same order
    * as the quantized table) encoded with the EXISTING codec. */
  def appendSegment(newRows: DataFrame, vecCol: String, codeCol: String,
                    quantPath: String, codec: Codec): Unit = {
    val encoded = quantizeTable(newRows, vecCol, codeCol, codec)
    encoded.write.mode("append").parquet(quantPath)
    graft.plans.AnnRouting.onIndexMutated(encoded.sparkSession, quantPath)
  }

  /** I9 OPTIMIZE for a quantized table: re-sort appended segments back to
    * the canonical `idCol` clustering and, with `retrain`, re-fit the
    * codec to the FULL corpus and re-encode (appended batches that drifted
    * outside the trained range clamp until then — retraining restores the
    * per-dim error bound, re-centers binary thresholds, refreshes the IP
    * bound M and the PQ codebooks). The swap is the rename-to-backup
    * scheme of [[graft.index.SecondaryIndex.compact]]: the table exists at
    * SOME path at every instant, and a crash between the renames leaves
    * it intact at `<path>_old`. Returns the serving codec — the caller
    * re-registers the automatic route with it (the epoch bump already
    * dropped the old entry). */
  def compact(spark: org.apache.spark.sql.SparkSession, quantPath: String,
              vecCol: String, codeCol: String, idCol: String, codec: Codec,
              retrain: Boolean = false): codec.Self = {
    val tmp = quantPath + "_compacting"
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(quantPath)
    val src = new org.apache.hadoop.fs.Path(tmp)
    val bak = new org.apache.hadoop.fs.Path(quantPath + "_old")
    val fs = dst.getFileSystem(conf)
    // self-heal from a crash between a prior compact's two renames
    if (!fs.exists(dst) && fs.exists(bak) && !fs.rename(bak, dst))
      throw new java.io.IOException(
        s"table missing at $quantPath and backup restore from $bak failed")
    val base = spark.read.parquet(quantPath)
      .drop(codec.columns(codeCol).map(_.name): _*)
    val served: codec.Self =
      if (retrain) codec.retrain(base, vecCol, idCol) else codec
    graft.tables.Writer.write(quantizeTable(base, vecCol, codeCol, served),
      tmp, sortBy = Seq(idCol))
    fs.delete(bak, true)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"could not back up $quantPath for swap")
    if (!fs.rename(src, dst)) {
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"swap of $tmp into $quantPath failed AND the restore failed: " +
            s"the table data is at $bak — rename it back manually")
      throw new java.io.IOException(s"could not swap $tmp into $quantPath")
    }
    fs.delete(bak, true)
    graft.plans.AnnRouting.onIndexMutated(spark, quantPath)
    served
  }

  // ───── Batch KNN JOIN over a quantized table (r15) ─────
  //
  // The batch form of the coarse-screen-then-rescore serving contract
  // (every query row gets its k nearest corpus rows in ONE plan, the
  // quantized analog of [[Knn.knnJoin]]): the query batch broadcasts,
  // each corpus partition screens its CODE columns against every query at
  // the codec's compact-bytes cost (M table lookups for PQ, XOR+popcount
  // for binary, dequantized L2 for the scalar codes — the float column is
  // never read by the screen), a per-(query, partition) bounded heap
  // keeps the k·refine best coarse survivors so the one shuffle carries
  // at most k·refine rows per (query, partition) — never the scored
  // cross product — the global coarse cut reproduces the single-query
  // accuracy contract ("the true top-k sits in the global top k·refine
  // coarse set"), and ONE codegen join against the float column
  // exact-rescores the survivors. Query batches over [[Knn.maxQueryBatch]]
  // take the ENFORCED slice-and-union arm (r15 VERDICT #1): bounded
  // collect per slice, broadcast freed between slices, distributed
  // rescore — the driver never holds more than one slice.

  /** Bounded "keep the n smallest (dist, id)" pairs — the partition-local
    * cut of the screened-join kernel. Array-backed max-heap ordered by
    * (dist, id) with the root as the current worst kept: O(1) reject for
    * a row worse than the nth best (the common case once warm),
    * O(log n) insert. Deterministic: ties break toward the smaller id,
    * the engine's knn convention. The arrays grow on demand, so a heap
    * holds min(rows offered, cap) entries — a large k·refine costs memory
    * only for the candidates a partition actually has. */
  private[vector] final class BoundedTopK(cap: Int) {
    private var ds = new Array[Double](math.min(cap, 64))
    private var ids = new Array[Long](math.min(cap, 64))
    private var n = 0
    private def grow(): Unit = {
      val len = math.min(cap.toLong, 2L * n).toInt
      ds = java.util.Arrays.copyOf(ds, len)
      ids = java.util.Arrays.copyOf(ids, len)
    }
    private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
      d1 > d2 || (d1 == d2 && i1 > i2)
    private def swap(a: Int, b: Int): Unit = {
      val td = ds(a); ds(a) = ds(b); ds(b) = td
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
    def offer(d: Double, id: Long): Unit =
      if (n < cap) {
        if (n == ds.length) grow()
        var i = n; ds(i) = d; ids(i) = id; n += 1
        while (i > 0 && worse(ds(i), ids(i), ds((i - 1) >> 1), ids((i - 1) >> 1))) {
          swap(i, (i - 1) >> 1); i = (i - 1) >> 1
        }
      } else if (worse(ds(0), ids(0), d, id)) {
        ds(0) = d; ids(0) = id
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          var m = i
          if (l < n && worse(ds(l), ids(l), ds(m), ids(m))) m = l
          if (l + 1 < n && worse(ds(l + 1), ids(l + 1), ds(m), ids(m))) m = l + 1
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
    def drain(): Array[(Double, Long)] = {
      val out = Array.tabulate(n)(i => (ds(i), ids(i)))
      scala.util.Sorting.quickSort(out)(Ordering.Tuple2[Double, Long])
      out
    }
  }

  /** Batch KNN JOIN over a quantized table ([[quantizeTable]] output:
    * float column + the codec's code columns). Same exactness contract as
    * [[searchRescore]] — the true top-k must sit in the global top
    * k·refine coarse set; `refine` ≤ 0 takes the codec's default, and
    * k·refine must fit an Int (each per-(query, partition) heap holds that
    * many candidates). Returns (qIdCol, cIdCol, dist, rn), rn 1..k by
    * (dist, id). */
  def knnJoin(qdf: DataFrame, vecCol: String, codeCol: String,
              idCol: String, codec: Codec,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              cIdCol: String, k: Int, refine: Int = 0): DataFrame = {
    require(qIdCol != cIdCol,
      s"query and corpus id columns must have distinct names ($qIdCol)")
    val r = codec.refineOr(refine)
    require(k.toLong * r <= Int.MaxValue,
      s"k·refine must fit an Int (one candidate heap per query holds that " +
        s"many rows): k = $k, refine = $r")
    val spark = qdf.sparkSession
    import spark.implicits._
    val keep = k * r
    val coded = qdf.select(col(idCol).cast("long") +:
      codec.columns(codeCol).map(f => col(f.name)): _*)
    // the one heap kernel both arms share: screen every corpus row of
    // `rows` against the query slice `qs`, emitting ≤ keep (qid, cid,
    // coarse-dist) rows per query — the per-(query, partition) bounded
    // cut; the global k·refine cut happens once over the union.
    def screenRows(qs: Array[(Long, Array[Float])], rows: Iterator[Row])
        : Iterator[(Long, Long, Double)] =
      if (qs.isEmpty) Iterator.empty
      else {
        val preps = qs.map[AnyRef](q => codec.prepare(q._2))
        val heaps = Array.fill(qs.length)(new BoundedTopK(keep))
        rows.foreach { row =>
          val cid = row.getLong(0)
          val code = codec.code(row, 1)
          var j = 0
          while (j < qs.length) {
            heaps(j).offer(
              codec.score(code, preps(j).asInstanceOf[codec.Prepared]), cid)
            j += 1
          }
        }
        Iterator.range(0, qs.length).flatMap { j =>
          heaps(j).drain().iterator
            .map { case (cd, cid) => (qs(j)._1, cid, cd) }
        }
      }
    def globalCut(coarse: DataFrame): DataFrame =
      TopK.topKPairs(coarse, "q", "c", keep)
        .select(col("q").as("__qid"), col("c").as("__cid"))
    val rawSel = qdf.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).as("__cvec"))
    def rescored(withQvec: DataFrame): DataFrame = {
      val scored = withQvec.join(rawSel, "__cid")
        .select(col("__qid"), col("__cid"),
          Knn.distCol(codec.metric, col("__cvec"), col("__qvec"))
            .cast("double").as("__dist"))
      TopK.topKPairs(scored, qIdCol, cIdCol, k)
    }
    // Budget machinery (r15 VERDICT #1, distributed in r17 — VERDICT r16
    // #1): in budget, ONE broadcast screen and a broadcast rescore (the
    // candidate side is |Q|·k·refine rows — the corpus never shuffles).
    // Over budget, the screen becomes a DISTRIBUTED block-nested-loop:
    // the batch slices into ≤max-row RDD partitions ([[Knn.sliceQueryRdd]]),
    // a partition-cartesian pairs every slice with every corpus-code
    // partition, and each task runs the same heap kernel — all
    // (slice × partition) tasks in ONE parallel job, the driver never
    // holds a slice (the r16 arm looped collect-screen-checkpoint
    // sequentially; the graph legs' distributed arm measured 0.56× the
    // collect shape even at 20k rows). Total code-scan work is unchanged
    // (each slice reads every code once — the screened families' honest
    // cost; batches of millions+ still prefer the graph/IVF-ADC legs,
    // whose assignment prunes the corpus side too). The rescore is a
    // distributed equi-join against the SAME persisted query projection
    // the slices were cut from (ADVICE r16: a nondeterministic query
    // source must feed the screen and the rescore identical rows).
    // byte-aware row budget (r18): the codec's dim sizes both the arm
    // decision and the over-budget slice width
    val max = Knn.maxQueryBatch(spark, codec.dim)
    Knn.boundedQueryBatch(queries, qIdCol, qVecCol, max) match {
      case Some(qRows) =>
        val qB = spark.sparkContext.broadcast(qRows)
        val coarse = coded.mapPartitions(it =>
          screenRows(qB.value, it))(Encoders.product[(Long, Long, Double)])
          .toDF("__qid", "__cid", "__dist")
        val qDf = qRows.toSeq.toDF("__qid", "__qvec")
        rescored(broadcast(globalCut(coarse).join(broadcast(qDf), "__qid")))
      case None =>
        Knn.distributedScreens.incrementAndGet()
        val qRdd = Knn.persistedQueryRdd(queries, qIdCol, qVecCol)
        val slices = Knn.sliceQueryRdd(qRdd, max)
        // slices FIRST: the cartesian re-pulls its second parent's
        // iterator per first-parent element, and slice partitions hold
        // exactly ONE element — so each task streams its corpus-code
        // partition exactly once
        val coarseRdd = slices.cartesian(coded.rdd).mapPartitions { it =>
          val buf = it.buffered
          if (!buf.hasNext) Iterator.empty
          else screenRows(buf.head._1, buf.map(_._2))
        }
        val coarse = spark.createDataset(coarseRdd)
          .toDF("__qid", "__cid", "__dist")
        val qDf = spark.createDataset(qRdd).toDF("__qid", "__qvec")
        rescored(globalCut(coarse).join(qDf, "__qid"))
    }
  }
}
