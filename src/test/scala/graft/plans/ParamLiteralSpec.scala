package graft.plans

import graft.SparkT
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

/** [[ParamLiteral]] / [[ParameterizeLiterals]]: constants of filters and
  * projections leave the generated source without changing any answer,
  * any pushed scan filter or any plan reuse decision. Runs under
  * `spark.sql.codegen.fallback=false` (SparkT), so a Janino defect in the
  * generated field load fails here instead of falling back. */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = SparkT.spark
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-param").toString
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Executed plan, adaptive stages included. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  private def params(df: DataFrame): Seq[ParamLiteral] = nodes(df).flatMap {
    case p @ (_: FilterExec | _: ProjectExec) =>
      p.expressions.flatMap(_.collect { case x: ParamLiteral => x })
    case _ => Nil
  }

  /** Canonical form for multiset and bit-exact comparisons: floating
    * values by their bits (one NaN; -0.0 distinct from 0.0). */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case other => other
  }
  private def bag(xs: Seq[Any]): Map[Any, Int] =
    xs.groupBy(canon).map { case (k, v) => k -> v.size }

  /** Every constant, in a filter and in a projection, against a Scala
    * oracle of SQL semantics (`eqv`, `lt`). */
  private def check[T: Encoder](name: String, data: Seq[T], consts: Seq[T])(
      eqv: (T, T) => Boolean, lt: (T, T) => Boolean): Unit = {
    val path = s"$root/$name"
    spark.createDataset(data).toDF("v").coalesce(1).write.parquet(path)
    val df = spark.read.parquet(path)
    val enc = implicitly[Encoder[T]]
    consts.foreach { c =>
      val f = df.filter(col("v") <= lit(c))
      val got = f.as[T].collect().toSeq
      assert(params(f).nonEmpty, s"$name: no ParamLiteral in the filter")
      assert(bag(got) === bag(data.filter(v => lt(v, c) || eqv(v, c))),
        s"$name: v <= $c")

      val p = df.select(col("v"), (col("v") === lit(c)).as("e"),
        (col("v") < lit(c)).as("l"), lit(c).as("c"))
      assert(params(p).nonEmpty, s"$name: no ParamLiteral in the projection")
      val rows = p.as(Encoders.tuple(enc, Encoders.scalaBoolean,
        Encoders.scalaBoolean, enc)).collect().toSeq
      assert(bag(rows.map(_._1)) === bag(data), s"$name: projected values")
      rows.foreach { case (v, e, l, out) =>
        assert(e === eqv(v, c), s"$name: $v = $c")
        assert(l === lt(v, c), s"$name: $v < $c")
        assert(canon(out) === canon(c), s"$name: constant $c came back as $out")
      }
    }
  }

  private def ordered[T](o: Ordering[T]) =
    ((a: T, b: T) => o.equiv(a, b), (a: T, b: T) => o.lt(a, b))
  // SQL semantics: NaN = NaN, NaN above every other value, -0.0 = 0.0
  private val dEq = (a: Double, b: Double) => a == b || (a.isNaN && b.isNaN)
  private val dLt = (a: Double, b: Double) => !a.isNaN && (b.isNaN || a < b)

  test("each parameterised type answers like a Scala oracle") {
    val (ie, il) = ordered(Ordering.Int)
    check("int", Seq(Int.MinValue, -7, 0, 1, 547, Int.MaxValue),
      Seq(Int.MinValue, 0, 547, 548, Int.MaxValue))(ie, il)
    val (le, ll) = ordered(Ordering.Long)
    check("long", Seq(Long.MinValue, -1L, 0L, 547L, 9909L, Long.MaxValue),
      Seq(Long.MinValue, -1L, 547L, 9908L, Long.MaxValue))(le, ll)
    val (se, sl) = ordered(Ordering.Short)
    check("short", Seq(Short.MinValue, -1, 0, 7, Short.MaxValue).map(_.toShort),
      Seq(Short.MinValue, 0, 7, Short.MaxValue).map(_.toShort))(se, sl)
    val (be, bl) = ordered(Ordering.Byte)
    check("byte", Seq(Byte.MinValue, -1, 0, 7, Byte.MaxValue).map(_.toByte),
      Seq(Byte.MinValue, 0, 8, Byte.MaxValue).map(_.toByte))(be, bl)
    val specials = Seq(Double.NegativeInfinity, -1.5, -0.0, 0.0,
      Double.MinPositiveValue, 2.5, Double.MaxValue, Double.PositiveInfinity,
      Double.NaN)
    check("double", specials,
      Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
        Double.NegativeInfinity, 2.5, 1e-300))(dEq, dLt)
    check("float", specials.map(_.toFloat),
      Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity,
        Float.NegativeInfinity, 2.5f))(
      (a, b) => dEq(a.toDouble, b.toDouble), (a, b) => dLt(a.toDouble, b.toDouble))
    val (de, dl) = ordered(Ordering.by[LocalDate, Long](_.toEpochDay))
    val days = Seq("1900-01-01", "1969-12-31", "1970-01-01", "2024-02-29",
      "9999-12-31").map(LocalDate.parse)
    check("date", days, days :+ LocalDate.parse("2000-06-15"))(de, dl)
    val (te, tl) = ordered(Ordering.by[Instant, (Long, Int)](
      t => (t.getEpochSecond, t.getNano)))
    val instants = Seq("1900-01-01T00:00:00Z", "1969-12-31T23:59:59.999999Z",
      "1970-01-01T00:00:00Z", "2024-02-29T12:34:56.789012Z").map(Instant.parse)
    check("timestamp", instants,
      instants :+ Instant.parse("2000-06-15T00:00:00.000001Z"))(te, tl)
    val (ne, nl) = ordered(Ordering.by[LocalDateTime, (Long, Int)](
      t => (t.toEpochSecond(ZoneOffset.UTC), t.getNano)))
    val locals = Seq("1900-01-01T00:00:00", "1969-12-31T23:59:59.999999",
      "1970-01-01T00:00:00", "2024-02-29T12:34:56.789012").map(LocalDateTime.parse)
    check("timestamp_ntz", locals,
      locals :+ LocalDateTime.parse("2000-06-15T00:00:00.000001"))(ne, nl)
  }

  test("booleans stay inlined literals") {
    val path = s"$root/bool"
    Seq(true, false).toDF("b").write.parquet(path)
    val df = spark.read.parquet(path).select(lit(true).as("t"),
      when(col("b"), lit(1)).otherwise(lit(2)).as("x"))
    assert(params(df).map(_.value).toSet === Set(1, 2))
    assert(df.as[(Boolean, Int)].collect().sortBy(_._2).toSeq ===
      Seq((true, 1), (true, 2)))
  }

  private lazy val longs = {
    val path = s"$root/longs"
    spark.range(0, 10000).select(col("id").as("v"), (col("id") % 7).as("g"))
      .repartitionByRange(8, col("v")).sortWithinPartitions("v")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  test("a new constant in a compiled shape compiles nothing (both planner paths)") {
    for (aqe <- Seq(false, true)) withAqe(aqe) {
      def point(c: Long) = longs.filter(col("v") === lit(c)).select(col("g") + lit(c))
      def agg(c: Long) = longs.filter(col("v") > lit(c)).groupBy("g").count()
        .as[(Long, Long)].collect().map(_._2).sum
      assert(point(547L).as[Long].collect().toSeq === Seq(547L % 7 + 547L))
      assert(agg(100L) === 9899L)
      val warm = compiles
      assert(point(9909L).as[Long].collect().toSeq === Seq(9909L % 7 + 9909L))
      assert(agg(5000L) === 4999L)
      assert(compiles === warm, s"aqe=$aqe: a constant change recompiled")
      // the counter does move for a new shape (one per pass: a plan
      // without an exchange is the same with or without AQE)
      val v = if (aqe) col("v") =!= lit(3L) else col("v") === lit(3L)
      longs.filter(v && col("g") =!= lit(2L)).collect()
      assert(compiles > warm)
    }
  }

  test("scan pushdown and row-group skipping match the un-parameterised plan") {
    val q = longs.filter(col("v") === lit(547L))
    val scanOf = (p: SparkPlan) => collect(p) { case s: FileSourceScanExec => s }.head
    // sparkPlan: physical plan before the preparation rules, ours included
    val before = scanOf(q.queryExecution.sparkPlan)
    val after = scanOf(q.queryExecution.executedPlan)
    assert(after.dataFilters === before.dataFilters)
    assert(after.metadata("PushedFilters") === before.metadata("PushedFilters"))
    assert(after.metadata("PushedFilters").contains("EqualTo(v,547)"))
    assert(params(q).map(_.value) === Seq(547L))
    assert(q.count() === 1L)
    q.collect()
    val read = collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value }.head
    // oracle: the rows of the files whose [min, max] holds the key
    val expected = longs.groupBy(input_file_name()).agg(min("v"), max("v"), count("*"))
      .as[(String, Long, Long, Long)].collect()
      .collect { case (_, lo, hi, n) if lo <= 547L && 547L <= hi => n }.sum
    assert(read === expected)
    assert(read < 10000L, "row groups without the key must be skipped")
  }

  test("branches differing only in a constant are not merged by exchange reuse") {
    for (aqe <- Seq(false, true)) withAqe(aqe) {
      def branch(c: Long) = longs.filter(col("v") >= lit(c)).groupBy("g").count()
      def reused(df: DataFrame): Boolean = {
        df.collect()
        nodes(df).exists(_.isInstanceOf[ReusedExchangeExec])
      }
      val same = branch(0L).union(branch(0L))
      assert(reused(same), s"aqe=$aqe: identical branches should share the exchange")
      val diff = branch(0L).union(branch(9000L))
      assert(!reused(diff), s"aqe=$aqe: branches with different constants merged")
      val counts = diff.as[(Long, Long)].collect().map(_._2)
      assert(counts.sum === 10000L + 1000L)
    }
  }
}
