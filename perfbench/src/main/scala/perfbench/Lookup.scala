package perfbench

import graft.engine.Graft
import graft.filters.{Filters, FloatRange, TsRange}
import graft.index.SecondaryIndex
import graft.plans.IndexRouting
import graft.tables.Writer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped `orders` and `lineitem` tables. Every column is a
  * hash of the row number and the seed, so a seed fixes the data. */
object TpchGen {
  private def h(seed: Long, salt: Int): org.apache.spark.sql.Column =
    abs(xxhash64(col("id"), lit(seed), lit(salt)))

  val NCust = 15000L
  val Day0 = "1992-01-01"

  def orders(spark: SparkSession, n: Long, seed: Long, from: Long = 1L): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("o_orderkey"),
      (pmod(h(seed, 1), lit(NCust)) + 1).as("o_custkey"),
      (pmod(h(seed, 2), lit(50000000L)) / 100.0 + 900.0).as("o_totalprice"),
      date_add(lit(Day0).cast("date"), pmod(h(seed, 3), lit(2405)).cast("int"))
        .as("o_orderdate"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (pmod(h(seed, 4), lit(3)) + 1).cast("int")).as("o_orderstatus"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), (pmod(h(seed, 5), lit(5)) + 1).cast("int"))
        .as("o_orderpriority"))

  def lineitem(spark: SparkSession, nOrders: Long, seed: Long): DataFrame = {
    val qty = (pmod(h(seed, 11), lit(50)) + 1).cast("double")
    spark.range(0, nOrders * 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (pmod(h(seed, 12), lit(100000L)) / 100.0 + 900.0))
        .as("l_extendedprice"),
      (pmod(h(seed, 13), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(seed, 14), lit(9)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(h(seed, 15), lit(3)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (pmod(h(seed, 16), lit(2)) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(Day0).cast("date"), (pmod(h(seed, 17), lit(2526)) + 1)
        .cast("int")).as("l_shipdate"))
  }
}

/** `lookup`: filtered serving reads over sorted, multi-file tables with two
  * registered secondary indexes. Selectivity spans ~1e-4 to 0.3, so both
  * arms of the routing cost gate run. Every result is compared with the
  * answer recomputed here from the generated rows, without the engine. */
final class Lookup(h: Harness) {
  import h.spark
  val nOrders = 30000L
  val files = 8

  final case class Paths(orders: String, lineitem: String)

  def setup(): Paths = h.setup { d =>
    val o = s"$d/orders"
    val l = s"$d/lineitem"
    // small row groups, so a sorted file has blocks to skip inside it
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 256 * 1024)
    try h.call("tables.write", setup = true) {
      Writer.write(TpchGen.orders(spark, nOrders, h.seed), o,
        sortBy = Seq("o_orderdate"), files = files)
      Writer.write(TpchGen.lineitem(spark, nOrders, h.seed), l,
        sortBy = Seq("l_shipdate"), files = files)
    } finally hc.unset("parquet.block.size")
    h.call("index.build", setup = true) {
      val base = Graft.cachedRead(spark, o)
      SecondaryIndex.build(base, "o_custkey", "o_orderkey", s"$d/idx_custkey")
      SecondaryIndex.build(base, "o_totalprice", "o_orderkey", s"$d/idx_price")
    }
    h.call("plans.register", setup = true) {
      IndexRouting.register(spark, o, s"$d/idx_custkey", "o_custkey", "o_orderkey")
      IndexRouting.register(spark, o, s"$d/idx_price", "o_totalprice", "o_orderkey")
    }
    Paths(o, l)
  }

  /** The generated rows, held here so every answer can be recomputed
    * without the engine (dates as epoch days). */
  final class Oracle {
    private val o = TpchGen.orders(spark, nOrders, h.seed)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus").collect()
    val okey = o.map(_.getLong(0)); val cust = o.map(_.getLong(1))
    val price = o.map(_.getDouble(2))
    val odate = o.map(_.getDate(3)); val oday = odate.map(_.toLocalDate.toEpochDay)
    val status = o.map(_.getString(4))
    private val l = TpchGen.lineitem(spark, nOrders, h.seed)
      .select("l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
        "l_linestatus", "l_shipdate").collect()
    val qty = l.map(_.getDouble(0)); val ext = l.map(_.getDouble(1))
    val disc = l.map(_.getDouble(2)); val flag = l.map(_.getString(3))
    val lstat = l.map(_.getString(4))
    val sday = l.map(_.getDate(5).toLocalDate.toEpochDay)
    def ordersWhere(p: Int => Boolean): IndexedSeq[Int] = okey.indices.filter(p)
    def linesWhere(p: Int => Boolean): IndexedSeq[Int] = qty.indices.filter(p)
  }

  private val tableFiles = scala.collection.mutable.HashMap.empty[String, Int]

  /** One read through the layer under test: the call is timed; the oracle
    * answers the check afterwards, and the traced run reads the executed
    * plan's scan metrics then. `matched` gives the rows the filter
    * selected, for the read ratio. */
  private def read(kind: String, table: String, indexed: Boolean)
                  (q: DataFrame => DataFrame)(want: => Seq[Row])
                  (matched: Array[Row] => Long): Unit =
    h.op(kind) {
      val (df, rows) = h.collect(q(Graft.cachedRead(spark, table)))
      () => {
        if (h.isTimed && h.trace.on) {
          val w = PlanWalk.work(df)
          h.sample("filters.rows_read", w.rowsRead.toDouble)
          h.sample("filters.rows_out", math.max(1L, matched(rows)).toDouble)
          val total = tableFiles.getOrElseUpdate(table, new java.io.File(table)
            .listFiles().count(_.getName.endsWith(".parquet")))
          if (!w.planText.contains("/idx_") && w.filesRead > 0)
            h.sample("stats.files_pruned", 1.0 - w.filesRead.toDouble / total)
          if (indexed) h.sample("plans.index_routed",
            if (w.planText.contains("/idx_")) 1.0 else 0.0)
        }
        Check.sameRows(rows, want.toArray)
      }
    }

  def ops(p: Paths, or: Oracle): IndexedSeq[Int => Unit] = {
    import p._
    val day0 = java.time.LocalDate.parse(TpchGen.Day0)
    def cnt(r: Array[Row]) = r.head.getLong(0)
    def sumCounts(r: Array[Row]) = r.map(_.getAs[Long]("count")).sum
    def countRow(ix: Seq[Int]) = Seq(Row(ix.size.toLong))
    IndexedSeq(
      i => { val c = h.rnd(i).nextInt(TpchGen.NCust.toInt) + 1L
        read("point", orders, indexed = true)(
          _.filter(col("o_custkey") === c)
            .select("o_orderkey", "o_totalprice", "o_orderdate"))(
          or.ordersWhere(or.cust(_) == c)
            .map(j => Row(or.okey(j), or.price(j), or.odate(j))))(_.length) },
      i => { val r = h.rnd(i); val cs = Seq.fill(5)(r.nextInt(15000) + 1L)
        read("count", orders, indexed = true)(
          _.filter(col("o_custkey").isin(cs: _*)).groupBy().count())(
          countRow(or.ordersWhere(j => cs.contains(or.cust(j)))))(cnt) },
      i => { val lo = 900.0 + h.rnd(i).nextInt(490000)
        read("facet", orders, indexed = true)(
          _.filter(col("o_totalprice").between(lo, lo + 5000))
            .groupBy("o_orderstatus").count())(
          or.ordersWhere(j => or.price(j) >= lo && or.price(j) <= lo + 5000)
            .groupBy(or.status(_)).map { case (s, ix) => Row(s, ix.size.toLong) }
            .toSeq)(sumCounts) },
      i => { val lo = 900.0 + h.rnd(i).nextInt(499000)
        read("narrow_range", orders, indexed = true)(
          _.filter(col("o_totalprice").between(lo, lo + 500))
            .select("o_orderkey", "o_totalprice"))(
          or.ordersWhere(j => or.price(j) >= lo && or.price(j) <= lo + 500)
            .map(j => Row(or.okey(j), or.price(j))))(_.length) },
      i => { val lo = 900.0 + h.rnd(i).nextInt(340000)
        // selectivity ~0.3: the routing cost gate should keep the scan
        read("broad_range", orders, indexed = false)(
          _.filter(col("o_totalprice").between(lo, lo + 150000))
            .groupBy().count())(countRow(or.ordersWhere(j =>
              or.price(j) >= lo && or.price(j) <= lo + 150000)))(cnt) },
      i => { val r = h.rnd(i); val y = 1993 + r.nextInt(5)
        val dc = 0.02 + r.nextInt(6) / 100.0
        val (a, b) = (java.time.LocalDate.of(y, 1, 1).toEpochDay,
          java.time.LocalDate.of(y + 1, 1, 1).toEpochDay)
        val f = Filters.compileAll(Seq(
          TsRange("l_shipdate", Some(s"$y-01-01T00:00:00"),
            Some(s"${y + 1}-01-01T00:00:00"), hiIncl = false),
          FloatRange("l_discount", Some(dc - 0.01), Some(dc + 0.01)),
          FloatRange("l_quantity", hi = Some(24.0), hiIncl = false)))
        read("conjunction", lineitem, indexed = false)(
          _.filter(f).agg(sum(col("l_extendedprice") * col("l_discount"))
            .as("revenue"), count(lit(1)).as("n")))({
          val ix = or.linesWhere(j => or.sday(j) >= a && or.sday(j) < b &&
            or.disc(j) >= dc - 0.01 && or.disc(j) <= dc + 0.01 && or.qty(j) < 24.0)
          Seq(Row(if (ix.isEmpty) null else ix.map(j => or.ext(j) * or.disc(j)).sum,
            ix.size.toLong)) })(_.head.getLong(1)) },
      i => { val d = day0.plusDays(2000 + h.rnd(i).nextInt(500))
        read("q1_aggregate", lineitem, indexed = false)(
          _.filter(col("l_shipdate") <= lit(d))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(sum("l_quantity").as("sum_qty"),
              sum("l_extendedprice").as("sum_base_price"),
              avg("l_discount").as("avg_disc"), count(lit(1)).as("count")))(
          or.linesWhere(or.sday(_) <= d.toEpochDay)
            .groupBy(j => (or.flag(j), or.lstat(j))).map { case ((f, s), ix) =>
              Row(f, s, ix.map(or.qty).sum, ix.map(or.ext).sum,
                ix.map(or.disc).sum / ix.size, ix.size.toLong) }.toSeq)(sumCounts) })
  }

  def run(): Unit = {
    val p = setup()
    h.loop(ops(p, new Oracle), minRounds = 4)
    h.sample("items_per_s", h.latMs.size / (h.latMs.sum / 1e3))
  }
}
