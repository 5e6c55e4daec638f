package graft.tables

import graft.SparkT
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Writer (S3) + integrity check (S4): sorted round trip, hash-companion
  * convention (empty string → 0, common/filter.cpp:87), corruption detection
  * (≈ CheckColumnarStorage, accessor/check.cpp:1-322). */
class TablesSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private def tmpDir(): Path = Files.createTempDirectory("graft-tables")

  test("write -> re-read round trip preserves data, sorted layout") {
    val dir = tmpDir().resolve("t1").toString
    val df = (1 to 1000).map(i => (i.toLong * 7 % 997, s"v$i")).toDF("k", "s")
    Writer.write(df, dir, sortBy = Seq("k"))
    val back = SparkT.spark.read.parquet(dir)
    assert(back.count() === 1000)
    assert(back.select(sum($"k")).head.getLong(0) ===
      df.select(sum($"k")).head.getLong(0))
    // sorted within the (single) file: first rows are the minimum keys
    val keys = back.select("k").as[Long].collect()
    assert(keys.toSeq === keys.sorted.toSeq)
  }

  test("unsorted write shuffles only when the file count must change (ADVICE r19)") {
    val df = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    def parts(dir: String): Int =
      SparkT.spark.read.parquet(dir)
        .select(input_file_name()).distinct().count().toInt
    // raise: 2 -> 4 needs repartition (coalesce cannot raise)
    val up = tmpDir().resolve("up").toString
    Writer.write(df.repartition(2), up, sortBy = Nil, files = 4)
    assert(parts(up) === 4)
    // equal: 4 -> 4 writes as-is, no reshape
    val eq = tmpDir().resolve("eq").toString
    Writer.write(df.repartition(4), eq, sortBy = Nil, files = 4)
    assert(parts(eq) === 4)
    // shrink: 8 -> 2 is the shuffle-free coalesce by default, and the
    // repartition opt-in for expensive frames lands the same layout
    val down = tmpDir().resolve("down").toString
    Writer.write(df.repartition(8), down, sortBy = Nil, files = 2)
    assert(parts(down) === 2)
    SparkT.spark.conf.set("spark.graft.write.shuffleShrink", "true")
    try {
      val down2 = tmpDir().resolve("down2").toString
      Writer.write(df.repartition(8), down2, sortBy = Nil, files = 2)
      assert(parts(down2) === 2)
    } finally SparkT.spark.conf.unset("spark.graft.write.shuffleShrink")
  }

  test("hash companion column: xxhash64, empty string = 0, NULL stays NULL") {
    val dir = tmpDir().resolve("t2").toString
    val df = Seq(Some("abc"), Some(""), None).toDF("s")
    Writer.write(df, dir, sortBy = Nil, hashCompanions = Seq("s"))
    val back = SparkT.spark.read.parquet(dir)
    val rows = back.select("s", "s" + Writer.HashSuffix).collect()
    val byVal = rows.map(r => Option(r.getString(0)) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(byVal(Some("")) === Some(0L))
    assert(byVal(None) === None)
    val expected = Seq("abc").toDF("s")
      .select(xxhash64($"s")).head.getLong(0)
    assert(byVal(Some("abc")) === Some(expected))
  }

  test("integrity check passes on a healthy table") {
    val dir = tmpDir().resolve("t3").toString
    Writer.write((1 to 500).map(i => (i, s"x$i")).toDF("a", "b"), dir, Seq("a"))
    val r = Check.check(SparkT.spark, dir)
    assert(r.ok, r.issues.mkString("; "))
    assert(r.footerRows === 500 && r.scanRows === 500)
  }

  test("integrity check flags a truncated file") {
    val dir = tmpDir().resolve("t4")
    Writer.write((1 to 500).map(i => (i, s"x$i")).toDF("a", "b"),
      dir.toString, Seq("a"))
    val part = Files.list(dir).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val bytes = Files.readAllBytes(part)
    Files.write(part, bytes.take(bytes.length / 2).toArray,
      StandardOpenOption.TRUNCATE_EXISTING)
    val r = Check.check(SparkT.spark, dir.toString)
    assert(!r.ok)
    assert(r.issues.exists(_.contains("footer unreadable")))
  }

  test("integrity check flags missing files") {
    val r = Check.check(SparkT.spark, tmpDir().resolve("nope").toString)
    assert(!r.ok)
  }

  test("ORC write: sorted round trip, pushed filters reach the ORC scan") {
    val dir = tmpDir().resolve("orc1").toString
    val df = (1 to 1000).map(i => (i.toLong * 7 % 997, s"v$i")).toDF("k", "s")
    Writer.write(df, dir, sortBy = Seq("k"), files = 2, format = "orc")
    val back = SparkT.spark.read.orc(dir)
    assert(back.count() === 1000)
    assert(back.select(sum($"k")).head.getLong(0) ===
      df.select(sum($"k")).head.getLong(0))
    val q = back.filter($"k" >= 100 && $"k" <= 200)
    val plan = q.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(k,100)") &&
      pushed.contains("LessThanOrEqual(k,200)"), pushed)
    // exact format marker only — a bare "orc" substring would always match
    // via the scan's file path and make the assertion vacuous
    assert(plan.contains("Format: ORC"), plan)
  }

  test("checkAll: the whole derived catalog (incl. index siblings) is healthy (sf0.001)") {
    System.setProperty("graft.derived.root",
      tmpDir().resolve("derived-sweep").toString)
    try {
      val issues = Derived.checkAll(SparkT.spark, "/root/testdata/sf0.001")
      assert(issues.isEmpty, issues.map { case (n, is) =>
        s"$n: ${is.mkString("; ")}" }.mkString(" | "))
    } finally System.clearProperty("graft.derived.root")
  }

  test("derived mcl_attrs matches a direct derivation (sf0.001)") {
    val sfDir = "/root/testdata/sf0.001"
    System.setProperty("graft.derived.root",
      tmpDir().resolve("derived").toString)
    try {
      val stored = Derived.table(SparkT.spark, sfDir, "mcl_attrs")
      val direct = graft.engine.Graft.table(SparkT.spark, sfDir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_linenumber"))).as("tags"))
      assert(stored.count() === direct.count())
      assert(stored.exceptAll(direct).count() === 0)
      assert(direct.exceptAll(stored).count() === 0)
      val rep = Check.check(SparkT.spark,
        Derived.tablePath(SparkT.spark, sfDir, "mcl_attrs"))
      assert(rep.ok, rep.issues.mkString("; "))
    } finally System.clearProperty("graft.derived.root")
  }

  test("derived paths of two scale dirs sharing a basename are distinct") {
    val root = tmpDir()
    val a = root.resolve("a").resolve("sf1").toString
    val b = root.resolve("b").resolve("sf1").toString
    assert(Derived.path(a, "quant_embeddings") !=
      Derived.path(b, "quant_embeddings"))
    // one dir spelled two ways keys to one path
    assert(Derived.path(a, "quant_embeddings") ===
      Derived.path(a + "/.", "quant_embeddings"))
    assert(Derived.path(a, "quant_embeddings").startsWith(Derived.root))
  }
}
