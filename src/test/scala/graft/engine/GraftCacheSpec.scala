package graft.engine

import graft.SparkT
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, StandardCopyOption}

/** [[Graft.cachedRead]] invalidation contract (r22, VERDICT r21 #5/#8):
  * the listStatus signature (name, mtime-ms, length of direct children)
  * catches every real engine writer (they add/rename/remove direct
  * children), but a mutation confined to a NESTED subdirectory whose
  * parent mtime is forged back is invisible to it — the cached plan's
  * frozen file index would silently drop the new rows. Every engine write
  * path therefore calls [[Graft.invalidate]] explicitly; this spec proves
  * the invalidate serves fresh data even under that spoofed signature. */
class GraftCacheSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private def onlyParquet(dir: Path): Path = {
    val files = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.length == 1, s"expected one parquet file, got ${files.toSeq}")
    files.head
  }

  test("invalidate serves fresh rows past a signature-invisible nested append") {
    val root = Files.createTempDirectory("graft-inval")
    val served = root.resolve("served")
    val staged = root.resolve("staged")
    // partitioned layout: the served dir's DIRECT children are the
    // partition subdirs — the signature never descends into them
    Seq((1L, 10L)).toDF("k", "v").coalesce(1)
      .write.partitionBy("k").parquet(served.toString)
    Seq((1L, 20L)).toDF("k", "v").coalesce(1)
      .write.partitionBy("k").parquet(staged.toString)
    val part = served.resolve("k=1")
    val before = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(before === Seq(10L))

    // forge the nested append: drop a NEW file inside the existing
    // partition subdir, then restore the subdir's mtime so the direct-
    // children signature is byte-identical to the pre-append one
    val mtime = Files.getLastModifiedTime(part)
    Files.copy(onlyParquet(staged.resolve("k=1")),
      part.resolve("part-forged.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(part, mtime)

    // the signature cannot see the change: the cached plan's frozen file
    // index serves WITHOUT the appended row — this is the blind spot
    val stale = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(stale === Seq(10L), "precondition: the spoof must be invisible " +
      "to the signature (otherwise this spec tests nothing)")

    // the writer-path contract: every engine write path calls invalidate
    Graft.invalidate(served.toString)
    val after = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(after === Seq(10L, 20L),
      "invalidate must drop the stale cached plan")
  }

  test("invalidate is prefix-scoped: sidecar and generation dirs drop too") {
    val root = Files.createTempDirectory("graft-inval2")
    val base = root.resolve("idx").toString
    Seq((1L, 1L)).toDF("k", "v").write.parquet(base)
    Seq((2L, 2L)).toDF("k", "v").write.parquet(base + "_route")
    Graft.cachedRead(SparkT.spark, base)
    Graft.cachedRead(SparkT.spark, base + "_route")
    Graft.invalidate(base)
    // behavioral check via the public surface: both entries re-read fresh
    assert(Graft.cachedRead(SparkT.spark, base + "_route")
      .select("v").as[Long].collect().toSeq === Seq(2L))
    assert(Graft.cachedRead(SparkT.spark, base)
      .select("v").as[Long].collect().toSeq === Seq(1L))
  }

  test("dirCache evicts least-recently-used: a hot dir still hits past 512 cold ones") {
    val root = Files.createTempDirectory("graft-lru")
    val seed = root.resolve("seed")
    Seq((1L, 1L)).toDF("k", "v").coalesce(1).write.parquet(seed.toString)
    def dir(name: String): String = {
      val d = Files.createDirectory(root.resolve(name))
      Files.copy(onlyParquet(seed), d.resolve("part-0.parquet"))
      d.toString
    }
    val hot = dir("hot")
    val cold = (0 until 560).map(i => dir(s"cold$i"))
    val hotDf = Graft.cachedRead(SparkT.spark, hot)
    val firstCold = Graft.cachedRead(SparkT.spark, cold.head)
    cold.zipWithIndex.foreach { case (c, i) =>
      Graft.cachedRead(SparkT.spark, c)
      if (i % 100 == 99)
        assert(Graft.cachedRead(SparkT.spark, hot) eq hotDf, s"hot dir missed after $i")
    }
    assert(Graft.cachedRead(SparkT.spark, hot) eq hotDf)
    assert(Graft.dirCacheSize <= 512)
    // the coldest entry is the one evicted
    assert(Graft.cachedRead(SparkT.spark, cold.head) ne firstCold)
  }
}
