package graft.engine

import graft.SparkT
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The compiled-class cache size [[Graft.session]] sets is in force: it is
  * a static conf read once, when `CodeGenerator` is first loaded, so a
  * session built after that load would silently keep Spark's default of
  * 100 entries and evict a query's classes between two runs of it. */
class CodegenCacheSpec extends AnyFunSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a shape compiled before 110 others is still cached") {
    val spark = SparkT.spark
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Graft.CodegenCacheEntries.toString)
    // shape i projects i + 1 columns: a distinct generated source each
    def shape(i: Int) = spark.range(3)
      .select((0 to i).map(j => (col("id") * (j + 1)).as(s"c$j")): _*)
    shape(0).collect()
    val first = compiles
    (1 to 110).foreach(i => shape(i).collect())
    val filled = compiles
    assert(filled - first > 100, "each shape should compile its own class")
    shape(0).collect()
    assert(compiles === filled, "the first shape's class was evicted")
  }
}
