package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Every session goes through `GraftSession.tune`, which sizes Spark's
  * codegen class cache to graft's working set. At Spark's default of
  * 100 classes, 150 other classes evict a query's own, and its next
  * run compiles them all again.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Janino compiles in this JVM so far; a cache hit does not count. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's SparkConf carries the codegen cache size") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a query's classes outlive 150 other generated classes") {
    val q123 = SparkEntry.all.find(_.name == "q123_exact_percentiles").get
    def runQ123(): Unit = noop(q123.fn(spark, TestSpark.sf))
    runQ123()
    runQ123()
    val beforeOthers = compiles
    for (i <- 1 to 150) noop(spark.range(4).selectExpr(s"id * $i + ${7 * i} AS v"))
    assert(compiles - beforeOthers >= 150, "each filler query compiles a class of its own")
    val before = compiles
    runQ123()
    assert(compiles == before, s"q123 compiled ${compiles - before} classes again")
  }
}
