package graft

import graft.functions.VectorOps.{dotp, l2norm}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DotProduct must agree with the declarative HOF form in BOTH
  * execution paths — whole-stage codegen (doGenCode) and the
  * interpreted fallback (nullSafeEval) — bit-for-bit, since oracle
  * parity of the similarity operators depends on the exact IEEE
  * accumulation order.
  */
class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hof =
    expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")

  /** From an RDD, not a local Seq: over a LocalRelation the optimizer
    * (ConvertToLocalRelation) evaluates the projection interpreted
    * whatever the codegen settings, and `doGenCode` would never run. */
  private def vecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    spark.sparkContext.parallelize(Seq.fill(n)(
      (Array.fill(dim)(rnd.nextFloat() * 2 - 1), Array.fill(dim)(rnd.nextFloat() * 2 - 1))), 2)
  }

  test("codegen path matches the HOF form bit-for-bit") {
    val df = vecs(200, 64, 1L).toDF("a", "b")
    val diff = df.select((dotp(col("a"), col("b")) - hof).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diff == 0)
  }

  test("interpreted path (codegen off) matches codegen results") {
    val df = vecs(100, 48, 2L).toDF("a", "b")
    val on = df.select(dotp(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = df.select(dotp(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
      assert(on.sameElements(off))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("mixed float/double inputs and l2norm") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5, -1.0, 2.0)))
      .toDF("f", "d")
    val r = df.select(
      dotp(col("f"), col("d")).as("fd"),
      l2norm(col("f")).as("nf")).head()
    assert(r.getDouble(0) == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
  }

  test("mismatched lengths yield NULL, matching zip_with null-padding semantics") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(df.select(dotp(col("a"), col("b"))).head().isNullAt(0))
    assert(df.select(hof.as("h")).head().isNullAt(0))
  }

  test("rejects non-numeric-array inputs at analysis time") {
    val df = Seq((Array("x"), Array(1.0f))).toDF("s", "f")
    val e = intercept[Exception] {
      df.select(dotp(col("s"), col("f"))).collect()
    }
    assert(e.getMessage.contains("dot_product") || e.getMessage.toLowerCase.contains("type"))
  }
}
