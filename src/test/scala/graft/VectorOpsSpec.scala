package graft

import graft.functions.DotProduct
import graft.functions.VectorOps.{dot, dotp, l2norm, nearest, norms2}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
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

  // ---- the array kernel: dot / norms2 / nearest ----

  private def evalDot(a: Array[Float], b: Array[_], bt: org.apache.spark.sql.types.DataType): Any = {
    val (la, lb) = (Literal(ArrayData.toArrayData(a), ArrayType(FloatType)),
      Literal(ArrayData.toArrayData(b), ArrayType(bt)))
    DotProduct(la, lb).nullSafeEval(la.value, lb.value)
  }

  test("array dot equals DotProduct.nullSafeEval for float·float and float·double") {
    val rnd = new scala.util.Random(3L)
    for (dim <- Seq(1, 3, 16, 64); _ <- 1 to 50) {
      val a = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val f = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val d = Array.fill(dim)(rnd.nextGaussian())
      assert(dot(a, f) == evalDot(a, f, FloatType))
      assert(dot(a, d) == evalDot(a, d, DoubleType))
      assert(dot(a, a) == evalDot(a, a, FloatType))
    }
  }

  /** Brute force: every centroid's key, sorted by (key, cid). */
  private def bySort(v: Array[Float], cs: Array[Array[Double]], n: Int): Seq[Int] =
    cs.indices.map { c =>
      val m = math.min(v.length, cs(c).length)
      val dp = (0 until m).foldLeft(0.0)((s, i) => s + v(i).toDouble * cs(c)(i))
      (cs(c).foldLeft(0.0)((s, x) => s + x * x) - 2.0 * dp, c)
    }.sorted.take(n).map(_._2)

  test("nearest equals a sort by (key, cid), planted exact ties going to the lower cid") {
    val rnd = new scala.util.Random(5L)
    for (_ <- 1 to 200) {
      // small-integer coordinates make many keys exactly equal; the
      // repeated centroids plant ties on top of that
      val base = Array.fill(6)(Array.fill(4)(rnd.nextInt(3) - 1.0))
      val cs = rnd.shuffle((base ++ base.take(3)).toSeq).toArray
      val cn2 = norms2(cs)
      val v = Array.fill(4)(rnd.nextInt(3) - 1.0f)
      for (n <- Seq(1, 2, 4))
        assert(nearest(v, cs, cn2, n).toSeq == bySort(v, cs, n), s"n=$n")
      assert(nearest(v, cs, cn2) == bySort(v, cs, 1).head)
    }
  }

  test("one centroid: the runner-up is the best cell itself") {
    val cs = Array(Array(0.5, -0.25))
    val nn = nearest(Array(1.0f, 2.0f), cs, norms2(cs), 2)
    assert(nn.toSeq == Seq(0))
    assert(nn.last == nn(0))
    assert(nearest(Array(1.0f), Array.empty[Array[Double]], Array.empty[Double], 4).isEmpty)
  }

  test("a vector shorter than the centroids runs over min(len) components") {
    val v = Array(1.0f, -2.0f, 0.5f)
    val cs = Array(Array(3.0, 1.0, 2.0, 9.0, 9.0), Array(-1.0, 0.0, 4.0, -9.0, 9.0),
      Array(0.0, -1.0, 0.0, 0.0, 0.0))
    assert(dot(v, cs(0)) == 1.0 * 3.0 + -2.0 * 1.0 + 0.5 * 2.0)
    // the offset form is the same sum over the slice
    assert(dot(v, 1, cs(1)) == -2.0 * -1.0 + 0.5 * 0.0)
    val cn2 = norms2(cs)
    for (n <- 1 to 3) assert(nearest(v, cs, cn2, n).toSeq == bySort(v, cs, n))
    assert(nearest(v, cs, cn2) == bySort(v, cs, 1).head)
  }
}
