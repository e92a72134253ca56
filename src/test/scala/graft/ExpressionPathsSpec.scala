package graft

import graft.functions.{BandOps, SimHashOps, VectorOps}
import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The five custom Catalyst expressions each have two paths: the
  * `doGenCode` that whole-stage codegen fuses into a compiled class,
  * and the `nullSafeEval` that the interpreted fallback calls. Both
  * must agree with each other and with a plain-Scala reference on
  * random inputs, null and empty arrays included.
  *
  * Inputs come from an RDD, not a local Seq: over a `LocalRelation`
  * the optimizer's ConvertToLocalRelation evaluates the projection
  * itself, interpreted, and the codegen path would never run.
  */
class ExpressionPathsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `out` over `rows`, first under whole-stage codegen, then with
    * codegen off (as VectorOpsSpec does), asserting that each run took
    * the path it names. */
  private def bothPaths(schema: StructType, rows: Seq[Row], out: Column): (Seq[Any], Seq[Any]) = {
    val name = GraftBridge.expression(out).prettyName
    def run(codegen: Boolean): Seq[Any] = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).select(out)
      val vals = df.collect().toSeq.map(_.get(0))
      val fused = df.queryExecution.debug.codegenToSeq().exists(_._1.contains(name))
      assert(fused == codegen, s"$name: codegen=$codegen but fused=$fused")
      vals
    }
    val generated = run(codegen = true)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try (generated, run(codegen = false))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** Both paths equal the reference, row for row. */
  private def agrees(schema: StructType, rows: Seq[Row], out: Column, ref: Row => Any): Prop = {
    val expected = rows.map(ref)
    val (generated, interpreted) = bothPaths(schema, rows, out)
    (generated == expected) :| s"codegen $generated != reference $expected on $rows" &&
      (interpreted == expected) :| s"interpreted $interpreted != reference $expected on $rows"
  }

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  private def orNull[A](g: Gen[A], nullPct: Int = 10): Gen[Any] =
    Gen.frequency(nullPct -> Gen.const(null), (100 - nullPct) -> g)

  private def rowsOf(g: Gen[Row]): Gen[List[Row]] = Gen.choose(0, 40).flatMap(Gen.listOfN(_, g))

  private def arr(t: DataType) = ArrayType(t, containsNull = true)

  test("DotProduct: codegen = interpreted = sequential double sum") {
    val schema = StructType(Seq(
      StructField("a", arr(FloatType)), StructField("b", arr(FloatType)),
      StructField("d", arr(DoubleType))))
    val elem = orNull(Gen.choose(-1f, 1f), 5)
    // mostly equal lengths; the off-by-one ones must give NULL
    val row = for {
      n <- Gen.choose(0, 12)
      m <- Gen.frequency(8 -> Gen.const(n), 1 -> Gen.const(n + 1))
      a <- orNull(Gen.listOfN(n, elem))
      b <- orNull(Gen.listOfN(m, elem))
      d <- orNull(Gen.listOfN(n, orNull(Gen.choose(-1e3, 1e3), 5)))
    } yield Row(a, b, d)
    // null elements read as 0.0; floats widen before the multiply
    def num(x: Any): Double = x match {
      case null => 0.0
      case f: Float => f.toDouble
      case d: Double => d
    }
    def dot(x: Any, y: Any): Any = (x, y) match {
      case (x: Seq[_], y: Seq[_]) if x.length == y.length =>
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + num(p) * num(q) }
      case _ => null
    }
    check(Prop.forAllNoShrink(rowsOf(row)) { rows =>
      agrees(schema, rows, VectorOps.dotp(col("a"), col("b")), r => dot(r.get(0), r.get(1))) &&
        agrees(schema, rows, VectorOps.dotp(col("a"), col("d")), r => dot(r.get(0), r.get(2)))
    })
  }

  test("SimHash64: codegen = interpreted = per-bit majority of xxhash64 seed 42") {
    val schema = StructType(Seq(StructField("t", arr(StringType))))
    val token = orNull(Gen.oneOf(Gen.oneOf("a", "b", "the", "ü", ""), Gen.alphaNumStr), 5)
    val row = orNull(Gen.choose(0, 9).flatMap(Gen.listOfN(_, token))).map(Row(_))
    def ref(r: Row): Any = r.get(0) match {
      case null => null
      case ts: Seq[_] =>
        // a NULL token hashes as the seed itself
        val hs = ts.map {
          case null => 42L
          case t: String => XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
        }
        (0 until 64).foldLeft(0L) { (out, b) =>
          val ones = hs.count(h => ((h >>> b) & 1L) == 1L)
          if (2 * ones >= hs.length) out | (1L << b) else out
        }
    }
    check(Prop.forAllNoShrink(rowsOf(row)) { rows =>
      agrees(schema, rows, SimHashOps.simhash64(col("t")), ref)
    })
  }

  test("CanonicalCombo: codegen = interpreted = index of the two lowest clean blocks") {
    val schema = StructType(Seq(StructField("x", LongType)))
    // few set bits leave several blocks clean; random longs leave none
    val sparse = Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.choose(0, 63)))
      .map(_.foldLeft(0L)((x, b) => x | (1L << b)))
    val row = orNull(Gen.oneOf(sparse, Gen.long)).map(Row(_))
    val sizes = SimHashOps.BlockSizes.toSeq
    val offsets = sizes.scanLeft(0)(_ + _)
    val combos = for (i <- sizes.indices; j <- i + 1 until sizes.length) yield (i, j)
    def ref(r: Row): Any = r.get(0) match {
      case null => null
      case x: Long =>
        val clean = sizes.indices.filter(b => ((x >>> offsets(b)) & ((1L << sizes(b)) - 1)) == 0L)
        if (clean.length < 2) -1 else combos.indexOf((clean(0), clean(1)))
    }
    check(Prop.forAllNoShrink(rowsOf(row)) { rows =>
      agrees(schema, rows, SimHashOps.canonicalCombo(col("x")), ref)
    })
  }

  test("FirstEqualIdx: codegen = interpreted = first index where the keys agree") {
    val schema = StructType(Seq(
      StructField("x", ArrayType(IntegerType, containsNull = false)),
      StructField("y", ArrayType(IntegerType, containsNull = false))))
    val keys = Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.choose(0, 4)))
    val row = for (x <- orNull(keys); y <- orNull(keys)) yield Row(x, y)
    def ref(r: Row): Any = (r.get(0), r.get(1)) match {
      case (x: Seq[_], y: Seq[_]) => x.zip(y).indexWhere { case (p, q) => p == q }
      case _ => null
    }
    check(Prop.forAllNoShrink(rowsOf(row)) { rows =>
      agrees(schema, rows, BandOps.firstEqualIdx(col("x"), col("y")), ref)
    })
  }

  test("FirstSharedBand: codegen = interpreted = first band whose unpacked keys agree") {
    val schema = StructType(Seq(
      StructField("x", ArrayType(LongType, containsNull = false)),
      StructField("y", ArrayType(LongType, containsNull = false))))
    // one word, keys across word boundaries, and no bands over empty signatures
    val geometry = Gen.oneOf((7, 9), (13, 10), (20, 7), (5, 0))
    // key b of a signature: bits [b*bits, (b+1)*bits) of its little-endian words
    def key(sig: Seq[Long], bits: Int, b: Int): Long = (0 until bits).foldLeft(0L) { (k, i) =>
      val pos = b * bits + i
      k | (((sig(pos / 64) >>> (pos % 64)) & 1L) << i)
    }
    val gen = for {
      (bits, bands) <- geometry
      // few distinct keys, so pairs share a band at varying positions
      sig = Gen.listOfN(bands, Gen.choose(0L, 3L))
        .map(ks => BandOps.packKeys(ks.toArray, bits).toSeq)
      rows <- rowsOf(for (x <- orNull(sig); y <- orNull(sig)) yield Row(x, y))
    } yield (bits, bands, rows)
    check(Prop.forAllNoShrink(gen) { case (bits, bands, rows) =>
      agrees(schema, rows, BandOps.firstSharedBand(col("x"), col("y"), bits, bands),
        r => (r.get(0), r.get(1)) match {
          case (x: Seq[Long] @unchecked, y: Seq[Long] @unchecked) =>
            (0 until bands).indexWhere(b => key(x, bits, b) == key(y, bits, b))
          case _ => null
        })
    })
  }
}
