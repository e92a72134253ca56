package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** Codegen'd dot product over `array<float|double>` columns.
  *
  * The declarative form `aggregate(zip_with(a, b, ...), 0.0, ...)`
  * interprets two lambdas and allocates an intermediate array per
  * row — per-PAIR in the all-pairs similarity operators, which made
  * the pairwise-cosine joins the slowest queries in the suite. This
  * expression stays inside whole-stage codegen: one fused loop, no
  * allocation.
  *
  * Float elements are widened to double per element and accumulated
  * sequentially — the exact arithmetic (and IEEE result) of the HOF
  * form and of DuckDB's `list_cosine_similarity` over `DOUBLE[]`,
  * so oracle parity is unchanged. Mismatched lengths yield NULL —
  * same as `zip_with`'s null-padding propagating through the sum —
  * so a corrupt short embedding drops out of similarity filters
  * instead of passing with a silently partial dot product. Null
  * array ELEMENTS are read as 0.0 (the embedding tables never
  * contain them).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def ok(t: DataType): Boolean = t == FloatType || t == DoubleType
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _)) if ok(lt) && ok(rt) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lt == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rt == FloatType) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, i: String, t: DataType): String =
        if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${get(a, i, elemType(left))} * ${get(b, i, elemType(right))};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The embedding kernel: [[DotProduct]] as a column, plus its array
  * twins for the Scala-side loops (centroid argmins, probe lists,
  * plane projections, PQ tables, the online dedup's cosine). Every
  * loop over embedding components goes through here, so "what a dot
  * is" and "which centroid wins a tie" have one definition — the
  * IVF/ANN probe ≡ q52 and online ≡ batch q44 parities hold by
  * construction, not because copies happen to agree.
  *
  * `dot` is DotProduct's arithmetic: each float widened to double,
  * products summed in index order from 0.0. Unlike the expression
  * (NULL on a length mismatch) it runs over min(len) elements; a
  * caller that must mirror the NULL checks lengths itself. */
object VectorOps {
  /** Column-level dot product of two float/double array columns. */
  def dotp(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2 norm of a float/double array column. */
  def l2norm(a: Column): Column = sqrt(dotp(a, a))

  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def dot(a: Array[Float], b: Array[Double]): Double = dot(a, 0, b)

  /** a(off + i)·b(i) over min(a.length − off, b.length) elements —
    * one PQ subspace slice of a full vector against a sub-centroid. */
  def dot(a: Array[Float], off: Int, b: Array[Double]): Double = {
    val n = math.min(a.length - off, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(off + i).toDouble * b(i); i += 1 }
    s
  }

  /** c·c per centroid — the constant half of [[nearest]]'s key. */
  def norms2(cs: Array[Array[Double]]): Array[Double] =
    cs.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }

  /** Ranking key of centroid c for v(off…): ‖v−c‖² less the constant
    * ‖v‖², i.e. c·c − 2·v·c. */
  private def key(v: Array[Float], off: Int, c: Array[Double], cn2: Double): Double = {
    val dp = dot(v, off, c)
    cn2 - 2.0 * dp
  }

  /** Strict `<` in Double's total order: `<` on every finite key, and
    * a NaN key (a NaN vector or centroid) sorts after all others —
    * the order a sort of (key, cid) tuples uses. */
  private def before(d: Double, than: Double): Boolean =
    java.lang.Double.compare(d, than) < 0

  def nearest(v: Array[Float], cs: Array[Array[Double]], cn2: Array[Double]): Int =
    nearest(v, 0, cs, cn2)

  /** Index of the lowest key for v(off…) — scanned in index order
    * with a strict `<`, so a tie goes to the lower cid. Allocates
    * nothing; 0 for an empty centroid set. */
  def nearest(v: Array[Float], off: Int, cs: Array[Array[Double]], cn2: Array[Double]): Int = {
    var best = 0
    var bestD = 0.0
    var c = 0
    while (c < cs.length) {
      val d = key(v, off, cs(c), cn2(c))
      if (c == 0 || before(d, bestD)) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** The min(n, #centroids) lowest keys' indices, ascending by
    * (key, cid) — the same scan and tie rule as the one-cell form,
    * kept in a bounded insertion buffer. */
  def nearest(v: Array[Float], cs: Array[Array[Double]], cn2: Array[Double], n: Int): Array[Int] = {
    val m = math.max(0, math.min(n, cs.length))
    val ids = new Array[Int](m)
    if (m == 0) return ids
    val ds = new Array[Double](m)
    var filled = 0
    var c = 0
    while (c < cs.length) {
      val d = key(v, 0, cs(c), cn2(c))
      if (filled < m || before(d, ds(m - 1))) {
        var j = math.min(filled, m - 1)
        while (j > 0 && before(d, ds(j - 1))) { ids(j) = ids(j - 1); ds(j) = ds(j - 1); j -= 1 }
        ids(j) = c
        ds(j) = d
        if (filled < m) filled += 1
      }
      c += 1
    }
    ids
  }
}
