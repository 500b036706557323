package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native dot product over dense embedding arrays.
  *
  * The `zip_with`+`aggregate` higher-order-function formulation is
  * semantically identical but interpreted: one closure dispatch per element
  * per row. For pairwise similarity (n² pairs × 64 dims) that dominated the
  * benchmark (dd_embed_cos: 132 s at sf0.1). This expression generates a
  * tight primitive loop inside whole-stage codegen.
  *
  * Accumulation is the same sequential left-to-right double fold as the HOF
  * version and DuckDB's `list_sum`/`list_cosine_similarity`, so results stay
  * bit-identical across all three formulations — the oracle comparison is
  * unaffected by the speedup.
  *
  * Accepts array<double> or array<float> children (floats are widened
  * per-element, exactly like casting the array first, without materializing
  * the cast copy).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product needs array<double>/array<float> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val getX = if (elemIsFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY = if (elemIsFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $getX * $getY;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** Exact strict-inversion count over an array<long> — |{(i,j) : i < j,
  * a(i) > a(j)}| — by iterative bottom-up merge sort, O(n log n).
  *
  * This is the Knight (1966) kernel for Kendall's τ: sort the day series
  * by (x asc, y asc) and the strict inversions of the y-sequence are
  * EXACTLY the discordant pairs Q, giving S = (n0 − n1 − n2 + n3) − 2Q
  * from per-series/joint tie histograms — no all-pairs day² frame.
  * Integer in, integer out: bit-exact against any engine's pair count.
  *
  * Eval-only (CodegenFallback) by design: it runs once per GROUP (one
  * collected metadata-scale array per type-pair), never per fact row, so
  * codegen would buy nothing — the merge itself is the work.
  */
case class InvCount(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"inv_count needs array<bigint>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData].toLongArray()
    val n = arr.length
    val buf = new Array[Long](n)
    var src = arr
    var dst = buf
    var inv = 0L
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var (i, j, k) = (lo, mid, lo)
        while (i < mid && j < hi) {
          // stable: equal keys take the left element first → ties are
          // NOT counted as inversions (strict > only)
          if (src(i) <= src(j)) { dst(k) = src(i); i += 1 }
          else { dst(k) = src(j); j += 1; inv += (mid - i).toLong }
          k += 1
        }
        while (i < mid) { dst(k) = src(i); i += 1; k += 1 }
        while (j < hi) { dst(k) = src(j); j += 1; k += 1 }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    inv
  }

  override protected def withNewChildInternal(newChild: Expression): InvCount =
    copy(child = newChild)

  override def prettyName: String = "inv_count"
}

object ArrayExprs {
  /** Column API; requires a session built with `GraftExtensions`. */
  def dotProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_product", a, b)

  /** Column API; requires a session built with `GraftExtensions`. */
  def invCount(a: Column): Column =
    org.apache.spark.sql.functions.call_function("inv_count", a)
}
