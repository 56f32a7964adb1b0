package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `ARRAY<DOUBLE>` columns, with whole-stage codegen.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) evaluate their
  * lambdas interpreted — every element goes through boxed
  * `InternalRow` plumbing — which made brute-force similarity scans the
  * bench hotspot. This expression compiles to a tight primitive loop over
  * `ArrayData.getDouble`, one pass computing dot product and both norms.
  *
  * Float semantics match the reference's JS (src/lib/tools.ts:15-20) and
  * the previous fold-based implementation on equal-length inputs: strict
  * left-to-right f64 accumulation of x·y, x², y², then dot / (√na · √nb).
  * Java double division never throws, so a zero vector yields 0/0 = NaN
  * exactly like the unguarded reference (and unlike Spark's ANSI `/`
  * operator, which errors).
  *
  * Mismatched lengths return NaN. The reference's `a.reduce` yields
  * `val * undefined = NaN` whenever b is shorter than a; when b is LONGER
  * the reference computes a partial dot over a's length but ‖b‖ over all of
  * b — an asymmetry we deliberately do not copy (documented divergence;
  * the P13 guard drops mismatched vectors before scoring in every shipped
  * query path anyway).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(
      a.asInstanceOf[ArrayData].toDoubleArray(), b.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.value} = Double.NaN;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $x.getDouble($i);
         |    double $yi = $y.getDouble($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** The kernel: the interpreted path and the API's serving snapshot
    * call it, and the generated code above is its line-for-line Java
    * twin. */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    if (x.length != y.length) return Double.NaN
    val n = x.length
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i)
      val yi = y(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column API: inputs must already be ARRAY<DOUBLE> (callers cast). */
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
