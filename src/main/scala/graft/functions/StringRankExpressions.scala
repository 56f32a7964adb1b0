package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Rank-bucket assignment for STRING columns against a broadcast array of
  * sampled quantile cut points — the string half of the Z-order key
  * (round 17, verdict r16 #2).
  *
  * Numeric Z-dimensions normalize by global [min, max]; strings have no
  * usable arithmetic span (a domain column's byte-values cluster in a
  * hair-thin band of the lexicographic space — "https://..." prefixes —
  * so a min/max-scaled byte prefix collapses every row into a handful of
  * cells). RANK against sampled quantiles is the standard fix and the
  * same statistic Spark's own `repartitionByRange` draws: cut points are
  * equal-frequency, so cells are balanced by construction no matter how
  * skewed the value distribution.
  *
  * The expression is a binary-ordering lower-bound search over the cut
  * array, compiled into whole-stage codegen (the rewrite's shuffle key
  * must not fall out of codegen — the layout pass is a full-table
  * shuffle). Comparison is [[UTF8String.compareTo]] — Spark's binary
  * UTF8 collation, the SAME ordering the stats fragments' `min(col)`/
  * `max(col)` and the read side's `>=`/`<=` use, so a layout produced
  * here is exactly the layout [[graft.operators.Merge.readTableWhere]]
  * prunes best on with string bounds.
  */
case class StringRankBucket(child: Expression, cuts: Array[UTF8String])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(v: Any): Any =
    StringRankBucket.bucketOf(cuts, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cutsRef = ctx.addReferenceObj("cuts", cuts,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.StringRankBucket.bucketOf($cutsRef, $v)")
  }
}

object StringRankBucket {
  /** Number of cut points strictly below-or-equal: the bucket index in
    * [0, cuts.length]. Hand-rolled lower bound (not
    * `Arrays.binarySearch`) so ties against duplicate cuts resolve
    * deterministically. Static and branch-light — called once per row
    * from generated code. */
  def bucketOf(cuts: Array[UTF8String], v: UTF8String): Int = {
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts(mid).compareTo(v) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Column face: the rank bucket of `c` against `cuts`, with NULLs to
    * bucket 0 (they sort first and a BETWEEN never matches them — the
    * numeric dimensions' convention). */
  def rank(c: Column, cuts: Array[UTF8String]): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    import org.apache.spark.sql.graftshim.ColumnBridge
    coalesce(
      ColumnBridge.column(StringRankBucket(ColumnBridge.expression(c), cuts)),
      lit(0))
  }
}
