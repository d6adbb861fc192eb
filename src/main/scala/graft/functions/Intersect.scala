package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Distinct-intersection size of two SORTED long arrays, as one fused
  * codegen'd merge — the exact-Jaccard verifier's kernel.
  *
  * `size(array_intersect(a, b))` builds a hash set of one side and an
  * intersection ARRAY per evaluated pair; at verification volume
  * (millions of candidate pairs, each with shingle sets of hundreds of
  * longs) the per-pair allocation and hashing dominate the stage. With
  * both sets sorted ONCE at set-build time ([[ShingleSetExpr]] emits
  * them sorted), the count is a linear two-pointer merge with zero
  * allocation. Duplicate values count once on each side (merge skips
  * runs), matching `array_intersect`'s distinct semantics — though the
  * shingle sets this library feeds it are duplicate-free by
  * construction.
  *
  * Callers MUST pass sorted arrays; unsorted input undercounts.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val ys = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = xs.numElements()
    val m = ys.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = xs.getLong(i)
      val y = ys.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        c += 1
        val v = x
        while (i < n && xs.getLong(i) == v) i += 1
        while (j < m && ys.getLong(j) == v) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xs, ys) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val v = ctx.freshName("v")
      s"""
      int $n = $xs.numElements();
      int $m = $ys.numElements();
      int $i = 0, $j = 0, $c = 0;
      while ($i < $n && $j < $m) {
        long $x = $xs.getLong($i);
        long $y = $ys.getLong($j);
        if ($x < $y) { $i++; }
        else if ($x > $y) { $j++; }
        else {
          $c++;
          long $v = $x;
          while ($i < $n && $xs.getLong($i) == $v) $i++;
          while ($j < $m && $ys.getLong($j) == $v) $j++;
        }
      }
      ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Intersect {

  /** Distinct-intersection size of two sorted long arrays. */
  def sortedCount(a: Column, b: Column): Column =
    Bridge.toColumn(SortedIntersectCountExpr(Bridge.toExpr(a), Bridge.toExpr(b)))
}
