package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** |a ∩ b| for two SORTED, DISTINCT array<bigint> columns as a single
  * primitive merge scan.
  *
  * The built-in `size(array_intersect(a, b))` builds a hash set and an
  * output array per row — in the n² verify stage of pair-wise dedup
  * that allocation dominates. Sorted inputs admit a no-allocation
  * two-pointer count, generated as a tight Java loop.
  *
  * Caller contract: both arrays sorted ascending with distinct elements
  * (graft's shingle sets are `array_sort(array_distinct(...))`-shaped by
  * construction). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<bigint> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  // the same scan as [[SortedIntersectCount.count]], inlined
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** The kernel: the two-pointer count over `x` and `y`, each sorted
    * ascending. Interpreted evaluation and driver-side verifies
    * ([[graft.dedup.Dedup.minhashPairs]]) call it. */
  def count(x: ArrayData, y: ArrayData): Long = {
    val (n, m) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)), "built-in")
}
