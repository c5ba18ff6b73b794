package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd sorted-merge intersection of two ASCENDING-sorted long arrays
  * (graph adjacency lists, shingle-id sets).
  *
  * `array_intersect` builds a hash structure over one side on EVERY
  * evaluation — per edge in the triangle enumeration, per candidate pair in
  * the dedup verify — and its generic path churns boxed objects. For inputs
  * that are already sorted and duplicate-free (the staged oriented-adjacency
  * arrays are written through sort_array; shingle-id doc arrays are sorted at
  * collect time by their consumers), the intersection is one allocation-free
  * merge pass: O(|a|+|b|) long comparisons in a tight JIT'd loop, no hash
  * set, no boxing. Result order (ascending) differs from array_intersect's
  * (left-operand order) but every consumer is order-invariant (size() or
  * explode-then-aggregate). Same result MULTISET for sorted unique null-free
  * inputs — the precondition every call site's staged artifact guarantees,
  * and which both eval paths check over every element of both operands
  * ([[SortedArrays.requireAscending]]): an unsorted or duplicate-bearing
  * array would silently over- or under-count, so it raises instead.
  *
  * VERDICT r16 #2 realized (the VecDot precedent: SURVEY §2-J
  * expression_custom_note).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_intersect"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    SortedArrays.requireAscending(x, prettyName, "left")
    SortedArrays.requireAscending(y, prettyName, "right")
    val (n1, n2) = (x.numElements(), y.numElements())
    val buf = new Array[Long](math.min(n1, n2))
    var i = 0; var j = 0; var k = 0
    while (i < n1 && j < n2) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { buf(k) = xv; k += 1; i += 1; j += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(buf, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val n1 = ctx.freshName("n1"); val n2 = ctx.freshName("n2")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val buf = ctx.freshName("buf")
      s"""
         |${SortedArrays.checkCode(a, b, prettyName)}
         |final int $n1 = $a.numElements();
         |final int $n2 = $b.numElements();
         |final long[] $buf = new long[java.lang.Math.min($n1, $n2)];
         |int $i = 0, $j = 0, $k = 0;
         |while ($i < $n1 && $j < $n2) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $buf[$k++] = $xv; $i++; $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $k));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

/** |a ∩ b| for ASCENDING-sorted unique null-free long arrays — the
  * allocation-free count twin of [[SortedIntersect]] for consumers that
  * only need the intersection size (triangle counting, exact-Jaccard
  * common counts): no result array is ever materialized. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    SortedArrays.requireAscending(x, prettyName, "left")
    SortedArrays.requireAscending(y, prettyName, "right")
    val (n1, n2) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var k = 0L
    while (i < n1 && j < n2) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { k += 1L; i += 1; j += 1 }
    }
    k
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val n1 = ctx.freshName("n1"); val n2 = ctx.freshName("n2")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |${SortedArrays.checkCode(a, b, prettyName)}
         |final int $n1 = $a.numElements();
         |final int $n2 = $b.numElements();
         |int $i = 0, $j = 0;
         |long $k = 0L;
         |while ($i < $n1 && $j < $n2) {
         |  final long $xv = $a.getLong($i);
         |  final long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $k++; $i++; $j++; }
         |}
         |${ev.value} = $k;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** The precondition of [[SortedIntersect]] and [[SortedIntersectCount]]:
  * each operand strictly ascending over ALL of its elements (sorted and
  * duplicate-free). Checked on every evaluation, interpreted and codegen'd
  * alike — one O(n) pass per operand beside the O(n1+n2) merge. */
object SortedArrays {
  def requireAscending(arr: ArrayData, fn: String, side: String): Unit = {
    var i = 1
    while (i < arr.numElements()) {
      if (arr.getLong(i) <= arr.getLong(i - 1))
        throw new IllegalArgumentException(
          s"$fn requires strictly ascending (sorted, duplicate-free) arrays: " +
            s"$side operand element $i (${arr.getLong(i)}) does not exceed " +
            s"element ${i - 1} (${arr.getLong(i - 1)})")
      i += 1
    }
  }

  /** The codegen call of [[requireAscending]] on both operands. */
  private[functions] def checkCode(a: String, b: String, fn: String): String =
    s"""graft.functions.SortedArrays.requireAscending($a, "$fn", "left");
       |graft.functions.SortedArrays.requireAscending($b, "$fn", "right");""".stripMargin
}
