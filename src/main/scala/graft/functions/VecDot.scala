package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product of two float arrays — cosine similarity on the
  * unit-norm embedding fixtures (FIXTURES.md).
  *
  * This is SURVEY.md §2-J's `expression_custom_note` realized: the
  * zip_with+aggregate higher-order-function formulation is semantically
  * identical but runs outside whole-stage codegen and boxes every element —
  * ~25× slower on the all-pairs similarity join. The generated loop reads
  * the underlying UnsafeArrayData directly and accumulates in ascending
  * index order, bit-identical to the sequential HOF fold (and DuckDB's
  * list_dot_product), so 6dp-rounded oracle parity is preserved.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float>/array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // element accessors specialized per input's element type (round 5: the
  // expression generalized to double arrays so derived vectors — k-means
  // centroids, normalized embeddings — stay on the codegen path)
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
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
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, e: Expression): String =
        if (isFloat(e)) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, left)} * ${get(b, right)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd exact integer dot product of two int arrays (long result) —
  * the scoring loop of int8-quantized vector search (§2-Q
  * vector_quantized_topk). Integer accumulation is associative, so unlike
  * the float path there is no order-sensitivity at all; the codegen win
  * over the boxed zip_with/aggregate fold is the same as VecDot's. */
case class VecDotInt(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_int expects (array<int>, array<int>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "vec_dot_int"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getInt(i).toLong * y.getInt(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotInt =
    copy(left = newLeft, right = newRight)
}

/** Registry for graft's native Catalyst expressions. */
object GraftFunctions {
  /** Every native expression as (SQL name, implementing class, builder):
    * the one list both `register` and `GraftExtensions` install. */
  val table: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], e => VecDot(e.head, e(1))),
    ("vec_dot_int", classOf[VecDotInt], e => VecDotInt(e.head, e(1))),
    ("poly_hash", classOf[PolyTokenHash], e => PolyTokenHash(e.head)),
    ("lsh_bands", classOf[LshBands], e => CosineLsh.build(e)),
    ("bigrams", classOf[TokenBigrams], e => TokenBigrams(e.head)),
    ("sorted_intersect", classOf[SortedIntersect],
      e => SortedIntersect(e.head, e(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      e => SortedIntersectCount(e.head, e(1))))

  private[functions] def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register every `table` entry the session does not already resolve
    * (from an earlier call or from `GraftExtensions`), so `expr("vec_dot(a,b)")`
    * works; safe to call at the top of every query builder. */
  def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    table.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name, cls), build)
    }
  }
}

/** The idiomatic library packaging of graft's Catalyst surface: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` and every session
  * built from that config resolves `vec_dot` with no registration call —
  * the injection point a deployed 100 TB cluster would use (cluster-wide
  * defaults in spark-defaults.conf, not per-notebook register calls).
  * Injection happens at session build, before any query parses. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        GraftFunctions.info(name, cls), build))
    }
    // whole-operator surface: the native per-group top-k and as-of join
    // strategies (graft.plans) ride the same cluster-wide injection point
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
