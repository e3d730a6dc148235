package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd vector kernels for the similarity-search hot path.
  *
  * `aggregate(zip_with(...))` higher-order functions are interpreted
  * per-row closures in Spark — they sit outside whole-stage codegen
  * and box every element. These expressions generate a primitive
  * `float` loop inline in the WholeStageCodegen body instead, with
  * IDENTICAL numeric semantics to the HOF fold the oracle mirrors:
  * sequential left-to-right accumulation, each element widened
  * float→double before the combine (so results are bit-identical and
  * the DuckDB-oracle hash parity carries over unchanged).
  *
  * At 100 TB the exact re-rank inside each ANN bucket is millions of
  * 64-dim dot products per partition — a boxed fold there is the
  * difference between compute-bound and allocation-bound.
  */

/** Shared scaffold for binary element-fold kernels (dot product,
  * squared L2): the widening rule, the zip_with null/length parity
  * contract, and the codegen loop shell live HERE, once — subclasses
  * supply only the per-element combine (interpreted + codegen
  * spellings, which must be the same arithmetic). */
abstract class BinaryVectorFold extends BinaryExpression {

  /** acc += combine(x, y), elements already widened to double. */
  protected def combine(x: Double, y: Double): Double
  /** Java source for the same combine; x/y are double-typed exprs. */
  protected def combineCode(x: String, y: String): String

  private def elem(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elem(left).isDefined && elem(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects float/double arrays, got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def read(x: ArrayData, t: DataType, i: Int): Double =
    if (t == FloatType) x.getFloat(i).toDouble else x.getDouble(i)

  /** HOF-fold parity: `aggregate(zip_with(a, b, ...))` yields NULL when
    * the lengths differ (zip_with null-pads) or any element is null —
    * so does this. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (tl, tr) = (elem(left).get, elem(right).get)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += combine(read(x, tl, i), read(y, tr, i))
      i += 1
    }
    acc
  }

  private def getter(t: DataType, arr: String, i: String): String =
    if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = ${getter(elem(left).get, a, i)};
         |    final double $yv = ${getter(elem(right).get, b, i)};
         |    $acc += ${combineCode(xv, yv)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** `vec_dot(a, b)` — sequential float→double dot-product fold. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryVectorFold {
  override def prettyName: String = "vec_dot"
  override protected def combine(x: Double, y: Double): Double = x * y
  override protected def combineCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `vec_l2sq(a, b)` — squared Euclidean distance, the product-
  * quantization kernel: sequential fold of (a_i − b_i)², each element
  * widened float→double BEFORE the subtract, mirroring the oracle's
  * long-format SUM((a-b)*(a-b)) term-for-term. The PQ encode/ADC hot
  * path runs this once per (vector, subspace, centroid). */
case class VecL2Sq(left: Expression, right: Expression)
    extends BinaryVectorFold {
  override def prettyName: String = "vec_l2sq"
  override protected def combine(x: Double, y: Double): Double = {
    val d = x - y; d * d
  }
  override protected def combineCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** `vec_norm(a)` — L2 norm, same sequential float/double→double fold
  * (element type float OR double, like [[VecDot]]). */
case class VecNorm(child: Expression)
    extends UnaryExpression {

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_norm expects array<float> or array<double>, got ${child.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val t = elemType.get
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = if (t == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val get = if (elemType.get == FloatType) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = $get;
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

object VectorExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def vec_norm(a: Column): Column =
    ColumnBridge.column(VecNorm(ColumnBridge.expression(a)))
  def vec_l2sq(a: Column, b: Column): Column =
    ColumnBridge.column(VecL2Sq(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine similarity, the one spelling every embedding query ranks
    * on: a plain composition of [[vec_dot]] and [[vec_norm]] (no new
    * expression), so it carries their fold order and null rules: a
    * null input gives null, and a zero vector divides by zero (an
    * error under ANSI mode, null without it). */
  def vec_cos(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))
}
