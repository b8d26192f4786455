package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for squared L2 distance over two
  * array<double> columns — the codegen'd replacement for the former
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, acc+v)` HOF
  * chain in [[graft.ops.Clustering.l2sq]] (the [[CosineSim]] rationale:
  * higher-order-function lambdas evaluate INTERPRETED per element, and
  * the k-means population audit evaluates the distance once per
  * (vector, centroid) pair — measured as the dominant CPU of q108's
  * final assign stage, r17 QTime profile).
  *
  * Summation order is ascending-index with d += (x-y)*(x-y) — the exact
  * IEEE op sequence of both the HOF fold it replaces and the driver-side
  * [[graft.ops.Clustering.l2sqLocal]], so engine- and driver-ranked
  * distances stay bit-identical (L2SqSpec pins the codegen and
  * interpreted paths against `l2sqLocal`, and against the HOF form on
  * null-free, equal-length arrays).
  *
  * Null semantics: null if either array is null (BinaryExpression's
  * null-intolerant default). A null ELEMENT is read as 0.0
  * (`ArrayData.toDoubleArray` reads a null slot as 0.0 in both paths), so
  * such a pair yields a finite distance, where the HOF form returned
  * null. Arrays of different lengths use the common prefix, matching
  * [[graft.ops.Clustering.l2sqLocal]]; every caller compares equal-dim
  * vectors (the zip_with form it replaces returned null there —
  * unreachable, no caller compares ragged arrays). L2SqSpec pins both.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftShims.AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    var d = 0.0
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) { val t = x(i) - y(i); d += t * t; i += 1 }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val t = ctx.freshName("t")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |double $d = 0.0;
         |int $n = $x.length < $y.length ? $x.length : $y.length;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $t = $x[$i] - $y[$i];
         |  $d += $t * $t;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  /** Column-API entry point: l2Sq($"a", $"b"). */
  def l2Sq(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(L2Sq(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))
}
