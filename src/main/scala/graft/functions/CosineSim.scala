package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * array<double> columns.
  *
  * Why an Expression and not a UDF: a Scala UDF is an opaque black box
  * to Catalyst — every call crosses a codegen boundary (the surrounding
  * WholeStageCodegen span is split and inputs are converted to external
  * Scala objects per row). `doGenCode` below instead emits the dot/norm
  * loop INLINE into the generated stage code: primitive double[] access,
  * no boxing, no conversion, and the enclosing filter/project pipeline
  * stays one fused loop. Summation order is ascending-index, identical
  * to the interpreted path and to [[graft.ops.Similarity]]'s UDF, so all
  * three produce bit-identical IEEE results.
  *
  * Null semantics: null if either array is null (BinaryExpression's
  * default null-intolerant contract); arrays of different lengths use
  * the common prefix (the caller guarantees equal dims in practice).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftShims.AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    var dp = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      dp += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i)
      i += 1
    }
    dp / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val dp = ctx.freshName("dp"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |double $dp = 0.0; double $na = 0.0; double $nb = 0.0;
         |int $n = $x.length < $y.length ? $x.length : $y.length;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dp += $x[$i] * $y[$i];
         |  $na += $x[$i] * $x[$i];
         |  $nb += $y[$i] * $y[$i];
         |}
         |${ev.value} = $dp / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API entry point: cosineSim($"a", $"b"). */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(CosineSim(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))
}
