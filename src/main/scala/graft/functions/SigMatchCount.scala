package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native Catalyst expression counting positionally-equal components of
  * two array<string> MinHash signatures — the numerator of the banded
  * Jaccard estimate (matches / K) that every portable-family near-dup
  * query evaluates once per CANDIDATE PAIR.
  *
  * Same rationale as [[JaccardSorted]]/[[CosineSim]], but the shape it
  * replaces is worse than a UDF: `aggregate(zip_with(a, b, when(x===y,
  * 1, 0)), 0, acc+x)` is two interpreted higher-order functions that
  * allocate an intermediate array and evaluate four lambda-bound
  * expressions per component per row — at the round-8 100× probe scale
  * that is ~10⁸ candidate pairs × 16 components of interpreted
  * evaluation sitting inside an otherwise codegen'd join stage.
  * `doGenCode` emits the count as one fused primitive loop (UTF8String
  * equality — byte comparison, no allocation).
  *
  * Result is the exact INTEGER the HOF chain produced — downstream
  * `/16.0` and `round(_, 6)` are unchanged, so every oracle hash is
  * preserved bit-for-bit. Null array → null (the HOF chain's est was
  * null → filtered; candidates never have null sigs by construction).
  * A null COMPONENT counts as no-match on either side — `x === y` is
  * null ⟶ 0 in the when() it replaces. */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftShims.AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) &&
        x.getUTF8String(i).equals(y.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getUTF8String($i).equals($b.getUTF8String($i))) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SigMatchCount {
  /** Column-API entry point: sigMatchCount($"sig_a", $"sig_b"). */
  def sigMatchCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(SigMatchCount(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))
}
