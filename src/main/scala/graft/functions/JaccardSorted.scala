package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for exact Jaccard similarity of two
  * SORTED DISTINCT array<bigint> columns (hashed shingle sets — the
  * q42 ground-truth measure).
  *
  * Same rationale as [[CosineSim]]: a UDF splits the enclosing
  * WholeStageCodegen span and converts both arrays to external Seqs per
  * row; `doGenCode` emits the two-pointer merge INLINE — primitive
  * long[] access, no boxing, the verify filter stays in the fused loop.
  * The merge is O(|a|+|b|) with no per-row hash set (vs
  * `array_intersect`), and division is a single int/int IEEE op —
  * bit-identical to the UDF path it replaces and to any engine
  * computing |∩|/|∪| on the same sets.
  *
  * Inputs MUST be sorted ascending with distinct elements; unsorted input
  * undercounts the intersection. Null if either side is null. Two
  * empty arrays → 0/0 = NaN, matching the UDF it replaces.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.GraftShims.AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    val y = b.asInstanceOf[ArrayData].toLongArray()
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    inter.toDouble / (x.length + y.length - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      s"""
         |long[] $x = $a.toLongArray();
         |long[] $y = $b.toLongArray();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $x.length && $j < $y.length) {
         |  if ($x[$i] == $y[$j]) { $inter++; $i++; $j++; }
         |  else if ($x[$i] < $y[$j]) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = ((double) $inter) / ($x.length + $y.length - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSorted {
  /** Column-API entry point: jaccardSorted($"a", $"b"). */
  def jaccardSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(JaccardSorted(
      org.apache.spark.sql.GraftShims.expression(a),
      org.apache.spark.sql.GraftShims.expression(b)))
}
