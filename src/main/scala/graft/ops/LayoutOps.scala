package graft.ops

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast,
  Expression, Literal, ShiftLeft}
import org.apache.spark.sql.types.LongType

/** Physical data-layout operators: [[zorderKey]] Morton-interleaves two
  * dimensions into one sort key so a single clustering serves
  * predicates on EITHER dimension (parquet footer min/max stats then
  * prune files for a predicate on either key).
  */
object LayoutOps {

  /** Morton (Z-order) key: bit-interleave two 32-bit non-negative keys
    * into one 64-bit key (a's bits at even positions, b's at odd).
    * Sorting by this key gives locality in BOTH dimensions: any 2ᵏ×2ᵏ
    * aligned square of (a,b) space is a contiguous key range. Built
    * from 5 magic-mask spread steps per column — a ~30-node codegen'd
    * expression, not a per-bit loop. */
  def zorderKey(a: Column, b: Column): Column =
    GraftShims.column(zorderKeyExpr(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** [[zorderKey]] as a Catalyst expression; SQL's `zorder_key` builds
    * the same one ([[graft.GraftExtensions.install]]). */
  private[graft] def zorderKeyExpr(a: Expression, b: Expression): Expression =
    BitwiseOr(spreadExpr(a), ShiftLeft(spreadExpr(b), Literal(1)))

  /** Spread the low 32 bits of `e` to the even bit positions of a long
    * (…b₂b₁b₀ → …0b₂0b₁0b₀) via the standard mask-doubling ladder. */
  private def spreadExpr(e: Expression): Expression = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL),
      (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL),
      (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft[Expression](
      BitwiseAnd(Cast(e, LongType), Literal(0xFFFFFFFFL))) {
      case (x, (shift, mask)) =>
        BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(shift))), Literal(mask))
    }
  }
}
