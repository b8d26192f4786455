package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast,
  Expression, Literal, ShiftLeft}
import org.apache.spark.sql.types.LongType

/** Physical data-layout operators — the write-side half of the 100 TB
  * posture. Scan-side pruning (partition filters, row-group min/max
  * skipping) only pays off if the writer clustered related rows
  * together; these produce that layout.
  *
  * - [[clusteredWrite]]: range-partition + sort-within-partitions so
  *   each output file covers a narrow, non-overlapping key range →
  *   parquet footer min/max stats prune whole files for key predicates.
  * - [[zorderKey]]: Morton-interleave two dimensions into one sort key
  *   so a single clustering serves predicates on EITHER dimension —
  *   the multi-dimensional generalization of range clustering.
  * - [[compact]]: bound output file size (the small-files problem: a
  *   100 TB table written from 10⁵ tasks with no bound produces file
  *   counts that break listing and planning).
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

  /** Range-cluster `df` into `nFiles` sorted, non-overlapping key
    * ranges and write one file per range. Parquet records per-column
    * min/max per file and row group; a later scan with a predicate on
    * `keys` prunes every file whose range misses — without reading it.
    * (repartitionByRange samples the key distribution, so ranges are
    * equi-depth, not equi-width: skew in the key does not skew files.) */
  def clusteredWrite(df: DataFrame, path: String, nFiles: Int,
      keys: Column*): Unit =
    df.repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)

  /** Rewrite `df` with bounded file sizes: at most `maxRecordsPerFile`
    * rows per output file (Spark splits a task's output as it crosses
    * the bound). `nPartitions` bounds the file COUNT from below — one
    * task writes ≥ 1 file — so pick it as totalRows / maxRecordsPerFile
    * rounded up for even sizing. */
  def compact(df: DataFrame, path: String, nPartitions: Int,
      maxRecordsPerFile: Long): Unit =
    df.repartition(nPartitions)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
}
