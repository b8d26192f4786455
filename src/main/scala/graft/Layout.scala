package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}

/** The one layout policy: every partition count the engine picks is
  * ⌈work ÷ grain⌉ ([[parts]]). Work is a row count the caller already
  * has (a count that materialized a cache) or a frame's input bytes
  * ([[inputBytes]], from the listing its read already made). The
  * grains are the named constants below. Counts come from the data
  * alone, so they grow with it, except for the state cap in
  * [[stateParts]].
  *
  * An iterative loop coalesces its cached frame to [[parts]] of its
  * rows: the coalesce reads the cache without a shuffle and never
  * raises the count. Each round re-scans the cache, whose layout is
  * pinned (AQE cannot re-coalesce a cached plan), so a wider layout
  * costs one overhead task per partition per round.
  *
  * Everywhere else the scan's own splits are the layout: a cores-wide
  * repartition would pay a build-time plan, a local sort and a
  * round-robin shuffle, and pin every downstream stage to one task per
  * core whatever the data (AQE never coalesces an explicit count).
  */
object Layout {
  /** Rows per task of hash-probe and aggregate work over a cached
    * frame: the graph rounds. */
  val RowGrain: Long = 262144L

  /** Rows per task of per-row vector work: a k·d argmin (Lloyd rounds),
    * or a pair explode and symbol rewrite (BPE merges). */
  val VectorGrain: Long = 65536L

  /** Rows per task of one dim-length dot per row: LR epochs. */
  val DotGrain: Long = 1L << 20

  /** Input bytes per partition of a streaming drain's state. */
  val StateGrain: Long = 8L << 20

  /** Input bytes per task of CPU-heavy per-row work ([[spread]]). */
  val SpreadGrain: Long = 64L << 10

  /** ⌈work ÷ grain⌉, at least `floor` and at most `cap`. */
  def parts(work: Long, grain: Long, floor: Int = 1,
      cap: Long = Long.MaxValue): Int =
    math.max(floor.toLong, math.min((work + grain - 1L) / grain, cap)).toInt

  /** Shuffle and state partitions of one streaming drain over the
    * table `source`: ⌈input bytes ÷ [[StateGrain]]⌉, at least 2 and at
    * most 4× the cluster's width. Each stateful operator keeps one
    * store per partition and pays its commit per trigger, streaming
    * has no AQE to coalesce them, and the count is frozen into the
    * checkpoint at first start; stores beyond the cap buy no
    * parallelism, only commits. The floor keeps multi-partition state
    * exercised. */
  def stateParts(source: DataFrame): Int =
    parts(inputBytes(source), StateGrain, floor = 2,
      cap = 4L * source.sparkSession.sparkContext.defaultParallelism)

  /** Task count for CPU-heavy per-row work over `df`'s file input:
    * ⌈input bytes ÷ [[SpreadGrain]]⌉ below one scan split
    * (`spark.sql.files.maxPartitionBytes`), else the split count. */
  def spreadParts(df: DataFrame): Int = {
    val (bytes, split) = (inputBytes(df), maxSplitBytes(df))
    parts(bytes, if (bytes < split) SpreadGrain else split)
  }

  /** `df` repartitioned to [[spreadParts]] when its file input is
    * smaller than one scan split, which reads as one task; otherwise
    * `df` as is. For per-row work heavy enough that one task per split
    * serializes the query. Starts no job. */
  def spread(df: DataFrame): DataFrame = {
    val bytes = inputBytes(df)
    val n = parts(bytes, SpreadGrain)
    if (bytes < maxSplitBytes(df) && n > 1) df.repartition(n) else df
  }

  private def maxSplitBytes(df: DataFrame): Long =
    df.sparkSession.sessionState.conf.filesMaxPartitionBytes

  /** Bytes of every file `df` reads, summed over its file-relation
    * leaves (a table read twice counts twice); 0 for a frame with none. */
  def inputBytes(df: DataFrame): Long = inputFiles(df).map(_.getLen).sum

  /** Every leaf file of `df`'s file relations, from the listing the
    * read already made. */
  private[graft] def inputFiles(df: DataFrame): Seq[FileStatusWithMetadata] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.listFiles(Nil, Nil).flatMap(_.files)
      case _ => Nil
    }
}
