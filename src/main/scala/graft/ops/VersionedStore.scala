package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** BatchId-VERSIONED parquet store segments — the restart-durable
  * ingest-store layout q206 introduced, factored out once q209 needed
  * it too. Layout: segment `init` (the standing corpus's artifact)
  * plus one `b<id>` segment per committed stream batch, written with
  * OVERWRITE, plus (round 16) at most one live COMPACTED generation
  * `c<j>` that physically folds `init + b<k<j>` into one key-laid-out
  * segment. The two invariants that make the layout durable with NO
  * driver-held state:
  *   - a probe for batch id reads only segments < id, so a REPLAYED
  *     batch (in-JVM foreachBatch re-run or a cross-restart WAL replay
  *     of a batch that wrote-then-died before its commit) re-probes
  *     the exact pre-fold snapshot by construction;
  *   - the fold OVERWRITES b<id> (and the drain replaces the kept
  *     result of batch id), so a replayed batch leaves ONE
  *     mutually-consistent result/store pair and nothing retains the
  *     crashed attempt's uncommitted outputs. Deterministic fold
  *     content (which the digest/band ingests have) makes the replay
  *     additionally bit-identical, but the overwrite is what replay
  *     safety rests on — the sem ingest's flooded-batch refinement is
  *     float-fit nondeterministic and still replays safely (code
  *     review r16; see semIngestTrigger's caveat).
  * Compaction preserves both: `c<j>` is SET-identical to the segments
  * it supersedes (a pure physical merge — segments are disjoint by the
  * ingest contract and the probes are set-semantics joins), and it is
  * only ever taken for j ≤ the probing batch id, so a probe reads the
  * same snapshot through either layout.
  * Content-agnostic: the span ingest (q206) stores digest rows, the
  * sig ingest (q209) stores band rows, the sem ingest (q210) stores
  * admitted reps. Two root listings per trigger — one for the merge
  * policy, one for the probe (each over ≤ maxSegments+2 entries);
  * reading scans the live segments — the probe's inherent cost.
  * WITHOUT compaction that cost
  * grows with trigger count (one tiny segment per trigger, per-file
  * open overhead ∝ T); [[maintain]] bounds live segments at
  * maxSegments+1 (Lucene's merge-policy shape), so per-trigger
  * probe cost stays flat in trigger count (measured over 30 triggers:
  * BASELINE.md, "VersionedStore merge policy probe"). */
object VersionedStore {

  /** Write the standing corpus's artifact as segment `init`
    * (overwrite — idempotent if the caller retries setup). `parts > 0`
    * coalesces the segment to that file count (guide §6 output sizing,
    * r17): the staging pipelines otherwise hand over a cores-wide
    * layout, and EVERY subsequent trigger's probe pays one scan task
    * per tiny init file. Ingest callers pass their drain's adaptive
    * partition count so the init layout matches the per-trigger read. */
  def init(df: DataFrame, root: String, parts: Int = -1): Unit =
    (if (parts > 0) df.coalesce(parts) else df)
      .write.mode("overwrite").parquet(s"$root/init")

  /** The store AS OF batch `id`: the newest compacted generation c<j>
    * with j ≤ id (else `init`) plus every b<k> with j ≤ k < id. */
  def before(spark: SparkSession, root: String, id: Long): DataFrame =
    spark.read.parquet(segmentsBefore(spark, root, id): _*)

  /** Fold a batch's delta in as segment b<id> (replay-idempotent
    * overwrite). */
  def write(df: DataFrame, root: String, id: Long): Unit =
    df.write.mode("overwrite").parquet(s"$root/b$id")

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def segId(n: String, prefix: Char): Option[Long] =
    if (n.length > 1 && n.head == prefix) n.drop(1).toLongOption else None

  /** The live segment paths a probe for batch `id` reads (see
    * [[before]]); also the [[maintain]] policy's segment count. A
    * half-written compaction (`.c<j>.tmp`, never renamed) is invisible
    * here — only a fully-renamed c<j> is ever read. */
  private[graft] def segmentsBefore(spark: SparkSession, root: String,
      id: Long): Seq[String] = {
    val (fs, p) = fsOf(spark, root)
    val names = fs.listStatus(p).toSeq.map(_.getPath)
    val floor = names.flatMap(d => segId(d.getName, 'c')).filter(_ <= id)
      .sorted.lastOption
    names.filter { d =>
      val n = d.getName
      floor match {
        case Some(j) => n == s"c$j" ||
          segId(n, 'b').exists(k => k >= j && k < id)
        case None => n == "init" || segId(n, 'b').exists(_ < id)
      }
    }.map(_.toString)
  }

  /** Fold every segment below `upTo` into ONE compacted generation
    * c<upTo>, hash-laid-out on `keys` (nBuckets output files, sorted
    * within each by the keys — the digest-/band-key locality blind
    * appends erode) and GC the superseded segments. Raw parquet
    * carries no catalog bucket spec, so this removes the probe's
    * listing/open cost and restores one sorted run per hash partition,
    * NOT the join shuffle — a shuffle-free serving tier needs a
    * bucketed TABLE store (`bucketBy` + `saveAsTable`; measured
    * store-shuffle-free at 100× in BASELINE.md round 14).
    *
    * Crash-safe (the LSM-manifest order): the folded copy is fully
    * written to a hidden `.c<upTo>.tmp` dir, then RENAMED to c<upTo> —
    * atomic on posix/HDFS (document: an object store without atomic
    * dir rename needs a marker protocol instead) — and only then are
    * the superseded segments deleted. A crash before the rename leaves
    * the old layout fully live (the tmp dir is invisible to
    * [[segmentsBefore]] and overwritten on retry); a crash after it
    * leaves BOTH copies readable but [[segmentsBefore]] already
    * prefers c<upTo>, and the GC re-runs idempotently on the next
    * compaction or [[gc]] call.
    *
    * REPLAY SAFETY (caller contract): `upTo` must not exceed the id of
    * the batch currently being processed — segments ≥ the current
    * batch id may belong to an uncommitted write whose replay needs
    * the pre-fold snapshot. The ingest triggers call this with
    * upTo = their own batch id at the START of the hook: every segment
    * strictly below is committed (foreachBatch is sequential), and a
    * replay of the current batch reads c<id>, set-identical to the
    * layout it first probed. */
  private[graft] def compact(spark: SparkSession, root: String, upTo: Long,
      keys: Seq[String], nBuckets: Int = 32): Unit = {
    val (fs, p) = fsOf(spark, root)
    val target = new Path(p, s"c$upTo")
    if (!fs.exists(target)) {
      val segs = segmentsBefore(spark, root, upTo)
      val tmp = new Path(p, s".c$upTo.tmp")
      spark.read.parquet(segs: _*)
        .repartition(nBuckets, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(tmp, target),
        s"compaction rename failed: $tmp -> $target")
    }
    gc(spark, root)
  }

  /** Delete segments superseded by the newest compacted generation
    * (plus any orphaned compaction tmp dir). Idempotent; safe to
    * re-run after a crash at any point. */
  private[graft] def gc(spark: SparkSession, root: String): Unit = {
    val (fs, p) = fsOf(spark, root)
    val names = fs.listStatus(p).toSeq.map(_.getPath)
    val cIds = names.flatMap(d => segId(d.getName, 'c'))
    names.foreach { d =>
      val n = d.getName
      val stale = n.startsWith(".c") ||
        cIds.nonEmpty && (n == "init" ||
          segId(n, 'b').exists(_ < cIds.max) ||
          segId(n, 'c').exists(_ < cIds.max))
      if (stale) fs.delete(d, true)
    }
  }

  /** The merge policy: compact everything
    * below the current batch `id` iff the probe at `id` would read
    * more than `maxSegments` live segments. Called at the start of an
    * ingest trigger, this bounds what any probe reads at
    * maxSegments+1 segments while amortizing the ∝-store rewrite over
    * maxSegments blind ∝-batch appends. Returns true iff the
    * compaction fired (StreamingSpec pins that a mid-stream compact
    * leaves the multi-trigger result bit-identical). */
  private[graft] def maintain(spark: SparkSession, root: String, id: Long,
      keys: Seq[String], maxSegments: Int = 8, nBuckets: Int = 32)
      : Boolean = {
    val fire = segmentsBefore(spark, root, id).size > maxSegments
    if (fire) compact(spark, root, id, keys, nBuckets)
    fire
  }
}
