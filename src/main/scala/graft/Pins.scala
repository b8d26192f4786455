package graft

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one route that decides who releases the executor storage a
  * builder acquires (its caches and stage checkpoints), and when.
  * There are two conventions:
  *
  *  - Scoped. A builder that materializes what it returns (a collected
  *    answer, a `localCheckpoint`ed result) acquires through
  *    [[Pins.scoped]]. Every frame still held is released when the
  *    body returns or throws. [[release]] frees one earlier, so an
  *    iterative loop holds only the rounds it still reads. A frame the
  *    body makes without the pins, such as its `localCheckpoint`ed
  *    result, is not touched and outlives the scope, as does a held
  *    frame the body hands over with [[keep]].
  *  - Lazy plan. A builder that returns a plan reading its own caches
  *    cannot release them: they must outlive the plan's execution. It
  *    persists with a plain `persist()`, or through [[Pins.forPlan]],
  *    which holds nothing. The harness frees them: Verify, Bench and
  *    the plan audit run each query inside [[SparkEntry.releasing]].
  *
  * Neither convention clears the session's SQL cache, so a frame the
  * caller cached stays cached.
  */
final class Pins private (holding: Boolean) {
  // each held frame, and whether it is a checkpoint (else a cache)
  private val held = mutable.ArrayBuffer.empty[(DataFrame, Boolean)]

  /** `df`, cached unless it already has a storage level. Such a frame
    * is the caller's: it is returned as it is and never released
    * here. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      if (holding) held += (df -> false)
    }
    df
  }

  /** `df` materialized at a stage boundary
    * ([[graft.ops.ScaleOps.stageCheckpoint]]), the result held. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = graft.ops.ScaleOps.stageCheckpoint(df)
    if (holding) held += (c -> true)
    c
  }

  /** Frees the held frame `df` now: a cache through `unpersist`, a
    * checkpoint's blocks directly (`unpersist` frees nothing there).
    * Only once every consumer of `df` has materialized: a checkpoint
    * has no lineage to recompute from. */
  def release(df: DataFrame): Unit = {
    val i = held.indexWhere(_._1 eq df)
    if (i >= 0) Pins.free(held.remove(i))
  }

  /** `df`, no longer held: it outlives the scope, and the plan that
    * reads it (or the harness) owns it from here. */
  def keep(df: DataFrame): DataFrame = {
    held.filterInPlace(_._1 ne df)
    df
  }
}

object Pins {
  /** `body` with fresh pins, whose frames are all released when `body`
    * returns or throws. */
  def scoped[T](body: Pins => T): T = {
    val p = new Pins(holding = true)
    try body(p)
    finally {
      p.held.foreach(free)
      p.held.clear()
    }
  }

  /** The lazy-plan convention's pins: they persist and checkpoint like
    * scoped ones but hold nothing, so `release` is a no-op and the
    * harness frees what they acquired. For the helpers that scoped and
    * lazy callers both compose. */
  val forPlan: Pins = new Pins(holding = false)

  private def free(h: (DataFrame, Boolean)): Unit =
    if (h._2) freeCheckpoint(h._1) else h._1.unpersist()

  /** Frees the blocks behind a checkpointed frame: the RDDs of its
    * `LogicalRDD` leaves. Same precondition as [[Pins#release]]. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
