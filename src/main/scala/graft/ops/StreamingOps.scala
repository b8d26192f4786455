package graft.ops

import graft.{Declared, Layout, Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoders => SqlEncoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import scala.jdk.CollectionConverters._

/** Latest-event state per (user_id, event_type) — the streaming shape of
  * the reference's Redis upsert (SURVEY.md §2.1 R10). */
case class EventRow(user_id: Long, event_type: String, event_id: Long, ts_us: Long)

/** [[StreamingOps.statefulUpsertTws]]'s processor: one schema'd
  * ValueState slot per key holding the current winner; merge rule
  * identical to the reference's (strictly-later wins, ties keep
  * existing — SURVEY.md §2.2 quirk 2, DataTransformationService.java:245). */
class LatestEventProcessor
    extends StatefulProcessor[(Long, String), EventRow, EventRow] {
  @transient private var latest: ValueState[EventRow] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    latest = getHandle.getValueState[EventRow]("latest",
      SqlEncoders.product[EventRow], TTLConfig.NONE)
  override def handleInputRows(key: (Long, String), rows: Iterator[EventRow],
      timerValues: TimerValues): Iterator[EventRow] = {
    var cur = if (latest.exists()) latest.get() else null
    rows.foreach { e =>
      if (cur == null || e.ts_us > cur.ts_us) cur = e
    }
    latest.update(cur)
    Iterator.single(cur)
  }
}

/** q28–q30 batch analogs + real Structured Streaming builders.
  *
  * `window()` / `session_window()` are batch-evaluable, so the batch
  * queries and the streaming drains share one aggregation builder each
  * ([[hourlyWindows]]: q28/q172; [[userSessions]]: q30/q194) — the
  * streaming side adds only state management. StreamingSpec drives the
  * builders through MemoryStream and asserts they equal the batch
  * analogs on identical data.
  */
object StreamingOps {

  private def valDec = col("value").cast("decimal(18,6)")

  /** Sum exactly in decimal (order-independent), emit as double: the
    * driver's hash-compare diverges on decimal OUTPUT columns even with
    * identical values and declared types (round-2 finding — all seven
    * decimal-emitting queries failed, all decimal-free ones passed).
    * The exact decimal sum converts to the same IEEE double in both
    * engines (unscaled magnitude < 2^53 at any plausible sf). */
  private def sumValue = sum(valDec).cast("double").as("sum_value")

  /** q28 — tumbling 1-hour windows: count + exact decimal sum per window.
    * Epoch-aligned starts (Spark window origin = epoch; oracle uses
    * time_bucket, also epoch-aligned for sub-day widths). */
  def q28Tumbling(spark: SparkSession, dir: String): DataFrame =
    hourlyWindows(Tables.events(spark, dir)).orderBy("ws_us")

  /** q28's and q172's aggregation over a batch or streaming events
    * frame: (ws_us, n_events, sum_value) per 1-hour tumbling window. */
  private[graft] def hourlyWindows(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(unix_micros(col("w.start")).as("ws_us"),
        col("n_events"), col("sum_value"))

  /** q29 — sliding windows (1 hour every 30 minutes): each event lands in
    * exactly 2 windows; Spark plans this as an Expand (2 rows per input)
    * before the hash aggregate — no per-window scan repetition. */
  def q29Sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(unix_micros(col("w.start")).as("ws_us"),
        col("n_events"), col("sum_value"))
      .orderBy("ws_us")

  /** q30 — session windows (30-minute gap) per user: a new session starts
    * when an event arrives ≥ gap after the previous one. Oracle mirrors
    * with the lag/flag/cumsum idiom. */
  def q30Session(spark: SparkSession, dir: String): DataFrame =
    userSessions(Tables.events(spark, dir)).orderBy("user_id", "start_us")

  /** q30's and q194's aggregation over a batch or streaming events
    * frame: (user_id, start_us, n_events, sum_value) per 30-minute-gap
    * session. */
  private[graft] def userSessions(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        col("n_events"), col("sum_value"))

  // ------------------------------------------------- streaming builders

  /** Stream-stream inner join with an event-time interval: each click
    * joins the purchases of the SAME user that happen within 1 hour
    * after it. Both sides carry watermarks and the join condition
    * bounds event-time distance, so each side's buffered state is
    * bounded (watermark + interval) and rows are evicted as the
    * watermark advances — the only shape under which Spark permits an
    * append-mode stream-stream join. Batch-evaluable too (same
    * expressions; the interval condition becomes a range join). */
  def streamingIntervalJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("c_id"), col("p_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
  }

  /** Streaming keyed upsert (the reference's Redis merge, R10) on Spark
    * 4.x's arbitrary-state API (`transformWithState` +
    * [[LatestEventProcessor]]): keep the latest event per (user_id,
    * event_type); ties favor existing state — the strict `Date.after`
    * rule (SURVEY.md §2.2 quirk 2). Emits the updated state row per
    * input batch. State is SCHEMA'd (encoder-backed, evolvable across
    * restarts), lives in the RocksDB state store (required by the API;
    * spills off-heap instead of growing the JVM heap), and never
    * expires (TTLConfig NONE, matching the reference's forever-lived
    * Redis keys; SURVEY.md §7.4). StreamingSpec pins the merge rule. */
  def statefulUpsertTws(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[EventRow]
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new LatestEventProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** An empty batch frame with the given schema — the analysis-only
    * probe both ingest operators (and their specs) use to derive the
    * drain's output schema without running a job (code review r15b:
    * the five-line boilerplate was triplicated, and one copy
    * re-READ its store from disk purely for the schema). */
  private[graft] def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  /** File-stream a parquet table that may be a single FILE (shipped
    * testdata) or a DIRECTORY of part files (any Spark-written table,
    * e.g. the replicated 10×–1000× scale tiers). The source requires
    * a directory path: for a file, stream the parent glob-filtered
    * down to the table; for a directory, stream the directory itself
    * — a glob on the parent would match nothing there, because
    * pathGlobFilter tests LEAF file paths (part-*.parquet), silently
    * producing an empty stream (found live by the 1000× probe on
    * q192). */
  private def tableStream(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val rdr = spark.readStream.schema(schema)
    if (fs.getFileStatus(path).isDirectory) rdr.parquet(path.toString)
    else rdr.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Drain an AvailableNow query DISTRIBUTED and CLEAN UP: foreachBatch
    * passes each trigger to `perBatch`, which returns the batch's result
    * already materialized in blocks on the EXECUTORS (the default hook
    * local-checkpoints the batch as-is). The drain keeps those frames
    * per batchId (Complete keeps only the latest, since it re-emits the
    * full result; append and update keep every delta) and returns
    * `finish` over their union, lazily. The single-use checkpoint dir is
    * deleted (the leak fix, ADVICE r8); a failed drain also frees every
    * kept batch.
    *
    * Until round 9 this used the MEMORY sink — a hidden
    * collect-to-driver: Complete mode retains the entire result in
    * driver memory, which is fine for dimension-sized results
    * (q172's 720 windows, q192's 20 sketches, q196's 5 segments) but
    * OOMs spark.driver.maxResultSize the moment the result is
    * data-sized — the 100× probe killed q194 (per-user sessions,
    * 1 GB of task results) exactly there, masked at sf scales by
    * small outputs. The result stays in executor blocks and is never
    * collected to the driver, the posture every other operator
    * already has.
    *
    * Spark runs the query in a session cloned at `start()`, whose conf
    * is a snapshot of this session's. Three confs are set through
    * [[withConf]], so each is put back to exactly its prior state
    * (unset stays unset) on every path:
    *  - `spark.sql.shuffle.partitions` = `shuffleParts`, for the whole
    *    drain.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[NioCheckpointFileManager]], for the whole drain, because some
    *    checkpoint logs are opened after `start()` from this session's
    *    conf. The checkpoint is a local temp dir made here, and without
    *    Hadoop's native library the default manager forks a `chmod`,
    *    `stat` or `readlink` process per checkpoint file it writes
    *    (~0.2 s of a q172 call).
    *  - `spark.sql.artifact.isolation.enabled=false`, around `start()`
    *    only. An isolated clone gets a new artifact UUID and so a new
    *    executor class loader, and `CodeGenerator`'s cache is keyed on
    *    the class loader: every drain recompiled byte-identical
    *    whole-stage classes (q172: 12 per call). No code here adds
    *    session artifacts, so the shared loader loses nothing. */
  private[graft] def drainAndClean(spark: SparkSession, agg: DataFrame,
      name: String, outputMode: String = "complete",
      // scale-adaptive shuffle/state partition count for this drain
      // (`Layout.stateParts`); -1 = keep the session setting. Also governs
      // the perBatch hook's batch jobs — micro-batch-sized inputs want
      // the same adaptive layout (the r17 per-task-overhead finding).
      shuffleParts: Int = -1,
      // driver-side per-trigger hook; it returns the batch's result
      // MATERIALIZED (eagerly local-checkpointed), and the drain keeps
      // that frame as is. Runs INSIDE foreachBatch, so it may launch its
      // own batch jobs against the micro-batch (q206 runs the span-dedup
      // operator and folds the store); if it changes the schema, pass
      // `outSchema` so a drain that runs no batch returns that schema. A
      // hook that mutates driver state must produce the SAME output
      // under batch REPLAY (foreachBatch re-runs a batch that
      // ran-then-died with the same batchId — q206 tracks its pre-fold
      // store per batchId and re-probes against that, since the
      // post-fold store would change the replayed answer).
      perBatch: (DataFrame, Long) => DataFrame = (df, _) => df.localCheckpoint(),
      outSchema: Option[org.apache.spark.sql.types.StructType] = None)(
      finish: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // shuffleParts is set on the SESSION: an already active streaming
    // query would plan its next batches with the drain's count, so refuse
    // before touching the conf (or creating the dirs)
    val active = spark.streams.active
    if (shuffleParts > 0 && active.nonEmpty)
      throw new IllegalStateException(s"drainAndClean($name): shuffleParts=" +
        s"$shuffleParts would change spark.sql.shuffle.partitions for the active " +
        s"streaming queries (${active.map(q => Option(q.name).getOrElse(q.id)).mkString(", ")}); " +
        "drain with shuffleParts = -1 or after they stop")
    val partsKey = "spark.sql.shuffle.partitions"
    val parts = if (shuffleParts > 0) shuffleParts.toString else spark.conf.get(partsKey)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-ckpt-$name")
    // each batch's result as local-checkpoint blocks, by batchId: put on
    // the stream thread, read here once the query has terminated
    val kept = new java.util.concurrent.ConcurrentSkipListMap[Long, DataFrame]()
    // held for the finally: on a mid-drain failure the drain's OWN
    // query is still in spark.streams.active — the concurrency WARN
    // below must not misreport it as an "other" query, and it must be
    // stopped before its dirs are deleted (ADVICE r10)
    var own: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    var returned = false
    // the whole body sits inside the try so an analysis-time start()
    // failure (unwatermarked append, non-aggregated complete) still
    // deletes the checkpoint dir just created — otherwise each failed
    // call leaks one in /tmp
    try withConf(spark, partsKey, parts) {
      withConf(spark, "spark.sql.streaming.checkpointFileManagerClass",
          classOf[NioCheckpointFileManager].getName) {
        // Complete re-emits the FULL result each trigger → keep the last
        // (one key); append and update emit per-trigger deltas → keep
        // them all, keyed by batchId. foreachBatch runs BEFORE the WAL
        // commit, so a batch that ran and died is re-run with the same
        // batchId: replacing (and freeing) its entry keeps replay
        // idempotent, where appending would count its rows twice
        // (ADVICE r9).
        val complete = outputMode == "complete"
        val sq = withConf(spark, "spark.sql.artifact.isolation.enabled", "false") {
          agg.writeStream
            .outputMode(outputMode)
            .foreachBatch { (df: DataFrame, batchId: Long) =>
              Option(kept.put(if (complete) 0L else batchId, perBatch(df, batchId)))
                .foreach(Pins.freeCheckpoint)
            }
            .option("checkpointLocation", ckpt.toString)
            .trigger(Trigger.AvailableNow())
            .start()
        }
        own = Some(sq)
        sq.awaitTermination()
        // explicit schema: a drain that ran no batch keeps none to take
        // it from
        val drained = kept.values.asScala.reduceOption(_ union _)
          .getOrElse(emptyFrame(spark, outSchema.getOrElse(agg.schema)))
        val result = finish(drained)
        returned = true
        result
      }
    } finally {
      // Unload the query's state store providers BEFORE deleting its
      // dirs / letting the JVM exit: Spark keeps providers (and their
      // maintenance + RocksDB background compaction threads) loaded
      // after the query stops, so at JVM shutdown the temp-dir hooks
      // delete the working dirs under a live compaction, the thread
      // logs "background compaction error", and the JNI logger
      // (LoggerJniCallback) dereferences a null env — AttachCurrentThread
      // fails post-DestroyJavaVM — and SIGSEGVs the exit (observed 3×
      // at the 1000× q194 probe, hs_err 2026-08-15, AFTER the drain
      // had already produced its correct answer). stop() closes every
      // provider gracefully and the next streaming query restarts the
      // maintenance pool lazily. stop() is JVM-GLOBAL (there is no
      // public per-checkpoint unload), so this teardown assumes the
      // drain contract every caller here has: finite AvailableNow
      // drains run ONE AT A TIME (Verify/Bench/tests are sequential).
      // A concurrent long-lived query would have its providers
      // unloaded mid-run and pay a checkpoint reopen on its next
      // batch — correct but slow. Nothing structural enforces the
      // sequential assumption, so check it loudly (ADVICE r9): a
      // future concurrent caller gets a WARN naming the degradation
      // instead of a silent slowdown.
      // on the failure path the drain's own query may still be active:
      // stop it (its checkpoint dir is deleted just below), and
      // exclude it from the concurrency WARN — it is not an "other"
      // query (ADVICE r10)
      own.filter(_.isActive).foreach { q =>
        try q.stop()
        catch { case _: Throwable => () }
      }
      // a failed drain returns nothing, so nothing reads its batches
      if (!returned) kept.values.asScala.foreach(Pins.freeCheckpoint)
      val ownId = own.map(_.id)
      val stillActive = spark.streams.active
        .filterNot(q => ownId.contains(q.id))
      if (stillActive.nonEmpty)
        org.apache.logging.log4j.LogManager.getLogger(getClass)
          .warn(s"drainAndClean($name): StateStore.stop() is JVM-global " +
            s"and ${stillActive.length} other streaming quer" +
            s"${if (stillActive.length == 1) "y is" else "ies are"} active " +
            s"(${stillActive.map(_.name).mkString(", ")}) — their state " +
            "providers will be unloaded and reopened from checkpoint on " +
            "their next batch (correct but slow)")
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      graft.FsUtil.deleteRecursively(ckpt)
    }
  }

  /** Runs `body` with `key` set to `value` in `spark`'s conf, then puts
    * `key` back to exactly its prior state: set to its prior value, or
    * unset when it was unset (`getOption` would return a registered
    * conf's default instead, and restoring that would leave an unset
    * key set). The one place the library sets a session conf. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The events table as a ts-normalized file STREAM — the readStream
    * twin of `Tables.events`: raw-schema probe through `Tables.load`
    * (inferred once per file version; the nanosAsLong session flag
    * covers the nanos generation — ADVICE r7), then the batch
    * loader's `Tables.normalizeTs`. Shared by every
    * declared streaming query over events (q172/q194/q195/q196). */
  private[graft] def eventStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(tableStream(spark, dir, "events",
      Tables.load(spark, dir, "events").schema))

  /** q172 — a REAL Structured Streaming run, oracle-checked: the events
    * table replayed through `readStream` with `Trigger.AvailableNow`
    * into the q28 tumbling aggregation; [[drainAndClean]] keeps each
    * micro-batch's result in executor blocks (Complete mode: the latest
    * batch) and returns the finished batch result over them.
    * AvailableNow processes everything available then stops — the
    * incremental-backfill posture (at scale: the same code runs
    * unbounded with the watermark bounding state; here Complete mode
    * emits every window, so the finished result is
    * EXACTLY q28's batch answer and shares its DuckDB oracle — the
    * driver's t2 hash-compare therefore covers the streaming path
    * end-to-end, not just spec assertions). Checkpoint lives in a fresh
    * java.io.tmpdir directory (no driver contract needed; AvailableNow
    * finishes, so the checkpoint is single-use by construction). */
  def q172StreamingAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainAndClean(spark, hourlyWindows(eventStream(spark, dir)), "q172",
      shuffleParts = Layout.stateParts(Tables.events(spark, dir)))(
      _.orderBy("ws_us"))

  // ---------------------------------------------------------------- q194
  /** q194 — STREAMING session windows, oracle-checked: q30's per-user
    * session aggregation (30-minute gap) running as a real
    * `session_window` streaming aggregation — the state store merges
    * overlapping session fragments as batches arrive. AvailableNow +
    * Complete mode drains the table and finishes with exactly q30's
    * batch answer, so the driver's t2 hash-compare covers streaming
    * session state end-to-end (the q172 pattern). At scale the same
    * code runs unbounded with a watermark bounding session state;
    * Complete here keeps the finite-drain answer total. */
  def q194StreamingSession(spark: SparkSession, dir: String): DataFrame =
    // per-user session state is DATA-sized → RocksDB store (the
    // on-heap default OOM'd the 1000× probe at ~10M sessions)
    withRocksDbState(spark) {
      drainAndClean(spark, userSessions(eventStream(spark, dir)), "q194",
        shuffleParts = Layout.stateParts(Tables.events(spark, dir)))(
        _.orderBy("user_id", "start_us"))
    }

  // ---------------------------------------------------------------- q195
  /** q195 — STREAMING stream-stream interval join, oracle-checked:
    * the [[streamingIntervalJoin]] builder (clicks ⋈ purchases of the
    * same user within 1 hour after the click, both sides watermarked,
    * append mode — the only shape Spark permits for stream-stream
    * joins) driven by two file streams over the SAME events table and
    * drained with AvailableNow. Inner-join matches emit as they are
    * found (the watermark bounds STATE, it never withholds an inner
    * match), so the kept batches hold exactly the batch range-join
    * answer and the driver hash-compares the stream-stream join path.
    *
    * Multi-batch caveat (documented, not hit here): if the source
    * splits into several micro-batches, rows arriving more than the
    * watermark delay out of event-time order can be dropped from
    * state before their match arrives — the shipped single-file
    * tables drain in one batch, and an unbounded deployment relies on
    * the same bounded-disorder contract every watermark query does. */
  def q195StreamingIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = () => eventStream(spark, dir)
    val joined = streamingIntervalJoin(
      ev().filter(col("event_type") === "click"),
      ev().filter(col("event_type") === "purchase"))
    drainAndClean(spark, joined, "q195", outputMode = "append",
      shuffleParts = Layout.stateParts(Tables.events(spark, dir)))(
      _.orderBy("c_id", "p_id"))
  }

  // ---------------------------------------------------------------- q196
  /** q196 — STREAMING stream-static enrichment, oracle-checked: each
    * micro-batch of events broadcast-joins the STATIC customer dimension (re-planned per
    * batch; the streaming analog of q12) — aggregated per market
    * segment. The join is stateless; the only streaming state is the
    * segment-sized aggregate, and AvailableNow + Complete finishes
    * with the batch join+group answer for the driver's hash-compare. */
  def q196StreamingEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), sumValue)
    drainAndClean(spark, agg, "q196",
      shuffleParts = Layout.stateParts(Tables.events(spark, dir)))(
      _.select(col("c_mktsegment"), col("n_events"), col("sum_value"))
        .orderBy("c_mktsegment"))
  }

  // ---------------------------------------------------------------- q192
  /** q192 — STREAMING distinct-vocabulary sketch: the [[KmvAgg]]
    * bottom-k sketch (q191) running as a Structured Streaming
    * aggregation — per-source distinct token counts maintained
    * incrementally as document files arrive. The typed Aggregator is
    * mergeable, so streaming state per source is the ≤k-long sketch
    * (bounded forever — the property that makes a DISTINCT count
    * streamable at all; a naive distinct holds the whole vocabulary
    * in state). AvailableNow + Complete mode drains the current
    * directory and finishes with exactly the batch answer, so the
    * driver's hash-compare covers the streaming path (the q172
    * pattern); in the unsaturated regime the published count is
    * exact, hence the DuckDB oracle. At scale the same code runs
    * unbounded with the sketch as the only state.
    */
  def q192StreamingKmv(spark: SparkSession, dir: String): DataFrame = {
    val schema = Tables.documents(spark, dir).schema
    val raw = tableStream(spark, dir, "documents", schema)
    val kmv = udaf(new KmvAgg(2048))
    val agg = raw
      .select(col("source"), explode(Extended10.toks(col("text"))).as("w"))
      .select(col("source"),
        graft.functions.Md5Bucket.md5Bucket(col("w"), 15, 0).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk"))
    drainAndClean(spark, agg, "q192",
      shuffleParts = Layout.stateParts(Tables.documents(spark, dir)))(
      _.select(col("source"), size(col("sk")).cast("long").as("d"))
        .orderBy("source"))
  }

  // ---------------------------------------------------------------- q198
  /** q198 — STREAMING keyed upsert on transformWithState, oracle-
    * checked: the reference's Redis merge (R10 — latest event per
    * (user_id, event_type), strictly-later wins, ties keep existing)
    * running as REAL arbitrary streaming state — RocksDB-backed
    * [[LatestEventProcessor]] via [[statefulUpsertTws]], driven by
    * the events file stream and drained with AvailableNow in Update
    * mode. Update mode re-emits a key's current winner each batch it
    * is touched, and strictly-later-wins makes the per-key emission
    * sequence MONOTONE in ts_us (an equal-ts arrival keeps existing,
    * so its re-emission is the identical row) — the final winner is
    * therefore the max-ts_us emission, recovered by one argmax window
    * over the drained (keys × batches)-sized frame. The shipped data
    * has no max-ts tie on any key (checked at every sf), so the
    * answer is the plain per-key argmax the oracle replays.
    *
    * transformWithState requires the RocksDB state store provider;
    * the conf is scoped to the drain and restored after (the
    * StreamingSpec pattern). */
  def q198StreamingUpsert(spark: SparkSession, dir: String): DataFrame =
    withRocksDbState(spark) {
      import org.apache.spark.sql.expressions.Window
      val agg = statefulUpsertTws(eventStream(spark, dir))
      drainAndClean(spark, agg, "q198", outputMode = "update",
        shuffleParts = Layout.stateParts(Tables.events(spark, dir))) { df =>
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts_us").desc, col("event_id"))
        df.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id", "event_type")
      }
    }

  /** Scope the RocksDB state store provider to one drain
    * ([[withConf]]: the prior setting comes back after). Two users: transformWithState REQUIRES
    * it (q198), and any query whose state is DATA-sized needs it at
    * scale — the default HDFSBackedStateStore keeps every partition's
    * full state map ON-HEAP, which the 1000× probe caught OOM-ing
    * q194's ~10M-session state (100M events); RocksDB keeps state
    * off-heap/on-disk, the standard production posture for large
    * state. Dimension-sized state (q172/q192/q196) stays on the
    * default store — no native-lib overhead for 20-row state.
    *
    * The log4j level for Spark's RocksDB wrapper class is pinned to
    * ERROR for the drain: Spark derives the NATIVE info-log level
    * from that logger's isWarnEnabled/isInfoEnabled (RocksDB.scala
    * createLogger — ERROR_LEVEL unless log4j says more), and
    * rocksdb's free Log() filters against that level BEFORE the JNI
    * LoggerJniCallback hop — so routine compaction/flush chatter from
    * RocksDB's native (JVM-unattached) background threads never
    * crosses JNI. This is hardening only: the 1000× exit SIGSEGV it
    * was first aimed at still reproduced at ERROR (the dying message
    * was itself ERROR-level — "background compaction error" against
    * shutdown-deleted dirs) and was actually fixed by the
    * StateStore.stop() teardown in drainAndClean. State-store ERRORs
    * still surface — and any real failure also fails the query. */
  private def withRocksDbState[T](spark: SparkSession)(body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val logName = "org.apache.spark.sql.execution.streaming.state.RocksDB"
    // restore-by-removal when the level was INHERITED (ADVICE r9):
    // Configurator.setLevel materializes a LoggerConfig for logName if
    // none exists, and re-setting the captured effective level on exit
    // would PIN it — a later change to the parent's level would no
    // longer propagate here. Capture whether the logger had its own
    // config; if not, delete the one setLevel created instead of
    // setting a level on it.
    val ctx = LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val hadOwnConfig =
      ctx.getConfiguration.getLoggerConfig(logName).getName == logName
    val prevLevel = LogManager.getLogger(logName)
      .asInstanceOf[org.apache.logging.log4j.core.Logger].getLevel
    Configurator.setLevel(logName, Level.ERROR)
    try withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
    finally {
      if (hadOwnConfig) Configurator.setLevel(logName, prevLevel)
      else {
        ctx.getConfiguration.removeLogger(logName)
        ctx.updateLoggers()
      }
    }
  }

  // ---------------------------------------------------------------- q206
  /** Core of q206, driven by any documents stream (the spec feeds it a
    * multi-file directory with maxFilesPerTrigger=1 to pin the
    * multi-trigger semantics): every micro-batch runs the SHIPPED
    * q203 operator against the store-so-far, then folds its own
    * digests in — [[SpanOps.spanIngestTrigger]], a blind delta append
    * over a batchId-VERSIONED parquet store at `storeRoot`
    * (segment `init` + one `b<id>` delta per batch; store bytes
    * written per trigger ∝ batch, the standing segments never
    * rewritten). RESTART-DURABLE (r14 verdict item 1): the driver
    * holds no store state — the probe for batch id reads only
    * segments < id and the fold overwrites b<id>, so BOTH replay
    * shapes (an in-JVM foreachBatch re-run and a cross-restart WAL
    * replay of a batch that wrote-then-died before its commit)
    * re-probe the exact pre-fold snapshot and rewrite identical kept
    * batch and store state. StreamingSpec pins the cross-restart case by
    * deleting the checkpoint's commit marker between drains. */
  private[graft] def streamingSpanIngest(spark: SparkSession,
      docStream: DataFrame, store0: DataFrame,
      storeRoot: String, shuffleParts: Int = -1): DataFrame = {
    SpanOps.spanStoreInit(store0, storeRoot, parts = shuffleParts)
    // analysis-only probe for the output schema (no job: .schema on an
    // empty frame); the persist it marks is dropped right after
    val outSchema = Pins.scoped(p => SpanOps.spanDedupVsStore(p,
      emptyFrame(spark, docStream.schema), store0).schema)
    drainAndClean(spark, docStream, "q206", outputMode = "append",
      shuffleParts = shuffleParts,
      perBatch = SpanOps.spanIngestTrigger(spark, storeRoot),
      outSchema = Some(outSchema))(
      _.orderBy("doc_id"))
  }

  /** q206 — STREAMING span-dedup ingest, oracle-checked: the q203
    * maintenance loop running as a real `readStream` — the batch
    * documents (doc_id ≡ 0 mod 7) arrive as a file stream and each
    * micro-batch is deduped against the standing corpus's digest
    * index, then admitted into it. With the shipped single-file table
    * AvailableNow yields ONE deterministic trigger, so the finished
    * result is EXACTLY q203's and shares its DuckDB oracle (the q172
    * pattern — t2 covers the streaming ingest path end-to-end).
    * Multi-trigger semantics are the sequential contract SpanSpec
    * pins: every occurrence is judged against everything that arrived
    * before it (trigger granularity), which at scale IS the
    * production ingest loop. The declared query's versioned store
    * lives in a throwaway temp dir (testdata ships no store — the
    * q200/q203 precedent); a production deployment points storeRoot
    * at shared storage and REUSES it with the checkpoint across
    * restarts. */
  def q206StreamingSpanIngest(spark: SparkSession, dir: String): DataFrame = {
    val table = Tables.documents(spark, dir)
    val docs = table.select("doc_id", "text")
    val store0 = SpanOps.spanIndex(
      docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L))
    val stream = tableStream(spark, dir, "documents", table.schema)
      .filter(pmod(col("doc_id"), lit(7L)) === 0L)
      .select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-spanstore")
    // the drain returns its result over batches it local-checkpointed,
    // so the store dir can be deleted as soon as the drain returns
    try streamingSpanIngest(spark, stream, store0, root.toString,
      shuffleParts = Layout.stateParts(Tables.documents(spark, dir)))
    finally graft.FsUtil.deleteRecursively(root)
  }

  // ---------------------------------------------------------------- q209
  /** Per-trigger hook for the q209 sig ingest (the q206 shape on the
    * signature store): probe the micro-batch against the versioned
    * band store with the SHIPPED [[Similarity.dedupVsSigStore]], then
    * fold the batch's OWN band rows in. The fold is BLIND and
    * set-identical to a rebuild — signatures are per-document — and
    * the b<id> overwrite is
    * replay-idempotent ([[VersionedStore]]'s two invariants, shared
    * with q206, including the cross-restart case StreamingSpec pins
    * there). Per-trigger work ∝ batch: one signature pass + the band
    * equi-join probe + a batch-sized segment write. */
  private[graft] def sigIngestTrigger(spark: SparkSession, root: String,
      maxSegments: Int = 8): (DataFrame, Long) => DataFrame =
    (b: DataFrame, id: Long) => Pins.scoped { p =>
      // merge policy: fold committed segments (all strictly < id) into
      // one band-key-laid-out generation past maxSegments — probe cost
      // flat in trigger count, replay-safe (VersionedStore.maintain)
      VersionedStore.maintain(spark, root, id,
        Seq("band_idx", "band_key"), maxSegments)
      val bc = p.checkpoint(b)
      // ONE signature pass per trigger: the materialized bands feed
      // both the probe and the fold (code review r15b — the semIngest
      // lesson); both are consumed by the scope's end
      val bands = p.checkpoint(Similarity.sigBands(bc))
      val out = Similarity.dedupVsSigStoreBands(bands,
        VersionedStore.before(spark, root, id)).localCheckpoint(true)
      VersionedStore.write(bands, root, id)
      out
    }

  /** q209 — STREAMING near-dup (MinHash/LSH) ingest, oracle-checked:
    * the q153 maintenance loop as a real `readStream` — the planted
    * batch documents arrive as a file stream and each micro-batch is
    * near-dedup-probed against the standing corpus's banded signature
    * store, then its band rows are admitted into it. The batch lands
    * as ONE file, so AvailableNow yields one deterministic trigger and
    * the finished result is EXACTLY q153's, sharing its DuckDB oracle
    * verbatim (the q206/q172 precedent — t2 covers the streaming
    * sig-ingest path end-to-end). Multi-trigger semantics are the
    * sequential contract StreamingSpec pins: each trigger judged
    * against the store plus every earlier trigger's bands — at scale
    * the production near-dup ingest loop. Store + batch staging live
    * in a throwaway temp dir (testdata ships neither — the q206
    * posture; production points the store root at shared storage and
    * reuses it with the checkpoint across restarts). */
  def q209StreamingSigIngest(spark: SparkSession, dir: String): DataFrame = {
    val work = java.nio.file.Files.createTempDirectory("graft-sigingest")
    // one adaptive partition count for the whole query (store init
    // layout ≡ per-trigger read ≡ drain state), sized from the source
    // table the planted corpus derives from
    val parts = Layout.stateParts(Tables.documents(spark, dir))
    try Pins.scoped { p =>
      // persisted across its two staging consumers (store bands + batch
      // file) — both otherwise re-derive the planted corpus from parquet;
      // released before the drain, which never touches it
      val corpus = p.persist(Similarity.plantedCorpus(spark, dir))
      val store0 = Similarity.sigBands(
        corpus.filter(col("doc_id") < 1000000L))
      VersionedStore.init(store0, s"$work/store", parts)
      // the arriving batch as a one-file stream source (the planted
      // docs are DERIVED from testdata, so they are staged to disk
      // once — production batches arrive as their own files)
      corpus.filter(col("doc_id") >= 1000000L)
        .coalesce(1).write.parquet(s"$work/batch")
      p.release(corpus)
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING").parquet(s"$work/batch")
      // analysis-only output-schema probe (no job)
      val outSchema = Similarity.dedupVsSigStore(
        emptyFrame(spark, stream.schema), store0).schema
      drainAndClean(spark, stream, "q209", outputMode = "append",
        shuffleParts = parts,
        perBatch = sigIngestTrigger(spark, s"$work/store"),
        outSchema = Some(outSchema))(
        _.orderBy("new_id"))
    } finally graft.FsUtil.deleteRecursively(work)
  }

  // ---------------------------------------------------------------- q210
  /** Per-trigger hook for the q210 SemDeDup ingest (the q209 shape on
    * the cells+reps store): probe the micro-batch with the SHIPPED
    * [[SemStoreOps.semIngest]] — ONE probe pass feeds the audit (the
    * drained row) AND the admitted fold — against the versioned reps
    * store, under the FROZEN driver-held quantizer (retrain is not a
    * per-trigger decision). Replay-idempotent via the two
    * [[VersionedStore]] invariants; the merge policy folds committed
    * segments past maxSegments into one cid-laid-out generation.
    * One replay caveat (code review r16): on a FLOODED batch (a cell
    * past maxCell) semIngest's refineBatchCells re-runs a float
    * k-means sub-fit whose distributed sums are not merge-order
    * deterministic, so a replayed batch's admit decisions can differ
    * bitwise from the crashed attempt's at sub-cell boundaries. This
    * is unobservable: the crashed attempt committed nothing (no WAL
    * commit), and the replay REPLACES both its kept batch and
    * b<id>, so the surviving result/store pair is mutually consistent —
    * the overwrite invariant, not bit-determinism, is what replay
    * safety actually rests on (see [[VersionedStore]]). Non-flooded
    * batches (the refinement no-op) replay bit-identically.
    * semIngest's stage checkpoints are held by the trigger's scope. */
  private[graft] def semIngestTrigger(spark: SparkSession, root: String,
      model: SemStoreOps.SemModel, maxSegments: Int = 8)
      : (DataFrame, Long) => DataFrame =
    (b: DataFrame, id: Long) => Pins.scoped { p =>
      VersionedStore.maintain(spark, root, id, Seq("cid"), maxSegments)
      val bc = p.checkpoint(b)
      val (audit, admitted) = SemStoreOps.semIngest(p, bc, model,
        VersionedStore.before(spark, root, id))
      val out = audit.localCheckpoint(true)
      VersionedStore.write(admitted, root, id)
      out
    }

  /** q210 — STREAMING SemDeDup ingest, completing the streaming column
    * (span q206, sig q209, semantic here): the q208 maintenance loop
    * as a real `readStream` — batch vectors (vec_id ≡ 0 mod 7, the
    * q208 split) arrive as a file stream, each micro-batch is
    * semantically deduped against the standing cells+reps store and
    * its admitted reps fold in. One staged batch file → one
    * AvailableNow trigger → the finished audit is EXACTLY q208's
    * (StreamingSpec pins it bit-for-bit), so the declared query is
    * rows-only like q208 itself (float k-means cells — the
    * q45/q108/q187/q200/q208 precedent); multi-trigger semantics are
    * the sequential contract StreamingSpec pins on planted cliques.
    * Store + batch staging in a throwaway temp dir (the q209
    * posture); production points the store root at shared storage
    * and reuses it with the checkpoint across restarts, loading the
    * frozen model from the stored P_model table. */
  def q210StreamingSemIngest(spark: SparkSession, dir: String): DataFrame = Pins.scoped { p =>
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"))
    val (model, reps) = SemStoreOps.semStoreBuild(p,
      emb.filter(pmod(col("id"), lit(7L)) =!= 0L), dim = 64)
    val work = java.nio.file.Files.createTempDirectory("graft-semingest")
    // one adaptive partition count for store layout and drain state,
    // sized from the source table (the q209 convention)
    val parts = Layout.stateParts(Tables.embeddings(spark, dir))
    try {
      VersionedStore.init(reps, s"$work/store", parts)
      emb.filter(pmod(col("id"), lit(7L)) === 0L)
        .coalesce(1).write.parquet(s"$work/batch")
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$work/batch").schema)
        .parquet(s"$work/batch")
      // analysis-only output-schema probe (tiny empty-input jobs whose
      // checkpoints p holds; an empty model runs none)
      val probe = emptyFrame(spark, stream.schema)
      val outSchema =
        if (model.isEmpty) SemStoreOps.semDedupVsStore(probe, model, reps).schema
        else SemStoreOps.semIngest(p, probe, model, reps)._1.schema
      drainAndClean(spark, stream, "q210", outputMode = "append",
        shuffleParts = parts,
        perBatch = semIngestTrigger(spark, s"$work/store", model),
        outSchema = Some(outSchema))(
        _.orderBy("cid"))
    } finally graft.FsUtil.deleteRecursively(work)
  }

  val declared: Seq[Declared] = Seq(
    Declared("q210_streaming_sem_ingest", q210StreamingSemIngest, None), // k-means fixpoint (q208)
    // same contract on the signature store: one staged batch file →
    // one trigger → exactly the batch q153 answer and its oracle
    Declared("q209_streaming_sig_ingest", q209StreamingSigIngest, Some(Similarity.q153OracleSql)),
    // single AvailableNow trigger over the shipped single-file table →
    // the streaming ingest finishes with exactly the batch q203 answer
    // and shares its oracle verbatim (the q172/q28 precedent)
    Declared("q206_streaming_span_ingest", q206StreamingSpanIngest, Some(SpanOps.q203OracleSql)),
    Declared("q28_tumbling", q28Tumbling, Some(
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY ws_us""".stripMargin)),
    Declared("q29_sliding", q29Sliding, Some(
      """SELECT epoch_us(ws) AS ws_us, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts)
        |                   - INTERVAL '30 minutes']) AS ws,
        |         value
        |  FROM events)
        |GROUP BY ws ORDER BY ws_us""".stripMargin)),
    Declared("q30_session", q30Session, Some(
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin)),
    // the streaming run finishes with exactly the batch answer (Complete
    // mode, AvailableNow) — same oracle as q28
    Declared("q172_streaming_availablenow", q172StreamingAvailableNow, Some(
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY ws_us""".stripMargin)),
    // unsaturated regime (vocab ≪ k=2048): the sketch IS the distinct
    // hash set, so the streaming sketch size equals the exact distinct
    // token count — collision probability over a 60-bit hash is
    // negligible at any testdata vocab
    Declared("q192_streaming_kmv", q192StreamingKmv, Some(
      """SELECT source, count(DISTINCT w)::BIGINT AS d
        |FROM (SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // the streaming session drain finishes with exactly the batch
    // session answer (Complete mode, AvailableNow) — q30's oracle
    Declared("q194_streaming_session", q194StreamingSession, Some(
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, epoch_us(min(ts)) AS start_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin)),
    // inner interval-join matches emit as found — the drained result is
    // the batch range join
    Declared("q195_streaming_interval_join", q195StreamingIntervalJoin, Some(
      """SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id,
        |       epoch_us(c.ts) AS c_ts_us, epoch_us(p.ts) AS p_ts_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
        |ORDER BY c_id, p_id""".stripMargin)),
    Declared("q196_streaming_enrich", q196StreamingEnrich, Some(
      """SELECT c_mktsegment, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // latest event per (user_id, event_type); the shipped data has no
    // max-ts tie on any key (verified at every sf), so the arrival-
    // order tie rule never fires and the argmax is the exact answer
    Declared("q198_streaming_upsert", q198StreamingUpsert, Some(
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |FROM (SELECT user_id, event_type, event_id, ts, row_number()
        |    OVER (PARTITION BY user_id, event_type
        |          ORDER BY ts DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)))
}
