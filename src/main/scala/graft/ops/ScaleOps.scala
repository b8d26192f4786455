package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale techniques referenced by SURVEY.md §4.2 as library utilities:
  * skew salting and bucketed-state writes. These are not t2 queries
  * (they are physical strategies, not semantics); ScaleSpec proves the
  * salted join is result-identical to the plain join and that a
  * bucketed state table joins without re-shuffling the state side.
  *
  * First resort for skew is AQE's skew-join handling (on by default in
  * Spark 4); explicit salting is for the cases AQE cannot fix — e.g. a
  * single key too hot for any split of the OTHER side to broadcast, or
  * deterministic plans required by a downstream consumer.
  */
object ScaleOps {

  /** Inner equi-join with the fact side's hot keys spread over `nSalts`
    * sub-keys, and the dim side replicated once per salt. The join then
    * distributes a hot key over nSalts reducers instead of one.
    *
    * The salt comes from the row's PHYSICAL position (partition id +
    * per-partition counter), not its content: hashing the row's columns
    * would send byte-identical duplicate rows of a hot key to one salt,
    * preserving the skew exactly when duplicates dominate. Any salt
    * value yields the same join result (each fact row meets its dim
    * match under every salt), so positional assignment is safe; it is
    * only the SPREAD that matters. The salt column name is picked to
    * not collide with either input's columns.
    *
    * Cost: dim side × nSalts (keep dims small or nSalts modest).
    * Result is exactly the plain inner join — proven in ScaleSpec. */
  def saltedEquiJoin(fact: DataFrame, dim: DataFrame, key: String,
      nSalts: Int = 8): DataFrame = {
    val saltCol = Iterator.from(0).map(i => s"__salt_$i")
      .find(n => !fact.columns.contains(n) && !dim.columns.contains(n)).get
    val salted = fact.withColumn(saltCol,
      pmod(xxhash64(monotonically_increasing_id()), lit(nSalts)).cast("int"))
    val dimExp = dim.withColumn(saltCol,
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(dimExp, Seq(key, saltCol)).drop(saltCol)
  }

  /** Sharded running sum over `orderCol` (numeric, e.g. an id): the
    * scalable form of `sum(value) OVER (ORDER BY orderCol)`. A prefix
    * sum decomposes exactly — cum = shard_offset + within_shard_cum —
    * so the O(rows) unpartitioned window becomes per-shard partitioned
    * windows (parallel) plus one window over ≤ nShards offset rows.
    * Output value per row is IDENTICAL to the global window's
    * (spec-proven for the q60 packing; the identity is exact, not
    * approximate). Shards are contiguous `orderCol` ranges of equal
    * width; sparse ids skew shard sizes but never correctness.
    * `orderCol` must be UNIQUE per row — with ties the within-tie
    * accumulation order (hence each tied row's running value) is
    * engine-chosen; every caller here orders by a unique id.
    *
    * The input feeds THREE consumers (bounds, per-shard offsets, the
    * main path), so it is persisted here — without the cache Spark
    * re-evaluates the upstream lineage per branch, and callers hand
    * this function expensively-derived pairs (q60 tokenizes text
    * upstream; 3 evaluations tripled its cost, measured). The cached
    * frame is only (orderCol, valueCol) pairs — bytes per row, far
    * below the data they summarize. The persist belongs to the
    * returned plan ([[graft.Pins.forPlan]]). A caller that owns the
    * cache passes an already-persisted frame, which is used as is. */
  def shardedCumSum(df0: DataFrame, orderCol: String, valueCol: String,
      cumName: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = graft.Pins.forPlan.persist(df0)
    val bounds = df.agg(min(orderCol).as("__lo"),
      ceil((max(orderCol) - min(orderCol) + 1).cast("double") / nShards)
        .cast("long").as("__width"))
    val sharded = df.join(broadcast(bounds))
      .withColumn("__shard",
        floor((col(orderCol) - col("__lo")) / col("__width")))
    val wIn = Window.partitionBy("__shard").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy("__shard")
      .agg(sum(valueCol).as("__shard_total"))
      .withColumn("__offset",
        coalesce(sum("__shard_total").over(wOff), lit(0L)))
      .select("__shard", "__offset")
    sharded
      .withColumn("__within", sum(valueCol).over(wIn))
      .join(broadcast(offsets), "__shard")
      .withColumn(cumName, col("__offset") + col("__within"))
      .drop("__shard", "__lo", "__width", "__within", "__offset")
  }

  /** GROUPED sharded running sum: [[shardedCumSum]] independently
    * within each `groupCol` value, in ONE pass over the data — the
    * shape a per-split epoch pack needs (3 splits × separate pipelines
    * collapse into one). Identical values to running shardedCumSum on
    * each group's rows separately (ScaleSpec pins it). No global
    * window anywhere: per-group shard bounds are a tiny broadcast
    * aggregate, the offset window partitions by group (≤ nShards rows
    * per group), and the within-shard window partitions by
    * (group, shard). Same unique-`orderCol` determinism contract and
    * cache lifecycle as [[shardedCumSum]]. */
  def groupedShardedCumSum(df0: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, cumName: String, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = graft.Pins.forPlan.persist(df0)
    val bounds = df.groupBy(groupCol).agg(min(orderCol).as("__lo"),
      ceil((max(orderCol) - min(orderCol) + 1).cast("double") / nShards)
        .cast("long").as("__width"))
    val sharded = df.join(broadcast(bounds), groupCol)
      .withColumn("__shard",
        floor((col(orderCol) - col("__lo")) / col("__width")))
    val wIn = Window.partitionBy(groupCol, "__shard").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(groupCol).orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(groupCol, "__shard")
      .agg(sum(valueCol).as("__shard_total"))
      .withColumn("__offset",
        coalesce(sum("__shard_total").over(wOff), lit(0L)))
      .select(col(groupCol), col("__shard"), col("__offset"))
    sharded
      .withColumn("__within", sum(valueCol).over(wIn))
      .join(broadcast(offsets), Seq(groupCol, "__shard"))
      .withColumn(cumName, col("__offset") + col("__within"))
      .drop("__shard", "__lo", "__width", "__within", "__offset")
  }

  /** Per-stratum deterministic md5 rank WITHOUT a per-stratum window —
    * the scalable form of `row_number() OVER (PARTITION BY stratum ORDER
    * BY md5(id), id)` when `stratum` is low-cardinality (lang, source):
    * the direct window funnels every stratum through one reducer. The
    * md5 hex prefix shards each stratum 32 ways — lexicographic md5
    * order is consistent with the numeric value of its first two hex
    * chars, so (shard, md5, id) order ≡ (md5, id) order and the global
    * rank decomposes into a per-(stratum, shard) row_number plus a
    * broadcast offset from the ≤ strata×32-row shard-count table (the
    * only remaining stratum-partitioned window runs on THAT table —
    * bounded, whitelisted in PlanAuditSpec). Ranks are IDENTICAL to the
    * direct window's (md5(id) with unique id gives a total order;
    * ScaleSpec pins the identity). Adds `rankName` (int, to match
    * row_number) and leaves input columns untouched.
    *
    * The input is scanned TWICE (offset aggregate + ranked side) and is
    * deliberately NOT persisted here: an implicit persist outlives the
    * lazy result with no unpersist hook (ADVICE r7 cache-leak sweep),
    * and both consumers are narrow pushed-projection scans — a caller
    * whose upstream is genuinely expensive should persist df0 itself
    * and own the unpersist. */
  def shardedMd5Rank(df0: DataFrame, stratum: String, idCol: String,
      rankName: String = "rnk", nShards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(256 % nShards == 0 && nShards <= 256,
      s"nShards must divide 256: $nShards")
    val df = df0
      .withColumn("__md5", md5(col(idCol).cast("string")))
      .withColumn("__shard",
        floor(conv(substring(col("__md5"), 1, 2), 16, 10).cast("int")
          / (256 / nShards)).cast("int"))
    val wIn = Window.partitionBy(stratum, "__shard").orderBy("__md5", idCol)
    val wOff = Window.partitionBy(stratum).orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = df.groupBy(stratum, "__shard")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum("__c").over(wOff), lit(0L)))
      .select(col(stratum), col("__shard"), col("__off"))
    df.withColumn("__rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq(stratum, "__shard"))
      .withColumn(rankName, (col("__off") + col("__rn")).cast("int"))
      .drop("__md5", "__shard", "__rn", "__off")
  }

  /** Stage-boundary materialization for iterative/deep-lineage
    * pipelines (epoch stages, Lloyd's rounds, star-CC rounds).
    *
    * Default: `localCheckpoint` — blocks on the executors, right for
    * local mode and cheap on a healthy cluster. With the session conf
    * `graft.checkpoint.reliable=true` (and a
    * `sparkContext.setCheckpointDir` pointing at shared storage) it
    * becomes a reliable `checkpoint()`: the cluster posture, where a
    * stage boundary must survive executor loss — localCheckpoint blocks
    * die with their executor and a 1000-node epoch build would restart
    * from scratch. Same eager semantics either way; output identical
    * (CorpusPipelineSpec proves it on the epoch build). */
  def stageCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.checkpoint.reliable", "false").toBoolean)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
