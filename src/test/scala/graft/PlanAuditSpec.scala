package graft

import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The registry's size and oracle coverage are pinned, and a global
  * plan audit runs over EVERY declared query — the scale guardrails
  * that individual specs can't keep exhaustive as the surface grows.
  * A query's plans are the one it returns and the ones its `build`
  * function executes eagerly on the session (`stageCheckpoint`,
  * `localCheckpoint`, `count`, loop rounds). A drain's stateful
  * micro-batch plan is not among them, only its `foreachBatch` hook's
  * actions.
  *
  *  1. No CartesianProductExec anywhere. Range/theta joins must keep an
  *     equi anchor; a cartesian that "works" at sf0.01 is a 10^12-pair
  *     explosion at 100 TB. (1-row broadcast cross joins plan as
  *     BroadcastNestedLoopJoin and are fine — only the shuffled
  *     cartesian is forbidden.)
  *  2. Unpartitioned windows only where the windowed frame is provably
  *     tiny — a whitelist each entry of which documents WHY it is
  *     bounded. A global window over fact-table rows funnels the whole
  *     dataset through one reducer. An entry whose query plans no such
  *     window (in 2 or 3) is stale and fails.
  *  3. No window partitioned ONLY by a low-cardinality key (≤10
  *     distinct values in this schema: return flags, event types,
  *     sources, …) unless the windowed TABLE is itself provably tiny —
  *     a ≤5-way partition over a fact table is a ≤5-reducer bottleneck
  *     at 100×, exactly as bad as a global window. The scale-safe
  *     idioms are per-(key, shard) windows plus a broadcast offset
  *     table (ScaleOps.groupedShardedCumSum, q141/q151/q162).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  // queries allowed an unpartitioned window, with the boundedness reason
  private val globalWindowWhitelist: Map[String, String] = Map(
    "q60_pack_sequences" ->
      "shardedCumSum offset window is O(nShards) rows, not O(docs)",
    "q100_epoch_build" ->
      "shardedCumSum offset window is O(nShards) rows, not O(docs)",
    "q46_corpus_prep" ->
      "shardedCumSum offset window is O(nShards) rows, not O(docs)",
    "q112_share_of_total" ->
      "total window runs on the per-nation AGGREGATE (25 rows), not customers",
    "q113_yoy_growth" ->
      "lag window runs on the per-year AGGREGATE (~7 rows), not orders",
    "q122_pps_sample" ->
      "shardedCumSum offset window is O(nShards) rows, not O(docs)",
    "q168_retrieval_eval" ->
      ("rank/count windows run on the bounded query-set eval table " +
        "(one row per planted query, ≤ 50 by construction)"),
    "q148_vocab_growth" ->
      ("cumulative window runs on the 50-doc BLOCK table (docs/50 rows, " +
        "stats-sized); first-seen is a plain aggregate, never windowed"),
    "q145_curriculum_stages" ->
      ("prefix-offset window runs on the DISTINCT token-length table " +
        "(stats-sized), not docs — the global rank itself is per-length " +
        "rank + broadcast offset"),
    "q83_pareto_cut" ->
      ("cumsum over the per-customer rollup, O(customers) not O(orders); " +
        "shard by rev range when customers outgrow a reducer"))

  // columns with ≤10 distinct values in this schema (TESTDATA.md); a
  // window partitioned by a subset of ONLY these keys caps parallelism
  // at the key cardinality regardless of cluster size
  private val lowCardCols = Set("l_returnflag", "l_linestatus",
    "event_type", "source", "lang", "o_orderstatus", "o_orderpriority",
    "l_shipmode", "variant", "split", "et", "flag")

  // queries allowed a low-card-partitioned window, with the reason the
  // windowed TABLE (not the partition count) is bounded
  private val lowCardWindowWhitelist: Map[String, String] = Map(
    "q141_weighted_median" ->
      ("groupedShardedCumSum offset window: O(nShards)=32 rows per " +
        "flag, not line items"),
    "q151_quantile_normalize" ->
      "per-bucket offset window: ≤64 rows per type, not events",
    "q162_rolling_anomaly" ->
      "per-block offset window: ≤64 rows per type, not events",
    "q100_epoch_build" ->
      ("packSequencesGrouped's groupedShardedCumSum offset window: " +
        "O(nShards)=4 rows per split, not documents"),
    "q144_winsorized_mean" ->
      ("NOT bounded, a known violation awaiting its sharded rewrite: the " +
        "rank and count windows over every event per event_type run in " +
        "the build's stageCheckpoint, which the returned plan hid"),
    "q124_equidepth_hist" ->
      ("sharded-rank offset window: ≤5×33 shard-count rows per " +
        "priority, not orders"),
    "q132_ks_drift" ->
      ("per-source CDF windows run on the densified stats grid " +
        "(sources × distinct n_chars values), never on documents"),
    "q136_stratified_sample" ->
      "shardedMd5Rank offset window: ≤ langs×32 shard-count rows, not documents",
    "q166_temperature_sample" ->
      "shardedMd5Rank offset window: ≤ sources×32 shard-count rows, not documents")

  // queries whose results no SQL oracle reproduces: float sketches,
  // k-means fixpoints, iterative rounds or approximate counts
  private val noOracle = Set("q17_approx_distinct", "q38_ann_lsh",
    "q39_embed_near_dup", "q45_ann_ivf", "q108_kmeans", "q171_bpe_train",
    "q176_lr_distill", "q182_weighted_sample", "q187_semdedup",
    "q199_rrf_hybrid_ivf", "q200_ivf_append", "q201_pq_adc",
    "q208_semdedup_incr", "q210_streaming_sem_ingest")

  test("the registry declares 210 queries and 196 oracles; the 14 without are named") {
    assert(SparkEntry.queries.size == 210)
    assert(SparkEntry.oracleSql.size == 196)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == noOracle)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("declared names are distinct; a duplicated record fails construction") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.distinct == names)
    val dup = SparkEntry.declared.last
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireDistinct(SparkEntry.declared :+ dup))
    assert(e.getMessage.endsWith(s"declared more than once: ${dup.name}"))
  }

  // each declared query's physical plans, built once for the three plan
  // cases: the returned plan, then those its `build` function executed
  // while it was called (streaming drains, loop rounds, cache-filling counts and
  // checkpoints), which the listener sees once the bus is drained. Each
  // build is released as the mains release it.
  private lazy val plans: Seq[(String, Seq[SparkPlan])] = {
    val eager = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        eager.add(qe.sparkPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try SparkEntry.selected(None).map { d =>
      val returned = SparkEntry.releasing(spark)(d.build(spark, dir).queryExecution.sparkPlan)
      GraftShims.awaitListeners(spark.sparkContext)
      d.name -> (returned +: Iterator.continually(eager.poll()).takeWhile(_ != null).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("no declared query plans a cartesian product") {
    plans.foreach { case (name, ps) =>
      val cartesians = ps.flatMap(_.collect { case c: CartesianProductExec => c })
      assert(cartesians.isEmpty, s"$name plans a cartesian product")
    }
  }

  test("unpartitioned windows appear only on the bounded-frame whitelist") {
    val global = plans.collect { case (name, ps) if ps.exists(_.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty) => name }
    val unlisted = global.filterNot(globalWindowWhitelist.contains)
    assert(unlisted.isEmpty,
      s"unpartitioned windows not on the whitelist: ${unlisted.mkString(", ")}")
    val stale = globalWindowWhitelist.keySet -- global
    assert(stale.isEmpty, "whitelisted but undeclared or planning no " +
      s"unpartitioned window: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("windows partitioned only by a ≤10-distinct key are whitelisted") {
    val lowCard = plans.map { case (name, ps) =>
      name -> ps.flatMap(_.collect {
        case w: WindowExec if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(
              _.references.iterator.forall(a => lowCardCols(a.name))) =>
          w.partitionSpec.flatMap(_.references.iterator.map(_.name))
      })
    }.filter(_._2.nonEmpty)
    val unlisted = lowCard.filterNot(l => lowCardWindowWhitelist.contains(l._1))
      .map { case (name, offenders) =>
        s"$name (${offenders.map(_.mkString(",")).distinct.mkString("; ")})" }
    assert(unlisted.isEmpty,
      s"windows on low-cardinality keys alone: ${unlisted.mkString(", ")} — " +
        "≤10 reducers at scale; shard it (q145/q162 idiom) or " +
        "whitelist with a boundedness reason")
    val stale = lowCardWindowWhitelist.keySet -- lowCard.map(_._1)
    assert(stale.isEmpty, "whitelisted but undeclared or planning no " +
      s"low-cardinality window: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
