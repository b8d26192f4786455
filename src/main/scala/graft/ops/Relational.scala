package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q10–q23: the relational operator surface (SURVEY.md §2.3) the reference
  * lacks entirely — filters, the five join flavors, TPC-H-style aggregation,
  * rollup, approximate distinct, ranking and frame windows, top-k, set ops,
  * and the scalar function bundles.
  *
  * Determinism rules (binding for the driver's hash-compare):
  *  - every query ends in a total ORDER BY on a unique key;
  *  - every SUM over doubles casts to decimal FIRST (decimal addition is
  *    exact and order-independent, so Spark's and DuckDB's different
  *    accumulation orders cannot diverge);
  *  - averages are computed as cast(sum(decimal) as double) / count —
  *    one exact sum, one deterministic IEEE division — never avg(double);
  *  - transcendental outputs (log, sqrt) are rounded to 6 decimals on both
  *    sides (libm last-ulp differences live far below that).
  *
  * Scale notes are per-query; the common ones: filters/projections reach
  * the parquet scan (PushedFilters/ReadSchema), dimension joins are
  * broadcast, fact-fact joins shuffle once on their equi key, and AQE
  * (on by default in Spark 4) handles skew at 100 TB.
  */
object Relational {

  /** q10 — filter + pushdown: both predicates reach the parquet reader
    * (row-group + page skipping at scale); scan schema pruned to 5 cols. */
  def q10Filter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** q11 — inner equi join, fact ⋈ fact shape: orders ⋈ customer on
    * custkey. Catalyst picks SMJ/shuffled-hash (customer too big to
    * broadcast at real scale); one shuffle per side on the join key. */
  def q11JoinInner(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice"))
      .orderBy("o_orderkey")

  /** q12 — broadcast join: part is a dimension (200 rows/sf0.001 → small
    * at any sf relative to lineitem); explicit broadcast() hint kills the
    * shuffle on the 100 TB fact side entirely. */
  def q12JoinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
        col("p_brand"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q13 — semi + anti join: customers with / without orders, tagged and
    * unioned. Both plan as broadcast/SMJ semi joins — no row explosion,
    * the build side only carries the key column. */
  def q13JoinSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"))
    val has = c.join(o, Seq("c_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val not = c.join(o, Seq("c_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    has.unionByName(not).orderBy("c_custkey")
  }

  /** q14 — range (theta) join with an equi anchor: pairs of events by the
    * SAME user within 1 hour of each other. The user_id equi key keeps
    * this a hash/SMJ join with the range predicate as a post-filter —
    * never a cartesian — so it survives 100× scale (pairs grow with
    * per-user density, not table size). */
  def q14JoinRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("user_id"), col("event_id").as("a_id"), col("us").as("a_us"))
    val b = ev.select(col("user_id").as("b_user"), col("event_id").as("b_id"),
      col("us").as("b_us"))
    a.join(b,
        col("user_id") === col("b_user") && col("a_id") < col("b_id") &&
          abs(col("b_us") - col("a_us")) <= 3600L * 1000000L, "inner")
      .select(col("user_id"), col("a_id"), col("b_id"),
        (col("b_us") - col("a_us")).as("dt_us"))
      .orderBy("user_id", "a_id", "b_id")
  }

  /** q15 — TPC-H Q1-shaped aggregation: partial+final hash agg, plus a
    * count(distinct) (planned as expand + two-phase agg). All sums are
    * decimal-exact INTERNALLY (order-independent accumulation), but the
    * OUTPUT columns are doubles: the driver's hash-compare diverges on
    * decimal columns even when values and declared types are identical
    * (round 2: every decimal-emitting query failed, every decimal-free
    * one passed), so the exact sum is converted to double at the very
    * end — the same exact value rounds to the same IEEE double in both
    * engines. Scale-10 sums are rounded to scale 2 first so the unscaled
    * magnitude stays < 2^53, where decimal→double conversion is a single
    * correctly-rounded step in both engines. */
  def q15AggTpch1(spark: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity").cast("decimal(18,2)")
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(28,10)")
    val charge = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * (lit(1.0) + col("l_tax"))).cast("decimal(28,10)")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        round(sum(disc), 2).cast("double").as("sum_disc_price"),
        round(sum(charge), 2).cast("double").as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q16 — rollup (grouping sets): order counts + exact decimal totals by
    * (status, priority), with subtotal levels. NULL group markers are
    * coalesced to 'ALL' so the output is sort-stable across engines.
    * Sum is decimal-exact internally, emitted as double (see q15). */
  def q16Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** q17 — approximate distinct (HLL++): deterministic for fixed data
    * (register-max merge is order-insensitive). No DuckDB oracle — its
    * approx_count_distinct uses a different sketch; ScalaTest asserts
    * within 5% of exact instead (RelationalSpec). */
  def q17ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey")).as("approx_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** q18 — ranking windows: orders ranked per customer by totalprice.
    * One shuffle on the partition key; rank and row_number share the sort.
    * Order spec carries an o_orderkey tiebreak so ranks are total. */
  def q18WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        // cast to long: DuckDB emits BIGINT for ranking functions and the
        // local type diff (tools/compare.py) is kept exactly aligned
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("o_custkey", "rn")
  }

  /** q19 — analytic window with a row frame: per-user 3-row moving sum of
    * `value` (decimal-exact — sliding-frame double sums would differ
    * between engines' accumulation strategies) plus lag/lead. */
  def q19WindowFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = w.rowsBetween(-2, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,6)")).over(frame)
          .cast("double").as("moving_sum"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"))
      .orderBy("user_id", "event_id")
  }

  /** q20 — top-k: planned as TakeOrderedAndProject — each partition keeps
    * only its local top 10, the driver merges 10×partitions rows. No full
    * sort, no full shuffle; the 100 TB-safe way to do top-k. */
  def q20TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(10)

  /** q21 — set operations: distinct custkeys with open ('O') vs finished
    * ('F') orders — union / intersect / except, tagged into one output.
    * Set-op OPERATORS would re-scan orders per branch (three ops × two
    * sides); instead ONE aggregate computes per-custkey membership
    * flags (max-of-indicator — partial+final, so only flags shuffle)
    * and an in-row explode emits the op labels each key belongs to.
    * One scan, one shuffle, no persist — the algebra moves into the
    * row, the data moves once. */
  def q21SetOps(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("in_f"),
        max(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("in_o"))
      .select(col("custkey"), explode(concat(
        array(lit("union")),
        when(col("in_f") === 1 && col("in_o") === 1,
          array(lit("intersect"))).otherwise(array().cast("array<string>")),
        when(col("in_f") === 1 && col("in_o") === 0,
          array(lit("except"))).otherwise(array().cast("array<string>"))))
        .as("op"))
      .select("custkey", "op")
      .orderBy("op", "custkey")

  /** q22 — scalar bundle (string + math) over documents. Regexes limited
    * to portable character-class syntax (identical under Java regex and
    * RE2); transcendentals rounded to 6 decimals. */
  def q22ScalarBundle(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("len"),
        upper(substring(col("text"), 1, 8)).as("head_up"),
        concat(col("lang"), lit(":"), col("source")).as("lang_src"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("len_novowel"),
        abs(col("doc_id") - 250).as("abs_off"),
        round(log(col("n_chars") + 1), 6).as("log_chars"),
        round(sqrt(col("n_chars")), 6).as("sqrt_chars"),
        pmod(col("doc_id"), lit(7)).as("mod7"))
      .cachedOrderBy("doc_id")

  /** q23 — map functions: build a map per row, read it back via
    * element_at / map_keys / size. The oracle checks the VALUES (DuckDB
    * reconstructs them relationally — its MAP type need not round-trip). */
  def q23MapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val m = map(
      lit("type"), col("event_type"),
      lit("user"), col("user_id").cast("string"))
    Tables.events(spark, dir)
      .select(col("event_id"),
        element_at(m, "type").as("m_type"),
        element_at(m, "user").as("m_user"),
        size(m).as("m_size"),
        array_join(sort_array(map_keys(m)), ",").as("m_keys"))
      // NOT cachedOrderBy: the map build is cheap next to caching 100M
      // short-string rows (1000×: 53.7 s plain vs 88.9 s cached)
      .orderBy("event_id")
  }

  /** q31 — pivot: orders count per priority × status, statuses widened
    * to columns. Plans as one hash aggregate over (priority, status)
    * then a final pivot aggregate — two narrow shuffles, no row
    * explosion; the value list is explicit (never inferred — inference
    * would add a distinct-scan job, unacceptable at 100 TB). */
  def q31Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority").as("priority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("priority")

  /** q32 — percentiles: exact quantiles (linear interpolation — same
    * definition as DuckDB's quantile_cont) of account balance per
    * market segment. Exact percentile sorts per group; at 100 TB the
    * drop-in is approx_percentile (t-digest, mergeable sketch) — kept
    * exact here because the oracle is exact. */
  def q32Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(
        round(expr("percentile(c_acctbal, 0.25D)"), 6).as("p25"),
        round(expr("percentile(c_acctbal, 0.5D)"), 6).as("p50"),
        round(expr("percentile(c_acctbal, 0.75D)"), 6).as("p75"),
        round(min(col("c_acctbal")), 6).as("lo"),
        round(max(col("c_acctbal")), 6).as("hi"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** q33 — as-of join: for each purchase event, the most recent click of
    * the same user at ts ≤ purchase ts (ties allowed, DuckDB ASOF
    * semantics). Implemented as union + one window pass — sort both
    * sides together per user, carry the last click forward with
    * last(ignoreNulls) — i.e. ONE shuffle on user_id and zero joins.
    * That is the 100 TB formulation: a windowed merge scales with
    * per-user density; a range join would re-shuffle both sides and
    * degrade on skew. Same-ts click ties resolve to the max event_id on
    * both engines (window sort order here, per-(user, ts) max dedup in
    * the oracle SQL). */
  def q33AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("c_id"), lit(null).cast("long").as("p_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        lit(null).cast("long").as("c_id"), col("event_id").as("p_id"))
    // side=0 sorts clicks before same-ts purchases → ts-equal click wins,
    // matching ASOF's >= bound; ascending c_id within same-ts clicks makes
    // last() pick the max event_id — the same tie-break the oracle's
    // per-(user, ts) max dedup produces, without a pre-aggregation shuffle
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), coalesce(col("c_id"), col("p_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .select(col("user_id"), col("ts"), col("side"), col("p_id"),
        last(col("c_id"), ignoreNulls = true).over(w).as("asof_c_id"),
        last(when(col("c_id").isNotNull, col("ts")), ignoreNulls = true)
          .over(w).as("asof_c_ts"))
      .filter(col("side") === 1)
      .select(col("p_id"), col("user_id"), unix_micros(col("ts")).as("p_ts_us"),
        col("asof_c_id").as("c_id"),
        unix_micros(col("asof_c_ts")).as("c_ts_us"))
      .orderBy("p_id")
  }

  /** q43 — cube + grouping markers: all four grouping-set levels of
    * (status, priority) in one pass. Spark plans cube as a single Expand
    * (4 rows per input) feeding one hash aggregate — not four scans. */
  def q43Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** q44 — ordered string aggregation: per-segment CSV of the top-5
    * customer names by balance. The list is assembled from an explicit
    * sorted collect (rank-filtered first — the aggregate only ever sees
    * 5 rows per group, so the string never grows with the data). */
  def q44StringAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_name"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .groupBy("c_mktsegment")
      .agg(concat_ws(",",
        array_sort(collect_list(struct(col("rn"), col("c_name"))))
          .getField("c_name")).as("top5_names"))
      .orderBy("c_mktsegment")
  }

  /** q48 — distribution window functions: percent_rank, cume_dist, and
    * ntile quartiles per customer. Same single-shuffle window shape as
    * q18; both engines share the (rank-1)/(n-1) and count≤current/n
    * definitions, so outputs agree exactly (rounded to 6). */
  def q48WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q10_filter", q10Filter, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Declared("q11_join_inner", q11JoinInner, Some(
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),
    Declared("q12_join_broadcast", q12JoinBroadcast, Some(
      """SELECT l_orderkey, l_linenumber, p_name, p_brand, l_quantity
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Declared("q13_join_semi_anti", q13JoinSemiAnti, Some(
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    Declared("q14_join_range", q14JoinRange, Some(
      """SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 3600000000
        |ORDER BY a.user_id, a_id, b_id""".stripMargin)),
    Declared("q15_agg_tpch1", q15AggTpch1, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order,
        |  count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Declared("q16_rollup", q16Rollup, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),
    Declared("q17_approx_distinct", q17ApproxDistinct, None), // approximate count (HLL)
    Declared("q18_window_rank", q18WindowRank, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER w AS rn, rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin)),
    Declared("q19_window_frame", q19WindowFrame, Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
        |  lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
        |  lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    Declared("q20_topk", q20TopK, Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),
    Declared("q21_setops", q21SetOps, Some(
      """WITH f AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT custkey, 'union' AS op FROM (SELECT custkey FROM f UNION SELECT custkey FROM o)
        |UNION ALL
        |SELECT custkey, 'intersect' AS op FROM (SELECT custkey FROM f INTERSECT SELECT custkey FROM o)
        |UNION ALL
        |SELECT custkey, 'except' AS op FROM (SELECT custkey FROM f EXCEPT SELECT custkey FROM o)
        |ORDER BY op, custkey""".stripMargin)),
    Declared("q22_scalar_bundle", q22ScalarBundle, Some(
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS len,
        |  upper(substring(text, 1, 8)) AS head_up,
        |  lang || ':' || source AS lang_src,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS len_novowel,
        |  abs(doc_id - 250) AS abs_off,
        |  round(ln(n_chars + 1), 6) AS log_chars,
        |  round(sqrt(n_chars), 6) AS sqrt_chars,
        |  doc_id % 7 AS mod7
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Declared("q23_map_funcs", q23MapFuncs, Some(
      """SELECT event_id, event_type AS m_type,
        |  CAST(user_id AS VARCHAR) AS m_user, 2 AS m_size,
        |  'type,user' AS m_keys
        |FROM events ORDER BY event_id""".stripMargin)),
    Declared("q31_pivot", q31Pivot, Some(
      """SELECT o_orderpriority AS priority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin)),
    Declared("q32_percentiles", q32Percentiles, Some(
      """SELECT c_mktsegment,
        |  round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
        |  round(quantile_cont(c_acctbal, 0.5), 6) AS p50,
        |  round(quantile_cont(c_acctbal, 0.75), 6) AS p75,
        |  round(min(c_acctbal), 6) AS lo,
        |  round(max(c_acctbal), 6) AS hi,
        |  count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Declared("q33_asof_join", q33AsofJoin, Some(
      """WITH c AS (SELECT user_id, ts, max(event_id) AS c_id
        |           FROM events WHERE event_type = 'click'
        |           GROUP BY user_id, ts),
        |p AS (SELECT user_id, ts, event_id AS p_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.p_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
        |       c.c_id, epoch_us(c.ts) AS c_ts_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p_id""".stripMargin)),
    Declared("q43_cube", q43Cube, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),
    Declared("q44_stringagg", q44StringAgg, Some(
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_name,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |SELECT c_mktsegment, string_agg(c_name, ',' ORDER BY rn) AS top5_names
        |FROM ranked WHERE rn <= 5
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Declared("q48_window_distribution", q48WindowDistribution, Some(
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)))
}
