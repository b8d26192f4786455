package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** One ranked entry: `ord` is the ranking value, `id` the payload key
  * and the deterministic tiebreak (desc by ord, asc by id). */
case class TopKEntry(ord: Double, id: Long)

/** Bounded top-k per group as a typed Aggregator: the buffer is a
  * sorted ≤k-element list, so PARTIAL aggregation applies — each map
  * task reduces its rows to at most k entries per group BEFORE the
  * shuffle. The window+row_number formulation (the q18/q20 shape)
  * must shuffle and sort every row; this shuffles ≤ k·partitions rows
  * per group no matter how large the group is — the 100 TB answer to
  * "top N per key" on skewed keys. */
class TopKAgg(k: Int)
    extends Aggregator[TopKEntry, List[TopKEntry], Seq[TopKEntry]] {
  private def better(a: TopKEntry, b: TopKEntry): Boolean =
    a.ord > b.ord || (a.ord == b.ord && a.id < b.id)
  private def insert(b: List[TopKEntry], a: TopKEntry): List[TopKEntry] =
    if (b.lengthCompare(k) >= 0 && !better(a, b.last)) b
    else {
      val (hi, lo) = b.span(better(_, a))
      (hi ::: a :: lo).take(k)
    }
  override def zero: List[TopKEntry] = Nil
  override def reduce(b: List[TopKEntry], a: TopKEntry): List[TopKEntry] = insert(b, a)
  override def merge(b1: List[TopKEntry], b2: List[TopKEntry]): List[TopKEntry] =
    b2.foldLeft(b1)(insert)
  override def finish(b: List[TopKEntry]): Seq[TopKEntry] = b
  override def bufferEncoder: org.apache.spark.sql.Encoder[List[TopKEntry]] =
    ExpressionEncoder[List[TopKEntry]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[TopKEntry]] =
    ExpressionEncoder[Seq[TopKEntry]]()
}

/** q49–q59: the second relational wave — subqueries, conditional
  * aggregation, grouping sets, unpivot, null-safe joins, interval range
  * frames, value window functions, edit distance, union-by-name, the
  * TPC-H Q3 join pipeline, and time-series gap filling. All follow the
  * determinism rules in [[Relational]] (total ORDER BY, decimal-exact
  * sums emitted as double, no decimal/timestamp output columns —
  * timestamps leave as epoch micros int64).
  */
object Extended {

  /** q49 — explicit GROUPING SETS (not rollup/cube): the (status)-only
    * and (priority)-only marginals in ONE pass. Spark plans grouping
    * sets as a single Expand (one row per set per input) feeding one
    * hash aggregate — not N scans; at 100 TB that is the only shape
    * that reads the fact table once. */
  def q49GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  /** q50 — subqueries: EXISTS (→ left-semi join, no row duplication)
    * and a scalar aggregate subquery (→ one global agg broadcast into
    * the filter; Catalyst plans it as a subquery reuse, the fact table
    * is still read once). Orders that contain a near-max-quantity line
    * AND price above the global average. */
  def q50Subqueries(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49).select("l_orderkey")
    val avgPrice = orders
      .agg(avg(col("o_totalprice")).as("ap"))
    orders
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .join(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("ap"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** q51 — conditional aggregation: per-status urgent-order counts and
    * totals in one pass over orders (sum(CASE WHEN) / count FILTER —
    * no self-join, no second scan). Sums decimal-exact, emitted double. */
  def q51ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT"
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_all"),
        count(when(urgent, 1)).as("n_urgent"),
        sum(when(urgent, col("o_totalprice")).otherwise(lit(0.0))
          .cast("decimal(18,2)")).cast("double").as("urgent_price"),
        (count(when(urgent, 1)).cast("double") / count(lit(1)))
          .as("urgent_frac"))
      .orderBy("o_orderstatus")
  }

  /** q52 — null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL
    * keys MATCH each other instead of dropping out. NULLs are injected
    * via nullif on one region key so the fixture exercises the
    * null=null path. Spark still hash-partitions `<=>` keys (nulls form
    * one group), so the join stays an equi hash join, not a BNL. */
  def q52NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"),
        nullif(col("n_regionkey"), lit(2)).as("rk"))
    val r = Tables.region(spark, dir)
      .select(col("r_name"), nullif(col("r_regionkey"), lit(2)).as("rk"))
    n.join(r, n("rk") <=> r("rk"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  /** q53 — unpivot / melt: wide part metrics → long (partkey, metric,
    * val). Planned as an Expand (one output row per unpivoted column
    * per input row) — single pass, no join, no shuffle. */
  def q53Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retail"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")),
        "metric", "val")
      .orderBy("p_partkey", "metric")

  /** q54 — interval RANGE window frame: per-user trailing-1-hour sum of
    * `value` ordered by event time. RANGE frames bound by VALUE (here
    * time), not row count — same-timestamp rows always share a frame,
    * so the result is deterministic even under ties. Decimal-exact sum
    * emitted as double (frames are small: magnitude << 2^53). */
  def q54RangeFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast("decimal(18,6)").as("v"))
      .withColumn("trailing_1h_sum",
        expr("""CAST(sum(v) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE)"""))
      .select(col("user_id"), col("event_id"), col("trailing_1h_sum"))
      .orderBy("user_id", "event_id")

  /** q55 — value window functions: first/last/nth order price per
    * customer over the full partition frame (ROWS UNBOUNDED..UNBOUNDED
    * so last_value sees the whole partition, not the default growing
    * frame). Order within the partition is made total by (date, key). */
  def q55ValueWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q56 — string edit distance: levenshtein between the part name and
    * its type label — the classic fuzzy-matching scalar (entity
    * resolution, near-dup candidate scoring). Pure codegen'd per-row
    * function: embarrassingly parallel at any scale. */
  def q56EditDistance(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_type"),
        levenshtein(col("p_name"), lower(col("p_type"))).as("lev"))
      .cachedOrderBy("p_partkey")

  /** q57 — union by NAME (schema alignment): two differently-shaped
    * entity projections stacked by column name, missing columns
    * null-filled — the schema-evolution-tolerant union (positional
    * union would silently mismatch columns). */
  def q57UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("bal"), lit("supplier").as("origin"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_name").as("name"), col("c_custkey").as("id"),
        lit("customer").as("origin")) // different order, no bal
    sup.unionByName(cust, allowMissingColumns = true)
      .orderBy("origin", "id")
  }

  /** q58 — the TPC-H Q3 pipeline: 3-way join (dimension-filtered
    * customer ⋈ orders ⋈ lineitem) → agg → top-10. The scale-defining
    * plan: both date filters push to the parquet scans, the customer
    * side (1 segment = ~1/5 of a dim table) broadcasts, lineitem — the
    * 100 TB side — is read once and never re-shuffled except on its
    * join key. Revenue is decimal-exact, emitted double; top-k is
    * TakeOrderedAndProject (per-partition heads, no global sort). */
  def q58TpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1996-01-01"
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)").as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
      .select(col("l_orderkey"),
        // o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC so the
        // cast to instant is identity and unix_micros applies
        unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q59 — time-series gap filling: hourly event counts with EMPTY
    * hours zero-filled. The hour spine is generated from the data's own
    * min/max (sequence + explode — a few thousand rows at any sf, so
    * the left join broadcasts the counts side or the spine side, never
    * the raw events). */
  def q59GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"))
    val counts = hours.groupBy("h").agg(count(lit(1)).as("n"))
    val spine = hours.agg(min("h").as("lo"), max("h").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 HOUR"))).as("h"))
    spine.join(counts, Seq("h"), "left")
      .select(unix_micros(col("h")).as("h_us"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("h_us")
  }

  /** q60 — sequence packing for training batches: documents in doc_id
    * order are packed into fixed-capacity token bins (bin = the
    * capacity-quotient of the tokens BEFORE this doc — the streaming
    * pack: a doc may straddle its bin boundary, matching how sequence
    * packers chunk concatenated corpora). Output is per-bin stats.
    *
    * Scale: text never enters the shuffle — only (doc_id, n_tokens)
    * pairs — and the running total runs SHARDED ([[packSequences]]):
    * per-shard partitioned windows plus an exclusive shard-offset
    * prefix sum, so no window ever sorts more than one shard on one
    * reducer. */
  def q60PackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(
      Tables.fanout(Tables.documents(spark, dir).select("doc_id", "text"))
        .select(col("doc_id"),
          regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens")),
      cap = 2048, nShards = 16)

  /** The SHARDED prefix-sum pack — the 100 TB formulation the q60 doc
    * promises, used BY q60 itself. A running total is a prefix sum, and
    * prefix sums decompose exactly: shard docs into contiguous doc_id
    * ranges, take the running total WITHIN each shard (a partitioned
    * window — parallel, no single-reducer sort), then add each shard's
    * exclusive offset (a global window over ≤ nShards rows — the only
    * unpartitioned window left, and it is O(shards), not O(docs)).
    * Identical bins to the single-window form for every input
    * (ExtendedSpec pins it): global_cum = shard_offset + within_cum
    * is an identity, not an approximation. */
  def packSequences(tok: DataFrame, cap: Int, nShards: Int): DataFrame =
    ScaleOps.shardedCumSum(tok, "doc_id", "n_tokens", "cum", nShards)
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / lit(cap)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("bin")

  /** [[packSequences]] independently per `groupCol` value in ONE pass
    * (ScaleOps.groupedShardedCumSum) — what an epoch build wants for
    * its train/val/test splits instead of three separate pipelines
    * over the same frame. Bins are per group; output one row per
    * (group, bin). Identical bins to filtering each group and calling
    * [[packSequences]] (ExtendedSpec pins it). */
  def packSequencesGrouped(tok: DataFrame, groupCol: String, cap: Int,
      nShards: Int): DataFrame =
    ScaleOps.groupedShardedCumSum(tok, groupCol, "doc_id", "n_tokens",
        "cum", nShards)
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / lit(cap)))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy(groupCol, "bin")

  /** q61 — top-3 orders per customer via [[TopKAgg]]: partial top-k on
    * the map side (≤3 rows per customer per task cross the wire), final
    * merge per key, posexplode for ranks. Same result as the
    * window+row_number shape, radically less shuffle on big/skewed
    * groups. */
  def q61TopKPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new TopKAgg(3).toColumn
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => TopKEntry(r._2, r._3))
      .agg(topk.name("top"))
      .toDF("o_custkey", "top")
      .select(col("o_custkey"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("o_orderkey"), col("e.ord").as("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }

  /** q62 — PII scrubbing for training corpora: redact email-shaped and
    * long-digit-run substrings, count what was removed. Regexes stay in
    * the dialect subset Java and RE2 agree on (character classes +
    * bounded repetition). Pure per-row projection — codegen'd, no
    * shuffle, embarrassingly parallel at any scale. */
  def q62PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-zA-Z0-9._]+@[a-zA-Z0-9]+\\.[a-zA-Z]+"
    val digits = "[0-9]{4,}"
    Tables.fanout(Tables.documents(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(digits)).as("n_digit_runs"),
        regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          digits, "<NUM>").as("redacted"))
      // NOT cachedOrderBy: the output carries the full redacted corpus —
      // caching it measured 1.4× slower than recomputing the regexes in
      // the sort's sampling pass (1000×: 62.9 vs 43.9 s)
      .orderBy("doc_id")
  }

  /** q65 — conversion funnel (event-sequence detection): each click's
    * FIRST purchase by the same user within 30 minutes. The candidate
    * join is equi on user_id with a time-band residual (the q14 range
    * shape — an equi anchor, never a cartesian); "first" is a
    * row_number over (purchase time, id) per click with a total
    * tiebreak. The window partitions by click id — millions of tiny
    * partitions, the shape window engines scale on (no skew possible:
    * partition size = purchases within 30 min of one click). */
  def q65Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("us").as("p_us"))
    val w = Window.partitionBy("c_id").orderBy("p_us", "p_id")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_us") > col("c_us") &&
          col("p_us") - col("c_us") <= 1800000000L)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("c_id"), col("p_id"),
        (col("p_us") - col("c_us")).as("delay_us"))
      .orderBy("c_id")
  }

  /** q66 — value histogram: fixed-width price buckets (10 × 60k, last
    * bucket open-ended) with counts and exact bucket totals. One
    * partial+final aggregate — the single-pass histogram any profiling
    * stage runs over a fact column at scale. */
  def q66Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(least(floor(col("o_totalprice") / 60000), lit(9L)).as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("bucket_total"))
      .orderBy("bucket")

  val declared: Seq[Declared] = Seq(
    Declared("q65_funnel", q65Funnel, Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT user_id, c_id, p_id, delay_us FROM (
        |  SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id,
        |         p.us - c.us AS delay_us,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY p.us, p.event_id) AS rn
        |  FROM ev c JOIN ev p
        |    ON c.user_id = p.user_id
        |   AND c.event_type = 'click' AND p.event_type = 'purchase'
        |   AND p.us > c.us AND p.us - c.us <= 1800000000)
        |WHERE rn = 1 ORDER BY c_id""".stripMargin)),
    Declared("q66_histogram", q66Histogram, Some(
      """SELECT least(CAST(floor(o_totalprice / 60000) AS BIGINT), 9) AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS bucket_total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),
    Declared("q61_topk_per_key", q61TopKPerKey, Some(
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),
    Declared("q62_pii_redact", q62PiiRedact, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9]+\.[a-zA-Z]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INT) AS n_digit_runs,
        |  regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._]+@[a-zA-Z0-9]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Declared("q60_pack_sequences", q60PackSequences, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin)),
    Declared("q49_grouping_sets", q49GroupingSets, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)),
    Declared("q50_subqueries", q50Subqueries, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |  AND o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)),
    Declared("q51_conditional_agg", q51ConditionalAgg, Some(
      """SELECT o_orderstatus,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |                     THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,2)))
        |       AS DOUBLE) AS urgent_price,
        |  CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)
        |    / count(*) AS urgent_frac
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Declared("q52_nullsafe_join", q52NullSafeJoin, Some(
      """SELECT n_nationkey, n_name, r_name
        |FROM (SELECT n_nationkey, n_name, nullif(n_regionkey, 2) AS rk FROM nation) n
        |JOIN (SELECT r_name, nullif(r_regionkey, 2) AS rk FROM region) r
        |  ON n.rk IS NOT DISTINCT FROM r.rk
        |ORDER BY n_nationkey""".stripMargin)),
    Declared("q53_unpivot", q53Unpivot, Some(
      """SELECT p_partkey, metric, val
        |FROM (UNPIVOT (SELECT p_partkey,
        |                      CAST(p_size AS DOUBLE) AS size,
        |                      p_retailprice AS retail
        |               FROM part)
        |      ON size, retail INTO NAME metric VALUE val)
        |ORDER BY p_partkey, metric""".stripMargin)),
    Declared("q54_range_frame", q54RangeFrame, Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS trailing_1h_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    Declared("q55_value_window", q55ValueWindow, Some(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Declared("q56_edit_distance", q56EditDistance, Some(
      """SELECT p_partkey, p_name, p_type,
        |       CAST(levenshtein(p_name, lower(p_type)) AS INT) AS lev
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Declared("q57_union_by_name", q57UnionByName, Some(
      """SELECT * FROM (
        |  SELECT s_suppkey AS id, s_name AS name, s_acctbal AS bal,
        |         'supplier' AS origin FROM supplier
        |  UNION ALL BY NAME
        |  SELECT c_name AS name, c_custkey AS id, CAST(NULL AS DOUBLE) AS bal,
        |         'customer' AS origin FROM customer)
        |ORDER BY origin, id""".stripMargin)),
    Declared("q58_tpch_q3", q58TpchQ3, Some(
      """SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us,
        |  CAST(ROUND(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                      AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Declared("q59_gap_fill", q59GapFill, Some(
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT min(h) FROM hourly),
        |                                (SELECT max(h) FROM hourly),
        |                                INTERVAL 1 HOUR)) AS h)
        |SELECT epoch_us(spine.h) AS h_us, coalesce(hourly.n, 0) AS n
        |FROM spine LEFT JOIN hourly ON spine.h = hourly.h
        |ORDER BY h_us""".stripMargin)))
}
