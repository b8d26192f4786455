package graft.ops

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** q147–q152, q154–q157 — round-5 batches 2–3, every one DuckDB-oracle
  * checked:
  *
  *  - q147 event-type transition matrix (first-order Markov)
  *  - q148 vocabulary growth curve (block-cumulative first-seen)
  *  - q149 inter-event gap histogram (bit-length buckets)
  *  - q150 data-quality rule audit (constraint violations per rule)
  *  - q151 quantile normalization (exact percent-rank feature)
  *  - q152 co-purchase lift (within-order part-pair association)
  *  - q154 canonicalization dedup, keep-best policy
  *  - q155 corpus snapshot diff (added/removed/changed)
  *  - q156 salted skew join (result ≡ plain join, oracle-proven)
  *  - q157 column profile (null/distinct/min/max per column)
  */
object Extended7 {

  // ---------------------------------------------------------------- q147
  /** q147 — first-order Markov transition matrix over the event stream:
    * for each (from, to) pair of consecutive event types per user, the
    * count and the row-normalized transition probability. Ordering is
    * fully tiebroken (ts, event_id) so `lag` is deterministic on both
    * engines. Scale: one partitioned window over users (the natural
    * shuffle key), then all remaining work — row totals, normalization
    * — happens on the TYPE×TYPE aggregate (≤ |types|² rows, stats-
    * sized). Counts are exact; one final division. */
  def q147SessionTransitions(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .withColumn("from_type", lag("event_type", 1).over(wU))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_type")
    trans
      .withColumn("row_total", sum("n").over(wFrom))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"))
      .orderBy("from_type", "to_type")
  }

  // ---------------------------------------------------------------- q148
  /** q148 — vocabulary growth curve: cumulative distinct word-3-GRAM
    * count as the corpus is ingested in doc_id order, reported per
    * 50-doc block — the "are we still seeing new content?" curation
    * curve (a flattening curve says additional data is redundant).
    * Grams, not words: this corpus's word vocabulary saturates in the
    * first docs (one block — a degenerate curve), while the gram space
    * keeps growing (q139's novelty signal, accumulated). first_seen =
    * min(doc_id) per gram is a plain partial+final aggregate; blocks
    * aggregate those, and the ONLY cumulative window runs over the
    * block table — stats-sized by construction (docs/50 rows), never
    * over docs or grams. */
  def q148VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = TextOps.gramRows(Tables.documents(spark, dir), 3)
      .groupBy("g").agg(min("doc_id").as("first_seen"))
    val wCum = Window.orderBy("block")
      .rowsBetween(Window.unboundedPreceding, 0)
    firstSeen
      .groupBy(expr("first_seen div 50").cast("int").as("block"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_vocab", sum("n_new").over(wCum))
      .orderBy("block")
  }

  // ---------------------------------------------------------------- q149
  /** q149 — inter-event gap histogram: per event type, counts of
    * consecutive same-user gaps bucketed by the BIT LENGTH of the gap
    * in seconds (the q135 idiom — exact integer, no floor(log2) libm
    * wobble; bucket b holds gaps in [2^(b−1), 2^b) seconds). The lag
    * window partitions on (user, type) — the natural key; the
    * histogram is a stats-sized aggregate (types × ~40 buckets).
    * Integer micros throughout. */
  def q149InterEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(spark, dir).select("user_id", "event_id", "event_type", "ts")
      .withColumn("gap_s",
        expr("(unix_micros(ts) - unix_micros(lag(ts, 1) OVER " +
          "(PARTITION BY user_id, event_type ORDER BY ts, event_id))) " +
          "div 1000000"))
      .filter(col("gap_s").isNotNull)
      .withColumn("bucket", length(bin(col("gap_s"))))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        min("gap_s").as("min_gap_s"), max("gap_s").as("max_gap_s"))
      .orderBy("event_type", "bucket")
  }

  // ---------------------------------------------------------------- q150
  /** q150 — data-quality rule audit (the dbt-test / Deequ shape): each
    * declared constraint over `orders` emits one row with its exact
    * violation count. Three in-row rules fold into ONE conditional
    * aggregate pass; the referential rule is a broadcast anti-join
    * count (customer keys are the dimension side). Zero-violation
    * rules still report — an audit that omits passing rules can't
    * prove it ran them. */
  def q150RuleAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val inRow = o.agg(
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
        .as("r1_nonpositive_price"),
      sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L))
        .as("r2_stuck_pending"),
      sum(when(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"),
        1L).otherwise(0L)).as("r3_future_dated"))
    val orphans = o.join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"))),
      Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("r4_orphan_customer"))
    inRow.crossJoin(orphans)
      .select(
        explode(map(
          lit("r1_nonpositive_price"), col("r1_nonpositive_price"),
          lit("r2_stuck_pending"), col("r2_stuck_pending"),
          lit("r3_future_dated"), col("r3_future_dated"),
          lit("r4_orphan_customer"), col("r4_orphan_customer")))
          .as(Seq("rule", "n_violations")))
      .orderBy("rule")
  }

  // ---------------------------------------------------------------- q151
  /** q151 — quantile normalization: each event's `value` mapped to its
    * exact within-type percent rank (rn−1)/(n−1) under a fully
    * tiebroken ordering — the rank-uniform feature transform (outlier-
    * immune where z-scoring is not). The division is the single IEEE
    * op on exact integer ranks.
    *
    * NO type-partitioned window over the fact table (≤5 event types =
    * ≤5 reducers at scale): the within-type rank decomposes as
    * per-(type, value-range-bucket) row_number plus a broadcast
    * prefix-count offset — the q145 idiom. Buckets are ORDER-
    * CONTIGUOUS in value (64 range slices from a broadcast min/max),
    * so bucket-local rank + offset IS the global within-type rank; the
    * only type-partitioned window runs over the ≤64-row per-bucket
    * count table. Ties share a value, hence a bucket, so the
    * (value, event_id) tiebreak stays intact. */
  def q151QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("v"))
    val bounds = ev.groupBy("event_type")
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
    val sh = ev.join(broadcast(bounds), "event_type")
      .withColumn("bkt",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor(((col("v") - col("lo")) * 64) /
            (col("hi") - col("lo"))).cast("long"), lit(63L))))
    val wR = Window.partitionBy("event_type", "bkt")
      .orderBy(col("v"), col("event_id"))
    val wOff = Window.partitionBy("event_type").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sh.groupBy("event_type", "bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
      .select("event_type", "bkt", "off")
    sh.join(broadcast(offs), Seq("event_type", "bkt"))
      .withColumn("rn", col("off") + row_number().over(wR))
      .select(col("event_id"), col("event_type"),
        round((col("rn") - 1).cast("double") / (col("n") - 1), 6)
          .as("q_norm"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q152
  /** q152 — co-purchase lift: for part pairs appearing in ≥ 2 common
    * orders, lift = P(a,b)/(P(a)·P(b)) over the order universe — the
    * association-mining primitive (market-basket analysis). The pair
    * join fans out WITHIN orders only (order size is bounded — ≤ 13
    * distinct parts here — so pairs/order is bounded, never corpus²);
    * part frequencies join back broadcast. Exact integer counts in
    * decimal cross-products; one final double division. */
  def q152CopurchaseLift(spark: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .pipe(ScaleOps.stageCheckpoint)
    val nOrders = Tables.lineitem(spark, dir)
      .select(countDistinct("l_orderkey").as("n_orders"))
    val partFreq = op.groupBy("pk").agg(count(lit(1)).as("n_p"))
    val pairs = op.select(col("ok"), col("pk").as("pa"))
      .join(op.select(col("ok"), col("pk").as("pb")), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairs
      .join(broadcast(partFreq.select(col("pk").as("pa"),
        col("n_p").as("n_a"))), "pa")
      .join(broadcast(partFreq.select(col("pk").as("pb"),
        col("n_p").as("n_b"))), "pb")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"),
        round((col("n_ab").cast("decimal(38,0)") * col("n_orders"))
            .cast("double") /
          (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double"),
          6).as("lift"))
      .orderBy("pa", "pb")
  }

  // ---------------------------------------------------------------- q154
  /** q154 — canonicalization dedup with a keep-best policy: documents
    * whose LETTER CONTENT is identical (case, punctuation, and spacing
    * ignored — the canonical key is md5 of the normalized token join)
    * collapse to one representative chosen by an explicit policy:
    * longest raw text wins, doc_id breaks ties. This is the curation
    * dedup q24 (byte-exact) cannot do — near-identical documents that
    * differ only in formatting — with the policy production systems
    * actually want (keep the richest variant). Planted: every even doc
    * gets a punctuation-suffixed copy, which the policy must PREFER
    * (it is longer). Scale: key = 16-B md5; one groupBy on the key
    * carrying (len, doc_id) pairs — map-side partial max_by, text
    * never shuffles. */
  def q154CanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 2 === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" ...!!")).as("text")))
    corpus
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        md5(array_join(TextOps.tokens(col("text")), " ")).as("ckey"))
      .groupBy("ckey")
      .agg(count(lit(1)).as("n_variants"),
        max_by(struct(col("len"), col("doc_id")),
          struct(col("len"), -col("doc_id"))).as("best"))
      .select(col("ckey"), col("n_variants"),
        col("best.doc_id").as("kept_id"), col("best.len").as("kept_len"))
      .orderBy("ckey")
  }

  // ---------------------------------------------------------------- q155
  /** q155 — corpus snapshot diff: the added/removed/changed/unchanged
    * audit between two dataset versions (the data-diff every managed
    * corpus needs before promoting a snapshot). v2 is derived: 10% of
    * docs deleted, 10% edited, 10% new. A full-outer join on doc_id
    * comparing content hashes classifies every id; output is the
    * 4-row count summary. Scale: both sides reduce to (doc_id, sha2)
    * — 40 B rows — before the join; text never crosses the wire. */
  def q155SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text")
    val v1 = base.select(col("doc_id"), sha2(col("text"), 256).as("h1"))
    val v2full = base.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 1, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val v2 = v2full.select(col("doc_id"), sha2(col("text"), 256).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(when(col("h1").isNull, "added")
        .when(col("h2").isNull, "removed")
        .when(col("h1") =!= col("h2"), "changed")
        .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  // ---------------------------------------------------------------- q156
  /** q156 — salted skew join, DECLARED: revenue per nation through
    * [[ScaleOps.saltedEquiJoin]] (fact side salted over 8 sub-keys,
    * supplier dim replicated per salt) — and the ORACLE is the PLAIN
    * join, so the driver hash-check proves the salted physical
    * strategy is result-invisible (ScaleSpec proves it in-engine; this
    * makes it a cross-engine t2 fact). Salting is the mitigation for
    * the hot key AQE cannot split — a key too big for the other side
    * to broadcast. Sums in decimal. */
  def q156SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
    val dim = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    ScaleOps.saltedEquiJoin(fact, dim, "suppkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lines"),
        sum("price").cast("double").as("revenue"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q157
  /** q157 — column profile (the Deequ/dbt-docs shape): per column of
    * `orders`, exact null count, distinct count, and min/max rendered
    * through an explicit engine-portable formatting (doubles are
    * profiled as DECIMAL(18,2) strings; timestamps as their canonical
    * cast — raw double→string formatting differs across engines and
    * is NOT part of the contract). One scan computes all metrics as
    * ONE aggregate row; the per-column reshape explodes a map of
    * 20 values — stats-sized. */
  def q157ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // min/max aggregate on the RAW value (string-min of "10" < "2" is
    // not a profile); rendering to the portable string form happens
    // after, on the single aggregate row
    def render(c: String): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c match {
        case "o_totalprice" => _.cast("decimal(18,2)").cast("string")
        case _ => _.cast("string")
      }
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderstatus", "o_orderpriority")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_distinct"),
      min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val row = o.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col(s"${c}_nulls").as("n_null"),
        col(s"${c}_distinct").as("n_distinct"),
        render(c)(col(s"${c}_min")).as("min_s"),
        render(c)(col(s"${c}_max")).as("max_s"))): _*)).as("p"))
      .select("p.column", "p.n_null", "p.n_distinct", "p.min_s", "p.max_s")
      .orderBy("column")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q154_canonical_dedup", q154CanonicalDedup, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' ...!!' FROM documents
        |  WHERE doc_id % 2 = 0),
        |k AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |    md5(array_to_string(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), ' ')) AS ckey
        |  FROM corpus),
        |r AS (
        |  SELECT ckey, doc_id, len,
        |    count(*) OVER (PARTITION BY ckey) AS n_variants,
        |    row_number() OVER (PARTITION BY ckey
        |      ORDER BY len DESC, doc_id) AS rnk
        |  FROM k)
        |SELECT ckey, n_variants, doc_id AS kept_id, len AS kept_len
        |FROM r WHERE rnk = 1 ORDER BY ckey""".stripMargin)),
    Declared("q155_snapshot_diff", q155SnapshotDiff, Some(
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS h FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 1 THEN text || ' edited'
        |             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(text) FROM documents
        |  WHERE doc_id % 10 = 2)
        |SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
        |            WHEN v2.doc_id IS NULL THEN 'removed'
        |            WHEN v1.h <> v2.h THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       count(*) AS n
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Declared("q156_salted_join", q156SaltedJoin, Some(
      """SELECT n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    Declared("q157_column_profile", q157ColumnProfile, Some(
      """WITH m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS k_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS k_min,
        |    CAST(max(o_orderkey) AS VARCHAR) AS k_max,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nulls,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS c_distinct,
        |    CAST(min(o_custkey) AS VARCHAR) AS c_min,
        |    CAST(max(o_custkey) AS VARCHAR) AS c_max,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
        |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS p_distinct,
        |    CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_min,
        |    CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS p_max,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS s_distinct,
        |    min(o_orderstatus) AS s_min, max(o_orderstatus) AS s_max,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pr_nulls,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS pr_distinct,
        |    min(o_orderpriority) AS pr_min, max(o_orderpriority) AS pr_max
        |  FROM orders)
        |SELECT 'o_custkey' AS "column", c_nulls AS n_null,
        |       c_distinct AS n_distinct, c_min AS min_s, c_max AS max_s
        |FROM m
        |UNION ALL SELECT 'o_orderkey', k_nulls, k_distinct, k_min, k_max FROM m
        |UNION ALL SELECT 'o_orderpriority', pr_nulls, pr_distinct, pr_min, pr_max FROM m
        |UNION ALL SELECT 'o_orderstatus', s_nulls, s_distinct, s_min, s_max FROM m
        |UNION ALL SELECT 'o_totalprice', p_nulls, p_distinct, p_min, p_max FROM m
        |ORDER BY "column"""".stripMargin)),
    Declared("q147_session_transitions", q147SessionTransitions, Some(
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM t
        |  WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin)),
    Declared("q148_vocab_growth", q148VocabGrowth, Some(
      """WITH fs AS (
        |  SELECT g, min(doc_id) AS first_seen FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      list_transform(generate_series(1, len(t) - 2),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |    FROM (
        |      SELECT doc_id,
        |             list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                         x -> x <> '') AS t
        |      FROM documents)
        |    WHERE len(t) >= 3)
        |  GROUP BY g),
        |b AS (
        |  SELECT CAST(first_seen // 50 AS INT) AS block,
        |         count(*) AS n_new
        |  FROM fs GROUP BY 1)
        |SELECT block, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY block
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM b ORDER BY block""".stripMargin)),
    Declared("q149_interevent_gaps", q149InterEventGaps, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |       PARTITION BY user_id, event_type ORDER BY ts, event_id)))
        |      // 1000000 AS gap_s
        |  FROM events)
        |SELECT event_type, CAST(length(bin(gap_s)) AS INT) AS bucket,
        |  count(*) AS n, min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Declared("q150_rule_audit", q150RuleAudit, Some(
      """WITH m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |    CAST((SELECT count(*) FROM orders o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey))
        |      AS BIGINT) AS r4
        |  FROM orders)
        |SELECT 'r1_nonpositive_price' AS rule, r1 AS n_violations FROM m
        |UNION ALL SELECT 'r2_stuck_pending', r2 FROM m
        |UNION ALL SELECT 'r3_future_dated', r3 FROM m
        |UNION ALL SELECT 'r4_orphan_customer', r4 FROM m
        |ORDER BY rule""".stripMargin)),
    Declared("q151_quantile_normalize", q151QuantileNormalize, Some(
      """SELECT event_id, event_type,
        |  round(CAST(rn - 1 AS DOUBLE) / (n - 1), 6) AS q_norm
        |FROM (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(value AS DECIMAL(18,6)), event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |ORDER BY event_id""".stripMargin)),
    Declared("q152_copurchase_lift", q152CopurchaseLift, Some(
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
        |pf AS (SELECT pk, count(*) AS n_p FROM op GROUP BY 1),
        |pr AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa, pb, n_ab,
        |  round(CAST(CAST(n_ab AS HUGEINT) * n_orders AS DOUBLE) /
        |        CAST(CAST(x.n_p AS HUGEINT) * y.n_p AS DOUBLE), 6) AS lift
        |FROM pr, no
        |JOIN pf x ON x.pk = pr.pa
        |JOIN pf y ON y.pk = pr.pb
        |ORDER BY pa, pb""".stripMargin)))
}
