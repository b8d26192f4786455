package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q87–q92: the fourth wave — null-aware anti joins (NOT IN), LLM
  * training-data chunking with overlap, benchmark decontamination,
  * LATERAL correlated top-k, multiset (ALL) set operations, and
  * per-source upsampling for training-mix construction. Same
  * determinism contract as [[Extended]]: total ORDER BY on a unique
  * key, integer/exact arithmetic wherever the oracle must agree
  * bit-for-bit, and the Java∩RE2 regex dialect subset shared with
  * DuckDB.
  *
  * The reference (SURVEY.md §2.1) has none of these: it is a fixed
  * ETL with no subqueries, no set ops, and no text tooling. These are
  * north-star extensions (BASELINE.json) for the 100 TB corpus-prep
  * posture.
  */
object Extended3 {

  /** q87 — NOT IN as a null-aware anti join. `x NOT IN (subquery)` has
    * three-valued semantics: if the subquery produces ANY null the
    * result is empty, and a null outer key never qualifies — a plain
    * left-anti join gets both wrong. Spark plans this as a broadcast
    * null-aware anti join (NAAJ); the outer side here carries injected
    * nulls (every custkey ≡ 7 mod 50) that must be dropped.
    *
    * Scale: the subquery is an aggregated key set — tiny — so it
    * broadcasts; the fact side streams through one codegen stage with
    * zero shuffles.
    */
  def q87NullAwareAnti(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("g87_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("g87_customer")
    spark.sql(
      """SELECT o_orderkey, o_custkey
        |FROM g87_orders
        |WHERE nullif(pmod(o_custkey, 50), 7) NOT IN
        |  (SELECT pmod(c_custkey, 50) FROM g87_customer
        |   WHERE pmod(c_custkey, 50) BETWEEN 25 AND 40)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q88 — fixed-size token chunking with overlap (context-window
    * preprocessing): split each document into 64-token chunks on a
    * 48-token stride (16-token overlap), the standard shape for
    * packing long documents into bounded training windows. Chunk
    * starts come from an in-row `sequence`, sliced in-row — the text
    * is tokenized exactly once and never shuffles (the only exchange
    * is the final presentation sort).
    *
    * Scale: per-row work only; a 100 TB corpus chunks embarrassingly
    * parallel with output ~n_tokens/stride rows per doc.
    */
  def q88ChunkDocs(spark: SparkSession, dir: String): DataFrame = {
    TextOps.tokenBase(Tables.documents(spark, dir), col("text"))
      .filter(col("n") >= 1L)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n") - 1L, lit(48L))).as("start"))
      .select(col("doc_id"), col("start"),
        size(slice(col("t"), col("start") + 1L, lit(64))).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"), col("start") + 1L, lit(64)))
          .as("chunk_text"))
      // NOT cachedOrderBy: chunk_text is corpus-sized — the cache was
      // wall-neutral at 1000× (157 vs 165 s), and holding a corpus in
      // executor storage buys nothing for that
      .orderBy("doc_id", "start")
  }

  /** q89 — benchmark decontamination: flag documents whose normalized
    * text contains any phrase from a (small, broadcast) contamination
    * set — here the first 8 tokens of every 97th document, standing in
    * for benchmark/eval strings. The phrase table broadcasts; matching
    * is a broadcast nested-loop semi-ish join whose inner loop is a
    * codegen'd `contains`, and only (doc_id, phrase-hit) pairs survive
    * to the aggregate.
    *
    * Scale: contamination sets are KBs–MBs (eval suites), so the
    * broadcast never grows with the corpus; the scan side is one pass.
    * For huge phrase sets the same query swaps `contains` for an
    * n-gram-hash equi-join (the q25 LSH shape).
    */
  def q89Decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminatePhrases(Tables.documents(spark, dir)
      .select("doc_id", "text"))

  /** Core of q89 over any (doc_id, text) frame — the cross-impl
    * property spec drives it with generated corpora. */
  private[graft] def decontaminatePhrases(docs: DataFrame): DataFrame = {
    val norm = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        concat_ws(" ", col("t")).as("norm"), size(col("t")).as("nt"))
    val phrases = norm
      .filter(pmod(col("doc_id"), lit(97L)) === 0L && col("nt") >= 8)
      .select(concat_ws(" ",
        slice(split(col("norm"), " "), 1, 8)).as("phrase"))
    norm.join(broadcast(phrases), contains(col("norm"), col("phrase")))
      .groupBy("doc_id")
      .agg(countDistinct(col("phrase")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** q90 — LATERAL correlated top-k: for every customer, the top-2
    * orders by price via a correlated LATERAL subquery with
    * ORDER BY + LIMIT. Catalyst decorrelates this into a windowed
    * rank over a single equi-join — i.e. the same physical plan a
    * hand-written window query gets, with the per-group LIMIT pushed
    * below the join; declared here to pin the SQL surface.
    *
    * Scale: one shuffle on the correlation key; no per-group
    * re-execution ever happens (the lateral is a rewrite, not a loop).
    */
  def q90LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("g90_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("g90_customer")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM g90_customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice
        |         FROM g90_orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }

  /** q91 — multiset set operations: INTERSECT ALL / EXCEPT ALL between
    * the order-priority bags of two market segments. Unlike q21's
    * DISTINCT set ops these respect multiplicity — INTERSECT ALL keeps
    * min(countA, countB) copies, EXCEPT ALL keeps countA − countB —
    * which Spark plans as one aggregate computing both counts per key
    * and a generator re-emitting the right number of copies (no join,
    * no explode of raw rows across the exchange).
    */
  def q91SetopsAll(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    def bag(seg: String) = orders
      .join(cust.filter(col("c_mktsegment") === seg)
        .select("c_custkey"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderpriority").as("p"))
    val a = bag("AUTOMOBILE")
    val b = bag("BUILDING")
    val ia = a.intersectAll(b).groupBy("p")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    val ea = a.exceptAll(b).groupBy("p")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    ia.unionByName(ea).select("op", "p", "n").orderBy("op", "p")
  }

  /** q92 — training-mix upsampling: per-source repeat factors (a data
    * mixture: factor = 1 + suffix(source) mod 3) materialized by
    * exploding an in-row `sequence(1, factor)` — the standard way to
    * oversample high-quality sources when assembling a training epoch.
    * Emits the per-source mix audit: docs, factor, and row count after
    * upsampling.
    *
    * Scale: the explode multiplies rows BEFORE the aggregate but the
    * aggregate is partial+final, so only per-source partial counts
    * shuffle. In a real epoch build the exploded frame streams
    * straight to the shuffle-free pack/write stage (q60's packer).
    */
  def q92UpsampleMix(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        // 2-arg substring (pos → end of string), matching the oracle's
        // substr(source, 4) exactly — a length cap would silently
        // diverge on a numeric suffix longer than the cap (ADVICE r3)
        (lit(1) + pmod(expr("substring(source, 4)").cast("int"), lit(3)))
          .as("factor"))
      .select(col("doc_id"), col("source"), col("factor"),
        explode(sequence(lit(1), col("factor"))).as("copy_idx"))
      .groupBy("source", "factor")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_after"))
      .orderBy("source")
  }

  /** q93 — repetition-ratio quality signal: distinct-3-gram share per
    * document (duplicated n-grams are the classic synthetic/spam text
    * tell; Gopher/C4-style filters threshold on exactly this). 3-grams
    * form in-row via `transform(sequence(...))` over the token array —
    * no explode, no shuffle; the ratio is an IEEE division of two
    * exactly-representable ints, bit-identical in any engine.
    */
  def q93Repetition(spark: SparkSession, dir: String): DataFrame = {
    TextOps.tokenBase(Tables.documents(spark, dir), col("text"))
      .filter(col("n") >= 3L)
      .withColumn("grams", TextOps.wordGrams(col("t"), 3, TextOps.joined))
      .select(col("doc_id"),
        (col("n") - 2L).as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"),
        (size(array_distinct(col("grams"))).cast("double") /
          (col("n") - 2L).cast("double")).as("distinct_ratio"))
      .cachedOrderBy("doc_id")
  }

  /** q94 — deterministic train/val/test split: every document lands in
    * exactly one split by the lexicographic position of
    * `md5(doc_id)`'s prefix (≈80/10/10) — reproducible by ANY engine
    * with an md5 (same portability rationale as q72), stable under
    * re-runs, resharding, and corpus growth (a doc's split never
    * changes when other docs arrive). Emits the per-source × split
    * audit counts.
    */
  def q94TrainSplit(spark: SparkSession, dir: String): DataFrame =
    trainSplit(Tables.documents(spark, dir))

  /** Core of q94 over any (doc_id, source) frame — cross-impl-pinned
    * by SamplingCrossImplSpec on generated corpora. */
  private[graft] def trainSplit(docs: DataFrame): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 4)
    docs
      .select(col("doc_id"), col("source"),
        when(h < "cccd", "train")
          .when(h < "e666", "val")
          .otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  /** q95 — cohort retention: users grouped by first-active day, counted
    * per days-since-cohort offset — the standard product-analytics
    * retention triangle. Two shuffles: the per-user min (partial+final)
    * and the (cohort, offset) distinct count; the fact→cohort join
    * rides the user_id partitioning already established.
    */
  def q95Retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
    val cohort = ev.groupBy("user_id").agg(min("d").as("c"))
    ev.join(cohort, "user_id")
      .groupBy(date_format(col("c"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("c")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** q96 — time-weighted average: each event's value holds until the
    * user's next event; the mean weighted by holding duration (the
    * correct average for irregularly-sampled gauges — an unweighted avg
    * over-counts bursts). One window (lead) on the same (user, time)
    * shuffle, then exact decimal value×duration sums per user with the
    * q71 scale-4 rounding rule; durations in whole seconds keep the
    * scaled sums far below 2^53 where decimal→double conversion is
    * correctly rounded in both engines.
    */
  def q96TimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        col("value").cast("decimal(18,6)").as("vdec"))
      .withColumn("dur_s",
        expr("(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) DIV 1000000"))
      .filter(col("dur_s").isNotNull && col("dur_s") > 0L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dur_s").as("total_dur_s"),
        sum((col("vdec") * col("dur_s")).cast("decimal(38,6)")).as("wsum"))
      .select(col("user_id"), col("n_intervals"), col("total_dur_s"),
        (round(col("wsum"), 4).cast("double") /
          col("total_dur_s").cast("double")).as("twa"))
      .orderBy("user_id")
  }

  /** q97 — recursive CTE (Spark 4.x `WITH RECURSIVE`): walk every
    * nation up a synthetic heap-parent hierarchy (parent(k) =
    * (k−1) div 2) to the root, emitting each node's depth — the
    * BOM-explosion / org-chart traversal shape as declarative SQL.
    * Each recursion step is one self-join round planned by Spark; the
    * fixpoint machinery (q64's hand loop) moves into the engine.
    */
  def q97RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("g97_nation")
    spark.sql(
      """WITH RECURSIVE walk(id, cur, depth) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM g97_nation
        |  UNION ALL
        |  SELECT id, (cur - 1) DIV 2, depth + 1 FROM walk WHERE cur > 0)
        |SELECT id, max(depth) AS depth
        |FROM walk GROUP BY id ORDER BY id""".stripMargin)
  }

  /** q98 — VARIANT semi-structured path (Spark 4.x): `parse_json` the
    * event props into a variant, extract typed fields with
    * `variant_get`, aggregate. Variant keeps the binary-encoded value
    * — repeated extraction never re-parses text, the 100 TB reason to
    * prefer it over per-query `get_json_object` string parsing.
    */
  def q98VariantJson(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("g98_events")
    spark.sql(
      """SELECT event_type,
        |       count(*) AS n,
        |       sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
        |       count(CASE WHEN variant_get(parse_json(props), '$.k', 'long')
        |                        > 50 THEN 1 END) AS n_big
        |FROM g98_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q99 — decontamination at scale: when the benchmark set is too big
    * to broadcast-`contains` (q89), match on hashed 8-gram shingles
    * with an EQUI-join — documents and benchmark phrases each reduce to
    * md5(8-gram) keys, the join shuffles only 16-byte hashes, and any
    * shared shingle flags the document. Same contamination definition
    * as q89 restricted to aligned 8-grams; md5 keeps the oracle
    * engine-portable (the q72/q94 rationale).
    *
    * Scale: no broadcast, no substring scans — two shingle streams
    * hash-partitioned on the digest; benchmark-side shingles are
    * distinct-ified before the join (bounded by the eval-suite size).
    */
  def q99DecontaminateNgram(spark: SparkSession, dir: String): DataFrame =
    decontaminateNgram(Tables.documents(spark, dir)
      .select("doc_id", "text"))

  /** Core of q99 over any (doc_id, text) frame — the cross-impl
    * property spec drives it with generated corpora. */
  private[graft] def decontaminateNgram(docs: DataFrame): DataFrame = {
    val base = TextOps.tokenBase(docs, col("text"))
    val docGrams = TextOps.windowDigests(base, 8)
    val benchGrams = TextOps.windowDigests(
      base.filter(pmod(col("doc_id"), lit(97L)) === 0L), 8)
      .select(col("g")).distinct()
    docGrams.join(benchGrams, "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_hits"))
      .orderBy("doc_id")
  }

  /** q101 — TPC-H Q13 (customer distribution): two-level aggregation
    * over a filtered LEFT OUTER join — per-customer order counts, then
    * the histogram of those counts (zero-order customers kept by the
    * outer join). The join condition carries the priority filter so
    * non-matching orders null out instead of dropping customers.
    *
    * Scale: both aggregates are partial+final; the second groups on
    * the tiny c_count domain. The join shuffles once on custkey.
    */
  def q101TpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q102 — TPC-H Q16 (parts/supplier relationship): distinct supplier
    * counts per (brand, type, size) with a brand exclusion, a size IN
    * list, and a NOT IN subquery removing deficit suppliers. The NOT IN
    * set is tiny → broadcast NAAJ (q87's plan); the distinct count is
    * the only wide aggregate.
    */
  def q102TpchQ16(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("g102_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("g102_part")
    Tables.supplier(spark, dir).createOrReplaceTempView("g102_supplier")
    spark.sql(
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM g102_lineitem JOIN g102_part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM g102_supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  /** q103 — TPC-H Q18 (large-volume orders): orders whose total line
    * quantity clears a threshold, found via a HAVING aggregate used as
    * a semi-join filter, then re-joined for customer detail. Quantity
    * sums stay exact decimals end-to-end.
    *
    * Scale: the qualifying-key set (HAVING output) is tiny → broadcast
    * semi join; the detail join shuffles once on orderkey.
    */
  def q103TpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val big = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      .filter(col("qty") > 120)
      .select(col("l_orderkey").as("k"),
        col("qty").cast("double").as("total_qty"))
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("k"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  /** q104 — TPC-H Q15 (top supplier): per-supplier revenue compared
    * against the global maximum via a scalar-aggregate equality join —
    * the classic "rows equal to the max of a derived view" pattern.
    * Revenue is an exact decimal sum; the max comparison happens in
    * decimals (no double boundary ambiguity), doubles emitted only at
    * the end.
    *
    * Scale: revenue is one partial+final aggregate; the scalar max is
    * a broadcast single row, not a second scan of lineitem.
    */
  def q104TpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(38,4)")).as("revenue"))
    val maxRev = rev.agg(max("revenue").as("mr"))
    rev.join(broadcast(maxRev), col("revenue") === col("mr"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("revenue"), 4).cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q105 — TPC-H Q22 (prospective customers): above-average-balance
    * customers with no URGENT orders — a scalar AVG subquery
    * (broadcast one row) composed with NOT EXISTS (left-anti join).
    * The average compares in exact decimal cross-multiplication
    * (bal·n > sum) to keep the boundary deterministic.
    */
  def q105TpchQ22(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("s"),
        count(lit(1)).as("n"))
    cust.join(broadcast(stats))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("s"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** q106 — TPC-H Q4 (order priority checking): orders with at least
    * one line shipped after the order date, counted by priority — the
    * EXISTS-correlated-subquery shape planned as a left-semi join
    * (lineitem deduplicates into the semi join, never multiplies
    * order rows).
    */
  def q106TpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate").cast("date") > col("o_orderdate").cast("date"))
      .select(col("l_orderkey").as("k"))
    Tables.orders(spark, dir)
      .join(late, col("o_orderkey") === col("k"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q107 — TPC-H Q7 (volume shipping): revenue flowing between two
    * nations where supplier and customer sit on opposite sides, split
    * by ship year. Five joins: the nation dims broadcast twice (two
    * roles), the fact side shuffles on its join keys once each hop;
    * revenue is the exact decimal discount product.
    */
  def q107TpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" &&
        col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(38,4)")).as("rev"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        round(col("rev"), 4).cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q109 — TPC-H Q6 (forecasting revenue change): the pure
    * scan-predicate aggregate — quantity/discount band filters feeding
    * one exact decimal sum, no join, no group. The whole query is one
    * codegen stage over the pushed-down scan; at 100 TB it IS the scan.
    */
  def q109TpchQ6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") < 24 &&
        col("l_discount").cast("decimal(18,2)").between(
          java.math.BigDecimal.valueOf(5, 2),
          java.math.BigDecimal.valueOf(7, 2)))
      .agg(round(sum((col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(18,2)")).cast("decimal(38,4)")), 4)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** q110 — TPC-H Q14 (promotion effect): the share of revenue from
    * one part category — two conditional exact decimal sums in ONE
    * pass over the part join, the percentage derived as a single IEEE
    * division of the scale-4-rounded sums (cross-engine deterministic,
    * q71's rule).
    */
  def q110TpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
        col("l_discount").cast("decimal(18,2)"))).cast("decimal(38,4)")
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "ECONOMY", rev)
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(38,4)"))), 4)
          .cast("double").as("promo_revenue"),
        round(sum(rev), 4).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (col("promo_revenue") * lit(100.0) / col("total_revenue"))
          .as("promo_pct"))
  }

  /** q111 — prompt/completion splitting (SFT data prep): each document
    * becomes a training pair — prompt = first 32 tokens, completion =
    * the next ≤96 — dropping documents too short to yield a
    * non-trivial completion (< 40 tokens). Pure in-row slicing after
    * one tokenization; the standard final formatting step before
    * packing (q60) and splitting (q94).
    */
  def q111PromptCompletion(spark: SparkSession, dir: String): DataFrame = {
    TextOps.tokenBase(Tables.documents(spark, dir), col("text"))
      .filter(col("n") >= 40L)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), 1, 32)).as("prompt"),
        concat_ws(" ", slice(col("t"), 33, 96)).as("completion"),
        lit(32L).as("n_prompt_tokens"),
        least(col("n") - 32L, lit(96L)).as("n_completion_tokens"))
      .orderBy("doc_id")
  }

  /** q112 — share-of-total (ratio-to-report): each nation's share of
    * total customer account balance — a window sum over the ALREADY
    * AGGREGATED per-nation frame (25 rows; the raw table never sees a
    * global window). Shares derive from scale-4-rounded exact sums via
    * one IEEE division (q71's rule).
    */
  def q112ShareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("bal"))
      .withColumn("total", sum(col("bal")).over(w))
      .select(col("nationkey"),
        round(col("bal"), 4).cast("double").as("balance"),
        (round(col("bal"), 4).cast("double") * lit(100.0) /
          round(col("total"), 4).cast("double")).as("share_pct"))
      .orderBy("nationkey")
  }

  /** q113 — year-over-year growth: revenue per order year with the
    * previous year's revenue and the YoY delta percent — `lag` over
    * the aggregated year series (a handful of rows). First year's
    * delta is null by construction.
    */
  def q113YoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy("yr")
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("yr"),
        round(col("rev"), 4).cast("double").as("revenue"),
        when(col("prev").isNotNull,
          (round(col("rev"), 4).cast("double") -
            round(col("prev"), 4).cast("double")) * lit(100.0) /
            round(col("prev"), 4).cast("double")).as("yoy_pct"))
      .orderBy("yr")
  }

  /** q114 — int8 scalar quantization of embeddings: per-vector min/max
    * affine map to 0..255 codes — the 4× storage cut for 100 TB vector
    * stores (IVF cells + int8 codes is the standard layout). All
    * in-row HOFs; the audit emits EXACT integer facts (code sum,
    * distinct codes) — code values are identical cross-engine because
    * the affine map is one IEEE tree over float→double-exact inputs
    * and round-half-away ties agree for non-negative values.
    */
  def q114Int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    // lo/hi hoisted to per-ROW columns: referenced inside the transform
    // lambda they would re-scan the array PER ELEMENT (O(d²)/row —
    // measured 70 s for 1M vectors at the 100× tier); and `codes` is
    // bound to a column so the sum and the distinct read ONE built
    // array instead of each rebuilding it (r10; values unchanged)
    val codes = transform(col("e0"), x =>
      round((x - col("lo")) * lit(255.0) / (col("hi") - col("lo")))
        .cast("long"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e0"))
      .withColumn("lo", array_min(col("e0")))
      .withColumn("hi", array_max(col("e0")))
      .filter(col("hi") > col("lo"))
      .withColumn("codes", codes)
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
        size(array_distinct(col("codes"))).cast("long").as("n_distinct_codes"),
        round(col("lo"), 6).as("qmin"),
        round(col("hi"), 6).as("qmax"))
      .cachedOrderBy("vec_id")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q87_null_aware_anti", q87NullAwareAnti, Some(
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE nullif(o_custkey % 50, 7) NOT IN
        |  (SELECT c_custkey % 50 FROM customer
        |   WHERE c_custkey % 50 BETWEEN 25 AND 40)
        |ORDER BY o_orderkey""".stripMargin)),
    Declared("q88_chunk_docs", q88ChunkDocs, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |c AS (SELECT doc_id, toks,
        |             unnest(range(0, n, 48)) AS start FROM s)
        |SELECT doc_id, start,
        |       len(list_slice(toks, start + 1, start + 64)) AS n_chunk_tokens,
        |       array_to_string(list_slice(toks, start + 1, start + 64), ' ')
        |         AS chunk_text
        |FROM c ORDER BY doc_id, start""".stripMargin)),
    Declared("q89_decontaminate", q89Decontaminate, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, array_to_string(toks, ' ') AS norm,
        |         len(toks) AS nt FROM t),
        |phrases AS (
        |  SELECT array_to_string(list_slice(string_split(norm, ' '), 1, 8), ' ')
        |           AS phrase
        |  FROM norm WHERE doc_id % 97 = 0 AND nt >= 8)
        |SELECT d.doc_id, count(DISTINCT p.phrase) AS n_hits
        |FROM norm d JOIN phrases p ON contains(d.norm, p.phrase)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    Declared("q90_lateral_topk", q90LateralTopk, Some(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice
        |         FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)),
    Declared("q91_setops_all", q91SetopsAll, Some(
      """WITH a AS (
        |  SELECT o_orderpriority AS p FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'AUTOMOBILE'),
        |b AS (
        |  SELECT o_orderpriority AS p FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'),
        |ia AS (SELECT 'intersect_all' AS op, p, count(*) AS n
        |       FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
        |       GROUP BY 2),
        |ea AS (SELECT 'except_all' AS op, p, count(*) AS n
        |       FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
        |       GROUP BY 2)
        |SELECT op, p, n FROM ia
        |UNION ALL SELECT op, p, n FROM ea
        |ORDER BY op, p""".stripMargin)),
    Declared("q92_upsample_mix", q92UpsampleMix, Some(
      """WITH f AS (
        |  SELECT doc_id, source,
        |         1 + (CAST(substr(source, 4) AS INT) % 3) AS factor
        |  FROM documents),
        |x AS (SELECT doc_id, source, factor,
        |             unnest(generate_series(1, factor)) AS copy_idx FROM f)
        |SELECT source, factor, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_after
        |FROM x GROUP BY source, factor ORDER BY source""".stripMargin)),
    Declared("q93_repetition", q93Repetition, Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 3),
        |g AS (SELECT doc_id, n,
        |        list_transform(generate_series(1, CAST(n AS INT) - 2),
        |          i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS grams
        |      FROM s)
        |SELECT doc_id, n - 2 AS n_grams,
        |       len(list_distinct(grams)) AS n_distinct,
        |       CAST(len(list_distinct(grams)) AS DOUBLE)
        |         / CAST(n - 2 AS DOUBLE) AS distinct_ratio
        |FROM g ORDER BY doc_id""".stripMargin)),
    Declared("q94_train_split", q94TrainSplit, Some(
      """SELECT source,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |              THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |              THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM documents
        |GROUP BY source, split ORDER BY source, split""".stripMargin)),
    Declared("q95_retention", q95Retention, Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (SELECT user_id, min(d) AS c FROM ev GROUP BY 1)
        |SELECT strftime(c, '%Y-%m-%d') AS cohort_day,
        |       CAST(date_diff('day', c, d) AS INT) AS offset_days,
        |       count(DISTINCT user_id) AS n_users
        |FROM ev JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Declared("q96_time_weighted_avg", q96TimeWeightedAvg, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(value AS DECIMAL(18,6)) AS vdec
        |  FROM events),
        |d AS (
        |  SELECT user_id, vdec,
        |         (lead(us) OVER (PARTITION BY user_id
        |                         ORDER BY us, event_id) - us) // 1000000
        |           AS dur_s
        |  FROM e)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(dur_s) AS BIGINT) AS total_dur_s,
        |       CAST(round(sum(CAST(vdec * dur_s AS DECIMAL(38,6))), 4)
        |            AS DOUBLE)
        |         / CAST(sum(dur_s) AS DOUBLE) AS twa
        |FROM d WHERE dur_s IS NOT NULL AND dur_s > 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Declared("q97_recursive_cte", q97RecursiveCte, Some(
      """WITH RECURSIVE walk(id, cur, depth) AS (
        |  SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  FROM nation
        |  UNION ALL
        |  SELECT id, (cur - 1) // 2, depth + 1 FROM walk WHERE cur > 0)
        |SELECT id, CAST(max(depth) AS BIGINT) AS depth
        |FROM walk GROUP BY id ORDER BY id""".stripMargin)),
    Declared("q98_variant_json", q98VariantJson, Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k,
        |       count(CASE WHEN CAST(json_extract_string(props, '$.k')
        |                            AS BIGINT) > 50 THEN 1 END) AS n_big
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Declared("q99_decontaminate_ngram", q99DecontaminateNgram, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t),
        |dg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, CAST(n AS INT) - 7),
        |           i -> md5(array_to_string(list_slice(l, i, i + 7), ' '))))
        |           AS g
        |  FROM s WHERE n >= 8),
        |bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0)
        |SELECT d.doc_id, count(DISTINCT d.g) AS n_hits
        |FROM dg d JOIN bg USING (g)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    Declared("q101_tpch_q13", q101TpchQ13, Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Declared("q102_tpch_q16", q102TpchQ16, Some(
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    Declared("q103_tpch_q18", q103TpchQ18, Some(
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 120)
        |SELECT c_name, o_orderkey, o_totalprice,
        |       CAST(qty AS DOUBLE) AS total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin)),
    Declared("q104_tpch_q15", q104TpchQ15, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                  (CAST(1 AS DECIMAL(18,2)) -
        |                   CAST(l_discount AS DECIMAL(18,2)))
        |             AS DECIMAL(38,4))) AS revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |       CAST(round(revenue, 4) AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revenue = (SELECT max(revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Declared("q105_tpch_q22", q105TpchQ22, Some(
      """WITH stats AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
        |         count(*) AS n
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer, stats
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),
    Declared("q106_tpch_q4", q106TpchQ4, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE))
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Declared("q107_tpch_q7", q107TpchQ7, Some(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(round(sum(CAST(
        |           CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2)))
        |         AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    Declared("q109_tpch_q6", q109TpchQ6, Some(
      """SELECT CAST(round(sum(CAST(
        |         CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))), 4)
        |       AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_quantity < 24
        |  AND CAST(l_discount AS DECIMAL(18,2))
        |      BETWEEN CAST(0.05 AS DECIMAL(18,2))
        |          AND CAST(0.07 AS DECIMAL(18,2))""".stripMargin)),
    Declared("q110_tpch_q14", q110TpchQ14, Some(
      """WITH j AS (
        |  SELECT p_type,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |              (CAST(1 AS DECIMAL(18,2)) -
        |               CAST(l_discount AS DECIMAL(18,2)))
        |           AS DECIMAL(38,4)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (
        |  SELECT CAST(round(sum(CASE WHEN p_type = 'ECONOMY' THEN rev
        |                             ELSE CAST(0 AS DECIMAL(38,4)) END), 4)
        |         AS DOUBLE) AS promo_revenue,
        |       CAST(round(sum(rev), 4) AS DOUBLE) AS total_revenue
        |  FROM j)
        |SELECT promo_revenue, total_revenue,
        |       promo_revenue * 100.0 / total_revenue AS promo_pct
        |FROM s""".stripMargin)),
    Declared("q111_prompt_completion", q111PromptCompletion, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 40)
        |SELECT doc_id,
        |       array_to_string(list_slice(l, 1, 32), ' ') AS prompt,
        |       array_to_string(list_slice(l, 33, 128), ' ') AS completion,
        |       CAST(32 AS BIGINT) AS n_prompt_tokens,
        |       least(n - 32, 96) AS n_completion_tokens
        |FROM s ORDER BY doc_id""".stripMargin)),
    Declared("q112_share_of_total", q112ShareOfTotal, Some(
      """WITH a AS (
        |  SELECT c_nationkey AS nationkey,
        |         sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
        |  FROM customer GROUP BY 1),
        |t AS (SELECT sum(bal) AS total FROM a)
        |SELECT nationkey, CAST(round(bal, 4) AS DOUBLE) AS balance,
        |       CAST(round(bal, 4) AS DOUBLE) * 100.0
        |         / CAST(round(total, 4) AS DOUBLE) AS share_pct
        |FROM a, t ORDER BY nationkey""".stripMargin)),
    Declared("q113_yoy_growth", q113YoyGrowth, Some(
      """WITH a AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |b AS (SELECT yr, rev, lag(rev) OVER (ORDER BY yr) AS prev FROM a)
        |SELECT yr, CAST(round(rev, 4) AS DOUBLE) AS revenue,
        |       CASE WHEN prev IS NOT NULL THEN
        |         (CAST(round(rev, 4) AS DOUBLE)
        |          - CAST(round(prev, 4) AS DOUBLE)) * 100.0
        |           / CAST(round(prev, 4) AS DOUBLE)
        |       END AS yoy_pct
        |FROM b ORDER BY yr""".stripMargin)),
    Declared("q114_int8_quantize", q114Int8Quantize, Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0
        |  FROM embeddings),
        |f AS (
        |  SELECT vec_id, e0, list_min(e0) AS lo, list_max(e0) AS hi
        |  FROM e WHERE list_max(e0) > list_min(e0)),
        |c AS (
        |  SELECT vec_id, lo, hi,
        |         list_transform(e0, x ->
        |           CAST(round((x - lo) * 255.0 / (hi - lo)) AS BIGINT))
        |           AS codes
        |  FROM f)
        |SELECT vec_id,
        |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |       CAST(len(list_distinct(codes)) AS BIGINT)
        |         AS n_distinct_codes,
        |       round(lo, 6) AS qmin, round(hi, 6) AS qmax
        |FROM c ORDER BY vec_id""".stripMargin)))
}
