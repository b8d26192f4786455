package graft.ops

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q115–q120 — the remaining TPC-H queries expressible on the driver's
  * reduced schemas (TESTDATA.md). Q2/Q11/Q20 stay blocked on the missing
  * `partsupp` table (SURVEY §7.4b); Q12/Q17/Q19/Q21 are adapted where a
  * classic column is absent (no l_commitdate / l_receiptdate /
  * l_shipmode / p_container here) — each adaptation keeps the query's
  * structural shape (the join topology, predicate style, and aggregate
  * pattern that make it a meaningful plan test) and states the swap.
  *
  * Shared plan posture (the q78/q107 pattern): dimension tables
  * broadcast, the lineitem fact never shuffles on a foreign key, money
  * math in exact decimals summed at scale 4 and rounded before the one
  * IEEE division a ratio needs (the cross-engine determinism rule in
  * SCALING.md).
  */
object TpchExtra {

  /** exact-decimal revenue term: extendedprice * (1 - discount). */
  private def rev = (col("l_extendedprice").cast("decimal(18,2)") *
    (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
      col("l_discount").cast("decimal(18,2)"))).cast("decimal(38,4)")

  // ---------------------------------------------------------------- q115
  /** q115 — TPC-H Q8 (national market share): of the ECONOMY-part
    * revenue sold into EUROPE customers during 1995–1996, the share
    * supplied by NATION_1, per order year. Five dimension joins — all
    * broadcast (region ≤ 5 rows, nation 25, part and supplier filtered
    * small); lineitem joins orders on its natural key and never
    * re-shuffles. The share is numerator/denominator of two conditional
    * sums in ONE aggregate pass (no second scan, no self-join). */
  def q115TpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .select("p_partkey")
    val n2 = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "EUROPE").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate").between("1995-01-01", "1996-12-31"))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_1", rev)
          .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(38,4)")))
          .as("nat_vol"),
        sum(rev).as("tot_vol"))
      .select(col("o_year"),
        (round(col("nat_vol"), 4).cast("double") /
          round(col("tot_vol"), 4).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  // ---------------------------------------------------------------- q116
  /** q116 — TPC-H Q10 (returned item reporting): customers who returned
    * items in 1995Q3 orders, by lost revenue. The classic address/phone/
    * comment output columns don't exist in this schema; the analytical
    * payload (customer, nation, revenue ranking) is intact. Revenue
    * orders the output; c_custkey breaks double ties deterministically. */
  def q116TpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= "1995-07-01" &&
          col("o_orderdate") < "1995-10-01")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(round(sum(rev), 4).cast("double").as("revenue"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q117
  /** q117 — TPC-H Q12 (shipping-priority audit), adapted: the classic
    * commit/receipt-date lateness test and l_shipmode grouping don't
    * exist here, so "late" = shipped > 60 days after the order date and
    * the group key is l_returnflag — same orders⋈lineitem join, same
    * CASE-on-priority conditional counts. Timestamp arithmetic is exact
    * (ms-precision + literal interval on both engines). */
  def q117TpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q118
  /** q118 — TPC-H Q17 (small-quantity-order revenue), adapted: the
    * p_container conjunct doesn't exist; the correlated threshold —
    * lines below 20% of their PART's average quantity — is the query's
    * point and is kept exactly. Decorrelated the q63 way: per-part
    * (sum, count) aggregate joined back, the avg comparison done as
    * 5·q·n < sum in exact decimals (a double average's last ulp must
    * not decide a strict comparison). avg_yearly divides the
    * scale-4-rounded sum by 7.0 in one IEEE step. */
  def q118TpchQ17(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        count(lit(1)).as("n_qty"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#3").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("n_qty")
        < col("sum_qty"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")
        .cast("decimal(38,4)")), 4).cast("double").as("sum_revenue"),
        count(lit(1)).as("n_lines"))
      .select(col("sum_revenue"), (col("sum_revenue") / 7.0).as("avg_yearly"),
        col("n_lines"))
  }

  // ---------------------------------------------------------------- q119
  /** q119 — TPC-H Q19 (discounted revenue), adapted: the three-way
    * disjunction of brand/container/quantity conjunct blocks keeps its
    * shape with p_size bands standing in for the absent p_container.
    * The disjunction lives in the JOIN predicate region after a single
    * broadcast part join — one pass, one aggregate, no union of three
    * scans. */
  def q119TpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity")
    val branch =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        q.between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        q.between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        q.between(20, 30))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(round(sum(rev), 4).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // ---------------------------------------------------------------- q120
  /** q120 — TPC-H Q21 (suppliers who kept orders waiting), adapted:
    * "late" = shipped > 90 days after the order date (no receipt/commit
    * dates here); the EXISTS (another supplier contributed) and NOT
    * EXISTS (no OTHER supplier was late) structure — the query's whole
    * difficulty — is preserved as one left-semi and one left-anti join
    * on (orderkey, suppkey≠) pairs. Distinct pair sets keep the
    * semi/anti inputs minimal; supplier and nation broadcast. */
  def q120TpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val late = li
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val allPairs = li.select(col("l_orderkey").as("ok2"),
      col("l_suppkey").as("sk2")).distinct()
    val latePairs = late.select(col("ok").as("ok3"), col("sk").as("sk3"))
      .distinct()
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name") === "NATION_1").select("n_nationkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    late
      .join(allPairs, col("ok") === col("ok2") && col("sk2") =!= col("sk"),
        "left_semi")
      .join(latePairs, col("ok") === col("ok3") && col("sk3") =!= col("sk"),
        "left_anti")
      .join(broadcast(supp), col("sk") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  val declared: Seq[Declared] = Seq(
    Declared("q115_tpch_q8", q115TpchQ8, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(round(sum(CASE WHEN n1.n_name = 'NATION_1' THEN
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
        |    ELSE CAST(0 AS DECIMAL(38,4)) END), 4) AS DOUBLE) /
        |  CAST(round(sum(
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
        |    ), 4) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
        |                      AND TIMESTAMP '1996-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Declared("q116_tpch_q10", q116TpchQ10, Some(
      """SELECT c_custkey, c_name,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-07-01'
        |  AND o_orderdate < TIMESTAMP '1995-10-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Declared("q117_tpch_q12", q117TpchQ12, Some(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Declared("q118_tpch_q17", q118TpchQ17, Some(
      """WITH pq AS (
        |  SELECT l_partkey AS pk,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |         count(*) AS n_qty
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |           AS DECIMAL(38,4))), 4) AS DOUBLE) AS sum_revenue,
        |         count(*) AS n_lines
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
        |  JOIN pq ON l_partkey = pk
        |  WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_qty < sum_qty)
        |SELECT sum_revenue, sum_revenue / 7.0 AS avg_yearly, n_lines
        |FROM base""".stripMargin)),
    Declared("q119_tpch_q19", q119TpchQ19, Some(
      """SELECT
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |    AS DECIMAL(38,4))), 4) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    Declared("q120_tpch_q21", q120TpchQ21, Some(
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND o3.o_orderstatus = 'F'
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)))
}
