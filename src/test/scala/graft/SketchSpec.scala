package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark's built-in streaming-safe sketches (frequent items, HLL,
  * approx_top_k, count-min) against exact answers on the test tables. */
class SketchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  test("heavy hitters: stat.freqItems finds every true >10% item") {
    // Spark's built-in one-pass heavy-hitter sketch — the streaming-safe
    // alternative to an exact groupBy count at 100 TB. Guarantee: every
    // item above the support threshold IS returned (with possible false
    // positives — callers verify with one exact pass over candidates).
    val orders = Tables.orders(spark, SparkTest.sfDir)
    val frequent = orders.stat.freqItems(Array("o_orderpriority"), 0.1)
      .head().getSeq[String](0).toSet
    val truth = orders.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum.toDouble
    truth.filter(_._2 / n > 0.1).keys
      .foreach(p => assert(frequent.contains(p), s"missing true HH $p"))
  }

  test("hll sketches MERGE: per-source unions equal the global estimate") {
    // The property that matters at 1000 executors: DataSketches HLL
    // aggregates are mergeable, so per-partition/per-day sketches roll
    // up without re-reading data. The union's ESTIMATE is not
    // bit-identical to a single-pass sketch (sparse→dense promotion
    // differs along the two paths — measured 491 vs 500 on 500 ids);
    // the contract is that BOTH land within HLL error of the truth.
    val docs = Tables.documents(spark, SparkTest.sfDir)
    docs.createOrReplaceTempView("hll_docs")
    val merged = spark.sql(
      """SELECT hll_sketch_estimate(hll_union_agg(s)) FROM (
        |  SELECT source, hll_sketch_agg(doc_id) AS s
        |  FROM hll_docs GROUP BY source)""".stripMargin)
      .head().getLong(0)
    val global = spark.sql(
      "SELECT hll_sketch_estimate(hll_sketch_agg(doc_id)) FROM hll_docs")
      .head().getLong(0)
    val exact = docs.select("doc_id").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged=$merged exact=$exact")
    assert(math.abs(global - exact).toDouble / exact < 0.05,
      s"global=$global exact=$exact")
  }

  test("approx_top_k agrees with the exact mode on a skewed column") {
    val orders = Tables.orders(spark, SparkTest.sfDir)
    orders.createOrReplaceTempView("atk_orders")
    val top = spark.sql(
      "SELECT approx_top_k(o_orderpriority, 3) FROM atk_orders")
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    val exact = orders.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(-_._2)
    assert(top.head._1 == exact.head._1, "top-1 item must match exact mode")
    // with 5 distinct values and k=3, counts are exact
    assert(top.toMap == exact.take(3).toMap)
  }

  test("count-min sketch: estimates upper-bound true counts within eps·n") {
    val orders = Tables.orders(spark, SparkTest.sfDir)
    val cms = orders.stat.countMinSketch(
      org.apache.spark.sql.functions.col("o_orderpriority"),
      eps = 0.01, confidence = 0.99, seed = 42)
    val truth = orders.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    truth.foreach { case (k, exact) =>
      val est = cms.estimateCount(k)
      assert(est >= exact, "CMS never underestimates")
      assert(est <= exact + (0.01 * n).toLong + 1, s"$k est=$est exact=$exact")
    }
  }
}
