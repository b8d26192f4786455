package graft

import graft.ops.Extended5
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Extended5Spec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._
  val dir: String = SparkTest.sfDir

  test("q130: funnel stages shrink monotonically and discriminate") {
    val rows = Extended5.q130Funnel(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rows.keySet == Set(1, 2, 3))
    assert(rows(1) >= rows(2) && rows(2) >= rows(3))
    assert(rows(1) > 0, "some user must reach stage 1")
    assert(rows(2) < rows(1),
      "the 24h window must eliminate someone, or the funnel is vacuous")
  }

  test("q130: a null user reaches only the view stage, as in the oracle") {
    // the oracle groups the null user into t1 but its JOIN ... USING
    // (user_id) never matches a null, so t2 and t3 never hold it; a
    // view with a null ts still puts its user in t1
    val tmp = java.nio.file.Files.createTempDirectory("graft_q130_null")
    try {
      Seq[(Long, String, Option[Long], String)](
          (1L, "2024-01-01 10:00:00", None, "view"),
          (2L, "2024-01-01 11:00:00", None, "click"),
          (3L, "2024-01-01 12:00:00", None, "purchase"),
          (4L, "2024-01-01 10:00:00", Some(7L), "view"),
          (5L, "2024-01-01 11:00:00", Some(7L), "click"),
          (6L, "2024-01-01 12:00:00", Some(7L), "purchase"),
          (7L, null, Some(8L), "view"))
        .toDF("event_id", "t", "user_id", "event_type")
        .select(col("event_id"), to_timestamp(col("t")).as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"))
        .write.parquet(s"$tmp/events.parquet")
      val rows = Extended5.q130Funnel(spark, tmp.toString).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
    } finally FsUtil.deleteRecursively(tmp)
  }

  test("q130: one shuffle by user_id, no join") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Extended5.q130Funnel(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val byUser = helper.collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h.expressions.map(_.sql) }
    assert(byUser == Seq(Seq("user_id")), plan.toString)
    assert(helper.collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.toString)
  }

  test("q131: rolling revenue includes at least the row's own order") {
    val df = Extended5.q131RollingRevenue(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_totalprice")), "o_orderkey")
    // roll30 covers a window ENDING at this order, so it is >= the
    // order's own price (decimal-exact, so >= holds without epsilon)
    assert(df.filter(col("roll30") < col("o_totalprice") - 1e-6).count() == 0)
    // and a customer's first-ever order has roll30 == its own price —
    // PROVIDED the first date is unique: RANGE frames include ties, so
    // two same-day first orders each see both (correct, but a different
    // law)
    val firsts = df.join(
      Tables.orders(spark, dir).groupBy("o_custkey")
        .agg(min("o_orderdate").as("d0"),
          count(lit(1)).as("n_orders")),
      Seq("o_custkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderdate")), "o_orderkey")
      .filter(col("o_orderdate") === col("d0"))
      .join(Tables.orders(spark, dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(count(lit(1)).as("n_same_day"))
        .withColumnRenamed("o_orderdate", "d0"),
        Seq("o_custkey", "d0"))
      .filter(col("n_same_day") === 1)
    assert(firsts.count() > 0)
    assert(firsts.filter(
      abs(col("roll30") - col("o_totalprice")) > 1e-6).count() == 0)
  }

  test("q132: KS statistic is a valid distance over every source") {
    val rows = Extended5.q132KsDrift(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val ks = r.getDouble(1)
      assert(ks >= 0.0 && ks <= 1.0, s"${r.getString(0)}: ks=$ks")
    }
    // sources are same-sized uniform slices of one corpus: none should
    // be at the degenerate extremes
    assert(rows.exists(_.getDouble(1) > 0.0))
    assert(rows.forall(_.getDouble(1) < 0.9))
  }

  test("q133: Gini concentration bounded by the 26-letter maximum") {
    val rows = Extended5.q133CharGini(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getDouble(2)
      // uniform over 26 letters gives 1 - 1/26 ~= 0.9615 -- the
      // attainable supremum; 0 means a single repeated letter
      assert(g >= 0.0 && g <= 1.0 - 1.0 / 26 + 1e-9,
        s"doc ${r.getLong(0)}: gini=$g")
    }
    assert(rows.forall(_.getDouble(2) > 0.5),
      "natural text is letter-diverse; near-zero Gini would mean a bug")
  }

  test("q134: every planted truncated name is found at distance 1") {
    val nVocab = Tables.part(spark, dir).select("p_name").distinct().count()
    val rows = Extended5.q134FuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = rows.filter { case (a, b, d) => b == a + 100000L && d == 1 }
    assert(planted.length == nVocab,
      s"expected all $nVocab planted pairs, found ${planted.length}")
    rows.foreach { case (_, _, d) => assert(d >= 0 && d <= 2) }
  }

  test("q135: batches hold <=8 docs of one power-of-2 length class") {
    val rows = Extended5.q135LengthBatches(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (bucket, n, lo, hi) =
        (r.getInt(0), r.getLong(2), r.getLong(4), r.getLong(5))
      assert(n >= 1 && n <= 8)
      // bucket k holds token counts in [2^(k-1), 2^k - 1]
      assert(lo >= (1L << (bucket - 1)) && hi <= (1L << bucket) - 1,
        s"bucket $bucket holds [$lo,$hi]")
    }
  }

  test("q136: exactly ceil(n/5) docs sampled per language") {
    val expected = Tables.documents(spark, dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> (r.getLong(1) + 4) / 5).toMap
    val got = Extended5.q136StratifiedSample(spark, dir).groupBy("lang")
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("q137: 3 descending neighbors per query, no self-edges") {
    val rows = Extended5.q137KnnGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.length == 20 * 3)
    rows.groupBy(_._1).foreach { case (q, ns) =>
      assert(ns.map(_._4).sorted.sameElements(Array(1, 2, 3)))
      val sims = ns.sortBy(_._4).map(_._3)
      assert(sims.sameElements(sims.sortBy(-_)), s"query $q not descending")
      assert(ns.forall(_._2 != q))
    }
  }
}
