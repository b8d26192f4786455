package graft

import graft.ops.Extended
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the q49–q59 wave — properties the DuckDB oracle
  * can't see (plan shape) or that pin the intent independent of it. */
class ExtendedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("q49: grouping sets emits exactly the two marginals") {
    val rows = Extended.q49GroupingSets(spark, dir).collect()
    // each row belongs to exactly one set: (status, ALL) or (ALL, priority)
    assert(rows.forall(r => (r.getString(0) == "ALL") != (r.getString(1) == "ALL")))
    val statusTotal = rows.filter(_.getString(1) == "ALL").map(_.getLong(2)).sum
    val prioTotal = rows.filter(_.getString(0) == "ALL").map(_.getLong(2)).sum
    val n = Tables.orders(spark, dir).count()
    assert(statusTotal == n && prioTotal == n)
  }

  test("q49: grouping sets plans one Expand, not N scans") {
    val plan = Extended.q49GroupingSets(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"))
    assert("FileScan".r.findAllIn(plan).size == 1)
  }

  test("q60: sharded packing equals the single-global-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir).select("doc_id", "text")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = tok
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / lit(2048)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin").collect().toSeq
    // shard counts that do and don't divide the doc count evenly
    for (nShards <- Seq(1, 3, 16)) {
      val sharded = Extended.packSequences(tok, 2048, nShards)
        .collect().toSeq
      assert(sharded == global, s"nShards=$nShards")
    }
  }

  test("q50: exists-subquery keeps no duplicates and respects both predicates") {
    val out = Extended.q50Subqueries(spark, dir).collect()
    val keys = out.map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
    val avg = Tables.orders(spark, dir)
      .agg(org.apache.spark.sql.functions.avg("o_totalprice"))
      .collect().head.getDouble(0)
    assert(out.forall(_.getDouble(2) > avg))
  }

  test("q52: null-safe join matches nulled keys to each other") {
    val out = Extended.q52NullSafeJoin(spark, dir).collect()
    assert(out.length == 25) // every nation matched, incl. region 2 via NULL<=>NULL
    val nulled = Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 2).count()
    val viaNull = out.count(r => {
      val rn = r.getString(2); rn != null
    })
    assert(viaNull == 25 && nulled > 0)
  }

  test("q53: unpivot yields 2 rows per part, one per metric") {
    val nParts = Tables.part(spark, dir).count()
    val out = Extended.q53Unpivot(spark, dir)
    assert(out.count() == 2 * nParts)
    assert(out.select("metric").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("retail", "size"))
  }

  test("q54: interval range frame is monotone within a 1-row user burst") {
    // trailing 1h sum of a single event >= that event's own value
    val joined = Extended.q54RangeFrame(spark, dir)
      .join(Tables.events(spark, dir).select(col("event_id"), col("value")),
        "event_id")
    val bad = joined.filter(col("trailing_1h_sum") <
      col("value").cast("decimal(18,6)").cast("double") - lit(1e-9)).count()
    assert(bad == 0)
  }

  test("q55: first/last prices bound every row's own price ordering") {
    val rows = Extended.q55ValueWindow(spark, dir).collect()
    // first/last are constant within a customer partition
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getDouble(2)).distinct.length == 1)
      assert(rs.map(_.getDouble(3)).distinct.length == 1)
    }
  }

  test("q57: union by name aligns columns and null-fills the missing one") {
    val out = Extended.q57UnionByName(spark, dir)
    val cust = out.filter(col("origin") === "customer")
    assert(cust.filter(col("bal").isNotNull).count() == 0)
    val sup = out.filter(col("origin") === "supplier")
    assert(sup.filter(col("bal").isNull).count() == 0)
  }

  test("q58: plan broadcasts the dimension side and takes ordered top-k") {
    val plan = Extended.q58TpchQ3(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q58: revenue is descending with orderkey tiebreak") {
    val rows = Extended.q58TpchQ3(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) > b.getDouble(2) ||
        (a.getDouble(2) == b.getDouble(2) && a.getLong(0) < b.getLong(0)))
    }
  }

  test("q60: packing conserves tokens and bins partition the doc order") {
    val rows = Extended.q60PackSequences(spark, dir).collect()
    val total = Tables.documents(spark, dir)
      .select(regexp_count(col("text"), lit("\\S+")).cast("long").as("t"))
      .agg(sum("t")).collect().head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == total)
    // bins are contiguous and doc ranges never interleave
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(0) > a.getLong(0))
      assert(b.getLong(3) > a.getLong(4)) // next first_doc > prev last_doc
    }
  }

  test("q61: aggregator top-k equals the window+row_number formulation") {
    import org.apache.spark.sql.expressions.{Window => W}
    val viaWindow = Tables.orders(spark, dir)
      .withColumn("rnk", row_number().over(
        W.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk").cast("long"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk").collect().map(_.toSeq).toSeq
    val viaAgg = Extended.q61TopKPerKey(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaAgg == viaWindow)
  }

  test("q61: the plan is a partial+final aggregate, not a window sort") {
    val plan = Extended.q61TopKPerKey(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "top-k per key must not plan a Window")
  }

  test("q62: redaction removes every counted match and only those docs change") {
    val out = Extended.q62PiiRedact(spark, dir)
    // no email/digit-run survives in the redacted text
    val survivors = out.filter(
      regexp_count(col("redacted"),
        lit("[a-zA-Z0-9._]+@[a-zA-Z0-9]+\\.[a-zA-Z]+")) > 0 ||
      regexp_count(col("redacted"), lit("[0-9]{4,}")) > 0).count()
    assert(survivors == 0)
    // a doc changes iff something was counted
    val joined = out.join(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    val inconsistent = joined.filter(
      (col("n_emails") + col("n_digit_runs") > 0) =!=
        (col("text") =!= col("redacted"))).count()
    assert(inconsistent == 0)
  }

  test("q65: each click converts at most once, to a later in-window purchase") {
    val rows = Extended.q65Funnel(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).distinct.length == rows.length) // one row per click
    assert(rows.forall(r => r.getLong(3) > 0 && r.getLong(3) <= 1800000000L))
  }

  test("q66: histogram buckets cover all orders exactly once") {
    val rows = Extended.q66Histogram(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, dir).count())
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 9))
  }

  test("q59: spine is a complete hourly sequence and zero-fills gaps") {
    val rows = Extended.q59GapFill(spark, dir).collect()
    val hours = rows.map(_.getLong(0))
    assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600L * 1000000 })
    val nEvents = Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(1)).sum == nEvents)
  }
}
