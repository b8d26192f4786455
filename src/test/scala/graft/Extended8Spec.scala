package graft

import graft.ops.{Extended5, Extended8}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Extended8Spec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  val dir: String = SparkTest.sfDir

  test("q158: replicate means concentrate around the true mean") {
    val rows = Extended8.q158PoissonBootstrap(spark, dir).collect()
    assert(rows.length == 20)
    val o = Tables.orders(spark, dir)
    val n = o.count()
    val trueMean = o.agg(avg(col("o_totalprice").cast("decimal(18,2)"))
      .cast("double")).head.getDouble(0)
    rows.foreach { r =>
      val (nEff, m) = (r.getLong(1), r.getDouble(2))
      // Poisson(1) weights: n_eff ~ n ± 4*sqrt(n)
      assert(math.abs(nEff - n) <= 4 * math.sqrt(n.toDouble) + 1,
        s"replicate ${r.getLong(0)}: n_eff=$nEff vs n=$n")
      assert(math.abs(m - trueMean) / trueMean < 0.05,
        s"replicate ${r.getLong(0)}: mean $m vs $trueMean")
    }
    // replicates must actually differ (the whole point of the bootstrap)
    assert(rows.map(_.getDouble(2)).distinct.length > 1)
  }

  test("q159: each day's count equals a direct trailing-window query") {
    val rows = Extended8.q159RollingActiveUsers(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    // spot-check three days, including the first (ramp-up) and last
    val days = rows.keys.toSeq.sorted
    Seq(days.head, days(days.length / 2), days.last).foreach { d =>
      val direct = act
        .filter(col("day") > date_sub(lit(d).cast("date"), 7) &&
          col("day") <= lit(d).cast("date"))
        .select(countDistinct("user_id")).head.getLong(0)
      assert(rows(d) == direct, s"$d: ${rows(d)} vs direct $direct")
    }
  }

  test("q160: blocks partition events and respect the duration cap") {
    val rows = Extended8.q160CappedSessions(spark, dir).collect()
    val total = Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(3)).sum == total,
      "every event lands in exactly one session block")
    rows.foreach(r => assert(r.getLong(4) < 14400,
      s"block duration ${r.getLong(4)}s breaches the 4h cap"))
    // the 30-min gap rule must agree with q30's gap sessionization on
    // the number of gap-sessions
    val gapSessions = rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
    val q30 = graft.ops.StreamingOps.q30Session(spark, dir).count()
    assert(gapSessions == q30,
      s"$gapSessions gap-sessions vs q30's $q30")
  }

  test("q162: every flag beats its own trailing mean by 3 sigma") {
    val flags = Extended8.q162RollingAnomaly(spark, dir).collect()
    assert(flags.nonEmpty, "a uniform-value stream still has 3-sigma tails")
    val total = Tables.events(spark, dir).count()
    assert(flags.length < total / 10, "flags must be rare")
    flags.foreach { r =>
      assert(r.getLong(3) >= 30 && r.getLong(3) <= 100)
    }
    // recompute one flag directly: collect its type's ordered stream
    val f = flags.head
    val stream = Tables.events(spark, dir)
      .filter(col("event_type") === f.getString(1))
      .select(col("event_id"),
        col("value").cast("decimal(12,2)").cast("double").as("v"),
        unix_micros(col("ts")).as("us"))
      .orderBy("us", "event_id").collect()
    val idx = stream.indexWhere(_.getLong(0) == f.getLong(0))
    val frame = stream.slice(math.max(0, idx - 100), idx).map(_.getDouble(1))
    val m = frame.sum / frame.length
    val sd = math.sqrt(frame.map(x => (x - m) * (x - m)).sum / frame.length)
    assert(f.getDouble(2) > m + 3 * sd - 1e-9,
      s"flagged ${f.getDouble(2)} vs mean $m + 3*$sd")
  }

  test("q163: TV distance is a valid distance and matches a recount") {
    val rows = Extended8.q163LangmixDrift(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    val r0 = rows.head
    val d = Tables.documents(spark, dir)
    val nAll = d.count().toDouble
    val nS = d.filter(col("source") === r0.getString(0)).count().toDouble
    val langs = d.select("lang").distinct().collect().map(_.getString(0))
    val tv = langs.map { lg =>
      val cSl = d.filter(col("source") === r0.getString(0) &&
        col("lang") === lg).count()
      val cL = d.filter(col("lang") === lg).count()
      math.abs(cSl / nS - cL / nAll)
    }.sum / 2.0
    assert(math.abs(r0.getDouble(1) - tv) <= 1e-5,
      s"${r0.getString(0)}: ${r0.getDouble(1)} vs direct $tv")
  }

  test("q165: posting lists are sorted, sized by df, and verifiable") {
    val rows = Extended8.q165InvertedIndex(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getLong(1)
      val posts = r.getString(2).split(",").toSeq.map(_.toLong)
      assert(df >= 2 && df <= 5)
      assert(posts.length == df)
      assert(posts == posts.sorted && posts.distinct == posts)
    }
    // spot-check: the first gram's postings match a direct containment
    // scan (the gram is a contiguous token triple in each posted doc)
    val g = rows.head.getString(0)
    val direct = Tables.documents(spark, dir)
      .filter(regexp_replace(lower(col("text")), "[^a-z]+", " ")
        .contains(" " + g + " ") ||
        regexp_replace(lower(col("text")), "[^a-z]+", " ")
          .startsWith(g + " ") ||
        regexp_replace(lower(col("text")), "[^a-z]+", " ")
          .endsWith(" " + g))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows.head.getString(2).split(",").toSeq.map(_.toLong) == direct,
      s"gram '$g': postings ${rows.head.getString(2)} vs scan $direct")
  }

  test("q166: budgets follow integer sqrt damping; draws fill them") {
    val rows = Extended8.q166TemperatureSample(spark, dir).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(0))
    // every source's draw fills exactly its budget
    bySource.foreach { case (s, rs) =>
      val budget = rs.head.getLong(3)
      assert(rs.length == budget, s"$s drew ${rs.length} of $budget")
      assert(rs.map(_.getInt(2)).max == budget)
    }
    // recompute the budget formula independently
    val counts = Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = counts.map { case (s, n) => s -> math.sqrt(n.toDouble).toLong }
    val wTot = w.values.sum
    bySource.foreach { case (s, rs) =>
      val expected = math.min(100L * w(s) / wTot, counts(s))
      assert(rs.head.getLong(3) == expected,
        s"$s: budget ${rs.head.getLong(3)} vs expected $expected")
    }
    assert(rows.length <= 100)
  }

  test("q161: percentiles are ordered and stages match the funnel") {
    val rows = Extended8.q161FunnelLatency(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("1_view_to_click", "2_click_to_purchase"))
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "p50 <= p90")
      assert(r.getLong(2) >= 0 && r.getLong(3) <= 86400,
        "latencies live inside the 24h conversion window")
    }
    // stage populations must equal the q130 funnel's stage counts
    val funnel = Extended5.q130Funnel(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    val byStage = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("1_view_to_click") == funnel(2))
    assert(byStage("2_click_to_purchase") == funnel(3))
  }
}
