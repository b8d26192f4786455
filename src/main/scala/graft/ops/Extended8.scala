package graft.ops

import graft.{Declared, Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** q158–q163 — round-5 batches 4–5, every one DuckDB-oracle checked:
  *
  *  - q158 Poisson bootstrap (deterministic md5 draws)
  *  - q159 rolling 7-day active users (explode-to-grid, equi only)
  *  - q160 capped sessionization (gap + duration-block rule)
  *  - q161 funnel latency percentiles (rank-exact p50/p90)
  *  - q162 rolling anomaly flags (sqrt-free 3σ rule, decimal-exact)
  *  - q163 language-mix drift (total-variation distance per source)
  */
object Extended8 {

  // ---------------------------------------------------------------- q158
  /** q158 — Poisson bootstrap: B = 20 replicate means of the order
    * value, each row weighted by a DETERMINISTIC Poisson(1) draw
    * derived from md5(replicate, orderkey) — the scale-native
    * bootstrap (no replicate ever needs the global n, so it runs as a
    * plain groupBy over a B-way explode; the classic resample-n-rows
    * form cannot be distributed). The inverse-CDF thresholds on the
    * md5-uniform are exact hex-string comparisons — engine-identical;
    * sums are decimal-exact with one final division per replicate. At
    * 100 TB: B× replication of (weight, value) pairs, partial aggregation
    * does the rest; the replicate-spread standard error costs nothing
    * extra. */
  def q158PoissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    // P(X=k), X~Poisson(1): cumulative 0.36788, 0.73576, 0.91970,
    // 0.98101, 1 — encoded as thresholds on the first 8 hex chars of
    // md5 (a uniform in [0, 2^32)); hex-string compare ≡ integer
    // compare at fixed width
    val u = substring(md5(concat_ws(":", col("b"), col("o_orderkey"))), 1, 8)
    val w = when(u < "5e2d58d8", 0)      // floor(0.36788 * 2^32) in hex
      .when(u < "bc5ab1b1", 1)           // 0.73576
      .when(u < "eb715e1d", 2)           // 0.91970
      .when(u < "fb239797", 3)           // 0.98101
      .otherwise(4)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"))
      .select(col("o_orderkey"), col("v"),
        explode(sequence(lit(0), lit(19))).as("b"))
      .select(col("b"), col("v"), w.as("w"))
      .groupBy("b")
      .agg(sum("w").as("n_eff"), sum(col("v") * col("w")).as("s"))
      .select(col("b").cast("long").as("b"), col("n_eff"),
        round(col("s").cast("double") / col("n_eff"), 6).as("boot_mean"))
      .orderBy("b")
  }

  // ---------------------------------------------------------------- q159
  /** q159 — rolling 7-day active users: for every active day, the
    * distinct-user count over the trailing week — the DAU/WAU shape.
    * Built EQUI-ONLY: each (user, day) activity row explodes into the
    * 7 report days it supports, then a distinct aggregate per report
    * day — no range join, no nested loop (a day-grid range join is
    * the naive form; the explode turns it into a hash shuffle on the
    * day key). Report days outside the observed range are dropped by
    * the semi-join against actual activity days. 7× expansion of
    * (user_id, day) pairs — bytes bounded by activity, not the
    * grid. */
  def q159RollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir).select("user_id", "ts")
      .select(col("user_id"),
        to_date(col("ts")).as("day")).distinct()
    val days = act.select(col("day")).distinct()
    act
      .select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("k"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("rday"))
      .join(days.withColumnRenamed("day", "rday"), Seq("rday"), "left_semi")
      .groupBy(col("rday").cast("string").as("rday"))
      .agg(countDistinct("user_id").as("active_7d"))
      .orderBy("rday")
  }

  // ---------------------------------------------------------------- q160
  /** q160 — capped sessionization: a session break on > 30 min
    * inactivity (the q30 rule), then long gap-sessions further split
    * into 4-hour duration blocks — the production rule that stops a
    * bot's week-long click stream from becoming one session. Two
    * partitioned window passes (user; then user×gap-session), both on
    * the user shuffle key — the second window's min() rides the first
    * pass's partitioning. All arithmetic in integer micros. */
  def q160CappedSessions(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ev = Tables.events(spark, dir).select("user_id", "event_id", "ts")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag("us", 1).over(wU) > 1800L * 1000000L ||
          lag("us", 1).over(wU).isNull, 1L).otherwise(0L))
      .withColumn("gs", sum("new_sess").over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("block",
        expr("(us - min(us) OVER (PARTITION BY user_id, gs)) " +
          "div 14400000000"))
    ev.groupBy("user_id", "gs", "block")
      .agg(count(lit(1)).as("n_events"),
        // `div`, not `/`: long / long is double division, and Spark's
        // double→long cast truncates where DuckDB's rounds
        expr("(max(us) - min(us)) div 1000000").as("duration_s"))
      .orderBy("user_id", "gs", "block")
  }

  // ---------------------------------------------------------------- q161
  /** q161 — funnel latency percentiles: for users who advanced a
    * funnel stage within its 24 h window (the q130 rule), the exact
    * p50/p90 of the stage latency — rank order statistics under a
    * fully tiebroken order (the q144 idiom; interpolating percentiles
    * are engine-divergent). Stage tables shrink monotonically; the
    * percentile windows partition by stage label. Integer micros to
    * integer seconds. */
  def q161FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_type", "ts")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1b"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2.select(col("user_id"), col("t2")), "user_id")
      .filter(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t3"), min("t2").as("t2b"))
    // `div`: integer seconds, never a rounded double (engines disagree
    // on double→long casts — truncate vs round)
    val lat = t2.select(lit("1_view_to_click").as("stage"), col("user_id"),
        expr("(unix_micros(t2) - unix_micros(t1b)) div 1000000")
          .as("lat_s"))
      .unionByName(t3.select(lit("2_click_to_purchase").as("stage"),
        col("user_id"),
        expr("(unix_micros(t3) - unix_micros(t2b)) div 1000000")
          .as("lat_s")))
    val wR = Window.partitionBy("stage").orderBy("lat_s", "user_id")
    val wN = Window.partitionBy("stage")
    lat
      .withColumn("rnk", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy("stage")
      .agg(min("n").as("n_users"),
        min(when(col("rnk") === expr("(n + 1) div 2"), col("lat_s")))
          .as("p50_s"),
        min(when(col("rnk") === expr("(9 * n + 9) div 10"), col("lat_s")))
          .as("p90_s"))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- q162
  /** q162 — rolling anomaly flags: an event is anomalous when its
    * value exceeds the trailing-100-event mean by 3 standard
    * deviations within its type. The 3σ test is evaluated WITHOUT
    * sqrt or division: v > m + 3σ ⟺ (v·n − S1) > 0 ∧ (v·n − S1)² >
    * 9·(n·S2 − S1²) — every term an exact decimal from the frame's
    * (count, sum, sum-of-squares), so the flag is bit-portable where
    * a float mean/stddev pipeline is not (IEEE sqrt is exact but the
    * accumulation ORDER of a float variance isn't; decimal sums are
    * order-free). Frame excludes the current row; warmup gate n ≥ 30.
    *
    * NO type-partitioned window over the fact table (≤5 types = ≤5
    * reducers at scale). The trailing frame is stitched from PREFIX
    * sums instead: rows shard into 64 order-contiguous time blocks per
    * type, within-block rank + cumulative (v, v²) plus a broadcast
    * per-block offset give the exact within-type rank r and prefix
    * sums P(r); then frame sums are pure decimal differences —
    * S1 = P1(r−1) − P1(r−101) with P1(r−1) = p1 − v locally and the
    * r−101 prefix fetched by ONE equi-join on the high-cardinality
    * (type, rank) key. n = min(100, r−1) replays the frame row count
    * exactly. Every window here partitions by (type, block) or runs
    * on the ≤64-row block table; the fact table never funnels through
    * a per-type reducer. */
  def q162RollingAnomaly(spark: SparkSession, dir: String): DataFrame = Pins.scoped { p =>
    // decimal(12,2), not (18,6): the sqrt-free test squares products
    // of sums, and Spark's decimal typer reduces SCALE (rounding
    // real digits) when a product's precision would exceed 38 — at
    // scale 2 every intermediate fits at full scale, so the flag
    // stays exact. The data is 2-decimal; the cast rounds identically
    // on both engines either way.
    val e = Tables.events(spark, dir)
      .select("event_id", "event_type", "value", "ts")
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(12,2)").as("v"),
        unix_micros(col("ts")).as("us"))
      .pipe(p.checkpoint) // read until `ranked` is materialized
    val bounds = e.groupBy("event_type")
      .agg(min("us").as("lo"), max("us").as("hi"))
    val sh = e.join(broadcast(bounds), "event_type")
      // `div` keeps the block id in exact long arithmetic (`/` on
      // longs is double division in Spark)
      .withColumn("blk",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(expr("((us - lo) * 64L) div (hi - lo)"),
            lit(63L))))
      .drop("lo", "hi")
    val wIn = Window.partitionBy("event_type", "blk")
      .orderBy("us", "event_id")
    val wCum = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy("event_type").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sh.groupBy("event_type", "blk")
      .agg(count(lit(1)).as("nb"), sum("v").as("s1b"),
        sum(col("v") * col("v")).as("s2b"))
      .withColumn("offn", coalesce(sum("nb").over(wOff), lit(0L)))
      .withColumn("offs1", coalesce(sum("s1b").over(wOff), lit(0)))
      .withColumn("offs2", coalesce(sum("s2b").over(wOff), lit(0)))
      .select("event_type", "blk", "offn", "offs1", "offs2")
    val ranked = sh
      .withColumn("rn", row_number().over(wIn))
      .withColumn("c1", sum("v").over(wCum))
      .withColumn("c2", sum(col("v") * col("v")).over(wCum))
      .join(broadcast(offs), Seq("event_type", "blk"))
      .select(col("event_id"), col("event_type"), col("v"),
        (col("offn") + col("rn")).as("r"),
        (col("offs1") + col("c1")).as("p1"),
        (col("offs2") + col("c2")).as("p2"))
      .pipe(ScaleOps.stageCheckpoint)
    // row at rank x serves rank r = x + 101 as its P(r-101) prefix
    val loL = ranked.select(col("event_type").as("lt"),
      (col("r") + 101).as("lr"),
      col("p1").as("lp1"), col("p2").as("lp2"))
    ranked
      .join(loL, col("event_type") === col("lt") && col("r") === col("lr"),
        "left")
      .withColumn("n", least(lit(100L), col("r") - 1))
      .filter(col("n") >= 30)
      .withColumn("s1", (col("p1") - col("v") - coalesce(col("lp1"), lit(0)))
        .cast("decimal(22,2)"))
      .withColumn("s2",
        (col("p2") - col("v") * col("v") - coalesce(col("lp2"), lit(0)))
          .cast("decimal(35,4)"))
      .withColumn("dev", col("v") * col("n") - col("s1"))
      .filter(col("dev") > 0 &&
        col("dev") * col("dev") >
          (col("n") * col("s2") - col("s1") * col("s1")) * 9)
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"), col("n"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q163
  /** q163 — language-mix drift per source: the total-variation
    * distance ½·Σ_lang |p_lang^src − p_lang^corpus| between each
    * source's language distribution and the corpus's — the
    * categorical twin of q132's KS (which needs an ordered domain).
    * Deviations stay exact integer cross-products |c_sl·N − c_l·n_s|
    * in decimal; ONE final division by 2·n_s·N publishes the
    * distance. Everything after the two groupBy counts is
    * stats-sized (sources × languages). */
  def q163LangmixDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select("source", "lang")
    val bySl = d.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
    val byS = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val byL = d.groupBy("lang").agg(count(lit(1)).as("c_l"))
    val nAll = d.agg(count(lit(1)).as("n_all"))
    byS.crossJoin(broadcast(byL))
      .join(bySl, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c_sl"))
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_s"), col("n_all"),
        abs(col("c_sl").cast("decimal(38,0)") * col("n_all") -
          col("c_l").cast("decimal(38,0)") * col("n_s")).as("dev"))
      .groupBy("source")
      .agg(first("n_s").as("n_s"), first("n_all").as("n_all"),
        sum("dev").as("l1"))
      .select(col("source"),
        round(col("l1").cast("double") /
          (col("n_s").cast("double") * col("n_all") * 2.0), 6).as("tv_dist"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q165
  /** q165 — inverted-index slice: posting lists (gram → sorted doc
    * ids) for the discriminative band of the gram vocabulary — df in
    * [2, 5]; hapax grams index nothing, high-df grams are stopword-
    * like. This is the retrieval-index build step (and the exact
    * structure a decontamination service serves). Posting lists are
    * collected per GRAM — bounded by the df cap at 5 ids — so the
    * aggregate buffer is tiny by construction; grams explode
    * per-doc-distinct and shuffle once on the gram key. The posting
    * list is published as a comma-joined STRING, not an array: the
    * driver comparator hashes scalar columns only (the BASELINE.md
    * output-type rule), and a sorted join is information-preserving
    * for integer ids. */
  def q165InvertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables.documents(spark, dir).select("doc_id", "text"))

  /** Core of q165 over any (doc_id, text) frame — the cross-impl
    * property spec drives it with generated corpora. */
  private[graft] def invertedIndex(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z]+"), x => x =!= "")
    docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("t")) - 2), i =>
          concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2)))))
        .as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
      .filter(col("df") >= 2 && col("df") <= 5)
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q166
  /** q166 — temperature-damped mixture sample (the multilingual
    * α-sampling rule, α = 0.5): per-source budgets proportional to
    * √n_s instead of n_s, so small sources are over-represented
    * relative to their share — then a deterministic md5-rank draw of
    * each budget. The square root is the INTEGER isqrt
    * (floor∘IEEE-sqrt — exact for any count below 2⁵², and IEEE sqrt
    * is exactly rounded, so both engines floor the same double);
    * budgets are B·w_s div W in pure integer arithmetic — no float
    * share ever decides a boundary. Scale: counts are stats-sized;
    * the draw is [[ScaleOps.shardedMd5Rank]] — per-source md5 rank
    * without a source-partitioned window over documents (≤10 reducers
    * otherwise; PlanAuditSpec forbids it). */
  def q166TemperatureSample(spark: SparkSession, dir: String): DataFrame =
    temperatureSample(Tables.documents(spark, dir)
      .select("doc_id", "source"))

  /** Core of q166 over any (doc_id, source) frame — cross-impl-pinned
    * by SamplingCrossImplSpec (skewed + singleton sources, budgets at
    * integer-division boundaries). */
  private[graft] def temperatureSample(d: DataFrame): DataFrame = {
    val budgetTotal = 100L
    val weights = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("w", floor(sqrt(col("n_s"))).cast("long"))
    val wTot = weights.agg(sum("w").as("w_tot"))
    val budgets = weights.crossJoin(broadcast(wTot))
      .select(col("source"), col("n_s"),
        least(expr(s"($budgetTotal * w) div w_tot"), col("n_s"))
          .as("budget"))
    ScaleOps.shardedMd5Rank(d, "source", "doc_id")
      .join(broadcast(budgets), "source")
      .filter(col("rnk") <= col("budget"))
      .select(col("source"), col("doc_id"), col("rnk"), col("budget"))
      .orderBy("source", "rnk")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q166_temperature_sample", q166TemperatureSample, Some(
      """WITH w AS (
        |  SELECT source, count(*) AS n_s,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM w),
        |b AS (
        |  SELECT source, n_s,
        |         least((100 * w) // w_tot, n_s) AS budget
        |  FROM w, wt),
        |r AS (
        |  SELECT d.source, d.doc_id, b.budget,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rnk
        |  FROM documents d JOIN b USING (source))
        |SELECT source, doc_id, CAST(rnk AS INT) AS rnk, budget
        |FROM r WHERE rnk <= budget
        |ORDER BY source, rnk""".stripMargin)),
    Declared("q165_inverted_index", q165InvertedIndex, Some(
      """WITH gr AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM (
        |    SELECT doc_id,
        |           list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '') AS t
        |    FROM documents)
        |  WHERE len(t) >= 3)
        |SELECT g, count(*) AS df,
        |       array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM gr GROUP BY g
        |HAVING count(*) BETWEEN 2 AND 5
        |ORDER BY g""".stripMargin)),
    Declared("q162_rolling_anomaly", q162RollingAnomaly, Some(
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(value AS DECIMAL(12,2)) AS v, epoch_us(ts) AS us
        |  FROM events),
        |f AS (
        |  SELECT event_id, event_type, v,
        |    count(*) OVER w AS n, sum(v) OVER w AS s1,
        |    sum(v * v) OVER w AS s2
        |  FROM e WINDOW w AS (PARTITION BY event_type
        |    ORDER BY us, event_id
        |    ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, CAST(v AS DOUBLE) AS value, n
        |FROM f
        |WHERE n >= 30 AND v * n - s1 > 0
        |  AND (v * n - s1) * (v * n - s1) > (n * s2 - s1 * s1) * 9
        |ORDER BY event_id""".stripMargin)),
    Declared("q163_langmix_drift", q163LangmixDrift, Some(
      """WITH d AS (SELECT source, lang FROM documents),
        |sl AS (SELECT source, lang, count(*) AS c_sl FROM d GROUP BY 1, 2),
        |s AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
        |l AS (SELECT lang, count(*) AS c_l FROM d GROUP BY 1),
        |na AS (SELECT count(*) AS n_all FROM d),
        |ex AS (
        |  SELECT s.source, s.n_s, l.lang, l.c_l,
        |         coalesce(sl.c_sl, 0) AS c_sl
        |  FROM s CROSS JOIN l
        |  LEFT JOIN sl ON sl.source = s.source AND sl.lang = l.lang)
        |SELECT source,
        |  round(CAST(sum(abs(CAST(c_sl AS HUGEINT) * n_all
        |                     - CAST(c_l AS HUGEINT) * n_s)) AS DOUBLE)
        |        / (CAST(n_s AS DOUBLE) * n_all * 2.0), 6) AS tv_dist
        |FROM ex, na GROUP BY source, n_s, n_all
        |ORDER BY source""".stripMargin)),
    Declared("q158_poisson_bootstrap", q158PoissonBootstrap, Some(
      """WITH e AS (
        |  SELECT b, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    CASE WHEN u < '5e2d58d8' THEN 0
        |         WHEN u < 'bc5ab1b1' THEN 1
        |         WHEN u < 'eb715e1d' THEN 2
        |         WHEN u < 'fb239797' THEN 3
        |         ELSE 4 END AS w
        |  FROM (
        |    SELECT o_orderkey, o_totalprice, b,
        |      substr(md5(b || ':' || o_orderkey), 1, 8) AS u
        |    FROM orders CROSS JOIN (SELECT unnest(range(0, 20)) AS b)))
        |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
        |  round(CAST(sum(v * w) AS DOUBLE) / sum(w), 6) AS boot_mean
        |FROM e GROUP BY b ORDER BY b""".stripMargin)),
    Declared("q159_rolling_active_users", q159RollingActiveUsers, Some(
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM act),
        |ex AS (
        |  SELECT user_id, day + CAST(k AS INT) AS rday
        |  FROM act CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
        |SELECT CAST(rday AS VARCHAR) AS rday,
        |       count(DISTINCT user_id) AS active_7d
        |FROM ex SEMI JOIN days ON ex.rday = days.day
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Declared("q160_capped_sessions", q160CappedSessions, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN us - lag(us) OVER w > 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gs
        |  FROM s),
        |b AS (
        |  SELECT user_id, us, gs,
        |    (us - min(us) OVER (PARTITION BY user_id, gs)) // 14400000000
        |      AS block
        |  FROM g)
        |SELECT user_id, CAST(gs AS BIGINT) AS gs, block,
        |  count(*) AS n_events,
        |  (max(us) - min(us)) // 1000000 AS duration_s
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    Declared("q161_funnel_latency", q161FunnelLatency, Some(
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(ts) AS t2, min(t1) AS t1b
        |  FROM events e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1
        |    AND ts <= t1 + INTERVAL 24 HOUR GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(ts) AS t3, min(t2) AS t2b
        |  FROM events e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2
        |    AND ts <= t2 + INTERVAL 24 HOUR GROUP BY 1),
        |lat AS (
        |  SELECT '1_view_to_click' AS stage, user_id,
        |    (epoch_us(t2) - epoch_us(t1b)) // 1000000 AS lat_s
        |  FROM t2
        |  UNION ALL
        |  SELECT '2_click_to_purchase', user_id,
        |    (epoch_us(t3) - epoch_us(t2b)) // 1000000
        |  FROM t3),
        |r AS (
        |  SELECT stage, lat_s,
        |    row_number() OVER (PARTITION BY stage
        |      ORDER BY lat_s, user_id) AS rnk,
        |    count(*) OVER (PARTITION BY stage) AS n
        |  FROM lat)
        |SELECT stage, min(n) AS n_users,
        |  min(CASE WHEN rnk = (n + 1) // 2 THEN lat_s END) AS p50_s,
        |  min(CASE WHEN rnk = (9 * n + 9) // 10 THEN lat_s END) AS p90_s
        |FROM r GROUP BY stage ORDER BY stage""".stripMargin)))
}
