package graft.ops

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** q138–q146 — round-5 additions, every one DuckDB-oracle checked:
  *
  *  - q138 hapax rate (share of corpus-unique words per doc)
  *  - q139 n-gram novelty by epoch order (first-seen fraction)
  *  - q140 half-life-decayed activity score (exact dyadic weights)
  *  - q141 weighted median (cumulative-weight rule, decimal-exact)
  *  - q142 bigram collocation lift (log-free PMI twin)
  *  - q143 pairwise source vocabulary overlap (Jaccard)
  *  - q144 winsorized mean (rank-exact p05/p95 clamp)
  *  - q145 curriculum stages (global rank WITHOUT a global window)
  *  - q146 two-proportion A/B z-test (deterministic hash split)
  */
object Extended6 {

  // ---------------------------------------------------------------- q138
  /** q138 — hapax rate: per document, the share of its DISTINCT words
    * that appear in NO other document (document frequency 1) — the
    * classic "how much unique junk does this doc carry" curation
    * signal (high hapax rate = OCR noise, random identifiers). Counts
    * are exact integers; one final IEEE division. Scale: the exploded
    * per-doc-distinct word table materializes once and feeds both the
    * document-frequency aggregate (partial+final on the word key) and
    * the per-doc roll-up — the q125/q128 diamond rule; only
    * (doc_id, word) pairs ever shuffle. */
  def q138HapaxRate(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir).select("doc_id", "text")
      .select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
      .pipe(ScaleOps.stageCheckpoint)
    // per-doc-distinct explode ⇒ count(w) == number of docs carrying w
    val dfreq = words.groupBy("w").agg(count(lit(1)).as("df"))
    words.join(broadcast(dfreq), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_distinct"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_distinct"), 6)
          .as("hapax_rate"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q139
  /** q139 — n-gram novelty by epoch order: per document, the fraction
    * of its distinct word 3-grams first seen in THIS doc (min doc_id
    * over the corpus == this doc) — the redundancy curve of an epoch:
    * late documents with low novelty are re-treads the dedup pass
    * missed. q128 measures within-corpus duplication symmetrically;
    * this one is ORDER-AWARE (doc_id = ingestion order). Same gram
    * plumbing as q128: streaming explode, partial+final min on the
    * gram key, (doc_id, flag) pairs only in the roll-up. */
  def q139GramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.gramRows(Tables.documents(spark, dir), 3)
      .pipe(ScaleOps.stageCheckpoint)
    val firstSeen = grams.groupBy("g").agg(min("doc_id").as("first_seen"))
    grams.join(broadcast(firstSeen), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q140
  /** q140 — half-life-decayed activity score per user: Σ value·2^(−k),
    * k = weeks since the event (capped at 8) from a fixed anchor. The
    * weight is DYADIC — value rides as decimal, the weight as the
    * exact integer 2^(8−k), and the single 2^−8 normalization happens
    * once at the end — so the score is exact decimal arithmetic until
    * one final division (libm `pow` is NOT exactly rounded and would
    * diverge across engines; shifts are). The decayed score is the
    * standard recency-weighted engagement feature. Scale: pure
    * groupBy-sum — partial aggregation does everything; no window, no
    * join. */
  def q140DecayScore(spark: SparkSession, dir: String): DataFrame = {
    // 2024-02-01T00:00:00Z — just past the events table's range, so
    // every age is positive; micros arithmetic is exact integer
    val anchorUs = 1706745600000000L
    Tables.events(spark, dir).select("user_id", "ts", "value")
      .select(col("user_id"),
        col("value").cast("decimal(18,6)").as("v"),
        least(expr(s"(($anchorUs - unix_micros(ts)) div 86400000000) div 7"),
          lit(8L)).as("k"))
      .withColumn("wt", expr("256 div shiftleft(1, cast(k as int))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v") * col("wt")).as("s"))
      .select(col("user_id"), col("n_events"),
        round(col("s").cast("double") / 256.0, 6).as("decay_score"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q141
  /** q141 — weighted median: per return flag, the smallest
    * l_extendedprice whose cumulative l_quantity reaches half the
    * flag's total quantity — the inventory-weighted "typical price"
    * (an unweighted median over line items would let many tiny lines
    * outvote a few bulk ones). The 2·cum ≥ total rule avoids ever
    * forming total/2 as a float; weights accumulate as decimal, so
    * every cum value is order-free exact and engine-identical.
    *
    * NO flag-partitioned window over line items (3 reducers would
    * swallow the fact table at scale): line items first collapse to
    * one row per (flag, price) — a normal hash aggregate — and the
    * cumulative weight over that table runs through
    * [[ScaleOps.groupedShardedCumSum]] (price-range shards; the only
    * flag-partitioned window is the O(nShards)-row offset table). The
    * smallest price whose PRICE-GROUP-END cum reaches half the total
    * is the same price the item-level scan finds: within a price
    * group cum only grows, so the first qualifying item lies in the
    * first qualifying group. */
  def q141WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val byPrice = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("decimal(12,2)").as("q"))
      .groupBy("l_returnflag", "l_extendedprice")
      .agg(sum("q").as("qsum"))
    val cum = ScaleOps.groupedShardedCumSum(byPrice, "l_returnflag",
      "l_extendedprice", "qsum", "cw", 32)
    val tot = byPrice.groupBy("l_returnflag").agg(sum("qsum").as("tw"))
    cum.join(broadcast(tot), "l_returnflag")
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("w_median"),
        first(col("tw").cast("double")).as("total_qty"))
      .select(col("l_returnflag"), col("total_qty"), col("w_median"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q142
  /** q142 — bigram collocation lift: P(xy)/(P(x)·P(y)) for adjacent
    * word pairs with support ≥ 20 — the log-free PMI twin (same
    * ordering, no libm log whose rounding diverges across engines).
    * High lift = words that travel together (collocations worth
    * preserving as units in a tokenizer vocab). Both numerator and
    * denominator stay EXACT integer cross-products in decimal until
    * one final double division; cast-to-double of an exact integer is
    * correctly rounded on every engine. Scale: two token-key
    * aggregates (partial+final), unigram counts broadcast back onto
    * the bigram table; corpus-sized data shuffles once per aggregate,
    * never as all-pairs. */
  def q142BigramLift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text")
      .select(TextOps.tokens(col("text")).as("t"))
      .pipe(ScaleOps.stageCheckpoint)
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .pipe(ScaleOps.stageCheckpoint)
    val nUni = uni.agg(sum("c").as("n_uni"))
    val bi = base.filter(size(col("t")) >= 2)
      .select(explode(TextOps.wordGrams(col("t"), 2, TextOps.pair)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 20)
    val nBi = bi.agg(sum("c_xy").as("n_bi"))
    bi.join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c", "c_x")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c", "c_y")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c_xy"),
        round((col("c_xy").cast("decimal(38,0)") * col("n_uni") * col("n_uni"))
            .cast("double") /
          (col("n_bi").cast("decimal(38,0)") * col("c_x") * col("c_y"))
            .cast("double"), 6).as("lift"))
      .orderBy("w1", "w2")
  }

  // ---------------------------------------------------------------- q143
  /** q143 — pairwise source vocabulary overlap: Jaccard similarity of
    * the distinct-word sets of every source pair — the corpus-mixing
    * audit (two sources with near-1 overlap are the same crawl twice;
    * the mixture weights of q92 assume they are not). All counts are
    * exact set cardinalities; |A∪B| = |A|+|B|−|A∩B| keeps everything
    * integer until one division. Scale: runs on the VOCABULARY (the
    * per-source distinct word table), not the corpus — the word-key
    * equi-join's fan-out per word is the number of sources carrying
    * it, bounded by the source count, never |corpus|². */
  def q143VocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(spark, dir).select("source", "text")
      .select(col("source"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
      .distinct()
      .pipe(ScaleOps.stageCheckpoint)
    val sizes = v.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = v.select(col("source").as("src_a"), col("w"))
      .join(v.select(col("source").as("src_b"), col("w")), "w")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- q144
  /** q144 — winsorized mean: per event type, the mean of `value` after
    * clamping to the exact p05/p95 ORDER STATISTICS (the value at rank
    * ⌈n/20⌉ and ⌈19n/20⌉ under a fully-tiebroken ordering) — the
    * outlier-robust KPI. Rank-based percentiles are engine-exact where
    * interpolating ones are not; ranks come from integer ceiling
    * division, never a float fraction. Values accumulate as decimal.
    * Scale: one partitioned window to rank, a 2-row-per-type bounds
    * aggregate broadcast back, one final aggregate — the fact table
    * shuffles once (to its type partition) and never again. */
  def q144WinsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val wR = Window.partitionBy("event_type").orderBy("v", "event_id")
    val wN = Window.partitionBy("event_type")
    val ranked = Tables.events(spark, dir).select("event_type", "event_id", "value")
      .select(col("event_type"), col("event_id"),
        col("value").cast("decimal(18,6)").as("v"))
      .withColumn("rnk", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wN))
      .pipe(ScaleOps.stageCheckpoint)
    val bounds = ranked
      .filter(col("rnk") === expr("(n + 19) div 20") ||
        col("rnk") === expr("(19 * n + 19) div 20"))
      .groupBy("event_type")
      .agg(min(when(col("rnk") === expr("(n + 19) div 20"), col("v")))
          .as("lo"),
        min(when(col("rnk") === expr("(19 * n + 19) div 20"), col("v")))
          .as("hi"))
    ranked.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        min(col("lo").cast("double")).as("p05"),
        min(col("hi").cast("double")).as("p95"),
        sum(greatest(col("lo"), least(col("hi"), col("v")))).as("wsum"))
      .select(col("event_type"), col("n_events"), col("p05"), col("p95"),
        round(col("wsum").cast("double") / col("n_events"), 6)
          .as("w_mean"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q145
  /** q145 — curriculum stages: documents in global ascending token-
    * length order (md5 tiebreak), cut into stages of 50 — shortest
    * sequences first, the standard length-curriculum schedule. The
    * global rank is computed WITHOUT a global window: per-length ranks
    * (partitioned window) plus a broadcast prefix-count offset table —
    * the only unpartitioned window runs over the DISTINCT length
    * table, which is stats-sized (≤ a few thousand rows at any corpus
    * size), while the oracle states the same rank as one global
    * row_number. This offset decomposition is exactly how a global
    * sort rank survives 100 TB. */
  def q145CurriculumStages(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .pipe(ScaleOps.stageCheckpoint)
    // exclusive prefix counts over the distinct-length table: the
    // window is unpartitioned but provably stats-sized (PlanAuditSpec
    // whitelist documents this)
    val wOff = Window.orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = d.groupBy("n_tokens").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
      .select("n_tokens", "off")
    val wIn = Window.partitionBy("n_tokens")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.join(broadcast(offs), "n_tokens")
      .withColumn("grank", col("off") + row_number().over(wIn))
      .withColumn("stage", expr("(grank - 1) div 50").cast("int"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("tot"))
      .select(col("stage"), col("n_docs"), col("min_tokens"),
        col("max_tokens"),
        round(col("tot").cast("double") / col("n_docs"), 6)
          .as("avg_tokens"))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- q146
  /** q146 — two-proportion A/B z-test: users split by the parity of
    * their id (the deterministic stand-in for an assignment hash),
    * conversion = reached a HIGH-VALUE purchase (value ≥ 350 — plain
    * "any purchase" saturates at p = 1.0 on this corpus, which makes
    * the pooled variance 0); emits both rates and the pooled z
    * statistic, null if a degenerate pooled rate makes z undefined.
    * The four inputs are exact integers; the z arithmetic is
    * division/multiplication/sqrt only — every one an
    * IEEE-exactly-rounded op, so the identical expression shape yields
    * identical bits on both engines (no libm transcendentals). Scale:
    * two distinct-aggregates on the user key; partial aggregation
    * collapses events to users before anything shuffles. */
  def q146AbTest(spark: SparkSession, dir: String): DataFrame = {
    val byVariant = Tables.events(spark, dir)
      .select("user_id", "event_type", "value")
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(countDistinct("user_id").as("users"),
        countDistinct(when(col("event_type") === "purchase" &&
          col("value") >= 350, col("user_id"))).as("conv"))
    val one = byVariant.agg(
      min(when(col("variant") === 0, col("users"))).as("users_a"),
      min(when(col("variant") === 0, col("conv"))).as("conv_a"),
      min(when(col("variant") === 1, col("users"))).as("users_b"),
      min(when(col("variant") === 1, col("conv"))).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("users_a")
    val pb = col("conv_b").cast("double") / col("users_b")
    val pbar = (col("conv_a") + col("conv_b")).cast("double") /
      (col("users_a") + col("users_b"))
    one.select(col("users_a"), col("conv_a"), col("users_b"), col("conv_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      when(pbar > 0 && pbar < 1,
        round((pa - pb) /
          sqrt(pbar * (lit(1.0) - pbar) *
            (lit(1.0) / col("users_a") + lit(1.0) / col("users_b"))), 6))
        .as("z"))
  }

  val declared: Seq[Declared] = Seq(
    Declared("q138_hapax_rate", q138HapaxRate, Some(
      """WITH wd AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> ''))) AS w
        |  FROM documents),
        |df AS (SELECT w, count(*) AS df FROM wd GROUP BY 1)
        |SELECT doc_id, count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS hapax_rate
        |FROM wd JOIN df USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Declared("q139_gram_novelty", q139GramNovelty, Some(
      """WITH gr AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM (
        |    SELECT doc_id,
        |           list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '') AS t
        |    FROM documents)
        |  WHERE len(t) >= 3),
        |fs AS (SELECT g, min(doc_id) AS first_seen FROM gr GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty
        |FROM gr JOIN fs USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Declared("q140_decay_score", q140DecayScore, Some(
      """WITH e AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v,
        |    256 // (1 << least(
        |      ((1706745600000000 - epoch_us(ts)) // 86400000000) // 7, 8))
        |      AS wt
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(v * wt) AS DOUBLE) / 256.0, 6) AS decay_score
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Declared("q141_weighted_median", q141WeightedMedian, Some(
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |      PARTITION BY l_returnflag) AS tw
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(min(tw) AS DOUBLE) AS total_qty,
        |       min(l_extendedprice) AS w_median
        |FROM r WHERE cw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Declared("q142_bigram_lift", q142BigramLift, Some(
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
        |bi AS (
        |  SELECT w1, w2, count(*) AS c_xy FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |             i -> t[i])) AS w1,
        |           unnest(list_transform(generate_series(1, len(t) - 1),
        |             i -> t[i+1])) AS w2
        |    FROM t WHERE len(t) >= 2)
        |  GROUP BY 1, 2 HAVING count(*) >= 20),
        |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bi)
        |SELECT w1, w2, c_xy,
        |  round(CAST(CAST(c_xy AS HUGEINT) * n_uni * n_uni AS DOUBLE) /
        |        CAST(CAST(n_bi AS HUGEINT) * x.c * y.c AS DOUBLE), 6)
        |    AS lift
        |FROM bi, nu, nb
        |JOIN uni x ON x.w = bi.w1
        |JOIN uni y ON y.w = bi.w2
        |ORDER BY w1, w2""".stripMargin)),
    Declared("q143_vocab_overlap", q143VocabOverlap, Some(
      """WITH v AS (
        |  SELECT DISTINCT source, unnest(list_distinct(
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                x -> x <> ''))) AS w
        |  FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        |it AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6)
        |    AS jaccard
        |FROM it
        |JOIN sz sa ON sa.source = it.src_a
        |JOIN sz sb ON sb.source = it.src_b
        |ORDER BY src_a, src_b""".stripMargin)),
    Declared("q144_winsorized_mean", q144WinsorizedMean, Some(
      """WITH r AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(value AS DECIMAL(18,6)), event_id) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    min(CASE WHEN rnk = (n + 19) // 20 THEN v END) AS lo,
        |    min(CASE WHEN rnk = (19 * n + 19) // 20 THEN v END) AS hi
        |  FROM r WHERE rnk = (n + 19) // 20 OR rnk = (19 * n + 19) // 20
        |  GROUP BY 1)
        |SELECT r.event_type, count(*) AS n_events,
        |  CAST(min(lo) AS DOUBLE) AS p05, CAST(min(hi) AS DOUBLE) AS p95,
        |  round(CAST(sum(greatest(lo, least(hi, v))) AS DOUBLE)
        |        / count(*), 6) AS w_mean
        |FROM r JOIN b USING (event_type)
        |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin)),
    Declared("q145_curriculum_stages", q145CurriculumStages, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT n_tokens,
        |    row_number() OVER (ORDER BY n_tokens,
        |      md5(CAST(doc_id AS VARCHAR)), doc_id) AS grank
        |  FROM d WHERE n_tokens > 0)
        |SELECT CAST((grank - 1) // 50 AS INT) AS stage,
        |  count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    Declared("q146_ab_test", q146AbTest, Some(
      """WITH v AS (
        |  SELECT user_id % 2 AS variant,
        |    count(DISTINCT user_id) AS users,
        |    count(DISTINCT CASE WHEN event_type = 'purchase'
        |      AND value >= 350 THEN user_id END) AS conv
        |  FROM events GROUP BY 1),
        |o AS (
        |  SELECT
        |    min(CASE WHEN variant = 0 THEN users END) AS users_a,
        |    min(CASE WHEN variant = 0 THEN conv END) AS conv_a,
        |    min(CASE WHEN variant = 1 THEN users END) AS users_b,
        |    min(CASE WHEN variant = 1 THEN conv END) AS conv_b
        |  FROM v)
        |SELECT users_a, conv_a, users_b, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / users_a, 6) AS p_a,
        |  round(CAST(conv_b AS DOUBLE) / users_b, 6) AS p_b,
        |  CASE WHEN CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b)
        |         > 0
        |        AND CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b)
        |         < 1 THEN
        |  round((CAST(conv_a AS DOUBLE) / users_a
        |         - CAST(conv_b AS DOUBLE) / users_b) /
        |    sqrt((CAST(conv_a + conv_b AS DOUBLE) / (users_a + users_b))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |                 / (users_a + users_b))
        |      * (1.0 / users_a + 1.0 / users_b)), 6) END AS z
        |FROM o""".stripMargin)))
}
