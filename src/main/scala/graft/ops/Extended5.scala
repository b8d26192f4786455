package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q130–q137 — round-5 additions, every one DuckDB-oracle checked:
  *
  *  - q130 ordered event funnel (view → click → purchase)
  *  - q131 rolling 30-day revenue per customer (RANGE window)
  *  - q132 per-source KS distribution drift vs the corpus
  *  - q133 Gini char concentration (the log-free quality signal)
  *  - q134 blocked fuzzy join (edit distance with prefix blocking)
  *  - q135 length-bucketed batching (dynamic-batching audit)
  *  - q136 stratified proportional sample per language
  *  - q137 k-nearest-neighbor graph over embeddings
  */
object Extended5 {

  // ---------------------------------------------------------------- q130
  /** q130 — ordered conversion funnel over the event stream: a user
    * converts at stage n only with an event STRICTLY LATER than their
    * stage n−1 time and within the 24 h conversion window (min-ts
    * semantics: first view, first click in the day after that view,
    * first purchase in the day after that click — the window is what
    * makes the funnel discriminate; unbounded, every active user
    * trivially completes it). All three stages come from ONE shuffle
    * by user: t1, t2 and t3 are per-user `min(when(...))` windows (no
    * order, so each is the whole user's minimum), one aggregate per
    * user runs on the same partitioning, and one global count gives
    * the three stage sizes (150 → 60 → 25 at sf0.01). The oracle's
    * `JOIN … USING (user_id)` never matches a null user, so a null
    * user can reach "view" only; a user whose views all have a null
    * ts still reaches it, as the oracle's GROUP BY counts them. Window
    * buffers spill, so a heavy user stays memory-bounded. Timestamp
    * arithmetic is exact integer micros on both engines. */
  def q130Funnel(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    // the first `kind` event in the 24 h after `from`
    def next(kind: String, from: String): Column =
      min(when(col("user_id").isNotNull && col("event_type") === kind &&
        col("ts") > col(from) &&
        col("ts") <= col(from) + expr("INTERVAL 24 HOURS"), col("ts")))
    val users = Tables.events(spark, dir)
      .select("user_id", "event_type", "ts")
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("t2", next("click", "t1").over(byUser))
      .withColumn("t3", next("purchase", "t2").over(byUser))
      .withColumn("viewed", when(col("event_type") === "view", 1))
      .groupBy("user_id")
      .agg(max("viewed").as("viewed"), max("t2").as("t2"),
        max("t3").as("t3"))
    val n = users.agg(count("viewed").as("n1"),
      count("t2").as("n2"), count("t3").as("n3"))
    n.select(explode(array(
        Seq((1, "view", "n1"), (2, "click", "n2"), (3, "purchase", "n3"))
          .map { case (idx, name, c) =>
            struct(lit(idx).as("stage_idx"), lit(name).as("stage"),
              col(c).as("n_users"))
          }: _*)).as("s"))
      .select("s.*")
      .orderBy("stage_idx")
  }

  // ---------------------------------------------------------------- q131
  /** q131 — rolling 30-day revenue per customer: for every order, the
    * customer's order-value total over the 30 days ending at that
    * order (RANGE frame on event time in microseconds — identical
    * framing on both engines; a ROWS frame would be tie-fragile).
    * Sums accumulate in decimal (order-independent, exact) and cast to
    * double only at the end; the window partitions by customer — never
    * global. */
  def q131RollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("d_us"))
      .rangeBetween(-29L * 86400L * 1000000L, 0L)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        // o_orderdate is TIMESTAMP_NTZ; the session is pinned UTC, so
        // the cast reads the same wall-clock micros DuckDB's epoch_us
        // computes directly
        unix_micros(col("o_orderdate").cast("timestamp")).as("d_us"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .withColumn("roll30", sum("p").over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "d_us", "roll30")
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q132
  /** q132 — Kolmogorov–Smirnov drift per source: D_s = max_x |F_s(x) −
    * F(x)| between each source's `n_chars` distribution and the whole
    * corpus — the standard data-drift monitor between ingestion slices.
    * The data-sized work is two groupBy counts; the step functions are
    * then evaluated on the STATS-SIZED grid (sources × distinct
    * lengths), with per-source windows over the densified grid (the
    * corpus CDF is re-summed inside each source partition, so no
    * global window exists anywhere). The max deviation stays an exact
    * integer cross-product — |cum_s·N − cum_all·n_s| in decimal — and
    * becomes a float only in the final published division. */
  def q132KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select("source", "n_chars")
    val counts = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val totals = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val gcounts = d.groupBy("n_chars").agg(count(lit(1)).as("gc"))
    val nAll = d.agg(count(lit(1)).as("n_all"))
    val wS = Window.partitionBy("source").orderBy("n_chars")
    totals.crossJoin(broadcast(gcounts))
      .join(counts, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(nAll))
      .withColumn("cum_s", sum("c").over(wS))
      .withColumn("cum_all", sum("gc").over(wS))
      .select(col("source"), col("n_s"), col("n_all"),
        abs(col("cum_s").cast("decimal(38,0)") * col("n_all") -
          col("cum_all").cast("decimal(38,0)") * col("n_s")).as("dev"))
      .groupBy("source")
      .agg(first("n_s").as("n_s"), first("n_all").as("n_all"),
        max("dev").as("ks_num"))
      .select(col("source"),
        round(col("ks_num").cast("double") /
          (col("n_s").cast("double") * col("n_all").cast("double")), 6)
          .as("ks"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q133
  /** q133 — Gini char concentration per document: 1 − Σ_c p_c² over
    * lowercase letters = (L² − Σ cnt²)/L², the log-free twin of char
    * entropy (libm log is NOT exactly rounded and diverges across
    * engines; Gini is pure integer arithmetic until one final IEEE
    * division — bit-exact anywhere). Low Gini = one letter dominates
    * (aaaa… spam); high = diverse text. Everything is IN-ROW — 26
    * `replace` length probes, no explode, no shuffle beyond the final
    * sort. */
  def q133CharGini(spark: SparkSession, dir: String): DataFrame = {
    val letters = ('a' to 'z').map(_.toString)
    val withT = Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("t", regexp_replace(lower(col("text")), "[^a-z]", ""))
      .withColumn("n_letters", length(col("t")).cast("long"))
      .filter(col("n_letters") > 0)
    val sumSq = letters.map { c =>
      val cnt = (length(col("t")) -
        length(expr(s"replace(t, '$c', '')"))).cast("long")
      cnt * cnt
    }.reduce(_ + _)
    withT
      .select(col("doc_id"), col("n_letters"),
        round((col("n_letters") * col("n_letters") - sumSq).cast("double") /
          (col("n_letters").cast("double") * col("n_letters").cast("double")),
          6).as("gini"))
      .cachedOrderBy("doc_id")
  }

  // ---------------------------------------------------------------- q134
  /** q134 — blocked fuzzy self-join: part names within edit distance 2,
    * record-linkage style. The BLOCKING RULE IS PART OF THE CONTRACT
    * (as in any production linkage system): candidates share a 3-char
    * prefix and differ ≤ 2 in length; only candidates pay the
    * O(len²) `levenshtein` verify. A planted truncated copy of every
    * name guarantees positives. At 100 TB the block key is the shuffle
    * key and candidate count is Σ block-size² — controlled by the
    * blocking rule, never all-pairs (the brute-force form is the
    * ORACLE's job; sf keeps it affordable there). */
  def q134FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    // linkage runs on the NAME VOCABULARY, not part rows: part names
    // repeat heavily (64 distinct over 2000 rows at sf0.01), and a
    // row-level self-join would emit C(copies,2) zero-distance pairs
    // per name — quadratic in multiplicity (measured: 157k rows where
    // the vocabulary form emits 96). min(p_partkey) is each name's
    // deterministic representative id.
    val base = Tables.part(spark, dir)
      .groupBy("p_name").agg(min("p_partkey").as("id"))
      .select(col("id"), col("p_name").as("name"))
    val corpus = base.unionByName(base.select(
      (col("id") + 100000L).as("id"),
      expr("substring(name, 1, length(name) - 1)").as("name")))
    val blocked = corpus.withColumn("blk", substring(col("name"), 1, 3))
    val a = blocked.select(col("blk"), col("id").as("a_id"),
      col("name").as("a_name"))
    val b = blocked.select(col("blk"), col("id").as("b_id"),
      col("name").as("b_name"))
    a.join(b, "blk")
      .filter(col("a_id") < col("b_id") &&
        abs(length(col("a_name")) - length(col("b_name"))) <= 2)
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_name"), col("b_name")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q135
  /** q135 — length-bucketed batching: documents grouped into power-of-2
    * token-length buckets (bucket = bit length of n_tokens — an exact
    * integer `length(bin(x))`, never floor(log2) whose 1-ulp libm
    * wobble flips at exact powers of two), then packed into batches of
    * 8 in deterministic md5 order within each bucket. This is dynamic
    * batching for training: batch members have near-equal lengths so
    * padding waste is bounded by construction. Emits the per-batch
    * audit. The window partitions by bucket; batch assignment is
    * integer `div`. */
  def q135LengthBatches(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("bucket")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("n_tokens",
        regexp_count(col("text"), lit("\\S+")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", length(bin(col("n_tokens"))))
      .withColumn("rnk", row_number().over(w))
      .withColumn("batch_id", expr("(rnk - 1) div 8").cast("int"))
      .groupBy("bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("batch_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .orderBy("bucket", "batch_id")
  }

  // ---------------------------------------------------------------- q136
  /** q136 — stratified proportional sample: ⌈n_lang/5⌉ documents per
    * language (20%), selected by md5 rank within each stratum —
    * deterministic, engine-portable, stable under reshuffling (a doc's
    * rank only changes if its own stratum changes). The ceiling is
    * integer arithmetic ((n+4) div 5), never n*0.2 — a float fraction
    * so close to a boundary that 1 ulp flips the ceil would silently
    * change the sample size. Complements q126 (fixed cap) and q122
    * (PPS): this one preserves stratum PROPORTIONS.
    *
    * Rank and stratum size both come WITHOUT a lang-partitioned window
    * over documents (a ≤10-reducer scale-killer, PlanAuditSpec):
    * [[ScaleOps.shardedMd5Rank]] decomposes the rank md5-prefix-wise
    * and n_lang is a broadcast aggregate join. */
  def q136StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir)
      .select("doc_id", "lang"))

  /** Core of q136 over any (doc_id, lang) frame — cross-impl-pinned
    * by SamplingCrossImplSpec: the sharded rank must equal a plain
    * per-stratum (md5, id) rank on corpora with singleton and
    * boundary-sized strata. */
  private[graft] def stratifiedSample(d: DataFrame): DataFrame = {
    val totals = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    ScaleOps.shardedMd5Rank(d, "lang", "doc_id")
      .join(broadcast(totals), "lang")
      // `div`, not `/`: Spark's / on longs is double division and a
      // sample boundary must never be decided by a float
      .filter(col("rnk") <= expr("(n_lang + 4) div 5"))
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy("lang", "rnk")
  }

  // ---------------------------------------------------------------- q137
  /** q137 — k-nearest-neighbor graph: top-3 cosine neighbors for each
    * of the 20 lowest-id vectors — the similarity-search batch shape
    * (q26 is one query; this is the query-set form that builds KNN
    * graphs for dedup clustering and retrieval eval). The query side
    * is a bounded BROADCAST dimension; the corpus never reshuffles,
    * each (query, vector) cosine runs in the codegen'd [[
    * graft.functions.CosineSim]], and the per-query top-3 is a window
    * over the 20-partition key — at 100 TB this is the brute-force
    * rerank stage downstream of q45's IVF probe, so its plan shape
    * (broadcast + partitioned top-k, no shuffle of the fact side) is
    * exactly what the composed system runs. */
  def q137KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim_raw").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.CosineSim.cosineSim(col("e"), col("qe"))
          .as("cos_sim_raw"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(col("cos_sim_raw"), 6).as("cos_sim"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q130_funnel", q130Funnel, Some(
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1
        |    AND ts <= t1 + INTERVAL 24 HOUR GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2
        |    AND ts <= t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT 1 AS stage_idx, 'view' AS stage,
        |       (SELECT count(*) FROM t1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
        |ORDER BY stage_idx""".stripMargin)),
    Declared("q131_rolling_revenue", q131RollingRevenue, Some(
      """SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS d_us,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2505600000000 PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS roll30
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Declared("q132_ks_drift", q132KsDrift, Some(
      """WITH d AS (SELECT source, n_chars FROM documents),
        |tot AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
        |cnt AS (SELECT source, n_chars, count(*) AS c FROM d GROUP BY 1, 2),
        |g AS (SELECT n_chars, count(*) AS gc FROM d GROUP BY 1),
        |na AS (SELECT count(*) AS n_all FROM d),
        |ex AS (
        |  SELECT t.source, t.n_s, g.n_chars, g.gc, coalesce(c.c, 0) AS c
        |  FROM tot t CROSS JOIN g
        |  LEFT JOIN cnt c ON c.source = t.source AND c.n_chars = g.n_chars),
        |cum AS (
        |  SELECT source, n_s,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
        |    sum(gc) OVER (PARTITION BY source ORDER BY n_chars) AS cum_all
        |  FROM ex)
        |SELECT source,
        |  round(CAST(max(abs(CAST(cum_s AS HUGEINT) * n_all
        |                     - CAST(cum_all AS HUGEINT) * n_s)) AS DOUBLE)
        |        / (CAST(n_s AS DOUBLE) * CAST(n_all AS DOUBLE)), 6) AS ks
        |FROM cum, na GROUP BY source, n_s, n_all
        |ORDER BY source""".stripMargin)),
    Declared("q133_char_gini", q133CharGini, Some({
      val sumSq = ('a' to 'z')
        .map { c =>
          val cnt = s"CAST(length(t) - length(replace(t, '$c', '')) AS BIGINT)"
          s"($cnt * $cnt)"
        }
        .mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS t
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_letters,
         |         $sumSq AS ssq
         |  FROM d WHERE length(t) > 0)
         |SELECT doc_id, n_letters,
         |  round(CAST(n_letters * n_letters - ssq AS DOUBLE)
         |        / (CAST(n_letters AS DOUBLE) * CAST(n_letters AS DOUBLE)),
         |        6) AS gini
         |FROM s ORDER BY doc_id""".stripMargin
    })),
    Declared("q134_fuzzy_join", q134FuzzyJoin, Some(
      """WITH nm AS (
        |  SELECT min(p_partkey) AS id, p_name AS name FROM part
        |  GROUP BY p_name),
        |corpus AS (
        |  SELECT id, name FROM nm
        |  UNION ALL
        |  SELECT id + 100000,
        |         substring(name, 1, CAST(length(name) AS INT) - 1)
        |  FROM nm)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM corpus a JOIN corpus b
        |  ON substring(a.name, 1, 3) = substring(b.name, 1, 3)
        | AND a.id < b.id
        | AND abs(length(a.name) - length(b.name)) <= 2
        | AND levenshtein(a.name, b.name) <= 2
        |ORDER BY a_id, b_id""".stripMargin)),
    Declared("q135_length_batches", q135LengthBatches, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(length(bin(n_tokens)) AS INT) AS bucket,
        |         row_number() OVER (
        |           PARTITION BY length(bin(n_tokens))
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM d WHERE n_tokens > 0)
        |SELECT bucket, CAST((rnk - 1) // 8 AS INT) AS batch_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
        |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Declared("q136_stratified_sample", q136StratifiedSample, Some(
      """SELECT doc_id, lang, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT doc_id, lang,
        |    count(*) OVER (PARTITION BY lang) AS n_lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= (n_lang + 4) // 5
        |ORDER BY lang, rnk""".stripMargin)),
    Declared("q137_knn_graph", q137KnnGraph, Some(
      """WITH e AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, pos FROM e WHERE vec_id < 20),
        |d AS (
        |  SELECT q.q_id, e.vec_id, sum(e.v * q.qv) AS dp,
        |         sum(e.v * e.v) AS na, sum(q.qv * q.qv) AS nb
        |  FROM e JOIN q ON e.pos = q.pos AND e.vec_id <> q.q_id
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT q_id, vec_id AS n_id, dp / (sqrt(na) * sqrt(nb)) AS cs,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rnk
        |  FROM d)
        |SELECT q_id, n_id, round(cs, 6) AS cos_sim, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin)))
}
