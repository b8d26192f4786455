package graft.ops

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q167–q169 — round-5 batch 6, every one DuckDB-oracle checked:
  *
  *  - q167 session path analysis (top event-type trigrams)
  *  - q168 retrieval eval: recall@k + rank stats on planted queries
  *  - q169 mixture cell audit (under-represented source×lang cells)
  */
object Extended9 {

  // ---------------------------------------------------------------- q167
  /** q167 — session path analysis: the 20 most common 3-step
    * event-type paths taken WITHIN a session (30-min gap rule) — the
    * product-analytics "what do users actually do" query. The triple
    * is three lags over one user-ordered window; a triple counts only
    * if all three events share a session (lagged session ids equal).
    * The top-20 cut is fully tiebroken (count desc, then the path) so
    * LIMIT is deterministic on both engines. One user-key shuffle;
    * the path aggregate is ≤ |types|³ rows. */
  def q167PathAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir).select("user_id", "event_id", "event_type", "ts")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag("us", 1).over(wU) > 1800L * 1000000L ||
          lag("us", 1).over(wU).isNull, 1L).otherwise(0L))
      .withColumn("gs", sum("new_sess").over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("e1", lag("event_type", 2).over(wU))
      .withColumn("g1", lag("gs", 2).over(wU))
      .withColumn("e2", lag("event_type", 1).over(wU))
      .withColumn("g2", lag("gs", 1).over(wU))
      .filter(col("g1") === col("gs") && col("g2") === col("gs"))
      .groupBy(col("e1"), col("e2"), col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q168
  /** q168 — retrieval evaluation: plant a scaled near-copy of every
    * vector, use the 50 lowest-id copies as queries, and score the
    * brute-force cosine ranking of each query's true twin — recall@1,
    * recall@5, and the exact mean and median twin rank. Metrics stay
    * INTEGER-exact (counts, rank sums, a rank order statistic) — MRR
    * is deliberately not emitted: Σ1/rank is an order-sensitive float
    * sum that cannot be made engine-exact. Ranks order by (cosine
    * desc, vec_id): cosine magnitudes of a planted twin (~1.0) sit
    * far above the field, so the published ranks are ulp-robust.
    * Scale: queries broadcast (bounded set), corpus never reshuffles
    * — q137's plan shape feeding an eval aggregate. */
  def q168RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val queries = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("q_id"),
        transform(col("e"), x => x * 1.01).as("qe"))
    val wQ = Window.partitionBy("q_id")
      .orderBy(col("cs").desc, col("vec_id"))
    val ranked = base.crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        graft.functions.CosineSim.cosineSim(col("e"), col("qe")).as("cs"))
      .withColumn("rnk", row_number().over(wQ))
      .filter(col("vec_id") === col("q_id") - 1000000L)
      .select(col("q_id"), col("rnk").cast("long").as("twin_rank"))
    // both eval windows are unpartitioned but run on the BOUNDED
    // query-set table (≤ 50 rows by construction — one row per planted
    // query); PlanAuditSpec whitelists q168 with this reason
    val wAll = Window.orderBy("twin_rank", "q_id")
    ranked
      .withColumn("pos", row_number().over(wAll))
      .withColumn("nq", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("twin_rank") === 1, 1L).otherwise(0L)).as("hits_at_1"),
        sum(when(col("twin_rank") <= 5, 1L).otherwise(0L)).as("hits_at_5"),
        round(sum("twin_rank").cast("double") / count(lit(1)), 6)
          .as("mean_rank"),
        min(when(col("pos") === expr("(nq + 1) div 2"),
          col("twin_rank"))).as("median_rank"))
  }

  // ---------------------------------------------------------------- q169
  /** q169 — mixture cell audit: the source×language cells occurring
    * BELOW their independence expectation (observed·N < rowTotal·
    * colTotal) with the exact representation ratio — the cell-level
    * drill-down of q163's aggregate TV distance, and the audit that
    * catches "source X somehow has no German". The comparison is an
    * exact integer cross-product; the published ratio is one rounded
    * division. Stats-sized after two counts. */
  def q169MixCells(spark: SparkSession, dir: String): DataFrame = {
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
      .filter(col("c_sl").cast("decimal(38,0)") * col("n_all") <
        col("n_s").cast("decimal(38,0)") * col("c_l"))
      .select(col("source"), col("lang"), col("c_sl"),
        round((col("c_sl").cast("decimal(38,0)") * col("n_all"))
            .cast("double") /
          (col("n_s").cast("decimal(38,0)") * col("c_l")).cast("double"), 6)
          .as("rep_ratio"))
      .orderBy("source", "lang")
  }

  // ---------------------------------------------------------------- q174
  /** q174 — SUB-document (segment-level) exact dedup, the
    * RefinedWeb/FineWeb-style pass that document-level dedup (q24) and
    * near-dup (q25) miss: boilerplate repeated ACROSS distinct
    * documents. Segmentation is deterministic 10-token chunks (the q88
    * stride idiom — the synthetic corpus has no paragraph marks; with
    * real text the splitter is the only line that changes). Keep rule:
    * a segment's globally FIRST occurrence — min over the corpus order
    * key doc_id·10⁷ + start — survives; every later copy is dropped,
    * and each document is reassembled from its surviving segments in
    * position order.
    *
    * Scale shape: the only data-sized shuffle groups 32-byte sha2
    * DIGESTS (text never travels to the dedup decision — the q24/q154
    * injectivity argument); the reassembly groupBy carries only KEPT
    * segments. A doc whose every segment already appeared elsewhere
    * vanishes entirely — same construction on both engines. The order
    * key bounds segment starts at 10⁷ per document (10⁶ tokens);
    * beyond that widen the multiplier. */
  def q174SegmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(Tables.documents(spark, dir).select("doc_id", "text"))

  /** Core of q174 over any (doc_id, text) frame — the cross-impl
    * property spec drives it with generated corpora. */
  private[graft] def segmentDedup(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z]+"), x => x =!= "")
    val segs = docs
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") >= 1L)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n") - 1L, lit(10L))).as("start"),
        col("toks"))
      .select(col("doc_id"), col("start"),
        concat_ws(" ", slice(col("toks"), col("start") + 1L, lit(10)))
          .as("seg_text"))
      .withColumn("okey", col("doc_id") * 10000000L + col("start"))
      .withColumn("h", sha2(col("seg_text"), 256))
    // per-digest min as a WINDOW, not an aggregate+self-join: one shuffle
    // on the high-cardinality digest key, one scan+tokenize of documents
    // (the join form read and tokenized the corpus twice — plan-audited)
    val wH = Window.partitionBy("h")
    segs.withColumn("first_key", min("okey").over(wH))
      .filter(col("okey") === col("first_key"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("start"), col("seg_text")))),
          x => x.getField("seg_text"))).as("text_kept"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q182
  /** q182 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * algorithm A-ES, IPL 2006): item i gets key uᵢ^(1/wᵢ) with uᵢ
    * uniform in (0,1); the k largest keys are an exact without-
    * replacement draw with first-draw probabilities ∝ w. Computed in
    * the numerically stable log form ln(u)/w (monotone in the key, no
    * underflow for tiny u^(1/w)). u is DETERMINISTIC pseudo-randomness
    * — a bit-mix of (seed, id) via xxhash64 — so the draw is
    * reproducible; complements q122 (PPS systematic, fixed skip) and
    * q136/q166 (rank-based quotas) with the replacement-free
    * probabilistic draw an epoch sampler wants. Rows-only in t2 BY
    * DESIGN: ln/pow keys are not cross-engine bit-exact, and a
    * float-boundary oracle would mask divergence (SURVEY §7.4d; the
    * round-2 decimal lesson). AesSamplingSpec pins the laws instead:
    * inclusion frequency of a planted heavy item across seeds,
    * light-item symmetry, exact-k distinctness, determinism.
    *
    * Scale: the key is one narrow map over the corpus; the top-k is
    * TakeOrderedAndProject — per-partition k-heads merged on the
    * driver, k-sized state, no global sort, no window. */
  def q182WeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleWithoutReplacement(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          greatest(length(col("text")), lit(1)).cast("double").as("w")),
      "doc_id", "w", k = 100, seed = 42L)
      .select(col("doc_id"), col("w").cast("long").as("weight"))
      .orderBy("doc_id")

  /** The A-ES core: top-`k` rows of `df` by ln(u)/w key, u =
    * xxhash64(seed, id) mapped to (0,1) with a 2⁻⁶⁴ floor (keeps ln
    * finite on the one all-zero hash). Ties (measure-zero) break by id
    * so the draw is a total order. */
  private[graft] def weightedSampleWithoutReplacement(df: DataFrame,
      idCol: String, wCol: String, k: Int, seed: Long): DataFrame = {
    val u = greatest(
      xxhash64(lit(seed), col(idCol)).cast("double")
        / 1.8446744073709552e19 + 0.5,
      lit(5.421010862427522e-20))
    df.withColumn("__aes_key", log(u) / col(wCol))
      .orderBy(col("__aes_key").desc, col(idCol))
      .limit(k)
      .drop("__aes_key")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q167_path_analysis", q167PathAnalysis, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
        |       OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (
        |  SELECT user_id, event_id, event_type, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gs
        |  FROM s),
        |t AS (
        |  SELECT lag(event_type, 2) OVER w AS e1,
        |         lag(gs, 2) OVER w AS g1,
        |         lag(event_type, 1) OVER w AS e2,
        |         lag(gs, 1) OVER w AS g2,
        |         event_type AS e3, gs
        |  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT e1, e2, e3, count(*) AS n
        |FROM t WHERE g1 = gs AND g2 = gs
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin)),
    Declared("q168_retrieval_eval", q168RetrievalEval, Some(
      """WITH q AS (
        |  SELECT vec_id + 1000000 AS q_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01)
        |      AS qe
        |  FROM embeddings WHERE vec_id < 50),
        |qe AS (
        |  SELECT q_id, unnest(qe) AS qv,
        |         generate_subscripts(qe, 1) AS pos FROM q),
        |ce AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |d AS (
        |  SELECT qe.q_id, ce.vec_id, sum(ce.v * qe.qv) AS dp,
        |         sum(ce.v * ce.v) AS na, sum(qe.qv * qe.qv) AS nb
        |  FROM ce JOIN qe USING (pos) GROUP BY 1, 2),
        |r AS (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rnk
        |  FROM d),
        |tw AS (
        |  SELECT q_id, CAST(rnk AS BIGINT) AS twin_rank
        |  FROM r WHERE vec_id = q_id - 1000000),
        |p AS (
        |  SELECT q_id, twin_rank,
        |    row_number() OVER (ORDER BY twin_rank, q_id) AS pos,
        |    count(*) OVER () AS nq
        |  FROM tw)
        |SELECT count(*) AS n_queries,
        |  CAST(sum(CASE WHEN twin_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits_at_1,
        |  CAST(sum(CASE WHEN twin_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hits_at_5,
        |  round(CAST(sum(twin_rank) AS DOUBLE) / count(*), 6) AS mean_rank,
        |  min(CASE WHEN pos = (nq + 1) // 2 THEN twin_rank END)
        |    AS median_rank
        |FROM p""".stripMargin)),
    Declared("q169_mix_cells", q169MixCells, Some(
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
        |SELECT source, lang, CAST(c_sl AS BIGINT) AS c_sl,
        |  round(CAST(CAST(c_sl AS HUGEINT) * n_all AS DOUBLE) /
        |        CAST(CAST(n_s AS HUGEINT) * c_l AS DOUBLE), 6)
        |    AS rep_ratio
        |FROM ex, na
        |WHERE CAST(c_sl AS HUGEINT) * n_all < CAST(n_s AS HUGEINT) * c_l
        |ORDER BY source, lang""".stripMargin)),
    // groups by seg_text where Spark groups by sha2(seg_text) — identical
    // results by digest injectivity (the q24/q154 argument)
    Declared("q174_segment_dedup", q174SegmentDedup, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |seg AS (SELECT doc_id, unnest(range(0, n, 10)) AS start, toks FROM s),
        |sx AS (SELECT doc_id, start,
        |    array_to_string(list_slice(toks, start + 1, start + 10), ' ')
        |      AS seg_text,
        |    doc_id * 10000000 + start AS okey FROM seg),
        |f AS (SELECT seg_text, min(okey) AS first_key
        |  FROM sx GROUP BY seg_text),
        |kept AS (SELECT sx.doc_id, sx.start, sx.seg_text
        |  FROM sx JOIN f ON sx.seg_text = f.seg_text AND sx.okey = f.first_key)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(seg_text, ' ' ORDER BY start) AS text_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Declared("q182_weighted_sample", q182WeightedSample, None)) // float sketch: ln(u)/w keys
}
