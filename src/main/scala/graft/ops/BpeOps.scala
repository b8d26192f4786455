package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Declared, Layout, Pins, Tables}
import scala.collection.mutable.ArrayBuffer

/** BPE tokenizer TRAINING as a Spark job (SURVEY §7.4c: the last named
  * LLM-pipeline operator family).
  *
  * Shape for 100 TB: the corpus is touched exactly ONCE (the word-frequency
  * aggregate — a map-side-combined groupBy whose output is VOCAB-sized, not
  * corpus-sized). Every merge round after that runs over the vocab table
  * only: one explode-pairs + groupBy job whose result is reduced to a
  * SINGLE collected row (the argmax pair — the kmeansFit pattern,
  * [[graft.ops.Clustering]]: driver-held model state, bounded collects,
  * one job per round). The merge table lives on the driver (numMerges
  * rows — model-sized, not data-sized) and the evolving word-symbol table
  * stays distributed and persisted between rounds, with lineage truncated
  * via localCheckpoint every few rounds so round r's plan does not replay
  * rounds 0..r−1.
  *
  * Conventions (documented, pinned by BpeSpec):
  *  - words = portable tokenization (lower, split on [^a-z]+) — the same
  *    family every text operator here uses, so the first-round pair table
  *    is DuckDB-reproducible (q170's oracle).
  *  - no end-of-word marker symbol; pairs are counted at every adjacent
  *    position (overlaps included — "aaaa" counts (a,a) three times), the
  *    classic counting rule.
  *  - argmax tiebreak: highest count, then (l, r) lexicographic — total
  *    order, so training is deterministic on both engines.
  *  - merge application is greedy leftmost-first within each word.
  */
object BpeOps {

  /** (w, cnt): corpus word-frequency table — the single corpus-sized job. */
  private[ops] def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair counts over a (syms, cnt) symbol table: explode the
    * size−1 adjacent positions, weight by word frequency. Pure codegen
    * (no UDF) — transform/sequence/element_at — and the groupBy carries
    * only (symbol, symbol, long). */
  private[ops] def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(explode(TextOps.wordGrams(col("syms"), 2,
        ws => struct(ws(0).as("l"), ws(1).as("r")))).as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("cnt"))

  /** One greedy leftmost-first merge application over a word's symbol
    * array — the vocab-sized rewrite of [[fit]]'s round. HOISTED to a
    * single UDF taking the merge pair as (literal) columns instead of a
    * per-round closure: a closure-capturing UDF makes every round's
    * plan a NEW codegen source (janino-compiles 2 fresh stages per
    * round — measured as the dominant driver-side cost of q171, §1.1
    * empirical pass), while literal arguments land in the codegen
    * `references` array, so all rounds share ONE compiled plan shape
    * and hit the codegen cache. A UDF (vs builtins) stays acceptable
    * here — the input is the vocab table, not the corpus, and the
    * rewrite is inherently imperative (overlap semantics). */
  private val applyMergeUdf = udf {
    (syms: Seq[String], l: String, rt: String) =>
      val out = ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rt) {
          out += (l + rt); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
  }

  /** Train `numMerges` BPE merges over a corpus with a `text` column.
    * Returns the driver-assembled merge table (rank, l, r, cnt) in merge
    * order; stops early if no pair remains. */
  def fit(docs: DataFrame, numMerges: Int): DataFrame = Pins.scoped { p =>
    val spark = docs.sparkSession
    import spark.implicits._
    // the vocab table rides the merge rounds at a row-count-adaptive
    // layout (Layout, r17): cached at the corpus aggregate's
    // cores-wide shuffle layout, every round's argmax and merge
    // rewrite paid one overhead task per core regardless of vocab
    // size (measured: q171 cpu 17–27 s at 32-wide, vocab ~10⁴).
    // The count materializes the un-coalesced cache once; the grain is
    // smaller than the relational default (per-row pair explode +
    // symbol-array rewrite). The coalesced view reads that cache
    // narrowly and re-caches at the adaptive layout on round 1's
    // argmax; the parent cache is released like any other superseded
    // round's, below.
    val vocab = p.persist(wordFreq(docs)
      .select(split(col("w"), "").as("syms"), col("cnt")))
    var state = p.persist(
      vocab.coalesce(Layout.parts(vocab.count(), Layout.VectorGrain)))
    val merges = ArrayBuffer[(Int, String, String, Long)]()
    // the frame whose cache blocks the CURRENT state's lineage still
    // references — released only after a full pass over state has
    // populated state's own cache (the argmax job below), so nothing
    // ever recomputes through an unpersisted parent (r16 optimization:
    // the former eager per-round persist+count() job existed only to
    // make that release safe immediately; deferring the release one
    // round removes one vocab-sized job per round for the same safety)
    var parent = vocab
    // the latest lineage-truncating checkpoint: every later state reads
    // it until the next checkpoint is materialized
    var ckpt = Option.empty[DataFrame]
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      // this job both finds the argmax AND fully materializes state's
      // cache (the scan covers every partition)
      val top = pairCounts(state)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      p.release(parent)
      if (top.isEmpty) done = true
      else {
        val l = top(0).getString(0)
        val rt = top(0).getString(1)
        val c = top(0).getLong(2)
        merges += ((r, l, rt, c))
        val next = state.select(
          applyMergeUdf(col("syms"), lit(l), lit(rt)).as("syms"), col("cnt"))
        parent = state
        // truncate lineage periodically: without this, round r's plan
        // nests r UDF projections and analysis cost grows linearly.
        // The checkpoint is EAGER (it materializes here), so this
        // round's state cache and the previous checkpoint release
        // immediately
        state = p.persist(if ((r + 1) % 8 == 0) {
          val c = p.checkpoint(next)
          ckpt.foreach(p.release)
          ckpt = Some(c)
          p.release(parent)
          c
        } else next)
      }
      r += 1
    }
    merges.toSeq.toDF("rank", "l", "r", "cnt")
  }

  /** q170 — BPE first merge step, oracle-checked: the round-0 adjacent
    * CHARACTER-pair count table (top 20 by count desc, then pair), the
    * exact argmax input of [[fit]]'s first round. DuckDB reproduces it
    * with substr-pair extraction over the same word-frequency table. */
  def q170BpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = wordFreq(
      Tables.documents(spark, dir).select("text"))
    pairCounts(words.select(split(col("w"), "").as("syms"), col("cnt")))
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(20)
  }

  /** q171 — BPE training end-to-end: 20 merges over the documents table.
    * Rows-only in t2 (the loop composes rounds — no SQL oracle); BpeSpec
    * pins the laws (row 0 ≡ q170's argmax; exact merge table on a
    * hand-computable corpus; symbol-count bookkeeping). */
  def q171BpeTrain(spark: SparkSession, dir: String): DataFrame =
    fit(Tables.documents(spark, dir).select("text"), 20)
      .orderBy("rank")

  /** q173 — BPE encode step, oracle-checked: corpus token totals before /
    * after applying the FIRST merge (the argmax pair from q170, computed
    * in-query as a 1-row broadcast). Applying one CHARACTER-pair merge is
    * exactly leftmost non-overlapping `replace` — the same semantics in
    * Spark and DuckDB — so "token count decreases by the number of merge
    * applications" becomes a hash-compared law, not just a spec one. */
  def q173BpeEncodeStep(spark: SparkSession, dir: String): DataFrame = {
    val words = wordFreq(
      Tables.documents(spark, dir).select("text"))
    val top = pairCounts(
      words.select(split(col("w"), "").as("syms"), col("cnt")))
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
      .select(concat(col("l"), col("r")).as("pair"))
    words.crossJoin(broadcast(top))
      .select(col("cnt"), length(col("w")).cast("long").as("len"),
        expr("(length(w) - length(replace(w, pair, ''))) div 2")
          .cast("long").as("occ"))
      .agg(sum(col("cnt") * col("len")).as("tokens_before"),
        sum(col("cnt") * (col("len") - col("occ"))).as("tokens_after"),
        sum(col("cnt") * col("occ")).as("n_merged"))
  }

  val declared: Seq[Declared] = Seq(
    Declared("q170_bpe_pairs", q170BpePairs, Some(
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |words AS (SELECT w, count(*) AS cnt FROM toks WHERE w <> '' GROUP BY w),
        |pairs AS (SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, cnt
        |  FROM (SELECT w, cnt, unnest(range(1, length(w))) AS i FROM words)),
        |agg AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pairs GROUP BY l, r)
        |SELECT l, r, cnt FROM agg ORDER BY cnt DESC, l, r LIMIT 20""".stripMargin)),
    Declared("q171_bpe_train", q171BpeTrain, None), // iterative merge rounds: no SQL form
    Declared("q173_bpe_encode_step", q173BpeEncodeStep, Some(
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |words AS (SELECT w, count(*) AS cnt FROM toks WHERE w <> '' GROUP BY w),
        |pairs AS (SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, cnt
        |  FROM (SELECT w, cnt, unnest(range(1, length(w))) AS i FROM words)),
        |agg AS (SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pairs GROUP BY l, r),
        |top AS (SELECT l || r AS pair FROM agg ORDER BY cnt DESC, l, r LIMIT 1)
        |SELECT
        |  CAST(SUM(cnt * length(w)) AS BIGINT) AS tokens_before,
        |  CAST(SUM(cnt * (length(w)
        |    - (length(w) - length(replace(w, pair, ''))) // 2)) AS BIGINT) AS tokens_after,
        |  CAST(SUM(cnt * ((length(w) - length(replace(w, pair, ''))) // 2)) AS BIGINT) AS n_merged
        |FROM words, top""".stripMargin)))
}
