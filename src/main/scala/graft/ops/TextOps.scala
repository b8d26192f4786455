package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q24 + q27 + q34–q37: text-analysis operators for a training-data
  * pipeline — exact dedup, token statistics, language-ID, quality scoring,
  * and content fingerprinting — all over the `documents` table.
  *
  * Everything here is built from codegen'd string expressions (no UDFs):
  * at 100 TB these run inside WholeStageCodegen directly over the parquet
  * scan, shuffling only the (tiny) aggregated results. Regex patterns are
  * restricted to character-class syntax that behaves identically under
  * Java regex (Spark) and RE2 (DuckDB oracle).
  */
object TextOps {

  /** The engine's one word contract: lowercase, split on runs of
    * non-letters, drop empties. Digits and non-ASCII letters split
    * words like punctuation does ("Café9x" → [caf, x]); null text gives
    * a null array, so a caller that wants [] for it passes
    * `coalesce(text, "")`. Mirrored verbatim in every oracle as
    * `list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')`
    * (Java's and RE2's splits agree on this class). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), x => x =!= "")

  /** The (doc_id, t, n) token base of a (doc_id, text) frame: the token
    * array of `text` and its length as a long. */
  def tokenBase(docs: DataFrame, text: Column): DataFrame =
    docs.select(col("doc_id"), tokens(text).as("t"))
      .withColumn("n", size(col("t")).cast("long"))

  /** The word n-grams of token array `t`, in order: `combine` of the n
    * words starting at each position 1 … size(t) − n + 1. The caller
    * keeps rows with size(t) ≥ n first: on a shorter array the
    * position sequence counts down instead of being empty. */
  def wordGrams(t: Column, n: Int, combine: Seq[Column] => Column): Column =
    transform(sequence(lit(1), size(t) - (n - 1)), i =>
      combine(element_at(t, i) +: (1 until n).map(k => element_at(t, i + k))))

  /** `combine` for [[wordGrams]]: the gram as one space-joined string. */
  val joined: Seq[Column] => Column = ws => concat_ws(" ", ws: _*)

  /** `combine` for word bigrams: a struct (w1, w2). */
  val pair: Seq[Column] => Column =
    ws => struct(ws(0).as("w1"), ws(1).as("w2"))

  /** (doc_id, g): each document's DISTINCT word n-grams as space-joined
    * strings, one row per gram; docs with fewer than n words give none. */
  def gramRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("t"), n, joined))).as("g"))

  /** (doc_id, g) over a [[tokenBase]]: the md5 hex digest of every
    * n-token window, one row per window (q99's decontamination
    * shingles; only digests ever shuffle, never text). */
  def windowDigests(base: DataFrame, n: Int): DataFrame =
    base.filter(col("n") >= n.toLong)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("n") - (n - 1).toLong),
          i => md5(concat_ws(" ", slice(col("t"), i.cast("int"), lit(n))))))
          .as("g"))

  /** q24 — exact deduplication: group by sha2(text) keeping the smallest
    * doc_id as the canonical representative. The hash-groupBy shuffles
    * 32-byte digests, not documents — the scale-correct exact-dedup shape
    * (the full text never leaves the scan stage). */
  def q24DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "text_hash", "n_copies")
      .orderBy("keep_id")

  /** q27 — wordcount top-k: lowercase, split on non-letters, explode,
    * count, keep the global top 20 (count desc, token asc tiebreak).
    * Partial aggregation collapses each partition to its distinct tokens
    * before the shuffle; the final top-k is TakeOrderedAndProject. */
  def q27WordcountTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("text")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** Occurrences of literal `marker` in `padded` — the classic
    * length-difference trick; identical left-to-right non-overlapping
    * semantics in Spark's and DuckDB's replace(). */
  private def occ(padded: Column, marker: String): Column =
    ((length(padded) - length(expr(s"replace(padded, '$marker', '')")))
      / marker.length).cast("int")

  /** q34 — language identification: count language-marker function words
    * (n-gram heuristic) and take the argmax with a fixed priority
    * tiebreak (en > es > fr > de). Deterministic by construction; the
    * testdata text is synthetic, so this checks the machinery, not NLP
    * accuracy. One projection, no shuffle before the final sort. */
  def q34LangId(spark: SparkSession, dir: String): DataFrame = {
    val c_en = (occ(col("padded"), " the ") + occ(col("padded"), " and ")).as("c_en")
    val c_es = (occ(col("padded"), " el ") + occ(col("padded"), " y ")).as("c_es")
    val c_fr = (occ(col("padded"), " le ") + occ(col("padded"), " et ")).as("c_fr")
    val c_de = (occ(col("padded"), " der ") + occ(col("padded"), " und ")).as("c_de")
    Tables.documents(spark, dir).select("doc_id", "lang", "text")
      .withColumn("padded", padded)
      .select(col("doc_id"), col("lang").as("labeled"), c_en, c_es, c_fr, c_de)
      .withColumn("predicted",
        when(col("c_en") >= col("c_es") && col("c_en") >= col("c_fr")
          && col("c_en") >= col("c_de"), "en")
          .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_de"), "es")
          .when(col("c_fr") >= col("c_de"), "fr")
          .otherwise("de"))
      .cachedOrderBy("doc_id")
  }

  private val stopwords = Seq(" the ", " a ", " of ", " and ", " to ")

  // q35's signals, each one expression over `text` or `padded`; q34,
  // q35, the quality score, the stopword ratio, q176's features and
  // CorpusPipeline read these
  /** ' ' || lower(text) || ' ': word-boundary padding for [[occ]]. */
  private[graft] val padded: Column =
    concat(lit(" "), lower(col("text")), lit(" "))
  /** Characters that are neither ASCII letters, digits nor whitespace. */
  private[ops] val nPunct: Column =
    length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
  /** ASCII uppercase letters. */
  private[ops] val nUpper: Column =
    length(regexp_replace(col("text"), "[^A-Z]", ""))
  /** Runs of ASCII letters, at least 1 so it can divide. */
  private[ops] val nWords: Column =
    greatest(regexp_count(col("text"), lit("[a-zA-Z]+")), lit(1))
  /** Stopword occurrences in `padded`. */
  private val nStop: Column = stopwords.map(occ(col("padded"), _)).reduce(_ + _)

  /** Stopword density (q35's signal) as a reusable expression; expects
    * `text` and `padded`. */
  def stopwordRatio: Column = nStop.cast("double") / nWords

  /** The q35 composite quality score as a reusable expression; expects
    * the frame to carry `text`, `n_chars`, and `padded`. Used by q35,
    * q176's label and CorpusPipeline. */
  def qualityScore: Column =
    round(
      least(nWords, lit(100)).cast("double") / 100
        + nStop.cast("double") / nWords
        - nPunct.cast("double") / col("n_chars"), 6)

  /** q35 — quality scoring: length, punctuation/uppercase character
    * ratios, stopword density, and a composite score — the standard
    * cheap pre-filter before expensive LLM-data processing. All ratios
    * are single IEEE divisions of exact integer counts (deterministic),
    * rounded to 6 decimals. */
  def q35QualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "n_chars", "text")
      .withColumn("padded", padded)
      .select(
        col("doc_id"),
        col("n_chars"),
        nWords.as("n_tokens"),
        round(nPunct.cast("double") / col("n_chars"), 6).as("punct_ratio"),
        round(nUpper.cast("double") / col("n_chars"), 6).as("upper_ratio"),
        round(stopwordRatio, 6).as("stopword_ratio"),
        qualityScore.as("quality_score"))
      .cachedOrderBy("doc_id")

  /** q36 — token counting: whitespace tokens, a BPE-style pre-tokenizer
    * count (letter runs / single digits / single punctuation — the shape
    * of GPT-2's pretokenization), and the chars/4 estimate. */
  def q36TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "n_chars", "text")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"))
          .as("bpe_ish_tokens"),
        ceil(col("n_chars") / 4.0).cast("int").as("est_tokens"))
      .cachedOrderBy("doc_id")

  /** q37 — document fingerprinting: whitespace-normalized content hash
    * (the dedup-join key used by pipeline stages downstream) plus a
    * 64-bit-prefix short form. */
  def q37Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(spark, dir).select("doc_id", "text")
      .select(
        col("doc_id"),
        sha2(norm, 256).as("fp_hex"),
        substring(sha2(norm, 256), 1, 16).as("fp64"),
        length(norm).as("norm_len"))
      // NOT cachedOrderBy: hex digests are incompressible strings —
      // building the columnar cache measured 3× SLOWER than letting the
      // sort's sampling pass recompute the sha2 (1000×: 95.5 vs 30.5 s)
      .orderBy("doc_id")
  }

  /** q47 — deterministic stratified sampling: the first 4 hex chars of
    * md5(doc_id-as-string) mod 100 bucket each row reproducibly (no
    * rand() state, stable across runs, retries, cluster sizes AND
    * engines — md5-of-UTF-8 is the q72/q94 portable-hash pattern, so
    * this query is DuckDB-oracle-checked; the round-3 xxhash64 bucket
    * was Spark-specific and rows-only). Per-language rates via a
    * literal map. At 100 TB this is a pure narrow filter on the scan —
    * no shuffle, no sampling pass. */
  def q47HashSample(spark: SparkSession, dir: String): DataFrame =
    hashSample(Tables.documents(spark, dir))

  /** Core of q47 over any (doc_id, lang) frame — SamplingCrossImplSpec
    * drives it with generated corpora (rate-map misses, skewed langs)
    * against an independent driver-side reimplementation. */
  private[graft] def hashSample(docs: DataFrame): DataFrame = {
    val rates = map(
      lit("en"), lit(50), lit("es"), lit(30),
      lit("fr"), lit(30), lit("de"), lit(30))
    val h = md5(col("doc_id").cast("string").cast("binary"))
    docs
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(h, 1, 4), 16, 10).cast("int"), lit(100))
          .as("bucket"))
      .filter(col("bucket") < coalesce(element_at(rates, col("lang")), lit(10)))
      .cachedOrderBy("doc_id")
  }

  // --------------------------------------------------------------- q184
  /** q184 — collocation mining by association LIFT: the top bigrams of
    * the corpus by frequency, each scored with
    * lift = P(w1 w2) / (P(w1)·P(w2)) = (c_xy·U·U) / (B·c_x·c_y) —
    * the phrase-mining signal a tokenizer/vocab pipeline ranks merge
    * candidates with (PMI is ln(lift); ln is deliberately NOT taken:
    * cross-engine ln() is not bit-reproducible, while lift is integer
    * products and ONE double division, so the whole query stays
    * hash-exact). Ordering and the top-100 cut are decided by the
    * INTEGER key (c_xy desc, w1, w2) — the float never decides a
    * boundary (the q136/q166 rule); lift is published decoration,
    * rounded to 6.
    *
    * Scale: bigrams explode in-row from the token array (corpus-scan
    * sized, no shuffle), collapse via map-side partial counts; the
    * unigram table is vocab-sized, so its two joins broadcast; U and B
    * are 1-row aggregates cross-joined broadcast. Top-100 is
    * TakeOrderedAndProject — k-sized state, no global sort. uni/bi are
    * persisted because each feeds both a total and a join (the q164
    * lesson: an unpersisted frame referenced twice re-evaluates the
    * corpus scan per reference). */
  def q184CollocationLift(spark: SparkSession, dir: String): DataFrame =
    collocationLift(Tables.documents(spark, dir).select("text"))

  /** Core of q184 over any (text) frame — the cross-impl property
    * spec drives it with generated corpora. */
  private[graft] def collocationLift(docs: DataFrame): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).persist()
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(wordGrams(col("t"), 2, pair)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy")).persist()
    val u = uni.agg(sum("c").as("uu"))
    val btot = bi.agg(sum("c_xy").as("bb"))
    bi.filter(col("c_xy") >= 3)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(u)).crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("c_xy"),
        round((col("c_xy").cast("double") * col("uu") * col("uu"))
          / (col("bb").cast("double") * col("c_x") * col("c_y")), 6)
          .as("lift"))
      .orderBy(col("c_xy").desc, col("w1"), col("w2"))
      .limit(100)
  }

  private val q184Oracle: String =
    // mirrors the Spark plan step for step; the lift expression keeps
    // the SAME association order (numerator product, denominator
    // product, one division) so every IEEE operation is identical.
    // DuckDB's sum(BIGINT) is HUGEINT — harmless here because uu/bb
    // only ever appear inside double arithmetic.
    """WITH toks AS (SELECT
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      x -> x <> '') AS t FROM documents),
      |uni AS (SELECT w, count(*) AS c FROM (
      |    SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
      |  FROM toks WHERE len(t) >= 2),
      |bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_xy
      |  FROM bg GROUP BY 1, 2),
      |u AS (SELECT sum(c) AS uu FROM uni),
      |btot AS (SELECT sum(c_xy) AS bb FROM bi)
      |SELECT bi.w1, bi.w2, bi.c_xy,
      |  round((bi.c_xy::DOUBLE * u.uu * u.uu)
      |        / (btot.bb::DOUBLE * ux.c * uy.c), 6) AS lift
      |FROM bi
      |JOIN uni ux ON ux.w = bi.w1
      |JOIN uni uy ON uy.w = bi.w2
      |CROSS JOIN u CROSS JOIN btot
      |WHERE bi.c_xy >= 3
      |ORDER BY bi.c_xy DESC, bi.w1, bi.w2 LIMIT 100""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q184_collocation_lift", q184CollocationLift, Some(q184Oracle)),
    Declared("q47_hash_sample", q47HashSample, Some(
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |         AS INTEGER) % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 30
        |                         WHEN 'fr' THEN 30 WHEN 'de' THEN 30
        |                         ELSE 10 END
        |ORDER BY doc_id""".stripMargin)),
    Declared("q24_dedup_exact", q24DedupExact, Some(
      """SELECT min(doc_id) AS keep_id, sha256(text) AS text_hash,
        |       count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin)),
    Declared("q27_wordcount_topk", q27WordcountTopK, Some(
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        |  FROM documents)
        |WHERE token <> '' GROUP BY token
        |ORDER BY n DESC, token LIMIT 20""".stripMargin)),
    Declared("q34_langid", q34LangId, Some(
      """WITH t AS (SELECT doc_id, lang AS labeled,
        |    ' ' || lower(text) || ' ' AS padded FROM documents),
        |c AS (SELECT doc_id, labeled,
        |  CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
        |     + (length(padded) - length(replace(padded, ' and ', ''))) / 5 AS INT) AS c_en,
        |  CAST((length(padded) - length(replace(padded, ' el ', ''))) / 4
        |     + (length(padded) - length(replace(padded, ' y ', ''))) / 3 AS INT) AS c_es,
        |  CAST((length(padded) - length(replace(padded, ' le ', ''))) / 4
        |     + (length(padded) - length(replace(padded, ' et ', ''))) / 4 AS INT) AS c_fr,
        |  CAST((length(padded) - length(replace(padded, ' der ', ''))) / 5
        |     + (length(padded) - length(replace(padded, ' und ', ''))) / 5 AS INT) AS c_de
        |FROM t)
        |SELECT doc_id, labeled, c_en, c_es, c_fr, c_de,
        |  CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
        |       WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
        |       WHEN c_fr >= c_de THEN 'fr'
        |       ELSE 'de' END AS predicted
        |FROM c ORDER BY doc_id""".stripMargin)),
    Declared("q35_quality_score", q35QualityScore, Some(
      """WITH t AS (SELECT doc_id, n_chars, text,
        |    ' ' || lower(text) || ' ' AS padded FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
        |  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
        |  greatest(len(regexp_extract_all(text, '[a-zA-Z]+')), 1) AS n_tokens,
        |  CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
        |     + (length(padded) - length(replace(padded, ' a ', ''))) / 3
        |     + (length(padded) - length(replace(padded, ' of ', ''))) / 4
        |     + (length(padded) - length(replace(padded, ' and ', ''))) / 5
        |     + (length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT) AS n_stop
        |FROM t)
        |SELECT doc_id, n_chars, CAST(n_tokens AS INT) AS n_tokens,
        |  round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        |  round(CAST(n_upper AS DOUBLE) / n_chars, 6) AS upper_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        |  round(CAST(least(n_tokens, 100) AS DOUBLE) / 100
        |      + CAST(n_stop AS DOUBLE) / n_tokens
        |      - CAST(n_punct AS DOUBLE) / n_chars, 6) AS quality_score
        |FROM c ORDER BY doc_id""".stripMargin)),
    Declared("q36_token_count", q36TokenCount, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS INT)
        |    AS bpe_ish_tokens,
        |  CAST(ceil(n_chars / 4.0) AS INT) AS est_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Declared("q37_fingerprint", q37Fingerprint, Some(
      """WITH t AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, sha256(norm) AS fp_hex,
        |       substring(sha256(norm), 1, 16) AS fp64,
        |       CAST(length(norm) AS INT) AS norm_len
        |FROM t ORDER BY doc_id""".stripMargin)))
}
