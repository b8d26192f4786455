package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

import graft.{Declared, Layout, Pins, Tables}

/** q202 — exact substring (span) deduplication: the Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better"
  * ExactSubstr operator, re-expressed for Spark. Their suffix-array
  * formulation finds every L-token window that occurs more than once
  * in the corpus and removes ALL its occurrences (the released
  * deduplicate-text-datasets implementation drops every copy, not
  * all-but-one — we match that, and document it as the contract);
  * a suffix array is a single-machine artifact, so the Spark-first
  * equivalent is the rolling-window digest join: every document emits
  * its L-token span hashes WITH their start positions, a digest-keyed
  * count finds spans occurring ≥ 2× corpus-wide (within- or cross-
  * document — the suffix array does not distinguish either), and the
  * duplicated occurrences fold back into per-document covered-position
  * sets that drive both the accounting and the rewrite.
  *
  * Differs from q99 (decontamination) in kind, not just parameters:
  * q99 matches documents against a FOREIGN benchmark set and only
  * counts hits; q202 matches the corpus against ITSELF (self-duplication
  * with multiplicity) and performs the removal — the interval union of
  * duplicated spans and the reconstruction of the surviving text.
  *
  * Output per document: `n_tokens`, `dup_spans` (this document's span
  * occurrences that are duplicated corpus-wide), `covered_tokens`
  * (size of the union of their L-token extents), and `kept_text` (the
  * document with every covered token removed — the training corpus
  * the operator would actually ship). All-integer + exact-string
  * columns → full DuckDB oracle.
  *
  * Scale (100 TB): span hashing is ONE in-row pass (the text column
  * never shuffles — only 16-byte digests + (doc_id, pos) longs leave
  * the scan); the digest frame is persisted once and feeds both the
  * duplicate count (partial-agg'd groupBy — hot spans combine
  * map-side, unlike a window-over-g shape which would buffer a viral
  * span's entire occurrence list in one partition) and the occurrence
  * join (AQE skew-join eligible; the dup-digest side is
  * count-reduced first). The per-document covered-position union is
  * built IN-ROW by one aggregation (array_distinct over concatenated
  * L-token extents — bounded by document length, the q88 chunk-array
  * class), so duplicate accounting costs exactly one doc_id shuffle
  * of the duplicated occurrences. The final assembly left-joins that
  * one stats frame back to the base scan on doc_id; only documents
  * carrying duplicated spans appear on the right side, so AQE
  * broadcasts it in the common low-dup regime
  * and degrades to one doc_id co-partition under heavy duplication —
  * the rewrite is inherently a text-moving op at that point.
  * (Verified: q202 plan shows the text scan exactly twice — digest
  * pass + assembly — and `PushedFilters` on both.)
  *
  * q203 is the operator's maintenance lifecycle (the q153/q200 shape):
  * dedup an arriving BATCH against the standing corpus's stored span-
  * digest index without ever rescanning or self-joining the corpus —
  * see [[spanDedupVsStore]].
  */
object SpanOps {

  /** Span length in tokens. 8 matches q99's shingle width; Lee et al.
    * use 50 BPE tokens on web corpora — with the testdata's ~30–70
    * token documents, 8 keeps the operator exercised (the sf0.01 grid
    * carries ~1k genuinely duplicated 8-token spans). */
  private val L = 8

  /** Tokenized base frame (doc_id, t, n). Null text coalesces to ""
    * so a null row yields (n=0, kept_text="") exactly like the
    * oracle's coalesce — without it, array_join over null tokens would
    * emit null kept_text and silently diverge. */
  private[graft] def tokenBase(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(coalesce(col("text"), lit(""))),
      "[^a-z]+"), x => x =!= "")
    docs.select(col("doc_id"), toks.as("t"))
      .withColumn("n", size(col("t")).cast("long"))
  }

  /** (doc_id, p, g): token-start position (1-based) + span digest.
    * One in-row pass; md5 keeps the dup definition engine-portable
    * (q99), and unhex packs it to the TRUE 16 bytes — the digest is
    * the operator's dominant shuffled/persisted column, and the
    * 32-char hex form would double it (the oracle never sees digests,
    * only their equivalence classes, so SQL parity is untouched). */
  private[graft] def spanFrame(base: DataFrame): DataFrame =
    base.filter(col("n") >= L)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1L), col("n") - (L - 1)),
          i => unhex(md5(concat_ws(" ",
            slice(col("t"), i.cast("int"), lit(L))))))))
      .select(col("doc_id"), (col("pos") + 1L).cast("long").as("p"),
        col("col").as("g"))

  /** Shared tail: fold duplicated occurrences (doc_id, p) back into
    * per-document accounting + the rewrite. ONE per-doc aggregation
    * carries both the occurrence count and the covered-position
    * union — the union is built in-row (array_distinct over the
    * concatenated L-token extents, bounded by document length), so no
    * per-position distinct shuffle and no second pass over the
    * occurrence join. */
  private def assemble(base: DataFrame, occ: DataFrame): DataFrame = {
    val docAgg = occ.groupBy("doc_id").agg(
      count(lit(1)).as("dup_spans"),
      array_distinct(flatten(collect_list(
        sequence(col("p"), col("p") + (L - 1))))).as("cps"))
      .withColumn("covered_tokens", size(col("cps")).cast("long"))
    base
      .join(docAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        // rewrite: drop every covered token, keep original order. The
        // null-guard matters — array_contains(null, _) is null and a
        // null lambda result would silently drop every token.
        when(col("cps").isNull, array_join(col("t"), " "))
          .otherwise(array_join(filter(col("t"), (_, i) =>
            not(array_contains(col("cps"),
              (i + lit(1)).cast("long")))), " "))
          .as("kept_text"))
      // NOT cachedOrderBy (the Out.scala criterion): the output carries
      // the full rewritten corpus — long-string columns cache worse
      // than the sampling pass's recompute of the assembly tail (the
      // q62 redacted-corpus precedent, 1.4× at 1000×). The sampled
      // chain replays tokenize + kept-filter from the scan, never the
      // digest pass (cached)
      .orderBy("doc_id")
  }

  /** Core over any (doc_id, text) frame — the cross-impl spec drives
    * it with planted corpora. */
  private[graft] def spanDedup(docs: DataFrame): DataFrame = {
    val base = tokenBase(docs)
    val spans = spanFrame(base)
      .persist() // digests only; both consumers below (harness unpersists)
    // duplicated = occurs ≥2× corpus-wide (same doc or not — the
    // suffix-array contract). Partial-agg'd groupBy: a viral span
    // combines map-side instead of flooding one partition.
    val dupg = spans.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2L).select("g")
    assemble(base, spans.join(dupg, "g").select(col("doc_id"), col("p")))
  }

  /** q204's core — the keep-FIRST policy variant of [[spanDedup]]:
    * production pipelines usually retain one occurrence of each
    * duplicated span rather than dropping all of them (the q174
    * segment-dedup decision shape applied at span granularity). The
    * keeper is the occurrence with the minimum corpus-order key
    * (doc_id, p) — deterministic, engine-portable — and only the
    * REMAINING occurrences are dropped. Per duplicated digest the
    * q202 occurrence set therefore partitions exactly into
    * {1 keeper} ∪ {this operator's dropped set} (SpanSpec pins the
    * law). Same all-integer + exact-string output → full DuckDB
    * oracle.
    *
    * Scale: identical shape to [[spanDedup]] — the keeper is a
    * partial-agg'd min(struct(doc_id, p)) computed IN the same
    * digest groupBy as the count (a window over g would buffer a
    * viral span's whole occurrence list in one partition; the
    * min-aggregate combines map-side), and dropping the keeper is a
    * row-local struct comparison after the occurrence join. */
  private[graft] def spanDedupKeepFirst(docs: DataFrame): DataFrame = {
    val base = tokenBase(docs)
    val spans = spanFrame(base)
      .persist() // digests only; both consumers below (harness unpersists)
    val keep = spans.groupBy("g").agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("p"))).as("k"))
      .filter(col("c") >= 2L).select("g", "k")
    val occ = spans.join(keep, "g")
      .filter(struct(col("doc_id"), col("p")) =!= col("k"))
      .select("doc_id", "p")
    assemble(base, occ)
  }

  /** q203's core — incremental exact-substring dedup of a BATCH against
    * a stored span-digest index (the q153/q200 maintenance shape
    * applied to q202): a batch span is duplicated iff its digest is in
    * the store OR it occurs ≥ 2× within the batch. This equals q202
    * run on store ∪ batch and restricted to the batch's documents
    * (store_count + batch_count ≥ 2 ⇔ store-hit ∨ batch-internal
    * pair) — SpanSpec pins the equivalence bit-for-bit. The store is
    * NEVER rescanned, rewritten, or self-joined: probe work is
    * ∝ batch spans + one digest semi-join. `storeDigests` is the
    * distinct digest SET — the artifact a production pipeline persists
    * once per corpus generation (bucketed by digest, the ScaleOps
    * bucketed-state shape, the semi-join needs no store-side
    * shuffle). The batch-sized digest cache (three consumers) is
    * acquired through `p`. */
  private[graft] def spanDedupVsStore(p: Pins, batch: DataFrame,
      storeDigests: DataFrame): DataFrame = {
    val base = tokenBase(batch)
    val spans = p.persist(spanFrame(base))
    val withinBatch = spans.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2L).select("g")
    // store hits: distinct-reduce the batch side BEFORE the semi-join
    // so the probe carries each digest once, then union the
    // batch-internal dups (both digest-only frames)
    val inStore = spans.select("g").distinct()
      .join(storeDigests.select("g"), Seq("g"), "left_semi")
    val dupg = inStore.union(withinBatch).distinct()
    assemble(base, spans.join(dupg, "g").select(col("doc_id"), col("p")))
  }

  /** The stored artifact: the distinct span-digest set of a corpus. */
  private[graft] def spanIndex(docs: DataFrame): DataFrame =
    spanFrame(tokenBase(docs)).select("g").distinct()

  /** q205's store artifact — the KEYED span index: per digest, the
    * minimum corpus-order occurrence key (doc_id, p). The all-
    * occurrence policy (q203) only needs digest MEMBERSHIP; keep-first
    * additionally needs "who was first", because a batch occurrence
    * survives iff it precedes everything else with its digest. One
    * partial-agg'd groupBy — same shape as q204's keeper aggregate. */
  private[graft] def spanIndexKeyed(docs: DataFrame): DataFrame =
    spanFrame(tokenBase(docs)).groupBy("g")
      .agg(min(struct(col("doc_id"), col("p"))).as("k"))

  /** q205's core — incremental KEEP-FIRST span dedup of a batch against
    * the keyed store: a batch occurrence o of digest g drops iff
    *   g ∈ store and o is not strictly the earliest (o = batch keeper
    *     AND batch keeper < store key), or
    *   g ∉ store and g occurs ≥ 2× within the batch and o isn't the
    *     batch keeper
    * — which is EXACTLY q204 over store ∪ batch restricted to the
    * batch's documents (the global keeper is min(store key, batch
    * keeper); SpanSpec pins the equivalence bit-for-bit on the LCG
    * corpus). Store handling is merge-on-read, the LSM posture: the
    * stored table may carry MULTIPLE rows per digest (blind appends),
    * so the probe semi-reduces the store to the batch's digests FIRST
    * (∝ batch) and takes min(k) over whatever versions exist —
    * correctness is independent of compaction state.
    * Work ∝ batch spans + one digest semi-join; the store is never
    * rescanned beyond the semi-join, never rewritten. */
  private[graft] def spanDedupKeepFirstVsStore(batch: DataFrame,
      storeKeyed: DataFrame): DataFrame = {
    val base = tokenBase(batch)
    val spans = spanFrame(base)
      .persist() // batch-sized digests; three consumers (harness unpersists)
    val agg = spans.groupBy("g").agg(count(lit(1)).as("c"),
      min(struct(col("doc_id"), col("p"))).as("bk"))
    val storeMin = storeKeyed.select(col("g"), col("k"))
      .join(spans.select("g").distinct(), Seq("g"), "left_semi")
      .groupBy("g").agg(min(col("k")).as("sk"))
    // only digests that can drop anything survive into the occurrence
    // join (store-hit OR batch-internal pair) — the common clean span
    // then drops AT the join (small build side, broadcastable) instead
    // of carrying its dec row into the filter
    val dec = agg.join(storeMin, Seq("g"), "left")
      .filter(col("sk").isNotNull || col("c") >= 2L)
    val o = struct(col("doc_id"), col("p"))
    val occ = spans.join(dec, "g")
      .filter(
        (col("sk").isNotNull &&
          not(o === col("bk") && col("bk") < col("sk"))) ||
        (col("sk").isNull && col("c") >= 2L && o =!= col("bk")))
      .select("doc_id", "p")
    assemble(base, occ)
  }

  /** Store-update half of the q203 lifecycle: the digests an
    * admitted batch ADDS to the stored set — the batch's distinct
    * digests anti-joined against the store, so merge work is ∝ batch
    * (the store side never shuffles when the index is the
    * bucketed-state table, and never rewrites: the delta is
    * APPENDED, see [[spanIngestTrigger]]). Appending the RAW batch's
    * digest set (not just the admitted survivors') is what makes the
    * sequential law exact: spanIndex(store) ∪ spanIndex(batch) IS the
    * digest set of store ∪ batch, so dedup(b2 vs merged store) ≡
    * q202 over store ∪ b1 ∪ b2 restricted to b2 — SpanSpec pins two
    * sequential batches ≡ one combined corpus bit-for-bit. */
  private[graft] def spanIndexDelta(batch: DataFrame,
      storeDigests: DataFrame): DataFrame =
    spanIndex(batch).join(storeDigests.select("g"), Seq("g"), "left_anti")

  // ------------------------------------------- durable span store (q206)
  /** Initialize a batchId-VERSIONED span-digest store: a parquet
    * directory holding the standing corpus's digest set as segment
    * `init` plus one `b<id>` delta segment per committed ingest batch
    * (written by [[spanIngestTrigger]]). Externalizing the store to
    * versioned segments is what makes the q206 ingest loop
    * restart-durable (r14 verdict item 1): the driver holds NO store
    * state, so a JVM restart loses nothing, and a replayed batch can
    * reconstruct exactly the snapshot it first probed. */
  private[graft] def spanStoreInit(store0: DataFrame, root: String,
      parts: Int = -1): Unit =
    VersionedStore.init(store0, root, parts)

  /** The store AS OF batch `id`: segment `init` plus every delta
    * segment with batchId < id. A REPLAYED batch — in-JVM foreachBatch
    * re-run or a cross-restart WAL replay with the same batchId —
    * probes the PRE-FOLD snapshot by construction, because its own
    * b<id> segment is excluded; no driver-held preFold bookkeeping
    * (the r14 in-JVM-only guard this replaces). One file listing per
    * trigger; the read scans prior segments, which is the probe's
    * inherent cost (the bucketed-table tier removes its shuffle, not
    * its scan). */
  private[graft] def spanStoreBefore(spark: SparkSession, root: String,
      id: Long): DataFrame = VersionedStore.before(spark, root, id)

  /** One durable ingest trigger (q206's perBatch hook, shared verbatim
    * with the restart spec): probe the batch against the store as of
    * this batchId, then fold the batch's NEW digests in by overwriting
    * segment b<id>. Idempotent under replay — the probe excludes b<id>
    * and the fold rewrites it with the same deterministic content, so
    * a batch that wrote-then-died before its WAL commit replays to the
    * identical kept batch AND store state. Per-trigger work ∝ batch
    * (probe semi-join + batch-sized delta write); the standing segments are
    * never rewritten by the fold — past `maxSegments` live segments
    * the [[VersionedStore.maintain]] merge policy folds them into one
    * digest-laid-out compacted generation (∝ store, amortized;
    * replay-safe because only segments strictly below this committed
    * batch's id are folded), so probe cost stays flat in trigger
    * count. Returns the trigger's result local-checkpointed; the drain
    * keeps that frame and frees it when it is no longer read. */
  private[graft] def spanIngestTrigger(spark: SparkSession, root: String,
      maxSegments: Int = 8): (DataFrame, Long) => DataFrame =
    (b: DataFrame, id: Long) => Pins.scoped { p =>
      VersionedStore.maintain(spark, root, id, Seq("g"), maxSegments)
      val bc = p.checkpoint(b)
      val probeStore = spanStoreBefore(spark, root, id)
      // the probe's digest cache is released once `out` is materialized
      val out = Pins.scoped(q =>
        spanDedupVsStore(q, bc, probeStore).localCheckpoint(true))
      VersionedStore.write(spanIndexDelta(bc, probeStore), root, id)
      out
    }

  /** q202 over the documents table. The returned plan reads its
    * digest cache (the lazy-plan convention, [[graft.Pins]]). */
  def q202SpanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedup(
      Layout.spread(Tables.documents(spark, dir).select("doc_id", "text")))

  /** q204 — keep-first span dedup over the documents table (same
    * digest-persist caller contract as q202). */
  def q204SpanDedupKeepOne(spark: SparkSession, dir: String): DataFrame =
    spanDedupKeepFirst(
      Layout.spread(Tables.documents(spark, dir).select("doc_id", "text")))

  /** q203 — incremental span dedup over the documents table: docs with
    * doc_id ≡ 0 (mod 7) arrive as the new batch, the rest are the
    * standing corpus whose digest index exists from its own ingest.
    * The index is derived inline — testdata ships no stored index; the
    * q200 declared-query precedent. The stored-index probe is
    * [[spanDedupVsStore]] over any store frame. */
  def q203SpanDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val batch = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
    val store = spanIndex(docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L))
    spanDedupVsStore(Pins.forPlan, batch, store)
  }

  /** q205 — incremental keep-first span dedup over the documents table
    * (the q203 mod-7 split applied to the q204 policy): the batch
    * dedups against the standing corpus's KEYED span index, derived
    * inline. (Same digest-persist caller contract as q202.) */
  def q205SpanDedupKeepOneIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val batch = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
    val store =
      spanIndexKeyed(docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L))
    spanDedupKeepFirstVsStore(batch, store)
  }

  /** q203's DuckDB twin, shared by q206's streaming ingest. */
  val q203OracleSql: String =
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(
        |             lower(coalesce(text, '')), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, CAST(n AS INT) - 7)) AS p,
        |         unnest(list_transform(generate_series(1, CAST(n AS INT) - 7),
        |           i -> md5(array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
        |  FROM s WHERE n >= 8),
        |bsp AS (SELECT doc_id, p, g FROM sp WHERE doc_id % 7 = 0),
        |sidx AS (SELECT DISTINCT g FROM sp WHERE doc_id % 7 <> 0),
        |wb AS (SELECT g FROM bsp GROUP BY g HAVING count(*) >= 2),
        |dup AS (SELECT DISTINCT g FROM (
        |  SELECT b.g FROM (SELECT DISTINCT g FROM bsp) b JOIN sidx USING (g)
        |  UNION ALL SELECT g FROM wb)),
        |occ AS (SELECT bsp.doc_id, bsp.p FROM bsp JOIN dup USING (g)),
        |cov AS (SELECT DISTINCT doc_id, tp FROM
        |        (SELECT doc_id, unnest(generate_series(p, p + 7)) AS tp
        |         FROM occ)),
        |covn AS (SELECT doc_id, count(*) AS covered_tokens FROM cov GROUP BY 1),
        |occn AS (SELECT doc_id, count(*) AS dup_spans FROM occ GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(l) AS tok,
        |                unnest(generate_series(1, CAST(n AS INT))) AS tp
        |         FROM s WHERE n >= 1 AND doc_id % 7 = 0),
        |kept AS (
        |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.tp) AS kept_text
        |  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.tp = c.tp
        |  WHERE c.tp IS NULL GROUP BY tk.doc_id)
        |SELECT s.doc_id, s.n AS n_tokens,
        |       coalesce(occn.dup_spans, 0) AS dup_spans,
        |       coalesce(covn.covered_tokens, 0) AS covered_tokens,
        |       coalesce(kept.kept_text, '') AS kept_text
        |FROM s LEFT JOIN occn USING (doc_id) LEFT JOIN covn USING (doc_id)
        |       LEFT JOIN kept USING (doc_id)
        |WHERE s.doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q202_span_dedup", q202SpanDedup, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(
        |             lower(coalesce(text, '')), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, CAST(n AS INT) - 7)) AS p,
        |         unnest(list_transform(generate_series(1, CAST(n AS INT) - 7),
        |           i -> md5(array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
        |  FROM s WHERE n >= 8),
        |dup AS (SELECT g FROM sp GROUP BY g HAVING count(*) >= 2),
        |occ AS (SELECT sp.doc_id, sp.p FROM sp JOIN dup USING (g)),
        |cov AS (SELECT DISTINCT doc_id, tp FROM
        |        (SELECT doc_id, unnest(generate_series(p, p + 7)) AS tp
        |         FROM occ)),
        |covn AS (SELECT doc_id, count(*) AS covered_tokens FROM cov GROUP BY 1),
        |occn AS (SELECT doc_id, count(*) AS dup_spans FROM occ GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(l) AS tok,
        |                unnest(generate_series(1, CAST(n AS INT))) AS tp
        |         FROM s WHERE n >= 1),
        |kept AS (
        |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.tp) AS kept_text
        |  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.tp = c.tp
        |  WHERE c.tp IS NULL GROUP BY tk.doc_id)
        |SELECT s.doc_id, s.n AS n_tokens,
        |       coalesce(occn.dup_spans, 0) AS dup_spans,
        |       coalesce(covn.covered_tokens, 0) AS covered_tokens,
        |       coalesce(kept.kept_text, '') AS kept_text
        |FROM s LEFT JOIN occn USING (doc_id) LEFT JOIN covn USING (doc_id)
        |       LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    Declared("q203_span_dedup_incr", q203SpanDedupIncr, Some(q203OracleSql)),
    Declared("q204_span_dedup_keepone", q204SpanDedupKeepOne, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(
        |             lower(coalesce(text, '')), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, CAST(n AS INT) - 7)) AS p,
        |         unnest(list_transform(generate_series(1, CAST(n AS INT) - 7),
        |           i -> md5(array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
        |  FROM s WHERE n >= 8),
        |occ AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |           count(*) OVER (PARTITION BY g) AS c,
        |           row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
        |    FROM sp)
        |  WHERE c >= 2 AND rn >= 2),
        |cov AS (SELECT DISTINCT doc_id, tp FROM
        |        (SELECT doc_id, unnest(generate_series(p, p + 7)) AS tp
        |         FROM occ)),
        |covn AS (SELECT doc_id, count(*) AS covered_tokens FROM cov GROUP BY 1),
        |occn AS (SELECT doc_id, count(*) AS dup_spans FROM occ GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(l) AS tok,
        |                unnest(generate_series(1, CAST(n AS INT))) AS tp
        |         FROM s WHERE n >= 1),
        |kept AS (
        |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.tp) AS kept_text
        |  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.tp = c.tp
        |  WHERE c.tp IS NULL GROUP BY tk.doc_id)
        |SELECT s.doc_id, s.n AS n_tokens,
        |       coalesce(occn.dup_spans, 0) AS dup_spans,
        |       coalesce(covn.covered_tokens, 0) AS covered_tokens,
        |       coalesce(kept.kept_text, '') AS kept_text
        |FROM s LEFT JOIN occn USING (doc_id) LEFT JOIN covn USING (doc_id)
        |       LEFT JOIN kept USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // q205 ≡ q204 over the WHOLE corpus (global keeper by (doc_id, p))
    // restricted to the batch's documents — the oracle states the law
    // directly; the Spark side factorizes it through the keyed store
    Declared("q205_span_dedup_keepone_incr", q205SpanDedupKeepOneIncr, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(
        |             lower(coalesce(text, '')), '[^a-z]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l, len(l) AS n FROM t),
        |sp AS (
        |  SELECT doc_id,
        |         unnest(generate_series(1, CAST(n AS INT) - 7)) AS p,
        |         unnest(list_transform(generate_series(1, CAST(n AS INT) - 7),
        |           i -> md5(array_to_string(list_slice(l, i, i + 7), ' ')))) AS g
        |  FROM s WHERE n >= 8),
        |occ AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |           count(*) OVER (PARTITION BY g) AS c,
        |           row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
        |    FROM sp)
        |  WHERE c >= 2 AND rn >= 2 AND doc_id % 7 = 0),
        |cov AS (SELECT DISTINCT doc_id, tp FROM
        |        (SELECT doc_id, unnest(generate_series(p, p + 7)) AS tp
        |         FROM occ)),
        |covn AS (SELECT doc_id, count(*) AS covered_tokens FROM cov GROUP BY 1),
        |occn AS (SELECT doc_id, count(*) AS dup_spans FROM occ GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(l) AS tok,
        |                unnest(generate_series(1, CAST(n AS INT))) AS tp
        |         FROM s WHERE n >= 1 AND doc_id % 7 = 0),
        |kept AS (
        |  SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.tp) AS kept_text
        |  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.tp = c.tp
        |  WHERE c.tp IS NULL GROUP BY tk.doc_id)
        |SELECT s.doc_id, s.n AS n_tokens,
        |       coalesce(occn.dup_spans, 0) AS dup_spans,
        |       coalesce(covn.covered_tokens, 0) AS covered_tokens,
        |       coalesce(kept.kept_text, '') AS kept_text
        |FROM s LEFT JOIN occn USING (doc_id) LEFT JOIN covn USING (doc_id)
        |       LEFT JOIN kept USING (doc_id)
        |WHERE s.doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin)))
}
