package graft.ops

import graft.{Declared, Layout, Pins, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q25/q26/q38/q39: near-duplicate detection and similarity search over
  * `documents` / `embeddings` — the LLM-training-data workhorses.
  *
  * Builders that feed one computed table into BOTH sides of a
  * self-join (`portablePairs`, q38/q39/q41/q42) persist that
  * intermediate — it is sketch-sized (≤ ~128 B per document), never
  * text — for the returned plan (the lazy-plan convention of
  * [[graft.Pins]]).
  *
  * Scale design:
  *  - MinHash/LSH (q25) shuffles k=16 longs per document, never text;
  *    candidate pairs come from equi-joins on band keys (no all-pairs).
  *  - Brute-force cosine (q26) broadcasts the single query vector — one
  *    narrow pass + TakeOrderedAndProject; the 100 TB path is q38's LSH,
  *    which prunes candidates by shared hyperplane-sign bands first.
  *  - q39 bands a WIDE 128-bit sign signature into 4×32-bit sub-keys:
  *    near-identical vectors (sign-stable under any hyperplane) match
  *    ≥1 band w.p. ≈0.9997, while merely-similar cone-mates fail every
  *    32-bit band — candidates stay O(n·bands), not bucket_size².
  *
  * q25/q42 declare the PORTABLE md5 MinHash instance and are
  * oracle-checked bit-exactly (candidates, estimate, and exact Jaccard
  * replicated in DuckDB SQL); q26 likewise (rounded to 6 decimals on
  * both sides). q38/q39/q41/q45 remain rows-only (float sketches aren't
  * SQL-portable) — SimilaritySpec carries them via planted duplicates
  * and brute-force recall floors.
  */
object Similarity {

  // ---------------------------------------------------------------- q25
  val K = 16 // minhash signature width; bands of 4 rows → 4 band keys

  /** Exact Jaccard of two sorted distinct long arrays (two-pointer
    * merge — no per-call hash-set allocation). Kept as the independent
    * cross-check for the native [[graft.functions.JaccardSorted]]
    * expression that q42 uses. */
  private[graft] val jaccardUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  // ------------------------------------------- portable (md5) sketches
  // q25/q42 declare the ORACLE-PORTABLE MinHash instance: every step —
  // tokenize, 3-shingle strings, per-component md5 hash family, string
  // min, band keys — is reproducible verbatim in DuckDB SQL, so the
  // driver's t2 hash-compare covers the near-dup path bit-exactly
  // instead of a rows-only check.
  // Hash family: component i minimizes md5(i ':' shingle) as a 32-char
  // lowercase-hex STRING — fixed-length hex compares identically as a
  // string in any engine, so min() needs no unsigned-integer bridging.
  // 16 INDEPENDENT md5 draws, not a linear (Kirsch–Mitzenmacher) combo:
  // on a low-entropy corpus (shared vocabulary) a linear combo of two
  // draws lets one globally-small shingle minimize MANY components at
  // once, correlating the signature, inflating Jaccard estimates and
  // collapsing LSH buckets together (measured: quadratic band-join
  // blowup).

  /** Word-3-shingle STRINGS via engine-portable ops only
    * ([[TextOps.tokens]], mirrored by the oracle); docs with < 3 tokens
    * yield one space-joined composite shingle on both engines. */
  private def portableShingles(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          TextOps.wordGrams(col("t"), 3, TextOps.joined))
          .otherwise(array(array_join(col("t"), " "))).as("sh"))

  /** (doc_id, s) exploded shingle-string rows — the shared front end of
    * the portable sketches. Drops null shingles: on a null-text doc
    * Spark's concat_ws skips the null and would still emit md5("i:")
    * component mins, while DuckDB's '$i:' || NULL is NULL and min()
    * ignores it — filtering after the explode keeps the two engines'
    * shingle multisets identical (ADVICE r4; such a doc then
    * contributes no rows, on both engines). */
  private def portableShingleRows(corpus: DataFrame): DataFrame =
    portableShingles(corpus)
      .select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .filter(col("s").isNotNull)

  /** (doc_id, sig): the K-component portable MinHash signature (array
    * of 32-hex-char component mins). One scan, one groupBy of PURE
    * declarative min aggregates — whole-stage-codegen HashAggregate
    * with map-side partials; the shuffle carries K hex strings per
    * doc, never the text. The exact-Jaccard shingle sets are NOT
    * built here: mixing a collect_set into this aggregate demotes the
    * whole groupBy to ObjectHashAggregate, which falls back to
    * SORT-BASED aggregation past 128 in-memory groups
    * (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
    * measured as q42's dominant cost when every doc paid it. Sets are
    * fetched per-candidate via [[portableHsets]] instead. */
  private[graft] def portableSigs(corpus: DataFrame): DataFrame = {
    val ex = portableShingleRows(corpus)
    // 16 components from FOUR md5 calls: component (j,w) minimizes the
    // w-th 8-hex-char word of md5(j ':' shingle). Each word is an
    // independent uniform per shingle, so every component is a valid
    // minhash draw and components stay mutually independent (this is
    // word-slicing one strong hash, NOT a Kirsch–Mitzenmacher linear
    // combo — see the hash-family note above). The
    // md5s are materialized in a projection BEFORE the aggregate so
    // each is computed once per shingle row (measured: the 16-md5
    // variant did 4× the hash arithmetic and dominated q25/q42).
    val withH = ex.select((col("doc_id") +:
      (0 until 4).map(j =>
        md5(concat_ws(":", lit(j), col("s"))).as(s"h$j"))): _*)
    val comps = for { j <- 0 until 4; w <- 0 until 4 } yield
      min(substring(col(s"h$j"), w * 8 + 1, 8)).as(s"m${j * 4 + w}")
    withH.groupBy("doc_id").agg(comps.head, comps.tail: _*)
      .select(col("doc_id"),
        array((0 until K).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc_id, hset): sorted distinct shingle-hash sets — the
    * exact-Jaccard ground truth, computed ONLY for the docs in
    * `corpus` (callers semi-join the corpus down to candidate ids
    * first, so the imperative collect_set aggregate runs on the
    * candidate subset, not the whole corpus). hset carries xxhash64
    * LONGS, not md5 strings: exact Jaccard only needs |A∩B| and
    * |A∪B|, which any injective image preserves — the oracle's
    * md5-set Jaccard and this long-set Jaccard are the same number
    * (collision odds ~Σ|A||B|/2⁶⁴ across candidates; the q125
    * certificate argument). 8 B/shingle instead of a 32-char string
    * cuts the aggregate and join bytes ~4×. */
  private[graft] def portableHsets(corpus: DataFrame): DataFrame =
    portableShingleRows(corpus)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("s")))).as("hset"))

  /** Band keys over a portable signature: band b = md5 of its 4
    * concatenated component strings (md5(m0||m1||m2||m3) in SQL). */
  private[graft] def portableBandKeys(sig: Column): Column =
    array((0 until 4).map(b =>
      md5(array_join(slice(sig, b * 4 + 1, 4), ""))): _*)

  /** Shared DuckDB CTE prefix for the q25/q42/q175 oracles: corpus →
    * tokens → 3-shingles → md5 MinHash components + distinct shingle-md5
    * set → band keys → candidate pairs. Mirrors [[portableSigs]] +
    * [[portableBandKeys]] step for step. `corpusCte` defaults to the
    * planted q25/q42 corpus; q175 passes the raw documents table. */
  private def portableOracleCtes(
      corpusCte: String = """  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |         text || ' planted near duplicate suffix' AS text FROM documents""".stripMargin): String =
    "WITH " + portableCteList(corpusCte)

  /** The component-match count of two sig rows aliased sa/sb — the
    * estimate numerator shared by every portable-family oracle. */
  private[graft] def portableMatchExpr: String =
    (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")

  /** The CTE list WITHOUT the leading WITH — embeddable after a caller's
    * own CTEs (the q46 pipeline oracle prepends its dedup stages). */
  private[graft] def portableCteList(corpusCte: String): String = {
    // mirrors portableSigs' word-sliced family: component (j,w) =
    // min over shingles of substr(md5(j ':' s), w*8+1, 8)
    val minCols = (for { j <- 0 until 4; w <- 0 until 4 } yield
      s"min(substr(md5('$j:' || s), ${w * 8 + 1}, 8)) AS m${j * 4 + w}")
      .mkString(", ")
    val bandCase = (0 until 4).map(b =>
      s"WHEN $b THEN md5(${(b * 4 until b * 4 + 4).map(i => s"m$i").mkString(" || ")})")
      .mkString(" ")
    s"""corpus AS (
       |$corpusCte),
       |toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
       |  FROM corpus),
       |shing AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
       |      list_transform(generate_series(1, len(t) - 2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END AS sh FROM toks),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM shing),
       |sig AS (SELECT doc_id, $minCols,
       |    list_sort(list_distinct(list(md5(s)))) AS hset FROM ex GROUP BY doc_id),
       |bands AS (SELECT doc_id, b.band_idx,
       |    CASE b.band_idx $bandCase END AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS band_idx) b),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  private[ops] def q25OracleSql: String = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${portableOracleCtes()},
       |est AS (SELECT c.a_id, c.b_id, round(($matches) / 16.0, 6) AS est_jaccard
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |              JOIN sig sb ON sb.doc_id = c.b_id)
       |SELECT a_id, b_id, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin
  }

  private[ops] def q42OracleSql: String =
    s"""${portableOracleCtes()},
       |jac AS (SELECT c.a_id, c.b_id,
       |    round(len(list_intersect(sa.hset, sb.hset)) /
       |      (len(sa.hset) + len(sb.hset)
       |       - len(list_intersect(sa.hset, sb.hset)))::DOUBLE, 6) AS jaccard
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |              JOIN sig sb ON sb.doc_id = c.b_id)
       |SELECT a_id, b_id, jaccard FROM jac
       |WHERE jaccard >= 0.5 ORDER BY a_id, b_id""".stripMargin

  /** documents ∪ near-duplicate copies (suffix-perturbed, doc_id+1e6) —
    * planted so the near-dup surface has guaranteed positives on the
    * synthetic corpus (all driver texts are mutually distant). */
  private[graft] def plantedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    // spread: every consumer runs per-doc md5 sketches or gram builds
    // over it (q25, q125, q153, q164, q183, q209)
    Layout.spread(base.unionByName(base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" planted near duplicate suffix")).as("text"))))
  }

  /** q25 — the declared MinHash+LSH instance, on the PORTABLE md5
    * hash family so the driver's DuckDB oracle checks it bit-exactly
    * (band-candidate generation, signature estimate, and 0.5 threshold
    * all replicated in [[q25OracleSql]]): sketch once, band the
    * signature, equi-join on scalar band keys, estimate from component
    * agreement ([[portablePairs]]). */
  def q25NearDup(spark: SparkSession, dir: String): DataFrame =
    portablePairs(Pins.forPlan, plantedCorpus(spark, dir)).orderBy("a_id", "b_id")

  /** PORTABLE-family near-dup pair generator: (a_id, b_id, est_jaccard ≥
    * minEst), candidates from the 4-band md5 self-join, estimate =
    * matching components / 16 rounded to 6. The reusable core of q25,
    * q175, and the corpus pipeline's near-dup stage — every consumer is
    * therefore DuckDB-replicable step for step. */
  def portablePairs(p: Pins, corpus: DataFrame, minEst: Double = 0.5): DataFrame = {
    // persist: the signature table feeds both sides of the band self-join
    val sigs = p.persist(portableSigs(corpus))
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(portableBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val a = bands.select(col("band_idx"), col("band_key"),
      col("doc_id").as("a_id"), col("sig").as("sig_a"))
    val b = bands.select(col("band_idx"), col("band_key"),
      col("doc_id").as("b_id"), col("sig").as("sig_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        // native codegen'd component match count: the SAME integer the
        // aggregate(zip_with(when(x===y,1,0)), acc+x) chain produced —
        // two interpreted HOFs per CANDIDATE PAIR were the hot loop at
        // the 100× probe — so /16.0 + round(6) and every downstream
        // oracle hash are unchanged (SigMatchCountSpec pins equality)
        round(graft.functions.SigMatchCount.sigMatchCount(
          col("sig_a"), col("sig_b")).cast("double") / K, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .distinct()
  }

  // ---------------------------------------------------------------- q26
  /** Cosine similarity via the native codegen'd Catalyst expression
    * [[graft.functions.CosineSim]]: the dot/norm loop is emitted INLINE
    * into the enclosing WholeStageCodegen stage (primitive double[]
    * access, no UDF serialization boundary). Summation order is
    * ascending-index — bit-identical to the original
    * aggregate(zip_with(...)) formulation the q26 oracle was checked
    * against. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** q26 — brute-force cosine top-k: 10 nearest to vec_id=0. The query
    * vector is broadcast (1 row); the scan side stays narrow and the
    * top-k is TakeOrderedAndProject — no shuffle of the fact side. */
  def q26CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q38
  val Planes = 16 // → 4 bands × 4 sign bits

  /** Deterministic pseudo-random hyperplanes (fixed seed; java.util.Random
    * is spec-stable across JVMs). */
  private lazy val hyperplanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Planes, 64)(rnd.nextGaussian())
  }

  /** Sign-band keys: 4 bands, each packing 4 hyperplane sign bits —
    * one compiled function call per row, ~1k flops in a tight loop.
    *
    * Round 1 unrolled the 16 dot products into a ~1024-node Column
    * expression tree ("codegen-friendly" in theory); in practice the
    * optimizer re-instantiated that tree through every downstream
    * projection (bench log: 1.2 MB broadcast task binaries) and
    * codegen compilation dominated the query (q38: 607 s on 2 000
    * rows). A single deterministic Scala UDF keeps the plan one node
    * wide and the arithmetic primitive. */
  private val signBandsUdf = udf { (e: Seq[Double]) =>
    val bands = new Array[Int](4)
    var p = 0
    while (p < Planes) {
      val plane = hyperplanes(p)
      var d = 0.0
      var i = 0
      val n = math.min(plane.length, e.length)
      while (i < n) { d += e(i) * plane(i); i += 1 }
      if (d > 0) bands(p >> 2) |= 1 << (p & 3)
      p += 1
    }
    bands
  }

  private def signBands(e: Column): Column = signBandsUdf(e)

  /** q38 — ANN top-k via random-hyperplane LSH: candidates share at least
    * one sign band with the query; exact cosine only within candidates.
    * At 100 TB the bands become the partitioning key (each query touches
    * 4 buckets instead of the full corpus). */
  def q38AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("bands", signBands(col("e")))
    // persisted: both the corpus side and the query side read this
    val rows = emb.select(col("vec_id"), col("e"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val"))).persist()
    val qRows = rows.filter(col("vec_id") === 0)
      .select(col("band_idx"), col("band_val"), col("e").as("qe"))
    rows.filter(col("vec_id") =!= 0)
      .join(broadcast(qRows), Seq("band_idx", "band_val"))
      .select(col("vec_id"), col("e"), col("qe"))
      .distinct()
      .select(col("vec_id"), round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q39
  val SignPlanes = 128 // wide near-dup signature → 4 bands × 32 sign bits

  /** 128 deterministic Gaussian hyperplanes — a separate, WIDER family
    * than q38's 16 ANN planes. Near-dup candidate generation needs a
    * sharp per-band filter, not a recall-oriented coarse one. */
  private lazy val widePlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(4242)
    Array.fill(SignPlanes, 64)(rnd.nextGaussian())
  }

  /** 4 band sub-keys of 32 sign bits each (the q25 band pattern applied
    * to hyperplane signs). One compiled pass per row, ~8k flops. */
  private val wideSignBandsUdf = udf { (e: Seq[Double]) =>
    val bands = new Array[Long](4)
    var p = 0
    while (p < SignPlanes) {
      val plane = widePlanes(p)
      var d = 0.0
      var i = 0
      val n = math.min(plane.length, e.length)
      while (i < n) { d += e(i) * plane(i); i += 1 }
      if (d > 0) bands(p >> 5) |= 1L << (p & 31)
      p += 1
    }
    bands
  }

  /** Near-dup candidate pairs of (vec_id, e) rows: pairs sharing ≥1 of
    * the 4 wide sign bands, WITH per-band multiplicity (the true join
    * workload — SimilaritySpec's hot-bucket test counts these rows).
    *
    * Why banded sub-keys and not one full-signature bucket (the round-3
    * design): a full 16-bit signature has only 65 536 buckets, so any
    * corpus region that agrees on those 16 coarse signs — anisotropic
    * embedding cones do — funnels into a handful of buckets and pairs
    * quadratically long before the cosine verify can prune. A 32-bit
    * band must agree on 32 of 128 much finer signs: at pairwise cosine
    * 0.75 the per-band collision odds are (1−θ/π)^32 ≈ 2·10⁻⁴, so
    * candidates stay O(n·bands), while true near-dups (cosine ≥ 0.9999,
    * θ ≈ 0.0045π) still match a given band with (1−0.0045)^32 ≈ 0.87 —
    * ≥1 of 4 bands with probability ≈ 0.9997. */
  private[graft] def embedCandidates(corpus: DataFrame): DataFrame = {
    // persisted: the banded-signature table feeds both join sides; the
    // 128 dot products per row are the expensive part, not the join
    val sig = corpus.select(col("vec_id"), col("e"),
      posexplode(wideSignBandsUdf(col("e"))).as(Seq("band_idx", "band_val")))
      .persist()
    val a = sig.select(col("band_idx"), col("band_val"),
      col("vec_id").as("a_id"), col("e").as("ea"))
    val b = sig.select(col("band_idx"), col("band_val"),
      col("vec_id").as("b_id"), col("e").as("eb"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("ea"), col("eb"))
  }

  /** q39 — embedding near-duplicate pairs: banded wide-signature
    * candidates ([[embedCandidates]]), verify cosine ≥ 0.9999. Positives
    * planted as scaled copies (same direction ⇒ identical signs on every
    * plane ⇒ all 4 bands match ⇒ always a candidate). */
  def q39EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val corpus = base.unionByName(base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("e"), x => x * 1.01).as("e")))
    embedCandidates(corpus)
      .select(col("a_id"), col("b_id"),
        round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.9999)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q41
  /** q41 — SimHash near-dup pairs: 64-bit fingerprint = sign of
    * per-bit vote sums over shingle-hash bits, candidates via 8×8-bit
    * band equality, verified with hamming ≤ 7 (`bit_count(a XOR b)`).
    *
    * Features are 3-word SHINGLES, not tokens: on a shared-vocabulary
    * corpus every document has nearly the same bag-of-words, so
    * token-feature SimHash collapses all fingerprints to the global
    * token-distribution bias. Shingles (~|vocab|³ space) keep random
    * docs at hamming ≈ 32 while near-identical docs stay ≤ 7.
    *
    * Declared on the PORTABLE md5 bit family (SURVEY §7.4c: md5-bit
    * voting): bit j of a shingle's feature vector is bit (3 − j mod 4)
    * of hex nibble ⌊j/4⌋ of md5(shingle)'s first 16 hex chars — exactly
    * reproducible in DuckDB via strpos-nibble arithmetic, so q41 is
    * hash-compared end-to-end (candidates AND hamming) instead of
    * rows-only. ONE md5 per shingle: the hex prefix is materialized in
    * a projection, then parsed into two 32-bit words with two conv
    * calls — bit j of the MSB-first nibble family is exactly bit
    * (31 − j mod 32) of word ⌊j/32⌋, so the 64 vote bits are plain
    * shifts on those words (round-8 rewrite of the 16-conv nibble
    * version, which did 16 string parses per shingle and made q41 the
    * round-7 board's only perf regression). The aggregate is a pure
    * codegen HashAggregate with map-side partials, and only 64 longs
    * per doc cross the shuffle. Planted positives:
    * 1-token-suffix copies (vote shift ≤ 3 per bit). */
  def q41SimHash(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    // spread before the shingle md5s, the query's per-row CPU center:
    // a small corpus scans as one task
    val corpus = Layout.spread(base.unionByName(base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))))
    val ex = portableShingleRows(corpus)
    val words = ex.select(col("doc_id"), md5(col("s")).as("h"))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("w0"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("w1"))
    val voteAggs = (0 until 64).map { j =>
      sum(shiftright(col(if (j < 32) "w0" else "w1"), 31 - j % 32)
        .bitwiseAND(1) * 2 - 1).as(s"v$j")
    }
    val votes = words.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
    // the packed fp long carries EVERYTHING: band b's key is byte b of
    // fp ((fp >>> 8b) & 255 — a bijection of the oracle's 8-char
    // substring of the bitstring, bit j of fstr ≡ bit j of fp, so the
    // band-equality classes are identical even though the key VALUES
    // differ; keys are join-internal, never output), and fp drives the
    // compiled hamming. The persisted signature is two longs per doc —
    // until r12 it also held the 64-char fstr bitstring, which existed
    // only to substring those keys and put a string-heavy column in a
    // cache (the q37 'strings don't cache' shape, CachedSortGuardSpec).
    val sig = votes.select(col("doc_id"),
      (0 until 64).map(j =>
        when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_)).as("fp")).persist()
    val bands = sig.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 8).map(b =>
        shiftrightunsigned(col("fp"), b * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band_idx", "band_key")))
    val a = bands.select(col("band_idx"), col("band_key"),
      col("doc_id").as("a_id"), col("fp").as("fp_a"))
    val b = bands.select(col("band_idx"), col("band_key"),
      col("doc_id").as("b_id"), col("fp").as("fp_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** DuckDB twin of [[q41SimHash]]: same shingles, same md5 nibble→bit
    * extraction (strpos on the hex alphabet ≡ Spark's conv(_,16,10)),
    * same sign-vote fingerprint as a 64-char bitstring, same 8×8 band
    * join; hamming recomputed as 64 per-position char comparisons. */
  private[ops] def q41OracleSql: String = {
    val sums = (0 until 64).map { j =>
      s"SUM(2 * ((((strpos('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1) >> ${3 - j % 4}) & 1)) - 1) AS v$j"
    }.mkString(", ")
    val fstr = (0 until 64).map(j =>
      s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    val ham = (0 until 64).map(j =>
      s"CASE WHEN substr(fa, ${j + 1}, 1) <> substr(fb, ${j + 1}, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text FROM documents),
       |toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS t
       |  FROM corpus),
       |shing AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN
       |      list_transform(generate_series(1, len(t) - 2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END AS sh FROM toks),
       |ex AS (SELECT doc_id, s FROM
       |    (SELECT doc_id, unnest(sh) AS s FROM shing) WHERE s IS NOT NULL),
       |hx AS (SELECT doc_id, substr(md5(s), 1, 16) AS h FROM ex),
       |v AS (SELECT doc_id, $sums FROM hx GROUP BY doc_id),
       |sig AS (SELECT doc_id, $fstr AS fstr FROM v),
       |bands AS (SELECT doc_id, fstr, b.band_idx,
       |    substr(fstr, b.band_idx * 8 + 1, 8) AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS band_idx) b),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.fstr AS fa, b.fstr AS fb
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |ham AS (SELECT a_id, b_id, CAST($ham AS INT) AS hamming FROM cand)
       |SELECT a_id, b_id, hamming FROM ham
       |WHERE hamming <= 7 ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** q42 — exact n-gram Jaccard on LSH candidates: MinHash bands
    * propose pairs (q25's machinery), then the TRUE Jaccard of hashed
    * 3-gram shingle sets confirms them. A direct shingle equi-join
    * would be Σ count(shingle)² rows — quadratic on a low-entropy
    * corpus — so the sketch prunes first and the exact measure runs
    * only on candidates. Shingle sets travel as sorted distinct hash
    * arrays (8 B per shingle, not the text). */
  def q42NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Declared on the PORTABLE md5 family, so the DuckDB oracle
    // replicates candidates AND the exact Jaccard verify
    // ([[q42OracleSql]]); shingle sets travel as 64-bit hashes, never
    // the text.
    val corpus = plantedCorpus(spark, dir)
    val sigs = portableSigs(corpus).persist()
    // Bands carry ONLY doc_id: the hset (every distinct shingle digest,
    // kilobytes per doc) must not ride the 4× band explode through both
    // exchange sides — r4 did exactly that and the band join's bytes
    // moved, not the Jaccard math, dominated (measured ~2× the whole
    // query). Candidates collapse to distinct (a_id, b_id) id pairs
    // FIRST.
    val bands = sigs.select(col("doc_id"),
      posexplode(portableBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val cand = bands.select(col("band_idx"), col("band_key"),
        col("doc_id").as("a_id"))
      .join(bands.select(col("band_idx"), col("band_key"),
        col("doc_id").as("b_id")), Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .persist()
    // Exact-verify sets are built ONLY for docs that survived into a
    // candidate pair: semi-join the corpus down to candidate ids, then
    // run the (imperative, sort-fallback-prone) collect_set aggregate
    // on that small subset — the all-docs version dominated q42
    // (measured ~7 s of its 9.4 s at sf0.1; candidates are ~10² docs
    // where the corpus is 10⁴). Same shape the PPJoin verify (q125)
    // uses. At 100 TB the candidate set is the LSH-pruned output —
    // orders of magnitude under the corpus by design.
    val candIds = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val hsets = portableHsets(
      corpus.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    cand
      .join(hsets.select(col("doc_id").as("a_id"), col("hset").as("set_a")),
        "a_id")
      .join(hsets.select(col("doc_id").as("b_id"), col("hset").as("set_b")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        round(graft.functions.JaccardSorted.jaccardSorted(
          col("set_a"), col("set_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q153
  /** q153 — INCREMENTAL near-dedup: a new ingestion batch LSH-joined
    * against the EXISTING corpus — the production shape (a live
    * pipeline almost never self-joins the whole corpus; it checks the
    * day's batch against the signature store). New docs = the planted
    * copies (doc_id ≥ 10⁶), existing = the originals; each new doc
    * reports its best existing match (max estimate, min doc_id tie).
    * Scale: the band join is new×existing only — bytes moved follow
    * the BATCH size, not the corpus (the existing side's signature
    * store is written once per generation and probed; the declared
    * query runs that probe, [[dedupVsSigStore]], against a store
    * derived inline). The per-new-doc best-match window partitions on
    * the new doc id. */
  def q153IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(spark, dir)
    val batch = corpus.filter(col("doc_id") >= 1000000L)
    // the stored band table is derived inline (testdata ships no
    // signature store; the q200/q203 declared-query precedent)
    dedupVsSigStore(batch, sigBands(corpus.filter(col("doc_id") < 1000000L)))
  }

  /** The stored artifact for incremental near-dedup: a corpus's banded
    * signature table — one row per (doc, band) carrying the band's LSH
    * key AND the doc's full K-component signature, so a batch probe
    * verifies candidates without a second store lookup. The store
    * side of the probe's band join never shuffles in EITHER serving
    * regime: a broadcastable batch is broadcast (BuildLeft — the store
    * streams), and when the batch exceeds the broadcast limit the
    * bucketed layout takes over — bucketed by BOTH join keys
    * (band_idx, band_key): requireAllClusterKeysForCoPartition
    * defaults to true since Spark 3.3, so a band_key-only layout
    * would NOT co-partition the join (measured — the plain and
    * bucketed plans tied at 5 exchanges until the second key was
    * added). Only the batch shuffles into the store's bucketing
    * (both regimes measured at 100×, BASELINE.md round 14). */
  private[graft] def sigBands(corpus: DataFrame): DataFrame =
    portableSigs(corpus).select(col("doc_id"), col("sig"),
        posexplode(portableBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
      .select("band_idx", "band_key", "doc_id", "sig")

  /** q153's probe half against a STORED band table: each batch doc's
    * best near-duplicate among the store's docs (max estimate, min
    * doc_id tie). Work ∝ batch bands + the band equi-join; the store
    * corpus is never rescanned — its text is not even reachable from
    * here, only signatures. The per-batch-doc best-match window
    * partitions on the batch doc id (batch-sized). */
  private[graft] def dedupVsSigStore(batch: DataFrame,
      storeBands: DataFrame): DataFrame =
    dedupVsSigStoreBands(sigBands(batch), storeBands)

  /** [[dedupVsSigStore]] over PRE-COMPUTED batch bands — the q209
    * ingest trigger computes the batch's signature pass ONCE and
    * feeds it to both the probe and the store fold (code review r15b:
    * the trigger previously ran the dominant per-batch cost twice). */
  private[graft] def dedupVsSigStoreBands(batchBands: DataFrame,
      storeBands: DataFrame): DataFrame = {
    val newSide = batchBands
      .select(col("band_idx"), col("band_key"),
        col("doc_id").as("new_id"), col("sig").as("sig_n"))
    val oldSide = storeBands
      .select(col("band_idx"), col("band_key"),
        col("doc_id").as("old_id"), col("sig").as("sig_o"))
    val w = Window.partitionBy("new_id")
      .orderBy(col("est_jaccard").desc, col("old_id"))
    newSide.join(oldSide, Seq("band_idx", "band_key"))
      .select(col("new_id"), col("old_id"),
        // native match count — same integer as the HOF chain (q25 note)
        round(graft.functions.SigMatchCount.sigMatchCount(
          col("sig_n"), col("sig_o")).cast("double") / K, 6)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("new_id"), col("old_id").as("dup_of"), col("est_jaccard"))
      .orderBy("new_id")
  }

  private[ops] def q153OracleSql: String = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${portableOracleCtes()},
       |inc AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id,
       |    round(($matches) / 16.0, 6) AS est_jaccard
       |  FROM bands n
       |  JOIN bands o ON n.band_idx = o.band_idx
       |              AND n.band_key = o.band_key
       |              AND n.doc_id >= 1000000 AND o.doc_id < 1000000
       |  JOIN sig sa ON sa.doc_id = n.doc_id
       |  JOIN sig sb ON sb.doc_id = o.doc_id),
       |best AS (SELECT new_id, old_id AS dup_of, est_jaccard,
       |    row_number() OVER (PARTITION BY new_id
       |      ORDER BY est_jaccard DESC, old_id) AS rnk
       |  FROM inc WHERE est_jaccard >= 0.5)
       |SELECT new_id, dup_of, est_jaccard FROM best
       |WHERE rnk = 1 ORDER BY new_id""".stripMargin
  }

  // ---------------------------------------------------------------- q164
  /** q164 — duplicate-cluster collapse, one-hop star rule: every doc
    * in a near-dup pair points at the minimum id among itself and its
    * direct partners; clusters are the groups under that pointer, and
    * the output is each cluster's representative and size. This is
    * the SINGLE-PASS collapse a dedup pipeline runs when it drops all
    * but one of each duplicate group (the planted corpus's pair graph
    * is star-shaped, where one hop IS the transitive closure; deep
    * chains go to the full CC tier, q64 — the two-algorithm split is
    * deliberate). Oracle replicates candidates, estimates, AND the
    * pointer aggregation. Scale: two aggregates over the pair list —
    * pair-sized, not corpus-sized. */
  def q164DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q25NearDup(spark, dir).select("a_id", "b_id")
    // the four member rows per pair come from ONE explode, not a 4-way
    // union of `pairs`: a union evaluates the (expensive, unpersisted)
    // pair enumeration once per branch — invisible at sf0.1, but the
    // 100× probe measured it as 4× the near-dup join (~40 min vs ~10)
    val members = pairs.select(explode(array(
      struct(col("a_id").as("doc_id"), col("b_id").as("peer")),
      struct(col("b_id").as("doc_id"), col("a_id").as("peer")),
      struct(col("a_id").as("doc_id"), col("a_id").as("peer")),
      struct(col("b_id").as("doc_id"), col("b_id").as("peer")))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.peer").as("peer"))
    members.groupBy("doc_id").agg(min("peer").as("rep"))
      .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
      .orderBy("rep")
  }

  private[ops] def q164OracleSql: String = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${portableOracleCtes()},
       |est AS (SELECT c.a_id, c.b_id, round(($matches) / 16.0, 6) AS ej
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |              JOIN sig sb ON sb.doc_id = c.b_id),
       |p AS (SELECT a_id, b_id FROM est WHERE ej >= 0.5),
       |m AS (SELECT a_id AS doc_id, b_id AS peer FROM p
       |  UNION ALL SELECT b_id, a_id FROM p
       |  UNION ALL SELECT a_id, a_id FROM p
       |  UNION ALL SELECT b_id, b_id FROM p),
       |r AS (SELECT doc_id, min(peer) AS rep FROM m GROUP BY 1)
       |SELECT rep, count(*) AS cluster_size FROM r
       |GROUP BY rep ORDER BY rep""".stripMargin
  }

  // ---------------------------------------------------------------- q183
  /** q183 — duplicate-cluster collapse via STAR candidates: the scale
    * tier of q164 for boilerplate-heavy corpora. q164 (like any
    * pair-enumerating LSH dedup) materializes every candidate PAIR
    * inside an LSH bucket — C(c,2) per bucket of c docs. The round-8
    * 100× probe (every doc in a 200-doc near-dup cluster) measured the
    * direct consequence: ~10⁸ candidate pairs, ~10 min for the pair
    * join alone. A mega-cluster corpus doesn't need the pairs to
    * DEDUP, only the groups: band each signature exactly as q25 does,
    * but emit one candidate edge per (member, bucket-min) — O(n·bands)
    * edges TOTAL, independent of cluster size — verify each edge with
    * the same banded component estimate, and collapse with q164's
    * one-hop min-pointer rule. Clusters = components of the verified
    * star graph: identical to q164 whenever every cluster member
    * matches its bucket minimum (true on suffix-perturbed boilerplate
    * — each such cluster shares all 4 band keys), an under-merge only
    * when a bucket's min fails verification against a member that
    * matches some OTHER member (chain-shaped similarity — that regime
    * belongs to the full CC tier, q64). Oracle replicates bucket mins,
    * star edges, estimates, and the collapse; StarCollapseSpec pins
    * the candidate-count law (≤ n·bands) and q164 agreement on a
    * planted clustered corpus.
    *
    * Scale: one window over the high-cardinality (band_idx, band_key)
    * digest key (the q174 shape), one edge-sized verify join, two
    * aggregates — every intermediate is O(n·bands), never O(n·c). */
  def q183StarCollapse(spark: SparkSession, dir: String): DataFrame =
    starCollapse(plantedCorpus(spark, dir)).orderBy("rep")

  /** The reusable star-collapse core: (rep, cluster_size) for any
    * (doc_id, text) corpus under the portable md5 MinHash family. */
  def starCollapse(corpus: DataFrame, minEst: Double = 0.5): DataFrame = {
    // persist: sigs feed the band explode AND both sides of the verify
    // join (k hex strings per doc — ~512 B/doc at any scale)
    val sigs = portableSigs(corpus).persist()
    val bands = sigs.select(col("doc_id"),
      posexplode(portableBandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    // star edges: every bucket member points at its bucket's min id.
    // A window on the md5 band key, not a groupBy+self-join: buckets
    // are high-cardinality (the q174 digest-window precedent), so the
    // window parallelizes across buckets and reads the band rows once.
    val edges = bands
      .withColumn("bmin", min(col("doc_id"))
        .over(Window.partitionBy("band_idx", "band_key")))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"))
      .distinct()
    val verified = edges
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        // native match count — same integer as the HOF chain (q25 note)
        round(graft.functions.SigMatchCount.sigMatchCount(
          col("sig_a"), col("sig_b")).cast("double") / K, 6).as("est"))
      .filter(col("est") >= minEst)
      .select("a_id", "b_id")
    // q164's one-hop min-pointer collapse, single-pass members (one
    // explode — not a 4-way union that would re-evaluate the verify)
    val members = verified.select(explode(array(
      struct(col("a_id").as("doc_id"), col("b_id").as("peer")),
      struct(col("b_id").as("doc_id"), col("a_id").as("peer")),
      struct(col("a_id").as("doc_id"), col("a_id").as("peer")),
      struct(col("b_id").as("doc_id"), col("b_id").as("peer")))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.peer").as("peer"))
    members.groupBy("doc_id").agg(min("peer").as("rep"))
      .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
  }

  private[ops] def q183OracleSql: String = {
    s"""${portableOracleCtes()},
       |bmin AS (SELECT band_idx, band_key, min(doc_id) AS m
       |  FROM bands GROUP BY 1, 2),
       |star AS (SELECT DISTINCT bm.m AS a_id, b.doc_id AS b_id
       |  FROM bands b JOIN bmin bm USING (band_idx, band_key)
       |  WHERE b.doc_id <> bm.m),
       |est AS (SELECT e.a_id, e.b_id,
       |    round(($portableMatchExpr) / 16.0, 6) AS ej
       |  FROM star e JOIN sig sa ON sa.doc_id = e.a_id
       |              JOIN sig sb ON sb.doc_id = e.b_id),
       |p AS (SELECT a_id, b_id FROM est WHERE ej >= 0.5),
       |m AS (SELECT a_id AS doc_id, b_id AS peer FROM p
       |  UNION ALL SELECT b_id, a_id FROM p
       |  UNION ALL SELECT a_id, a_id FROM p
       |  UNION ALL SELECT b_id, b_id FROM p),
       |r AS (SELECT doc_id, min(peer) AS rep FROM m GROUP BY 1)
       |SELECT rep, count(*) AS cluster_size FROM r
       |GROUP BY rep ORDER BY rep""".stripMargin
  }

  // ---------------------------------------------------------------- q45
  /** q45 — ANN via IVF (inverted-file index), the classic scale path
    * next to LSH (q38): a coarse quantizer of nCells centroid vectors
    * partitions the corpus into cells; a query probes only its nProbe
    * nearest cells and computes exact cosine there.
    *
    * The coarse quantizer is TRAINED: [[Clustering.kmeansFit]] (the
    * q108 distributed Lloyd's) fits 16 centroids on the corpus itself,
    * so cells track the data's actual density instead of whichever
    * vectors happened to carry ids 1..16. Everything stays DataFrame
    * ops: the fitted centroids are a broadcast dimension table, cell
    * assignment is a broadcast join + min_by argmin on L2 (the metric
    * k-means optimized — assignment and training must agree or cell
    * boundaries are inconsistent), and the probe is a broadcast
    * semi-join on cell id. At 100 TB the cell id becomes the partition
    * key, so a query touches nProbe/nCells of the data. */
  def q45AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nProbe = 4
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // The quantizer trains on a DETERMINISTIC BOUNDED hash-sample
    // (Clustering.trainingSample: ≤ 256·k vectors, the Faiss practice
    // — a coarse quantizer needs the density shape, not every vector).
    // Until r11 this was a fixed 25% FRACTION, i.e. Lloyd rounds that
    // grew with the corpus — the opposite of what sample training is
    // for. The FULL corpus is still assigned to cells below. The
    // fitted centroids are COLLECTED (k·d doubles, the model
    // artifact): until r11 they stayed a checkpointed DataFrame and
    // assignment was a 16-way crossJoin EXPAND + a corpus-sized
    // groupBy(vec_id) shuffle + a join back to recover `e` — three
    // data-sized exchanges. With driver-held centroids (the q199
    // pattern) assignment is ONE in-row argmin and the corpus never
    // shuffles; nearestCentroid ≡ the min_by form (ClusteringSpec).
    // The training sample is PERSISTED across the Lloyd rounds (the
    // ivfIndex posture): kmeansFit scans its input once per round plus
    // init and audit.
    val cents = Clustering.fitCentroidsSampled(
      emb.select(col("vec_id").as("id"), col("e")),
      k = 16, dim = 64, maxIters = 4)
    // the query's nProbe nearest cells, ranked on the driver with the
    // SAME metric and (d2, cid) tie rule the engine-side
    // orderBy(qd, cell) used (l2sqLocal ≡ l2sq, ascending-index fold)
    val qvec = emb.filter(col("vec_id") === 0).select("e")
      .collect().headOption.map(_.getSeq[Double](0).toArray)
    val probeSet: Seq[Long] = qvec.toSeq.flatMap { qv =>
      cents.toSeq.map { case (cid, ce) => (cid, Clustering.l2sqLocal(qv, ce)) }
        .sortBy { case (cid, d) => (d, cid) }.take(nProbe).map(_._1)
    }
    // the probed-cell restriction is a BROADCAST SEMI-ish join, not an
    // isin FILTER: a deterministic filter on the UDF column pushes
    // below any repartition and the whole assignment then runs at
    // file-split parallelism (QTime at 1000×: one 6-task stage holding
    // 73.8 of the query's 90 s) — the join keeps the argmin above the
    // exchange at full width. On a STORED cell column (q199's prebuilt
    // index) the pushdown is the point (partition pruning); here the
    // cell is computed, so there is nothing below to prune.
    val probeDf = probeSet.map(Tuple1(_)).toDF("cell")
    val qeDf = qvec.toSeq.map(v => Tuple1(v.toSeq)).toDF("qe")
    emb.withColumn("cell",
        if (cents.isEmpty) lit(-1L)
        else Clustering.nearestCentroid(cents)(col("e"))("_1"))
      .join(broadcast(probeDf), "cell")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qeDf))
      .select(col("vec_id"), round(cosine(col("e"), col("qe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q175
  /** q175 — cross-source duplication matrix: which SOURCES copy from
    * each other. The q25 near-dup machinery runs on the RAW documents
    * table (no planted twins — the organic near-dups are the signal),
    * surviving pairs join the doc→source map, and the matrix counts
    * pairs per unordered source pair. This is the question corpus-level
    * LSH dedup usually exists to answer ("which crawls overlap"), and
    * it composes the declared sketch path end-to-end, oracle-checked.
    *
    * Scale: candidates are band-join pairs (never all-pairs); the
    * source map joins the PAIR table (pair-sized), not the corpus; the
    * final matrix is ≤ |sources|² rows. */
  def q175SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = portablePairs(Pins.forPlan, Layout.spread(docs.select("doc_id", "text")))
      .select("a_id", "b_id")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")), "b_id")
      .select(least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .groupBy("source_1", "source_2")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_1", "source_2")
  }

  private[ops] def q175OracleSql: String = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""${portableOracleCtes("  SELECT doc_id, text FROM documents")},
       |est AS (SELECT c.a_id, c.b_id, ($matches) / 16.0 AS est
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |              JOIN sig sb ON sb.doc_id = c.b_id),
       |hit AS (SELECT a_id, b_id FROM est WHERE est >= 0.5),
       |sp AS (SELECT least(da.source, db.source) AS source_1,
       |              greatest(da.source, db.source) AS source_2
       |  FROM hit h JOIN documents da ON da.doc_id = h.a_id
       |             JOIN documents db ON db.doc_id = h.b_id)
       |SELECT source_1, source_2, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q25/q42's oracles use the portable md5 MinHash family, q41's the
    * portable md5-bit-vote SimHash family. */
  val declared: Seq[Declared] = Seq(
    Declared("q25_near_dup", q25NearDup, Some(q25OracleSql)),
    Declared("q26_cosine_topk", q26CosineTopK, Some(
      """WITH q AS (
        |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS qv,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings WHERE vec_id <> 0),
        |d AS (
        |  SELECT s.vec_id, sum(s.v * q.qv) AS dp, sum(s.v * s.v) AS na,
        |         sum(q.qv * q.qv) AS nb
        |  FROM s JOIN q USING (pos) GROUP BY s.vec_id)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
        |FROM d ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),
    Declared("q38_ann_lsh", q38AnnLsh, None), // float sketch: hyperplane sign bands
    Declared("q39_embed_near_dup", q39EmbedNearDup, None), // float sketch: hyperplane sign bands
    Declared("q41_simhash", q41SimHash, Some(q41OracleSql)),
    Declared("q42_ngram_jaccard", q42NgramJaccard, Some(q42OracleSql)),
    Declared("q45_ann_ivf", q45AnnIvf, None), // k-means fixpoint: IVF cells
    Declared("q153_incremental_dedup", q153IncrementalDedup, Some(q153OracleSql)),
    Declared("q164_dup_clusters", q164DupClusters, Some(q164OracleSql)),
    Declared("q175_source_overlap", q175SourceOverlap, Some(q175OracleSql)),
    Declared("q183_star_collapse", q183StarCollapse, Some(q183OracleSql)))
}
