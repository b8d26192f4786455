package graft.ops

import graft.{Declared, Layout, Pins, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** q121–q125 — round-4 analytics/pipeline additions, all DuckDB-oracle
  * checked:
  *
  *  - q121 robust outliers (median/MAD — the rank-based cousin of q71's
  *    z-score, immune to the outliers it hunts)
  *  - q122 PPS systematic sampling (integer-exact weighted sampling —
  *    the deterministic replacement for weighted reservoir sampling)
  *  - q123 group-wise least-squares trend (slope from exact decimal
  *    sums, one IEEE division at the end)
  *  - q124 per-group equi-depth histogram (ntile deciles)
  *  - q125 EXACT set-similarity join via prefix filtering (PPJoin-style
  *    candidate pruning with a brute-force SQL oracle — the exact
  *    measure the q25/q42 sketches approximate, now oracle-checked)
  */
object Extended4 {

  // ---------------------------------------------------------------- q121
  /** q121 — median/MAD robust outliers per brand: flag lineitems whose
    * |price − median| exceeds 2× the median absolute deviation (the driver corpus is bounded-uniform, so 3× is empty). Mean/
    * stddev (q71) move WITH contamination; median/MAD don't — this is
    * the filter a data-quality gate actually wants. Two grouped exact
    * medians (Spark `median` ≡ DuckDB `median`: both interpolate the
    * even-count midpoint identically on doubles); deviations compare in
    * IEEE doubles on both engines bit-identically. Shuffles only
    * (brand, price) pairs and the 25-row per-brand stats. */
  def q121MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      // the brand-tagged fact feeds THREE consumers (median, MAD, and
      // the final filter) — materialize the scan+join once instead of
      // three times
      .pipe(ScaleOps.stageCheckpoint)
    val med = li.groupBy("p_brand")
      .agg(median(col("l_extendedprice")).as("med"))
    val mad = li.join(broadcast(med), "p_brand")
      .groupBy("p_brand")
      .agg(first("med").as("med"),
        median(abs(col("l_extendedprice") - col("med"))).as("mad"))
    li.join(broadcast(mad), "p_brand")
      .filter(abs(col("l_extendedprice") - col("med")) > col("mad") * 2.0)
      .select(col("p_brand"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .orderBy("p_brand", "l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q122
  /** q122 — probability-proportional-to-size systematic sampling: k=20
    * documents drawn with probability ∝ n_chars, INTEGER-EXACT. The
    * running weight sum (sharded prefix sum — never a global window
    * over the corpus) lays documents on a number line; a stride of
    * total/k selects every document whose interval contains a stride
    * boundary. No floats anywhere, so any engine reproduces the exact
    * sample — the deterministic, shuffle-light replacement for weighted
    * reservoir sampling (whose u^(1/w) keys are float-ordering-fragile
    * across engines). A doc with w ≥ stride can contain several
    * boundaries; n_hits records multiplicity (upweighting, like any
    * PPS estimator). */
  def q122PpsSample(spark: SparkSession, dir: String): DataFrame =
    ppsSample(Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("w")))

  /** Core of q122 over any (doc_id, w) frame — cross-impl-pinned by
    * SamplingCrossImplSpec on generated weights incl. zero-weight
    * docs, a giant doc spanning multiple strides, and a total < k
    * corpus (the stride-1 guard regime). */
  private[graft] def ppsSample(docs: DataFrame): DataFrame = {
    val k = 20
    val cum = ScaleOps.shardedCumSum(docs, "doc_id", "w", "cum_w", 16)
    // stride boundaries at s, 2s, ..., ks with s = total div k (integer);
    // doc owns (cum_w - w, cum_w] — it is sampled once per boundary inside.
    // max(1, ·) guards total < k: stride 0 would make Spark's `div 0`
    // yield NULL (silently empty sample) while the DuckDB oracle's `// 0`
    // raises — divergent degenerate behavior (ADVICE r4). The oracle SQL
    // applies the same greatest(1, ·) so both engines agree on tiny input.
    val total = docs.agg(sum("w")).head().getLong(0)
    val stride = math.max(1L, total / k)
    cum
      // `div`, not `/`: Spark's / on longs is DOUBLE division, and a
      // boundary decided by a float is a boundary that drifts at scale
      .withColumn("n_hits",
        expr(s"cum_w div $stride") - expr(s"(cum_w - w) div $stride"))
      .filter(col("n_hits") > 0)
      .select(col("doc_id"), col("w"), col("cum_w"), col("n_hits"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q123
  /** q123 — group-wise least-squares trend: the revenue slope per order
    * priority over monthly buckets. Slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    * where x = month index (exact int) and y = order totalprice (exact
    * decimal) — every sum is exact, so the slope is ONE IEEE division
    * of two exactly-agreed numerators (the q71/SCALING determinism
    * rule: never let float accumulation order near a comparison or a
    * published number). One partial+final aggregate pass; no window. */
  def q123RegrTrend(spark: SparkSession, dir: String): DataFrame = {
    val x = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      .cast("long")
    val y = col("o_totalprice").cast("decimal(18,2)")
    // every sum ACCUMULATES in decimal — the cast sits INSIDE sum(), not
    // after it: x ≈ 24000 so x² ≈ 5.7e8, and at ~1e12 rows sum(x*x) as a
    // long silently wraps past Long.MaxValue while DuckDB accumulates in
    // hugeint (128-bit) — a post-aggregation cast would launder the
    // wrapped value instead of preventing the wrap (ADVICE r4)
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), x.as("x"), y.as("y"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(col("x").cast("decimal(20,0)")).cast("decimal(20,0)").as("sx"),
        sum(col("x").cast("decimal(20,0)") * col("x"))
          .cast("decimal(30,0)").as("sxx"),
        sum(col("y")).cast("decimal(30,2)").as("sy"),
        sum(col("y") * col("x").cast("decimal(18,0)"))
          .cast("decimal(32,2)").as("sxy"))
      .select(col("o_orderpriority"), col("n").cast("long").as("n"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          6).as("slope"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q124
  /** q124 — per-group equi-depth histogram: order-value deciles within
    * each order priority (ntile(10) on the (value, key) total order —
    * the unique key makes tiling deterministic), then per-tile count /
    * min / max. Equi-WIDTH (q66) answers "how many per range";
    * equi-DEPTH answers "what range per quantile" — the form optimizers
    * and data-drift monitors keep. Exact ntile semantics, computed from
    * a sharded global rank so no ≤5-reducer window touches the fact
    * table (see body comment). */
  def q124EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    // A direct ntile(10) OVER (PARTITION BY o_orderpriority ...) funnels
    // the whole orders table through ≤5 reducers — the exact shape the
    // round-6 plan audit forbids (PlanAuditSpec). Rewritten on the
    // q141/q151/q162 sharded-rank idiom: price-range shards give a
    // per-(priority, shard) row_number (high-cardinality window), a
    // broadcast ≤5×33-row offset table lifts it to the exact global rank,
    // and ntile's bucket assignment is a closed-form map over (rank, cnt)
    // — first cnt%10 tiles hold ⌈cnt/10⌉ rows, the rest ⌊cnt/10⌋ —
    // so no low-cardinality window ever touches the fact table.
    val nShards = 32
    // no persist: the frame is consumed by three narrow pushed-
    // projection scans (bounds, offsets, ranked side); caching it would
    // outlive the lazy result with no unpersist hook (ADVICE r7), and
    // at scale three 3-column scans beat holding the fact table in
    // cache
    val df = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val bounds = df.groupBy("o_orderpriority")
      .agg(min(col("o_totalprice").cast("double")).as("__lo"),
        max(col("o_totalprice").cast("double")).as("__hi"),
        count(lit(1)).as("__cnt"))
      .withColumn("__width",
        greatest((col("__hi") - col("__lo")) / nShards, lit(1e-9)))
    // shard is monotone in price and constant on price ties, so
    // (shard, price, orderkey) order ≡ (price, orderkey) order
    val sharded = df.join(broadcast(bounds), "o_orderpriority")
      .withColumn("__shard", least(
        floor((col("o_totalprice").cast("double") - col("__lo")) / col("__width")),
        lit(nShards.toLong)))
    val wIn = Window.partitionBy("o_orderpriority", "__shard")
      .orderBy("o_totalprice", "o_orderkey")
    val wOff = Window.partitionBy("o_orderpriority").orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy("o_orderpriority", "__shard")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__offset", coalesce(sum("__c").over(wOff), lit(0L)))
      .select(col("o_orderpriority"), col("__shard"), col("__offset"))
    // integer division (IntegralDivide) end to end: a tile boundary
    // must never be decided by a float (the q136/q166 rule — Column `/`
    // on longs is double division, exact only within 2^53; ADVICE r7).
    // CaseWhen evaluates lazily, so the qq = 0 branch (cnt < 10) is
    // never reached: there rem = cnt, big = 1, and every rank takes the
    // first arm.
    val idiv = (a: Column, b: Column) => call_function("div", a, b)
    val tiles = lit(10L)
    val qq = idiv(col("__cnt"), tiles)            // small-tile size
    val rem = col("__cnt") % tiles                // number of big tiles
    val big = qq + 1                              // big-tile size
    val rank = col("__offset") + col("__rn")
    val decile = when(rank <= big * rem, idiv(rank - 1, big) + 1)
      .otherwise(rem + idiv(rank - big * rem - 1, qq) + 1)
    sharded
      .withColumn("__rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq("o_orderpriority", "__shard"))
      .withColumn("decile", decile.cast("int"))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("lo"),
        max("o_totalprice").as("hi"))
      .orderBy("o_orderpriority", "decile")
  }

  // ---------------------------------------------------------------- q125
  /** q125 — EXACT set-similarity self-join (Jaccard ≥ 0.6 on distinct
    * word-3-gram STRING sets) via prefix filtering — PPJoin's candidate
    * rule (Xiao et al., WWW'08): order every doc's grams by global
    * rarity; two sets with Jaccard ≥ t MUST share a gram within their
    * first |s| − ⌈t·|s|⌉ + 1 rarest grams, so only prefix grams enter
    * the equi-join. No sketch, no false negatives — the exact measure
    * q25/q42 approximate, checked here against a brute-force all-pairs
    * DuckDB oracle (the oracle can afford n² at sf; the engine path is
    * the one that scales).
    *
    * Scale: the join key is a SINGLE rare gram hash; candidates ≈
    * Σ_prefix-gram df² stays near-linear because prefixes hold the
    * RAREST grams by construction.
    *
    * The whole pipeline — ranking, candidates, verify — runs on 64-bit
    * GRAM HASHES, never strings, which is what makes it 100 TB-shaped
    * (8 B per gram on the wire and in the broadcast; the verify is the
    * native codegen'd `jaccard_sorted`, no UDF boundary). Hashing stays
    * EXACT, not approximate, via an injectivity certificate: the rarity
    * aggregate (which already groups every corpus gram) also counts
    * distinct gram STRINGS per hash; max = 1 proves xxhash64 is
    * injective on this corpus, so hash-set Jaccard ≡ string-set Jaccard
    * identically. On the ~2⁻⁶⁴-odds certificate failure the verify
    * falls back to the string-array two-pointer path ([[jaccardSortedAbort]]
    * — the round-3 implementation). Candidate generation needs no
    * branch: hash-set Jaccard ≥ string-set Jaccard (collisions only
    * merge), so hash-PPJoin candidates are complete in both worlds. */
  /** Exact Jaccard of two SORTED distinct string arrays with threshold
    * early-abort: two-pointer merge (each comparison usually exits on
    * the first character; no per-pair hash set like `array_intersect`
    * builds — measured 52 CPU-s → ~8 for the q125 verify), returning
    * −1 as soon as the remaining elements cannot reach
    * α = ⌈t(|a|+|b|)/(1+t)⌉ (the intersection a Jaccard ≥ t needs).
    * Pairs at or above t always get their exact value — the abort can
    * only fire on pairs the filter would drop anyway. */
  private def jaccardSortedAbort(t: Double) = udf {
    (a: Seq[String], b: Seq[String]) =>
      val na = a.length; val nb = b.length
      // −1e-9: the float α must never round UP past the true threshold
      // (that would abort an exactly-at-t pair); erring low only makes
      // the abort less aggressive, never wrong
      val alpha = math.ceil(t * (na + nb) / (1.0 + t) - 1e-9)
      var i = 0; var j = 0; var inter = 0
      var live = true
      while (live && i < na && j < nb) {
        if (inter + math.min(na - i, nb - j) < alpha) live = false
        else {
          val c = a(i).compareTo(b(j))
          if (c == 0) { inter += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
      }
      if (!live) -1.0
      else inter.toDouble / (na + nb - inter)
  }

  def q125SetSimJoin(spark: SparkSession, dir: String): DataFrame = Pins.scoped { p =>
    val t = 0.6
    // the planted corpus comes spread: the per-doc gram build
    // (tokenize + distinct + sort) is the query's heaviest map work —
    // measured 5.9 s on 2 tasks vs sub-second spread wide
    val corpus = Similarity.plantedCorpus(spark, dir)
    val tokd = corpus
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    // hset: the doc's gram set as sorted distinct 64-bit hashes — the
    // representation every downstream stage runs on. The hash is the
    // MULTI-ARG xxhash64 over the token triple, so no gram string is
    // ever concatenated, dedup'd, or sorted here (string-array
    // construction was 15 CPU-s of the build; all-long in-row ops are
    // ~6). The distinct is a no-op under the injectivity certificate
    // but keeps hset a true SET even on certificate failure.
    //
    // EAGER stage boundary, not a lazy persist: the table feeds the
    // rarity count, the prefix build, and BOTH verify broadcasts.
    // Broadcast subtrees build on concurrent driver threads, so a lazy
    // cache lets all of them race past the unpopulated cache and each
    // re-run the full build (measured: 52 CPU-s of a 78 CPU-s query
    // were duplicate gram builds; eager: built once).
    val hsets = tokd
      .select(col("doc_id"), array_sort(array_distinct(
        TextOps.wordGrams(col("t"), 3, ws => xxhash64(ws: _*)))).as("hset"))
      .pipe(p.checkpoint)
    // global rarity ORDER (occurrence count asc, hash asc) — the prefix
    // rule needs any consistent total order, NOT dense ranks, so no
    // global row_number window ever materializes: the per-doc window
    // sorts by (df, gh) directly. The SAME aggregate doubles as the
    // injectivity certificate: the gram STRING is built here, once, in
    // a streaming explode (never stored in an array), and nd counts
    // distinct strings per hash — max(nd) = 1 PROVES hash-set Jaccard
    // ≡ string-set Jaccard on this corpus (token text is space-free,
    // so the space-joined string is injective in the triple, and the
    // multi-arg hash below groups exactly by triple).
    val dfreq = tokd
      .select(col("doc_id"), posexplode(
        TextOps.wordGrams(col("t"), 3, ws =>
          struct(xxhash64(ws: _*).as("gh"), TextOps.joined(ws).as("g"))))
        .as(Seq("pos", "e")))
      .groupBy(col("e.gh").as("gh"))
      .agg(count(lit(1)).as("df"), countDistinct(col("e.g")).as("nd"))
      .pipe(p.checkpoint) // feeds cert probe + prefix broadcast
    // the certificate probe: one aggregate over the O(vocab) rarity
    // table (28k rows at sf0.1) — NOT a data-sized collect
    val injective =
      dfreq.agg(max(col("nd"))).head().getLong(0) <= 1L
    // prefix grams: the |s| − ceil(t·|s|) + 1 rarest grams of each doc
    val wDoc = Window.partitionBy("doc_id").orderBy("df", "gh")
    val prefix = hsets
      .select(col("doc_id"), size(col("hset")).as("sz"),
        explode(col("hset")).as("gh"))
      .join(broadcast(dfreq.select("gh", "df")), "gh") // O(vocab) — ships once
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("sz"), col("rn"), col("gh"))
      // eager too: both sides of the candidate self-join read this —
      // tiny (4 numeric cols × prefix rows), rebuilt twice otherwise
      .pipe(p.checkpoint)
    // candidates: shared prefix gram + PPJoin's two cheap filters —
    //  size:       J ≥ t ⟹ t·|a| ≤ |b| ≤ |a|/t
    //  positional: a match at prefix positions (rna, rnb) bounds the
    //              overlap by 1 + min(sza−rna, szb−rnb) (everything
    //              before the matched gram in the rarity order is
    //              disjoint or already counted), which must reach
    //              α = ⌈t(sza+szb)/(1+t)⌉ — late-prefix-only matches
    //              die before verification.
    // A pair matching on ANY early-enough gram still survives via that
    // occurrence, so neither filter can drop a true pair.
    val alpha = ceil((col("sza") + col("szb")) * (t / (1.0 + t)) - 1e-9)
    val cand = prefix.select(col("gh"), col("doc_id").as("a_id"),
        col("sz").as("sza"), col("rn").as("rna"))
      .join(prefix.select(col("gh"), col("doc_id").as("b_id"),
        col("sz").as("szb"), col("rn").as("rnb")), "gh")
      .filter(col("a_id") < col("b_id") &&
        col("szb") >= ceil(col("sza") * t) && col("sza") >= ceil(col("szb") * t) &&
        lit(1) + least(col("sza") - col("rna"), col("szb") - col("rnb"))
          >= alpha)
      .select("a_id", "b_id").distinct()
      // re-spread AND materialize: candidate rows are tiny (16 B) so AQE
      // coalesces the distinct to ~2 partitions, serializing the
      // expensive two-pointer verify below onto 2 cores (measured
      // 16.9 CPU-s on 2 tasks). A bare repartition on the distinct keys
      // is removed as redundant by the optimizer, so the eager stage
      // boundary is what actually pins the spread — partition count
      // follows the corpus the VERIFY reads, not the candidates' size.
      .repartition(Layout.spreadParts(corpus), col("a_id"), col("b_id"))
      .pipe(p.checkpoint)
    // verify against BROADCAST gram sets: the gram table is O(corpus)
    // rows but each candidate pair would otherwise drag both arrays
    // through a shuffle (measured 2×~2.4 GB at sf0.1 — the whole cost
    // of the query). Corpus-side arrays broadcast once per executor
    // instead; both joins broadcast the IDENTICAL subtree (the rename
    // happens AFTER each join, outside the exchange) so ReuseExchange
    // serializes it once. Certified-injective (always, in practice):
    // the native codegen'd jaccard_sorted over the 8-B hash arrays —
    // replacing the string-array UDF cut the verify from 89 CPU-s to
    // ~2 (no per-pair UnsafeArray→Seq[String] materialization) and the
    // broadcast from ~0.9 GB of strings to ~0.5 GB of longs.
    val verified =
      if (injective) {
        cand
          .join(broadcast(hsets), col("a_id") === col("doc_id"))
          .withColumnRenamed("hset", "ha").drop("doc_id")
          .join(broadcast(hsets), col("b_id") === col("doc_id"))
          .withColumnRenamed("hset", "hb").drop("doc_id")
          .select(col("a_id"), col("b_id"),
            graft.functions.JaccardSorted.jaccardSorted(col("ha"), col("hb"))
              .as("j0"))
      } else {
        // certificate failed (a real xxhash64 collision in the corpus
        // vocabulary): exact STRING verify — gram-string sets are built
        // here, in the only world that ever reads them
        val gsets = tokd.select(col("doc_id"), array_sort(array_distinct(
          TextOps.wordGrams(col("t"), 3, TextOps.joined))).as("grams"))
          .pipe(p.checkpoint)
        cand
          .join(broadcast(gsets), col("a_id") === col("doc_id"))
          .withColumnRenamed("grams", "ga").drop("doc_id")
          .join(broadcast(gsets), col("b_id") === col("doc_id"))
          .withColumnRenamed("grams", "gb").drop("doc_id")
          .select(col("a_id"), col("b_id"),
            jaccardSortedAbort(t)(col("ga"), col("gb")).as("j0"))
      }
    verified
      .filter(col("j0") >= t)
      .select(col("a_id"), col("b_id"), round(col("j0"), 6).as("jaccard"))
      // the closing orderBy range-partitions, and RangePartitioner's
      // sampling job EVALUATES the child — without a boundary here the
      // whole verify subtree runs twice (once to sample, once to
      // shuffle). The surviving pairs are a few thousand rows; this
      // checkpoint is the result's, the scope releases the ones above.
      .pipe(ScaleOps.stageCheckpoint)
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q126
  /** q126 — per-source document cap ("domain capping", the web-corpus
    * curation op): keep the k=10 documents per source with the smallest
    * md5(doc_id) — a deterministic, engine-reproducible "random" draw
    * (q72's portability rationale).
    *
    * NOT a window: a hot domain (at 100 TB one source can be 10⁹ docs)
    * would serialize through its partition's sort. [[TopKAgg]] keeps
    * the cap map-side — every task crosses the wire with ≤ k rows PER
    * SOURCE regardless of source size, and the final merge is O(k·
    * sources). The rank key is the first 12 hex digits of the md5 as
    * an exact 48-bit numeric (lexicographic ≡ numeric for fixed-width
    * lowercase hex, so the DuckDB oracle orders by the same prefix
    * string; doc_id breaks the ~2⁻⁴⁸ prefix ties identically). */
  def q126SourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.documents(spark, dir))

  /** Core of q126 over any (source, doc_id) frame — cross-impl-pinned
    * by SamplingCrossImplSpec (sources under the cap, singleton
    * sources): TopKAgg's bounded heap must equal a full sort-take. */
  private[graft] def sourceCap(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = 10
    val topk = new graft.ops.TopKAgg(k).toColumn
    docs
      .select(col("source"), col("doc_id"),
        // negated: TopKAgg keeps LARGEST ord, the cap wants smallest hash
        -conv(substring(
            md5(col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
          .cast("double").as("ord"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => TopKEntry(r._3, r._2))
      .agg(topk.name("top"))
      .toDF("source", "top")
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.id").as("doc_id"))
      .orderBy("source", "rnk")
  }

  // ---------------------------------------------------------------- q127
  /** q127 — vocabulary-coverage quality score: the fraction of each
    * document's tokens outside the corpus' top-50 vocabulary (count
    * desc, token asc — a deterministic total order, so the boundary
    * tie is engine-stable). High OOV rate ⇒ noise/junk in a curation
    * gate. All counts are exact integers; the single division is one
    * IEEE op rounded to 6 places on both engines. Scale: tokens
    * shuffle once to count the vocab (partial agg does the heavy
    * lifting), the 50-row result rides the plan as a literal, and the
    * per-doc score is in-row HOF arithmetic — no window, no scoring
    * shuffle, no array state. */
  def q127OovScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toksCol = TextOps.tokens(col("text"))
    // the vocab aggregate is fully distributed (partial+final on the
    // token key); only its 50-row RESULT reaches the driver — the same
    // bounded-scalar discipline as q122's stride. Baked into the plan
    // as a literal, scoring below is pure in-row arithmetic: no second
    // token explode, no 36M-row scoring join (measured: 3.7 s → ~2 s).
    val vocab = docs.select(explode(toksCol).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(50)
      .select("tok").collect().map(_.getString(0))
    val vlit = array(vocab.map(lit): _*)
    docs
      .select(col("doc_id"), toksCol.as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), x => !array_contains(vlit, x))).cast("long")
          .as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .cachedOrderBy("doc_id")
  }

  // ---------------------------------------------------------------- q128
  /** q128 — inter-document duplicate n-gram fraction (the Gopher-style
    * corpus-redundancy metric): per document, the share of its DISTINCT
    * word 3-grams that also occur in at least one other document.
    * Counts are exact integers over gram STRINGS (the sf oracle is a
    * direct DuckDB mirror); at 100 TB this runs on hashed grams under
    * q125's injectivity certificate, with the same plan shape. Scale:
    * grams explode once (streaming — never held as arrays), the
    * doc-frequency aggregate is partial+final on the gram key, and the
    * per-doc roll-up shuffles (doc_id, flag) pairs only. */
  def q128DupGramRate(spark: SparkSession, dir: String): DataFrame = {
    val grams = TextOps.gramRows(Tables.documents(spark, dir), 3)
      // the exploded gram table feeds both the doc-frequency aggregate
      // and the scoring probe — materialize once (q125's diamond rule)
      .pipe(ScaleOps.stageCheckpoint)
    // per-doc-distinct explode ⇒ count(g) == number of docs carrying g
    val docFreq = grams.groupBy("g").agg(count(lit(1)).as("ndocs"))
    grams.join(broadcast(docFreq), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_rate"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q129
  /** q129 — deterministic epoch shuffle: the "global shuffle before
    * training" step. Every document gets a pseudo-random but
    * engine-reproducible position — shard = first md5 hex char (16
    * shards), in-shard order by (md5, doc_id) — so any two runs (or
    * engines) materialize the IDENTICAL epoch order, resumable
    * mid-epoch from (shard, pos). Scale: the md5 equidistributes
    * doc_ids, so the shard windows are balanced BY CONSTRUCTION (the one
    * window family where per-partition sort is safe at 100 TB because
    * the hash bounds the partition, not the data's own skew); writing
    * shard files afterwards is a partitionBy("shard") append. */
  def q129EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir))

  /** Core of q129 over any frame with a doc_id — cross-impl-pinned by
    * SamplingCrossImplSpec on generated corpora. */
  private[graft] def epochShuffle(docs: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", substring(col("h"), 1, 1))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q129_epoch_shuffle", q129EpochShuffle, Some(
      """WITH d AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT substr(h, 1, 1) AS shard,
        |       row_number() OVER (PARTITION BY substr(h, 1, 1)
        |                          ORDER BY h, doc_id) AS pos,
        |       doc_id
        |FROM d ORDER BY shard, pos""".stripMargin)),
    Declared("q126_source_cap", q126SourceCap, Some(
      """SELECT source, rnk, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12),
        |                    doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin)),
    Declared("q127_oov_score", q127OovScore, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM toks GROUP BY tok
        |  ORDER BY count(*) DESC, tok LIMIT 50)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS oov_rate
        |FROM toks t LEFT JOIN vocab v USING (tok)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),
    Declared("q128_dup_gram_rate", q128DupGramRate, Some(
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
        |df AS (SELECT g, count(*) AS ndocs FROM gr GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  round(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS dup_rate
        |FROM gr JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Declared("q121_mad_outliers", q121MadOutliers, Some(
      """WITH li AS (
        |  SELECT p_brand, l_orderkey, l_linenumber, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |med AS (
        |  SELECT p_brand, median(l_extendedprice) AS med
        |  FROM li GROUP BY 1),
        |mad AS (
        |  SELECT li.p_brand, any_value(med) AS med,
        |         median(abs(l_extendedprice - med)) AS mad
        |  FROM li JOIN med USING (p_brand) GROUP BY 1)
        |SELECT li.p_brand, l_orderkey, l_linenumber, l_extendedprice
        |FROM li JOIN mad USING (p_brand)
        |WHERE abs(l_extendedprice - med) > mad * 2.0
        |ORDER BY p_brand, l_orderkey, l_linenumber""".stripMargin)),
    Declared("q122_pps_sample", q122PpsSample, Some(
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |         sum(CAST(n_chars AS BIGINT))
        |           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_w
        |  FROM documents),
        |s AS (SELECT greatest(1, sum(CAST(n_chars AS BIGINT)) // 20) AS stride
        |      FROM documents)
        |SELECT doc_id, w, CAST(cum_w AS BIGINT) AS cum_w,
        |       CAST(cum_w // stride - (cum_w - w) // stride AS BIGINT) AS n_hits
        |FROM d, s
        |WHERE cum_w // stride - (cum_w - w) // stride > 0
        |ORDER BY doc_id""".stripMargin)),
    Declared("q123_regr_trend", q123RegrTrend, Some(
      """WITH o AS (
        |  SELECT o_orderpriority,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |              AS BIGINT) AS x,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        |  round(
        |    CAST(count(*) * sum(y * CAST(x AS DECIMAL(18,0)))
        |         - sum(x) * sum(y) AS DOUBLE) /
        |    CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE),
        |  6) AS slope
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)),
    Declared("q124_equidepth_hist", q124EquidepthHist, Some(
      """SELECT o_orderpriority, CAST(decile AS INT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n,
        |       min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |         ntile(10) OVER (PARTITION BY o_orderpriority
        |                         ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Declared("q125_set_sim_join", q125SetSimJoin, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' planted near duplicate suffix'
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS grams
        |  FROM (
        |    SELECT doc_id,
        |           list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '') AS t
        |    FROM corpus)
        |  WHERE len(t) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |        (len(a.grams) + len(b.grams)
        |         - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams)
        |       - len(list_intersect(a.grams, b.grams))) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin)))
}
