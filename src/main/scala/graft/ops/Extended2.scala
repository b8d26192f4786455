package graft.ops

import graft.{Declared, Tables}
import graft.ops.Out.SortOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q67–q73: the third wave — interval algebra, TF-IDF scoring, SCD-2
  * history building, bloom-pruned joins, statistical anomaly detection,
  * portable deterministic sampling, and bigram language-model counts.
  * Same determinism contract as [[Extended]]: total ORDER BY, exact
  * decimal (or integer) aggregation with double emitted only at the
  * end, and every double derived through an expression tree mirrored
  * verbatim in the DuckDB oracle (IEEE-754 ops are exactly rounded, so
  * identical trees yield identical bits).
  */
object Extended2 {

  /** q67 — overlapping-interval coalescing (interval union): each order
    * opens a VARIABLE-length validity interval; per customer, transitively
    * overlapping intervals merge into spans. Unlike gap sessionization
    * (q30) an early long interval can swallow many later short ones, so
    * the island test needs the running MAX of interval ends — a cumulative
    * max window, not a lag. All integer arithmetic (epoch micros).
    *
    * Scale: one shuffle on the partition key; windows + the final agg
    * share that partitioning, so Catalyst plans a single Exchange. */
  def q67IntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val iv = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("s"))
      .withColumn("e",
        col("s") + (pmod(col("o_orderkey"), lit(90L)) + 1L) * dayUs)
    val wMax = Window.partitionBy("o_custkey").orderBy("s", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIsl = Window.partitionBy("o_custkey").orderBy("s", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("pmax", max(col("e")).over(wMax))
      .withColumn("island",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1L)
          .otherwise(0L)).over(wIsl))
      .groupBy(col("o_custkey"), col("island"))
      .agg(min("s").as("span_start_us"), max("e").as("span_end_us"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey", "island")
  }

  /** q68 — TF-IDF term scoring: tf per (doc, term), df per term, and a
    * linear inverse-document-frequency score tf·N/df (the log-free
    * variant — logs are libm-dependent and would break bit-exact float
    * parity with the oracle; the RANKING is what matters and N/df is
    * monotone in 1/df exactly like log(N/df)). Top-3 terms per doc with
    * a total (score desc, token) tiebreak.
    *
    * Scale: tf and df are two partial+final aggregates over the token
    * stream; N broadcasts as a 1-row agg (never collected); the final
    * per-doc top-k is a window over (doc, term) pairs — text itself
    * never shuffles past tokenization. */
  def q68Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select("doc_id", "text")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // df = how many tf rows share the token — computed as a count over a
    // token-partitioned window on the tf frame itself, NOT as a separate
    // aggregate joined back. That keeps the DAG linear: a tf→df→join
    // diamond would evaluate the tokenization lineage (the expensive
    // regex pass over all text) once per branch; here text is tokenized
    // exactly once and every later hop shuffles only the compact
    // (doc, term, tf) rows.
    val wDf = Window.partitionBy("token")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .join(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"),
        col("df"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** q69 — SCD Type-2 history build (the CDC/warehouse primitive): per
    * user, collapse the event stream into `event_type` VERSIONS — one
    * row per change, valid from its first occurrence until the next
    * change (open version → null valid_to). lag detects the change
    * points, lead closes each version; both windows share one
    * partitioning, so the plan carries a single shuffle. */
  def q69Scd2(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(wOrd))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("us").as("valid_from_us"), col("valid_to_us"))
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  /** q70 — bloom-filter-pruned join: build a Bloom filter over the dim
    * side's join keys, pre-filter the FACT side with it before the
    * shuffle, then run the exact join (which removes the bloom's false
    * positives — the result is bit-identical to the plain join, proven
    * against the plain-join oracle). At 100 TB this is the difference
    * between shuffling every fact row and shuffling only the ~selectivity
    * fraction that can possibly match; Spark's own runtime row-level
    * filtering (`spark.sql.optimizer.runtime.bloomFilter.enabled`) plays
    * the same trick inside AQE — this is the explicit, any-plan form.
    * The filter itself is a few MB regardless of data scale (built with
    * one aggregate, broadcast to every task). */
  def q70BloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.part(spark, dir)
      .filter(col("p_size") <= 5)
      .select("p_partkey", "p_brand")
    val bf = dim.stat.bloomFilter("p_partkey", 100000L, 0.01)
    val mightContain = udf((k: Long) => bf.mightContain(k))
    Tables.lineitem(spark, dir)
      .filter(mightContain(col("l_partkey")))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"))
      .orderBy("p_brand")
  }

  /** q71 — statistical anomaly detection: flag events whose value is
    * more than 2 population-adjusted standard deviations from their
    * event_type's mean. Sums and sums-of-squares aggregate EXACTLY in
    * decimal (order-independent); mean/variance/z then derive in double
    * through the identical expression tree the oracle uses, so every
    * IEEE operation (and sqrt, exactly rounded per the standard) yields
    * the same bits. One aggregate + one broadcast join back — the fact
    * table is read once and never re-shuffled. */
  def q71ZscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("vdec"))
    val stats = ev.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"),
        sum(col("vdec")).as("sdec"),
        sum((col("vdec") * col("vdec")).cast("decimal(38,12)")).as("ssq"))
      // Round the exact decimal sums to scale 4 BEFORE the double cast:
      // a decimal converts bit-identically across engines only while
      // value·10^scale < 2^53 (DuckDB converts via double(scaled_int) /
      // double(10^scale); beyond 2^53 the scaled int itself rounds and
      // the result can differ 1 ulp from Spark's correctly-rounded
      // BigDecimal conversion). Scale-4 sums here stay < 2^53 by orders
      // of magnitude; the rounding itself is decimal-exact and identical
      // (HALF_UP == round-half-away-from-zero) on both sides.
      .withColumn("mean_d", round(col("sdec"), 4).cast("double") / col("n"))
      .withColumn("ex2", round(col("ssq"), 4).cast("double") / col("n"))
      .withColumn("sd", sqrt(
        (col("ex2") - col("mean_d") * col("mean_d"))
          * (col("n").cast("double") / (col("n") - 1L))))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("v", col("vdec").cast("double"))
      .withColumn("z", (col("v") - col("mean_d")) / col("sd"))
      .filter(abs(col("z")) > 2.0)
      .select(col("event_id"), col("event_type"), col("v"), col("z"))
      .orderBy("event_id")
  }

  /** q72 — portable deterministic sampling: 2 customers per market
    * segment chosen by the smallest md5 of the key's decimal string.
    * md5-of-UTF-8 is engine-independent — any system can reproduce the
    * exact sample, which is what a training-data lineage audit needs
    * (q47's stratified sampler adopted the same pattern in round 4).
    * Shuffle carries only (segment, key, name). */
  def q72Md5Sample(spark: SparkSession, dir: String): DataFrame =
    md5Sample(Tables.customer(spark, dir))

  /** Core of q72 over any (c_mktsegment, c_custkey, c_name) frame —
    * SamplingCrossImplSpec pins it against an independent driver-side
    * reimplementation on generated skewed/singleton segments. */
  private[graft] def md5Sample(cust: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy("h", "c_custkey")
    cust
      .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
        md5(col("c_custkey").cast("string").cast("binary")).as("h"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 2)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"),
        col("c_name"), col("h"))
      .orderBy("c_mktsegment", "rnk")
  }

  /** q73 — bigram language-model counts: adjacent token pairs built
    * inside the row from the per-doc token array (no positional
    * self-join), then a single aggregate counts pairs. Conditional
    * probability P(w2|w1) = cnt / Σ_w2 cnt from a window over the
    * (tiny) bigram vocabulary. Top-20 with a total tiebreak. */
  def q73BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val wTot = Window.partitionBy("w1")
    Tables.documents(spark, dir)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(TextOps.wordGrams(col("t"), 2, TextOps.pair)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .withColumn("w1_total", sum(col("cnt")).over(wTot))
      .withColumn("p_cond", col("cnt").cast("double") / col("w1_total"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** q74 — Z-order (Morton) clustering key: interleave the low 16 bits
    * of customer and order keys into one sort key ([[LayoutOps.zorderKey]]).
    * Emitted in (zkey, orderkey) order — the exact order a clustered
    * rewrite would lay rows out in, making any 2ᵏ×2ᵏ square of
    * (custkey, orderkey) space a contiguous run prunable by file-level
    * min/max stats on either dimension. Pure bitwise arithmetic — the
    * oracle replays the identical mask ladder. */
  def q74Zorder(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        LayoutOps.zorderKey(
          col("o_custkey").bitwiseAND(lit(65535L)),
          col("o_orderkey").bitwiseAND(lit(65535L))).as("zkey"))
      // NOT cachedOrderBy: the interleave is cheap bitwise arithmetic —
      // recomputing it costs less than caching a table-sized output
      // (measured r10)
      .orderBy("zkey", "o_orderkey")

  /** q75 — time-hierarchy rollup: event counts and exact sums at
    * (year, month, day), (year, month), (year), and grand-total levels
    * in ONE pass (rollup → a single Expand + aggregate; four separate
    * GROUP BYs would scan the fact table four times). Null group keys
    * from super-aggregate rows are coalesced to -1 (year/month/day are
    * always positive) for a total, type-stable ordering. */
  def q75TimeRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"),
        col("value").cast("decimal(18,6)").as("v"))
      .rollup("y", "m", "d")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("sum_value"))
      .select(coalesce(col("y"), lit(-1L)).as("y"),
        coalesce(col("m"), lit(-1L)).as("m"),
        coalesce(col("d"), lit(-1L)).as("d"),
        col("n_events"), col("sum_value"))
      .orderBy("y", "m", "d")

  /** q76 — blocked fuzzy duplicate detection (entity resolution):
    * near-miss NAME variants by edit distance. The scale shape:
    * collapse to DISTINCT names first (the value domain is orders of
    * magnitude smaller than the row count), block by first token so
    * the quadratic comparison runs only within blocks, keep pairs at
    * distance 1–3. Character-level fuzziness — the complement of
    * MinHash (token sets, q25) and SimHash (q41). */
  def q76FuzzyDedup(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
      .agg(count(lit(1)).as("cnt"))
    val a = names.select(col("p_name").as("name_a"), col("blk"),
      col("cnt").as("cnt_a"))
    val b = names.select(col("p_name").as("name_b"), col("blk").as("blk_b"),
      col("cnt").as("cnt_b"))
    a.join(b, col("blk") === col("blk_b") && col("name_a") < col("name_b"))
      .withColumn("d", levenshtein(col("name_a"), col("name_b")))
      .filter(col("d").between(1, 3))
      .select(col("name_a"), col("name_b"), col("cnt_a"), col("cnt_b"),
        col("d"))
      .orderBy("name_a", "name_b")
  }

  /** q77 — CDC apply (upsert + DELETE): fold a timestamped change
    * stream into a final snapshot — last change per key wins, and keys
    * whose last change is a delete drop out entirely. This is q06's
    * dedup-latest plus the delete path every real change-data-capture
    * feed has. One window shuffle; no fold loop — last-wins makes the
    * reduction order-free. Change ops are synthesized deterministically
    * from events (every 10th event_id is a delete). */
  def q77CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        when(pmod(col("event_id"), lit(10)) === 0, "D").otherwise("U")
          .as("op"),
        col("value").cast("decimal(18,6)").cast("double").as("v"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("event_id"), col("us").as("as_of_us"),
        col("v"))
      .orderBy("user_id")
  }

  /** q78 — the TPC-H Q5 plan shape: a 6-table star join (two
    * broadcast-dim hops down to nation/region, customer and supplier
    * both anchored to the same nation) with a year filter and a
    * revenue rollup per nation. What matters at 100 TB: lineitem — the
    * fact — is filtered and joined on its own keys only; region,
    * nation, and the restricted customer/supplier sides broadcast;
    * revenue aggregates exactly in decimal. The co-nation predicate
    * (c_nationkey = s_nationkey) rides the join, not a post-filter. */
  def q78TpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val asia = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat = Tables.nation(spark, dir)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,10)").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("rev")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q79 — embedding-column statistics: per-label vector count and mean
    * L2 norm. The norm is an in-row higher-order fold (aggregate over
    * zip of the array with itself — no explode, no per-element rows);
    * per-row norms round to 6 decimals (the q26 convention: in-row
    * float folds agree with the oracle's unnest+sum to ~1e-15, rounding
    * absorbs the summation-order ulp), then average exactly via a
    * scale-6 decimal sum. */
  def q79EmbedStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
        round(sqrt(aggregate(col("embedding"),
          lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 6)
          .cast("decimal(18,6)").as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("norm")).cast("double") / count(lit(1))).as("mean_norm"))
      .orderBy("label")

  /** q81 — grouped Pearson correlation (quantity ↔ discount per return
    * flag) from five exact decimal sums — the same machinery as q71:
    * order-free exact aggregation, scale-4 round before each double
    * cast (every rounded sum stays < 2^53·10⁻⁴ at any plausible sf for
    * these bounded columns), then one IEEE expression tree mirrored
    * verbatim by the oracle. Single partial+final aggregate — the
    * covariance matrix of a 100 TB fact table costs one scan. */
  def q81Corr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,6)")
    val y = col("l_discount").cast("decimal(18,6)")
    def d(c: Column) = round(c, 4).cast("double")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,12)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
           sqrt(col("n") * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("corr_qd"))
      .orderBy("l_returnflag")
  }

  /** q82 — mode / argmax per group: each market segment's most common
    * nation (count desc, then smallest key — a total tiebreak, since
    * ties are common in modes). Count-then-rank: the heavy input
    * reduces to (segment, nation) cardinality before the window. */
  def q82Mode(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("cnt").desc, col("c_nationkey"))
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("c_nationkey").as("modal_nation"),
        col("cnt"))
      .orderBy("c_mktsegment")
  }

  /** q83 — Pareto cut: the smallest set of customers covering ≥ 80% of
    * total revenue. Exact decimal cumulative sum over customers ordered
    * by revenue (desc, key tiebreak); a row is kept while the EXCLUSIVE
    * prefix is below the threshold — so the row crossing the line is
    * included and the set is minimal. The per-customer rollup shrinks
    * orders to customer cardinality before any window; the cumsum
    * window is global but O(customers) — shard it like q60's
    * [[Extended.packSequences]] when customers stop fitting a reducer. */
  def q83ParetoCut(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perCust
      .join(broadcast(perCust.agg(sum("rev").as("total"))))
      .withColumn("cum", sum("rev").over(w))
      // exclusive prefix < 80% of total ⇔ this row is needed to reach it
      .filter((col("cum") - col("rev")) * 100 < col("total") * 80)
      .select(col("o_custkey"), col("rev").cast("double").as("rev"),
        ((col("cum") * 100).cast("double") / col("total").cast("double"))
          .as("cum_share_pct"))
      .orderBy(col("rev").desc, col("o_custkey"))
  }

  /** q84 — corpus duplicate-ratio report: per source, document count,
    * how many docs are surplus copies (beyond the first of each exact
    * sha2(text) group), and the surplus ratio. The profiling number a
    * dedup stage reports before and after running; one aggregate over
    * (source, hash) then one over source. */
  def q84DupReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), sha2(col("text"), 256).as("h"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("copies"))
      .groupBy("source")
      .agg(sum("copies").as("n_docs"),
        sum(col("copies") - 1).as("n_surplus"))
      .withColumn("dup_ratio",
        col("n_surplus").cast("double") / col("n_docs"))
      .orderBy("source")

  /** q85 — NULL-preserving unnest (`explode_outer`): rows with a null
    * array survive with a null element instead of vanishing. This is
    * the documented R5 divergence's other half (SURVEY.md §2.1 R5:
    * plain `explode` ≡ the reference's forEach, which DROPS
    * empty/null lists) — the outer variant is what an auditable
    * pipeline uses when row loss is not acceptable. Nulls injected on
    * p_size % 7 == 0 so the fixture exercises the preserved path. */
  def q85ExplodeOuter(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        when(pmod(col("p_size"), lit(7)) === 0, lit(null))
          .otherwise(split(col("p_name"), " ")).as("toks"))
      .select(col("p_partkey"), explode_outer(col("toks")).as("tok"))
      .cachedOrderBy("p_partkey", "tok")

  /** q86 — higher-order-function bundle over in-row arrays:
    * transform + aggregate (sum of squares), filter + size (even
    * count), exists (membership) — all evaluated INSIDE the row with
    * zero explode and zero shuffle. Integer arithmetic end-to-end, so
    * the oracle matches bit-for-bit with no rounding convention. */
  def q86HofBundle(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        expr("""aggregate(transform(sequence(1, p_size % 10 + 1),
                                    x -> CAST(x * x AS BIGINT)),
                          0L, (acc, x) -> acc + x)""").as("sum_sq"),
        expr("size(filter(sequence(1, p_size % 10 + 1), x -> x % 2 = 0))")
          .cast("long").as("n_even"),
        expr("exists(sequence(1, p_size % 10 + 1), x -> x = 5)").as("has5"))
      .cachedOrderBy("p_partkey")

  val declared: Seq[Declared] = Seq(
    Declared("q74_zorder", q74Zorder, Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |         (o_custkey & 65535) AS a, (o_orderkey & 65535) AS b
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, o_custkey,
        |         ((a | (a << 16)) & 281470681808895) AS a,
        |         ((b | (b << 16)) & 281470681808895) AS b FROM base),
        |s2 AS (SELECT o_orderkey, o_custkey,
        |         ((a | (a << 8)) & 71777214294589695) AS a,
        |         ((b | (b << 8)) & 71777214294589695) AS b FROM s1),
        |s3 AS (SELECT o_orderkey, o_custkey,
        |         ((a | (a << 4)) & 1085102592571150095) AS a,
        |         ((b | (b << 4)) & 1085102592571150095) AS b FROM s2),
        |s4 AS (SELECT o_orderkey, o_custkey,
        |         ((a | (a << 2)) & 3689348814741910323) AS a,
        |         ((b | (b << 2)) & 3689348814741910323) AS b FROM s3),
        |s5 AS (SELECT o_orderkey, o_custkey,
        |         ((a | (a << 1)) & 6148914691236517205) AS a,
        |         ((b | (b << 1)) & 6148914691236517205) AS b FROM s4)
        |SELECT o_orderkey, o_custkey, (a | (b << 1)) AS zkey
        |FROM s5 ORDER BY zkey, o_orderkey""".stripMargin)),
    Declared("q75_time_rollup", q75TimeRollup, Some(
      """SELECT coalesce(y, -1) AS y, coalesce(m, -1) AS m,
        |       coalesce(d, -1) AS d,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT CAST(year(ts) AS BIGINT) AS y,
        |             CAST(month(ts) AS BIGINT) AS m,
        |             CAST(day(ts) AS BIGINT) AS d, value
        |      FROM events)
        |GROUP BY ROLLUP (y, m, d)
        |ORDER BY y, m, d""".stripMargin)),
    Declared("q76_fuzzy_dedup", q76FuzzyDedup, Some(
      """WITH n AS (
        |  SELECT p_name, split_part(p_name, ' ', 1) AS blk,
        |         count(*) AS cnt
        |  FROM part GROUP BY 1, 2)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       a.cnt AS cnt_a, b.cnt AS cnt_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS d
        |FROM n a JOIN n b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
        |ORDER BY name_a, name_b""".stripMargin)),
    Declared("q77_cdc_apply", q77CdcApply, Some(
      """SELECT user_id, event_id, us AS as_of_us, v FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |         CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC,
        |                                     event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND op = 'U'
        |ORDER BY user_id""".stripMargin)),
    Declared("q78_tpch_q5", q78TpchQ5, Some(
      """SELECT n_name,
        |       CAST(ROUND(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                           AS DECIMAL(28,10))), 2) AS DOUBLE)
        |         AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Declared("q79_embed_stats", q79EmbedStats, Some(
      """WITH norms AS (
        |  SELECT label,
        |         CAST(round(sqrt(sum(v * v)), 6) AS DECIMAL(18,6)) AS norm
        |  FROM (SELECT label, vec_id,
        |               unnest(CAST(embedding AS DOUBLE[])) AS v
        |        FROM embeddings)
        |  GROUP BY label, vec_id)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(sum(norm) AS DOUBLE) / count(*) AS mean_norm
        |FROM norms GROUP BY label ORDER BY label""".stripMargin)),
    Declared("q81_corr", q81Corr, Some(
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
        |         sum(CAST(l_discount AS DECIMAL(18,6))) AS sy,
        |         sum(CAST(CAST(l_quantity AS DECIMAL(18,6))
        |                   * CAST(l_quantity AS DECIMAL(18,6))
        |                   AS DECIMAL(38,12))) AS sxx,
        |         sum(CAST(CAST(l_discount AS DECIMAL(18,6))
        |                   * CAST(l_discount AS DECIMAL(18,6))
        |                   AS DECIMAL(38,12))) AS syy,
        |         sum(CAST(CAST(l_quantity AS DECIMAL(18,6))
        |                   * CAST(l_discount AS DECIMAL(18,6))
        |                   AS DECIMAL(38,12))) AS sxy
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n,
        |         CAST(round(sx, 4) AS DOUBLE) AS sx,
        |         CAST(round(sy, 4) AS DOUBLE) AS sy,
        |         CAST(round(sxx, 4) AS DOUBLE) AS sxx,
        |         CAST(round(syy, 4) AS DOUBLE) AS syy,
        |         CAST(round(sxy, 4) AS DOUBLE) AS sxy
        |  FROM s)
        |SELECT l_returnflag, n,
        |       (n * sxy - sx * sy) /
        |       (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qd
        |FROM d ORDER BY l_returnflag""".stripMargin)),
    Declared("q82_mode", q82Mode, Some(
      """SELECT c_mktsegment, modal_nation, cnt FROM (
        |  SELECT c_mktsegment, c_nationkey AS modal_nation, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY count(*) DESC, c_nationkey) AS rn
        |  FROM customer GROUP BY c_mktsegment, c_nationkey)
        |WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin)),
    Declared("q83_pareto_cut", q83ParetoCut, Some(
      """WITH pc AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT sum(rev) AS total FROM pc),
        |c AS (
        |  SELECT o_custkey, rev,
        |         sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM pc)
        |SELECT o_custkey, CAST(rev AS DOUBLE) AS rev,
        |       CAST(cum * 100 AS DOUBLE) / CAST(total AS DOUBLE)
        |         AS cum_share_pct
        |FROM c, t
        |WHERE (cum - rev) * 100 < total * 80
        |ORDER BY rev DESC, o_custkey""".stripMargin)),
    Declared("q84_dup_report", q84DupReport, Some(
      """WITH g AS (
        |  SELECT source, sha256(text) AS h, count(*) AS copies
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
        |       CAST(sum(copies - 1) AS BIGINT) AS n_surplus,
        |       CAST(sum(copies - 1) AS DOUBLE) / sum(copies) AS dup_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin)),
    Declared("q85_explode_outer", q85ExplodeOuter, Some(
      """WITH p AS (
        |  SELECT p_partkey,
        |         CASE WHEN p_size % 7 = 0 THEN NULL
        |              ELSE string_split(p_name, ' ') END AS toks
        |  FROM part)
        |SELECT p.p_partkey, u.tok
        |FROM p LEFT JOIN (SELECT p_partkey AS pk, unnest(toks) AS tok
        |                  FROM p) u
        |  ON p.p_partkey = u.pk
        |ORDER BY p_partkey, tok NULLS FIRST""".stripMargin)),
    Declared("q86_hof_bundle", q86HofBundle, Some(
      """SELECT p_partkey,
        |  CAST(list_sum(list_transform(range(1, p_size % 10 + 2),
        |                               x -> x * x)) AS BIGINT) AS sum_sq,
        |  len(list_filter(range(1, p_size % 10 + 2),
        |                  x -> x % 2 = 0)) AS n_even,
        |  list_has_any(range(1, p_size % 10 + 2), [5]) AS has5
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Declared("q67_interval_merge", q67IntervalMerge, Some(
      """WITH iv AS (
        |  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS s,
        |         epoch_us(o_orderdate)
        |           + ((o_orderkey % 90) + 1) * 86400000000 AS e
        |  FROM orders),
        |m AS (
        |  SELECT o_custkey, o_orderkey, s, e,
        |         max(e) OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
        |                      ROWS BETWEEN UNBOUNDED PRECEDING
        |                               AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |isl AS (
        |  SELECT o_custkey, s, e,
        |         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m)
        |SELECT o_custkey, CAST(island AS BIGINT) AS island,
        |       min(s) AS span_start_us, max(e) AS span_end_us,
        |       count(*) AS n_orders
        |FROM isl GROUP BY o_custkey, island
        |ORDER BY o_custkey, island""".stripMargin)),
    Declared("q68_tfidf", q68Tfidf, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rnk, token, tf, df, score FROM (
        |  SELECT doc_id, t.token, tf, df,
        |         CAST(tf AS DOUBLE) * n_docs / df AS score,
        |         row_number() OVER (
        |           PARTITION BY doc_id
        |           ORDER BY CAST(tf AS DOUBLE) * n_docs / df DESC,
        |                    t.token) AS rnk
        |  FROM tf t JOIN dfc ON t.token = dfc.token CROSS JOIN n)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),
    Declared("q69_scd2", q69Scd2, Some(
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_id, event_type, us FROM o
        |  WHERE prev IS NULL OR event_type <> prev)
        |SELECT user_id, event_id, event_type, us AS valid_from_us,
        |       lead(us) OVER (PARTITION BY user_id
        |                      ORDER BY us, event_id) AS valid_to_us
        |FROM ch ORDER BY user_id, valid_from_us, event_id""".stripMargin)),
    Declared("q70_bloom_join", q70BloomJoin, Some(
      """SELECT p_brand, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    Declared("q71_zscore_outliers", q71ZscoreOutliers, Some(
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,6)) AS vdec
        |  FROM events),
        |stats AS (
        |  SELECT event_type AS et, count(*) AS n,
        |         sum(vdec) AS sdec,
        |         sum(CAST(vdec * vdec AS DECIMAL(38,12))) AS ssq
        |  FROM ev GROUP BY 1),
        |d AS (
        |  SELECT et, n, CAST(round(sdec, 4) AS DOUBLE) / n AS mean_d,
        |         CAST(round(ssq, 4) AS DOUBLE) / n AS ex2
        |  FROM stats),
        |s AS (
        |  SELECT et, mean_d,
        |         sqrt((ex2 - mean_d * mean_d)
        |              * (CAST(n AS DOUBLE) / (n - 1))) AS sd
        |  FROM d)
        |SELECT event_id, event_type, CAST(vdec AS DOUBLE) AS v,
        |       (CAST(vdec AS DOUBLE) - mean_d) / sd AS z
        |FROM ev JOIN s ON ev.event_type = s.et
        |WHERE abs((CAST(vdec AS DOUBLE) - mean_d) / sd) > 2.0
        |ORDER BY event_id""".stripMargin)),
    Declared("q72_md5_sample", q72Md5Sample, Some(
      """SELECT c_mktsegment, rnk, c_custkey, c_name, h FROM (
        |  SELECT c_mktsegment, c_custkey, c_name,
        |         md5(CAST(c_custkey AS VARCHAR)) AS h,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY md5(CAST(c_custkey AS VARCHAR)),
        |                                     c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 2 ORDER BY c_mktsegment, rnk""".stripMargin)),
    Declared("q73_bigram_lm", q73BigramLm, Some(
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
        |b AS (
        |  SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM t),
        |c AS (SELECT w1, w2, count(*) AS cnt FROM b GROUP BY 1, 2)
        |SELECT w1, w2, cnt, CAST(w1_total AS BIGINT) AS w1_total,
        |       CAST(cnt AS DOUBLE) / w1_total AS p_cond
        |FROM (SELECT w1, w2, cnt,
        |             sum(cnt) OVER (PARTITION BY w1) AS w1_total FROM c)
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin)))
}
