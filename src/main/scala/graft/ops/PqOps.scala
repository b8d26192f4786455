package graft.ops

import graft.Declared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** q201 — Product-Quantization codes + Asymmetric Distance Computation
  * rerank (PQ/ADC): the published memory shape of billion-scale vector
  * stores (Jégou/Douze/Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — the Faiss ADC default; the exact
  * top-R refinement step is "Searching in one billion vectors:
  * re-rank with source coding", ICASSP 2011).
  *
  * A d = 64 vector is cut into M = 8 subvectors of 8 dims; each
  * subspace trains its OWN ks-centroid codebook (the q45/q187
  * bounded-sample Lloyd machinery — one shared ≤256·ks hash draw, all
  * M fits over the cached sample); a vector's code is its M
  * per-subspace argmin cell ids PACKED into ONE BIGINT (8 bits per
  * subspace — "64-dim → 8×8-bit codes", 64× smaller than the 512-byte
  * raw vector; q114's int8 audit is the 8× step, this is the published
  * next one). A query then ranks the WHOLE corpus by summing M table
  * lookups per candidate — the asymmetric distance: the query stays
  * exact, only candidates are quantized; the M×ks partial-distance
  * table is built once per query on the driver (M·ks doubles, the
  * model-artifact class) and rides the closure. The exhaustive ADC
  * scan therefore reads the 8-byte code column INSTEAD of the raw
  * vectors, and the raw e0 column is read again only for the top-R
  * refinement candidates (R per query, a broadcast-join-sized set).
  *
  * Scale posture (100 TB): train is bounded (256·ks rows per fit);
  * encode is ONE in-row pass with the codebooks riding the closure
  * (M·ks·subDim doubles); the ADC scan is in-row over a column 64×
  * narrower than e0, with the per-query top-R cut map-side by
  * WindowGroupLimit before the rank shuffle; the ≤ queries·R ADC
  * survivors are collected (bounded by construction) and refined via
  * a LITERAL isin on the stored id column — parquet row-group pruning
  * on an id-sorted corpus — plus a broadcast join for the adc_d2
  * values, so the raw e0 column is point-looked-up, never rescanned.
  * The declared query keeps the exhaustive-scan shape, the published
  * ADC baseline.
  *
  * Rows-only in t2 (float k-means codebooks — the q45/q108/q199
  * precedent); PqSpec pins pack/unpack roundtrip, the lossless-
  * alphabet law (on a binary-exact alphabet with ≤ ks distinct
  * subvectors per subspace the ADC distance EQUALS the exact distance,
  * bit-for-bit, and the rankings coincide), planted-cluster top-10
  * overlap vs brute, and self-retrieval. */
object PqOps {

  /** M per-subspace codebooks; codebooks(i) is subspace i's Lloyd
    * centroid array (cid < ks by construction — init ids are 0..ks-1
    * and the update never mints new ones — so every cid fits the
    * 8-bit field). */
  private[graft] case class PqModel(dim: Int, m: Int, ks: Int,
      codebooks: Array[Array[(Long, Array[Double])]]) {
    def subDim: Int = dim / m
  }

  /** Train M subspace codebooks from ONE shared bounded draw, ALL
    * SUBSPACES IN ONE JOB PER ROUND: the sample explodes into
    * (subspace, subvector) rows and [[Clustering.fitWithinCells]]
    * fits every subspace's codebook simultaneously (subspace index =
    * cell — the q187 split-guard machinery, same argmin, same
    * first-k-by-id init per cell). The first cut ran one Lloyd per
    * subspace: m·(rounds+1) tiny sequential jobs whose scheduling
    * overhead dominated the whole declared query at grid scale
    * (bench r13: 9.45 s over 600 vectors). The per-cell counts passed
    * to fitWithinCells are the sample BOUND itself — the input is
    * already ≤ 256·ks rows per subspace, so its inner modulus sizes
    * to 1 and nothing re-thins. Lazy empty-draw fallback per the
    * lloydSampled contract. */
  private[graft] def pqTrain(emb: DataFrame, dim: Int, m: Int, ks: Int,
      maxIters: Int = 4, knownCount: Option[Long] = None): PqModel = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    require(ks <= 256 && m <= 8, "codes must fit 8 bits × 8 subspaces")
    val sub = dim / m
    def explodeSubs(df: DataFrame) = df.select(col("id"),
        posexplode(array((0 until m).map(i =>
          slice(col("e"), i * sub + 1, sub)): _*)))
      .select(col("pos").cast("long").as("cid"), col("id"),
        col("col").as("e"))
    val bound = (0L until m.toLong).map(_ -> 256L * ks).toMap
    val drawn = Clustering.trainingSample(emb, ks, knownCount)
    // persist ONLY an actual draw: when no thinning was needed,
    // `drawn` IS the caller's frame, and persist/unpersist here would
    // silently evict a cache the caller still relies on (q201 holds
    // emb persisted across train/encode/query — found in the r13
    // self-review)
    val thinned = drawn ne emb
    val train = if (thinned) drawn.persist() else drawn
    try {
      var subsMap = Clustering.fitWithinCells(explodeSubs(train),
        bound, splitK = ks, dim = sub, maxIters = maxIters, salt = 0L)
      if (subsMap.isEmpty && thinned)
        subsMap = Clustering.fitWithinCells(explodeSubs(emb), bound,
          splitK = ks, dim = sub, maxIters = maxIters, salt = 0L)
      PqModel(dim, m, ks, Array.tabulate(m)(i =>
        subsMap.getOrElse(i.toLong, Array.empty)))
    } finally if (thinned) train.unpersist()
  }

  /** Encode: per-subspace argmin (the shared [[Clustering.argminLocal]]
    * — same metric, same lower-cid tie rule as every quantizer path),
    * packed little-endian, 8 bits per subspace. One in-row pass; the
    * codebooks ride the closure. */
  private[graft] def pqEncode(model: PqModel): UserDefinedFunction = {
    val books = model.codebooks
    val m = model.m
    val sub = model.subDim
    udf { (e: Seq[Double]) =>
      val arr = e.toArray
      var code = 0L
      var i = 0
      while (i < m) {
        val s = scala.collection.immutable.ArraySeq.unsafeWrapArray(
          java.util.Arrays.copyOfRange(arr, i * sub, (i + 1) * sub))
        code |= (Clustering.argminLocal(books(i), s)._1 & 0xffL) <<
          (8 * i)
        i += 1
      }
      code
    }.asNonNullable()
  }

  /** Unpack a code into its M per-subspace cell ids (spec + decode). */
  private[graft] def unpackCode(code: Long, m: Int): Array[Int] =
    Array.tabulate(m)(i => ((code >>> (8 * i)) & 0xffL).toInt)

  /** Driver-side reconstruction of a code (the spec's recon pins):
    * concatenation of the selected subspace centroids. */
  private[graft] def decodeLocal(model: PqModel,
      code: Long): Array[Double] = {
    val out = new Array[Double](model.dim)
    val ids = unpackCode(code, model.m)
    var i = 0
    while (i < model.m) {
      val c = model.codebooks(i).find(_._1 == ids(i)).get._2
      System.arraycopy(c, 0, out, i * model.subDim, model.subDim)
      i += 1
    }
    out
  }

  /** Per-query ADC lookup table: t(i)(c) = squared L2 between the
    * query's subvector i and subspace i's centroid c — M·ks doubles,
    * built on the driver with [[Clustering.l2sqLocal]] (the same
    * ascending-index IEEE fold as the engine side). Indexed by the
    * full 8-bit range so the scan-side lookup is branch-free. */
  private[graft] def adcTable(model: PqModel,
      q: Array[Double]): Array[Array[Double]] = {
    val sub = model.subDim
    Array.tabulate(model.m) { i =>
      val qs = java.util.Arrays.copyOfRange(q, i * sub, (i + 1) * sub)
      val t = Array.fill(256)(Double.MaxValue)
      model.codebooks(i).foreach { case (cid, c) =>
        t(cid.toInt) = Clustering.l2sqLocal(qs, c)
      }
      t
    }
  }

  /** ADC distance over a packed code: M table lookups summed in
    * ascending-subspace order (so on a losslessly-coded corpus the
    * total is the SAME IEEE expression tree as l2sq's ascending-index
    * fold over exact per-subspace partials — the PqSpec equality law).
    * All queries' tables ride the closure (queries·M·ks doubles). */
  private[graft] def adcDistUdf(tables: Map[Long, Array[Array[Double]]],
      m: Int): UserDefinedFunction =
    udf { (qId: Long, code: Long) =>
      val t = tables(qId)
      var d = 0.0
      var i = 0
      while (i < m) {
        d += t(i)(((code >>> (8 * i)) & 0xffL).toInt)
        i += 1
      }
      d
    }.asNonNullable()

  /** The full ADC + exact-refinement pipeline over a (id, e) corpus
    * and driver-held query vectors — the declared q201 and the spec
    * entry point. Returns top-`depth` per query by EXACT distance
    * among the top-`topR` ADC candidates. */
  private[graft] def pqAdcQuery(emb: DataFrame, model: PqModel,
      qvecs: Array[(Long, Array[Double])], topR: Int,
      depth: Int): DataFrame = {
    // the 8-byte code column is the ONLY corpus column the ADC scan
    // carries; one in-row encode pass, then a 5-row broadcast fanout
    // (no shuffle) and the per-query top-R cut map-side
    // (WindowGroupLimit) before the rank exchange
    val codes = emb.select(col("id"),
      pqEncode(model)(col("e")).as("code"))
    pqAdcQueryCodes(emb, codes, model, qvecs, topR, depth)
  }

  /** The ADC scan + map-side top-R frame over a (id, code) corpus —
    * exposed so PqSpec can pin its plan shape (WindowGroupLimit
    * rank-limit pushdown, broadcast query fanout, codes-only scan). */
  private[graft] def adcTopFrame(codes: DataFrame, model: PqModel,
      qvecs: Array[(Long, Array[Double])], topR: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val tables = qvecs.map { case (q, e) => q -> adcTable(model, e) }
      .toMap
    val qDf = qvecs.map(_._1).toSeq.sorted.toDF("q_id")
    codes.crossJoin(broadcast(qDf))
      .select(col("q_id"), col("id"),
        adcDistUdf(tables, model.m)(col("q_id"), col("code"))
          .as("adc_d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("adc_d2"), col("id"))))
      .filter(col("rn") <= topR)
      .select(col("q_id"), col("id"), col("adc_d2"))
  }

  /** The scan + refinement half over a PREBUILT (id, code) frame —
    * the production serving shape (codes stored once at ingest, read
    * as an 8-byte column per query); [[pqAdcQuery]] is the inline
    * composition. */
  private[graft] def pqAdcQueryCodes(emb: DataFrame, codes: DataFrame,
      model: PqModel, qvecs: Array[(Long, Array[Double])], topR: Int,
      depth: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qmap = qvecs.toMap
    // the ADC survivors are COLLECTED — ≤ queries·topR rows of three
    // scalars, bounded by construction (the q199 model-artifact
    // precedent) — so their ids go back in as a LITERAL isin on the
    // STORED id column: a broadcast join alone would still scan the
    // full fat e0 column to probe the hash table, whereas the literal
    // pushdown prunes at parquet row-group stats on an id-sorted
    // corpus, making refinement a point-lookup read of e0
    val adcTop = adcTopFrame(codes, model, qvecs, topR).collect()
    if (adcTop.isEmpty)
      return emb.select(col("id").as("q_id"), lit(0L).as("rnk"),
        col("id").as("vec_id"), lit(0.0).as("adc_d2"),
        lit(0.0).as("d2")).limit(0)
    val candIds = adcTop.map(_.getLong(1)).distinct.sorted.toSeq
    val cand = adcTop.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toDF("q_id", "vec_id", "adc_d2")
    val exactUdf = udf { (qId: Long, e: Seq[Double]) =>
      Clustering.l2sqLocal(qmap(qId), e.toArray)
    }.asNonNullable()
    emb.filter(col("id").isin(candIds.map(Long.box): _*))
      .join(broadcast(cand), col("id") === col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("adc_d2"),
        exactUdf(col("q_id"), col("e")).as("d2"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("d2"), col("vec_id"))))
      .filter(col("rnk") <= depth)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id"), round(col("adc_d2"), 6).as("adc_d2"),
        round(col("d2"), 6).as("d2"))
      .orderBy("q_id", "rnk")
  }

  /** q201 — exhaustive PQ/ADC retrieval over the embeddings table:
    * train 8 × ks codebooks (ks = 16 at grid scale — each subspace of
    * the ≤2k-vector grid supports ~2k/128 ≈ 16 meaningful cells; 256
    * is the published 100 TB setting, measured at 200k distinct
    * vectors in BASELINE.md's "PQ append tier"), encode the
    * corpus into one BIGINT per vector, ADC-rank ALL vectors for the 5
    * lowest-id queries, exact-rerank the top-32 and emit the top-10.
    * Rows-only (float codebooks). */
  def q201PqAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.fanout(graft.Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("e")))
      .filter(size(col("e")) === 64)
      .persist()
    try {
      val model = pqTrain(emb, dim = 64, m = 8, ks = 16)
      // 5 query vectors, collected driver-side (5·64 doubles — the
      // model-artifact class; a query-vector DataFrame would cost one
      // fat corpus scan per consumer, the r11 lesson)
      val qvecs = emb.orderBy("id").limit(5)
        .select(col("id"), col("e")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val out = pqAdcQuery(emb, model, qvecs, topR = 32, depth = 10)
      out.localCheckpoint()
    } finally emb.unpersist()
  }

  val declared: Seq[Declared] = Seq(
    Declared("q201_pq_adc", q201PqAdc, None)) // k-means fixpoint: PQ codebooks
}
