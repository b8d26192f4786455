package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed logistic regression — the cheap supervised quality filter
  * of production corpus pipelines (CCNet/fastText shape: distill an
  * expensive labeling rule — an LLM judge, a human rubric, here the q35
  * composite score — into a linear model that scores 100 TB for the cost
  * of one narrow pass).
  *
  * Training is full-batch gradient descent on the kmeansFit pattern
  * ([[Clustering]]): the weight vector lives on the DRIVER (d doubles —
  * model-sized), each epoch is ONE aggregate job whose map side computes
  * per-row gradients with the broadcast weights and whose reduce side is
  * the element-wise [[Clustering.VectorSumAgg]] (partial aggregation —
  * d doubles per task cross the wire, never per-row gradients). The
  * feature frame is persisted once; epochs touch only it. Deterministic:
  * zero init, fixed step, IEEE ops in one engine.
  */
object LrOps {

  /** σ(w·f) with the driver-held weights closed over. */
  private def sigmoidUdf(w: Array[Double]) = udf { (f: Seq[Double]) =>
    var z = 0.0
    var i = 0
    while (i < w.length && i < f.length) { z += w(i) * f(i); i += 1 }
    1.0 / (1.0 + math.exp(-z))
  }

  /** σ(w·f) − label with the driver-held weights closed over — the
    * per-epoch residual. A closure UDF on purpose: the weights land in
    * the codegen `references` array, so all epochs share ONE compiled
    * plan shape (scalar `lit(w(i))` terms would inline each epoch's
    * floats into the generated source and janino-compile every epoch —
    * measured r17: 50 compiles/pass). Same ascending-index z sum and
    * Math.exp as [[sigmoidUdf]]. */
  private def residualUdf(w: Array[Double]) = udf { (label: Double, f: Seq[Double]) =>
    var z = 0.0
    var i = 0
    while (i < w.length && i < f.length) { z += w(i) * f(i); i += 1 }
    1.0 / (1.0 + math.exp(-z)) - label
  }

  /** Fit `epochs` of full-batch GD on (label ∈ {0,1}, f: dim doubles
    * incl. bias). Returns the weight vector. One job per epoch.
    *
    * r17 (guide §2/§4): the gradient aggregate is `dim` independent
    * built-in sum(g·fⱼ) columns (the minhashSignatures
    * K-independent-aggregates trick) instead of the former per-row
    * array UDF + VectorSumAgg pair, whose catalyst↔Scala buffer
    * (de)serialization was the per-row cost; only the scalar residual
    * g stays a UDF (weights in `references` keep the codegen cache
    * warm across epochs). The fit input is cached AND coalesced to a
    * row-count-adaptive partition layout (ScaleOps.adaptiveParts):
    * each epoch is one job over the cached frame, and at a cores-wide
    * layout every epoch paid one overhead task per core regardless of
    * data (the q178 r17 finding). Gradient values are IEEE-identical
    * per partition (same ascending z and g·fⱼ ops); the partition
    * layout change re-orders only the final partial-sum merge —
    * LrSpec's convergence/accuracy pins re-certify. An unpersisted input
    * is cached for the fit alone and released on every path, as in
    * `kmeansFit`; a caller's cache is left in place. */
  def fit(data: DataFrame, dim: Int, epochs: Int = 40,
      step: Double = 2.0): Array[Double] = {
    val owned = data.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached = if (owned) data.persist() else data
    try {
      // LR's per-row work is a dim-length dot (light) → a coarse grain
      val df = graft.ops.ScaleOps.coalesceAdaptive(cached, cached.count(),
        rowsPerPart = 1L << 20)
      val w = new Array[Double](dim)
      val gsums = (0 until dim).map(j =>
        sum(col("g") * element_at(col("f"), j + 1)).as(s"g$j")) :+
        count(lit(1)).as("n")
      var e = 0
      while (e < epochs) {
        val upd = df
          .select(col("f"), residualUdf(w.clone())(col("label"), col("f")).as("g"))
          .agg(gsums.head, gsums.tail: _*)
          .head()
        val n = upd.getLong(dim)
        var i = 0
        while (i < dim) { w(i) -= step * upd.getDouble(i) / n.toDouble; i += 1 }
        e += 1
      }
      w
    } finally if (owned) cached.unpersist()
  }

  /** Score rows with a trained weight vector: adds `p` = σ(w·f). One
    * narrow map — the 100 TB inference pass. */
  def predict(data: DataFrame, w: Array[Double]): DataFrame =
    data.withColumn("p", sigmoidUdf(w)(col("f")))

  /** The q176 feature frame: (doc_id, label, f) where f =
    * [bias, capped_len/100, stopword_ratio, punct_ratio, upper_ratio,
    * n_chars/1000] and label = [q35 quality_score > 0.55] — the
    * distillation target is EXACTLY linear in f (score = f1 + f2 − f3),
    * so LR can recover it; boundary-adjacent docs bound the reachable
    * accuracy in finite epochs. */
  private[ops] def featureFrame(spark: SparkSession, dir: String): DataFrame = {
    val nPunct = length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
    val nUpper = length(regexp_replace(col("text"), "[^A-Z]", ""))
    val nTokens = greatest(regexp_count(col("text"), lit("[a-zA-Z]+")), lit(1))
    Tables.fanout(Tables.documents(spark, dir)
        .select("doc_id", "n_chars", "text"))
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .select(col("doc_id"),
        when(TextOps.qualityScore > 0.55, 1.0).otherwise(0.0).as("label"),
        array(lit(1.0),
          least(nTokens, lit(100)).cast("double") / 100,
          TextOps.stopwordRatio,
          nPunct.cast("double") / col("n_chars"),
          nUpper.cast("double") / col("n_chars"),
          col("n_chars").cast("double") / 1000).as("f"))
  }

  /** q176 — quality-classifier distillation, end to end: build features,
    * fit LR (40 driver-held-model epochs), score the corpus with the
    * trained weights, emit the integer confusion matrix + rounded
    * accuracy. Rows-only in t2 (an iterative float fixpoint has no SQL
    * oracle); LrSpec pins convergence on planted separable data and an
    * accuracy floor here. */
  def q176LrDistill(spark: SparkSession, dir: String): DataFrame = {
    val feats = featureFrame(spark, dir).persist()
    val w = fit(feats, dim = 6)
    // the result is ONE row (a confusion matrix): run the scoring
    // aggregate eagerly while feats is still cached, then release the
    // cache deterministically before returning — no persist outlives
    // the call (ADVICE r7 cache-leak sweep), and the scoring pass still
    // reads features from cache instead of recomputing them
    val r = predict(feats, w)
      .select(col("label"), when(col("p") >= 0.5, 1.0).otherwise(0.0).as("yhat"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("label") === 1.0 && col("yhat") === 1.0, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("label") === 0.0 && col("yhat") === 1.0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("label") === 0.0 && col("yhat") === 0.0, 1L)
          .otherwise(0L)).as("tn"),
        sum(when(col("label") === 1.0 && col("yhat") === 0.0, 1L)
          .otherwise(0L)).as("fn"))
      .withColumn("accuracy",
        round((col("tp") + col("tn")).cast("double") / col("n"), 6))
      .head()
    feats.unpersist()
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)))
      .toDF("n", "tp", "fp", "tn", "fn", "accuracy")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_lr_distill" -> (q176LrDistill _))

  val oracleSql: Map[String, String] = Map.empty
}
