package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the logistic-regression quality distiller (ops/LrOps.scala).
  * The training loop is an iterative float fixpoint (rows-only in t2), so
  * the spec pins it directly: exact recovery on planted separable data,
  * gradient direction, and an accuracy floor on the declared q176
  * distillation task (whose target rule IS linear in the feature space).
  */
class LrSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val dir = SparkTest.sfDir
  import ops.LrOps

  test("fit separates a planted linearly-separable set with a margin") {
    val s = spark
    import s.implicits._
    // label = [x > 0.5] with a 0.2 margin band excluded: f = (bias, x)
    val rows = (0 until 200).map { i =>
      val x = if (i % 2 == 0) 0.1 + (i % 40) / 100.0 // 0.1..0.49 → 0
      else 0.71 + (i % 29) / 100.0                   // 0.71..0.99 → 1
      (if (x > 0.5) 1.0 else 0.0, Seq(1.0, x))
    }
    val df = rows.toDF("label", "f")
    val w = LrOps.fit(df, dim = 2, epochs = 200, step = 4.0)
    val preds = LrOps.predict(df, w)
      .select(col("label"), when(col("p") >= 0.5, 1.0).otherwise(0.0).as("yhat"))
      .collect()
    assert(preds.forall(r => r.getDouble(0) == r.getDouble(1)),
      s"misclassified ${preds.count(r => r.getDouble(0) != r.getDouble(1))} of 200")
    // the learned boundary slopes upward in x
    assert(w(1) > 0.0)
  }

  test("one epoch moves weights opposite the gradient (toward the labels)") {
    val s = spark
    import s.implicits._
    // all-ones labels with positive feature: weight must move positive
    val df = (1 to 50).map(_ => (1.0, Seq(1.0))).toDF("label", "f")
    val w = LrOps.fit(df, dim = 1, epochs = 1, step = 1.0)
    // gradient at w=0: (σ(0) − 1)·1 = −0.5 → w1 = +0.5·step
    assert(math.abs(w(0) - 0.5) < 1e-12)
  }

  test("fit releases the cache it owns and keeps a caller's cache") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val df = (1 to 50).map(i => (if (i % 2 == 0) 1.0 else 0.0, Seq(1.0, i / 50.0)))
      .toDF("label", "f")
    val before = sc.getPersistentRDDs.keySet.toSet
    LrOps.fit(df, dim = 2, epochs = 2)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    val cached = df.persist()
    try {
      LrOps.fit(cached, dim = 2, epochs = 2)
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally cached.unpersist()
  }

  test("q176: distilled classifier beats 0.85 accuracy on its linear target") {
    val r = ops.LrOps.q176LrDistill(spark, dir).head
    val (n, tp, fp, tn, fn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(tp + fp + tn + fn == n)
    assert(r.getDouble(5) >= 0.85,
      s"accuracy ${r.getDouble(5)} below floor (tp=$tp fp=$fp tn=$tn fn=$fn)")
  }
}
