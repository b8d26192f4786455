package graft

import graft.ops.Clustering
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** k-means: planted-cluster recovery, Lloyd monotonicity, and the
  * partial-aggregation contract of the vector-sum Aggregator. */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session

  private def blobs = {
    import spark.implicits._
    // three well-separated planted clusters in 4-d, 30 points each;
    // deterministic offsets (i mod 5 pattern), no RNG
    val centers = Seq(Seq(0.0, 0.0, 0.0, 0.0),
      Seq(10.0, 10.0, 0.0, 0.0), Seq(0.0, 10.0, 10.0, 5.0))
    (0 until 90).map { i =>
      val c = centers(i % 3)
      val jit = (i / 3 % 5 - 2) * 0.1
      (i.toLong, c.map(_ + jit))
    }.toDF("id", "e")
  }

  test("planted clusters recover exactly; counts balance") {
    val cents = Clustering.kmeansFit(Pins.forPlan, blobs, k = 3, dim = 4).collect()
    assert(cents.length == 3)
    val found = cents.map(_.getSeq[Double](1).toVector).sortBy(_.head)
    // converged centroids sit at the planted centers (jitter averages
    // out to 0 over the symmetric -0.2..+0.2 pattern)
    assert(found.map(v => v.map(x => math.round(x * 10) / 10.0)).toVector ==
      Vector(Vector(0.0, 0.0, 0.0, 0.0), Vector(0.0, 10.0, 10.0, 5.0),
        Vector(10.0, 10.0, 0.0, 0.0)).sortBy(_.head))
    assert(cents.map(_.getLong(2)).sorted.toSeq == Seq(30L, 30L, 30L))
  }

  test("nested trainingSample draws thin only when salted") {
    import spark.implicits._
    // the r12 code-review law: a power-of-two hash-modulus draw over
    // input already thinned by the SAME unsalted hash composes as a
    // no-op (surviving ids satisfy h % m1 == 0, so h % m2 == 0 with
    // m2 <= m1 passes every row). The salted draw re-keys and actually
    // thins — this is why lloydTwoLevel salts its level-1 re-bound.
    val df = (0L until 100000L).map(i => (i, Seq(i * 0.001)))
      .toDF("id", "e")
    val outer = Clustering.trainingSample(df, k = 4)   // target 1024
    val nOuter = outer.count()
    assert(nOuter < 2048 && nOuter > 256,
      s"outer draw should land near its 1024 bound, got $nOuter")
    val unsalted = Clustering.trainingSample(outer, k = 1,
      knownCount = Some(nOuter)).count()               // target 256
    assert(unsalted == nOuter,
      "documents the failure shape: the unsalted inner draw is a no-op " +
        "over hash-thinned input — any caller needing a nested re-bound " +
        "must salt")
    val salted = Clustering.trainingSample(outer, k = 1,
      knownCount = Some(nOuter), salt = Some(1L)).count()
    assert(salted < nOuter && salted > 0,
      s"salted inner draw must actually thin: $salted of $nOuter")
  }

  test("two-level quantizer recovers well-separated planted structure") {
    import spark.implicits._
    // 4 well-separated clusters in 4-d, 5 near-identical members each
    // (spread 0.1 vs separation ~100). k = 4 → k1 = 2, k2 = 2: the top
    // level splits the two super-groups, the sub level the two
    // clusters within each. Ids INTERLEAVE clusters so both levels'
    // first-k-by-id inits see every branch — with this coverage Lloyd
    // on separated clusters is an exact fixed point, so recovery is
    // deterministic, not probabilistic.
    val centers = Seq(
      Seq(0.0, 0.0, 0.0, 0.0), Seq(100.0, 0.0, 0.0, 0.0),
      Seq(0.0, 100.0, 100.0, 0.0), Seq(100.0, 100.0, 100.0, 0.0))
    val rows = (0 until 20).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(_ + (i / 4 % 5 - 2) * 0.05))
    }
    val df = rows.toDF("id", "e")
    val m = Clustering.lloydTwoLevel(df, k = 4, dim = 4, maxIters = 6)
    assert(m.top.length == 2 && m.subs.values.map(_.length).sum == 4)
    val asg = df.select(col("id"),
        Clustering.nearestTwoLevel(m)(col("e")).getField("_1").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every vector gets exactly one leaf; leaves ≡ planted clusters
    assert(asg.length == 20)
    val byCluster = asg.groupBy(_._1 % 4).values.map(_.map(_._2).toSet)
    assert(byCluster.forall(_.size == 1),
      "each planted cluster maps to one leaf cell")
    assert(byCluster.flatten.toSet.size == 4,
      "distinct clusters map to distinct leaf cells")
  }

  test("empty input returns empty centroids instead of crashing") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "e")
    val out = Clustering.kmeansFit(Pins.forPlan, empty, k = 3, dim = 4)
    assert(out.count() == 0)
  }

  test("vector-sum aggregator: partial+final equals a driver-side sum") {
    import spark.implicits._
    val vsum = udaf(new Clustering.VectorSumAgg(4))
    val out = blobs.repartition(8) // force multiple partials
      .agg(vsum(col("e")).as("sn")).head()
    val sn = out.getStruct(0)
    val expected = blobs.collect().map(_.getSeq[Double](1))
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val got = sn.getSeq[Double](0)
    expected.zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-9)
    }
    assert(sn.getLong(1) == 90L)
  }
}
