package graft

import graft.ops.{Clustering, Extended10}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Cross-implementation pins for q197 hybrid RRF: fixed-seed generated
  * corpora (docs + aligned embedding vectors, including flat vectors,
  * missing vectors, and wrong-dimension vectors) run through
  * [[Extended10.rrfPlan]] and through an independent driver-side
  * reimplementation (Scala collections + BigDecimal/BigInt — no Spark
  * expressions shared), outputs compared exactly. Also pins the k=60
  * depth-10 fusion law (any doc on both lists outranks any single-list
  * doc) and that the 10^12-scaled integer ordering key reproduces the
  * EXACT rational RRF order.
  */
class RrfSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  // ---------------------------------------------------- reference bits
  private def tokensOf(text: String): Vector[String] =
    text.toLowerCase.split("[^a-z]+").iterator
      .filter(_.nonEmpty).toVector

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")

  private def corpus(seed: Long, n: Int): Seq[(Long, String)] = {
    val g = for {
      len <- Gen.chooseNum(0, 24)
      ws <- Gen.listOfN(len, Gen.oneOf(words))
    } yield ws.mkString(" ")
    (0 until n).map { i =>
      (i.toLong * 7 + 3, g(Gen.Parameters.default, Seed(seed + i)).get)
    }
  }

  /** Vectors aligned to doc ids: mostly dim 8, ~1/10 flat (quantizer
    * drops them), ~1/10 dim 6 (len guard excludes them from a dim-8
    * query's candidates), ~1/10 absent entirely. Values k/16 are
    * binary-exact doubles, so the affine map is the same IEEE tree on
    * both sides. */
  private def vectors(seed: Long,
      ids: Seq[Long]): Map[Long, Vector[Double]] = {
    val g = for {
      kind <- Gen.chooseNum(0, 9)
      dim = if (kind == 1) 6 else 8
      vs <- Gen.listOfN(dim, Gen.chooseNum(0, 64))
    } yield kind match {
      case 0 => None                                    // absent
      case 2 => Some(Vector.fill(dim)(vs.head / 16.0))  // flat
      case _ => Some(vs.map(_ / 16.0).toVector)
    }
    ids.flatMap { id =>
      g(Gen.Parameters.default, Seed(seed + id)).get.map(id -> _)
    }.toMap
  }

  // -------------------------------------------- driver reimplementation
  private def codesOf(v: Vector[Double]): Option[Vector[Long]] = {
    val lo = v.min
    val hi = v.max
    if (!(hi > lo)) None
    else Some(v.map(x => BigDecimal((x - lo) * 255.0 / (hi - lo))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
  }

  /** Integerized BM25 top-10 per query (the Extended10PropertySpec q190
    * reimplementation, kept verbatim so the two pins agree on the
    * lexical list). */
  private def lexLists(docs: Seq[(Long, String)])
      : Map[Long, Seq[(Long, Long)]] = {
    val toks = docs.map { case (id, t) => id -> tokensOf(t) }.toMap
    val n = docs.size.toLong
    val l = toks.values.map(_.length.toLong).sum
    val qterms = docs.map(_._1).sorted.take(5)
      .flatMap(q => toks(q).take(4).distinct.map(w => (q, w))).distinct
    val qws = qterms.map(_._2).toSet
    val tf = toks.toSeq.flatMap { case (id, t) =>
      t.filter(qws).groupBy(identity).map { case (w, xs) =>
        (id, t.length.toLong, w, xs.size.toLong)
      }
    }
    val df = tf.groupBy(_._3).map { case (w, xs) => w -> xs.size.toLong }
    qterms.flatMap { case (q, w) =>
      tf.filter(_._3 == w).map { case (id, dl, _, f) =>
        val sdl = (1000L * dl * n) / l
        val idf = (1000000L * (2 * (n - df(w)) + 1)) / (2 * df(w) + 1)
        val tfp = (44000000L * f) / (20000L * f + 6000L + 18L * sdl)
        (q, id, idf * tfp)
      }
    }.groupBy(x => (x._1, x._2)).map { case ((q, id), xs) =>
      (q, id, xs.map(_._3).sum)
    }.toSeq.groupBy(_._1).map { case (q, xs) =>
      q -> xs.sortBy(x => (-x._3, x._2)).take(10).zipWithIndex
        .map { case ((_, id, _), i) => (id, i + 1L) }
    }
  }

  private def denseLists(docs: Seq[(Long, String)],
      vecs: Map[Long, Vector[Double]]): Map[Long, Seq[(Long, Long)]] = {
    val codes = vecs.flatMap { case (id, v) => codesOf(v).map(id -> _) }
    docs.map(_._1).sorted.take(5).flatMap { q =>
      codes.get(q).map { qc =>
        val dots = codes.toSeq.collect {
          case (id, c) if c.length == qc.length =>
            (id, qc.zip(c).map { case (a, b) => a * b }.sum)
        }
        q -> dots.sortBy(x => (-x._2, x._1)).take(10).zipWithIndex
          .map { case ((id, _), i) => (id, i + 1L) }
      }
    }.toMap
  }

  /** Exact-rational RRF fusion; returns rows in the engine's output
    * shape AND asserts the scaled-integer key reproduces the exact
    * BigInt fraction order. */
  private def fuse(lex: Map[Long, Seq[(Long, Long)]],
      dense: Map[Long, Seq[(Long, Long)]])
      : Seq[(Long, Long, Long, Long, Option[Long], Option[Long])] = {
    val qs = (lex.keySet ++ dense.keySet).toSeq.sorted
    qs.flatMap { q =>
      val lr = lex.getOrElse(q, Nil).toMap
      val dr = dense.getOrElse(q, Nil).toMap
      val fusedDocs = (lr.keySet ++ dr.keySet).toSeq
      val scoredRows = fusedDocs.map { doc =>
        val (num, den) = (lr.get(doc), dr.get(doc)) match {
          case (Some(a), Some(b)) => (120L + a + b, (60L + a) * (60L + b))
          case (Some(a), None) => (1L, 60L + a)
          case (None, Some(b)) => (1L, 60L + b)
          case _ => sys.error("unreachable")
        }
        (doc, num, den, 1000000000000L * num / den)
      }
      val byScaled = scoredRows.sortBy(x => (-x._4, x._1))
      // exact rational comparison: num1/den1 vs num2/den2 by
      // cross-multiplication in BigInt — no precision ceiling
      val byExact = scoredRows.sortWith { (a, b) =>
        val cmp = (BigInt(a._2) * b._3).compare(BigInt(b._2) * a._3)
        if (cmp != 0) cmp > 0 else a._1 < b._1
      }
      assert(byScaled.map(_._1) == byExact.map(_._1),
        s"q$q: 10^12-scaled order diverges from the exact rational order")
      byScaled.take(10).zipWithIndex.map { case ((doc, _, _, s), i) =>
        (q, i + 1L, doc, s, lr.get(doc), dr.get(doc))
      }
    }
  }

  private def runEngine(docs: Seq[(Long, String)],
      vecs: Map[Long, Vector[Double]])
      : Seq[(Long, Long, Long, Long, Option[Long], Option[Long])] = {
    val embDf = vecs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "e0")
    Pins.scoped { p =>
      Extended10.rrfPlan(p, docs.toDF("doc_id", "text"), embDf)
        .collect().map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))
        }.toSeq
    }
  }

  /** Uniform-dim variant of [[vectors]] (dim 8 only — ~1/10 absent,
    * ~1/10 flat, no wrong-dim rows): the full-probe exactness pin
    * needs brute and IVF to see the same vector universe, and brute's
    * per-length matching vs the IVF index's fixed-dim contract is a
    * documented divergence, not a bug to exercise here. */
  private def uniformVectors(seed: Long,
      ids: Seq[Long]): Map[Long, Vector[Double]] = {
    val g = for {
      kind <- Gen.chooseNum(0, 9)
      vs <- Gen.listOfN(8, Gen.chooseNum(0, 64))
    } yield kind match {
      case 0 => None                                    // absent
      case 2 => Some(Vector.fill(8)(vs.head / 16.0))    // flat
      case _ => Some(vs.map(_ / 16.0).toVector)
    }
    ids.flatMap { id =>
      g(Gen.Parameters.default, Seed(seed + id)).get.map(id -> _)
    }.toMap
  }

  private def runEngineIvf(docs: Seq[(Long, String)],
      vecs: Map[Long, Vector[Double]], nCells: Int, nProbe: Int)
      : Seq[(Long, Long, Long, Long, Option[Long], Option[Long])] = {
    val embDf = vecs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "e0")
    Pins.scoped { p =>
      Extended10.rrfHybridIvfPlan(p, docs.toDF("doc_id", "text"), embDf,
          dim = 8, nCells = nCells, nProbe = nProbe)
        .collect().map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))
        }.toSeq
    }
  }

  // --------------------------------------------------------------- pins
  test("q197 RRF matches an independent rational reimplementation") {
    Seq(501L, 502L).foreach { seed =>
      val docs = corpus(seed, 80)
      val vecs = vectors(seed * 13, docs.map(_._1))
      val got = runEngine(docs, vecs)
      val expect = fuse(lexLists(docs), denseLists(docs, vecs))
      assert(got == expect, s"seed $seed")
    }
  }

  test("k=60 depth-10 law: a doc on both lists outranks any single-list doc") {
    val docs = corpus(503L, 80)
    val vecs = vectors(977L, docs.map(_._1))
    val got = runEngine(docs, vecs)
    val sawBoth = got.exists(r => r._5.isDefined && r._6.isDefined)
    val sawSingle = got.exists(r => r._5.isDefined != r._6.isDefined)
    assert(sawBoth && sawSingle,
      "generated corpus must exercise both fusion regimes")
    got.groupBy(_._1).foreach { case (q, rows) =>
      val worstBoth = rows.filter(r => r._5.isDefined && r._6.isDefined)
        .map(_._2).maxOption
      val bestSingle = rows.filter(r => r._5.isDefined != r._6.isDefined)
        .map(_._2).minOption
      (worstBoth, bestSingle) match {
        case (Some(wb), Some(bs)) =>
          assert(wb < bs, s"q$q: both-lists doc at rank $wb does not " +
            s"beat single-list doc at rank $bs")
        case _ => ()
      }
    }
  }

  test("q197 plan: rank-limit pushdown on both windows, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = Pins.scoped(p => Extended10.rrfPlan(p,
      graft.Tables.documents(spark, SparkTest.sfDir)
        .select("doc_id", "text"),
      graft.Tables.embeddings(spark, SparkTest.sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e0")))
      .queryExecution.sparkPlan)
    assert(plan.collect { case w: WindowGroupLimitExec => w }.size >= 2,
      "dense top-10 and fused top-10 must both go through " +
        "rank-limit pushdown")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      .nonEmpty, "query code vectors must broadcast over the corpus scan")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q199 IVF at nProbe == nCells equals brute-force q197 exactly") {
    // probing every cell removes the only thing IVF changes (candidate
    // pruning): scoring, tie rules, flat/absent-vector handling, and
    // the fusion stage must then reproduce brute q197 BIT-EXACTLY —
    // a zero-tolerance cross-impl pin on the whole IVF query path
    Seq(701L, 702L).foreach { seed =>
      val docs = corpus(seed, 80)
      val vecs = uniformVectors(seed * 11, docs.map(_._1))
      val brute = runEngine(docs, vecs)
      val ivf = runEngineIvf(docs, vecs, nCells = 4, nProbe = 4)
      assert(ivf == brute, s"seed $seed")
    }
  }

  test("planted clusters: IVF fused top-10 overlaps brute ≥9/10 per query") {
    // 4 well-separated DIRECTION clusters (disjoint high dims), 30
    // members each; a query's true dense top-10 is its own cluster, so
    // with nCells=8 the cluster's subcells are the query's nearest
    // cells and nProbe=4 must recover ≥9 of brute's fused top-10 —
    // the verdict's recall bar for the IVF-fed dense path
    val ids = (0 until 120).map(_.toLong * 7 + 3)
    val docs = corpus(901L, 120).map(_._2).zip(ids).map(_.swap)
    val anchors = Vector(
      Vector(60, 60, 4, 4, 4, 4, 4, 4), Vector(4, 4, 60, 60, 4, 4, 4, 4),
      Vector(4, 4, 4, 4, 60, 60, 4, 4), Vector(4, 4, 4, 4, 4, 4, 60, 60))
    val vecs = ids.zipWithIndex.map { case (id, i) =>
      val a = anchors(i % 4)
      id -> a.zipWithIndex.map { case (v, j) =>
        (v + ((id * 31 + j * 7) % 5).toDouble) / 16.0 }.toVector
    }.toMap
    val brute = runEngine(docs, vecs)
    val ivf = runEngineIvf(docs, vecs, nCells = 8, nProbe = 4)
    val qids = ids.sorted.take(5)
    qids.foreach { q =>
      val bRows = brute.filter(_._1 == q)
      assert(bRows.count(_._6.isDefined) >= 4,
        s"query $q: planted corpus must put dense-backed rows in the " +
          "fused top-10")
      val b = bRows.map(_._3).toSet
      val v = ivf.filter(_._1 == q).map(_._3).toSet
      assert(b.size == 10 && (b & v).size >= 9,
        s"query $q: fused overlap ${(b & v).size}/10 (brute $b, ivf $v)")
    }
  }

  test("q199 plan: rank-limit pushdown, no cartesian, narrow assignment") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    val plan = Pins.scoped(p => Extended10.rrfHybridIvfPlan(p,
      graft.Tables.documents(spark, SparkTest.sfDir)
        .select("doc_id", "text"),
      graft.Tables.embeddings(spark, SparkTest.sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("e0")),
      dim = 64).queryExecution.sparkPlan)
    assert(plan.collect { case w: WindowGroupLimitExec => w }.size >= 2,
      "dense top-10 and fused top-10 must both go through " +
        "rank-limit pushdown")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty ||
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "probe cells and query codes must broadcast into the index scan")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q199 prebuilt-index roundtrip equals the inline composition") {
    // the amortized path (ivfIndex → cell-partitioned vec_id-sorted
    // parquet → rrfHybridIvfQuery) must reproduce the inline
    // build+query byte-identically: pins the partition-column type
    // change (cell comes back as an INT partition value joined against
    // the long-typed probe pairs), the sorted write layout, and that
    // the centroids the query side needs are exactly the build's
    val docs = corpus(808L, 80)
    val vecs = uniformVectors(909L, docs.map(_._1))
    val docsDf = docs.toDF("doc_id", "text")
    val embDf = vecs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "e0")
    def collectOut(plan: Pins => org.apache.spark.sql.DataFrame) =
      Pins.scoped(p => plan(p).collect().map(_.toSeq).toSeq)
    val inline = collectOut(Extended10.rrfHybridIvfPlan(_,
      docsDf, embDf, dim = 8, nCells = 4, nProbe = 2))
    val (index, cents) = Extended10.ivfIndex(embDf, dim = 8, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rt")
    try {
      index.repartition(col("cell")).sortWithinPartitions("vec_id")
        .write.partitionBy("cell").mode("overwrite").parquet(dir.toString)
      val prebuilt = collectOut(Extended10.rrfHybridIvfQuery(_,
        docsDf, spark.read.parquet(dir.toString), cents, nProbe = 2))
      assert(prebuilt == inline)
      // plan evidence (PLANS.md q199): the probed-cell restriction must
      // reach the index read as PARTITION filters — pruning at the file
      // listing, not a post-scan filter over the whole corpus
      import org.apache.spark.sql.execution.FileSourceScanExec
      val pruned = Pins.scoped(p => Extended10.rrfHybridIvfQuery(p,
          docsDf, spark.read.parquet(dir.toString), cents, nProbe = 2)
        .queryExecution.sparkPlan.collect {
          case s: FileSourceScanExec if s.partitionFilters.exists(
            _.references.exists(_.name == "cell")) => s
        })
      assert(pruned.nonEmpty,
        "candidate scan must carry cell partition filters")
    } finally {
      val walked = java.nio.file.Files.walk(dir)
      try walked
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  // ---------------------------------------------------------------- q200
  test("q200 append is batch-local and assignment-deterministic") {
    val docs = corpus(617L, 60)
    val vecs = uniformVectors(619L, docs.map(_._1))
    val embDf = vecs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "e0")
    val base = embDf.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
    val batch = embDf.filter(pmod(col("vec_id"), lit(10L)) === 9)
    val (index, cents) = Extended10.ivfIndex(base, dim = 8, nCells = 4)
    // per-cell (n_base, n_batch) of the audit of `b` appended to `index`
    def counts(b: org.apache.spark.sql.DataFrame) =
      Extended10.ivfAppendAudit(index, cents, b, dim = 8).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // auditing the base against its own quantizer assigns every base
    // row to its index cell (the append argmin IS the ingest argmin)
    val cellSizes = index.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(base).map { case (c, (_, nt)) => c -> nt } == cellSizes)
    // auditing in two batches equals auditing at once (batch-local:
    // no append reads or perturbs any other row)
    val ids = batch.select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.length >= 2)
    val mid = ids(ids.length / 2)
    val split = Seq(batch.filter(col("vec_id") < mid),
      batch.filter(col("vec_id") >= mid)).map(counts)
    val whole = counts(batch)
    assert(whole.keySet.forall(c => whole(c)._2 ==
      split.map(_.get(c).fold(0L)(_._2)).sum))
    assert(whole.values.map(_._2).sum == ids.length)
  }

  test("q200 audit: base and batch errors equal a driver-side nearest-centroid reference") {
    // reference: each row's squared L2 to its nearest centroid, computed
    // on the driver with l2sqLocal over the fixture (lower id on a tie)
    val docs = corpus(623L, 60)
    val vecs = uniformVectors(629L, docs.map(_._1))
    val embDf = vecs.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "e0")
    val base = embDf.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
    val batch = embDf.filter(pmod(col("vec_id"), lit(10L)) === 9)
    val (index, cents) = Extended10.ivfIndex(base, dim = 8, nCells = 4)
    val sorted = cents.sortBy(_._1)
    def nearest(ids: Iterable[Long]): Seq[(Long, Double)] =
      ids.toSeq.sorted.map { id =>
        val e = vecs(id).toArray
        sorted.map { case (c, ce) => (c, Clustering.l2sqLocal(e, ce)) }
          .minBy(_._2)
      }
    val (bIds, tIds) = vecs.keys.partition(_ % 10 != 9)
    val (refBase, refBatch) = (nearest(bIds), nearest(tIds))
    def mean(xs: Seq[(Long, Double)]) = xs.map(_._2).sum / xs.size
    val audit = Extended10.ivfAppendAudit(index, cents, batch, dim = 8)
      .collect()
    assert(audit.nonEmpty && refBase.nonEmpty && refBatch.nonEmpty)
    audit.foreach { r =>
      val cell = r.getLong(0)
      val (cb, ct) = (refBase.filter(_._1 == cell), refBatch.filter(_._1 == cell))
      assert(r.getLong(1) == cb.size && r.getLong(2) == ct.size, s"cell $cell")
      assert(math.abs(r.getDouble(3) - mean(refBase)) < 1e-6, s"cell $cell base_mse")
      assert(math.abs(r.getDouble(4) - mean(refBatch)) < 1e-6, s"cell $cell batch_mse")
      if (cb.nonEmpty && ct.nonEmpty && mean(cb) > 0)
        assert(math.abs(r.getDouble(6) - mean(ct) / mean(cb)) < 1e-6,
          s"cell $cell cell_drift")
    }
    assert(audit.map(_.getLong(0)).toSet ==
      (refBase ++ refBatch).map(_._1).toSet)
  }

  test("q200 drift trigger: off-distribution batch trips retrain") {
    // deterministic planted geometry: base vectors sit on 4 anchors
    // with small residues, so the quantizer's cells are the anchors
    // and base MSE is the residue scale. An in-distribution batch
    // (same anchors, same residue law) stays ~1x base MSE; an
    // off-distribution batch (anchors shifted far outside the trained
    // space) lands far from EVERY centroid and must trip the trigger
    import spark.implicits._
    val anchors = Vector(
      Vector(8.0, 0, 0, 0, 0, 0, 0, 0), Vector(0, 0, 8.0, 0, 0, 0, 0, 0),
      Vector(0, 0, 0, 0, 8.0, 0, 0, 0), Vector(0, 0, 0, 0, 0, 0, 8.0, 0))
    def planted(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val a = anchors((id % 4).toInt)
        (id, a.zipWithIndex.map { case (v, j) =>
          v + ((id * 13 + j * 5) % 3) * 0.1 })
      }.toDF("vec_id", "e0")
    val baseDf = planted((0L until 80L))
    val (index, cents) = Extended10.ivfIndex(baseDf, dim = 8, nCells = 4)
    val inDist = planted((1000L until 1020L))
    val inAudit = Extended10.ivfAppendAudit(index, cents, inDist, dim = 8)
      .collect()
    assert(inAudit.map(_.getLong(1)).sum == 80 &&
      inAudit.map(_.getLong(2)).sum == 20, "audit covers both sides")
    assert(inAudit.forall(!_.getBoolean(5)),
      "in-distribution batch must not trip retrain")
    val offDist = inDist.select(col("vec_id"),
      transform(col("e0"), x => x + 100.0).as("e0"))
    val offAudit = Extended10.ivfAppendAudit(index, cents, offDist, dim = 8)
      .collect()
    assert(offAudit.filter(_.getLong(2) > 0).nonEmpty)
    assert(offAudit.forall(_.getBoolean(5)),
      "off-distribution batch must trip retrain on every audit row")
    // per-cell visibility (ADVICE r12): the off-distribution batch's
    // cell_drift ratio must be visibly large wherever both sides are
    // populated, and never smaller than honest (null when a side is
    // empty)
    val offRatios = offAudit.filter(r => r.getLong(1) > 0 &&
      r.getLong(2) > 0).map(_.getDouble(6))
    assert(offRatios.nonEmpty && offRatios.forall(_ > 2.0),
      "localized drift must be visible in cell_drift")
  }

  test("planted twin fuses to the top: query doc leads both lists") {
    // each query doc is BUILT to lead both lists: a unique term no
    // other doc contains (lexical list = self alone, df = 1) and a
    // one-hot code vector orthogonal to every other query's (self dot
    // 255² vs 0 cross); non-query vectors are flat, so the quantizer
    // drops them and cannot perturb the dense list
    val ids = (0 until 40).map(_.toLong * 7 + 3)
    val qids = ids.sorted.take(5)
    val qwords = Vector("quu", "qvv", "qww", "qxx", "qyy")
    val docs = ids.map { id =>
      val k = qids.indexOf(id)
      if (k >= 0) (id, Seq.fill(5)(qwords(k)).mkString(" "))
      else (id, "alpha beta gamma delta")
    }
    val vecs = ids.map { id =>
      val k = qids.indexOf(id)
      if (k >= 0)
        id -> Vector.tabulate(8)(i => if (i == k) 2.0 / 16 else 1.0 / 16)
      else id -> Vector.fill(8)(1.0 / 16)
    }.toMap
    val got = runEngine(docs, vecs)
    qids.foreach { q =>
      val top = got.filter(_._1 == q).minBy(_._2)
      assert(top._3 == q && top._5.contains(1L) && top._6.contains(1L),
        s"query $q: expected self leading both lists at rrf_rank 1, " +
          s"got $top")
    }
  }
}
