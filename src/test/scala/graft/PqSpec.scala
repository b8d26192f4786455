package graft

import graft.ops.{Clustering, Extended10, PqOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for q201 PQ/ADC (rows-only in t2 — float k-means codebooks,
  * the q45/q108/q199 precedent):
  *  - pack/unpack roundtrip over the full 8-bit × 8-subspace domain;
  *  - the LOSSLESS-ALPHABET law: on a binary-exact corpus whose every
  *    subspace takes ≤ ks distinct subvector values, the codebooks
  *    recover the alphabet exactly, reconstruction is exact, and the
  *    asymmetric distance EQUALS the exact distance bit-for-bit —
  *    so the ADC ranking IS the exact ranking;
  *  - planted-cluster recovery: ADC top-10 vs brute exact top-10
  *    overlap ≥ 9/10 per query on a noisy corpus (q199's bar);
  *  - self-retrieval at rank 1 with d2 = 0;
  *  - IVFADC composition: at FULL probe, ADC over the probed cells of
  *    a q199/q200 ivfIndex equals the exhaustive scan bit-for-bit.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  test("pack/unpack roundtrip over the code domain") {
    val codes = Seq(
      Array(0, 0, 0, 0, 0, 0, 0, 0), Array(255, 0, 255, 0, 255, 0, 255, 0),
      Array(1, 2, 3, 4, 5, 6, 7, 8), Array(255, 255, 255, 255, 255, 255, 255, 255),
      Array(17, 0, 0, 0, 0, 0, 0, 200))
    codes.foreach { cs =>
      var packed = 0L
      cs.zipWithIndex.foreach { case (c, i) =>
        packed |= (c.toLong & 0xffL) << (8 * i)
      }
      assert(PqOps.unpackCode(packed, 8).toSeq == cs.toSeq)
    }
  }

  /** Binary-exact alphabet corpus: dim 16, m 8 (subDim 2); subspace s
    * offers 4 distinct subvectors ((a + s) % 4) / 16-scaled — all
    * values k/16, so every squared difference and every ≤16-term sum
    * is exact in IEEE. Ids 0–3 enumerate alphabet entry i in EVERY
    * subspace, so the first-k-by-id Lloyd init already holds the whole
    * alphabet and the update fixes it exactly (means of identical
    * points). */
  private def alphabetVec(i: Long): Seq[Double] =
    (0 until 8).flatMap { s =>
      val a = if (i < 4) i.toInt else ((i * 7 + s) % 4).toInt
      Seq((a * 4 + s % 3) / 16.0, (a * 3) / 16.0)
    }

  test("lossless alphabet: ADC distance IS the exact distance") {
    val rows = (0L until 64L).map(i => (i, alphabetVec(i)))
    val df = rows.toDF("id", "e")
    val model = PqOps.pqTrain(df, dim = 16, m = 8, ks = 4)
    // codebooks recover the alphabet exactly → reconstruction exact
    val codes = df.select(col("id"),
        PqOps.pqEncode(model)(col("e")).as("code")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, v) =>
      assert(PqOps.decodeLocal(model, codes(i)).toSeq == v,
        s"vector $i must reconstruct exactly from its code")
    }
    // asymmetric distance == exact distance, bit-for-bit, for every
    // (query, candidate) pair — same ascending-subspace IEEE order
    val qs = rows.take(5)
    qs.foreach { case (qi, qv) =>
      val t = PqOps.adcTable(model, qv.toArray)
      rows.foreach { case (ci, cv) =>
        var adc = 0.0
        val ids = PqOps.unpackCode(codes(ci), 8)
        (0 until 8).foreach(s => adc += t(s)(ids(s)))
        val exact = Clustering.l2sqLocal(qv.toArray, cv.toArray)
        assert(adc == exact,
          s"ADC($qi,$ci)=$adc must bit-equal exact $exact")
      }
    }
    // and therefore the declared pipeline's ADC column equals its
    // exact column on every emitted row
    val qvecs = qs.map { case (i, v) => (i, v.toArray) }.toArray
    val out = PqOps.pqAdcQuery(df, model, qvecs, topR = 64, depth = 64)
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(3) == r.getDouble(4),
      "lossless corpus: adc_d2 must equal d2 on every row"))
  }

  /** Noisy planted clusters: 4 one-hot anchors (scale 8) in 16-d with
    * deterministic small residues. */
  private def planted(n: Int): Seq[(Long, Seq[Double])] =
    (0L until n.toLong).map { i =>
      val v = Array.fill(16)(0.0)
      v(((i % 4) * 4).toInt) = 8.0
      (0 until 16).foreach(j => v(j) += ((i * 13 + j * 5) % 3) * 0.1)
      (i, v.toSeq)
    }

  test("planted clusters: ADC top-10 overlaps exact top-10 >= 9/10") {
    val rows = planted(200)
    val df = rows.toDF("id", "e")
    val model = PqOps.pqTrain(df, dim = 16, m = 8, ks = 8)
    val qvecs = rows.take(3).map { case (i, v) => (i, v.toArray) }.toArray
    val adcTop = PqOps.pqAdcQuery(df, model, qvecs, topR = 10, depth = 10)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    qvecs.foreach { case (q, qv) =>
      val exactTop = rows
        .map { case (i, v) => (i, Clustering.l2sqLocal(qv, v.toArray)) }
        .sortBy { case (i, d) => (d, i) }.take(10).map(_._1).toSet
      val overlap = (adcTop(q) intersect exactTop).size
      assert(overlap >= 9, s"query $q: ADC top-10 overlap $overlap < 9")
      // self-retrieval: the query is a corpus vector — rank 1, d2 = 0
      assert(adcTop(q).contains(q))
    }
    val out = PqOps.pqAdcQuery(df, model, qvecs, topR = 10, depth = 1)
      .collect()
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) && r.getDouble(4) == 0.0,
        "self-retrieval must lead with exact distance 0")
    }
  }

  test("IVFADC composition: full probe equals the exhaustive scan") {
    // candidates from ALL cells of a q199/q200 coarse index, ADC-
    // ranked and refined, must reproduce the exhaustive q201 pipeline
    // bit-for-bit — the composed (IVFADC) path only changes WHICH
    // candidates are scanned, and full probe makes that set the corpus
    val rows = planted(120)
    val df = rows.toDF("id", "e")
    val model = PqOps.pqTrain(df, dim = 16, m = 8, ks = 8)
    val qvecs = rows.take(2).map { case (i, v) => (i, v.toArray) }.toArray
    val (index, cents) = Extended10.ivfIndex(
      df.select(col("id").as("vec_id"), col("e").as("e0")),
      dim = 16, nCells = 4)
    val nProbe = cents.length // full probe
    val probed = qvecs.flatMap { case (q, e) =>
      cents.map { case (cid, ce) => (cid, Clustering.l2sqLocal(e, ce)) }
        .sortBy { case (cid, d) => (d, cid) }.take(nProbe).map(_._1)
    }.distinct.toSeq
    val candidates = index
      .filter(col("cell").isin(probed.map(Long.box): _*))
      .select(col("vec_id").as("id"), col("e0").as("e"))
    val composed = PqOps.pqAdcQuery(candidates, model, qvecs,
      topR = 16, depth = 10).collect().map(_.toSeq).toSeq
    val exhaustive = PqOps.pqAdcQuery(df, model, qvecs,
      topR = 16, depth = 10).collect().map(_.toSeq).toSeq
    assert(composed == exhaustive)
  }

  test("q201 plan: rank-limit pushdown, codes-only scan, point lookups") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val rows = planted(300)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_plan")
    try {
      rows.toDF("id", "e").coalesce(2).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(s"$dir/vectors")
      val emb = spark.read.parquet(s"$dir/vectors")
      val model = PqOps.pqTrain(emb, dim = 16, m = 8, ks = 8)
      val qvecs = rows.take(2).map { case (i, v) => (i, v.toArray) }
        .toArray
      emb.select(col("id"), PqOps.pqEncode(model)(col("e")).as("code"))
        .sortWithinPartitions("id")
        .write.mode("overwrite").parquet(s"$dir/codes")
      val codes = spark.read.parquet(s"$dir/codes")
      // the ADC scan: map-side rank limit, broadcast query fanout
      // (never a cartesian), and the ONLY file read is the code files
      val adcPlan = PqOps.adcTopFrame(codes, model, qvecs, topR = 8)
        .queryExecution.sparkPlan
      assert(adcPlan.collect { case w: WindowGroupLimitExec => w }
        .nonEmpty, "ADC top-R must push a rank group limit map-side")
      assert(adcPlan.collect { case c: CartesianProductExec => c }
        .isEmpty, "query fanout must broadcast, not cartesian")
      val adcScans = adcPlan.collect { case s: FileSourceScanExec => s }
      assert(adcScans.nonEmpty && adcScans.forall(
        _.relation.location.rootPaths.forall(
          _.toString.contains("codes"))),
        "the ADC scan must read the 8-byte code files only")
      // refinement: the raw-vector read carries the PUSHED candidate
      // ids (literal isin → row-group pruning), not a full scan
      val out = PqOps.pqAdcQueryCodes(emb, codes, model, qvecs,
        topR = 8, depth = 5)
      val embScans = out.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths
          .forall(_.toString.contains("vectors")) => s
      }
      assert(embScans.nonEmpty && embScans.forall(_.metadata
        .get("PushedFilters").exists(_.contains("In(id"))),
        "refinement must push the candidate ids to the corpus scan")
    } finally FsUtil.deleteRecursively(dir)
  }

  test("q201 over embeddings: shape, self-retrieval, refinement order") {
    val out = ops.PqOps.q201PqAdc(spark, SparkTest.sfDir).collect()
    val qids = out.map(_.getLong(0)).distinct
    assert(qids.length == 5 && out.length == qids.length * 10)
    qids.foreach { q =>
      val rowsQ = out.filter(_.getLong(0) == q).sortBy(_.getLong(1))
      // the query vector is in the corpus: exact distance 0 leads
      assert(rowsQ.head.getLong(2) == q && rowsQ.head.getDouble(4) == 0.0)
      // refined output is ordered by exact distance, not ADC
      val d2s = rowsQ.map(_.getDouble(4))
      assert(d2s.sameElements(d2s.sorted))
    }
  }
}
