package graft

import graft.ops.{Extended10, SemStoreOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q208 incremental SemDeDup lifecycle (rows-only in t2 — float
  * k-means cells, the q45/q108/q187/q200 precedent). Pins:
  *  - planted-copy recovery: batch copies of store vectors drop, the
  *    within-batch extra copy drops, fresh vectors never drop;
  *  - incremental ≡ full q187 on planted exact cliques: the batch
  *    probe's total drop count equals the full-corpus run's drop over
  *    the union minus the store's own (0 on a distinct store) —
  *    exact-copy groups co-cell under ANY quantizer, so the law is
  *    partition-independent;
  *  - append law: a later batch's copy of an ADMITTED rep drops.
  */
class SemStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val Dim = 8

  /** Distinct well-separated vectors: e_p + 0.3·e_q with distinct
    * (p, q) pairs — any two DIFFERENT pairs have cosine ≤ 1/1.09 ≈
    * 0.917 < τ = 0.99, so only exact copies are near-dups. */
  private def vec(i: Long): Seq[Double] = {
    val p = (i % Dim).toInt
    val q = ((p + 1 + i / Dim) % Dim).toInt
    Seq.tabulate(Dim)(j => (if (j == p) 1.0 else 0.0) +
      (if (j == q) 0.3 else 0.0))
  }

  // store: 40 distinct vectors, ids 0–39
  private def storeRows: Seq[(Long, Seq[Double])] =
    (0L until 40L).map(i => (i, vec(i)))
  // batch: 5 copies of store vecs 0–4, a within-batch pair of a fresh
  // vector, 3 fresh distinct vectors
  private def batchRows: Seq[(Long, Seq[Double])] =
    (100L until 105L).map(i => (i, vec(i - 100L))) ++
      Seq((105L, vec(45L)), (106L, vec(45L))) ++
      (107L until 110L).map(i => (i, vec(i - 60L))) // vec 47..49, fresh

  test("planted copies drop, fresh vectors don't; incremental ≡ full cliques") {
    val (model, reps) = SemStoreOps.semStoreBuild(
      storeRows.toDF("id", "e"), dim = Dim, kOverride = Some(4))
    val audit = SemStoreOps.semDedupVsStore(
      batchRows.toDF("id", "e"), model, reps).collect()
    val dropped = audit.map(_.getLong(3)).sum
    val nBatch = audit.map(_.getLong(2)).sum
    assert(nBatch == 10L)
    // 5 store copies + 1 within-batch extra copy; the 4 fresh distinct
    // reps (105's keeper + 107–109) must NOT drop
    assert(dropped == 6L, s"expected 6 drops, got $dropped: " +
      audit.mkString(", "))
    // incremental ≡ full on planted cliques: the full q187 pipeline
    // over store ∪ batch drops the same 6 rows (store alone drops 0 —
    // all distinct), under ITS OWN quantizer
    val fullUnion = Extended10.semDedupCells(
      (storeRows ++ batchRows).toDF("id", "e"), k = 4, dim = Dim,
      tau = 0.99).collect().map(_.getLong(2)).sum
    spark.catalog.clearCache()
    val fullStore = Extended10.semDedupCells(
      storeRows.toDF("id", "e"), k = 4, dim = Dim, tau = 0.99)
      .collect().map(_.getLong(2)).sum
    spark.catalog.clearCache()
    assert(fullStore == 0L)
    assert(dropped == fullUnion - fullStore)
    // per-cell audit shape: n_store counts only the batch's cells
    audit.foreach { r =>
      assert(r.getLong(2) > 0L, "every emitted cell saw batch rows")
    }
  }

  test("append law: admitted reps join the store") {
    val (model, reps) = SemStoreOps.semStoreBuild(
      storeRows.toDF("id", "e"), dim = Dim, kOverride = Some(4))
    val admitted = SemStoreOps.semAdmitted(
      batchRows.toDF("id", "e"), model, reps)
    // admitted = the pair's keeper (105, cnt 2) + the 3 fresh reps
    val adm = admitted.collect().map(r => r.getLong(1) -> r.getLong(3))
      .toMap
    assert(adm.keySet == Set(105L, 107L, 108L, 109L))
    assert(adm(105L) == 2L)
    // batch 2: a copy of ADMITTED 105 must now drop, a copy of a
    // store vector still drops, a fresh vector doesn't
    val b2 = Seq((200L, vec(45L)), (201L, vec(10L)), (202L, vec(50L)))
    val out = SemStoreOps.semDedupVsStore(
      b2.toDF("id", "e"), model, reps.unionByName(admitted)).collect()
    assert(out.map(_.getLong(3)).sum == 2L,
      s"expected 2 drops vs appended store: ${out.mkString(", ")}")
  }

  test("two-level regime (k > 64): same laws") {
    // force the semDedupOnReps switch: the quantizer is two-level, yet
    // every law is partition-independent for exact cliques, so the
    // planted counts are unchanged
    val (model, reps) = SemStoreOps.semStoreBuild(
      storeRows.toDF("id", "e"), dim = Dim, kOverride = Some(72))
    assert(model.base.isInstanceOf[SemStoreOps.SemTwoLevel],
      s"k=72 must select the two-level quantizer, got $model")
    val audit = SemStoreOps.semDedupVsStore(
      batchRows.toDF("id", "e"), model, reps).collect()
    assert(audit.map(_.getLong(2)).sum == 10L)
    assert(audit.map(_.getLong(3)).sum == 6L,
      s"two-level regime broke the planted law: ${audit.mkString(", ")}")
    // the stored cells are the model's own assignment
    val direct = reps.select("id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaModel = reps.select(col("id"),
        model.assign(col("e")).getField("_1").as("cid2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == viaModel)
  }

  test("population guard: oversized cells split at build, laws survive") {
    // force the worst-case bound (code review r15: the store
    // previously lacked q187's r12 boundCellPopulations guard): k = 2
    // over 40 reps gives ~20-rep cells, far over maxCell = 8 — the
    // build must split until every cell holds ≤ 8 reps, the stored
    // cells must be the assignment's (split walk included), and the
    // planted drop laws are unchanged (they hold under ANY cell
    // partition)
    val (model, reps) = SemStoreOps.semStoreBuild(
      storeRows.toDF("id", "e"), dim = Dim, kOverride = Some(2),
      maxCell = 8)
    assert(model.splits.nonEmpty, "the guard must have split something")
    val pops = reps.groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pops.values.max <= 8L,
      s"a cell exceeds maxCell after the guard: $pops")
    // split parents must not appear as cells in the stored reps
    model.splits.keys.foreach(p =>
      assert(!pops.contains(p), s"split parent $p still holds reps"))
    // the stored cells are the model's assignment, split walk included
    val direct = reps.select("id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaModel = reps.select(col("id"),
        model.assign(col("e")).getField("_1").as("cid2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == viaModel)
    // and the planted laws are partition-independent
    val audit = SemStoreOps.semDedupVsStore(
      batchRows.toDF("id", "e"), model, reps).collect()
    assert(audit.map(_.getLong(2)).sum == 10L)
    assert(audit.map(_.getLong(3)).sum == 6L,
      s"split-guarded store broke the planted law: ${audit.mkString(", ")}")
    // single-pass ingest: audit ≡ semDedupVsStore, admitted ≡
    // semAdmitted (both derived from ONE probe)
    val (a2, adm2) = SemStoreOps.semIngest(
      batchRows.toDF("id", "e"), model, reps)
    assert(a2.collect().map(_.toSeq).toSeq == audit.map(_.toSeq).toSeq)
    assert(adm2.select("id").collect().map(_.getLong(0)).toSet ==
      Set(105L, 107L, 108L, 109L))
  }

  test("batch flood: probe pair joins bounded, audit semantics unchanged") {
    // r15 verdict item 2: stored cells are split-bounded at build time
    // but BATCH cells were not — a batch concentrated in one cell made
    // the within-batch pair join O(b_c²). Force the worst case: k = 1
    // (every rep in one cell) and a 28-row batch, probed with
    // maxCell = 8 → refineBatchCells must fire, split the flooded cell
    // into bounded (cid, sub) groups, and leave the audit BIT-IDENTICAL
    // here — the planted corpus has no near-dup pair except exact
    // copies, which share a refined sub-cell by construction (same
    // vector → same argmin), so refinement can't separate any pair the
    // probe would have compared.
    val (model, reps) = SemStoreOps.semStoreBuild(
      storeRows.toDF("id", "e"), dim = Dim, kOverride = Some(1))
    // 3 store copies (drop) + an exact within-batch pair (1 drop) +
    // 23 fresh distinct vectors (offsets 5–7 — disjoint (p,q) pairs
    // from the store's 0–4 range, so cosine < τ against everything)
    val flood = (100L until 103L).map(i => (i, vec(i - 100L))) ++
      Seq((103L, vec(45L)), (104L, vec(45L))) ++
      (105L until 110L).map(i => (i, vec(i - 65L))) ++ // vec 40..44
      (110L until 112L).map(i => (i, vec(i - 64L))) ++ // vec 46..47
      (112L until 128L).map(i => (i, vec(i - 64L)))    // vec 48..63
    val floodDf = flood.toDF("id", "e")
    // the refinement itself: fires on the flood, bounded groups, and
    // stays off at the default bound
    val bReps = Extended10.collapseExact(floodDf).select(
      model.assign(col("e")).getField("_1").as("cid"),
      col("id"), col("e"), col("cnt"))
    assert(SemStoreOps.refineBatchCells(bReps, model,
      maxCell = Extended10.SemDedupMaxCell).isEmpty,
      "no flood at the default bound")
    val refine = SemStoreOps.refineBatchCells(bReps, model, maxCell = 8)
    assert(refine.isDefined, "a 27-rep cell over maxCell=8 must refine")
    val groups = bReps
      .withColumn("sub", refine.get(col("cid"), col("e")))
      .groupBy("cid", "sub").count().collect().map(_.getLong(2))
    assert(groups.length >= 2 && groups.max < 27L,
      s"flooded cell not genuinely split: ${groups.mkString(",")}")
    // audit parity: flood-capped probe ≡ uncapped probe bit-for-bit
    val capped = SemStoreOps.semDedupVsStore(floodDf, model, reps,
      maxCell = 8).collect().map(_.toSeq).toSeq
    val plain = SemStoreOps.semDedupVsStore(floodDf, model, reps)
      .collect().map(_.toSeq).toSeq
    assert(capped === plain)
    assert(capped.map(_(3).asInstanceOf[Long]).sum == 4L,
      s"planted law: 3 store copies + 1 exact pair drop: $capped")
    assert(capped.map(_(2).asInstanceOf[Long]).sum == 28L)
    // and the one-pass ingest path threads the cap identically
    val (a2, adm2) = SemStoreOps.semIngest(floodDf, model, reps,
      maxCell = 8)
    assert(a2.collect().map(_.toSeq).toSeq === plain)
    assert(adm2.count() == 24L) // 103's keeper + 23 fresh
  }

  test("declared q208: audit shape, totals, stored-path parity") {
    val out = SemStoreOps.q208SemDedupIncr(spark, SparkTest.sfDir)
      .collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach { r =>
      assert(r.getLong(2) > 0L && r.getLong(3) >= 0L &&
        r.getLong(3) <= r.getLong(2))
    }
  }
}
