package graft.ops

import graft.{Declared, Pins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q208 — INCREMENTAL SemDeDup: the maintenance tier of q187 (the last
  * dedup family without one), the q200/q153/q203 batch-vs-store shape
  * applied to semantic near-duplicates (SemDeDup is Abbas et al. 2023,
  * arXiv:2303.09540 — the published pipeline q187 implements; this
  * file adds the standing-index half a 100 TB ingest loop needs).
  *
  * Store artifact (the q200 cells+reps shape): the standing corpus's
  * exact-collapsed representatives with their frozen-quantizer cell
  * ids — (cid, id, e, cnt) — plus the k·d centroid model (driver-held
  * during a probe, a k-row table at rest; the model-artifact class).
  * An arriving batch is exact-collapsed, assigned to the STORED cells
  * by the same in-row argmin the ingest used, and judged within-cell
  * against the store's reps — the store side is semi-reduced to the
  * batch's cells FIRST (∝ batch), so the standing reps are never
  * rescanned beyond that semi-join and never rewritten. Admitted
  * (un-hit) reps append BLIND, bucketed by cid.
  *
  * Sequential contract (the q205 keep-first precedent): a batch row
  * drops iff its representative has a cosine ≥ τ neighbour in the
  * store, or an EARLIER (lower rep id) batch representative in its
  * cell — every row judged against everything that arrived before it.
  * This is greedy where q187's connected components are transitive:
  * on exact-duplicate groups (cliques — cosine(x, x) = 1) the two
  * coincide, which is what SemStoreSpec pins bit-for-bit on planted
  * corpora; on borderline near-dup CHAINS the greedy rule can keep a
  * row CC would drop — the inherent (and standard) price of never
  * revisiting admitted data.
  *
  * Rows-only in t2 (float k-means cells — the q45/q108/q187/q200
  * precedent). SemStoreSpec pins planted-copy recovery, the
  * no-false-positive side, incremental ≡ full on planted cliques,
  * and the append law (a copy of an admitted rep drops on the next
  * probe).
  *
  * Scale: probe work ∝ batch reps × their cells' stored populations —
  * cells bound pair work (the q187 argument; the stored quantizer's
  * adaptive k sizes cells to ≤ 256 reps on average at build). The
  * quantizer model rides the closure and follows semDedupOnReps's
  * regime switch: FLAT fit/argmin at k ≤ 64 (the sf ladder and q200's
  * exact store shape), [[Clustering.lloydTwoLevel]] beyond it — √k
  * per-row fit and assignment work, the answer to the flat-Lloyd
  * O(n·k·d) ingest wall at adaptive k over large distinct corpora.
  */
object SemStoreOps {

  private val Tau = 0.99

  /** The base quantizer — flat (q200's shape) or two-level
    * (semDedupOnReps's k > 64 regime). `assignLocal` is the
    * driver-side (cid, d2) argmin so [[SemModel]] can compose the
    * split walk on top inside ONE udf. */
  private[graft] sealed trait SemBase {
    def leaves: Array[(Long, Array[Double])]
    def assignLocal(e: Seq[Double]): (Long, Double)
  }
  private[graft] final case class SemFlat(
      cents: Array[(Long, Array[Double])]) extends SemBase {
    private val sorted = cents.sortBy(_._1)
    def leaves: Array[(Long, Array[Double])] = cents
    def assignLocal(e: Seq[Double]): (Long, Double) =
      Clustering.argminLocal(sorted, e)
  }
  private[graft] final case class SemTwoLevel(
      m: Clustering.TwoLevelModel) extends SemBase {
    // the nearestTwoLevel safety rule verbatim: restrict the top
    // argmin to populated cells (an empty top cell has no subs key)
    private val top = m.top.filter(t => m.subs.contains(t._1)).sortBy(_._1)
    def leaves: Array[(Long, Array[Double])] =
      m.subs.toSeq.flatMap { case (tc, arr) =>
        arr.map { case (bc, ce) => (tc * m.k2 + bc, ce) }
      }.sortBy(_._1).toArray
    def assignLocal(e: Seq[Double]): (Long, Double) = {
      val tc = Clustering.argminLocal(top, e)._1
      val (bc, bd) = Clustering.argminLocal(m.subs(tc), e)
      (tc * m.k2 + bc, bd)
    }
  }

  /** The store's quantizer: a base (flat or two-level) plus the
    * worst-case SPLIT map — parent leaf cid → (global child cid,
    * centroid) — that [[semStoreBuild]]'s population guard produced
    * (code review r15: the store previously lacked the
    * boundCellPopulations bound q187 gained in r12, so a hot cone the
    * quantizer failed to split re-created unbounded within-cell pair
    * work at probe time). `assign` descends: base argmin, then walk
    * split parents until a real leaf (children of children are split
    * rows themselves — depth bounded by the build's maxRounds). */
  private[graft] final case class SemModel(base: SemBase,
      splits: Map[Long, Array[(Long, Array[Double])]]) {
    def isEmpty: Boolean = base.leaves.isEmpty
    def assignLocal(e: Seq[Double]): (Long, Double) = {
      var cur = base.assignLocal(e)
      var guard = 0
      while (splits.contains(cur._1) && guard < 16) {
        cur = Clustering.argminLocal(splits(cur._1), e)
        guard += 1
      }
      cur
    }
    def assign: org.apache.spark.sql.expressions.UserDefinedFunction =
      udf { (e: Seq[Double]) => assignLocal(e) }.asNonNullable()
  }

  /** Build the store: exact-collapse, size k adaptively from the rep
    * count ([[Extended10.semDedupK]] — cells average ≤ 256 reps), fit
    * the quantizer via the SHARED regime switch
    * ([[Clustering.fitQuantizer]]: flat at k ≤ 64, two-level beyond),
    * assign, then bound the WORST-CASE cell population (the r12
    * boundCellPopulations argument, applied at build time so the
    * bound holds for every probe): every cell whose rep count
    * exceeds `maxCell` is recursively split via
    * [[Clustering.fitWithinCells]], split subcentroids recorded in the
    * model with fresh global cids, and the reps remapped — so a probe
    * against the model sees the same bounded cells the build produced.
    * Returns the driver-held model and the reps frame (cid, id, e,
    * cnt), materialized so the caller can persist or table it: a
    * checkpoint acquired through `p`, as are the guard's rounds. */
  private[graft] def semStoreBuild(p: Pins, emb: DataFrame, dim: Int,
      kOverride: Option[Int] = None,
      maxCell: Int = Extended10.SemDedupMaxCell): (SemModel, DataFrame) =
    Pins.scoped { own =>
      val reps = own.persist(Extended10.collapseExact(emb))
      val n = reps.count()
      val k = kOverride.getOrElse(Extended10.semDedupK(n))
      val repsSel = reps.select(col("id"), col("e"))
      val base: SemBase = Clustering.fitQuantizer(repsSel, k, dim,
        Some(n)).fold(SemFlat, SemTwoLevel)
      if (base.leaves.isEmpty)
        (SemModel(base, Map.empty),
          reps.select(lit(0L).as("cid"), col("id"), col("e"), col("cnt"))
            .limit(0))
      else {
        val asg0 = p.checkpoint(reps.select(
          SemModel(base, Map.empty).assign(col("e")).getField("_1")
            .as("cid"),
          col("id"), col("e"), col("cnt")))
        val (splits, asg) = boundStoreCells(p, asg0, base, dim, maxCell)
        (SemModel(base, splits), asg)
      }
    }

  /** The build-time population guard (the boundCellPopulations loop,
    * capturing the split STRUCTURE in the model): per round, one
    * k-sized count audit; all oversized cells fitted simultaneously
    * (fitWithinCells, per-cell bounded draws); fresh global cids
    * allocated above every existing leaf and split id in ascending
    * parent order (deterministic); reps remapped and re-materialized.
    * A cell still oversized after maxRounds (or whose draw came up
    * empty) is left as-is — degrade, never loop (the q187 posture).
    * Each round's checkpoint is held by `p` until the next one has
    * materialized. */
  private def boundStoreCells(p: Pins, asg0: DataFrame, base: SemBase, dim: Int,
      maxCell: Int, splitK: Int = 16, maxRounds: Int = 4)
      : (Map[Long, Array[(Long, Array[Double])]], DataFrame) = {
    var asg = asg0
    var splits = Map.empty[Long, Array[(Long, Array[Double])]]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // k-sized audit collect (one row per populated cell)
      val counts = asg.groupBy("cid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val over = counts.filter(_._2 > maxCell).toMap
      if (over.isEmpty) done = true
      else {
        var nextCid = (base.leaves.iterator.map(_._1) ++
          splits.valuesIterator.flatMap(_.iterator.map(_._1))).max + 1
        val subs = Clustering.fitWithinCells(asg, over, splitK, dim,
          maxIters = 4, salt = 300L + round)
        val newSplits = subs.toSeq.sortBy(_._1).collect {
          case (cid, cands) if cands.nonEmpty =>
            val kids = cands.map { case (sid, ce) => (nextCid + sid, ce) }
            nextCid += splitK
            cid -> kids
        }.toMap
        if (newSplits.isEmpty) done = true // every draw empty — degrade
        else {
          splits ++= newSplits
          val remap = udf { (cid: Long, e: Seq[Double]) =>
            newSplits.get(cid) match {
              case Some(kids) => Clustering.argminLocal(kids, e)._1
              case None => cid
            }
          }.asNonNullable()
          val next = p.checkpoint(
            asg.withColumn("cid", remap(col("cid"), col("e"))))
          p.release(asg)
          asg = next
          round += 1
        }
      }
    }
    (splits, asg)
  }

  /** The probe core: batch reps (cid, id, e, cnt) extended with the
    * sequential-contract hit flag `h` — true iff the rep has a
    * cosine ≥ τ neighbour among the store's reps in its cell or an
    * earlier (lower id) batch rep in its cell. Both joins are
    * equi-joins on `keys` (the cell id, plus the ephemeral `sub`
    * refinement key when [[refineBatchCells]] fired); the store side
    * arrives ALREADY semi-reduced to the batch's cells (the caller's
    * contract, ∝ batch). Output keys stay at cid granularity. */
  private[graft] def semProbe(bReps: DataFrame, storeInCells: DataFrame,
      tau: Double, keys: Seq[String] = Seq("cid")): DataFrame = {
    import graft.functions.CosineSim.cosineSim
    val k = keys.map(col)
    val storeHit = bReps.select(k :+ col("id") :+ col("e").as("eb"): _*)
      .join(storeInCells.select(k :+ col("e").as("es"): _*), keys)
      .filter(cosineSim(col("eb"), col("es")) >= tau)
      .select("id").distinct()
    val a = bReps.select(k :+ col("id") :+ col("e").as("ea"): _*)
    val b = bReps.select(k :+ col("id").as("id2")
      :+ col("e").as("eb2"): _*)
    val earlierHit = a.join(b, keys)
      .filter(col("id2") < col("id"))
      .filter(cosineSim(col("ea"), col("eb2")) >= tau)
      .select("id").distinct()
    val hit = storeHit.union(earlierHit).distinct()
      .withColumn("h0", lit(true))
    bReps.join(hit, Seq("id"), "left")
      .select(col("cid"), col("id"), col("e"), col("cnt"),
        coalesce(col("h0"), lit(false)).as("h"))
  }

  /** BATCH-side population guard (r15 verdict item 2): stored cells
    * are split-bounded at build time, but a batch concentrated in one
    * cell made [[semProbe]]'s within-batch pair join O(b_c²) with no
    * bound. Audit per-cell BATCH populations (the collect is filtered
    * to oversized cells first, so it is ≤ nBatchReps/maxCell rows —
    * never cell-count- or data-sized) and split every flooded cell
    * once via [[Clustering.fitWithinCells]] into an ephemeral `sub`
    * key (0 outside flooded cells). The refinement is per-probe and
    * never stored — the store's model and cids are untouched; the
    * same udf re-assigns the store's semi-reduced rows, so an exact
    * copy of a stored rep still meets it in the same (cid, sub) group
    * and the probe's pair joins run on the refined key while audit
    * and append payload stay at true cid granularity.
    *
    * Semantics under flood: pairs split across two sub-cells are not
    * compared — the same documented degrade as the build-time cell
    * splits (cells only bound pair work; exact copies collapse before
    * the quantizer, and cosine < τ pairs never drop under ANY
    * partition). On a batch with no flooded cell the refinement is a
    * no-op and the probe is bit-identical (SemStoreSpec pins both
    * sides). ONE round, splitK sized to the flood (≤ 256): a round
    * divides the flood by up to splitK; a cell still oversized after
    * it (or whose sample draw came up empty) is served as-is —
    * degrade, never loop (the q187 posture). */
  private[graft] def refineBatchCells(bReps: DataFrame, model: SemModel,
      maxCell: Int, salt: Long = 700L)
      : Option[org.apache.spark.sql.expressions.UserDefinedFunction] = {
    val over = bReps.groupBy("cid").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCell).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    if (over.isEmpty) return None
    val dim = model.base.leaves.head._2.length
    val splitK = math.min(256L,
      2L * ((over.values.max + maxCell - 1) / maxCell)).toInt
    val subs = Clustering.fitWithinCells(bReps, over, splitK, dim,
      maxIters = 4, salt = salt)
    if (subs.isEmpty) return None // every draw empty — serve unsplit
    Some(udf { (cid: Long, e: Seq[Double]) =>
      subs.get(cid) match {
        case Some(kids) => Clustering.argminLocal(kids, e)._1 + 1L
        case None => 0L
      }
    }.asNonNullable())
  }

  /** Incremental SemDeDup of a batch against the stored cells+reps:
    * the per-cell audit (cid, n_store, n_batch, n_dropped) —
    * multiplicity-weighted like q187's (a hit rep drops all its cnt
    * rows; an admitted rep keeps one and drops its cnt − 1 exact
    * copies), n_store = stored reps in the cell (0 for a cell only
    * the batch touched). Work ∝ batch: one collapse shuffle, one
    * in-row assignment, one semi-join, two bounded within-cell
    * pair joins. */
  /** Shared probe front half: collapse + assign the batch, semi-reduce
    * the store to the batch's cells (the only store read the probe
    * does, ∝ batch cells), run [[semProbe]] — with the probed frame
    * MATERIALIZED so both ingest outputs derive from one probe pass
    * (code review r15: a real ingest step needs the audit AND the
    * admitted payload, and the two public entries each re-ran the
    * collapse/assignment/pair joins on identical inputs). Its stage
    * checkpoints are acquired through `p`. */
  private def probeFrames(p: Pins, batch: DataFrame, model: SemModel,
      storedReps: DataFrame, tau: Double,
      maxCell: Int = Extended10.SemDedupMaxCell)
      : (DataFrame, DataFrame) = {
    val bReps = p.checkpoint(assigned(batch, model))
    val storeInCells = storedReps
      .join(bReps.select("cid").distinct(), Seq("cid"), "left_semi")
    val probed = refineBatchCells(bReps, model, maxCell) match {
      case None => semProbe(bReps, storeInCells, tau)
      case Some(refine) =>
        // flood: pair joins on the refined (cid, sub) key — the store
        // side re-assigned by the SAME udf, output back at cid grain
        val sub = (f: DataFrame) =>
          f.withColumn("sub", refine(col("cid"), col("e")))
        semProbe(p.checkpoint(sub(bReps)), sub(storeInCells),
          tau, keys = Seq("cid", "sub"))
    }
    (p.checkpoint(probed), storeInCells)
  }

  /** The batch's exact-collapsed reps with their cells: (cid, id, e, cnt). */
  private def assigned(batch: DataFrame, model: SemModel): DataFrame =
    Extended10.collapseExact(batch).select(
      model.assign(col("e")).getField("_1").as("cid"),
      col("id"), col("e"), col("cnt"))

  /** The schema of [[semIngest]]'s audit, read off an unmaterialized
    * probe's plan: no checkpoint, no flooded-cell collect and no cell
    * semi-join (none changes a column), so it starts no job. */
  private[graft] def auditSchema(batch: DataFrame, model: SemModel,
      storedReps: DataFrame): org.apache.spark.sql.types.StructType =
    auditOf(semProbe(assigned(batch, model), storedReps, Tau), storedReps)
      .schema

  /** The per-cell audit over a probed frame (see [[semDedupVsStore]]
    * for the column contract). */
  private def auditOf(probed: DataFrame,
      storeInCells: DataFrame): DataFrame =
    probed.groupBy("cid")
      .agg(sum(col("cnt")).as("n_batch"),
        sum(when(col("h"), col("cnt")).otherwise(col("cnt") - 1))
          .as("n_dropped"))
      .join(storeInCells.groupBy("cid").agg(count(lit(1)).as("n_store")),
        Seq("cid"), "left")
      .select(col("cid"), coalesce(col("n_store"), lit(0L)).as("n_store"),
        col("n_batch"), col("n_dropped"))
      .orderBy("cid")

  private def admittedOf(probed: DataFrame): DataFrame =
    probed.filter(!col("h")).select("cid", "id", "e", "cnt")

  private[graft] def semDedupVsStore(batch: DataFrame,
      model: SemModel, storedReps: DataFrame,
      tau: Double = Tau,
      maxCell: Int = Extended10.SemDedupMaxCell): DataFrame = {
    if (model.isEmpty)
      return batch.select(lit(0L).as("cid"), lit(0L).as("n_store"),
        lit(0L).as("n_batch"), lit(0L).as("n_dropped")).limit(0)
    val (probed, storeInCells) = probeFrames(Pins.forPlan, batch, model,
      storedReps, tau, maxCell)
    auditOf(probed, storeInCells)
  }

  /** The admitted (un-hit) batch reps in store schema — the blind-
    * append payload. Exact copies of an admitted rep are ABSORBED
    * into its cnt (the collapse), so the store stays one row per
    * distinct surviving vector. */
  private[graft] def semAdmitted(batch: DataFrame,
      model: SemModel, storedReps: DataFrame,
      tau: Double = Tau): DataFrame = {
    require(!model.isEmpty, "cannot admit into an empty-model store")
    admittedOf(probeFrames(Pins.forPlan, batch, model, storedReps, tau)._1)
  }

  /** ONE ingest step — the maintenance loop's real shape: probe once,
    * return (per-cell audit, admitted append payload) both derived
    * from the same materialized probed frame, whose checkpoints `p`
    * holds. Callers run the audit, then append the admitted half. */
  private[graft] def semIngest(p: Pins, batch: DataFrame, model: SemModel,
      storedReps: DataFrame, tau: Double = Tau,
      maxCell: Int = Extended10.SemDedupMaxCell)
      : (DataFrame, DataFrame) = {
    require(!model.isEmpty, "cannot ingest into an empty-model store")
    val (probed, storeInCells) = probeFrames(p, batch, model, storedReps,
      tau, maxCell)
    (auditOf(probed, storeInCells), admittedOf(probed))
  }

  /** q208 — incremental SemDeDup over the embeddings table: vectors
    * with vec_id ≡ 0 (mod 7) arrive as the batch (the q203 split),
    * the rest build the standing cells+reps store. Emits the per-cell
    * probe audit (cid, n_store, n_batch, n_dropped). Store derived
    * inline (testdata ships no store — the q200/q203 precedent).
    * Rows-only (float cells). */
  def q208SemDedupIncr(spark: SparkSession, dir: String): DataFrame = Pins.scoped { p =>
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"))
    val batch = emb.filter(pmod(col("id"), lit(7L)) === 0L)
    val (model, reps) =
      semStoreBuild(p, emb.filter(pmod(col("id"), lit(7L)) =!= 0L), dim = 64)
    // the returned audit reads the store's reps: the plan owns them
    semDedupVsStore(batch, model, p.keep(reps))
  }

  val declared: Seq[Declared] = Seq(
    Declared("q208_semdedup_incr", q208SemDedupIncr, None)) // k-means fixpoint: semantic cells
}
