package graft.ops

import graft.{Declared, Layout, Pins}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Distributed k-means (Lloyd's algorithm) over an embedding column —
  * the training half of the IVF index (q45 probes cells; this fits
  * them). Deterministic init and ties: init = the k lowest-id vectors,
  * assignment ties break toward the lower cell id, and the centroid
  * update is a map-side-combined vector-sum Aggregator. NOT claimed:
  * bit-reproducibility across cluster layouts — partial vector sums
  * merge in shuffle-fetch arrival order, so per-cell IEEE accumulation
  * can differ between runs; only the driver-side convergence total is
  * summed in a fixed (cid) order. With a fixed partitioning the result
  * is reproducible in practice, which is what q108's rows-only check
  * and ClusteringSpec pin.
  *
  * Scale analysis (the reason for each choice):
  *  - Assignment: centroids ride the closure (k·d doubles — the same
  *    audit-scale payload a broadcast would carry); each vector finds
  *    its argmin cell in one compiled in-row pass — the corpus never
  *    shuffles and is touched exactly once per round.
  *  - Update: [[VectorSumAgg]] partially aggregates per task, so each
  *    task ships k·(d doubles + 1 count) per round, independent of row
  *    count — the same partial/final contract as any hash aggregate.
  *  - Rounds: the k-row update result is collected (bounded by k·d,
  *    not data) and becomes the next round's centroids AND the
  *    convergence cost — one job per round, no per-round checkpoint,
  *    constant plan depth by construction.
  *  - Convergence: within-cluster cost is monotone non-increasing
  *    under Lloyd; the loop stops on relative improvement ≤ tol, with
  *    the IEEE cost total summed in cid order (deterministic).
  */
object Clustering {

  /** Element-wise vector sum + count; associative and commutative →
    * Spark runs it partial+final (map-side combine). */
  case class VecSum(s: Seq[Double], n: Long)
  class VectorSumAgg(dim: Int)
      extends Aggregator[Seq[Double], VecSum, VecSum] {
    override def zero: VecSum = VecSum(Vector.fill(dim)(0.0), 0L)
    override def reduce(b: VecSum, a: Seq[Double]): VecSum = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) { out(i) = b.s(i) + a(i); i += 1 }
      VecSum(out.toIndexedSeq, b.n + 1L)
    }
    override def merge(x: VecSum, y: VecSum): VecSum = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) { out(i) = x.s(i) + y.s(i); i += 1 }
      VecSum(out.toIndexedSeq, x.n + y.n)
    }
    override def finish(r: VecSum): VecSum = r
    override def bufferEncoder: Encoder[VecSum] = Encoders.product[VecSum]
    override def outputEncoder: Encoder[VecSum] = Encoders.product[VecSum]
  }

  /** Squared L2 distance between two array columns, in-row. Codegen'd
    * Catalyst expression ([[graft.functions.L2Sq]]) since r17 — the
    * former zip_with + aggregate HOF chain evaluated its lambdas
    * INTERPRETED once per element per (vector, centroid) pair and
    * dominated the population-audit stage's CPU (QTime r17: 7 of
    * q108's ~16 executor-CPU-s in that one stage). Same ascending-index
    * IEEE fold — bit-identical values (L2SqSpec pins it). */
  def l2sq(a: Column, b: Column): Column =
    graft.functions.L2Sq.l2Sq(a, b)

  /** Deterministic BOUNDED training sample for coarse quantizers, the
    * Faiss practice (~256 training vectors per centroid carry the
    * density shape; more buys nothing but Lloyd-round cost). One count
    * job sizes a power-of-2 hash modulus so the expected sample is
    * ≤ 256·k; at or below that size the full set trains. The bound is
    * ABSOLUTE, not a corpus fraction — a fraction means Lloyd rounds
    * that grow with the corpus, which is exactly what a sample-trained
    * quantizer exists to avoid; the full corpus is still assigned to
    * cells by the caller. Input contract: an `id` column keys the
    * hash (xxhash64 — deterministic across runs and partitionings).
    * Callers that already hold the row count (SemDeDup's adaptive-k
    * path sizes k from the same count) pass it via `knownCount` so the
    * modulus job isn't paid twice.
    * `salt` distinguishes NESTED draws: an unsalted modulus filter
    * composes as a no-op over input that was itself hash-thinned with
    * a smaller power-of-two modulus (ids already satisfy h % m1 == 0,
    * so h % m2 == 0 passes everything for m2 ≤ m1) — lloydTwoLevel's
    * level-1 re-bound salts its inner draw for exactly this reason. */
  private[graft] def trainingSample(emb: DataFrame, k: Int,
      knownCount: Option[Long] = None, salt: Option[Long] = None)
      : DataFrame = {
    val n = knownCount.getOrElse(emb.count())
    val target = 256L * k
    var m = 1L
    while (n / m > target) m <<= 1
    if (m == 1) emb
    else {
      val h = salt.fold(xxhash64(col("id")))(sl =>
        xxhash64(col("id"), lit(sl)))
      emb.filter(pmod(h, lit(m)) === 0)
      // an empty hash draw (~e^(-128k) theoretical) is handled LAZILY
      // by the fit wrappers ([[lloydSampled]], [[fitCentroidsSampled]]
      // and semDedupOnReps' two-level branch): a zero-centroid fit
      // over a thinned frame refits on the full frame. Until r12 this
      // ran an eager isEmpty (limit-1) probe HERE, at plan-
      // construction time, on every sampled call (ADVICE r12) —
      // detecting emptiness from the fit's own init collect costs
      // nothing in the non-event case, which is all of them
    }
  }

  /** Bounded-sample [[lloyd]] with the LAZY empty-draw fallback
    * (ADVICE r12): fit on the hash-bounded sample; iff the draw
    * thinned (reference inequality — [[trainingSample]] returns `emb`
    * itself when no thinning is needed) AND came back empty — detected
    * from the fit's own empty centroid set, no eager probe — refit on
    * the full frame. Callers' per-row argmin UDFs require a nonempty
    * centroid set whenever rows exist, which this restores exactly as
    * the old eager probe did. */
  private[graft] def lloydSampled(emb: DataFrame, k: Int, dim: Int,
      maxIters: Int, knownCount: Option[Long] = None,
      salt: Option[Long] = None): Array[(Long, Array[Double])] = {
    val s = trainingSample(emb, k, knownCount, salt)
    val c = lloyd(s, k, dim, maxIters)
    if (c.isEmpty && (s ne emb)) lloyd(emb, k, dim, maxIters) else c
  }

  /** Bounded-sample [[kmeansFit]] with the same lazy fallback,
    * returning the collected (cid, centroid) model artifact — the
    * shared fit path of q45's IVF and [[graft.ops.Extended10]]'s
    * ivfIndex (both previously open-coded this draw/persist/fit/
    * collect sequence). The sample is persisted across the Lloyd
    * rounds and released before returning; the collect is k·d doubles,
    * the model artifact. */
  private[graft] def fitCentroidsSampled(src: DataFrame, k: Int,
      dim: Int, maxIters: Int): Array[(Long, Array[Double])] = Pins.scoped { p =>
    def fit(df: DataFrame) =
      kmeansFit(p, df, k, dim, maxIters)
        .select(col("cid"), col("ce")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val drawn = trainingSample(src, k)
    // persist only an actual draw: when no thinning was needed,
    // `drawn` IS the caller's frame and persisting/unpersisting it
    // here could evict a cache the caller still holds (the r13
    // pqTrain finding); an unthinned input is ≤ 256·k rows by
    // definition, so the per-round rescan it forgoes is tiny
    val thinned = drawn ne src
    val train = if (thinned) p.persist(drawn) else drawn
    val cents = fit(train)
    p.release(train)
    if (cents.isEmpty && thinned) fit(src) else cents
  }

  /** Driver-side twin of [[l2sq]]: the same ascending-index sequential
    * IEEE fold (and [[nearestCentroid]]'s inner loop), so driver-ranked
    * probe decisions agree bit-for-bit with the engine-side column
    * form. Shared by q45's and q199's nProbe-cell selection. */
  private[graft] def l2sqLocal(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    val n = math.min(a.length, b.length)
    while (j < n) { val x = a(j) - b(j); d += x * x; j += 1 }
    d
  }

  /** THE shared inner argmin every quantizer path calls ([[
    * nearestCentroid]], both levels of [[nearestTwoLevel]], the
    * level-2 fit loop — ADVICE r8/r12: one loop, so a tie-rule or
    * length-rule change cannot silently diverge between paths):
    * candidates scanned in the array's (ascending-id) order with a
    * strict improvement test → lower-id tie rule; ascending-index IEEE
    * squared L2 with min-length truncation. Requires cands.nonEmpty. */
  private[graft] def argminLocal(cands: Array[(Long, Array[Double])],
      e: Seq[Double]): (Long, Double) = {
    var bc = cands(0)._1; var bd = Double.MaxValue
    var c = 0
    while (c < cands.length) {
      val ce = cands(c)._2
      var d = 0.0
      var j = 0
      val n = math.min(ce.length, e.length)
      while (j < n) { val x = e(j) - ce(j); d += x * x; j += 1 }
      if (d < bd) { bd = d; bc = cands(c)._1 }
      c += 1
    }
    (bc, bd)
  }

  /** THE in-row nearest-centroid argmin over driver-held centroids —
    * shared by the Lloyd update loop and SemDeDup's full-corpus
    * assignment (ADVICE r8: it was duplicated). Centroids are scanned
    * in ascending-cid order with a strict improvement test, so the tie
    * rule is lower-cid and the metric is the ascending-index IEEE
    * squared-L2 — identical to [[assign]]'s min_by form, which
    * ClusteringSpec pins. Returns (cid, d2); k·d doubles ride the
    * closure, the corpus never shuffles. */
  private[graft] def nearestCentroid(
      cents: Array[(Long, Array[Double])])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val local = cents.sortBy(_._1)
    udf { (e: Seq[Double]) =>
      argminLocal(local, e)
      // asNonNullable: the function is total (never null), and the
      // declaration matters — a NULLABLE join/filter key derived from
      // this UDF makes Catalyst propagate an IsNotNull constraint that
      // pushes below the projection and RE-RUNS the whole argmin (and
      // any cast feeding it) once per row in a pushed filter on top of
      // the project's own evaluation (q45 plan audit, r11: the UDF
      // appeared in BOTH Filter(isnotnull(UDF(..)._1)) and Project)
    }.asNonNullable()
  }

  /** THE flat/two-level regime switch — shared by q187's in-memory
    * assignment (semDedupOnReps) and q208's store build
    * (code review r15: the switch was duplicated and had already
    * diverged on maxIters/knownCount). k ≤ 64 → the bounded flat
    * [[lloydSampled]] fit (maxIters = 6, the SemDeDup posture);
    * beyond → [[lloydTwoLevel]] on the bounded draw (maxIters = 4,
    * the coarse-quantizer posture) with the lazy empty-draw refit. */
  private[graft] def fitQuantizer(repsSel: DataFrame, k: Int, dim: Int,
      knownCount: Option[Long])
      : Either[Array[(Long, Array[Double])], TwoLevelModel] =
    if (k > 64) {
      val sample = trainingSample(repsSel, k, knownCount)
      var m = lloydTwoLevel(sample, k = k, dim = dim, maxIters = 4)
      if (m.top.isEmpty && (sample ne repsSel))
        m = lloydTwoLevel(repsSel, k = k, dim = dim, maxIters = 4)
      Right(m)
    } else
      Left(lloydSampled(repsSel, k, dim, maxIters = 6, knownCount))

  /** A two-level (hierarchical) quantizer: k1 ≈ √k top cells, each
    * holding up to k2 = ⌈k/k1⌉ subcells; a leaf's cell id is
    * tc·k2 + sub (unique by construction). The two-level trade: fit
    * cost O(sample·(k1 + k2)·d) per round and assignment cost
    * O((k1 + k2)·d) per row — √k each, vs k for the flat quantizer —
    * for an APPROXIMATE argmin (a vector near a top-cell boundary can
    * descend the wrong branch; the standard IMI/hierarchical-k-means
    * trade, acceptable wherever cells only bound candidate/pair work:
    * SemDeDup's within-cell pairing, IVF candidate generation). */
  private[graft] case class TwoLevelModel(k2: Int,
      top: Array[(Long, Array[Double])],
      subs: Map[Long, Array[(Long, Array[Double])]])

  /** Fit a [[TwoLevelModel]]: level 1 is the ordinary bounded [[lloyd]]
    * at k1 = ⌈√k⌉; level 2 fits ALL subcells simultaneously — one job
    * per round over the sample, each row's argmin restricted to its
    * OWN top cell's subcentroids (the full nested centroid map rides
    * the closure: k·d doubles, the model artifact). Init per top cell
    * = its k2 lowest-id members (one window job, k collected rows);
    * fixed `maxIters` rounds (a quantizer needs the density shape, not
    * convergence certificates — same posture as SemDeDup's maxIters=6
    * flat fit). Empty input → empty model. */
  private[graft] def lloydTwoLevel(emb: DataFrame, k: Int, dim: Int,
      maxIters: Int): TwoLevelModel = {
    import org.apache.spark.sql.expressions.Window
    val k1 = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, (k + k1 - 1) / k1)
    // the 256-per-centroid rule applies PER LEVEL: the top fit needs
    // 256·k1 vectors, not the caller's 256·k sample — without this
    // re-bound the level-1 Lloyd rounds scan 256·k rows against k1
    // centroids and dominate the whole fit (measured 2M distinct:
    // ~6·(256k)·k1·d of a ~7.5e11-flop budget)
    // salt = Some(1): the caller's sample is usually ALREADY a
    // hash-modulus draw, and the unsalted filter composes as a no-op
    // over it (code-review r12) — the salted re-draw actually thins
    val top = lloydSampled(emb, k1, dim, maxIters, salt = Some(1L))
    if (top.isEmpty) return TwoLevelModel(k2, top, Map.empty)
    Pins.scoped { p =>
      val asgTop = p.persist(emb.select(col("id"), col("e"),
        nearestCentroid(top)(col("e")).getField("_1").as("tc")))
      val w = Window.partitionBy("tc").orderBy("id")
      var subs: Map[Long, Array[(Long, Array[Double])]] =
        asgTop.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k2)
          .select(col("tc"), col("rn"), col("e")).collect()
          .groupBy(_.getLong(0))
          .map { case (tc, rows) =>
            tc -> rows.map(r => ((r.getInt(1) - 1).toLong,
              r.getSeq[Double](2).toArray)).sortBy(_._1)
          }
      val vsum = udaf(new VectorSumAgg(dim))
      var i = 0
      while (i < maxIters) {
        val local = subs
        // every tc value present in asgTop has ≥1 member, so the init
        // window put ≥1 subcentroid under it — local(tc) is total
        val asgSub = udf { (tc: Long, e: Seq[Double]) =>
          argminLocal(local(tc), e)._1
        }.asNonNullable()
        val upd = asgTop
          .select(col("tc"), col("e"),
            asgSub(col("tc"), col("e")).as("sub"))
          .groupBy("tc", "sub").agg(vsum(col("e")).as("sn"))
          .select(col("tc"), col("sub"), col("sn.s").as("s"),
            col("sn.n").as("n"))
          .collect()
        subs = upd.groupBy(_.getLong(0)).map { case (tc, rows) =>
          tc -> rows.map { r =>
            val s = r.getSeq[Double](2); val n = r.getLong(3)
            (r.getLong(1), s.map(_ / n).toArray)
          }.sortBy(_._1)
        }
        i += 1
      }
      TwoLevelModel(k2, top, subs)
    }
  }

  /** Hierarchical twin of [[nearestCentroid]]: top argmin, then sub
    * argmin within the chosen top cell — (k1 + k2)·d work per row.
    * Same strict-improvement/lower-id tie rules at each level. Returns
    * (cid = tc·k2 + sub, d2-to-leaf). */
  private[graft] def nearestTwoLevel(m: TwoLevelModel)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    // belt-and-suspenders: restrict the top argmin to cells the fit
    // actually populated. A top centroid CAN end with zero sample
    // members (its last-round members may all prefer other cells under
    // the final centroid set — the same final-half-step asymmetry the
    // kmeansFit scaladoc documents); a corpus vector descending into
    // such a cell would otherwise hit a missing subs key. Skipping it
    // sends those vectors to the next-nearest POPULATED cell.
    val top = m.top.filter(t => m.subs.contains(t._1)).sortBy(_._1)
    val subs = m.subs
    val k2 = m.k2
    udf { (e: Seq[Double]) =>
      val tc = argminLocal(top, e)._1
      val (bc, bd) = argminLocal(subs(tc), e)
      (tc * k2 + bc, bd)
    }.asNonNullable()
  }

  /** Fit `splitK` subcentroids WITHIN each listed cell of an assigned
    * frame — the recursive-split half of SemDeDup's worst-case
    * cell-population bound (r12 verdict: adaptive k bounds the AVERAGE
    * cell, k-means guarantees no balance). All listed cells are fitted
    * simultaneously, ONE job per Lloyd round, via the same nested-map
    * closure as [[lloydTwoLevel]]'s level 2; training rows come from a
    * PER-CELL bounded hash draw (≤ 256·splitK expected rows per cell,
    * modulus sized from the caller's per-cell counts; `salt` keys the
    * draw so successive recursion rounds never compose as no-ops —
    * the r12 nested-draw lesson). Init per cell = its splitK lowest-id
    * sampled members. Returns cell → subcentroids (subId 0 ≤ … <
    * splitK, ascending; a cell whose draw came up empty — ~e^(-4096)
    * — is simply absent, which callers treat as "leave unsplit and
    * retry next round under a fresh salt").
    *
    * Bounded collects: the init window and each round's update
    * aggregate return ≤ splitK·|cells| rows of d doubles. Callers
    * split only cells > C with C ≥ 4·256, so |cells| ≤ n/C and the
    * payload is ≤ splitK·d·n/C doubles — the same n/256·d audit class
    * as the adaptive-k centroid set itself. */
  private[graft] def fitWithinCells(asg: DataFrame,
      cellCounts: Map[Long, Long], splitK: Int, dim: Int,
      maxIters: Int, salt: Long)
      : Map[Long, Array[(Long, Array[Double])]] = {
    import org.apache.spark.sql.expressions.Window
    if (cellCounts.isEmpty) return Map.empty
    val cells = cellCounts.keys.toSeq.sorted
    val modOf: Map[Long, Long] = cellCounts.map { case (cid, n) =>
      var m = 1L
      while (n / m > 256L * splitK) m <<= 1
      cid -> m
    }
    val modUdf = udf { (cid: Long) => modOf(cid) }.asNonNullable()
    Pins.scoped { p =>
      val sampled = p.persist(asg.filter(col("cid").isin(cells: _*))
        .filter(pmod(xxhash64(col("id"), lit(salt)), modUdf(col("cid")))
          === 0)
        .select(col("cid"), col("id"), col("e")))
      val w = Window.partitionBy("cid").orderBy("id")
      var subs: Map[Long, Array[(Long, Array[Double])]] =
        sampled.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= splitK)
          .select(col("cid"), col("rn"), col("e")).collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.map(r => ((r.getInt(1) - 1).toLong,
              r.getSeq[Double](2).toArray)).sortBy(_._1)
          }
      val vsum = udaf(new VectorSumAgg(dim))
      var i = 0
      while (subs.nonEmpty && i < maxIters) {
        val local = subs
        // a sampled row's cid contributed ≥1 init member unless its
        // whole draw was empty — and an empty-draw cell has no
        // sampled rows either, so local(cid) is total over `sampled`
        val asgSub = udf { (cid: Long, e: Seq[Double]) =>
          argminLocal(local(cid), e)._1
        }.asNonNullable()
        val upd = sampled
          .select(col("cid"), col("e"),
            asgSub(col("cid"), col("e")).as("sub"))
          .groupBy("cid", "sub").agg(vsum(col("e")).as("sn"))
          .select(col("cid"), col("sub"), col("sn.s").as("s"),
            col("sn.n").as("n"))
          .collect()
        subs = upd.groupBy(_.getLong(0)).map { case (cid, rows) =>
          cid -> rows.map { r =>
            val s = r.getSeq[Double](2); val n = r.getLong(3)
            (r.getLong(1), s.map(_ / n).toArray)
          }.sortBy(_._1)
        }
        i += 1
      }
      subs
    }
  }

  /** Nearest-centroid id per vector (tie → lower cid) against a
    * broadcast centroid table (cid, ce). */
  private def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    // d2 is projected ONCE per (vector, centroid) pair and feeds both
    // aggregates — the former inline form evaluated the distance twice
    emb.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"), l2sq(col("e"), col("ce")).as("d2"))
      .groupBy("id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
        min(col("d2")).as("d2"))

  /** Fit k centroids on `emb` (columns: id: long, e: array<double>).
    * Returns one row per surviving centroid: (cid, ce, n).
    *
    * `n` is the cell population under a FINAL assignment against the
    * returned centroids (audit semantics: "how many vectors would each
    * returned cell hold"). `ce` is the mean of the LAST UPDATE round's
    * assignment — at convergence the two assignments coincide, but when
    * the loop exits on maxIters (e.g. q108's maxIters = 6) a vector may
    * have crossed cells in the final half-step, so (ce, n) can be
    * mutually inconsistent by those boundary vectors (ADVICE r3,
    * documented rather than recomputed: folding the count into the
    * update aggregate would report the PREVIOUS round's populations —
    * inconsistent with the returned ce in exactly the same way).
    *
    * The result is checkpointed through `p`, which holds it. */
  def kmeansFit(p: Pins, emb: DataFrame, k: Int, dim: Int, maxIters: Int = 20,
      tol: Double = 1e-6): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // cache the fit input across the Lloyd rounds AND the final
    // population audit (r17, guide §1.2): an unpersisted input was
    // re-scanned — including any caller-side repartition exchange —
    // once per round plus once by the audit. A caller-cached input is
    // used as is; the k-row result is materialized eagerly, so the
    // fit's own cache is released before returning.
    Pins.scoped { own =>
      val cached = own.persist(emb)
      // the count materializes the cache and sizes the per-round
      // partitioning (the argmin is ~k·d flops per row, so the grain is
      // smaller than the relational one)
      val df = cached.coalesce(Layout.parts(cached.count(), Layout.VectorGrain))
      val cents = lloydRounds(df, k, dim, maxIters, tol)
      val centsDf = cents.toSeq.map { case (cid, ce) => (cid, ce.toSeq) }
        .toDF("cid", "ce")
      centsDf.join(assign(df, centsDf).groupBy("cid")
          .agg(count(lit(1)).as("n")), Seq("cid"), "left")
        .select(col("cid"), col("ce"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("cid")
        .pipe(p.checkpoint)
    }
  }

  /** The Lloyd loop of [[kmeansFit]], returning the driver-held
    * centroid array (ascending cid) WITHOUT the final population
    * audit. The audit is a fit-input × k crossJoin — fine at audit-
    * scale k (q108's 8, q45's 16, ivfIndex's 64 over a bounded
    * sample), ruinous when k ∝ n (SemDeDup's adaptive path: sample ≈
    * 256·k rows × k cells = O(k²) expanded HOF rows), which is why
    * that path calls this directly. Centroids are bit-identical to
    * kmeansFit's: same init, same rounds, same tie rules. */
  private[graft] def lloyd(emb0: DataFrame, k: Int, dim: Int,
      maxIters: Int, tol: Double = 1e-6): Array[(Long, Array[Double])] =
    Pins.scoped { p =>
      // cache the rounds' input (kmeansFit enters at lloydRounds, so its
      // coalesced view is never re-cached here; lloyd's callers pass raw
      // frames, which otherwise pay a scan + any upstream exchange PER
      // ROUND), and size the round partitioning to the data (Layout —
      // the r17 per-task-overhead finding)
      val cached = p.persist(emb0)
      lloydRounds(cached.coalesce(Layout.parts(cached.count(), Layout.VectorGrain)),
        k, dim, maxIters, tol)
    }

  private def lloydRounds(emb: DataFrame, k: Int, dim: Int,
      maxIters: Int, tol: Double): Array[(Long, Array[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // centroids live ON THE DRIVER between rounds: k·d doubles (the
    // same audit-scale payload the broadcast carried) — NOT a
    // data-sized collect. Round 3 kept them as a checkpointed
    // DataFrame, which forced assignment to be a 16-way crossJoin
    // expand + a groupBy(id) shuffle + a join back to recover `e`
    // (three data-sized exchanges per round). With local centroids the
    // assignment is one compiled in-row argmin — the corpus is
    // touched ONCE per round, by the k-row update aggregate.
    var cents: Array[(Long, Array[Double])] =
      emb.orderBy("id").limit(k).select("e").collect()
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }
    val vsum = udaf(new VectorSumAgg(dim))
    var prevCost = Double.MaxValue
    var i = 0
    var done = cents.isEmpty
    while (i < maxIters && !done) {
      val assignUdf = nearestCentroid(cents)
      // ONE job per round, and its k-row result IS the next centroid
      // set and the convergence cost — no per-round checkpoint, no
      // second action
      val upd = emb
        .select(col("e"), assignUdf(col("e")).as("a"))
        .groupBy(col("a._1").as("cid"))
        .agg(vsum(col("e")).as("sn"), sum(col("a._2")).as("cellCost"))
        .select(col("cid"), col("sn.s").as("s"), col("sn.n").as("n"),
          col("cellCost"))
        .as[(Long, Seq[Double], Long, Double)]
        .collect()
      if (upd.isEmpty) done = true
      else {
        // cid-ordered sum: collect order is nondeterministic and this
        // IEEE total feeds the convergence comparison
        val byCid = upd.sortBy(_._1)
        val cost = byCid.map(_._4).sum
        cents = byCid
          .map { case (cid, s, n, _) => (cid, s.map(_ / n).toArray) }
        done = prevCost != Double.MaxValue &&
          (prevCost - cost) <= tol * math.max(prevCost, 1e-12)
        prevCost = cost
      }
      i += 1
    }
    cents
  }

  /** q108 — k-means cell audit over the embeddings table: fit 8 cells
    * (Lloyd, deterministic init/ties), emit per-cell size and centroid
    * norm. Rows-only in t2 (an iterative float fixpoint has no
    * practical SQL oracle); ClusteringSpec pins planted-cluster
    * recovery and the Aggregator's partial/final contract.
    */
  def q108Kmeans(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"))
    // 6 rounds converge this k/dim well inside the tol window; the
    // declared query bounds rounds so bench cost stays proportional
    kmeansFit(Pins.forPlan, emb, k = 8, dim = 64, maxIters = 6)
      .select(col("cid"), col("n"),
        round(sqrt(aggregate(col("ce"), lit(0.0),
          (acc, x) => acc + x * x)), 6).as("centroid_norm"))
      .orderBy("cid")
  }

  val declared: Seq[Declared] = Seq(
    Declared("q108_kmeans", q108Kmeans, None)) // k-means fixpoint
}
