package graft

import graft.ops.Extended10
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-8 selection/mixing/noising family (q185–q189).
  * q185/q186/q188/q189 are DuckDB-oracle-checked in t2; the pins here
  * are the LAWS each algorithm guarantees (so a future refactor that
  * stays hash-consistent but breaks the semantics still fails), plus
  * planted-recovery for the no-oracle SemDeDup (q187).
  */
class Extended10Spec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  // ------------------------------------------------------------- q187
  /** Three well-separated cones in 8-dim: cluster c's members are
    * 10·e_c + 3·e_j (pairwise cosine ≈ 0.917 < 0.99 within a cone,
    * ≈ 0 across cones), plus planted EXACT copies (cosine 1). */
  private def planted(dups: Int) = {
    val base = for {
      c <- 0 until 3
      j <- 4 until 8
    } yield {
      val v = Array.fill(8)(0.0)
      v(c) = 10.0; v(j) = 3.0
      v.toSeq
    }
    // interleave so kmeansFit's first-k init sees all three cones
    val ordered = (0 until 4).flatMap(j => (0 until 3).map(c => base(c * 4 + j)))
    val copies = ordered.take(dups)
    (ordered ++ copies).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "e")
  }

  test("q187 semantic dedup drops exactly the planted exact copies") {
    val out = Extended10.semDedupCells(planted(dups = 4), k = 3, dim = 8,
      tau = 0.99).collect()
    assert(out.map(_.getLong(1)).sum == 16, "every vector audited once")
    assert(out.map(_.getLong(2)).sum == 4,
      s"planted 4 exact copies; got ${out.map(_.getLong(2)).sum} drops")
  }

  test("q187 no false positives on well-separated vectors") {
    val out = Extended10.semDedupCells(planted(dups = 0), k = 3, dim = 8,
      tau = 0.99).collect()
    assert(out.map(_.getLong(2)).sum == 0, "nothing to drop")
  }

  test("q187 adaptive path: k sizing law and planted-cone counts") {
    // the sizing law: sf ladder (≤2048 reps) stays at the declared 8;
    // beyond that, cells average ≤256 reps by construction
    assert(Extended10.semDedupK(0) == 8)
    assert(Extended10.semDedupK(2000) == 8, "sf0.1 grid keeps k = 8")
    assert(Extended10.semDedupK(2048) == 8)
    assert(Extended10.semDedupK(2049) == 9)
    assert(Extended10.semDedupK(2000000) == 7813)
    // adaptive entry on the planted cones: same
    // count laws as the explicit-k pins
    val out = Extended10.semDedupAdaptive(planted(dups = 4), dim = 8,
      tau = 0.99).collect()
    assert(out.map(_.getLong(1)).sum == 16, "every vector audited once")
    assert(out.map(_.getLong(2)).sum == 4, "exactly the planted copies drop")
  }

  test("q187 exact-collapse bounds duplicate-heavy corpora at any k") {
    // the r11 incident shape in miniature: heavy exact replication
    // forces every cell to hold >= multiplicity identical members at
    // ANY k — unless the plan collapses duplicates BEFORE pairing.
    // 3 well-separated vectors x 200 exact copies: the collapsed plan
    // sees 3 reps, so pair work is O(3), not O(3 * 200^2 / 2) = 60k
    val base = (0 until 3).map { c =>
      val v = Array.fill(8)(0.0); v(c) = 10.0; v.toSeq
    }
    val rows = for (c <- 0 until 3; i <- 0 until 200)
      yield ((c * 200 + i).toLong, base(c))
    val out = Extended10.semDedupAdaptive(rows.toDF("id", "e"), dim = 8,
      tau = 0.99).collect()
    assert(out.map(_.getLong(1)).sum == 600, "every row audited once")
    assert(out.map(_.getLong(2)).sum == 597,
      "each 200-copy group keeps exactly one member")
    // each component lives in one cell: per-cell drops = members - components
    out.foreach(r => assert(r.getLong(2) < r.getLong(1)))
  }

  test("q187 two-level quantizer path (k > 64) keeps the drop laws") {
    // 64 well-separated anchors (8 super-directions x 8 sub-
    // directions in 16-d: 20*e_sup + 3*e_(8+sub) — cross-anchor cosine
    // far below tau), plus 16 planted EXACT copies. k = 72 forces the
    // two-level branch (k1 ~ 8, k2 ~ 9). The laws that hold under ANY
    // cell partition — exact copies collapse pre-quantizer and always
    // drop; separated vectors never do; every row audited once — must
    // survive the branch-approximate assignment.
    val base = for (sup <- 0 until 8; sub <- 0 until 8) yield {
      val v = Array.fill(16)(0.0)
      v(sup) = 20.0; v(8 + sub) = 3.0
      v.toSeq
    }
    val rows = (base ++ base.take(16)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val out = Extended10.semDedupCells(rows.toDF("id", "e"), k = 72,
      dim = 16, tau = 0.99).collect()
    assert(out.map(_.getLong(1)).sum == 80, "every vector audited once")
    assert(out.map(_.getLong(2)).sum == 16,
      "exactly the planted exact copies drop")
  }

  test("q187 worst-case cell population is bounded (hot-cone split)") {
    // 3000 DISTINCT near-parallel vectors (pairwise cosine ≥ 0.9995 —
    // one τ-connected cone) forced into k = 2 cells: both cells exceed
    // SemDedupMaxCell, so the split guard must fire and recursively
    // bound them. The drop laws hold under ANY partition — within a
    // cell everything stays pairwise ≥ τ, so each bounded cell is one
    // component and Σ drops = n − #cells.
    val rows = (0 until 3000).map { i =>
      (i.toLong, Seq(10.0, 0.0001 * i, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    }
    val out = Extended10.semDedupCells(rows.toDF("id", "e"), k = 2,
      dim = 8, tau = 0.99).collect()
    assert(out.map(_.getLong(1)).sum == 3000, "every vector audited once")
    val maxCell = out.map(_.getLong(1)).max
    assert(maxCell <= Extended10.SemDedupMaxCell,
      s"cell of $maxCell reps escaped the population bound")
    assert(out.length >= 3, "3000 reps can't fit in <3 bounded cells")
    assert(out.map(_.getLong(2)).sum == 3000 - out.length,
      "each bounded cell collapses to exactly one component")
  }

  test("q187 split recursion bounds a cell one split can't") {
    // 64 distinct vectors pre-assigned to ONE cell, maxCell = 8,
    // splitK = 2: each round at most halves a population, so the
    // bound needs ≥3 recursion rounds — exercises the loop, the
    // above-max cid allocation, and the partition property (every id
    // exactly once, only cid rewritten).
    val rows = (0 until 64).map { i =>
      (i.toLong, Seq(i.toDouble, 1.0), 1L, 0L)
    }
    val asg0 = rows.toDF("id", "e", "cnt", "cid").persist()
    try {
      val out = Extended10.boundCellPopulations(asg0, dim = 2,
        maxCell = 8, splitK = 2, maxRounds = 8)
      val got = out.collect()
      if (out ne asg0) out.unpersist()
      assert(got.map(_.getLong(0)).sorted.toSeq == (0L until 64L).toSeq,
        "split must only rewrite cid — every id exactly once")
      val pops = got.groupBy(_.getAs[Long]("cid")).map(_._2.length)
      assert(pops.sum == 64 && pops.max <= 8,
        s"recursive split left a cell of ${pops.max} > 8")
    } finally asg0.unpersist()
  }

  test("q187 over embeddings: every vector in exactly one cell") {
    val out = Extended10.q187SemDedup(spark, SparkTest.sfDir).collect()
    val total = Tables.embeddings(spark, SparkTest.sfDir).count()
    assert(out.map(_.getLong(1)).sum == total)
    assert(out.forall(r => r.getLong(2) >= 0 && r.getLong(2) < r.getLong(1)))
  }

  // ------------------------------------------------------------- q186
  test("q186 ranking is the declared integer key, norm is integer div") {
    val rows = Extended10.q186DsirSelect(spark, SparkTest.sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) / r.getLong(1),
        "norm_score must be score div n_bigrams")
    }
    val key = rows.map(r => (-r.getLong(3), -r.getLong(2), r.getLong(0)))
    assert(key.sameElements(key.sorted), "descending (norm, score), id asc")
  }

  // ------------------------------------------------------------- q185
  test("q185 bucket domain and target-within-raw") {
    val rows = Extended10.q185DsirBuckets(spark, SparkTest.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) < 10000)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= r.getLong(2),
        "target slice counts are a subset of raw counts")
    }
  }

  // ------------------------------------------------------------- q188
  test("q188 allocation replays the waterfill exactly and respects its laws") {
    val rows = Extended10.q188UnimaxMixture(spark, SparkTest.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent reimplementation of the epoch-capped waterfill
    val asc = rows.sortBy { case (lang, cnt, _) => (cnt, lang) }
    var remaining = rows.map(_._2).sum / 2
    val expect = asc.zipWithIndex.map { case ((lang, cnt, _), i) =>
      val a = math.min(3L * cnt, remaining / (asc.length - i))
      remaining -= a
      (lang, a)
    }.toMap
    rows.foreach { case (lang, cnt, alloc) =>
      assert(alloc == expect(lang), s"$lang: $alloc != ${expect(lang)}")
      assert(alloc <= 3L * cnt, "epoch cap")
    }
    assert(rows.map(_._3).sum <= rows.map(_._2).sum / 2, "budget respected")
  }

  // ------------------------------------------------------------- q190
  test("q190 BM25: dense ranks, monotone scores, positive term overlap") {
    val rows = Extended10.q190Bm25(spark, SparkTest.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.keySet.forall(_ < 50),
      "queries are the five lowest doc ids")
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to sorted.length),
        s"q$q ranks not dense")
      assert(sorted.sliding(2).forall { p =>
        p.length < 2 || {
          val (a, b) = (p(0), p(1))
          a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
        }
      }, s"q$q not ordered by (score desc, doc_id)")
      assert(rs.forall(_._4 > 0), "every retrieved doc shares a term")
      assert(rs.length <= 10, s"q$q returned more than 10 docs")
      // NOT asserted: self-retrieval at rank 1 — dl-normalization can
      // legitimately rank a shorter doc with the same terms above the
      // query doc (observed live: q0's winner was doc 367)
    }
  }

  test("q190 plan: rank-limit pushdown, broadcast term joins, no cartesian") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val (out, caches) = Extended10.q190Plan(spark, SparkTest.sfDir)
    val plan: SparkPlan = out.queryExecution.sparkPlan
    assert(plan.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "top-10 per query must go through rank-limit pushdown")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      "query-term and df joins must broadcast")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    caches.foreach(_.unpersist())
  }

  // ------------------------------------------------------------- q191
  test("KmvAgg: bottom-k sketch is the exact distinct bottom-k, partition-invariant") {
    import graft.ops.KmvAgg
    val kmv = udaf(new KmvAgg(16))
    // duplicated values across skewed partitions: dedup + truncation
    val vals = (1L to 200L).map(i => (i * 37) % 101) ++ (1L to 50L)
    val expect = vals.distinct.sorted.take(16)
    Seq(1, 3, 13).foreach { p =>
      val got = vals.toDF("h").repartition(p)
        .agg(kmv(col("h"))).head().getSeq[Long](0)
      assert(got == expect, s"partitions=$p: $got")
    }
  }

  test("q191 sketch regime: KMV estimates within 15% on planted 12k vocabularies") {
    import graft.ops.{Extended10, KmvAgg}
    val kmv = udaf(new KmvAgg(2048))
    // two sources, 12k distinct tokens each, 6k shared; hashes drawn
    // through the SAME portable md5 route production uses
    val rows = (0 until 18000).map { i =>
      val srcs = if (i < 6000) Seq("a", "b")
        else if (i < 12000) Seq("a") else Seq("b")
      (srcs, s"tok$i")
    }
    val sk = rows.toDF("srcs", "w")
      .select(explode(col("srcs")).as("source"),
        conv(substring(md5(col("w").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk"))
    val a = sk.filter(col("source") === "a").select(col("sk").as("k1"))
    val b = sk.filter(col("source") === "b").select(col("sk").as("k2"))
    val st = a.crossJoin(b)
      .select(Extended10.kmvPairStats(col("k1"), col("k2")).as("st"))
      .select("st._1", "st._2", "st._3").head()
    val (d1, d2, shared) = (st.getLong(0), st.getLong(1), st.getLong(2))
    assert(math.abs(d1 - 12000) < 1800, s"d1=$d1")
    assert(math.abs(d2 - 12000) < 1800, s"d2=$d2")
    assert(math.abs(shared - 6000) < 900, s"shared=$shared")
  }

  test("q191 over documents: exact regime, symmetric bounds") {
    val rows = graft.ops.Extended10.q191KmvOverlap(spark, SparkTest.sfDir)
      .collect()
    assert(rows.length == 190, "20 sources -> 190 ordered pairs")
    rows.foreach { r =>
      val (d1, d2, sh) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sh >= 0 && sh <= math.min(d1, d2))
    }
  }

  // ------------------------------------------------------------- q192
  test("q192 streaming sketch finishes with exactly the batch answer") {
    import graft.ops.KmvAgg
    val streamed = graft.ops.StreamingOps
      .q192StreamingKmv(spark, SparkTest.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val kmv = udaf(new KmvAgg(2048))
    val batch = Tables.documents(spark, SparkTest.sfDir)
      .select(col("source"),
        explode(filter(split(lower(col("text")), "[^a-z]+"),
          t => t =!= "")).as("w"))
      .select(col("source"),
        conv(substring(md5(col("w").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("source").agg(kmv(col("h")).as("sk"))
      .select(col("source"), size(col("sk")).cast("long").as("d"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch)
  }

  test("q192 streams directory-shaped tables too (the 1000x-probe regression)") {
    // Spark-written tables are DIRECTORIES named documents.parquet; a
    // pathGlobFilter on the parent matches no leaf files there and the
    // stream silently empties — found live at the 1000× probe
    val tmp = java.nio.file.Files.createTempDirectory("graft_dirtab")
    Tables.documents(spark, SparkTest.sfDir).limit(40)
      .write.parquet(s"$tmp/documents.parquet")
    val out = graft.ops.StreamingOps.q192StreamingKmv(spark, tmp.toString)
      .collect()
    assert(out.nonEmpty && out.map(_.getLong(1)).sum > 0,
      "directory-shaped table must stream rows")
  }

  // ------------------------------------------------------------- q189
  test("q189 mask accounting laws and ~15% corpus rate") {
    val rows = Extended10.q189SpanCorruption(spark, SparkTest.sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, m, s) =>
      assert(m <= n, "masked within tokens")
      assert(s <= m, "every span has at least one masked token")
      assert((s == 0) == (m == 0), "spans iff masked")
    }
    val rate = rows.map(_._2).sum.toDouble / rows.map(_._1).sum
    assert(rate > 0.10 && rate < 0.20, s"corpus mask rate $rate not ~15%")
  }
}
