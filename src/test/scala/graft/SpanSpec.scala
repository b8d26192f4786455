package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** q202 exact substring (span) dedup — planted-corpus laws plus a
  * driver-side brute-force cross-implementation over a collision-heavy
  * generated corpus. The contract under test (SpanOps scaladoc): a
  * span is duplicated iff its 8-token window occurs ≥ 2× corpus-wide
  * (within- OR cross-document), and ALL occurrences are removed (the
  * released deduplicate-text-datasets behavior).
  *
  * NB the tokenizer is q99's `[^a-z]+` split — digits are separators —
  * so planted tokens here are letter-only (e.g. `aab`, not `aa1`). */
class SpanSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private val L = 8

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] =
    try ops.SpanOps.spanDedup(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    finally spark.catalog.clearCache() // drop the spans persist per call

  /** Ground truth, computed with plain Scala collections on the raw
    * span STRINGS (md5 equality ⇔ string equality for the pin —
    * a digest collision would be a Spark-side bug). */
  private def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    val toks = docs.map { case (id, tx) =>
      id -> tx.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector }
    val spans = toks.flatMap { case (id, t) =>
      (0 to t.length - L).map(i => (id, i, t.slice(i, i + L).mkString(" "))) }
    val counts = spans.groupBy(_._3).map { case (g, o) => g -> o.size }
    toks.map { case (id, t) =>
      val mine = spans.filter(_._1 == id)
      val dup = mine.filter(s => counts(s._3) >= 2)
      val covered = dup.flatMap(s => s._2 until s._2 + L).toSet
      val kept = t.zipWithIndex.collect {
        case (tok, i) if !covered.contains(i) => tok }.mkString(" ")
      id -> (t.length.toLong, dup.size.toLong, covered.size.toLong, kept)
    }.toMap
  }

  // letter-only unique filler: tag + 'a'+i — never collides across tags
  private def filler(tag: String, n: Int) =
    (0 until n).map(i => s"$tag${('a' + i).toChar}").mkString(" ")
  // a 12-token block shared verbatim by planted docs
  private val block = (0 until 12).map(i => s"dup${('a' + i).toChar}").mkString(" ")

  test("planted cross-doc block: all its spans flagged, extent removed") {
    val docs = Seq(
      (1L, filler("aa", 2) + " " + block + " " + filler("bb", 6)),
      (2L, block + " " + filler("cc", 9)),
      (3L, filler("dd", 20)))
    val out = run(docs)
    // a 12-token block holds 12-8+1 = 5 duplicated 8-spans per copy
    assert(out(1L) === (20L, 5L, 12L, filler("aa", 2) + " " + filler("bb", 6)))
    assert(out(2L) === (21L, 5L, 12L, filler("cc", 9)))
    assert(out(3L) === (20L, 0L, 0L, filler("dd", 20)))
  }

  test("within-doc repetition removes BOTH copies (all-occurrence law)") {
    val rep = (0 until 8).map(i => s"rr${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (1L, rep + " " + filler("mid", 4) + " " + rep),
      (2L, filler("zz", 15)))
    val out = run(docs)
    // both 8-token occurrences of `rep` are duplicated → 16 covered
    assert(out(1L) === (20L, 2L, 16L, filler("mid", 4)))
    assert(out(2L)._2 === 0L)
  }

  test("overlapping duplicated spans union their extents (no double count)") {
    // doc 1 carries an 11-token run whose two 8-spans (offsets 0 and 3)
    // are each duplicated elsewhere — covered = 11, not 16
    val b = (0 until 11).map(i => s"ov${('a' + i).toChar}").mkString(" ")
    val left = (0 until 8).map(i => s"ov${('a' + i).toChar}").mkString(" ")
    val right = (3 until 11).map(i => s"ov${('a' + i).toChar}").mkString(" ")
    val docs = Seq(
      (1L, b + " " + filler("pad", 9)),
      (2L, left + " " + filler("qq", 12)),
      (3L, right + " " + filler("ww", 12)))
    val out = run(docs)
    assert(out(1L)._3 === 11L)
    assert(out(1L)._4 === filler("pad", 9))
  }

  test("short docs (< L tokens) emit no spans and keep their text") {
    val docs = Seq((1L, "tiny doc here"), (2L, filler("xx", 9)))
    val out = run(docs)
    assert(out(1L) === (3L, 0L, 0L, "tiny doc here"))
    assert(out(2L) === (9L, 0L, 0L, filler("xx", 9)))
  }

  test("brute-force cross-impl on a collision-heavy generated corpus") {
    // 3-word vocabulary forces genuine duplication; deterministic LCG
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 42L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 40L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val expected = brute(docs)
    val got = run(docs)
    assert(got === expected)
    // sanity: the corpus actually exercised the operator
    assert(expected.values.map(_._2).sum > 20L,
      "generator must plant real duplication")
  }

  private def runIncr(batch: Seq[(Long, String)],
      store: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] =
    try ops.SpanOps.spanDedupVsStore(Pins.forPlan, batch.toDF("doc_id", "text"),
        ops.SpanOps.spanIndex(store.toDF("doc_id", "text")))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    finally spark.catalog.clearCache()

  test("maintenance law: incremental ≡ full-corpus dedup restricted to batch") {
    // the q200 append≡rebuild analog: store_count + batch_count ≥ 2
    // ⇔ store-hit ∨ batch-internal pair, so q203 over (batch | store
    // index) must BIT-EQUAL q202 over store ∪ batch filtered to the
    // batch's documents — checked on the collision-heavy LCG corpus
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 99L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 60L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val batch = docs.filter(_._1 % 7 == 0)
    val store = docs.filterNot(_._1 % 7 == 0)
    val full = run(docs)
    val incr = runIncr(batch, store)
    assert(incr === full.view.filterKeys(_ % 7 == 0).toMap)
    assert(incr.values.map(_._2).sum > 0L, "law must be exercised")
  }

  test("store hits flag batch spans that are unique within the batch") {
    val batch = Seq((7L, block + " " + filler("bb", 6)))   // block once
    val store = Seq(
      (1L, filler("ss", 3) + " " + block),                 // block in store
      (2L, filler("tt", 15)))
    val out = runIncr(batch, store)
    assert(out(7L) === (18L, 5L, 12L, filler("bb", 6)))
    // and WITHOUT the store hit the same batch is untouched
    val alone = runIncr(batch, Seq((2L, filler("tt", 15))))
    assert(alone(7L) === (18L, 0L, 0L, block + " " + filler("bb", 6)))
  }

  private def runKeepFirst(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] =
    try ops.SpanOps.spanDedupKeepFirst(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    finally spark.catalog.clearCache()

  /** Keep-first ground truth: per duplicated span string the occurrence
    * with the minimum (doc_id, position) survives; the rest drop. */
  private def bruteKeepFirst(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    val toks = docs.map { case (id, tx) =>
      id -> tx.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector }
    val spans = toks.flatMap { case (id, t) =>
      (0 to t.length - L).map(i => (id, i, t.slice(i, i + L).mkString(" "))) }
    val counts = spans.groupBy(_._3).map { case (g, o) => g -> o.size }
    val keeper = spans.groupBy(_._3).map { case (g, o) =>
      g -> o.map(s => (s._1, s._2)).min }
    toks.map { case (id, t) =>
      val dropped = spans.filter(s => s._1 == id && counts(s._3) >= 2 &&
        keeper(s._3) != ((s._1, s._2)))
      val covered = dropped.flatMap(s => s._2 until s._2 + L).toSet
      val kept = t.zipWithIndex.collect {
        case (tok, i) if !covered.contains(i) => tok }.mkString(" ")
      id -> (t.length.toLong, dropped.size.toLong, covered.size.toLong, kept)
    }.toMap
  }

  test("keep-first: the corpus-order first occurrence survives, later copies drop") {
    val docs = Seq(
      (1L, filler("aa", 2) + " " + block + " " + filler("bb", 6)),
      (2L, block + " " + filler("cc", 9)),
      (3L, filler("dd", 20)))
    val out = runKeepFirst(docs)
    // doc 1 carries the (doc_id, p)-minimal copy of every block span →
    // untouched; doc 2's copy drops entirely
    assert(out(1L) === (20L, 0L, 0L, docs.head._2))
    assert(out(2L) === (21L, 5L, 12L, filler("cc", 9)))
    assert(out(3L) === (20L, 0L, 0L, filler("dd", 20)))
  }

  test("keep-first cross-impl + partition law vs q202 on the LCG corpus") {
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 42L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 40L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val expected = bruteKeepFirst(docs)
    val got = runKeepFirst(docs)
    assert(got === expected)
    // partition law: q202 drops ALL occurrences, q204 all-but-one —
    // summed over the corpus, q202 dup_spans = q204 dup_spans + one
    // keeper per duplicated span string
    val all = run(docs)
    val toks = docs.map { case (id, tx) =>
      id -> tx.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector }
    val nDupStrings = toks.flatMap { case (_, t) =>
      (0 to t.length - L).map(i => t.slice(i, i + L).mkString(" ")) }
      .groupBy(identity).count(_._2.size >= 2)
    assert(all.values.map(_._2).sum ===
      got.values.map(_._2).sum + nDupStrings)
    assert(nDupStrings > 10, "law must be exercised")
  }

  test("store merge law: two sequential batches ≡ one combined corpus") {
    // the q200 append≡rebuild analogue for the span index: dedup b1 vs
    // store, MERGE b1's digests (spanIndexDelta, cost ∝ batch), dedup
    // b2 vs the merged store — b2's result must bit-equal q202 over
    // store ∪ b1 ∪ b2 restricted to b2 (the digest set of a union is
    // the union of digest sets, so the :149 factorization composes)
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 7L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 60L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val store = docs.filter(_._1 % 3 == 0)
    val b1 = docs.filter(_._1 % 3 == 1)
    val b2 = docs.filter(_._1 % 3 == 2)
    try {
      val idx0 = ops.SpanOps.spanIndex(store.toDF("doc_id", "text"))
        .localCheckpoint(true)
      spark.catalog.clearCache()
      val delta = ops.SpanOps.spanIndexDelta(b1.toDF("doc_id", "text"), idx0)
        .localCheckpoint(true)
      spark.catalog.clearCache()
      // delta is genuinely new-only: disjoint from idx0
      assert(delta.join(idx0, Seq("g"), "left_semi").count() === 0L)
      val merged = idx0.union(delta)
      val out = ops.SpanOps.spanDedupVsStore(Pins.forPlan, b2.toDF("doc_id", "text"), merged)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      spark.catalog.clearCache()
      val full = run(docs)
      assert(out === full.view.filterKeys(_ % 3 == 2).toMap)
      assert(out.values.map(_._2).sum > 0L, "law must be exercised")
    } finally spark.catalog.clearCache()
  }

  private def runKeepFirstIncr(batch: Seq[(Long, String)],
      storeKeyed: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, String)] =
    try ops.SpanOps.spanDedupKeepFirstVsStore(batch.toDF("doc_id", "text"),
        storeKeyed)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    finally spark.catalog.clearCache()

  test("keep-first incremental law: ≡ keep-first over store ∪ batch restricted to batch") {
    // the q203 factorization applied to the q204 policy: the global
    // keeper is min(store key, batch keeper), so the keyed-store probe
    // must bit-equal q204 over the combined corpus filtered to batch
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 99L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 60L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val batch = docs.filter(_._1 % 7 == 0)
    val store = docs.filterNot(_._1 % 7 == 0)
    val incr = runKeepFirstIncr(batch,
      ops.SpanOps.spanIndexKeyed(store.toDF("doc_id", "text")))
    val full = runKeepFirst(docs)
    assert(incr === full.view.filterKeys(_ % 7 == 0).toMap)
    assert(incr.values.map(_._2).sum > 0L, "law must be exercised")
    // and the directional split is exercised both ways: some batch
    // occurrences survive as global keepers, some drop to store keys
    val dropped = incr.values.map(_._2).sum
    val allOcc = runIncr(batch, store).values.map(_._2).sum
    assert(dropped < allOcc,
      "keep-first must drop strictly fewer batch occurrences than drop-all")
  }

  test("keyed store is merge-on-read: versioned appends ≡ compacted ≡ combined") {
    val vocab = Vector("alpha", "beta", "gamma")
    var s = 5L
    def next(m: Int) = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % m) + m) % m }
    val docs = (0L until 60L).map { id =>
      val n = 6 + next(25).toInt
      id -> (0 until n).map(_ => vocab(next(3).toInt)).mkString(" ")
    }
    val store = docs.filter(_._1 % 3 == 0)
    val b1 = docs.filter(_._1 % 3 == 1)
    val b2 = docs.filter(_._1 % 3 == 2)
    try {
      // blind append: store rows ++ b1 rows, colliding digests carry
      // TWO version rows
      val versioned = ops.SpanOps.spanIndexKeyed(store.toDF("doc_id", "text"))
        .union(ops.SpanOps.spanIndexKeyed(b1.toDF("doc_id", "text")))
        .localCheckpoint(true)
      spark.catalog.clearCache()
      assert(versioned.count() >
        versioned.select("g").distinct().count(),
        "the corpus must actually produce version collisions")
      val viaVersioned = runKeepFirstIncr(b2, versioned)
      // compaction to one min-k row per digest changes no probe result
      val viaCompacted = runKeepFirstIncr(b2,
        versioned.groupBy("g").agg(org.apache.spark.sql.functions.min("k").as("k")))
      val viaRebuilt = runKeepFirstIncr(b2,
        ops.SpanOps.spanIndexKeyed((store ++ b1).toDF("doc_id", "text")))
      assert(viaVersioned === viaCompacted)
      assert(viaVersioned === viaRebuilt)
      // and all equal q204 over everything, restricted to b2
      val full = runKeepFirst(docs)
      assert(viaVersioned === full.view.filterKeys(_ % 3 == 2).toMap)
      assert(viaVersioned.values.map(_._2).sum > 0L, "law must be exercised")
    } finally spark.catalog.clearCache()
  }

  test("keep-first incremental: store-first drops the batch copy, batch-first keeps it") {
    // store holds the block with an EARLIER corpus key than the batch
    // → the batch's copy drops entirely
    val batchDoc = Seq((50L, block + " " + filler("bb", 6)))
    val earlier = Seq((1L, filler("ss", 3) + " " + block))
    val outE = runKeepFirstIncr(batchDoc,
      ops.SpanOps.spanIndexKeyed(earlier.toDF("doc_id", "text")))
    assert(outE(50L) === (18L, 5L, 12L, filler("bb", 6)))
    // store key LATER than the batch's → the batch copy is the global
    // keeper and survives untouched
    val later = Seq((90L, filler("ss", 3) + " " + block))
    val outL = runKeepFirstIncr(batchDoc,
      ops.SpanOps.spanIndexKeyed(later.toDF("doc_id", "text")))
    assert(outL(50L) === (18L, 0L, 0L, block + " " + filler("bb", 6)))
  }

  test("declared q202 plan: one uncached text scan, digest cache reused") {
    val df = ops.SpanOps.q202SpanDedup(spark, SparkTest.sfDir)
    try {
      val plan = df.queryExecution.executedPlan
      def walked = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the main tree reads parquet ONCE (the assembly side); every
      // other consumer reads the persisted digest frame — the text
      // column is hashed exactly once, corpus-wide
      val fileScans = walked.collect { case f: FileSourceScanExec => f }
      val cacheScans = walked.collect { case c: InMemoryTableScanExec => c }
      assert(fileScans.length === 1,
        s"expected one uncached text scan, got ${fileScans.length}")
      assert(cacheScans.length === 2,
        s"digest cache must feed dup-count + occurrence join, got ${cacheScans.length}")
      assert(!plan.toString.contains("CartesianProduct"))
      assert(df.count() > 0)
    } finally spark.catalog.clearCache()
  }
}
